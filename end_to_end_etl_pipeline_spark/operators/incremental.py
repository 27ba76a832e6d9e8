"""Incremental aggregate maintenance (materialized-view upkeep):
keep a grouped sum/count/avg table current by applying a CDC batch
(:meth:`sinks.manifest.ManifestCatalog.diff_versions` shape) instead
of recomputing over the base table.

Why this matters at 100 TB: a daily full `groupBy` over the fact
table costs a full scan + shuffle of everything; the delta update
costs one aggregation over the CHANGES (usually 0.01% of the base)
plus one key-partitioned join against the much smaller aggregate
state. This is textbook incremental view maintenance for
distributive aggregates — inserts add, deletes subtract, updates are
delete+insert (exactly the update_pre/update_post image pair the CDC
feed emits).

Scope: sum / count / avg (avg is derived from maintained sum+count,
never averaged directly). min/max are NOT delta-maintainable under
deletes (the new extreme may be any surviving row), so they are out
of scope here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ADD_TYPES = ("insert", "update_post")
_SUB_TYPES = ("delete", "update_pre")


def grouped_agg_state(
    base: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """The maintained state: per group, ``n`` plus ``sum_<c>`` and
    ``nn_<c>`` (non-null count) for each measure — the decomposable
    pieces every derived stat (avg, ratio-of-sums) is computed from
    at read time. The non-null count is what lets the delta path
    reproduce SQL's sum-over-all-NULLs = NULL exactly: without it,
    deleting a group's last non-null row would leave 0.0 where a
    recompute yields NULL."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in sum_cols:
        aggs += [F.sum(c).alias(f"sum_{c}"), F.count(c).alias(f"nn_{c}")]
    return base.groupBy(*keys).agg(*aggs)


def apply_agg_delta(
    state: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Merge a CDC batch (change type in ``_change_type``) into the
    aggregate state.

    One aggregation over the changes (signed: +row for
    insert/update_post, -row for delete/update_pre), then one
    full-outer join on the group keys; groups whose count reaches 0
    drop out, brand-new groups appear. Null-safe key equality keeps
    NULL-keyed groups mergeable. Both inputs shuffle on the same
    keys, so a pre-partitioned state table joins without re-shuffling
    itself at scale."""
    keys = list(keys)
    sign = (
        F.when(F.col("_change_type").isin(*_ADD_TYPES), F.lit(1))
        .when(F.col("_change_type").isin(*_SUB_TYPES), F.lit(-1))
        .otherwise(F.lit(0))
    )
    d_aggs = [F.sum("__sign").alias("__d_n")]
    for c in sum_cols:
        d_aggs += [
            F.sum(F.col(c) * F.col("__sign")).alias(f"__d_{c}"),
            F.sum(
                F.when(F.col(c).isNotNull(), F.col("__sign")).otherwise(0)
            ).alias(f"__dnn_{c}"),
        ]
    delta = changes.withColumn("__sign", sign).groupBy(*keys).agg(*d_aggs)
    # unique column names on the delta side instead of dataset
    # aliases: state and changes often share lineage (both derive
    # from the same base scan), which trips Spark's ambiguous
    # self-join detection for attribute references
    delta = delta.select(
        *[F.col(k).alias(f"__dk_{k}") for k in keys],
        "__d_n",
        *[c2 for c in sum_cols for c2 in (f"__d_{c}", f"__dnn_{c}")],
    )
    joined = state.join(
        delta,
        [F.col(k).eqNullSafe(F.col(f"__dk_{k}")) for k in keys],
        "full_outer",
    )
    key_cols = [F.coalesce(F.col(k), F.col(f"__dk_{k}")).alias(k) for k in keys]
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__d_n"), F.lit(0))
    out_cols = []
    for c in sum_cols:
        untouched = F.col("__d_n").isNull()  # group absent from the batch
        nn = F.coalesce(F.col(f"nn_{c}"), F.lit(0)) + F.coalesce(
            F.col(f"__dnn_{c}"), F.lit(0)
        )
        # nn == 0 → every surviving measure is NULL → SQL sum is NULL,
        # which the additive path cannot represent (0.0 ≠ NULL)
        merged = F.when(nn == 0, F.lit(None)).otherwise(
            F.coalesce(F.col(f"sum_{c}"), F.lit(0))
            + F.coalesce(F.col(f"__d_{c}"), F.lit(0))
        )
        out_cols.append(
            F.when(untouched, F.col(f"sum_{c}")).otherwise(merged).alias(f"sum_{c}")
        )
        out_cols.append(
            F.when(untouched, F.col(f"nn_{c}")).otherwise(nn).alias(f"nn_{c}")
        )
    return joined.select(*key_cols, n.alias("n"), *out_cols).filter(F.col("n") > 0)

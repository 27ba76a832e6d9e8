"""Deduplication operators.

Reference surface: ``dropDuplicates(["company_number"])``
(``medallion/silver/b2s_company_house.py:70``) — nondeterministic about
which row survives (SURVEY.md §2.11-6). The engine's exact-dedup
operator therefore takes an explicit keep-policy (ordering) and
implements it as ``row_number() == 1``, which is deterministic and
still a single hash-shuffle on the key.

Beyond the reference, the training-data-pipeline dedup family
(BASELINE.json north star): content-hash exact dedup, MinHash+LSH and
n-gram-Jaccard near-dup live in ``operators/text_dedup.py`` (they are
text-specific); embedding near-dup in ``operators/similarity.py``.

Scale notes: every variant here is one shuffle on the dedup key (the
theoretical minimum — duplicates must meet somewhere). A dedup that
feeds an SCD2 merge on the same keys runs inside the merge's own
shuffle instead (``operators/scd.scd2_next_state`` takes the
keep-policy; :func:`keep_first` is the one reduction both use), so it
costs no shuffle of its own. No collects, no driver loops. For skewed
keys enable AQE skew handling (session default) or salt upstream.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
    aggs: Mapping[str, str] | None = None,
) -> DataFrame:
    """P7 (fixed) — one row per key, deterministic keep-policy.

    ``order_by`` decides which duplicate survives (first under the
    ordering). Without it, falls back to Spark's ``dropDuplicates``
    (reference-faithful nondeterminism, cheaper: partial agg map-side).

    ``aggs`` (name → SQL aggregate over all the key's rows) rides the
    same shuffle: the window is followed by one ``groupBy(keys)``
    keeping the spine row as ``min_by(struct(non-key cols), rank)``,
    which reads the window's partitioning (no exchange, no join) and
    keeps any ASC/DESC mix. Columns: keys, spine, aggregates. Unlike a
    left-joined feature aggregate, a NULL-key group gets its real
    aggregates. ``aggs`` needs ``order_by`` (else ``ValueError``).
    """
    if order_by is None:
        if aggs:
            raise ValueError("dedup_by_key: aggs need an order_by keep-policy")
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    ranked = df.withColumn("__rn", F.row_number().over(w))
    if not aggs:
        return ranked.filter(F.col("__rn") == 1).drop("__rn")
    spine = [c for c in df.columns if c not in keys]
    won = ranked.groupBy(*keys).agg(*keep_first(spine, aggs))
    return won.select(*keys, *[F.col(f"__row.{c}").alias(c) for c in spine], *aggs)


def keep_first(spine: Sequence[str], aggs: Mapping[str, str] | None) -> list[Column]:
    """The keep-policy as aggregate columns over rows ranked by
    ``__rn``: the first row's ``spine`` as the struct ``__row``, then
    ``aggs``. Shared with ``operators/scd.scd2_next_state``."""
    return [
        F.min_by(F.struct(*spine), F.col("__rn")).alias("__row"),
        *[F.expr(e).alias(name) for name, e in (aggs or {}).items()],
    ]


def dedup_exact_hash(
    df: DataFrame,
    content_cols: Sequence[str],
    id_col: str,
    keep_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Exact content dedup: hash the content columns into
    ``content_hash``, keep the lowest id per hash.

    Plan: ONE shuffle — ``groupBy(hash).agg(min_by(struct(row), id))``.
    Map-side partial aggregation keeps a single surviving row per hash
    per task, so the exchange carries distinct-hash × row-payload (a
    skewed hash with a million copies costs one partial row per map
    task), and no join stage re-reads or re-hashes the source — both
    cheaper than the semi-join-back formulation, which shuffles every
    full row on its left side anyway.

    ``id_col`` must be a unique, NON-NULL row identifier: ``min_by``
    skips NULL ordering keys, so a NULL-id row never wins and an
    all-NULL-id hash group yields no output row.

    ``keep_cols`` limits which columns of the surviving row are
    carried (default: all). The struct inside ``min_by`` references
    every listed column, which BLOCKS Catalyst column pruning — a
    caller that only needs ids must say so here, or the parquet scan
    reads the full schema no matter what it selects afterwards
    (guarded by ``tests/test_plan_quality.py``)."""
    out_cols = list(keep_cols) if keep_cols is not None else list(df.columns)
    if id_col not in out_cols:
        out_cols = [id_col, *out_cols]
    hash_col = "content_hash"
    hashed = df.withColumn(
        hash_col,
        F.md5(F.concat_ws("␟", *[F.coalesce(F.col(c).cast("string"), F.lit("␀")) for c in content_cols])),
    )
    row = F.struct(*[F.col(c) for c in out_cols])
    won = hashed.groupBy(hash_col).agg(F.min_by(row, F.col(id_col)).alias("__row"))
    return won.select(
        *[F.col(f"__row.{c}").alias(c) for c in out_cols], F.col(hash_col)
    )

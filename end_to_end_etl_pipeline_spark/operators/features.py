"""Feature-preparation operators for model-training pipelines.

The reference pipeline ends at gold tables; a training-data platform
also owns the last hop into model features.  First resident:
out-of-fold target encoding — the standard leakage-free way to turn
a high-cardinality categorical into a numeric feature (each fold's
rows are encoded from statistics computed on the OTHER folds only,
so the encoding never sees its own row's target).

Determinism contract (what lets a DuckDB oracle replay values
exactly): all sums run over the EXACT decimal/integer domain —
never floating point, whose result depends on partition summation
order — and conversion to double happens only at the final division,
followed by a 6dp round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def target_encode_oof(
    df: DataFrame,
    category_col: str,
    target_col: str,
    fold_expr: Column,
) -> DataFrame:
    """Smoothed (m = 20) out-of-fold target-mean encoder table.

    Returns one row per OBSERVED (category, fold) pair:
    ``(category_col, fold, te, n_oof)`` where ``te`` is
    the encoding a row of that category in that fold would receive —
    ``(sum_excl + m·prior_excl) / (count_excl + m)`` with all
    ``_excl`` statistics computed from the other folds and
    ``prior_excl`` the global target mean over the other folds
    (categories seen ONLY in this fold fall back to the prior:
    count_excl = 0).  ``fold_expr`` must be deterministic (e.g.
    ``key % n_folds`` — NOT a hash whose value differs between
    engines).

    Scale shape: one groupBy(category, fold) over the fact table —
    the only corpus-scale aggregation — then category- and fold-level
    rollups of that already-tiny frame and broadcast-sized joins.
    The output IS the deployable artifact: persist it and
    broadcast-join rows on (category, fold) at train time; at
    inference (no fold) re-aggregate the folds into a full-data
    encoder the same way.

    ``target_col`` must be exact-typed (decimal/int).  A double
    target would make the per-partition sum order observable; the
    operator refuses it rather than returning engine-dependent
    values."""
    t = df.schema[target_col].dataType.simpleString()
    if t.startswith(("double", "float")):
        raise ValueError(
            f"target_col {target_col} is {t}: floating-point sums are "
            "partition-order-dependent; cast to decimal first"
        )
    base = df.select(
        F.col(category_col),
        fold_expr.alias("fold"),
        F.col(target_col).alias("__y"),
    )
    cf = base.groupBy(category_col, "fold").agg(
        F.sum("__y").alias("s"), F.count(F.lit(1)).alias("c")
    )
    ct = cf.groupBy(category_col).agg(
        F.sum("s").alias("st"), F.sum("c").alias("ctot")
    )
    gf = cf.groupBy("fold").agg(F.sum("s").alias("gs"), F.sum("c").alias("gc"))
    g = cf.agg(F.sum("s").alias("gst"), F.sum("c").alias("gct"))
    enc = (
        cf.join(ct, category_col)
        .join(F.broadcast(gf), "fold")
        .crossJoin(F.broadcast(g))
        .select(
            F.col(category_col),
            F.col("fold"),
            (F.col("st") - F.col("s")).cast("double").alias("s_excl"),
            (F.col("ctot") - F.col("c")).alias("c_excl"),
            (
                (F.col("gst") - F.col("gs")).cast("double")
                / (F.col("gct") - F.col("gc")).cast("double")
            ).alias("prior"),
        )
    )
    m = 20.0
    te = F.when(F.col("c_excl") == 0, F.col("prior")).otherwise(
        (F.col("s_excl") + F.lit(m) * F.col("prior"))
        / (F.col("c_excl").cast("double") + F.lit(m))
    )
    return enc.select(
        F.col(category_col),
        F.col("fold"),
        F.round(te, 6).alias("te"),
        F.col("c_excl").alias("n_oof"),
    )

"""Declarative data-quality rule operators (SURVEY.md §2.3 P4-P6, §7.1-6).

The reference hardcodes two DQ gates: business-key not-null
(``medallion/silver/b2s_yfinance.py:79-81``) and a schema-wide
"every numeric ≥ 0" filter (``…:86-98``). SURVEY.md §2.11-3 flags the
latter as a defect — it silently drops legitimately-negative metrics
(net_income, free_cash_flow). Here the bounds rule is column-scoped
config, not schema-wide.

All rules compile to a single conjunctive Column so Catalyst pushes the
whole predicate into the scan (one pass, no row ever materialized just
to be filtered).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null_rule(keys: Sequence[str]) -> Column:
    """P4 — business-key (possibly composite) not-null enforcement."""
    pred = F.lit(True)
    for k in keys:
        pred = pred & F.col(k).isNotNull()
    return pred


def bounds_rule(bounds: Mapping[str, tuple]) -> Column:
    """P5 (fixed) — column-scoped numeric sanity: NULL passes, else
    ``lo <= try_cast(col as double) <= hi``. ``None`` bound = open."""
    pred = F.lit(True)
    for c, (lo, hi) in bounds.items():
        v = F.col(c).try_cast("double")
        col_ok = F.col(c).isNull()
        rng = F.lit(True)
        if lo is not None:
            rng = rng & (v >= F.lit(lo))
        if hi is not None:
            rng = rng & (v <= F.lit(hi))
        pred = pred & (col_ok | rng)
    return pred


def apply_rules(df: DataFrame, *rules: Column) -> DataFrame:
    """Apply rules as one conjunctive filter (single scan-time predicate)."""
    pred = F.lit(True)
    for r in rules:
        pred = pred & r
    return df.filter(pred)


def profile_columns(df: DataFrame) -> DataFrame:
    """Per-column data profile of every column in ONE aggregation pass:
    (column, n_rows, n_nulls, null_frac, n_distinct) — the schema-
    drift / completeness report a pipeline emits before trusting a new
    landing (the reference hand-checks nulls per silver script; this
    is that check generalized to every column at once).

    Plan: a single global aggregate computes count + per-column null
    sums + per-column exact distinct counts (Catalyst plans the
    multi-distinct via one Expand — still one scan), then a stack()
    unpivots the 1-row result into one row per column. The exchange
    carries ONE row; nothing scales with table size but the scan.
    At 100 TB swap ``countDistinct`` for ``approx_count_distinct``
    (HLL, no Expand multiplication) — identical shape."""
    cols = list(df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', `__nn_{c}`, `__nd_{c}`" for c in cols
    )
    long = one.select(
        F.col("__n"),
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)"
        ),
    )
    return long.select(
        F.col("column"),
        F.col("__n").alias("n_rows"),
        F.col("n_nulls"),
        F.round(F.col("n_nulls") / F.col("__n"), 6).alias("null_frac"),
        F.col("n_distinct"),
    )

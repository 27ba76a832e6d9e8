"""Window / KPI operators (SURVEY.md §2.6 W1 + free extensions §7.1-3).

W1 is the reference's only window use: lag-based QoQ growth per entity
(``medallion/gold/s2g.py:126-134``). The engine generalizes to
rank/row_number/frames since they unlock deterministic dedup and top-k.

Scale notes: a window partitioned by a real key (entity id) scales —
state per key is bounded. Avoid global (unpartitioned) windows; the
top-k helper keeps the per-group heap pattern instead of a global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def lag_growth(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: str,
    value_col: str,
    out_col: str = "growth",
) -> DataFrame:
    """W1 — ``(v - lag(v)) / lag(v)`` per partition ordered by time.

    Division is NULL-guarded with when/otherwise exactly like the
    reference's guarded ratios (``medallion/gold/s2g.py:135-140``).
    """
    w = Window.partitionBy(*partition_by).orderBy(F.col(order_by))
    prev = F.lag(F.col(value_col)).over(w)
    growth = F.when(
        prev.isNotNull() & (prev != 0), (F.col(value_col) - prev) / prev
    ).otherwise(F.lit(None))
    return df.withColumn(out_col, growth)


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k per group via row_number (kept as ``rn``) — Spark plans this as a per-
    partition TopK (WindowGroupLimit) rather than a full sort when the
    filter is on row_number, so it survives wide groups."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    stages: Sequence[str],
) -> DataFrame:
    """Event-sequence funnel: per user, the earliest timestamp of each
    stage that occurs STRICTLY after the previous stage's reached
    timestamp (stage 1 = earliest occurrence outright). Returns one
    row per user: (user, t_<stage>… , funnel_depth).

    Implemented as chained conditional window mins over ONE
    partitioning — ``min(CASE type = s AND ts > t_prev THEN ts END)
    OVER (PARTITION BY user)`` per stage. Each stage's predicate
    reads the previous stage's column (constant within the
    partition), and Spark reuses the single
    ``hashpartitioning(user)`` exchange across all the window
    projections: one shuffle total, O(1) state per user, no per-user
    event arrays — a hot user with millions of events costs the same
    window pass as anyone else.
    """
    w = Window.partitionBy(user_col)
    out = df
    prev: Column | None = None
    tcols = []
    for s in stages:
        cond = F.col(type_col) == s
        if prev is not None:
            cond = cond & (F.col(ts_col) > prev)
        tc = f"t_{s}"
        out = out.withColumn(tc, F.min(F.when(cond, F.col(ts_col))).over(w))
        prev = F.col(tc)
        tcols.append(tc)
    depth = F.lit(0)
    for i, tc in enumerate(tcols):
        depth = F.when(F.col(tc).isNotNull(), i + 1).otherwise(depth)
    # every t_<stage> is partition-constant; max() is just a
    # deterministic "pick the value" after the rollup to one row/user
    return (
        out.groupBy(user_col)
        .agg(
            *[F.max(tc).alias(tc) for tc in tcols],
        )
        .withColumn("funnel_depth", depth.cast("int"))
    )

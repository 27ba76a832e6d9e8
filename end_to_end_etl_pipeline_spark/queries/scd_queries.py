"""SCD Type-2 merge under the driver's DuckDB oracle.

The engine's hardest capability (reference
``utils/scd/scd.py:64-110``, ``medallion/silver/b2s_yfinance.py:114-186``)
re-expressed as a *pure* deterministic query: two source batches are
derived from ``orders`` at fixed one-year windows, chained through
:func:`scd2_next_state`, and the full versioned dimension state is
returned. The oracle reconstructs the same state in SQL with explicit
``IS DISTINCT FROM`` change detection — equivalent to the engine's
null-sentinel row-hash comparison whenever the hash is collision-free.

Batch windows (not cumulative snapshots) exercise every merge leg:
keys in both windows (changed → expire + insert), keys only in the
first (absent from source → stay current), keys only in the second
(new → insert).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.scd import MAX_TS, scd2_next_state
from end_to_end_etl_pipeline_spark.queries.catalog import (
    land_pinned,
    load,
    register,
    scratch_root,
)

_W1 = ("1995-01-01", "1996-01-01")
_W2 = ("1996-01-01", "1997-01-01")
_T1 = f"{_W1[1]} 00:00:00"
_T2 = f"{_W2[1]} 00:00:00"


def _batch(orders: DataFrame, lo: str, hi: str) -> DataFrame:
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count("*").alias("order_cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
    )


_SQL_BATCH = """
  SELECT o_custkey AS custkey, count(*) AS order_cnt,
         round(sum(o_totalprice), 2) AS total_spent
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '{lo} 00:00:00'
    AND o_orderdate <  TIMESTAMP '{hi} 00:00:00'
  GROUP BY 1"""


@register(
    "scd2_transition",
    oracle=f"""
    WITH b1 AS ({_SQL_BATCH.format(lo=_W1[0], hi=_W1[1])}),
    b2 AS ({_SQL_BATCH.format(lo=_W2[0], hi=_W2[1])}),
    changed AS (
      SELECT b1.custkey FROM b1 JOIN b2 USING (custkey)
      WHERE b1.order_cnt IS DISTINCT FROM b2.order_cnt
         OR b1.total_spent IS DISTINCT FROM b2.total_spent
    )
    SELECT b1.custkey, b1.order_cnt, b1.total_spent,
           TIMESTAMP '{_T1}' AS effective_from,
           TIMESTAMP '{_T2}' AS effective_to,
           FALSE AS is_current
    FROM b1 JOIN changed USING (custkey)
    UNION ALL
    SELECT b1.custkey, b1.order_cnt, b1.total_spent,
           TIMESTAMP '{_T1}', TIMESTAMP '{MAX_TS}', TRUE
    FROM b1 ANTI JOIN changed USING (custkey)
    UNION ALL
    SELECT b2.custkey, b2.order_cnt, b2.total_spent,
           TIMESTAMP '{_T2}', TIMESTAMP '{MAX_TS}', TRUE
    FROM b2 LEFT JOIN b1 USING (custkey)
    WHERE b1.custkey IS NULL
       OR b1.order_cnt IS DISTINCT FROM b2.order_cnt
       OR b1.total_spent IS DISTINCT FROM b2.total_spent
    """,
    doc="SCD2 merge (expire + carry + insert in one plan) over two "
    "deterministic order-window batches; full versioned state returned.",
    tags=("parity", "scd"),
)
def scd2_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    state1 = scd2_next_state(
        None, _batch(orders, *_W1), ["custkey"], ["order_cnt", "total_spent"], _T1
    )
    state2 = scd2_next_state(
        state1, _batch(orders, *_W2), ["custkey"], ["order_cnt", "total_spent"], _T2
    )
    return state2.select(
        "custkey", "order_cnt", "total_spent",
        "effective_from", "effective_to", "is_current",
    )


_SQL_DIM_STATE = f"""
    b1 AS ({_SQL_BATCH.format(lo=_W1[0], hi=_W1[1])}),
    b2 AS ({_SQL_BATCH.format(lo=_W2[0], hi=_W2[1])}),
    changed AS (
      SELECT b1.custkey FROM b1 JOIN b2 USING (custkey)
      WHERE b1.order_cnt IS DISTINCT FROM b2.order_cnt
         OR b1.total_spent IS DISTINCT FROM b2.total_spent
    ),
    dim AS (
      SELECT b1.custkey, b1.order_cnt, b1.total_spent,
             TIMESTAMP '{_T1}' AS effective_from,
             TIMESTAMP '{_T2}' AS effective_to
      FROM b1 JOIN changed USING (custkey)
      UNION ALL
      SELECT b1.custkey, b1.order_cnt, b1.total_spent,
             TIMESTAMP '{_T1}', TIMESTAMP '{MAX_TS}'
      FROM b1 ANTI JOIN changed USING (custkey)
      UNION ALL
      SELECT b2.custkey, b2.order_cnt, b2.total_spent,
             TIMESTAMP '{_T2}', TIMESTAMP '{MAX_TS}'
      FROM b2 LEFT JOIN b1 USING (custkey)
      WHERE b1.custkey IS NULL
         OR b1.order_cnt IS DISTINCT FROM b2.order_cnt
         OR b1.total_spent IS DISTINCT FROM b2.total_spent
    )"""


@register(
    "orders_pit_dimension_join",
    oracle=f"""
    WITH {_SQL_DIM_STATE}
    SELECT o.o_orderkey, o.o_custkey AS custkey,
           o.o_orderdate AS order_date,
           d.order_cnt, d.total_spent,
           d.custkey IS NOT NULL AS matched
    FROM orders o
    LEFT JOIN dim d
      ON d.custkey = o.o_custkey
     AND o.o_orderdate >= d.effective_from
     AND o.o_orderdate <  d.effective_to
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    """,
    doc="Point-in-time (as-was) fact-to-SCD2 join - the query shape "
    "every dimensional warehouse runs and naive joins silently get "
    "wrong: each 1996-1997 order joins the dimension leg whose "
    "validity window covers its order date (equi-join on the "
    "business key + validity-range residual), so facts before the "
    "second load see version-1 attributes and later facts see the "
    "current leg; orders whose customer has no dimension history "
    "keep NULL attributes under the left join (matched=FALSE). "
    "Validity windows per key are few, so the residual filters a "
    "handful of rows per key inside an ordinary keyed join - no "
    "range-bucketing needed (contrast operators/joins.range_join, "
    "which buckets unbounded time bands). Exercises the SCD2 state "
    "as a CONSUMER would, not just its construction.",
    tags=("parity", "scd", "joins"),
)
def orders_pit_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    state1 = scd2_next_state(
        None, _batch(orders, *_W1), ["custkey"], ["order_cnt", "total_spent"], _T1
    )
    dim = scd2_next_state(
        state1, _batch(orders, *_W2), ["custkey"], ["order_cnt", "total_spent"], _T2
    ).select("custkey", "order_cnt", "total_spent", "effective_from", "effective_to")
    facts = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = facts.join(
        dim,
        (facts.o_custkey == dim.custkey)
        & (facts.o_orderdate >= dim.effective_from)
        & (facts.o_orderdate < dim.effective_to),
        "left",
    )
    return joined.select(
        "o_orderkey",
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").alias("order_date"),
        "order_cnt",
        "total_spent",
        dim.custkey.isNotNull().alias("matched"),
    )


_T3 = "1997-07-01 00:00:00"


@register(
    "scd2_member_delete",
    oracle=f"""
    WITH {_SQL_DIM_STATE},
    state AS (
      SELECT custkey, order_cnt, total_spent, effective_from,
             effective_to,
             effective_to = TIMESTAMP '{MAX_TS}' AS is_current
      FROM dim
    )
    SELECT custkey, order_cnt, total_spent, effective_from,
           CASE WHEN is_current AND custkey % 7 = 0
                THEN TIMESTAMP '{_T3}' ELSE effective_to END AS effective_to,
           CASE WHEN is_current AND custkey % 7 = 0
                THEN FALSE ELSE is_current END AS is_current
    FROM state
    """,
    doc="SCD2 logical member deletion (operators/scd."
    "scd2_close_keys) - the DELETE leg of the MERGE the reference's "
    "two-pass pipeline cannot express: after the two-batch "
    "transition, every 7th customer is deleted from the dimension - "
    "their CURRENT row closes at the delete timestamp with NO "
    "replacement version, so point-in-time joins before the delete "
    "still resolve while the member has no current row after. Keys "
    "without a current row are no-ops (idempotent - a replayed "
    "delete feed converges). History rows untouched; one key join.",
    tags=("parity", "scd"),
)
def scd2_member_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.scd import scd2_close_keys

    orders = load(spark, sf_dir, "orders")
    state1 = scd2_next_state(
        None, _batch(orders, *_W1), ["custkey"], ["order_cnt", "total_spent"], _T1
    )
    state2 = scd2_next_state(
        state1, _batch(orders, *_W2), ["custkey"], ["order_cnt", "total_spent"], _T2
    )
    delete_keys = (
        orders.select(F.col("o_custkey").alias("custkey"))
        .filter(F.col("custkey") % 7 == 0)
        .distinct()
    )
    state3 = scd2_close_keys(state2, delete_keys, ["custkey"], _T3)
    return state3.select(
        "custkey", "order_cnt", "total_spent",
        "effective_from", "effective_to", "is_current",
    )


@register(
    "streaming_scd2_dimension",
    oracle=f"""
    WITH b1 AS ({_SQL_BATCH.format(lo=_W1[0], hi=_W1[1])}),
    b2 AS ({_SQL_BATCH.format(lo=_W2[0], hi=_W2[1])}),
    changed AS (
      SELECT b1.custkey FROM b1 JOIN b2 USING (custkey)
      WHERE b1.order_cnt IS DISTINCT FROM b2.order_cnt
         OR b1.total_spent IS DISTINCT FROM b2.total_spent
    )
    SELECT b1.custkey, b1.order_cnt, b1.total_spent,
           TIMESTAMP '{_T1}' AS effective_from,
           TIMESTAMP '{_T2}' AS effective_to,
           FALSE AS is_current
    FROM b1 JOIN changed USING (custkey)
    UNION ALL
    SELECT b1.custkey, b1.order_cnt, b1.total_spent,
           TIMESTAMP '{_T1}', TIMESTAMP '{MAX_TS}', TRUE
    FROM b1 ANTI JOIN changed USING (custkey)
    UNION ALL
    SELECT b2.custkey, b2.order_cnt, b2.total_spent,
           TIMESTAMP '{_T2}', TIMESTAMP '{MAX_TS}', TRUE
    FROM b2 LEFT JOIN b1 USING (custkey)
    WHERE b1.custkey IS NULL
       OR b1.order_cnt IS DISTINCT FROM b2.order_cnt
       OR b1.total_spent IS DISTINCT FROM b2.total_spent
    """,
    doc="Streaming dimension history under the oracle - the "
    "foreachBatch SCD2 bridge (streaming/jobs.foreach_batch_scd2) "
    "fed by a real file-source stream: the two deterministic "
    "order-window batches land as two parquet files whose "
    "modification times are PINNED so the file source replays them "
    "oldest-first one per trigger (trigger availableNow), each "
    "micro-batch SCD2-merges into a catalog table through "
    "SCDEngine.apply_scd2 (the medallion's SCD2 applier), the "
    "effective-from timestamp derives from batch CONTENT "
    "(max of the batch's as-of column), and the final full history "
    "must equal the batch scd2_transition oracle exactly. What the "
    "hash proves: the streaming bridge's batch-boundary handling, "
    "within-batch latest-wins dedup, and per-batch merge produce the "
    "SAME versioned state as the one-plan batch merge - the "
    "replay-convergence contract a CDC feed depends on.",
    tags=("parity", "scd", "streaming", "north-star"),
)
def streaming_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
    from end_to_end_etl_pipeline_spark.streaming.jobs import foreach_batch_scd2

    root = scratch_root("streaming_scd2")

    orders = load(spark, sf_dir, "orders")
    landing = os.path.join(root, "landing")

    def land(batch: DataFrame, as_of: str, mtime: int) -> None:
        # SCD2 is order-sensitive: T1 must replay before T2
        land_pinned(
            batch.withColumn("__as_of", F.lit(as_of).cast("timestamp")),
            landing, mtime,
        )

    land(_batch(orders, *_W1), _T1, 1_000_000)
    land(_batch(orders, *_W2), _T2, 2_000_000)

    schema = (
        _batch(orders, *_W1)
        .withColumn("__as_of", F.lit(_T1).cast("timestamp"))
        .schema
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one window per micro-batch
        .parquet(f"file://{landing}")
    )
    cat = ManifestCatalog(spark, f"file://{root}/lake")
    q = foreach_batch_scd2(
        stream,
        cat,
        "dim.cust",
        keys=["custkey"],
        tracked=["order_cnt", "total_spent"],
        as_of_col="__as_of",
        checkpoint_dir=f"file://{root}/ckpt",
    )
    q.awaitTermination()
    out = cat.read("dim.cust").select(
        "custkey", "order_cnt", "total_spent",
        "effective_from", "effective_to", "is_current",
    )
    return out.localCheckpoint(eager=True)

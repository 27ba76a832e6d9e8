"""Driver-visible medallion flagship: the config-driven bronze →
silver → gold pipeline (``plans/medallion.py``) run end-to-end on the
driver's ``orders`` table, surfacing the reference's gold-fact KPI
semantics (``medallion/gold/s2g.py:126-141``: current snapshot,
lag-window growth, guarded derived ratios) as an oracle-matched query.

Everything is deterministic: fixed ``as_of``, content-only inputs, a
per-sf_dir scratch root wiped before each run. The oracle replays the
exact layer semantics in ANSI SQL — DQ gates, quarterly feature
aggregation, first-load SCD2 (all-insert, all-current), lag growth,
decimal-routed rounding — so a wrong layer anywhere breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from end_to_end_etl_pipeline_spark.queries.catalog import (
    TABLE_SCHEMAS,
    register,
    scratch_root,
)


def _pipeline_config(sf_dir: str) -> dict:
    return {
        "bronze": [
            {
                "table": "bronze.orders",
                "source": {
                    "format": "parquet",
                    "path": f"{sf_dir}/orders.parquet",
                    "schema": TABLE_SCHEMAS["orders"],
                },
                "file_metadata": True,
            }
        ],
        "silver": [
            {
                # DQ gate + quarter derivation (reference b2s cleaning)
                "table": "silver.orders_q",
                "from": "bronze.orders",
                "business_keys": ["o_orderkey", "o_custkey"],
                "bounds": {"o_totalprice": (0, 10_000_000)},
                "derive": {
                    "quarter": "CAST(date_trunc('quarter', o_orderdate) AS DATE)"
                },
            },
            {
                # company_master pattern: deduped spine + its quarterly
                # features in one shuffle (same-table aggregates need
                # no feature join), then SCD2 at a fixed as_of
                "table": "silver.cust_quarter",
                "from": "silver.orders_q",
                "dedup": {
                    "keys": ["o_custkey", "quarter"],
                    "order_by": ["o_orderdate DESC", "o_orderkey ASC"],
                    "aggs": {
                        "total_revenue": "round(sum(o_totalprice), 2)",
                        "n_orders": "count(1)",
                    },
                },
                "scd": {
                    "type": 2,
                    "business_keys": ["o_custkey", "quarter"],
                    "tracked_columns": ["total_revenue", "n_orders"],
                    "as_of": "2026-01-01 00:00:00",
                },
            },
        ],
        "gold": [
            {
                "table": "gold.fact_cust_quarter",
                "from": "silver.cust_quarter",
                "kind": "fact",
                "lag_growth": {
                    "partition_by": ["o_custkey"],
                    "order_by": "quarter",
                    "value_col": "total_revenue",
                    "out_col": "qoq_growth_raw",
                },
                "derive": {
                    "qoq_growth": (
                        "CAST(round(CAST(qoq_growth_raw AS DECIMAL(20,8)), 6)"
                        " AS DOUBLE)"
                    ),
                    "revenue_per_order": (
                        "CAST(round(CAST(total_revenue / n_orders"
                        " AS DECIMAL(20,8)), 2) AS DOUBLE)"
                    ),
                },
            }
        ],
    }


@register(
    "medallion_gold_fact",
    oracle="""
    WITH oq AS (
      SELECT o_custkey,
             CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
             o_totalprice
      FROM orders
      WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
        AND (o_totalprice IS NULL
             OR (o_totalprice >= 0 AND o_totalprice <= 10000000))
    ),
    agg AS (
      SELECT o_custkey, quarter,
             round(sum(o_totalprice), 2) AS total_revenue,
             count(*) AS n_orders
      FROM oq GROUP BY 1, 2
    ),
    g AS (
      SELECT o_custkey, quarter, total_revenue, n_orders,
             lag(total_revenue) OVER (
               PARTITION BY o_custkey ORDER BY quarter) AS prev_rev
      FROM agg
    )
    SELECT o_custkey, quarter, total_revenue, n_orders,
           CASE WHEN prev_rev IS NOT NULL AND prev_rev <> 0
                THEN CAST(round(CAST((total_revenue - prev_rev) / prev_rev
                                     AS DECIMAL(20,8)), 6) AS DOUBLE)
           END AS qoq_growth,
           CAST(round(CAST(total_revenue / n_orders AS DECIMAL(20,8)), 2)
                AS DOUBLE) AS revenue_per_order
    FROM g
    """,
    doc="Medallion e2e flagship (plans/medallion.py): bronze parquet "
    "ingest with audit cols, silver DQ gate + quarter derive + deduped "
    "spine with its per-key aggregates in one shuffle + first-load SCD2 "
    "(fixed as_of), gold fact with current snapshot, lag-window QoQ "
    "growth and guarded derived ratios - the reference's main.py:29-40 "
    "orchestration and s2g.py:126-141 KPI semantics as one "
    "driver-checkable query. Runs "
    "through ManifestCatalog (single-rename manifest commits), i.e. "
    "the object-store-portable publication path, not a test shim.",
    tags=("medallion", "scd", "north-star"),
)
def medallion_gold_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("medallion")
    cat = ManifestCatalog(spark, f"file://{root}")
    pipe = MedallionPipeline(spark, root, catalog=cat)
    pipe.run(_pipeline_config(sf_dir))
    gold = cat.read("gold.fact_cust_quarter")
    out = gold.select(
        "o_custkey",
        "quarter",
        "total_revenue",
        "n_orders",
        "qoq_growth",
        "revenue_per_order",
    )
    # eagerly materialize the (small, post-agg) result so the caller's
    # DataFrame no longer depends on the scratch lake — the next
    # invocation reaps it
    return out.localCheckpoint(eager=True)

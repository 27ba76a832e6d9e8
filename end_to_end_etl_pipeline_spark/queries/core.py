"""Reference-parity queries (SURVEY.md §2) over the driver's TPC-H-ish
tables, each with a DuckDB oracle.

The flagship ``customer_master`` reproduces the shape of the
reference's silver ``company_master`` build
(``medallion/silver/b2s_company_house.py:64-121``): scan → key
enforcement → dedup → per-entity aggregates (count / distinct-count /
max) → left join → derived KPI columns (trim/initcap/when-otherwise/
date arithmetic). The rest cover each §2 operator family on the
driver's tables.


Broadcast-hint policy (100 TB rule): ``F.broadcast`` is applied ONLY
to fixed-cardinality frames — nation (25), region (5), scalar
aggregates, window-capped top-k lists. SF-scaled tables (part,
supplier, customer and anything derived from them) carry no hint:
Spark's size-based planning + AQE still broadcast them at small
scale, but a forced hint would OOM the driver when the same query
runs against a 100 TB warehouse where part alone is hundreds of GB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key
from end_to_end_etl_pipeline_spark.operators.dq import apply_rules, bounds_rule, not_null_rule
from end_to_end_etl_pipeline_spark.operators.joins import equi_join
from end_to_end_etl_pipeline_spark.operators.windows import lag_growth, top_k_per_group
from end_to_end_etl_pipeline_spark.queries.catalog import (
    drain_to_parquet,
    land_pinned,
    load,
    register,
    scratch_root,
)

ANCHOR = "1998-12-01"  # fixed anchor instead of current_date: deterministic

# --- exact-money arithmetic (r09 migration; r10 fast path)
#: The 13 product-sum money queries route their revenue expressions
#: through the helpers below, which compute order-free EXACT money
#: sums (see the determinism rules in queries/catalog.py). A double
#: pipeline can land a cent off at scale (proven at the r09 sf1
#: sweep) and must never ship.
#:
#: r10 FAST PATH (SCALE.md "Exact-money tax" kernels): the r09 form
#: multiplied decimal(12,2) x decimal(3,2) per row and summed the
#: decimal(16,4)/(20,6) products — every multiply on Spark's
#: BigDecimal path and every add against a >18-digit (non-compact)
#: sum buffer: 1.8-2.4x a double sum on agg-dominated queries. The
#: shipped form now computes each product as a scaled LONG (price
#: and rates are exactly 2dp, so price_cents * (100-disc_pct) is the
#: exact product at 1e4 scale — whole-stage-codegen integer math)
#: and sums it as compact decimal(18,0): per-row adds take Spark
#: Decimal's long fast path; the decimal(28,0) buffer absorbs group
#: values past 9.2e18 via its BigDecimal fallback, so there is NO
#: 100-TB overflow cliff (a raw long sum, 1.7x faster still, wraps
#: silently at ~8.4e7 rows x max charge per group — rejected; the
#: k5 two-level long/decimal form forces a second aggregate per
#: query — rejected for plan complexity). Values are identical to
#: the r09 decimal pipeline (kernel-asserted) and the DuckDB oracles
#: keep their decimal form. Measured (SCALE.md r10 study, final):
#: sum_charge kernel 0.35s vs 0.89s (r09 form) vs 0.51s (unsafe
#: long) vs 0.23s (double) warm at sf0.1; fleet-wide 11/13 queries
#: pay <=1.10x vs double (revenue_by_nation 1.72->1.10 abs
#: 1.56->0.99s); the agg-dominated pair (pricing_summary 1.63,
#: promo_revenue_ratio 1.38) sits at the exact-sum floor.


def _cents(col):
    """Exact integer scaling of a 2-decimal money/rate column stored
    as double: x*100 + signum(x)*0.5 in DOUBLE,
    truncated by the long cast (truncation is toward zero, so adding
    half AWAY from zero rounds half-away-from-zero — exact for BOTH
    signs). Exact because a 2dp value v is stored as v(1+e),
    |e|<=2^-53, so the computed v*100 lands within ~3e-9 of the true
    integer N for |v|<=1e5 (within 0.5 up to ~1e13) — nudging by
    sign(x)*0.5 and truncating toward zero recovers N exactly. The
    r10 form (+0.5 unconditionally) was sign-UNSAFE: it floored
    negative values, a latent foot-gun for signed money (refunds,
    net income) flagged by the r10 VERDICT; signum is a pure JVM
    double intrinsic, so the fix stays whole-stage-codegen
    (r11 kernel re-measure: sum_charge unchanged vs the r10 form).
    Pure codegen double ops matter — the r10 kernel study measured
    BOTH earlier scalings paying a per-row BigDecimal op that ate
    most of the fast-sum win: ((x::DECIMAL(12,2))*100)::LONG
    (decimal multiply) and round(x*100, 0) (Spark's double round
    materializes a java.math.BigDecimal per row). sum_charge kernel:
    0.50 s this form vs 0.88 s round-scaling vs 1.00 s r09 decimal
    vs 0.38 s inexact double (warm, sf0.1, same session)."""
    scaled = col * 100
    return (scaled + F.signum(scaled) * F.lit(0.5)).cast("long")


def _rev():
    """Per-row revenue term l_extendedprice*(1-l_discount) — a LONG at
    1e4 scale (exact: 2dp x 2dp has exactly 4dp). Always aggregate
    through :func:`_sum_rev` / :func:`_sum_rev_raw`."""
    return _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))


def _charge():
    """Per-row charge term price*(1-disc)*(1+tax) — LONG at 1e6 scale
    (exact 6dp; <= ~1.1e11 per row at the TPC-H price cap). Aggregate
    with scale=1000000."""
    return _rev() * (100 + _cents(F.col("l_tax")))


def _rev_zero():
    """Typed zero for when/otherwise branches over _rev()/_charge()."""
    return F.lit(0).cast("long")


def _overflow_guard(colname: str):
    """Merge-side guard for the two-level exact-money form: level-1
    ``try_sum`` over the scaled longs returns NULL iff a partition's
    partial overflowed 2^63 (every input term is non-null by
    construction — TPC-H money columns are non-null and the promo
    branch is when/otherwise-closed), so a null partial here means
    the environmental bound the r11 form silently assumed (rows per
    partition x max term < 2^63) was actually violated. Fail loudly
    instead of merging a wrapped sum (r11 ADVICE, medium)."""
    return F.when(F.col(colname).isNotNull(), F.col(colname)).otherwise(
        F.raise_error(
            f"exact-money level-1 partial '{colname}' overflowed long "
            "range — per-partition row count exceeded the scaled-long "
            "safety bound; repartition the input or lower "
            "spark.sql.files.maxPartitionBytes"
        )
    )


def _merge_exact(colname: str, scale: int):
    """Level-2 merge of the two-level exact-money form: the guarded
    long partials summed as decimal(28,0), divided back by ``scale``
    in exact decimal."""
    return F.sum(_overflow_guard(colname).cast("decimal(28,0)")) / scale


def _sum_rev(expr):
    """Order-free exact sum of 1e4-scaled money, rounded to 2dp and
    returned as DOUBLE (the oracle-matched output type): sums the
    scaled-long rows as compact decimal(18,0) — long-fast-path adds,
    overflow-safe to 1e28 via the buffer's BigDecimal fallback — then
    divides the one result row back by 10000 in exact decimal."""
    return F.round(
        (F.sum(expr.cast("decimal(18,0)")) / 10000).cast("decimal(38,6)"),
        2,
    ).cast("double")


def _sum_rev_raw(expr):
    """Unrounded exact sum of 1e4-scaled money as DOUBLE — for ratios
    of sums (divide once, in double, after both sums are exact)."""
    return (F.sum(expr.cast("decimal(18,0)")) / 10000).cast("double")


@register(
    "customer_master",
    oracle=f"""
    WITH orders_agg AS (
      SELECT o_custkey,
             count(*) AS order_count,
             count(DISTINCT o_orderpriority) AS distinct_priorities,
             max(CAST(o_orderdate AS DATE)) AS last_order_date,
             round(sum(o_totalprice), 2) AS total_spend
      FROM orders GROUP BY o_custkey
    ), cust AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY c_name) AS rn
        FROM customer WHERE c_custkey IS NOT NULL
      ) WHERE rn = 1
    )
    SELECT c.c_custkey,
           trim(c.c_name) AS customer_name,
           upper(substr(c.c_mktsegment, 1, 1)) || lower(substr(c.c_mktsegment, 2)) AS mktsegment,
           o.order_count,
           o.distinct_priorities,
           o.last_order_date,
           o.total_spend,
           (o.order_count IS NOT NULL) AS is_active,
           CAST(date_diff('day', o.last_order_date, DATE '{ANCHOR}') AS BIGINT) AS days_since_last_order
    FROM cust c LEFT JOIN orders_agg o ON c.c_custkey = o.o_custkey
    """,
    doc="Flagship: company_master capability rebuild (S3,P1,P4,P6,P7,J1,A1-A3,F5-F9).",
    tags=("parity", "flagship"),
)
def customer_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")

    orders_agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_count"),
        F.countDistinct("o_orderpriority").alias("distinct_priorities"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order_date"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    cust = dedup_by_key(
        apply_rules(customer, not_null_rule(["c_custkey"])),
        keys=["c_custkey"],
        order_by=[F.col("c_name").asc()],
    )
    joined = equi_join(
        cust, orders_agg, on=[cust.c_custkey == orders_agg.o_custkey], how="left"
    )
    return joined.select(
        "c_custkey",
        F.trim("c_name").alias("customer_name"),
        F.initcap(F.lower("c_mktsegment")).alias("mktsegment"),
        "order_count",
        "distinct_priorities",
        "last_order_date",
        "total_spend",
        F.col("order_count").isNotNull().alias("is_active"),
        F.datediff(F.lit(ANCHOR).cast("date"), F.col("last_order_date"))
        .cast("long")
        .alias("days_since_last_order"),
    )


@register(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           -- money sums in EXACT decimal (r09 sf1/skew sweeps: double
           -- sums trip one-cent .xx5 boundaries by summation-order
           -- ulps at 10x rows; price/discount/tax verify as exactly
           -- 2dp, so the decimal pipeline is order-free)
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(3,2)))
                          * (1 + CAST(l_tax AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style grouped aggregation (A-family widened: sum/avg/count).",
    tags=("parity", "bench"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    # TWO-LEVEL exact aggregation (r11, adopted from the measured
    # money-floor study, SCALE.md "Money floor closed"): long partial
    # sums keyed by (group, spark_partition_id()) — map-side complete,
    # the 6M-row work stays on the long fast path; each partial is
    # bounded by rows-per-partition x max-charge (4M x 1.1e11 =
    # 4.4e17 < 9.2e18) at ANY total scale — then the tiny
    # (groups x partitions) partial set merges in exact decimal.
    # Measured vs the r10 one-level decimal(18,0)-sum form: 0.539 vs
    # 0.591 s warm at sf0.1 (tax vs unsafe double 1.45 vs 1.59);
    # values identical (study-asserted). avgs derive from the exact
    # integer sums — the same real number, order-free by construction.
    # Level-1 money sums are try_sum (r12, r11 ADVICE): the long fast
    # path's safety bound (rows-per-partition x max-charge < 2^63) was
    # an ENVIRONMENTAL assumption — a raised maxPartitionBytes or a
    # coalesce breaks it with a silent wrap under non-ANSI sum(long).
    # try_sum keeps the same codegen long adds (Math.addExact) but
    # returns NULL on overflow, and _overflow_guard() below turns that
    # null into a loud error at the merge instead of a wrong answer.
    # Kernel-measured within noise of plain sum (see OPTIMIZATION_r12).
    part = li.groupBy(
        "l_returnflag", "l_linestatus",
        F.spark_partition_id().alias("__pid"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
        F.try_sum(_cents(F.col("l_extendedprice"))).alias("price2"),
        F.try_sum(_rev()).alias("rev4"),
        F.try_sum(_charge()).alias("charge6"),
        F.try_sum(_cents(F.col("l_discount"))).alias("disc2"),
        F.count("*").alias("n"),
    )

    n = F.sum("n")
    return part.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("qty").cast("double"), 2).alias("sum_qty"),
        F.round(_merge_exact("price2", 100).cast("decimal(38,6)"), 2)
        .cast("double").alias("sum_base_price"),
        F.round(_merge_exact("rev4", 10000).cast("decimal(38,6)"), 2)
        .cast("double").alias("sum_disc_price"),
        F.round(_merge_exact("charge6", 1000000).cast("decimal(38,6)"), 2)
        .cast("double").alias("sum_charge"),
        F.round(F.sum("qty") / n, 4).alias("avg_qty"),
        F.round((_merge_exact("price2", 100) / n).cast("double"), 4).alias(
            "avg_price"
        ),
        F.round((_merge_exact("disc2", 100) / n).cast("double"), 6).alias(
            "avg_disc"
        ),
        n.alias("count_order"),
    )


@register(
    "revenue_by_nation",
    oracle="""
    SELECT n.n_name,
           -- EXACT decimal sum (r09 skew-parity check caught the
           -- double sum a cent off on the hot-key lake — longer
           -- per-group chains, higher boundary-trip odds; see
           -- nation_trade_volume for the template)
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS revenue,
           count(DISTINCT c.c_custkey) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY n.n_name
    """,
    doc="Multi-way join star query; nation/region are broadcast dims.",
    tags=("parity", "bench"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # pre-aggregate revenue per order BEFORE the orders join: lineitem
    # averages ~4 rows per order, so the join's big side shrinks 4x,
    # and the join on the same key reuses the aggregation's hash
    # partitioning (exchange reuse — no extra shuffle). Sum of
    # per-order sums == the global sum; addition order was already
    # nondeterministic under parallel aggregation
    rev = li.groupBy("l_orderkey").agg(
        # per-order partial: orders hold <= 7 lineitems (TPC-H
        # construction, preserved by build_scaled copies), so the
        # scaled-long sum is bounded at ~7x1.1e9 at ANY corpus scale
        F.sum(_rev()).alias("__rev")
    )
    joined = (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        _sum_rev(F.col("__rev")).alias("revenue"),
        F.countDistinct("c_custkey").alias("n_customers"),
    )


@register(
    "monthly_segment_growth",
    oracle="""
    WITH m AS (
      SELECT c.c_mktsegment,
             CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, month, revenue,
           round((revenue - lag(revenue) OVER w) / NULLIF(lag(revenue) OVER w, 0), 6)
             AS mom_growth
    FROM m WINDOW w AS (PARTITION BY c_mktsegment ORDER BY month)
    """,
    doc="W1 capability: lag-based growth KPI (gold QoQ growth, s2g.py:126-134).",
    tags=("parity", "bench"),
)
def monthly_segment_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy(
            "c_mktsegment", F.date_trunc("month", "o_orderdate").alias("month")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    grown = lag_growth(
        monthly,
        partition_by=["c_mktsegment"],
        order_by="month",
        value_col="revenue",
        out_col="mom_growth",
    )
    return grown.withColumn("mom_growth", F.round("mom_growth", 6))


@register(
    "latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC) = 1
    """,
    doc="Deterministic dedup-by-key (P7 fixed per SURVEY §2.11-6).",
    tags=("parity",),
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return dedup_by_key(
        orders,
        keys=["o_custkey"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
    ).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "top_events_per_user",
    oracle="""
    SELECT user_id, event_id, event_type, value,
           CAST(row_number() OVER (
             PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS BIGINT) AS rn
    FROM events
    QUALIFY rn <= 3
    """,
    doc="Top-k per group via row_number (WindowGroupLimit, no global sort).",
    tags=("parity",),
)
def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    ranked = top_k_per_group(
        events,
        partition_by=["user_id"],
        order_by=[F.col("value").desc(), F.col("event_id").asc()],
        k=3,
    )
    return ranked.select(
        "user_id", "event_id", "event_type", "value", F.col("rn").cast("long").alias("rn")
    )


@register(
    "doc_word_counts",
    oracle="""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) > 0
    GROUP BY word
    """,
    doc="P8 explode/UNNEST capability over text (lateral-view semantics).",
    tags=("parity",),
)
def doc_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


@register(
    "event_props_stats",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="JSON extraction (from_json/get_json_object family) over events.props.",
    tags=("parity",),
)
def event_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "order_date_features",
    oracle=f"""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '{ANCHOR}') AS BIGINT)
             AS age_days,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_quarter,
           last_day(CAST(o_orderdate AS DATE)) AS month_end
    FROM orders
    """,
    doc="Date-function coverage beyond the reference (datediff/add_months/trunc/last_day).",
    tags=("parity",),
)
def order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.datediff(F.lit(ANCHOR).cast("date"), d).cast("long").alias("age_days"),
        F.add_months(d, 3).alias("plus_quarter"),
        F.last_day(d).alias("month_end"),
    )


@register(
    "dq_orders_clean",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL
      AND (o_totalprice IS NULL OR (o_totalprice >= 0 AND o_totalprice <= 1000000000))
    GROUP BY o_orderstatus
    """,
    doc="Declarative DQ rules (P4 not-null + column-scoped bounds, §2.11-3 fixed).",
    tags=("parity",),
)
def dq_orders_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    clean = apply_rules(
        orders,
        not_null_rule(["o_orderkey", "o_custkey"]),
        bounds_rule({"o_totalprice": (0, 1_000_000_000)}),
    )
    return clean.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "customer_account_tiers",
    oracle="""
    SELECT CASE WHEN c_acctbal < 0 THEN 'debit'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier,
           count(*) AS n_customers,
           round(avg(c_acctbal), 4) AS avg_balance,
           count(DISTINCT c_nationkey) AS n_nations
    FROM customer GROUP BY 1
    """,
    doc="when/otherwise bucketing (F9) + distinct-count (A2).",
    tags=("parity",),
)
def customer_account_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "debit")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
    )
    return (
        customer.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_balance"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
    )


@register(
    "region_rollup",
    oracle="""
    SELECT r.r_name, n.n_name, count(c.c_custkey) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    doc="Rollup/grouping-sets (free Spark extension noted in SURVEY §2.5).",
    tags=("parity",),
)
def region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    joined = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("c_custkey").alias("n_customers")
    )


@register(
    "purchase_last_view_asof",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id AS view_event_id, ts AS view_ts
          FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.event_id, p.ts, v.view_event_id, v.view_ts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.view_ts <= p.ts
    """,
    doc="Backward as-of join (purchase -> latest prior view per user): "
    "union-sort + window carry-forward, one shuffle on the key — no "
    "range explosion (operators/joins.py asof_join; natural extension "
    "SURVEY §2.4 flags for the reference's trading data).",
    tags=("parity", "joins"),
)
def purchase_last_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.joins import asof_join

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("__vts"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    return asof_join(
        purchases,
        views,
        on=["user_id"],
        left_time="ts",
        right_time="__vts",
        right_cols=["view_event_id", "view_ts"],
    )


@register(
    "order_priority_pivot",
    oracle="""
    SELECT o_orderstatus,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent,
           round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS high,
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium,
           round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS not_specified,
           round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS low
    FROM orders GROUP BY o_orderstatus
    """,
    doc="groupBy().pivot() with an explicit value list (no extra "
    "distinct-scan job; SURVEY §2.5 'free in Spark' extension).",
    tags=("parity",),
)
def order_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    renames = {
        "1-URGENT": "urgent", "2-HIGH": "high", "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified", "5-LOW": "low",
    }
    for old, new in renames.items():
        pivoted = pivoted.withColumnRenamed(old, new)
    return pivoted


@register(
    "segment_customer_setops",
    oracle="""
    SELECT c_custkey, 'both' AS src FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    UNION ALL
    SELECT c_custkey, 'building_only' AS src FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    """,
    doc="INTERSECT / EXCEPT set operators (SURVEY §2.7: absent from the "
    "reference, free in Spark).",
    tags=("parity",),
)
def segment_customer_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    both = building.intersect(urgent).withColumn("src", F.lit("both"))
    only = building.exceptAll(urgent).distinct().withColumn(
        "src", F.lit("building_only")
    )
    return both.unionByName(only)


@register(
    "lineitem_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets (SURVEY §2.5 extension; rollup already "
    "covered by region_rollup).",
    tags=("parity",),
)
def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 2).alias("qty")
    )


@register(
    "user_sessions",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w < INTERVAL 4 HOUR THEN 0 ELSE 1 END
               AS new_sess
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS last_event,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    doc="Batch gap sessionization via session_window (events < 4h apart "
    "chain); oracle = islands-and-gaps lag/cumsum. Streaming twin: "
    "streaming/jobs.sessionize.",
    tags=("parity", "sessions"),
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "4 hours"))
        .agg(F.max("ts").alias("last_event"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "last_event",
            "n_events",
        )
    )


@register(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY 1, 3, 4
    QUALIFY row_number() OVER (
      ORDER BY CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) DESC,
               l_orderkey) <= 10
    """,
    doc="TPC-H Q3 shape: selective filters on three tables pushed to "
    "the scans, join, agg, global top-10 via TakeOrderedAndProject "
    "(no full sort).",
    tags=("parity", "bench"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1995-03-15").cast("timestamp")
    customer = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
    )
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        _sum_rev(_rev()).alias(
            "revenue"
        )
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "rolling_segment_revenue",
    oracle="""
    WITH m AS (
      SELECT c.c_mktsegment,
             CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
             round(sum(o.o_totalprice), 2) AS revenue
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT c_mktsegment, month, revenue,
           round(avg(revenue) OVER (
             PARTITION BY c_mktsegment ORDER BY month
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS rolling_3m_avg,
           round(sum(revenue) OVER (
             PARTITION BY c_mktsegment ORDER BY month
             ROWS UNBOUNDED PRECEDING), 2) AS cumulative,
           first_value(revenue) OVER (
             PARTITION BY c_mktsegment ORDER BY month) AS first_month_revenue
    FROM m
    """,
    doc="Explicit window frames (ROWS BETWEEN rolling avg, cumulative "
    "sum, first_value) — frame-spec coverage beyond the reference's "
    "bare lag (SURVEY §2.6).",
    tags=("parity",),
)
def rolling_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    monthly = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", F.date_trunc("month", "o_orderdate").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy("month")
    return monthly.select(
        "c_mktsegment",
        "month",
        "revenue",
        F.round(F.avg("revenue").over(w.rowsBetween(-2, 0)), 4).alias("rolling_3m_avg"),
        F.round(
            F.sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2
        ).alias("cumulative"),
        F.first("revenue").over(w).alias("first_month_revenue"),
    )


@register(
    "part_string_features",
    oracle="""
    SELECT p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           reverse(p_name) AS name_rev,
           translate(p_brand, '#', '-') AS brand_clean,
           repeat(left(p_type, 3), 2) AS type_prefix2,
           CAST(levenshtein(p_name, p_type) AS INT) AS name_type_dist,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INT)
             AS name_words
    FROM part
    """,
    doc="String-function breadth (lpad/reverse/translate/repeat/left/"
    "levenshtein) — zero-coverage category in the reference "
    "(SURVEY §2.8).",
    tags=("parity",),
)
def part_string_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.reverse("p_name").alias("name_rev"),
        F.translate("p_brand", "#", "-").alias("brand_clean"),
        F.repeat(F.expr("left(p_type, 3)"), 2).alias("type_prefix2"),
        F.levenshtein("p_name", "p_type").cast("int").alias("name_type_dist"),
        (F.length("p_name") - F.length(F.replace(F.col("p_name"), F.lit(" "))) + 1)
        .cast("int")
        .alias("name_words"),
    )


@register(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           round(quantile_cont(o_totalprice, 0.90), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact interpolated percentiles (Spark `percentile` == DuckDB "
    "`quantile_cont`) per priority class — the distribution-profiling "
    "aggregate a data-quality dashboard needs. Exact percentiles "
    "sort within each group; at 100 TB swap in `approx_percentile` "
    "(t-digest, one pass, mergeable) and accept the documented error "
    "bound — same query shape.",
    tags=("parity", "profiling"),
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    pct = F.expr(
        "percentile(o_totalprice, array(0.25D, 0.50D, 0.75D, 0.90D, 0.99D))"
    )
    agg = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        pct.alias("__p"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )
    return agg.select(
        "o_orderpriority",
        "n",
        *[
            F.round(F.col("__p")[i], 4).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p90", "p99"])
        ],
        "avg_price",
    )


@register(
    "order_price_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 25000) * 25000 AS DOUBLE) AS bucket_lo,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Fixed-width value histogram (floor-bucket groupBy): the "
    "one-shuffle distribution sketch; bucket count is bounded by the "
    "value range, not the row count, so the agg state stays tiny at "
    "any scale.",
    tags=("parity", "profiling"),
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 25000)
    return (
        orders.groupBy(
            bucket.cast("bigint").alias("bucket"),
            (bucket * 25000).cast("double").alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "purchase_view_window",
    oracle="""
    SELECT p.event_id, p.user_id,
           count(v.event_id) AS n_views_30m,
           max(v.ts) AS last_view_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
     AND v.ts <= p.ts
    GROUP BY 1, 2
    """,
    doc="Bucketed time-range join (operators/joins.range_join): views "
    "in the 30 min before each purchase, per user. The right side "
    "replicates to <= 2 time buckets and the join runs as an "
    "equi-join on (user, bucket) with the range as residual - no "
    "per-key cross join, hot users spread across time buckets.",
    tags=("parity", "joins"),
)
def purchase_view_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.joins import range_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("v_event_id"),
        F.col("ts").alias("v_ts"),
    )
    j = range_join(
        purchases,
        views,
        ["user_id"],
        "ts",
        "v_ts",
        before_seconds=1800,
        how="left",
    )
    return j.groupBy("event_id", "user_id").agg(
        F.count("v_event_id").alias("n_views_30m"),
        F.max("v_ts").alias("last_view_ts"),
    )


@register(
    "user_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click GROUP BY 1
    )
    SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           CAST(CASE WHEN s3.t_purchase IS NOT NULL THEN 3
                     WHEN s2.t_click IS NOT NULL THEN 2
                     WHEN s1.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS INT) AS funnel_depth
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN s1 USING (user_id)
    LEFT JOIN s2 USING (user_id)
    LEFT JOIN s3 USING (user_id)
    """,
    doc="view -> click -> purchase conversion funnel "
    "(operators/windows.funnel_stages): chained conditional window "
    "mins over one hashpartitioning(user) exchange - one shuffle, "
    "O(1) state per user, vs the oracle's 3-pass min-join "
    "formulation.",
    tags=("parity", "windows"),
)
def user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.windows import funnel_stages

    ev = load(spark, sf_dir, "events")
    return funnel_stages(ev, "user_id", "ts", "event_type", ["view", "click", "purchase"])


@register(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    doc="TPC-H Q5 shape: the 6-way join with a same-nation residual "
    "(c_nationkey = s_nationkey) tying the two fact legs. nation and "
    "region broadcast; the date filter pushes to the orders scan; the "
    "region filter prunes nations before the fact join.",
    tags=("parity", "joins"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # region filter prunes nation rows before anything touches a fact
    nations_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(
            supplier,
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nations_in_region), supplier.s_nationkey == F.col("n_nationkey"))
    )
    return joined.groupBy("n_name").agg(
        _sum_rev(_rev()).alias(
            "revenue"
        )
    )


@register(
    "returned_item_revenue",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY 1, 2, 4, 5
    QUALIFY row_number() OVER (
      ORDER BY CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) DESC,
               c_custkey) <= 20
    """,
    doc="TPC-H Q10 shape: returned-lineitem revenue per customer in a "
    "quarter, global top-20 via TakeOrderedAndProject with a "
    "deterministic custkey tie-break. returnflag filter pushes to the "
    "lineitem scan; nation broadcast.",
    tags=("parity", "joins"),
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load(spark, sf_dir, "nation")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
    )
    agg = joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name").agg(
        _sum_rev(_rev()).alias(
            "revenue"
        )
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


@register(
    "lineitem_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (the cube/rollup generalization) with "
    "grouping_id disambiguating aggregated-away NULLs from data NULLs "
    "- one pass, partial-aggregated per set.",
    tags=("parity",),
)
def lineitem_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "qty")
    )


@register(
    "salted_order_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    doc="Skew-hardened fact-to-fact join: lineitem joins orders through "
    "salted_join (8 deterministic salt replicas spread each hot "
    "orderkey over 8 reducers; the orders side is replicated 8x), then "
    "aggregates revenue per priority. The oracle is the PLAIN join - "
    "proving the salting choreography is semantics-preserving, the "
    "property that matters when AQE's skew split isn't available.",
    tags=("parity", "joins", "scale"),
)
def salted_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.joins import salted_join

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    # salt from l_partkey (row-varying within an orderkey): a hot
    # order's line items hash to different salts and genuinely spread
    joined = salted_join(li, orders, ["l_orderkey"], salt_col="l_partkey")
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        _sum_rev(_rev()).alias(
            "revenue"
        ),
    )


@register(
    "nation_trade_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           -- EXACT decimal sum (r09 sf1 sweep: the double sum tripped
           -- a one-cent .xx5 boundary by summation-order ulps at 10x
           -- rows; money columns are exact at these scales, so the
           -- decimal pipeline is order-free on both engines)
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape: bilateral trade volume between two nations by "
    "ship year. Both nation dims broadcast; the cross-pair OR residual "
    "runs after the broadcast joins; the shipdate band pushes to the "
    "lineitem scan so the two fact shuffles see only the 2-year slice.",
    tags=("parity", "joins"),
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    supplier = load(spark, sf_dir, "supplier")
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        _sum_rev(_rev()).alias("revenue")
    )


@register(
    "large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS TIMESTAMP) AS o_orderdate,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2, 3, 4
    """,
    doc="TPC-H Q18 shape: orders whose line quantities sum past a "
    "threshold, re-joined to their lines and customers. The HAVING "
    "pre-aggregation runs FIRST and semi-filters orders before any "
    "wide join - the aggregate-then-join ordering that keeps the "
    "expensive join legs proportional to qualifying orders, not the "
    "full fact table.",
    tags=("parity", "joins"),
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    qualified = orders.join(big, orders.o_orderkey == big.l_orderkey).drop(
        "l_orderkey"
    )
    joined = qualified.join(
        customer, qualified.o_custkey == customer.c_custkey
    ).join(li, F.col("o_orderkey") == li.l_orderkey)
    return joined.groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate").agg(
        F.round(F.sum("l_quantity"), 2).alias("total_qty")
    )


@register(
    "customer_balance_deciles",
    oracle="""
    SELECT c_custkey,
           CAST(ntile(10) OVER w AS INT) AS decile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    doc="Rank-family window breadth: ntile/percent_rank/cume_dist over "
    "a global ordering with a deterministic custkey tie-break. A "
    "single-partition window - fine for a dimension-sized frame; at "
    "fact scale the same call pattern partitions by a bucketing key.",
    tags=("parity", "windows"),
)
def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.orderBy(F.col("c_acctbal").asc(), F.col("c_custkey").asc())
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@register(
    "small_quantity_revenue",
    oracle="""
    SELECT l.l_partkey,
           round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    GROUP BY 1
    """,
    doc="TPC-H Q17 shape THROUGH THE SQL SURFACE: spark.sql with a "
    "correlated scalar subquery over the temp-view catalog. Catalyst "
    "decorrelates it into an aggregate + self-join (no per-row "
    "re-execution); the pruned part side joins hint-free (AQE promotes "
    "it to broadcast while it is small - module broadcast policy). "
    "Exercises the engine's second API: identical semantics whether a "
    "query arrives as DataFrame calls or ANSI SQL.",
    tags=("parity", "joins", "sql-surface"),
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    load(spark, sf_dir, "part").createOrReplaceTempView("v_part")
    # the correlated average runs over the brand-RESTRICTED relation,
    # not all of lineitem: p_brand is a part attribute and the
    # subquery correlates on l_partkey, so every surviving part's
    # average is computed from exactly the same rows — but the
    # decorrelated aggregate Catalyst builds now consumes ~1/25 of
    # lineitem instead of all of it (brand selectivity, holds at any
    # SF). Same filter-below-aggregation move as min_cost_supplier.
    return spark.sql(
        """
        WITH brand_li AS (
          SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
          FROM v_lineitem l
          JOIN v_part p ON p.p_partkey = l.l_partkey
          WHERE p.p_brand = 'Brand#4'
        )
        SELECT l.l_partkey,
               round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
        FROM brand_li l
        WHERE l.l_quantity < (
            SELECT 0.2 * avg(l2.l_quantity) FROM brand_li l2
            WHERE l2.l_partkey = l.l_partkey
          )
        GROUP BY 1
        """
    )


@register(
    "user_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('month', ts)) AS DATE) AS cohort_month
      FROM events GROUP BY 1
    ),
    acts AS (
      SELECT DISTINCT user_id, CAST(date_trunc('month', ts) AS DATE) AS act_month
      FROM events
    )
    SELECT f.cohort_month, a.act_month, count(*) AS n_users
    FROM firsts f JOIN acts a ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    doc="Retention cohort matrix: users bucketed by first-event month, "
    "counted per (cohort, activity month). Both legs aggregate on "
    "user_id first, so the join is between two already-small "
    "per-user frames co-partitioned on the join key - the cohort "
    "triangle costs two user_id shuffles regardless of event volume.",
    tags=("parity", "events"),
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("month", F.col("ts"))).cast("date").alias("cohort_month")
    )
    acts = ev.select(
        "user_id", F.date_trunc("month", F.col("ts")).cast("date").alias("act_month")
    ).distinct()
    return (
        firsts.join(acts, "user_id")
        .groupBy("cohort_month", "act_month")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "priority_shipping_split",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """,
    doc="TPC-H Q12 shape: conditional-sum split of joined lines by "
    "order priority class (CASE folded into the aggregate, one pass). "
    "The shipdate band pushes to the lineitem scan; the join carries "
    "only (orderkey, priority).",
    tags=("parity", "joins"),
)
def priority_shipping_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "promo_revenue_ratio",
    oracle="""
    SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS ship_month,
           -- numerator/denominator in EXACT decimal, ONE double
           -- division at the end (r09 decimal-sum migration)
           round(100.0 * CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                                  THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                                       * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                                  ELSE 0 END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(3,2))))
                        AS DOUBLE), 6) AS promo_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
    doc="TPC-H Q14 shape: promo revenue share per ship month - a "
    "ratio of two conditional sums in ONE aggregate pass (no "
    "self-join, no second scan). part joins hint-free after pruning "
    "to (partkey, type).",
    tags=("parity", "joins"),
)
def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev()
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        _rev_zero()
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    month = F.date_trunc("month", "l_shipdate").cast("date").alias(
        "ship_month"
    )
    # TWO-LEVEL exact aggregation (r11; see pricing_summary): long
    # partial rev sums per (month, join-output partition), decimal
    # merge of the tiny partial set, ONE double division. Measured
    # 0.669 vs 0.794 s warm at sf0.1 (tax 1.23 vs the one-level
    # form's 1.47); values identical (study-asserted).
    # try_sum + merge-side overflow guard: see pricing_summary (r12,
    # r11 ADVICE — the long partials' safety bound is now enforced at
    # runtime, not assumed from partition sizing)
    partial = joined.groupBy(
        month, F.spark_partition_id().alias("__pid")
    ).agg(F.try_sum(promo).alias("promo4"), F.try_sum(rev).alias("rev4"))

    return partial.groupBy("ship_month").agg(
        F.round(
            F.lit(100.0)
            * _merge_exact("promo4", 10000).cast("double")
            / _merge_exact("rev4", 10000).cast("double"),
            6,
        ).alias("promo_pct")
    )


@register(
    "nation_market_share",
    oracle="""
    WITH volumes AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * (1 - CAST(l.l_discount AS DECIMAL(3,2))) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                          THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM volumes GROUP BY 1
    """,
    doc="TPC-H Q8 shape: one nation's market share of ECONOMY-part "
    "revenue sold into AMERICA-region customers, per year. The nation "
    "table joins TWICE under different roles (customer side prunes "
    "via region, supplier side labels the share) - both broadcast, as "
    "are part/supplier after column pruning; the two-year date filter "
    "pushes to the orders scan. The share is a conditional-sum ratio "
    "in ONE aggregate pass.",
    tags=("parity", "joins"),
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    # customer-side nations pruned by region BEFORE touching any fact
    cust_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    part = load(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey"
    )
    vol = _rev()
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(cust_nations), customer.c_nationkey == F.col("cn_key"))
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(supp_nation), supplier.s_nationkey == F.col("sn_key"))
    )
    share_num = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
        _rev_zero()
    )
    return joined.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.round(
            _sum_rev_raw(share_num) / _sum_rev_raw(vol), 6
        ).alias("mkt_share")
    )


@register(
    "product_profit",
    oracle="""
    SELECT sn.n_name AS supp_nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           -- EXACT decimal sum (r09 sf1 sweep caught the double sum a
           -- cent off at 10x rows — see nation_trade_volume)
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(3,2)))
                          - CAST(0.6 AS DECIMAL(2,1))
                            * CAST(p.p_retailprice AS DECIMAL(12,2))
                            * CAST(l.l_quantity AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (no partsupp table in the driver's schema, so "
    "0.6*p_retailprice*l_quantity stands in for ps_supplycost): profit "
    "on red-named parts per supplier nation per year. part prunes via "
    "the LIKE filter then broadcasts; supplier+nation broadcast; the "
    "only shuffle is lineitem->orders and the final agg.",
    tags=("parity", "joins"),
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("supp_nation")
    )
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    # 0.6*retailprice*quantity at 1e4 scale is 60 * retail_cents *
    # qty (quantities are integer-valued by TPC-H construction; the
    # long cast would truncate a fractional feed loudly in parity,
    # not silently)
    profit = _rev() - F.lit(60) * _cents(F.col("p_retailprice")) * F.col(
        "l_quantity"
    ).cast("long")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
    )
    return joined.groupBy(
        "supp_nation", F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(_sum_rev(profit).alias("profit"))


@register(
    "customer_order_distribution",
    oracle="""
    SELECT order_cnt, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS order_cnt
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY 1
    """,
    doc="TPC-H Q13 shape: distribution of per-customer non-urgent "
    "order counts, including zero-order customers. The join predicate "
    "(NOT the where clause) carries the priority filter so customers "
    "with only urgent orders still count as 0. Two aggregations: "
    "per-customer count (shuffle on custkey), then a tiny recount on "
    "the count value.",
    tags=("parity", "joins"),
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )
    return per_cust.groupBy("order_cnt").agg(F.count("*").alias("custdist"))


@register(
    "supplier_part_counts",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#3'
      AND p.p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q16 shape (lineitem stands in for partsupp as the "
    "part-supplier bridge): distinct suppliers per (brand,type,size) "
    "excluding a NOT-IN denylist of negative-balance suppliers. The "
    "denylist compiles to a left-anti join (AQE-sized, not hint-forced); part prunes via "
    "brand/size-set filters then broadcasts.",
    tags=("parity", "joins"),
)
def supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & F.col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    denylist = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(denylist, li.l_suppkey == denylist.s_suppkey, "left_anti")
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "lone_returned_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY 1
    """,
    doc="TPC-H Q21 shape (returnflag stands in for the missing "
    "receipt-vs-commit lateness): per supplier, returned lines on "
    "finished multi-supplier orders where NO other supplier also had "
    "a return - an EXISTS (left-semi) plus a NOT EXISTS (left-anti), "
    "both self-joins on lineitem with an orderkey equi-key and a "
    "suppkey-inequality residual. supplier joins hint-free for naming.",
    tags=("parity", "joins"),
)
def lone_returned_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    ).alias("l3")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    semi = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    anti = semi.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        anti.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "idle_rich_customers",
    oracle="""
    WITH avg_bal AS (
      SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0
    )
    SELECT right(c.c_name, 2) AS name_code,
           count(*) AS numcust,
           round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
    doc="TPC-H Q22 shape: above-average-balance customers with no "
    "order since 2000 (idle), bucketed by a name suffix code. The global average is a "
    "scalar aggregate broadcast back as a 1-row cross join (Spark's "
    "scalar-subquery plan); the NOT EXISTS is a left-anti join on the "
    "orders custkey projection.",
    tags=("parity", "joins", "sql-surface"),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = customer.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("ab")
    )
    rich = customer.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    idle = rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
    return idle.groupBy(F.substring("c_name", -2, 2).alias("name_code")).agg(
        F.count("*").alias("numcust"),
        F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
    )


@register(
    "daily_uniques_hll",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    daily AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau_7d
      FROM daily d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1
    )
    SELECT d.day, d.dau, w.wau_7d,
           TRUE AS dau_ok, TRUE AS wau_ok
    FROM daily d JOIN wau w USING (day)
    """,
    doc="Mergeable-sketch rollup: per-day HyperLogLog sketches of "
    "active users (hll_sketch_agg, Apache DataSketches), then a "
    "trailing-7-day hll_union_agg window for WAU - the partial-"
    "aggregation pattern that makes distinct-counting feasible at "
    "100 TB: sketches merge associatively so daily partials are "
    "computed once and reused by every window that covers them, "
    "instead of re-scanning raw events per window. The sketch binary "
    "is engine-specific, so the oracle-matched output is the exact "
    "counts plus a +/-5%-tolerance boolean on each HLL estimate "
    "(oracle asserts TRUE): a wrong sketch pipeline fails the gate, "
    "while the sketch bytes themselves stay engine-private. The exact "
    "legs (count_distinct + a 7-day range self-join) exist only for "
    "conformance - at 100 TB you ship the estimates alone.",
    tags=("events", "profiling", "north-star"),
)
def daily_uniques_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk"),
        F.count_distinct("user_id").alias("dau"),
    )
    # window over post-agg data: one row per day, single tiny partition
    w = Window.orderBy("day").rowsBetween(-6, 0)
    est = daily.select(
        "day",
        "dau",
        F.hll_sketch_estimate("sk").alias("dau_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("wau_est"),
    )
    # exact trailing-7-day uniques (conformance leg): distinct
    # (day, user) pairs range-joined to the day spine
    du = ev.distinct()
    days = du.select("day").distinct().alias("d")
    wau = (
        days.join(
            du.alias("u"),
            (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").alias("wau_7d"))
    )
    tol = 0.05
    return (
        est.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau_7d",
            (F.abs(F.col("dau_est") - F.col("dau")) <= tol * F.col("dau")).alias(
                "dau_ok"
            ),
            (F.abs(F.col("wau_est") - F.col("wau_7d")) <= tol * F.col("wau_7d")).alias(
                "wau_ok"
            ),
        )
    )


@register(
    "top_revenue_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    doc="TPC-H Q15 shape: the quarter's top supplier(s) by revenue - "
    "the revenue 'view' is computed ONCE and consumed twice (rank "
    "filter + join) via an unpartitioned max window over the ~#supplier "
    "post-agg rows, instead of recomputing the CTE for the scalar "
    "subquery the way the SQL spells it. Ties all surface (no "
    "arbitrary limit), matching the SQL's equality semantics.",
    tags=("parity", "joins", "sql-surface"),
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _sum_rev(_rev()).alias(
            "total_revenue"
        )
    )
    # one pass: window-max over the tiny post-agg frame, then filter —
    # avoids re-aggregating lineitem for the scalar-subquery leg
    best = revenue.withColumn(
        "max_rev", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("max_rev"))
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        F.broadcast(best)
        .join(supplier, best.supplier_no == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "discounted_brand_revenue",
    oracle="""
    SELECT CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
    doc="TPC-H Q19 shape: disjunctive OR-of-ANDs predicate spanning "
    "both join sides. The single-side conjuncts Catalyst can factor "
    "out (p_size >= 1, the brand IN-set, the quantity range hull) "
    "push below the join; the cross-side residual stays in the join "
    "condition - the optimizer-stress shape, one broadcast join + "
    "global agg, no shuffle beyond the final single-row combine.",
    tags=("parity", "joins", "sql-surface"),
)
def discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((brand == "Brand#12") & size.between(1, 15) & q.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & q.between(10, 20))
        | ((brand == "Brand#34") & size.between(1, 35) & q.between(20, 30))
    )
    return (
        li.join(part, (li.l_partkey == part.p_partkey) & pred)
        .agg(
            _sum_rev(_rev()).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@register(
    "price_quantity_regression",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6) AS price_qty_corr,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS price_qty_covar,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           count(*) AS n
    FROM lineitem
    GROUP BY 1
    """,
    doc="Statistical-aggregate family: per-returnflag Pearson "
    "correlation, sample covariance/stddev, and least-squares "
    "regression of price on quantity - all JVM-side declarative "
    "aggregates (corr/covar_samp/stddev_samp/regr_slope/"
    "regr_intercept) with map-side partials, ONE shuffle on a "
    "3-value key. The moment-sketch pattern: each executor emits "
    "(n, Σx, Σy, Σxx, Σyy, Σxy) partials that merge associatively, "
    "so the profile costs one pass at any scale.",
    tags=("parity", "profiling"),
)
def price_quantity_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    x, y = F.col("l_extendedprice"), F.col("l_quantity").cast("double")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(x, y), 6).alias("price_qty_corr"),
        F.round(F.covar_samp(x, y), 4).alias("price_qty_covar"),
        F.round(F.stddev_samp(x), 4).alias("price_stddev"),
        F.round(F.regr_slope(x, y), 4).alias("slope"),
        F.round(F.regr_intercept(x, y), 4).alias("intercept"),
        F.count("*").alias("n"),
    )


@register(
    "priority_order_returns",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1995-07-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1995-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY 1
    """,
    doc="TPC-H Q4 shape (returnflag stands in for the missing "
    "commit-vs-receipt lateness): per-priority count of quarter "
    "orders with at least one returned line. The EXISTS compiles to "
    "a left-semi join - each order counted ONCE however many lines "
    "match, which a plain inner join would get wrong; the date band "
    "pushes to the orders scan, the returnflag filter to lineitem.",
    tags=("parity", "joins", "sql-surface"),
)
def priority_order_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority")
    returned = load(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "forecast_revenue_change",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS potential_revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-aggregate - every predicate "
    "(date band, discount band, quantity cap) is a pushable parquet "
    "filter, so the scan skips row groups via min/max stats and the "
    "plan is filter->partial agg->single-row combine with NO join "
    "and NO wide shuffle. The canonical 'is pushdown working' probe.",
    tags=("parity", "sql-surface"),
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "potential_revenue"
        ),
        F.count("*").alias("n_lines"),
    )


def _pagerank_iter_cte(prev: str, out: str) -> str:
    return f"""
    {out} AS (
      SELECT n.node,
             round((1 - 0.85) / nn.n + 0.85 * coalesce(s.c, 0), 6) AS pr
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (SELECT e.dst, sum(p.pr * e.wn) AS c
                 FROM {prev} p JOIN norm e ON p.node = e.src
                 GROUP BY 1) s
      ON n.node = s.dst
    )"""


@register(
    "nation_pagerank",
    oracle=f"""
    WITH edges AS (
      SELECT cn.n_name AS src, sn.n_name AS dst,
             CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(3,2)))), 2) AS DOUBLE) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey
      WHERE cn.n_name <> sn.n_name
      GROUP BY 1, 2
    ),
    norm AS (
      SELECT src, dst, round(w / sum(w) OVER (PARTITION BY src), 6) AS wn
      FROM edges
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    nn AS (SELECT count(*) AS n FROM nodes),
    pr0 AS (SELECT node, round(1.0 / nn.n, 6) AS pr FROM nodes CROSS JOIN nn),
    {_pagerank_iter_cte("pr0", "pr1")},
    {_pagerank_iter_cte("pr1", "pr2")},
    {_pagerank_iter_cte("pr2", "pr3")}
    SELECT node, pr FROM pr3
    """,
    doc="Iterative algorithm under the full value-hash gate: 3 "
    "power-iteration steps of weighted PageRank over the nation trade "
    "graph (edge = customer-nation -> supplier-nation, weighted by "
    "revenue). Every checkpoint rounds to 6dp so the unrolled-CTE "
    "oracle replays the iterations exactly. The expensive part is the "
    "one-pass edge aggregation (same join tree as revenue_by_nation); "
    "each iteration then shuffles only #nodes rows.",
    tags=("parity", "graph", "north-star"),
)
def nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.graph import pagerank

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    customer = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supplier = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst")
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(cn), customer.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("sn_key"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(
            _sum_rev(_rev()).alias("w")
        )
    )
    return pagerank(edges)


@register(
    "returnflag_metrics_melt",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_discount), 4) AS sum_disc,
             round(sum(l_tax), 4) AS sum_tax
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_disc' AS metric, sum_disc AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_tax' AS metric, sum_tax AS value FROM a
    """,
    doc="Unpivot/melt - the inverse of the pivot surface: wide "
    "per-returnflag aggregates melted to (key, metric, value) rows "
    "via DataFrame.unpivot (Spark's Expand node: each input row "
    "fans to one row per metric map-side, NO extra shuffle - the "
    "UNION-ALL-of-projections the oracle spells, fused into one "
    "operator that scans the agg output once).",
    tags=("parity", "sql-surface"),
)
def returnflag_metrics_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
        F.round(F.sum("l_tax"), 4).alias("sum_tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_disc", "sum_tax"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@register(
    "order_lineitem_reconciliation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, round(sum(l_extendedprice), 2) AS line_total
      FROM lineitem GROUP BY 1
    ), j AS (
      SELECT o.o_orderkey, li.l_orderkey,
             CASE
               WHEN o.o_orderkey IS NULL THEN 'orphan_lines'
               WHEN li.l_orderkey IS NULL THEN 'empty_order'
               WHEN abs(o.o_totalprice - li.line_total) <= 0.01 * o.o_totalprice
                 THEN 'reconciled'
               ELSE 'amount_mismatch'
             END AS status
      FROM orders o FULL OUTER JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT status, count(*) AS n FROM j GROUP BY 1
    """,
    doc="Anti-entropy reconciliation - the audit every warehouse runs "
    "between a header table and its detail rollup: FULL OUTER join of "
    "orders against the per-order lineitem total, classified into "
    "reconciled / amount_mismatch (>1% off) / empty_order / "
    "orphan_lines. One agg shuffle + one join shuffle on the same "
    "key (Catalyst reuses the hash partitioning - the join adds no "
    "third exchange); the classification is a codegen'd projection.",
    tags=("parity", "joins", "dq"),
)
def order_lineitem_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("line_total"))
    )
    j = orders.join(li, orders.o_orderkey == li.l_orderkey, "full_outer")
    status = (
        F.when(F.col("o_orderkey").isNull(), "orphan_lines")
        .when(F.col("l_orderkey").isNull(), "empty_order")
        .when(
            F.abs(F.col("o_totalprice") - F.col("line_total"))
            <= 0.01 * F.col("o_totalprice"),
            "reconciled",
        )
        .otherwise("amount_mismatch")
    )
    return j.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n")
    )


@register(
    "daily_event_gapfill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT t.event_type, CAST(g.day AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                  FROM bounds) g
    )
    SELECT s.event_type, s.day,
           coalesce(d.n, 0) AS n,
           round(avg(coalesce(d.n, 0)) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS trail7
    FROM spine s LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.day = d.day
    """,
    doc="Time-series gap-fill: a dense date spine (global min..max, "
    "one broadcast row, crossed with the distinct event types) "
    "left-joined to daily counts, zero-filled, then a 7-day trailing "
    "average over the FILLED series - the rolling stat is wrong "
    "without the spine because missing days silently shrink the "
    "window. Spine generation is sequence+explode (map-side); the "
    "only real shuffle is the daily agg; the window partitions by "
    "event_type (bounded cardinality).",
    tags=("parity", "events", "windows"),
)
def daily_event_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"),
        )
    )
    filled = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return filled.select(
        "event_type", "day", "n", F.round(F.avg("n").over(w), 4).alias("trail7")
    )


@register(
    "daily_value_forward_fill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(round(CAST(avg(value) AS DECIMAL(20,8)), 4) AS DOUBLE) AS avg_v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT t.event_type, CAST(g.day AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM daily) t
      CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
                  FROM bounds) g
    )
    SELECT s.event_type, s.day,
           last_value(d.avg_v IGNORE NULLS) OVER (
             PARTITION BY s.event_type ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v,
           (d.avg_v IS NULL) AS was_filled
    FROM spine s LEFT JOIN daily d
      ON s.event_type = d.event_type AND s.day = d.day
    """,
    doc="Forward-fill (last observation carried forward) over the "
    "dense date spine: per-type daily mean value, missing days take "
    "the most recent observed value via last(ignorenulls) - the "
    "sensor/price-series companion to zero-fill gap-fill. Days before "
    "a type's first observation stay NULL on both engines. Same "
    "shuffle profile as daily_event_gapfill; the fill is a running "
    "window, one pass.",
    tags=("parity", "events", "windows"),
)
def daily_value_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        # Route the double avg through an 8dp decimal before the 4dp
        # round: double round is HALF_UP on the shortest decimal repr
        # in Spark but binary half-away in DuckDB, so a .xxxx5
        # boundary (hit by real data) rounds differently. Decimal
        # rounding is exact and identical in both engines.
        .agg(
            F.round(F.avg("value").cast("decimal(20,8)"), 4)
            .cast("double")
            .alias("avg_v")
        )
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (
        daily.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("day"),
        )
    )
    joined = spine.join(daily, ["event_type", "day"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "day",
        F.last("avg_v", ignorenulls=True).over(w).alias("filled_v"),
        F.col("avg_v").isNull().alias("was_filled"),
    )


@register(
    "customer_record_linkage",
    oracle="""
    SELECT c1.c_name AS name_a, c2.c_name AS name_b,
           levenshtein(c1.c_name, c2.c_name) AS dist
    FROM customer c1
    JOIN customer c2
      ON substr(c1.c_name, 1, 16) = substr(c2.c_name, 1, 16)
     AND c1.c_name < c2.c_name
    WHERE levenshtein(c1.c_name, c2.c_name) <= 1
    """,
    doc="Entity resolution / record linkage: candidate pairs of "
    "near-identical customer names via BLOCKED edit distance - "
    "self-join on a 16-char blocking prefix (bounded block sizes, "
    "one shuffle on the block key), name_a < name_b to emit each "
    "pair once, then exact levenshtein <= 1 as the in-block verify. "
    "The blocking key is what makes pairwise edit distance feasible "
    "at scale: never all-pairs, same discipline as the LSH dedup "
    "family. (Cross-block near-pairs are missed by design - the "
    "standard blocking recall tradeoff.)",
    tags=("parity", "dedup", "joins"),
)
def customer_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_name")
    a = cust.select(
        F.col("c_name").alias("name_a"),
        F.substring("c_name", 1, 16).alias("block"),
    )
    b = cust.select(
        F.col("c_name").alias("name_b"),
        F.substring("c_name", 1, 16).alias("block"),
    )
    pairs = a.join(b, "block").filter(F.col("name_a") < F.col("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return pairs.filter(dist <= 1).select(
        "name_a", "name_b", dist.alias("dist")
    )


@register(
    "min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(round(CAST(min(l_extendedprice / l_quantity) AS DECIMAL(20,8)), 2)
                  AS DOUBLE) AS cost
      FROM lineitem GROUP BY 1, 2
    ), eligible AS (
      SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, s.s_acctbal, ps.cost
      FROM ps
      JOIN supplier s ON ps.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
      JOIN part p ON ps.l_partkey = p.p_partkey
      WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal, cost AS best_cost
    FROM (SELECT *, min(cost) OVER (PARTITION BY p_partkey) AS mc FROM eligible)
    WHERE cost = mc
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier; the part-supplier "
    "bridge with unit cost is derived from lineitem since the corpus "
    "has no partsupp): per STANDARD small part, the European "
    "supplier(s) achieving the minimum unit cost. The correlated "
    "min-subquery becomes a window MIN over p_partkey on the already "
    "part-partitioned aggregate; nation/region/part broadcast.",
    tags=("parity", "joins", "windows"),
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_name")
    # the selective part predicate lands BELOW the fact aggregation
    # (a join reorder Catalyst cannot derive on its own — the join
    # is above the agg in the naive plan): the (part, supplier) agg
    # then shuffles ~5% of lineitem instead of all of it, and the
    # same ratio holds at any SF because p_type/p_size selectivity is
    # data-, not scale-, dependent. No broadcast hint — the part
    # slice scales with SF; the planner broadcasts while it fits
    eligible_li = li.join(part, li.l_partkey == part.p_partkey)
    ps = eligible_li.groupBy("p_partkey", "p_name", "l_suppkey").agg(
        # decimal-routed: price/qty lands on half-cents (qty=2), where
        # double round diverges between engines (see SKILL.md gotcha)
        F.round(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).cast(
                "decimal(20,8)"
            ),
            2,
        )
        .cast("double")
        .alias("cost")
    )
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # supplier side scales with SF — no broadcast hint; AQE promotes
    # it to broadcast whenever the EUROPE slice is actually small
    eligible = ps.join(supp, ps.l_suppkey == supp.s_suppkey)
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("mc", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("mc"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name", "s_acctbal",
            F.col("cost").alias("best_cost"),
        )
    )


@register(
    "important_part_value",
    oracle="""
    WITH supp_n AS (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ), byp AS (
      SELECT l_partkey, round(sum(l_extendedprice), 2) AS part_value
      FROM lineitem
      WHERE l_suppkey IN (SELECT s_suppkey FROM supp_n)
      GROUP BY 1
    )
    SELECT l_partkey, part_value FROM byp
    WHERE part_value > (SELECT sum(part_value) FROM byp) * 0.001
    """,
    doc="TPC-H Q11 shape (important stock; lineitem extended price "
    "stands in for partsupp value): per part supplied from one "
    "region, total value, kept only when it exceeds a fixed fraction "
    "of the region-wide total. The scalar subquery compiles to a "
    "1-row aggregate crossJoin-broadcast against the grouped values "
    "- the grouped relation is computed once and reused for both "
    "sides (no second scan of lineitem).",
    tags=("parity", "aggregates"),
)
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp_n = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    byp = (
        li.join(supp_n, li.l_suppkey == supp_n.s_suppkey, "left_semi")
        .groupBy("l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("part_value"))
    )
    total = byp.agg(F.sum("part_value").alias("_total"))
    return (
        byp.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("_total") * F.lit(0.001))
        .select("l_partkey", "part_value")
    )


@register(
    "excess_stock_suppliers",
    oracle="""
    WITH pq AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS total_qty,
             sum(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity ELSE 0 END)
               AS yr_qty
      FROM lineitem GROUP BY 1, 2
    )
    SELECT s.s_name, n.n_name, round(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (
      SELECT pq.l_suppkey FROM pq
      JOIN part p ON pq.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'small%' AND pq.yr_qty > 0
        AND pq.total_qty > 2 * pq.yr_qty
    )
    """,
    doc="TPC-H Q20 shape (excess-stock suppliers; availqty derived "
    "from lineitem shipment history): suppliers of 'small *' parts "
    "whose 1997 shipments were under half their all-time volume. The "
    "correlated availqty>threshold subquery collapses into a single "
    "conditional aggregation (two sums, one CASE-filtered) on one "
    "(part,supp) groupBy shuffle, then an AQE-sized part filter and a "
    "left-semi join into supplier - no second lineitem pass.",
    tags=("parity", "joins", "aggregates"),
)
def excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    parts = load(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    # the selective part-name semi-join lands BELOW the per-(part,
    # supplier) aggregation (the agg is keyed by l_partkey, so
    # restricting partkeys first yields the identical groups): the
    # agg shuffles only the qualifying parts' lineitems, a
    # data-dependent ratio that holds at any SF. No broadcast hint —
    # the part slice scales with SF; the planner broadcasts it while
    # it fits and shuffle-joins beyond that
    li = li.join(parts, li.l_partkey == parts.p_partkey, "left_semi")
    pq = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("total_qty"),
        F.sum(
            F.when(F.year("l_shipdate") == 1997, F.col("l_quantity")).otherwise(0.0)
        ).alias("yr_qty"),
    )
    qual = (
        pq.filter((F.col("yr_qty") > 0) & (F.col("total_qty") > 2 * F.col("yr_qty")))
        .select("l_suppkey")
    )
    nation = load(spark, sf_dir, "nation")
    return (
        load(spark, sf_dir, "supplier")
        .join(qual, F.col("s_suppkey") == qual.l_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", "n_name", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


@register(
    "incremental_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    WHERE o_orderkey % 10 = 0
       OR (o_orderkey % 10 <> 0 AND o_orderkey % 13 <> 0)
    GROUP BY 1
    """,
    doc="Incremental view maintenance under the oracle: the grouped "
    "revenue state is built over a v1 slice of orders (orderkey%10<>0), "
    "then a deterministic CDC batch (the %10==0 rows as inserts, the "
    "%13==0 survivors as deletes) is merged via apply_agg_delta - one "
    "change-proportional aggregation plus a state join, never a "
    "rescan of v1. DuckDB aggregates the post-change set directly; "
    "matching proves the delta math (signed images, null-safe group "
    "merge, dying groups dropped) to the cent. Sums round at 2dp on "
    "cent-valued data, where double noise can never cross a rounding "
    "boundary.",
    tags=("parity", "aggregates", "incremental"),
)
def incremental_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.incremental import (
        apply_agg_delta,
        grouped_agg_state,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    v1 = orders.filter(F.col("o_orderkey") % 10 != 0)
    inserts = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "_change_type", F.lit("insert")
    )
    deletes = v1.filter(F.col("o_orderkey") % 13 == 0).withColumn(
        "_change_type", F.lit("delete")
    )
    state = grouped_agg_state(v1, ["o_orderpriority"], ["o_totalprice"])
    updated = apply_agg_delta(
        state, inserts.unionByName(deletes), ["o_orderpriority"], ["o_totalprice"]
    )
    return updated.select(
        "o_orderpriority",
        "n",
        F.round("sum_o_totalprice", 2).alias("sum_total"),
    )


@register(
    "streaming_priority_revenue",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders
    GROUP BY 1
    """,
    doc="Structured Streaming under the oracle - the conformance gate "
    "for the foreachBatch lakehouse bridge (streaming/jobs."
    "foreach_batch_agg_maintenance): orders lands as a 3-file parquet "
    "drop zone, a file-source stream replays it one file per trigger "
    "(trigger availableNow), and each micro-batch merges into a "
    "grouped-sum state table in a scratch ManifestCatalog as an "
    "insert-only CDC delta - change-proportional per trigger (one "
    "batch agg + one groups-sized state join + one atomic commit), "
    "never a rescan of earlier batches, with the applied _batch_id "
    "committed atomically so an at-least-once replay can't double-"
    "count. The final state table must equal DuckDB's one-shot "
    "aggregate over the whole table regardless of how the file "
    "source batched the rows - exactly the invariant that makes a "
    "streaming materialized view trustworthy. Sums round at 2dp on "
    "cent-valued data.",
    tags=("parity", "streaming", "incremental", "north-star"),
)
def streaming_priority_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_agg_maintenance,
    )

    root = scratch_root("streaming_rev")

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    )
    landing = f"file://{root}/landing"
    orders.repartition(3).write.parquet(landing)
    stream = (
        spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(landing)
    )
    cat = ManifestCatalog(spark, f"file://{root}/lake")
    q = foreach_batch_agg_maintenance(
        stream,
        cat,
        "st.rev",
        keys=["o_orderpriority"],
        sum_cols=["o_totalprice"],
        checkpoint_dir=f"file://{root}/ckpt",
    )
    q.awaitTermination()
    out = cat.read("st.rev").select(
        "o_orderpriority",
        "n",
        F.round("sum_o_totalprice", 2).alias("sum_total"),
    )
    return out.localCheckpoint(eager=True)


@register(
    "streaming_late_data_revenue",
    oracle="""
    WITH admitted AS (
      -- batch 2 (the 1993 rows) arrives 2+ years behind the watermark
      -- set by batch 1's 1995 rows and is DROPPED by the contract
      SELECT CAST(o_orderdate AS TIMESTAMP) AS wts, o_totalprice
      FROM orders
      WHERE year(o_orderdate) IN (1995, 1996)
    ),
    wm AS (
      -- final watermark: max admitted event time minus the 719h
      -- lateness budget (NOT a round 30 days: the 1h offset keeps
      -- every midnight-aligned window end strictly off the boundary,
      -- so <= vs < eviction semantics can never matter)
      SELECT max(wts) - INTERVAL 719 HOUR AS final_wm FROM admitted
    )
    SELECT wts AS window_start,
           count(*) AS n,
           round(sum(o_totalprice), 2) AS sum_total
    FROM admitted, wm
    WHERE wts + INTERVAL 24 HOUR <= final_wm
    GROUP BY 1
    """,
    doc="Watermark / late-data contract under the oracle — the "
    "conformance gate for event-time windowed aggregation "
    "(tumbling-window sums under a watermark) fed an OUT-OF-ORDER "
    "file stream: three parquet files with pinned modification "
    "times replay oldest-mtime-first one per trigger — batch 1 = "
    "the 1995 orders, batch 2 = the 1993 orders (now 2+ years "
    "behind the watermark batch 1 established, so every row is "
    "late-dropped), batch 3 = the 1996 orders (on time; advances "
    "the watermark and finalizes every day-window older than the "
    "719h lateness budget). The parquet sink (append mode) holds "
    "exactly the finalized windows; the oracle recomputes the "
    "admitted set and the final-watermark cut in SQL. What the "
    "hash proves: late rows beyond the watermark are dropped (a "
    "1993 window appearing = no drop), on-time rows all count (a "
    "short 1995 window = over-drop), and append mode emits exactly "
    "the windows whose end cleared the final watermark (a December-"
    "1996 window appearing = premature finalization). The 719h "
    "budget is deliberately NOT midnight-aligned so no window end "
    "ever ties the watermark. At 100 TB this is the same plan with "
    "a kafka source: state per (window) is one running sum, evicted "
    "at the watermark — memory tracks the lateness budget, not "
    "stream length.",
    tags=("parity", "streaming", "watermark", "north-star"),
)
def streaming_late_data_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    root = scratch_root("streaming_late")

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("timestamp").alias("wts"), "o_totalprice"
    )
    landing = os.path.join(root, "landing")

    def land(year: int, mtime: int) -> None:
        # the late-drop claim is ORDER-sensitive: the 1993 file must
        # replay after the 1995 one
        land_pinned(orders.filter(F.year("wts") == year), landing, mtime)

    land(1995, 1_000_000)  # batch 1: establishes the watermark
    land(1993, 2_000_000)  # batch 2: every row behind it → dropped
    land(1996, 3_000_000)  # batch 3: advances it, finalizes 1995

    stream = (
        spark.readStream.schema("wts timestamp, o_totalprice double")
        .option("maxFilesPerTrigger", 1)  # one year per micro-batch
        .parquet(f"file://{landing}")
    )
    agg = (
        stream.withWatermark("wts", "719 hours")
        .groupBy(F.window("wts", "24 hours").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        )
        .select(F.col("win.start").alias("window_start"), "n", "sum_total")
    )
    # append: emit each window once, finalized
    return drain_to_parquet(agg, root, "append")


@register(
    "streaming_join_view_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts
      FROM events
      WHERE event_type = 'view'
        AND ((day(ts) <= 20 AND event_id % 3 != 0) OR day(ts) >= 21)
    ),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
      FROM events
      WHERE event_type = 'purchase'
        AND ((day(ts) <= 20 AND event_id % 3 != 0) OR day(ts) >= 21)
    )
    SELECT v.user_id, v.view_id, v.view_ts,
           p.purchase_id, p.purchase_ts, p.value
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.purchase_ts >= v.view_ts
     AND p.purchase_ts <= v.view_ts + INTERVAL 48 HOURS
    """,
    doc="Stream-STREAM interval join driver gate (streaming/jobs.py "
    "stream_stream_join): two out-of-order pinned-mtime file streams "
    "(views, purchases) joined within a [view_ts, view_ts+48h] band "
    "under 71h watermarks on BOTH sides, one file per source per "
    "micro-batch. Batch 1 lands days<=20 of each side; batch 2 lands "
    "a fresh days-21..25 spacer on BOTH sides (advances the min-"
    "watermark to ~day 23 AND forces eviction of all day<=4 state); "
    "batch 3 lands a LATE file on EACH side (days<=4, event_id%3==0 "
    "— behind the watermark by >2 weeks); batch 4 lands days 26..30 "
    "(admitted — spacer views days 24-25 join these purchases from "
    "STATE, proving cross-batch retention). Late exclusion rests on "
    "two mechanisms: (a) input-side drop — a row is judged late "
    "against the watermark its batch STARTS with, and by batch 3 "
    "the min-watermark covers ~day 20, so day<=4 rows on both sides "
    "are filtered before the join (measured: 18 in-band late-x-late "
    "candidate pairs exist at sf0.01 — the two late files land in "
    "the SAME micro-batch — and zero emit; this is what excludes "
    "late-x-late pairs, which no state eviction could, and why the "
    "late files must land AFTER the watermark has advanced — in "
    "batch 1 they would legitimately join); (b) the spacer evicted "
    "every STORED day<=4 candidate one full batch before the late "
    "files arrive, covering late-x-stored-state matches "
    "independently of drop timing. A late row appearing in the "
    "output = watermark semantics broken. "
    "The DuckDB oracle is the interval join over exactly the "
    "admitted row sets; a missing spacer-x-batch-4 pair = premature "
    "state eviction. The band condition is load-bearing for memory "
    "at 100 TB: buffered state tracks rate x (watermark + band), "
    "not stream length.",
    tags=("parity", "streaming", "stream-stream-join", "north-star"),
)
def streaming_join_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from end_to_end_etl_pipeline_spark.streaming.jobs import stream_stream_join

    root = scratch_root("streaming_ssjoin")

    events = load(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"), "value",
    )

    def land(df, sub: str, cond, mtime: int) -> None:
        # the late-drop claim is ORDER-sensitive
        land_pinned(df.filter(cond), os.path.join(root, sub), mtime)

    # batch 1: the bulk of each side (advances both watermarks)
    land(views, "views",
         (F.dayofmonth("view_ts") <= 20) & (F.col("view_id") % 3 != 0),
         1_000_000)
    land(purchases, "purchases",
         (F.dayofmonth("purchase_ts") <= 20) & (F.col("purchase_id") % 3 != 0),
         1_000_000)
    # batch 2: fresh spacer on BOTH sides — advances the min-watermark
    # to ~day 23 and forces eviction of every day<=4 state row one
    # full batch BEFORE the late files arrive
    land(views, "views",
         F.dayofmonth("view_ts").between(21, 25), 2_000_000)
    land(purchases, "purchases",
         F.dayofmonth("purchase_ts").between(21, 25), 2_000_000)
    # batch 3: LATE files on BOTH sides (>2 weeks behind the
    # watermark; every candidate match already evicted)
    land(views, "views",
         (F.dayofmonth("view_ts") <= 4) & (F.col("view_id") % 3 == 0),
         3_000_000)
    land(purchases, "purchases",
         (F.dayofmonth("purchase_ts") <= 4) & (F.col("purchase_id") % 3 == 0),
         3_000_000)
    # batch 4: fresh tail — spacer views days 24-25 join these
    # purchases from STATE (cross-batch retention)
    land(views, "views", F.dayofmonth("view_ts") >= 26, 4_000_000)
    land(purchases, "purchases", F.dayofmonth("purchase_ts") >= 26, 4_000_000)

    v_stream = (
        spark.readStream.schema("user_id long, view_id long, view_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"file://{root}/views")
    )
    p_stream = (
        spark.readStream.schema(
            "user_id long, purchase_id long, purchase_ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"file://{root}/purchases")
    )
    joined = stream_stream_join(
        v_stream, p_stream, keys=["user_id"],
        left_time="view_ts", right_time="purchase_ts",
        watermark="71 hours", max_delay_seconds=48 * 3600,
    ).select("user_id", "view_id", "view_ts", "purchase_id", "purchase_ts", "value")

    return drain_to_parquet(joined, root, "append")


@register(
    "streaming_view_sessions",
    oracle="""
    WITH v AS (
      SELECT user_id, epoch_ms(ts) AS tms
      FROM events WHERE event_type = 'view'
    ),
    mx AS (SELECT max(tms) AS m FROM v),
    s AS (
      SELECT user_id, tms,
             CASE WHEN lag(tms) OVER w IS NULL
                    OR tms - lag(tms) OVER w > 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY tms)
    ),
    g AS (
      SELECT user_id, tms,
             sum(brk) OVER (PARTITION BY user_id ORDER BY tms
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id, sid, min(tms) AS start_ms, max(tms) AS end_ms,
             count(*) AS n_events
      FROM g GROUP BY user_id, sid
    ),
    nxt AS (
      SELECT *,
             lead(sid) OVER (PARTITION BY user_id ORDER BY start_ms)
               IS NOT NULL AS has_next
      FROM sess
    )
    SELECT user_id,
           make_timestamp(start_ms * 1000) AS session_start,
           make_timestamp(end_ms * 1000) AS session_end,
           n_events
    FROM nxt, mx
    WHERE has_next OR end_ms + 1800000 < mx.m - 7620000
    """,
    doc="CUSTOM-STATEFUL streaming driver gate — the "
    "applyInPandasWithState axis (streaming/jobs.sessionize), the "
    "one streaming semantics the built-in operators can't express: "
    "per-user gap sessionization (30 min) with one open session per "
    "key as typed state, closed either by an in-batch gap or by "
    "EVENT-TIME TIMEOUT when the watermark (127 min, deliberately "
    "not gap-aligned so no timeout can tie it) passes the session "
    "deadline. The view stream lands as two pinned-mtime files "
    "(days<=15, then >=16: open sessions must survive the batch "
    "boundary in the state store) and availableNow's finalize batch "
    "fires the remaining timeouts at the terminal watermark. The "
    "DuckDB oracle is gaps-and-islands sessionization plus the "
    "EXACT emission rule: a session appears iff a later session for "
    "the same user exists (gap-closed) OR its deadline cleared the "
    "final watermark (timeout-closed) — an open-tail session "
    "appearing = premature flush; a missing cross-batch session = "
    "state lost at the boundary. At 100 TB: state per key is ONE "
    "open session evicted by the watermark; memory tracks active "
    "users, not stream length.",
    tags=("parity", "streaming", "stateful", "north-star"),
)
def streaming_view_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from end_to_end_etl_pipeline_spark.streaming.jobs import sessionize

    root = scratch_root("streaming_sessions")

    views = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "view"
    ).select("user_id", "ts")
    landing = os.path.join(root, "landing")

    land_pinned(views.filter(F.dayofmonth("ts") <= 15), landing, 1_000_000)
    land_pinned(views.filter(F.dayofmonth("ts") >= 16), landing, 2_000_000)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"file://{landing}")
    )
    sessions = sessionize(
        stream, "user_id", "ts", watermark="127 minutes"
    )
    return drain_to_parquet(sessions, root, "append")


@register(
    "winsorized_price_stats",
    oracle="""
    WITH b AS (
      SELECT CAST(round(CAST(quantile_cont(l_extendedprice, 0.05) AS DECIMAL(20,8)), 2)
                  AS DOUBLE) AS lo,
             CAST(round(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(20,8)), 2)
                  AS DOUBLE) AS hi
      FROM lineitem
    )
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CASE WHEN l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           round(avg(greatest(b.lo, least(b.hi, l_extendedprice))), 4)
             AS avg_winsorized
    FROM lineitem, b
    GROUP BY 1
    """,
    doc="Winsorization (numeric-feature hygiene): clip extended price "
    "to the exact global [p05, p95] band, then per return flag count "
    "the clipped tails and average the winsorized values. The bounds "
    "are a 1-row aggregate broadcast back over the scan (no second "
    "shuffle); they round through an exact decimal cast because "
    "interpolated percentiles of cent data land on half-cents, where "
    "double rounding diverges between engines. At 100 TB swap the "
    "exact percentile for approx_percentile (t-digest, mergeable) - "
    "identical query shape.",
    tags=("parity", "profiling", "cleaning"),
)
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.percentiles import (
        exact_percentiles,
    )

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    # r12: the exact [p05, p95] band via the distributed bracket
    # selection (operators/percentiles.py) instead of the built-in
    # percentile() aggregate, whose single-reducer value-map merge was
    # 1.9 of this query's 2.6 s at sf0.1 and cannot hold a mostly-
    # unique column at 100 TB. Values are bit-identical (pinned by
    # tests/test_percentiles.py); the driver floats re-enter the plan
    # as literals, which also drops the bounds broadcast-join.
    p05, p95 = exact_percentiles(li, "l_extendedprice", [0.05, 0.95])
    lo = F.round(F.lit(p05).cast("decimal(20,8)"), 2).cast("double")
    hi = F.round(F.lit(p95).cast("decimal(20,8)"), 2).cast("double")
    price = F.col("l_extendedprice")
    clipped = F.greatest(lo, F.least(hi, price))
    return (
        li
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(price < lo, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(F.when(price > hi, 1).otherwise(0))
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(F.avg(clipped), 4).alias("avg_winsorized"),
        )
    )


@register(
    "daily_event_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(ts AS DATE) AS day,
             datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_num,
             count(*) AS n_events
      FROM events GROUP BY 1, 2, 3
    ), stats AS (
      SELECT event_type, day, n_events,
             round(avg(n_events) OVER w, 4) AS trail_mean,
             round(stddev_samp(n_events) OVER w, 4) AS trail_std
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                   RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, day, n_events, trail_mean, trail_std,
           CASE WHEN trail_std > 0
                THEN round((n_events - trail_mean) / trail_std, 4) END AS z,
           coalesce(trail_std > 0
                    AND abs((n_events - trail_mean) / trail_std) > 2.0,
                    FALSE) AS is_anomaly
    FROM stats
    """,
    doc="Trailing-window anomaly detection on daily event volumes: a "
    "true RANGE frame over the epoch-day number (6 PRECEDING = the "
    "last 7 calendar days, correct across gap days, which a ROWS "
    "frame silently is not), z-score against the trailing mean/std, "
    "|z|>2 flag. The z is computed from the ROUNDED mean/std so both "
    "engines run identical algebra on identical inputs. One shuffle "
    "to daily grain, one to the type-partitioned window - the window "
    "runs on post-agg data (days x types), never raw events.",
    tags=("parity", "events", "windows", "profiling"),
)
def daily_event_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.to_date("ts").alias("day"),
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "day_num"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-6, Window.currentRow)
    )
    stats = daily.select(
        "event_type",
        "day",
        "n_events",
        F.round(F.avg("n_events").over(w), 4).alias("trail_mean"),
        F.round(F.stddev_samp("n_events").over(w), 4).alias("trail_std"),
    )
    z_raw = (F.col("n_events") - F.col("trail_mean")) / F.col("trail_std")
    return stats.select(
        "event_type",
        "day",
        "n_events",
        "trail_mean",
        "trail_std",
        F.when(F.col("trail_std") > 0, F.round(z_raw, 4)).alias("z"),
        F.coalesce(
            (F.col("trail_std") > 0) & (F.abs(z_raw) > 2.0), F.lit(False)
        ).alias("is_anomaly"),
    )


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relationship,
           (SELECT count(*) FROM lineitem) AS child_rows,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS orphans
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
    doc="Referential-integrity audit across the star schema: per FK "
    "relationship, child row count and orphan count (children whose "
    "parent key is missing) - the DQ gate a lakehouse runs before "
    "publishing facts, extending the reference's not-null/bounds "
    "rules (P4/P5) to cross-table invariants. Each orphan check is a "
    "left-anti join; parent sides project only their key, so small "
    "parents broadcast and the fact-sized side never shuffles more "
    "than its key column.",
    tags=("parity", "dq", "joins"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def audit(rel: str, child: DataFrame, ck: str, parent: DataFrame, pk: str):
        total = child.agg(F.count(F.lit(1)).alias("child_rows"))
        orph = (
            child.join(parent, child[ck] == parent[pk], "left_anti")
            .agg(F.count(F.lit(1)).alias("orphans"))
        )
        return (
            total.crossJoin(orph)
            .select(
                F.lit(rel).alias("relationship"),
                "child_rows",
                "orphans",
            )
        )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select("n_nationkey")
    return (
        audit("lineitem->orders", li, "l_orderkey", orders.select("o_orderkey"), "o_orderkey")
        .unionByName(audit("orders->customer", orders, "o_custkey", cust.select("c_custkey"), "c_custkey"))
        .unionByName(audit("customer->nation", cust, "c_nationkey", nation, "n_nationkey"))
    )


@register(
    "join_key_skew_profile",
    oracle="""
    WITH lo AS (
      SELECT count(*) AS g FROM lineitem GROUP BY l_orderkey
    ), eu AS (
      SELECT count(*) AS g FROM events GROUP BY user_id
    )
    SELECT 'lineitem.l_orderkey' AS key_name,
           CAST(sum(g) AS BIGINT) AS n_rows,
           count(*) AS n_keys,
           CAST(max(g) AS BIGINT) AS max_group,
           CAST(round(CAST(quantile_cont(g, 0.50) AS DECIMAL(20,8)), 4) AS DOUBLE)
             AS p50_group,
           CAST(round(CAST(quantile_cont(g, 0.99) AS DECIMAL(20,8)), 4) AS DOUBLE)
             AS p99_group,
           round(CAST(max(g) AS DOUBLE) / sum(g), 6) AS top1_share
    FROM lo
    UNION ALL
    SELECT 'events.user_id', CAST(sum(g) AS BIGINT), count(*),
           CAST(max(g) AS BIGINT),
           CAST(round(CAST(quantile_cont(g, 0.50) AS DECIMAL(20,8)), 4) AS DOUBLE),
           CAST(round(CAST(quantile_cont(g, 0.99) AS DECIMAL(20,8)), 4) AS DOUBLE),
           round(CAST(max(g) AS DOUBLE) / sum(g), 6)
    FROM eu
    """,
    doc="Join-key skew diagnosis: per candidate shuffle key, group-"
    "size distribution (p50/p99/max) and the heaviest key's row "
    "share - the numbers that decide between a plain shuffle join, "
    "salting, and AQE skew splitting BEFORE a 100-TB shuffle is "
    "launched. Two-level aggregation: group sizes shuffle on the "
    "key (map-side combined), the distribution stats reduce to one "
    "row per key column.",
    tags=("parity", "profiling"),
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    def profile(rel: str, df: DataFrame, key: str) -> DataFrame:
        sizes = df.groupBy(key).agg(F.count(F.lit(1)).alias("g"))
        pct = F.expr("percentile(g, array(0.50D, 0.99D))")
        return sizes.agg(
            F.sum("g").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("g").cast("bigint").alias("max_group"),
            pct.alias("__p"),
        ).select(
            F.lit(rel).alias("key_name"),
            "n_rows",
            "n_keys",
            "max_group",
            F.round(F.col("__p")[0].cast("decimal(20,8)"), 4)
            .cast("double")
            .alias("p50_group"),
            F.round(F.col("__p")[1].cast("decimal(20,8)"), 4)
            .cast("double")
            .alias("p99_group"),
            F.round(F.col("max_group").cast("double") / F.col("n_rows"), 6).alias(
                "top1_share"
            ),
        )

    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    ev = load(spark, sf_dir, "events").select("user_id")
    return profile("lineitem.l_orderkey", li, "l_orderkey").unionByName(
        profile("events.user_id", ev, "user_id")
    )


@register(
    "orders_column_profile",
    oracle="""
    WITH n AS (SELECT count(*) AS n_rows FROM orders),
    p AS (
      SELECT 'o_orderkey' AS "column",
             count(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
             count(DISTINCT o_orderkey) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'o_custkey',
             count(*) FILTER (WHERE o_custkey IS NULL),
             count(DISTINCT o_custkey) FROM orders
      UNION ALL
      SELECT 'o_orderstatus',
             count(*) FILTER (WHERE o_orderstatus IS NULL),
             count(DISTINCT o_orderstatus) FROM orders
      UNION ALL
      SELECT 'o_totalprice',
             count(*) FILTER (WHERE o_totalprice IS NULL),
             count(DISTINCT o_totalprice) FROM orders
      UNION ALL
      SELECT 'o_orderdate',
             count(*) FILTER (WHERE o_orderdate IS NULL),
             count(DISTINCT o_orderdate) FROM orders
      UNION ALL
      SELECT 'o_orderpriority',
             count(*) FILTER (WHERE o_orderpriority IS NULL),
             count(DISTINCT o_orderpriority) FROM orders
    )
    SELECT p."column", n.n_rows, p.n_nulls,
           round(CAST(p.n_nulls AS DOUBLE) / n.n_rows, 6) AS null_frac,
           p.n_distinct
    FROM p CROSS JOIN n
    """,
    doc="Whole-table column profile (operators/dq.profile_columns): "
    "null counts/fractions and exact distinct counts for every "
    "column of orders in ONE scan - the completeness / schema-drift "
    "report a pipeline emits before trusting a new landing "
    "(generalizes the reference's per-script null checks). The "
    "single global aggregate plans the multi-distinct via one "
    "Expand; the exchange carries one row, then stack() unpivots to "
    "a row per column. At 100 TB swap countDistinct for "
    "approx_count_distinct - identical shape.",
    tags=("parity", "profiling", "dq"),
)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.dq import profile_columns

    return profile_columns(load(spark, sf_dir, "orders"))


@register(
    "winsorized_price_stats_sketch",
    oracle="""
    SELECT count(*) AS n,
           CAST(round(CAST(quantile_cont(l_extendedprice, 0.05) AS DECIMAL(20,8)), 2)
                AS DOUBLE) AS exact_lo,
           CAST(round(CAST(quantile_cont(l_extendedprice, 0.95) AS DECIMAL(20,8)), 2)
                AS DOUBLE) AS exact_hi,
           TRUE AS lo_ok, TRUE AS hi_ok,
           TRUE AS clip_frac_low_ok, TRUE AS clip_frac_high_ok,
           TRUE AS avg_ok
    FROM lineitem
    """,
    doc="The 100-TB path of winsorized_price_stats made concrete: "
    "clip bounds come from approx_percentile (mergeable GK-style "
    "summary - per-partition summaries combine without a value "
    "shuffle, unlike the exact percentile's sort-based aggregate "
    "whose cost IS that query's bench cost). Conformance via the "
    "sketch-tolerance trick (daily_uniques_hll / "
    "price_quantile_sketch): exact bounds value-matched, booleans "
    "assert the sketch bounds within 0.5% of exact, the "
    "sketch-clipped tail fractions within [3%,7%] of the nominal 5%, "
    "and the sketch-winsorized mean within 0.1% of the "
    "exact-winsorized mean - a broken sketch pipeline fails the gate "
    "while sketch internals stay engine-private.",
    tags=("profiling", "cleaning", "north-star"),
)
def winsorized_price_stats_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.percentiles import (
        exact_percentiles,
    )

    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    # r12: the EXACT conformance leg comes from the distributed
    # bracket selection (operators/percentiles.py — bit-identical to
    # the old in-plan percentile() aggregate, whose single-reducer
    # value-map merge dominated this query too); the sketch leg under
    # test stays the in-plan approx_percentile aggregate.
    elo, ehi = exact_percentiles(li, "l_extendedprice", [0.05, 0.95])
    b = li.agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.05D, 0.95D), 10000)"
        ).alias("__ap"),
    ).select(
        F.col("__ap")[0].alias("alo"),
        F.col("__ap")[1].alias("ahi"),
        F.lit(elo).alias("elo"),
        F.lit(ehi).alias("ehi"),
    )
    price = F.col("l_extendedprice")
    g = li.crossJoin(F.broadcast(b)).agg(
        F.count(F.lit(1)).alias("n"),
        F.first("alo").alias("alo"),
        F.first("ahi").alias("ahi"),
        F.first("elo").alias("elo"),
        F.first("ehi").alias("ehi"),
        F.avg(F.greatest(F.col("alo"), F.least(F.col("ahi"), price))).alias("aavg"),
        F.avg(F.greatest(F.col("elo"), F.least(F.col("ehi"), price))).alias("eavg"),
        F.sum(F.when(price < F.col("alo"), 1).otherwise(0)).alias("nlo"),
        F.sum(F.when(price > F.col("ahi"), 1).otherwise(0)).alias("nhi"),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("elo").cast("decimal(20,8)"), 2).cast("double").alias("exact_lo"),
        F.round(F.col("ehi").cast("decimal(20,8)"), 2).cast("double").alias("exact_hi"),
        (F.abs(F.col("alo") / F.col("elo") - 1.0) <= 0.005).alias("lo_ok"),
        (F.abs(F.col("ahi") / F.col("ehi") - 1.0) <= 0.005).alias("hi_ok"),
        (F.col("nlo") / F.col("n")).between(0.03, 0.07).alias("clip_frac_low_ok"),
        (F.col("nhi") / F.col("n")).between(0.03, 0.07).alias("clip_frac_high_ok"),
        (F.abs(F.col("aavg") / F.col("eavg") - 1.0) <= 0.001).alias("avg_ok"),
    )


@register(
    "price_quantile_sketch",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           CAST(round(CAST(quantile_cont(o_totalprice, 0.5) AS DECIMAL(20,8)), 2)
                AS DOUBLE) AS exact_p50,
           CAST(round(CAST(quantile_cont(o_totalprice, 0.95) AS DECIMAL(20,8)), 2)
                AS DOUBLE) AS exact_p95,
           TRUE AS p50_ok, TRUE AS p95_ok
    FROM orders GROUP BY 1
    """,
    doc="Mergeable quantile sketch per order priority: Spark's "
    "approx_percentile (a Greenwald-Khanna-style summary that "
    "merges associatively across partitions - the quantile analogue "
    "of the HLL and count-min rows) at accuracy 10000, checked "
    "against the exact interpolated percentile with a +/-2% relative "
    "tolerance boolean the oracle asserts TRUE. Same conformance "
    "trick as daily_uniques_hll: the sketch internals stay "
    "engine-private, a broken sketch pipeline still fails the gate. "
    "At 100 TB the exact leg disappears and per-partition summaries "
    "merge without a value shuffle.",
    tags=("parity", "profiling", "north-star"),
)
def price_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "approx_percentile(o_totalprice, array(0.5D, 0.95D), 10000)"
        ).alias("__ap"),
        F.expr("percentile(o_totalprice, array(0.5D, 0.95D))").alias("__ex"),
    )
    def ok(i: int):
        return (
            F.abs(F.col("__ap")[i] / F.col("__ex")[i] - 1.0) <= 0.02
        ).alias(["p50_ok", "p95_ok"][i])
    return g.select(
        "o_orderpriority",
        "n",
        F.round(F.col("__ex")[0].cast("decimal(20,8)"), 2).cast("double").alias("exact_p50"),
        F.round(F.col("__ex")[1].cast("decimal(20,8)"), 2).cast("double").alias("exact_p95"),
        ok(0),
        ok(1),
    )


@register(
    "user_time_weighted_value",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, value, event_id
      FROM events
    ),
    stepped AS (
      SELECT user_id, day, value,
             coalesce(
               lead(epoch_us(ts)) OVER (PARTITION BY user_id, day
                                        ORDER BY ts, event_id),
               epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
             ) - epoch_us(ts) AS w_us
      FROM ev
    )
    SELECT user_id, day,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(round(CAST(sum(value * w_us) / sum(w_us)
                           AS DECIMAL(20,10)), 6) AS DOUBLE) AS twap
    FROM stepped GROUP BY 1, 2
    """,
    doc="Time-weighted average over irregular events (the TWAP shape "
    "finance and metering pipelines run): within each (user, day), a "
    "reading holds until the next one (step function; the last holds "
    "to midnight), and the day's average weighs each value by its "
    "holding duration in exact integer MICROSECONDS (unix_micros / "
    "epoch_us on both engines - float epoch seconds would diverge). "
    "Plain event averages overweight bursty periods; TWAP is "
    "sampling-rate invariant. One lead() window + one grouped agg, "
    "both keyed on (user, day) - the window partition is reused by "
    "the aggregation, so the whole query is a single shuffle. "
    "Deterministic tie-break on event_id for equal timestamps.",
    tags=("events", "windows", "parity"),
)
def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events ts can read back as TIMESTAMP_NTZ; unix_micros needs the
    # session-TZ (UTC) timestamp — the same instant DuckDB's naive
    # epoch_us computes
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.col("ts").cast("timestamp").alias("ts"),
        "value",
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    stepped = ev.withColumn(
        "w_us",
        F.coalesce(
            F.lead(F.unix_micros("ts")).over(w),
            F.unix_micros(F.date_add(F.col("day"), 1).cast("timestamp")),
        )
        - F.unix_micros("ts"),
    )
    return stepped.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            (F.sum(F.col("value") * F.col("w_us")) / F.sum("w_us")).cast(
                "decimal(20,10)"
            ),
            6,
        )
        .cast("double")
        .alias("twap"),
    )


@register(
    "order_price_equidepth_bins",
    oracle="""
    WITH b AS (
      SELECT list_transform(
               quantile_cont(o_totalprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
               q -> CAST(round(CAST(q AS DECIMAL(20,8)), 2) AS DOUBLE)
             ) AS bounds
      FROM orders
    )
    SELECT CAST(len(list_filter(b.bounds, x -> o.o_totalprice > x)) + 1 AS INT)
             AS bucket,
           count(*) AS n,
           round(min(o.o_totalprice), 2) AS min_price,
           round(max(o.o_totalprice), 2) AS max_price
    FROM orders o CROSS JOIN b
    GROUP BY 1
    """,
    doc="Equi-depth (equal-frequency) discretization of order prices "
    "into 10 bins - the quantile-binning feature-engineering staple, "
    "and the complement of the fixed-width order_price_histogram: "
    "bin populations stay balanced whatever the value distribution. "
    "The 9 decile bounds are ONE exact-percentile aggregate "
    "broadcast back over the scan as a single array literal (bucket "
    "= 1 + bounds-below-value via a per-row HOF count); no sort, no "
    "second shuffle, same decimal-routed bound rounding as the "
    "winsorization query. At 100 TB swap approx_percentile in - "
    "identical shape.",
    tags=("parity", "profiling"),
)
def order_price_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.percentiles import (
        exact_percentiles,
    )

    o = load(spark, sf_dir, "orders").select("o_totalprice")
    # r12: decile bounds via the distributed bracket selection
    # (operators/percentiles.py, bit-identical to the old in-plan
    # percentile() aggregate) injected as one array literal.
    deciles = exact_percentiles(
        o, "o_totalprice", [i / 10 for i in range(1, 10)]
    )
    bounds = F.array(*[
        F.round(F.lit(q).cast("decimal(20,8)"), 2).cast("double")
        for q in deciles
    ])
    bucket = (
        F.size(F.filter(bounds, lambda x: F.col("o_totalprice") > x)) + 1
    ).cast("int")
    return (
        o
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@register(
    "daily_uniques_bitmap",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    daily AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau_7d
      FROM daily d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
      GROUP BY 1
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau_7d AS BIGINT) AS wau_7d
    FROM daily d JOIN wau w USING (day)
    """,
    doc="EXACT mergeable distinct counting via bitmap aggregates - "
    "the precise counterpart of daily_uniques_hll for id spaces "
    "dense enough to bitmap: users land in 32768-bit buckets "
    "(bitmap_bucket_number / bitmap_bit_position, ids shifted +1 "
    "because positions are 1-based), each (day, bucket) holds one "
    "bitmap built by a map-side-partial bitmap_construct_agg, DAU = "
    "sum of per-bucket popcounts, and the trailing-7-day WAU merges "
    "bucket bitmaps with bitmap_or_agg over a RANGE window on a "
    "day-x-bucket spine (the spine closes bucket gap days - a bucket "
    "active on day-3 but silent today must still contribute to "
    "today's window). Nothing here is approximate, yet everything "
    "merges associatively: per-day partials roll into any window "
    "without re-touching raw events, and state per (day, bucket) is "
    "4 KB regardless of event volume - count(DISTINCT) semantics at "
    "sketch-rollup cost, full value-hash oracle.",
    tags=("events", "profiling", "north-star"),
)
def daily_uniques_bitmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"),
        # bitmap positions are 1-based; synthetic ids start at 0
        (F.col("user_id") + 1).alias("uid"),
    )
    bkt = ev.groupBy(
        "day", F.bitmap_bucket_number("uid").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("uid")).alias("bm"))
    daily = bkt.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("dau")
    )
    # dense day x bucket spine so RANGE windows see every bucket on
    # every day (a bucket with no events today still carries its
    # trailing-window users)
    spine = ev.select("day").distinct().crossJoin(
        bkt.select("bucket").distinct()
    )
    dense = spine.join(bkt, ["day", "bucket"], "left").withColumn(
        "d", F.datediff("day", F.lit("1970-01-01").cast("date"))
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("d")
        .rangeBetween(-6, 0)
    )
    wau = (
        dense.withColumn("wbm", F.bitmap_or_agg("bm").over(w))
        .groupBy("day")
        .agg(
            F.sum(F.coalesce(F.bitmap_count("wbm"), F.lit(0)))
            .cast("bigint")
            .alias("wau_7d")
        )
    )
    return daily.join(wau, "day")


@register(
    "purchase_next_view_asof",
    oracle="""
    WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id AS view_event_id, ts AS view_ts
          FROM events WHERE event_type = 'view')
    SELECT p.user_id, p.event_id, p.ts, v.view_event_id, v.view_ts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.view_ts >= p.ts
    """,
    doc="FORWARD as-of join (purchase -> earliest subsequent view per "
    "user - the next-observation lookup: order -> first fill, signal "
    "-> next quote): same union-sort + single-window machinery as the "
    "backward variant (operators/joins.py asof_join direction="
    "'forward', first(ignorenulls) over the following frame), one "
    "shuffle on the key, no range explosion. Oracle via DuckDB's "
    "ASOF JOIN with the inequality reversed.",
    tags=("parity", "joins"),
)
def purchase_next_view_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.joins import asof_join

    events = load(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("__vts"),
        F.col("event_id").alias("view_event_id"),
        F.col("ts").alias("view_ts"),
    )
    return asof_join(
        purchases,
        views,
        on=["user_id"],
        left_time="ts",
        right_time="__vts",
        right_cols=["view_event_id", "view_ts"],
        direction="forward",
    )


@register(
    "event_type_value_trend",
    oracle="""
    WITH e AS (
      SELECT event_type,
             (epoch(ts) - epoch(TIMESTAMP '2026-01-01')) / 86400.0 AS x,
             value AS y
      FROM events
    ),
    m AS (
      SELECT event_type, count(*) AS n, avg(x) AS xb, avg(y) AS yb
      FROM e GROUP BY 1
    ),
    s AS (
      SELECT e.event_type,
             sum((x - xb) * (x - xb)) AS sxx,
             sum((x - xb) * (y - yb)) AS sxy
      FROM e JOIN m USING (event_type) GROUP BY 1
    )
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           round(s.sxy / s.sxx, 6) AS slope,
           round(m.yb - (s.sxy / s.sxx) * m.xb, 6) AS intercept
    FROM m JOIN s USING (event_type)
    """,
    doc="Per-group model fitting through Arrow grouped-map "
    "(operators/grouped_models.grouped_linefit, applyInPandas) - the "
    "escape hatch for group-local logic that genuinely needs a "
    "Python library, exercised with a closed-form OLS trend of event "
    "value over days-since-2026 per event type precisely SO a SQL "
    "oracle can replay the Python path (centered two-pass sums, "
    "sorted accumulation, 6dp) and prove the plumbing exact. One "
    "shuffle on the group key; each group fits in one pandas frame; "
    "only (n, slope, intercept) leave the worker. Anything "
    "expressible as a built-in aggregate should be (see "
    "price_quantity_regression's regr_* family) - this is the "
    "pattern for when it is not.",
    tags=("events", "profiling", "north-star"),
)
def event_type_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.grouped_models import (
        grouped_linefit,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (
            # NTZ can't cast straight to double; hop through the
            # session-TZ timestamp (pinned UTC — matches the oracle's
            # naive-as-UTC epoch())
            (F.col("ts").cast("timestamp").cast("double")
             - F.lit("2026-01-01 00:00:00").cast("timestamp").cast("double"))
            / 86400.0
        ).alias("x"),
        F.col("value").alias("y"),
    )
    return grouped_linefit(ev, ["event_type"], "x", "y")


@register(
    "purchase_touch_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
    touches AS (
      SELECT p.event_id AS purchase_event_id, p.user_id,
             v.event_id AS touch_event_id,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY v.ts, v.event_id) AS touch_rank,
             count(*) OVER (PARTITION BY p.event_id) AS n_touches
      FROM p JOIN v
        ON v.user_id = p.user_id
       AND v.ts >= p.ts - INTERVAL 30 MINUTE
       AND v.ts <= p.ts
    )
    SELECT purchase_event_id, user_id, touch_event_id, touch_rank,
           CAST(n_touches AS BIGINT) AS n_touches,
           round(1.0 / n_touches, 6) AS credit_linear,
           CASE WHEN touch_rank = 1 THEN 1.0 ELSE 0.0 END AS credit_first,
           CASE WHEN touch_rank = n_touches THEN 1.0 ELSE 0.0 END AS credit_last
    FROM touches
    """,
    doc="Multi-touch attribution over the bucketed time-range join "
    "(the analytics layer above purchase_view_window): every view in "
    "the 30 minutes before a purchase becomes a touch row carrying "
    "the three standard credit models - linear (1/n), first-touch, "
    "last-touch - assigned by one window over the joined touches "
    "(rank by touch time, ties to event id). The join itself stays "
    "the range_join shape: right side replicated to <= 2 time "
    "buckets, equi-join on (user, bucket) with the range residual - "
    "no per-key cross join at any scale; the attribution windows "
    "partition on purchase id, whose size the 30-minute band bounds.",
    tags=("events", "joins", "north-star"),
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.joins import range_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.col("ts").alias("__pts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("touch_event_id"),
        "user_id",
        F.col("ts").alias("__vts"),
    )
    touches = range_join(
        purchases, views, ["user_id"], "__pts", "__vts",
        before_seconds=1800, how="inner",
    )
    wrk = Window.partitionBy("purchase_event_id").orderBy(
        F.col("__vts").asc(), F.col("touch_event_id").asc()
    )
    wn = Window.partitionBy("purchase_event_id")
    out = (
        touches.withColumn("touch_rank", F.row_number().over(wrk))
        .withColumn("n_touches", F.count(F.lit(1)).over(wn).cast("bigint"))
    )
    return out.select(
        "purchase_event_id",
        "user_id",
        "touch_event_id",
        "touch_rank",
        "n_touches",
        F.round(F.lit(1.0) / F.col("n_touches"), 6).alias("credit_linear"),
        F.when(F.col("touch_rank") == 1, 1.0).otherwise(0.0).alias("credit_first"),
        F.when(F.col("touch_rank") == F.col("n_touches"), 1.0)
        .otherwise(0.0)
        .alias("credit_last"),
    )


@register(
    "frequent_part_pairs",
    oracle="""
    WITH op AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_orders
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_orders FROM pairs
    WHERE n_orders >= 2
    QUALIFY row_number() OVER (ORDER BY n_orders DESC, part_a, part_b) <= 50
    """,
    doc="Market-basket co-occurrence (frequent itemset pairs, the "
    "support-counting core of Apriori): part pairs appearing together "
    "in >= 2 orders, top-50 by support. The pair generation is a "
    "SELF-join on the order key over the DISTINCT (order, part) "
    "relation - its output is sum over orders of C(parts_in_order, 2)"
    ", bounded by basket width (TPC-H ~4 lines/order -> ~6 pairs), "
    "NOT by catalog size; the basket width is the quantity to guard "
    "at 100 TB (cap or sample oversized baskets before pairing). "
    "Support counting is one map-side-partial agg on the pair key.",
    tags=("parity", "joins", "core"),
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    op = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = op.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )
    w = Window.orderBy(
        F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    )
    return (
        pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 50)
        .select("part_a", "part_b", "n_orders")
    )


@register(
    "bloom_point_lookup",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT l_orderkey FROM lineitem ORDER BY 1 LIMIT 5
    )
    SELECT l.l_orderkey,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l.l_quantity), 2) AS sum_qty
    FROM lineitem l JOIN keys k USING (l_orderkey)
    GROUP BY 1
    """,
    doc="Manifest bloom data skipping, driver-gated end to end "
    "(sinks/manifest.read_point): lineitem lands in a scratch "
    "ManifestCatalog as three date-interleaved appends, each dir "
    "carrying a per-column Bloom bitmap; five point lookups then "
    "read ONLY the dir(s) whose bloom might hold the key - the "
    "membership half of Iceberg/Delta file pruning, which min/max "
    "stats cannot provide for id-like keys whose range straddles "
    "every dir. No false negatives by construction (the oracle's "
    "exact per-key aggregates prove it: a skipped dir that held the "
    "key would break the hash); bloom-less dirs are always read.",
    tags=("parity", "storage", "north-star"),
)
def bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("bloom_lookup")

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    # three interleaved appends: every dir's orderkey RANGE spans the
    # whole table (min/max skipping useless), only the blooms prune
    for m in range(3):
        cat.append(
            li.filter(F.month("l_shipdate") % 3 == m).drop("l_shipdate"),
            "pt.li",
            bloom_cols=["l_orderkey"],
        )
    keys = [
        r[0]
        for r in li.select("l_orderkey").distinct().orderBy("l_orderkey")
        .limit(5).collect()
    ]
    parts = [cat.read_point("pt.li", "l_orderkey", k) for k in keys]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    out = u.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )
    return out.localCheckpoint(eager=True)


@register(
    "orders_change_data_feed",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           'delete' AS _change_type
    FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 21 = 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'update_pre'
    FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 = 0 AND o_orderkey % 21 <> 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice + 1, 'update_post'
    FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey % 15 = 0 AND o_orderkey % 21 <> 0
    UNION ALL
    SELECT o_orderkey, o_orderstatus, o_totalprice, 'insert'
    FROM orders WHERE o_orderkey % 3 = 1 AND o_orderkey % 7 = 0
    """,
    doc="Change-data-feed between two committed table versions "
    "(sinks/manifest.diff_versions, the observable surface of "
    "Delta's readChangeFeed), driver-gated: version 1 of a scratch "
    "manifest table holds an orders slice, version 2 deterministically "
    "deletes every 21st key, bumps every 15th key's total price "
    "(hash-diff update -> update_pre/update_post row images), and "
    "inserts a disjoint key set; the keyed diff is ONE full-outer "
    "join on the key comparing a null-safe row hash of the non-key "
    "columns — change-proportional output, no full-table rewrite "
    "reading, derived from the immutable version log rather than "
    "per-commit change files. The oracle rebuilds all four change "
    "classes directly from the deterministic version definitions.",
    tags=("parity", "storage", "north-star"),
)
def orders_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("cdf")

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    k = F.col("o_orderkey")
    v1 = o.filter(k % 3 == 0)
    v2 = (
        v1.filter(~(k % 21 == 0))
        .withColumn(
            "o_totalprice",
            F.when(k % 15 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(o.filter((k % 3 == 1) & (k % 7 == 0)))
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    cat.replace_atomic(v1, "cdc.o")
    cat.replace_atomic(v2, "cdc.o")
    out = cat.diff_versions("cdc.o", 1, 2, keys=["o_orderkey"])
    return out.localCheckpoint(eager=True)


@register(
    "zorder_range_read",
    oracle="""
    SELECT CAST(l_quantity AS BIGINT) AS quantity,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_extendedprice BETWEEN 20000 AND 60000
    GROUP BY 1
    """,
    doc="Z-order clustering + manifest-stats range read, driver-gated "
    "end to end (sinks/manifest.optimize_zorder + read_range + "
    "sinks/zorder Morton interleave): a lineitem slice lands in a "
    "scratch manifest table, is rewritten clustered on the "
    "interleaved-bit key of (quantity, price) into key-range dirs "
    "with per-dir min/max stats on BOTH dimensions, and a "
    "two-dimensional band query then reads only dirs whose stats "
    "overlap — the property plain lead-column sort cannot give (its "
    "second dimension's per-dir range spans everything). Dir stats "
    "bound ranges, they don't prove membership, so read_range still "
    "applies the row filter — which is exactly why a wrongly pruned "
    "dir breaks the oracle's exact aggregates.",
    tags=("parity", "storage", "north-star"),
)
def zorder_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("zorder")

    li = load(spark, sf_dir, "lineitem").select("l_quantity", "l_extendedprice")
    cat = ManifestCatalog(spark, f"file://{root}")
    cat.replace_atomic(li, "z.li")
    cat.optimize_zorder(
        "z.li", ["l_quantity", "l_extendedprice"],
        stats_cols=["l_quantity", "l_extendedprice"],
    )
    banded = cat.read_range("z.li", "l_quantity", 10, 20).filter(
        F.col("l_extendedprice").between(20000, 60000)
    )
    out = banded.groupBy(
        F.col("l_quantity").cast("bigint").alias("quantity")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return out.localCheckpoint(eager=True)


@register(
    "orders_time_travel_vacuum",
    oracle="""
    SELECT 'v1' AS snapshot,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders WHERE o_orderkey % 4 = 0
    UNION ALL
    SELECT 'latest', CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    UNION ALL
    SELECT 'post_vacuum', CAST(count(*) AS BIGINT), round(sum(o_totalprice), 2)
    FROM orders WHERE o_orderkey % 4 IN (0, 1)
    """,
    doc="Time-travel reads + vacuum, driver-gated (sinks/manifest "
    "versioned reads): two commits to a scratch manifest table, a "
    "version-pinned read of v1 (yesterday's snapshot while today's "
    "is live — version isolation from the immutable log), the "
    "latest read, then vacuum(keep_versions=1) physically deletes "
    "the superseded dirs and the latest read must be BYTE-identical "
    "after — retention collects only what no retained version "
    "references. The oracle rebuilds all three snapshots from the "
    "deterministic version definitions; a vacuum that deleted a "
    "still-referenced dir would break the post_vacuum aggregates.",
    tags=("parity", "storage", "north-star"),
)
def orders_time_travel_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("timetravel")

    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    cat = ManifestCatalog(spark, f"file://{root}")
    cat.replace_atomic(o.filter(k % 4 == 0), "tt.o")      # version 1
    cat.append(o.filter(k % 4 == 1), "tt.o")              # version 2

    def agg(df, tag):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_total"),
        ).select(F.lit(tag).alias("snapshot"), "n_rows", "sum_total")

    v1 = agg(cat.read("tt.o", version=1), "v1").localCheckpoint(eager=True)
    latest = agg(cat.read("tt.o"), "latest").localCheckpoint(eager=True)
    cat.vacuum("tt.o", min_age_seconds=0)
    post = agg(cat.read("tt.o"), "post_vacuum").localCheckpoint(eager=True)
    return v1.unionByName(latest).unionByName(post)


@register(
    "priority_target_encoding",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS priority, o_orderkey % 5 AS fold,
             CAST(o_totalprice AS DECIMAL(20, 8)) AS y
      FROM orders
    ),
    cf AS (SELECT priority, fold, sum(y) AS s, count(*) AS c
           FROM base GROUP BY 1, 2),
    ct AS (SELECT priority, sum(s) AS st, CAST(sum(c) AS BIGINT) AS ctot
           FROM cf GROUP BY 1),
    gf AS (SELECT fold, sum(s) AS gs, CAST(sum(c) AS BIGINT) AS gc
           FROM cf GROUP BY 1),
    g AS (SELECT sum(s) AS gst, CAST(sum(c) AS BIGINT) AS gct FROM cf),
    enc AS (
      SELECT cf.priority, cf.fold,
             CAST(ct.st - cf.s AS DOUBLE) AS s_excl,
             ct.ctot - cf.c AS c_excl,
             CAST(g.gst - gf.gs AS DOUBLE) / CAST(g.gct - gf.gc AS DOUBLE)
               AS prior
      FROM cf JOIN ct USING (priority) JOIN gf USING (fold) CROSS JOIN g
    )
    SELECT priority, fold,
           round(CASE WHEN c_excl = 0 THEN prior
                      ELSE (s_excl + 20.0 * prior)
                           / (CAST(c_excl AS DOUBLE) + 20.0) END, 6) AS te,
           c_excl AS n_oof
    FROM enc
    """,
    doc="Out-of-fold smoothed target encoding (operators/features."
    "target_encode_oof) - the leakage-free categorical->numeric "
    "feature prep every tabular model stage needs: each fold's "
    "encoding for a category is (sum_excl + 20*prior)/(n_excl + 20) "
    "computed ONLY from the other folds (its own rows' targets never "
    "leak into it), prior = other-folds global mean, unseen-in-"
    "other-folds categories fall back to the prior. Deterministic "
    "fold = o_orderkey %% 5 (not an engine-specific hash). All sums "
    "run in the EXACT decimal domain and convert to double only at "
    "the final division (float sums would be partition-order-"
    "dependent; the operator rejects double targets outright). One "
    "corpus-scale groupBy(category, fold); everything after is "
    "category x fold sized. The output IS the deployable encoder "
    "table - persist + broadcast-join at train time.",
    tags=("north-star", "features"),
)
def priority_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.features import (
        target_encode_oof,
    )

    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        # the synthetic orders table stores price as double — route
        # it through the exact-decimal domain (the repo's standard
        # cross-engine cast; see tests/oracle round() notes) so the
        # encoder's sums are partition-order-independent
        F.col("o_totalprice").cast("decimal(20,8)").alias("price_dec"),
    )
    return target_encode_oof(
        orders, "priority", "price_dec",
        fold_expr=F.col("o_orderkey") % 5,
    )


@register(
    "orders_targeted_delete",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_custkey FROM orders ORDER BY 1 LIMIT 3),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
    kr AS (SELECT CAST(count(*) AS BIGINT) AS nk
           FROM orders JOIN keys USING (o_custkey))
    SELECT 'pre' AS phase, tot.n AS n_rows, kr.nk AS n_key_rows,
           CAST(0 AS BIGINT) AS n_deleted
    FROM tot, kr
    UNION ALL
    SELECT 'post', tot.n - kr.nk, CAST(0 AS BIGINT), kr.nk FROM tot, kr
    """,
    doc="Targeted row delete, driver-gated end to end (sinks/"
    "manifest.delete_where - the GDPR / right-to-be-forgotten path, "
    "Delta's DELETE WHERE key IN (...)): orders lands in a scratch "
    "ManifestCatalog as three date-interleaved appends with per-dir "
    "Bloom bitmaps on o_custkey; deleting 3 customers' rows rewrites "
    "ONLY the dirs whose blooms might hold those keys (every other "
    "dir survives byte-for-byte - pruning proven separately in "
    "tests/test_manifest.py), commits atomically, and returns the "
    "deleted-row count (gated via the n_deleted column). The PRIOR "
    "version still reads the pre-delete rows (time travel until "
    "vacuum - the audit-trail-vs-erasure-deadline dial): the 'pre' "
    "row aggregates a versioned read AFTER the delete committed. "
    "NULL keys survive by three-valued IN semantics.",
    tags=("parity", "storage", "north-star"),
)
def orders_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("targeted_delete")

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    # three interleaved appends: each dir's custkey RANGE spans the
    # table, so only the blooms can localize a customer's rows
    for m in range(3):
        cat.append(
            orders.filter(F.month("o_orderdate") % 3 == m)
            .select("o_orderkey", "o_custkey"),
            "del.o",
            bloom_cols=["o_custkey"],
        )
    keys = [
        r[0]
        for r in orders.select("o_custkey").distinct().orderBy("o_custkey")
        .limit(3).collect()
    ]
    v_pre = cat.latest_manifest("del.o")["version"]
    n_del = cat.delete_where("del.o", "o_custkey", keys)
    pre_df = cat.read("del.o", version=v_pre)
    post_df = cat.read("del.o")
    key_col = F.col("o_custkey").isin(keys)
    pre = pre_df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(key_col.cast("bigint")).cast("bigint").alias("n_key_rows"),
    ).select(
        F.lit("pre").alias("phase"), "n_rows", "n_key_rows",
        F.lit(0).cast("bigint").alias("n_deleted"),
    )
    post = post_df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(key_col.cast("bigint")).cast("bigint").alias("n_key_rows"),
    ).select(
        F.lit("post").alias("phase"), "n_rows", "n_key_rows",
        F.lit(int(n_del)).cast("bigint").alias("n_deleted"),
    )
    return pre.unionByName(post).localCheckpoint(eager=True)


@register(
    "orders_retention_expiry",
    oracle="""
    WITH m AS (SELECT CAST(month(o_orderdate) AS INT) AS mo FROM orders),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM m),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS nx FROM m WHERE mo BETWEEN 1 AND 4)
    SELECT 'pre' AS phase, tot.n AS n_rows, ex.nx AS n_expired,
           CAST(0 AS BIGINT) AS n_deleted
    FROM tot, ex
    UNION ALL
    SELECT 'post', tot.n - ex.nx, CAST(0 AS BIGINT), ex.nx FROM tot, ex
    """,
    doc="Retention enforcement, end to end (sinks/manifest."
    "delete_range): orders lands in a scratch ManifestCatalog as "
    "three appends grouped by order month (months 1-4 / 5-8 / 9-12), "
    "each dir carrying min/max stats on the month column; expiring "
    "months 1-4 then UNLINKS the wholly-expired dir from the "
    "manifest without reading or rewriting it (after a NULL-presence "
    "probe - min/max can't prove NULL absence and BETWEEN is "
    "three-valued), leaves the disjoint dirs byte-for-byte, and "
    "returns the exact expired-row count (gated via n_deleted). "
    "The prior version still reads the pre-expiry rows (time travel "
    "until vacuum). Expiring a month of time-ordered appends is a "
    "manifest edit, not a rewrite - the 100-TB retention story.",
    tags=("parity", "storage", "north-star"),
)
def orders_retention_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("retention")

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.month("o_orderdate").cast("int").alias("mo")
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    for lo, hi in ((1, 4), (5, 8), (9, 12)):
        cat.append(
            orders.filter(F.col("mo").between(lo, hi)),
            "ret.o",
            stats_cols=["mo"],
        )
    v_pre = cat.latest_manifest("ret.o")["version"]
    n_del = cat.delete_range("ret.o", "mo", 1, 4)
    expired = F.col("mo").between(1, 4)
    pre = cat.read("ret.o", version=v_pre).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(expired.cast("bigint")).cast("bigint").alias("n_expired"),
    ).select(
        F.lit("pre").alias("phase"), "n_rows", "n_expired",
        F.lit(0).cast("bigint").alias("n_deleted"),
    )
    post = cat.read("ret.o").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(expired.cast("bigint")).cast("bigint").alias("n_expired"),
    ).select(
        F.lit("post").alias("phase"), "n_rows", "n_expired",
        F.lit(int(n_del)).cast("bigint").alias("n_deleted"),
    )
    return pre.unionByName(post).localCheckpoint(eager=True)


@register(
    "orders_targeted_update",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_custkey FROM orders ORDER BY 1 LIMIT 3),
    k AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_rows,
             round(sum(CAST(o_totalprice AS DECIMAL(20, 8))), 2) AS sum_pre,
             round(sum(CAST(o_totalprice * 1.1 AS DECIMAL(20, 8))), 2)
               AS sum_post
      FROM orders JOIN keys USING (o_custkey)
      GROUP BY 1
    )
    SELECT 'pre' AS phase, o_custkey AS custkey, n_rows,
           CAST(sum_pre AS DOUBLE) AS sum_price
    FROM k
    UNION ALL
    SELECT 'post', o_custkey, n_rows, CAST(sum_post AS DOUBLE) FROM k
    """,
    doc="Targeted row UPDATE, end to end (sinks/manifest."
    "update_where - Delta's UPDATE ... WHERE key IN, completing the "
    "catalog's CRUD surface): orders lands in a scratch "
    "ManifestCatalog as three date-interleaved appends with Blooms "
    "on o_custkey; a 10%% price uplift for 3 customers rewrites ONLY "
    "the dirs whose blooms might hold those keys, applying the set-"
    "expression (which reads the row's own column) to matching rows "
    "while everything else passes through byte-for-byte. The 'pre' "
    "row aggregates a versioned read AFTER the update committed "
    "(time travel); sums route through DECIMAL(20,8) so they are "
    "partition-order-independent on both engines.",
    tags=("parity", "storage", "north-star"),
)
def orders_targeted_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("targeted_update")

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    for m in range(3):
        cat.append(
            orders.filter(F.month("o_orderdate") % 3 == m)
            .select("o_orderkey", "o_custkey", "o_totalprice"),
            "upd.o",
            bloom_cols=["o_custkey"],
        )
    keys = [
        r[0]
        for r in orders.select("o_custkey").distinct().orderBy("o_custkey")
        .limit(3).collect()
    ]
    v_pre = cat.latest_manifest("upd.o")["version"]
    cat.update_where(
        "upd.o", "o_custkey", keys,
        {"o_totalprice": F.col("o_totalprice") * 1.1},
    )

    def _agg(df, phase):
        return (
            df.filter(F.col("o_custkey").isin(keys))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(20,8)")), 2
                ).cast("double").alias("sum_price"),
            )
            .select(F.lit(phase).alias("phase"), "custkey", "n_rows", "sum_price")
        )

    out = _agg(cat.read("upd.o", version=v_pre), "pre").unionByName(
        _agg(cat.read("upd.o"), "post")
    )
    return out.localCheckpoint(eager=True)


@register(
    "customer_kanonymity",
    oracle="""
    WITH l0 AS (
      SELECT c_custkey,
             CAST(c_nationkey AS VARCHAR) AS qn,
             c_mktsegment AS qs,
             CAST(CAST(floor(c_acctbal / 2500) AS BIGINT) AS VARCHAR) AS qb,
             count(*) OVER (PARTITION BY c_nationkey, c_mktsegment,
                            floor(c_acctbal / 2500)) AS c0
      FROM customer
    ),
    rem0 AS (SELECT * FROM l0 WHERE c0 < 5),
    l1 AS (SELECT *, count(*) OVER (PARTITION BY qn, qs) AS c1 FROM rem0)
    SELECT c_custkey, CAST(0 AS INT) AS anon_level, qn AS qi_nation,
           qs AS qi_segment, qb AS qi_balband
    FROM l0 WHERE c0 >= 5
    UNION ALL
    SELECT c_custkey, CAST(1 AS INT), qn, qs, '*' FROM l1 WHERE c1 >= 5
    UNION ALL
    SELECT c_custkey, CAST(2 AS INT), '*', '*', '*' FROM l1 WHERE c1 < 5
    """,
    doc="k-anonymity enforcement over quasi-identifiers (operators/"
    "privacy.py) - the re-identification-risk half of privacy prep "
    "(redact_pii strips direct identifiers; this bounds linkage "
    "attacks on what remains). Local-recoding generalize-then-"
    "suppress with k=5: rung 0 publishes rows whose (nation, "
    "segment, $2500 balance band) class holds >= 5 rows; the "
    "residual retries at the coarser (nation, segment); leftovers "
    "are suppressed ('*'). Class sizes are measured on the RESIDUAL "
    "at each rung - full-table counting would publish rows whose "
    "true anonymity set shrank below k when classmates exited at a "
    "finer rung. Scale shape: per rung ONE grouped count (map-side "
    "partial, result bounded by QI cardinality) broadcast-joined "
    "back null-safely - fact rows never shuffle, and each rung sees "
    "only the previous rung's tail. At sf0.01: 453 rows publish at "
    "rung 0, 1012 generalize to rung 1, 35 suppress.",
    tags=("north-star", "privacy", "parity"),
)
def customer_kanonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.privacy import (
        MASK,
        kanonymity_generalize,
    )

    cust = load(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(2500.0))
    ladder = [
        {
            "qi_nation": F.col("c_nationkey"),
            "qi_segment": F.col("c_mktsegment"),
            "qi_balband": band,
        },
        {
            "qi_nation": F.col("c_nationkey"),
            "qi_segment": F.col("c_mktsegment"),
            "qi_balband": F.lit(MASK),
        },
    ]
    return kanonymity_generalize(cust, ["c_custkey"], ladder, k=5)

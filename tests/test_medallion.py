"""Golden-path bronze → silver → gold pipeline test on
reference-shaped fixtures (FIXTURES.md §A; reference flow
``main.py:29-40``).

Covers the semantics SURVEY.md §2.11 pins down:
* NULL-vs-0 officer counts after inner explode + left join (§2.11-7)
* deterministic dedup keep-policy (§2.11-6)
* trim / initcap / to_date / year-arithmetic cleaning
* SCD2 invariants across two loads (one current row per key, changed
  rows expire + re-insert, unchanged keys untouched) (§2.11-5)
* guarded ratio + lag growth in the gold fact (s2g.py:126-141)
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
from end_to_end_etl_pipeline_spark.queries.medallion_queries import _pipeline_config
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

OVERVIEW_SCHEMA = (
    "company_name string, company_status string, date_of_creation string, "
    "jurisdiction string"
)
OFFICERS_SCHEMA = (
    "items array<struct<name:string,officer_role:string,appointed_on:string>>"
)
FUND_SCHEMA = (
    "company_number string, quarter_end_date date, total_revenue double, "
    "net_income double, ingestion_date date"
)


def _write_json(base, company, payload):
    d = os.path.join(base, "ingestion_date=2026-01-01", f"company_number={company}")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "data.json"), "w") as f:
        json.dump(payload, f, indent=2)


@pytest.fixture
def fixture_dirs(tmp_path):
    ov = str(tmp_path / "raw" / "overview")
    off = str(tmp_path / "raw" / "officers")
    fund = str(tmp_path / "raw" / "fundamentals")

    _write_json(ov, "C001", {
        "company_name": "Alpha Ltd", "company_status": "active",
        "date_of_creation": "2000-01-15", "jurisdiction": "uk",
    })
    _write_json(ov, "C002", {
        "company_name": "  Beta Plc  ", "company_status": "ACTIVE",
        "date_of_creation": "2010-06-01", "jurisdiction": "uk",
    })
    _write_json(ov, "C003", {
        "company_name": "Gamma LLP", "company_status": "dissolved",
        "date_of_creation": None, "jurisdiction": "uk",
    })
    _write_json(ov, "C004", {
        "company_name": "Delta Inc", "company_status": "active",
        "date_of_creation": "2015-03-09", "jurisdiction": "us",
    })
    # duplicate delivery for C001 under a second ingestion date
    d = os.path.join(ov, "ingestion_date=2026-01-02", "company_number=C001")
    os.makedirs(d)
    with open(os.path.join(d, "data.json"), "w") as f:
        json.dump({"company_name": "Alpha Ltd Redelivered",
                   "company_status": "active",
                   "date_of_creation": "2000-01-15", "jurisdiction": "uk"}, f)

    _write_json(off, "C001", {"items": [
        {"name": "Ann", "officer_role": "director", "appointed_on": "2001-01-01"},
        {"name": "Bob", "officer_role": "director", "appointed_on": "2002-01-01"},
        {"name": "Cas", "officer_role": "secretary", "appointed_on": "2003-01-01"},
    ]})
    _write_json(off, "C002", {"items": [
        {"name": "Dee", "officer_role": "director", "appointed_on": "2011-01-01"},
    ]})
    _write_json(off, "C003", {"items": []})  # empty array: explode drops → NULL count
    # C004: no officers file at all → NULL count

    os.makedirs(fund)
    with open(os.path.join(fund, "batch.csv"), "w") as f:
        f.write("company_number,quarter_end_date,total_revenue,net_income,ingestion_date\n")
        for q, (rev, ni) in {
            "2025-03-31": (100.0, 10.0), "2025-06-30": (110.0, 11.0),
            "2025-09-30": (121.0, -5.0), "2025-12-31": (0.0, 1.0),
        }.items():
            f.write(f"C001,{q},{rev},{ni},2026-01-01\n")
        f.write("C002,2025-12-31,50.0,5.0,2026-01-01\n")
    return {"overview": ov, "officers": off, "fundamentals": fund}


def _write_second_batch(dirs):
    with open(os.path.join(dirs["fundamentals"], "batch.csv"), "w") as f:
        f.write("company_number,quarter_end_date,total_revenue,net_income,ingestion_date\n")
        f.write("C001,2025-03-31,100.0,10.0,2026-02-01\n")   # unchanged tracked
        f.write("C001,2025-06-30,115.0,12.0,2026-02-01\n")   # changed → expire+insert
        f.write("C002,2026-03-31,60.0,6.0,2026-02-01\n")     # new key


def _config(dirs, as_of):
    return {
        "bronze": [
            {
                "table": "bronze.overview",
                "source": {"format": "json", "path": f"{dirs['overview']}/*/*/data.json",
                           "schema": OVERVIEW_SCHEMA},
                "path_key": {"name": "company_number",
                             "pattern": r"/company_number=([0-9A-Z]+)/[^/]+$"},
            },
            {
                "table": "bronze.officers",
                "source": {"format": "json", "path": f"{dirs['officers']}/*/*/data.json",
                           "schema": OFFICERS_SCHEMA},
                "path_key": {"name": "company_number",
                             "pattern": r"/company_number=([0-9A-Z]+)/[^/]+$"},
                "explode": {"key": "company_number", "array_col": "items"},
            },
            {
                "table": "bronze.fundamentals",
                "source": {"format": "csv", "path": dirs["fundamentals"],
                           "schema": FUND_SCHEMA},
            },
        ],
        "silver": [
            {
                "table": "silver.company_master",
                "from": "bronze.overview",
                "business_keys": ["company_number"],
                "derive": {
                    "company_name": "trim(company_name)",
                    "company_status": "initcap(company_status)",
                    "created_date": "to_date(date_of_creation)",
                    "is_active": "initcap(company_status) = 'Active'",
                    "company_age": "year(date'2026-01-01') - year(to_date(date_of_creation))",
                },
                "dedup": {"keys": ["company_number"],
                          "order_by": ["file_path DESC"]},  # latest delivery wins
                "feature_joins": [{
                    "from": "bronze.officers",
                    "group_by": ["company_number"],
                    "aggs": {"officer_count": "count(*)",
                             "distinct_roles": "count(DISTINCT officer_role)"},
                    "on": ["company_number"], "how": "left",
                }],
            },
            {
                "table": "silver.fundamentals",
                "from": "bronze.fundamentals",
                "business_keys": ["company_number", "quarter_end_date"],
                "scd": {"type": 2,
                        "business_keys": ["company_number", "quarter_end_date"],
                        "tracked_columns": ["total_revenue", "net_income"],
                        "as_of": as_of},
            },
        ],
        "gold": [
            {"table": "gold.dim_company", "from": "silver.company_master",
             "kind": "dimension"},
            {"table": "gold.fact_fundamentals", "from": "silver.fundamentals",
             "kind": "fact",
             "lag_growth": {"partition_by": ["company_number"],
                            "order_by": "quarter_end_date",
                            "value_col": "total_revenue", "out_col": "qoq_growth"},
             "derive": {"net_margin":
                        "CASE WHEN total_revenue IS NOT NULL AND total_revenue <> 0 "
                        "THEN net_income / total_revenue END"}},
        ],
    }


def test_medallion_end_to_end(spark, tmp_path, fixture_dirs):
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), catalog=cat)
    pipe.run(_config(fixture_dirs, "2026-01-01 00:00:00"))

    # -- silver company_master ---------------------------------------
    master = {r.company_number: r for r in pipe.catalog.read("silver.company_master").collect()}
    assert len(master) == 4  # dedup to one row per company
    assert master["C001"].company_name == "Alpha Ltd Redelivered"  # latest delivery won
    assert master["C002"].company_name == "Beta Plc"  # trimmed
    assert master["C002"].company_status == "Active"  # initcap
    assert master["C002"].is_active is True
    assert master["C003"].is_active is False
    assert master["C003"].created_date is None and master["C003"].company_age is None
    assert master["C001"].company_age == 26
    # NULL-vs-0 (SURVEY §2.11-7): empty items and missing file both NULL
    assert master["C001"].officer_count == 3
    assert master["C001"].distinct_roles == 2
    assert master["C002"].officer_count == 1
    assert master["C003"].officer_count is None
    assert master["C004"].officer_count is None

    # -- second load: one changed quarter, one new quarter ------------
    _write_second_batch(fixture_dirs)
    pipe.run(_config(fixture_dirs, "2026-02-01 00:00:00"))

    scd = pipe.catalog.read("silver.fundamentals")
    cur = scd.filter(F.col("is_current"))
    # exactly one current row per business key
    assert cur.groupBy("company_number", "quarter_end_date").count() \
              .filter("count > 1").count() == 0
    rows = {(r.company_number, str(r.quarter_end_date)): r for r in cur.collect()}
    assert rows[("C001", "2025-06-30")].total_revenue == 115.0  # new version current
    expired = scd.filter(~F.col("is_current")).collect()
    assert [(r.company_number, str(r.quarter_end_date), r.total_revenue)
            for r in expired] == [("C001", "2025-06-30", 110.0)]
    assert str(expired[0].effective_to) == "2026-02-01 00:00:00"
    # unchanged key kept its original version (no churn)
    assert str(rows[("C001", "2025-03-31")].effective_from) == "2026-01-01 00:00:00"
    assert ("C002", "2026-03-31") in rows  # new key inserted

    # -- gold fact ----------------------------------------------------
    fact = pipe.catalog.read("gold.fact_fundamentals")
    assert "last_updated_ts" not in fact.columns  # technical cols stripped
    assert fact.filter(~F.col("is_current")).count() == 0  # current snapshot only
    f1 = {(r.company_number, str(r.quarter_end_date)): r for r in fact.collect()}
    q2 = f1[("C001", "2025-06-30")]
    assert q2.qoq_growth == pytest.approx((115.0 - 100.0) / 100.0)
    zero_rev = f1[("C001", "2025-12-31")]
    assert zero_rev.net_margin is None  # guarded division at revenue 0
    assert zero_rev.qoq_growth == pytest.approx((0.0 - 121.0) / 121.0)
    assert f1[("C001", "2025-03-31")].qoq_growth is None  # first quarter: no lag


def test_manifest_batch_stage_budget(spark, tmp_path, fixture_dirs, run_counted):
    """Pinned Spark stage budget of one changed batch through a
    manifest-backed lake (ROADMAP aim 1: a speed claim rests on a
    deterministic count). Every table here is an unpartitioned
    ``replace_atomic`` commit, so its manifest records its schema and
    ``cat.read`` launches no job: the batch's stages are its writes and
    the shuffles inside them. The SCD2 duplicate-key check runs inside
    the SCD2 write, which shuffles the batch and the current target
    once, together, and the feature join is a shuffle join, not a
    broadcast job of its own."""
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"), catalog=cat)
    pipe.run(_config(fixture_dirs, "2026-01-01 00:00:00"))
    _write_second_batch(fixture_dirs)
    cfg = _config(fixture_dirs, "2026-02-01 00:00:00")
    _, _, stages = run_counted(lambda: pipe.run(cfg))
    # 30 when every catalog read inferred its schema from parquet
    # footers; 13 while the SCD2 merge shuffled source and target apart
    assert stages == 12

    tables = [spec["table"] for layer in cfg.values() for spec in layer]
    for t in tables:
        df, jobs, _ = run_counted(lambda t=t: cat.read(t))
        assert jobs == 0, t
        assert df.schema == spark.read.parquet(*cat.latest_manifest(t)["dirs"]).schema


def _restatement_batch(spark, sf_dir, out_dir):
    """``sf_dir``'s orders with the price of every 40th order changed:
    a restatement that moves ~2% of (customer, quarter) groups."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 40 == 0, F.col("o_totalprice") + 1.0)
        .otherwise(F.col("o_totalprice")),
    ).write.parquet(f"{out_dir}/orders.parquet")
    return str(out_dir)


def test_flagship_bronze_keeps_footer_types(spark, tmp_path, sf_smoke_dir):
    """The flagship's bronze scan declares its schema instead of
    inferring it from parquet footers (an inference job per batch).
    The declared types are exactly the inferred ones, plus the audit
    columns; a parquet bronze source without a schema is refused."""
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    pipe.run(_pipeline_config(sf_smoke_dir))
    bronze = pipe.catalog.read("bronze.orders").schema
    footer = spark.read.parquet(f"{sf_smoke_dir}/orders.parquet").schema
    assert bronze.names == footer.names + ["file_path", "last_updated_ts"]
    assert [bronze[c] for c in footer.names] == list(footer.fields)

    spec = _pipeline_config(sf_smoke_dir)["bronze"][0]
    del spec["source"]["schema"]
    with pytest.raises(ValueError, match="explicit 'schema'"):
        pipe.ingest_bronze(spec)


def test_flagship_restatement_stage_budget(spark, tmp_path, sf_smoke_dir, run_counted):
    """Pinned per-layer stage budget of one restatement batch through
    the flagship config: bronze is its write (no footer-inference
    job); silver is the ``orders_q`` write plus the SCD2 write's two
    stages: one map over the batch rows and the current target rows
    (one shuffle for the spine dedup, its per-key aggregates, the
    duplicate-key guard and the merge; no join), and the merge (no
    uniqueness job, no broadcast); gold is its window shuffle and
    write."""
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    pipe.run(_pipeline_config(sf_smoke_dir))
    cfg = _pipeline_config(_restatement_batch(spark, sf_smoke_dir, tmp_path / "b1"))
    cfg["silver"][1]["scd"]["as_of"] = "2026-02-01 00:00:00"
    layers = {
        "bronze": pipe.ingest_bronze,
        "silver": pipe.build_silver,
        "gold": pipe.publish_gold,
    }
    stages = {}
    for layer, build in layers.items():
        _, _, stages[layer] = run_counted(
            lambda: [build(spec) for spec in cfg[layer]]
        )
    assert stages == {"bronze": 1, "silver": 3, "gold": 2}
    # the batch restated something: the SCD2 merge expired rows
    assert pipe.catalog.read("silver.cust_quarter").filter(~F.col("is_current")).count()


def _feature_join_shape(cfg):
    """``cfg`` with ``silver.cust_quarter``'s dedup aggregates moved
    back into a ``feature_joins`` self-join of ``silver.orders_q``."""
    spec = cfg["silver"][1]
    keys = spec["dedup"]["keys"]
    spec["feature_joins"] = [{
        "from": spec["from"], "group_by": keys, "on": keys,
        "aggs": spec["dedup"].pop("aggs"),
    }]
    return cfg


def test_flagship_batches_past_first_load_match_feature_join_shape(
    spark, tmp_path, sf_smoke_dir, monkeypatch
):
    """The flagship through a first load and two restatement batches,
    once with ``dedup.aggs`` and once with the feature-join shape it
    replaced, each into its own lake: ``silver.cust_quarter`` is the
    same in both on every column, spine (``o_orderkey``,
    ``o_orderdate``, ``file_path``) and SCD2 columns included. Batch 1
    adds a ``(o_custkey, quarter)`` group the first load lacked;
    batch 2 moves a group's latest order to the quarter's start and
    restates its price, so another order becomes its spine row."""
    # one audit timestamp for both lakes: the spine carries bronze's
    # last_updated_ts, and a real clock would differ between them
    ts = F.lit("2026-03-01 00:00:00").cast("timestamp")
    monkeypatch.setattr(F, "current_timestamp", lambda: ts)
    q = F.expr("CAST(date_trunc('quarter', o_orderdate) AS DATE)")
    orders = spark.read.parquet(f"{sf_smoke_dir}/orders.parquet")
    sizes = orders.groupBy("o_custkey", q.alias("quarter")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max_by("o_orderkey", F.struct("o_orderdate", -F.col("o_orderkey"))).alias("latest"),
    )
    new_cust, new_q = sizes.filter("n = 1").orderBy("o_custkey", "quarter").first()[:2]
    latest = sizes.filter("n > 2").orderBy("o_custkey", "quarter").first().latest

    is_new = (F.col("o_custkey") == new_cust) & (q == F.lit(new_q))
    moved = F.col("o_orderkey") == latest
    batches = [
        orders.filter(~is_new),
        orders,
        orders.withColumns({
            "o_orderdate": F.when(
                moved, F.expr("CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP_NTZ)")
            ).otherwise(F.col("o_orderdate")),
            "o_totalprice": F.when(moved, F.col("o_totalprice") + 1.0)
            .otherwise(F.col("o_totalprice")),
        }),
    ]
    lakes = {
        "aggs": MedallionPipeline(spark, str(tmp_path / "aggs")),
        "feature_join": MedallionPipeline(spark, str(tmp_path / "feature_join")),
    }
    for i, batch in enumerate(batches):
        batch.write.parquet(str(tmp_path / f"b{i}" / "orders.parquet"))
        for shape, pipe in lakes.items():
            cfg = _pipeline_config(str(tmp_path / f"b{i}"))
            cfg["silver"][1]["scd"]["as_of"] = f"2026-0{i + 1}-01 00:00:00"
            pipe.run(cfg if shape == "aggs" else _feature_join_shape(cfg))

    silver = {
        shape: pipe.catalog.read("silver.cust_quarter")
        for shape, pipe in lakes.items()
    }
    assert silver["aggs"].columns == silver["feature_join"].columns
    got = _rows(lakes["aggs"].catalog, "silver.cust_quarter")
    assert got == _rows(lakes["feature_join"].catalog, "silver.cust_quarter")

    new_rows = [r for r in got if (r.o_custkey, r.quarter) == (new_cust, new_q)]
    assert [str(r.effective_from) for r in new_rows] == ["2026-02-01 00:00:00"]
    [(cust, quarter)] = {
        (r.o_custkey, r.quarter) for r in got if r.o_orderkey == latest
    }
    versions = sorted(
        (r for r in got if (r.o_custkey, r.quarter) == (cust, quarter)),
        key=lambda r: r.effective_from,
    )
    assert [r.o_orderkey == latest for r in versions] == [True, False]
    assert [r.is_current for r in versions] == [False, True]
    assert ["/b0/" in versions[0].file_path, "/b2/" in versions[1].file_path] == [True, True]


def _rows(cat, table):
    return sorted(cat.read(table).collect(), key=repr)


def test_default_catalog_commit_crash_converges(spark, tmp_path, fixture_dirs, monkeypatch):
    """With no ``catalog=``, every layer is a ``ManifestCatalog``
    commit under the bare root. A crash at the gold commit of the
    second batch leaves gold at its version-1 rows, and an un-patched
    re-run of that batch converges on an uninterrupted run (ROADMAP
    item 3, first slice: one commit point)."""
    gold = "gold.fact_fundamentals"
    first = _config(fixture_dirs, "2026-01-01 00:00:00")
    second = _config(fixture_dirs, "2026-02-01 00:00:00")
    pipe = MedallionPipeline(spark, str(tmp_path / "lake"))
    ref = MedallionPipeline(spark, str(tmp_path / "ref"))  # uninterrupted
    pipe.run(first)
    ref.run(first)
    assert pipe.catalog.latest_manifest(gold)["version"] == 1
    v1_rows = _rows(pipe.catalog, gold)

    _write_second_batch(fixture_dirs)
    commit = pipe.catalog.replace_atomic

    def crash_at_gold(df, name, *args, **kwargs):
        if name == gold:
            raise RuntimeError("injected crash at the gold commit")
        return commit(df, name, *args, **kwargs)

    monkeypatch.setattr(pipe.catalog, "replace_atomic", crash_at_gold)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(second)
    monkeypatch.undo()
    assert pipe.catalog.latest_manifest(gold)["version"] == 1
    assert _rows(pipe.catalog, gold) == v1_rows

    pipe.run(second)
    ref.run(second)
    for table in (spec["table"] for spec in second["gold"]):
        assert _rows(pipe.catalog, table) == _rows(ref.catalog, table), table
    assert _rows(pipe.catalog, gold) != v1_rows


def test_silver_scd1_keeps_unmatched_keys(spark, tmp_path):
    """Regression: an scd type-1 silver spec must UPSERT, not full-
    overwrite — keys absent from the current batch survive."""
    pipe = MedallionPipeline(spark, str(tmp_path / "lake1"))
    spec = {
        "from": "bronze.src", "table": "silver.t",
        "scd": {"type": 1, "business_keys": ["k"], "tracked_columns": ["v"]},
    }
    pipe.catalog.replace_atomic(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), "bronze.src"
    )
    pipe.build_silver(spec)
    pipe.catalog.replace_atomic(
        spark.createDataFrame([(2, "b2"), (3, "c")], "k int, v string"), "bronze.src"
    )
    out = {r.k: r.v for r in pipe.build_silver(spec).collect()}
    assert out == {1: "a", 2: "b2", 3: "c"}  # key 1 survived, 2 updated
    with pytest.raises(ValueError, match="unknown scd type"):
        pipe.build_silver({**spec, "scd": {"type": 9, "business_keys": ["k"],
                                           "tracked_columns": ["v"]}})

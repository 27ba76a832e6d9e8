"""The benchmark workloads.

Each workload has the same life cycle, driven by ``run.py``:

* ``prepare`` — generate its inputs (not timed, not part of set-up);
* ``setup`` — program-side set-up after the session exists;
* ``unit`` — one closed-loop unit of work (the warm-up and timed ones);
* ``before_unit`` / ``check`` — untimed per-unit preparation and the
  correctness check of the unit just run.

``medallion_incremental`` pushes one restatement batch per unit
through the ``medallion_gold_fact`` pipeline config on top of a
history loaded in set-up; ``lake_query_mix`` runs two read-only
queries per unit through the noop sink.
"""

from __future__ import annotations

import copy
import datetime as dt
import decimal
import glob
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd

import gen

FIRST_LOAD_SF = 0.005  # base orders per copy: 7.5k, x gen.COPIES = 30k orders
MIX_SF = 0.005
AS_OF0 = dt.datetime(2026, 1, 1)

GOLD_COLS = "o_custkey, quarter, total_revenue, n_orders, qoq_growth, revenue_per_order"

#: lake_query_mix, in pass order
MIX_QUERIES = ("mmr_diverse_rerank", "dedup_store_probe")


# -- lake inspection (plain files, no Spark) --------------------------------


def tree_bytes(path: str) -> int:
    total = 0
    for d, _subdirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def _local(uri: str) -> str:
    return uri[len("file://"):] if uri.startswith("file://") else uri


def latest_dirs(table_dir: str) -> list[str]:
    """Data dirs of the newest committed manifest of one table."""
    versions = sorted(glob.glob(f"{table_dir}/_manifests/manifest-*.json"))
    with open(versions[-1]) as f:
        m = json.load(f)
    dirs = list(m["dirs"] or [])
    for ds in (m.get("bucket_dirs") or {}).values():
        dirs += ds
    return [_local(d) for d in sorted(set(dirs))]


def lake_tables(lake: str) -> list[str]:
    return sorted(os.path.dirname(p) for p in glob.glob(f"{lake}/**/_manifests", recursive=True))


def space_amp(lake: str) -> float:
    """Lake bytes on disk over the bytes of each table's latest version."""
    live = sum(tree_bytes(d) for t in lake_tables(lake) for d in latest_dirs(t))
    return tree_bytes(lake) / live


def parquet_sql(table_dir: str) -> str:
    files = [f for d in latest_dirs(table_dir) for f in sorted(glob.glob(f"{d}/*.parquet"))]
    return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"


# -- medallion ---------------------------------------------------------------


def medallion_config(input_dir: str, as_of: dt.datetime) -> dict:
    """The registry's ``medallion_gold_fact`` pipeline config, reading
    ``input_dir/orders.parquet``, with the SCD2 ``as_of`` of this batch."""
    from end_to_end_etl_pipeline_spark.queries.medallion_queries import _pipeline_config

    cfg = copy.deepcopy(_pipeline_config(input_dir))
    for spec in cfg["silver"]:
        if "scd" in spec:
            spec["scd"]["as_of"] = as_of.strftime("%Y-%m-%d %H:%M:%S")
    return cfg


def gold_mismatches(lake: str, orders_path: str) -> tuple[int, int]:
    """Rows in which gold and the registry oracle over ``orders_path``
    differ (both directions, with multiplicity), and the oracle's row
    count: one row per valid (customer, quarter) group."""
    from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")
        con.execute(
            f"CREATE VIEW gold AS SELECT {GOLD_COLS} FROM "
            f"{parquet_sql(f'{lake}/gold/fact_cust_quarter')}"
        )
        con.execute(
            f"CREATE VIEW oracle AS SELECT {GOLD_COLS} FROM "
            f"({REGISTRY['medallion_gold_fact'].oracle})"
        )
        (n,) = con.execute(
            "SELECT (SELECT count(*) FROM (SELECT * FROM gold EXCEPT ALL SELECT * FROM oracle))"
            " + (SELECT count(*) FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM gold))"
        ).fetchone()
        (rows,) = con.execute("SELECT count(*) FROM oracle").fetchone()
    finally:
        con.close()
    return n, rows


def scd_state(lake: str, as_of: dt.datetime) -> dict:
    """SCD2 bookkeeping of ``silver.cust_quarter``: current rows, keys
    with a current row, keys with more than one, history rows, and the
    rows this ``as_of`` inserted or expired."""
    ts = as_of.strftime("%Y-%m-%d %H:%M:%S")
    con = duckdb.connect()
    try:
        src = parquet_sql(f"{lake}/silver/cust_quarter")
        row = con.execute(
            f"""
            SELECT count(*) FILTER (WHERE is_current),
                   count(DISTINCT (o_custkey, quarter)) FILTER (WHERE is_current),
                   (SELECT count(*) FROM (
                      SELECT 1 FROM {src} WHERE is_current
                      GROUP BY o_custkey, quarter HAVING count(*) > 1)),
                   count(*) FILTER (WHERE NOT is_current),
                   count(*) FILTER (WHERE effective_from = TIMESTAMP '{ts}'),
                   count(*) FILTER (WHERE effective_to = TIMESTAMP '{ts}'),
                   count(*)
            FROM {src}
            """
        ).fetchone()
    finally:
        con.close()
    keys = ("current", "current_keys", "multi_current_keys", "history",
            "inserted", "expired", "rows")
    return dict(zip(keys, row))


class MedallionIncremental:
    """Set-up: an untimed first load. Unit: one restatement batch (~1% of
    (customer, quarter) groups) through the same pipeline, with a
    later ``as_of`` per batch."""

    queries_per_unit = None  # a batch is a pipeline run, not a query

    def __init__(self, run):
        self.run = run
        self.input_bytes: list[int] = []  # per timed unit
        self.landed_bytes: list[int] = []
        self.input_rows: list[int] = []
        self.useful: list[tuple[int, int]] = []  # (inserted + expired, written)

    def _pipeline(self, lake: str):
        from end_to_end_etl_pipeline_spark.plans.medallion import MedallionPipeline
        from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

        cat = ManifestCatalog(self.run.spark, f"file://{lake}")
        pipe = MedallionPipeline(self.run.spark, lake, catalog=cat)
        if self.run.tracer is not None:
            from spans import instrument_pipeline

            instrument_pipeline(self.run.tracer, pipe)
        return pipe

    def prepare(self) -> list[str]:
        first = gen.first_load_orders(self.run.seed, FIRST_LOAD_SF)
        self.first_path = f"{self.run.work}/inputs/first_load/orders.parquet"
        gen.write_parquet(first, self.first_path)
        self.stream = gen.RestatementStream(first, self.run.seed)
        self.lake = f"{self.run.work}/lake"
        self.effective_path = f"{self.run.work}/checks/effective.parquet"
        self.batch = 0
        return [self.first_path]

    def setup(self) -> None:
        self._pipeline(self.lake).run(
            medallion_config(os.path.dirname(self.first_path), AS_OF0)
        )

    def before_unit(self, i: int) -> None:
        batch = self.stream.next_batch()
        self.batch = self.stream.batches
        self.batch_path = f"{self.run.work}/inputs/batch{self.batch:04d}/orders.parquet"
        self.batch_rows = len(batch)
        self.batch_bytes = gen.write_parquet(batch, self.batch_path)
        gen.write_parquet(self.stream.effective, self.effective_path)
        self.run.input_files.append(self.batch_path)
        self.before = tree_bytes(self.lake)

    def as_of(self) -> dt.datetime:
        return AS_OF0 + dt.timedelta(days=self.batch)

    def unit(self, i: int) -> None:
        cfg = medallion_config(os.path.dirname(self.batch_path), self.as_of())
        self._pipeline(self.lake).run(cfg)

    def check(self, i: int, timed: bool) -> bool:
        bad, groups = gold_mismatches(self.lake, self.effective_path)
        state = scd_state(self.lake, self.as_of())
        ok = (
            bad == 0
            and groups > 0  # an empty gold checks nothing
            and state["multi_current_keys"] == 0
            and state["history"] == self.stream.history_rows
            and state["current"] == state["current_keys"] == groups
        )
        if timed:
            self.input_bytes.append(self.batch_bytes)
            self.input_rows.append(self.batch_rows)
            self.landed_bytes.append(tree_bytes(self.lake) - self.before)
            self.useful.append((state["inserted"] + state["expired"], state["rows"]))
        return ok

    def write_metrics(self) -> dict:
        """Lake bytes landed by the timed units per input byte, lake bytes
        per live byte at the end, and the share of SCD2 rows written that
        were inserted or expired."""
        if not self.useful:  # no timed unit got as far as its check
            return {"write_amp": None, "space_amp": None, "useful_write_ratio": None}
        useful, wrote = map(sum, zip(*self.useful))
        return {
            "write_amp": sum(self.landed_bytes) / sum(self.input_bytes),
            "space_amp": space_amp(self.lake),
            "useful_write_ratio": useful / wrote,
        }


# -- lake query mix -----------------------------------------------------------


def _norm(v):
    """Engine-neutral cell value for comparing a Spark result with its
    DuckDB oracle (floats by repr: matched queries round on both sides)."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return (8, tuple(_norm(x) for x in v))
    if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
        return (0, "")
    if isinstance(v, (bool, np.bool_)):
        return (1, str(int(v)))
    if isinstance(v, (float, np.floating)):
        return (2, "nan" if math.isnan(v) else repr(float(v)))
    if isinstance(v, (int, np.integer)):
        return (3, str(int(v)))
    if isinstance(v, (dt.datetime, dt.date)):
        ts = pd.Timestamp(v)
        return (4, (ts.tz_localize(None) if ts.tzinfo else ts).isoformat())
    if isinstance(v, decimal.Decimal):
        return (6, str(v))
    return (9, str(v))


def frames_match(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b) or len(a) == 0:
        return False
    cols = sorted(a.columns)

    def rows(df):
        return sorted(tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False))

    return rows(a) == rows(b)


class LakeQueryMix:
    """Unit: one pass over ``MIX_QUERIES`` on a seeded lake, each result
    written to the noop sink. The warm-up pass collects every result
    instead, and the check compares them with the registry oracles."""

    queries_per_unit = len(MIX_QUERIES)
    input_rows = None  # queries, not a row stream

    def __init__(self, run):
        self.run = run
        self.collected: dict[str, pd.DataFrame] = {}

    def prepare(self) -> list[str]:
        self.lake = f"{self.run.work}/inputs/lake"
        self.table_names = []
        for name, table in gen.lake_tables(self.run.seed, MIX_SF).items():
            gen.write_parquet(table, f"{self.lake}/{name}.parquet")
            self.table_names.append(name)
        return [f"{self.lake}/{t}.parquet" for t in self.table_names]

    def setup(self) -> None:
        from end_to_end_etl_pipeline_spark.queries.catalog import load
        from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

        spark = self.run.spark
        self.catalog = ManifestCatalog(spark, f"file://{self.run.work}/store")
        self.store = self._store("dedup.sigs")
        docs = (
            load(spark, self.lake, "documents")
            .select("doc_id", "text")
            .repartition(spark.sparkContext.defaultParallelism)
        )
        with self.run.span("operators.dedup_store.ingest"):
            self.store.ingest(docs, "text")

    def _store(self, table: str):
        from end_to_end_etl_pipeline_spark.operators.dedup_store import MinHashDedupStore

        return MinHashDedupStore(
            self.catalog, table, num_hashes=16, bands=4, shingle_len=6, threshold=0.6
        )

    def _probe_batch(self):
        """A realistic ingest batch: every 50th document, shifted to new
        ids and with its first 7 characters dropped (a near-duplicate)."""
        from pyspark.sql import functions as F

        from end_to_end_etl_pipeline_spark.queries.catalog import load

        spark = self.run.spark
        return (
            load(spark, self.lake, "documents")
            .filter(F.col("doc_id") % 50 == 0)
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, 8)").alias("text"),
            )
            .repartition(spark.sparkContext.defaultParallelism)
        )

    def _query(self, name: str):
        if name == "dedup_store_probe":
            batch = self._probe_batch()
            with self.run.span("operators.dedup_store.probe"):
                _accepted, rejected = self.store.probe(batch, "text")
            return rejected
        from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY

        return REGISTRY[name].spark(self.run.spark, self.lake)

    def before_unit(self, i: int) -> None:
        pass

    def unit(self, i: int) -> None:
        collect = i == 0  # the warm-up pass keeps results for the check
        for name in MIX_QUERIES:
            with self.run.span(f"queries.{name}"):
                df = self._query(name)
                if collect:
                    self.collected[name] = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()

    def check(self, i: int, timed: bool) -> bool:
        if timed:
            return True  # noop-sink passes raise or pass; values checked at warm-up
        from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY

        con = duckdb.connect()
        try:
            for t in self.table_names:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.lake}/{t}.parquet')"
                )
            ok = all(
                frames_match(self.collected[n], con.execute(REGISTRY[n].oracle).df())
                for n in MIX_QUERIES
                if n != "dedup_store_probe"
            )
        finally:
            con.close()
        return ok and self._probe_matches_ingest()

    def _probe_matches_ingest(self) -> bool:
        """The probe's rejections must equal what an ``ingest`` of the
        same batch into a shallow clone of the store rejects."""
        self.catalog.shallow_clone("dedup.sigs", "dedup.sigs_check")
        _acc, rejected = self._store("dedup.sigs_check").ingest(self._probe_batch(), "text")
        got = self.collected["dedup_store_probe"]
        want = rejected.toPandas()
        return len(want) > 0 and frames_match(got, want)

    def write_metrics(self) -> dict:
        return {"write_amp": None, "space_amp": None, "useful_write_ratio": None}


WORKLOADS = {
    "medallion_incremental": MedallionIncremental,
    "lake_query_mix": LakeQueryMix,
}

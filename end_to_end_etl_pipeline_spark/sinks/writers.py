"""Sink / DDL operators (SURVEY.md §2.2, K1-K10).

The reference writes managed Delta tables on Databricks. Delta's jars
are not on this classpath, so table commits go through
``sinks/manifest.py:ManifestCatalog`` (versioned-manifest commits,
its ``optimize(cluster_by=…)`` is the K8 OPTIMIZE/ZORDER stand-in).
This module holds the rest of the sink surface:

* K1 overwrite (+schema overwrite — trivially true for parquet rewrite)
* K2 append
* K3 partitioned write (hive-style → static partition pruning)
* K7 CSV / ORC / sharded-JSONL exports and globally sorted writes
* ``MetastoreCatalog`` — the same catalog surface over Spark's
  session catalog (the reference's 3-level table names)

MERGE (K4-K6) lives in ``operators/scd.py`` as a join+union plan
published by one catalog commit — see there for the scale discussion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_overwrite(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """K1/K3 — full-refresh overwrite, optionally hive-partitioned.

    Partition columns should be low-cardinality (status, month) —
    per-day partitioning of high-frequency data is the small-files
    antipattern SURVEY.md §4 flags in the reference's gold config.
    """
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_append(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """K2 — append new row versions (SCD2 insert leg)."""
    writer = df.write.mode("append")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(
    df: DataFrame,
    path: str,
    header: bool = True,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """K7 — headered CSV sink (reference exports intermediate frames
    to CSV in ``aws/y_finance_raw_ingestion.ipynb`` cells 4/6/8).

    Distributed write — one file per partition, no driver collect.
    CSV is untyped on disk; pair with :func:`sources.readers.read_csv`
    and an explicit schema for a lossless round-trip (proved by the
    ``csv_scan_roundtrip`` oracle query)."""
    writer = df.write.mode(mode).option("header", header)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.csv(path)


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> None:
    """ORC sink — typed columnar output with the same distributed
    write path as parquet (round-trip proved by the
    ``orc_scan_roundtrip`` oracle query)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.format("orc").save(path)


class MetastoreCatalog:
    """Metastore-addressed catalog: the reference's 3-level
    `` `companies-data`.bronze.overview `` naming
    (``medallion/bronze/config_company_house.json:2-4``,
    ``medallion/bronze/ds2b_company_house.py:96``) over Spark's
    session catalog — tables live behind ``saveAsTable``/
    ``spark.table`` names instead of paths, so the same pipeline
    config runs against a Hive metastore / Unity-style catalog on a
    cluster (pair with ``create_spark_session(enable_hive_support=
    True)`` for cross-session persistence; the in-memory session
    catalog works identically within one session).

    Name resolution: ``zone.table`` → database ``zone`` (created on
    demand); ``cat.zone.table`` keeps ``cat`` when it is a registered
    Spark catalog, otherwise maps it onto the session catalog — OSS
    Spark without a configured V2 catalog plugin has exactly one
    writable catalog, so the reference's workspace-catalog level
    collapses onto it (same tables, same 2-level addressing
    underneath). Dashes and other specials are backtick-safe.

    Same operator surface as ``sinks.manifest.ManifestCatalog``
    (exists / read / overwrite / append / replace_atomic / drop), so ``SCDEngine`` /
    ``MedallionPipeline`` plug in unchanged. ``replace_atomic`` here
    is the metastore's CREATE-OR-REPLACE: the table pointer flips at
    commit (Delta/Iceberg make that transactional on a cluster; the
    parquet session catalog approximates it with overwrite mode).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark

    @staticmethod
    def _split_name(name: str) -> list[str]:
        """Split a (possibly backtick-quoted) table name on the dots
        OUTSIDE backticks, stripping the quotes: `` `my.catalog`.bronze.t ``
        → ['my.catalog', 'bronze', 't']. A naive ``name.split('.')``
        would shear the quoted part in two. (Literal backticks inside
        an identifier — the ``` `` ``` escape — are not supported;
        every other special character is.)"""
        parts: list[str] = []
        buf: list[str] = []
        in_quotes = False
        for ch in name:
            if ch == "`":
                in_quotes = not in_quotes
            elif ch == "." and not in_quotes:
                parts.append("".join(buf))
                buf = []
            else:
                buf.append(ch)
        parts.append("".join(buf))
        return parts

    def _resolve(self, name: str) -> str:
        parts = self._split_name(name)
        if len(parts) == 3:
            cats = {c.name for c in self.spark.catalog.listCatalogs()}
            if parts[0] not in cats:
                parts = parts[1:]  # collapse workspace level (see doc)
        if len(parts) >= 2:
            db = ".".join(f"`{p}`" for p in parts[:-1])
            self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
        return ".".join(f"`{p}`" for p in parts)

    def exists(self, name: str) -> bool:
        """K10 — metastore probe (reference branches create-vs-merge
        on ``spark.catalog.tableExists``)."""
        parts = self._split_name(name)
        if len(parts) == 3:
            cats = {c.name for c in self.spark.catalog.listCatalogs()}
            if parts[0] not in cats:
                parts = parts[1:]
        # re-quote each part: tableExists parses its argument, so a
        # bare join would shear a dotted part back apart (and choke
        # on dashes) — the exact mis-split _split_name exists to avoid
        return self.spark.catalog.tableExists(
            ".".join(f"`{p}`" for p in parts)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.table(self._resolve(name))

    def overwrite(self, df: DataFrame, name: str, partition_by=None) -> None:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("parquet").saveAsTable(self._resolve(name))

    def append(self, df: DataFrame, name: str, partition_by=None) -> None:
        w = df.write.mode("append").option("mergeSchema", "true")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("parquet").saveAsTable(self._resolve(name))

    def replace_atomic(self, df: DataFrame, name: str, partition_by=None) -> None:
        # The input plan may read the very table being replaced (SCD
        # merges do); materialize the new state to a stage table
        # first, then overwrite the target from the stage — the
        # classic two-step a metastore needs when the engine lacks
        # MVCC table formats (Delta/Iceberg replace this whole method
        # with one transactional MERGE/REPLACE).
        target = self._resolve(name)
        # stage table sits next to the target (same database), suffix
        # INSIDE the backticks so quoted names stay well-formed
        stage = f"{target[:-1]}__stage`" if target.endswith("`") else f"{target}__stage"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.format("parquet").saveAsTable(stage)
        try:
            w2 = self.spark.table(stage).write.mode("overwrite")
            if partition_by:
                w2 = w2.partitionBy(*partition_by)
            w2.format("parquet").saveAsTable(target)
        finally:
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")

    def add_columns(self, name: str, columns: dict[str, str]) -> None:
        """K9, literal form — ``ALTER TABLE … ADD COLUMNS``: the
        reference backfills SCD columns onto an existing table via SQL
        DDL (``medallion/silver/b2s_yfinance.py:46-61``). Existing
        rows read the new columns as NULL; a metadata-only operation
        (no data rewrite) at any table size. ``columns`` maps name →
        Spark SQL type string (``{"is_current": "boolean"}``).
        ``ManifestCatalog`` covers the same capability with mergeSchema
        appends; this is the DDL-statement surface for metastore
        deployments."""
        cols = ", ".join(f"`{c}` {t}" for c, t in columns.items())
        self.spark.sql(f"ALTER TABLE {self._resolve(name)} ADD COLUMNS ({cols})")

    def drop(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {self._resolve(name)}")


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    num_files: int = 8,
) -> None:
    """Globally-sorted export: range-partition on the sort key (each
    output file covers a disjoint, ordered key range) and sort within
    each partition — total order across the file sequence without a
    single-reducer global sort. The export shape binary-search /
    merge-join consumers and columnar readers with min/max skipping
    want; the range partitioner samples key quantiles so files are
    balanced even on skewed keys.
    """
    cols = [F.col(c) for c in sort_cols]
    (
        df.repartitionByRange(num_files, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_jsonl_sharded(
    df: DataFrame,
    path: str,
    shard_col: str | None = None,
    n_shards: int | None = None,
    id_col: str | None = None,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """Training-data export: newline-delimited JSON, the interchange
    format every tokenizer/training stack ingests. Three sharding
    modes:

    * ``shard_col`` — one output subdir per existing shard value
      (``partitionBy``), e.g. the ``hash_shard`` column, so a
      downstream loader maps shard → worker deterministically;
    * ``n_shards`` + ``id_col`` — derive the shard here via the same
      content-addressed ``hash_bucket`` the sampling operators use
      (stable under reruns/appends, unlike ``repartition`` round-robin);
    * neither — plain distributed write, one file per task.

    Always a distributed write (no driver collect); gzip per file by
    default, the usual corpus-at-rest tradeoff."""
    if shard_col is None and n_shards is not None:
        if id_col is None:
            raise ValueError("n_shards requires id_col to derive the shard")
        from end_to_end_etl_pipeline_spark.operators.sampling import hash_bucket

        df = df.withColumn("shard", hash_bucket(F.col(id_col), n_shards))
        shard_col = "shard"
    writer = df.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    if shard_col:
        writer = writer.partitionBy(shard_col)
    writer.json(path)

"""Source operators (SURVEY.md §2.1, S1-S7).

Every scan takes an *explicit* schema (StructType or DDL string) — the
reference's deliberate stance (no inference pass over 100 TB of files,
no ``_corrupt_record`` drift; reference ``utils/schema.py`` +
``medallion/bronze/ds2b_company_house.py:58-62``). At scale an
inference pass is a full extra read of the dataset, so it is simply not
offered here.

Scan operators return lazy DataFrames; Catalyst pushes filters and
prunes columns into the file scan (verify with
``df.explain("formatted")`` → ``PushedFilters`` / ``ReadSchema``).

The reference's pre-Spark REST extract (S8, an AWS Glue pythonshell
job that lands raw JSON on S3 before Spark runs) has no counterpart
here: no pipeline config reaches an HTTP source, so these scans read
whatever has already landed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_json(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    multiline: bool = True,
) -> DataFrame:
    """S1 — multiline JSON scan with explicit schema.

    Capability of reference ``medallion/bronze/ds2b_company_house.py:58-62``
    (4-level glob over per-entity files, ``multiline=true``).
    """
    reader = spark.read.schema(schema)
    if multiline:
        reader = reader.option("multiline", "true")
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    header: bool = True,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S2 — CSV scan with explicit schema, header, PERMISSIVE.

    Malformed rows become nulls instead of failing the job (reference
    ``medallion/bronze/ds2b_yfinance.py:54-60``).
    """
    return (
        spark.read.format("csv")
        .schema(schema)
        .option("header", str(header).lower())
        .option("mode", mode)
        .load(path)
    )


def read_orc(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """ORC scan (columnar alternative to parquet for Hive-heritage
    lakes). Schema optional — ORC files are self-describing like
    parquet; pass one to pin column types against drift. Vectorized
    reader + predicate pushdown apply exactly as for parquet."""
    reader = spark.read.format("orc")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Columnar scan with explicit schema. Parquet files carry their
    own, but reading without one runs a footer-inference job before
    the scan; the declared schema also pins column types against a
    drifting landing zone."""
    return spark.read.schema(schema).parquet(path)


def with_file_metadata(df: DataFrame) -> DataFrame:
    """S4 — file-metadata virtual column: source path per row, as
    ``file_path``.

    Uses the ``_metadata`` hidden column (OSS Spark ≥3.2 for file
    sources) rather than ``input_file_name()`` — same choice as the
    reference (``medallion/bronze/ds2b_company_house.py:63``).
    """
    return df.withColumn("file_path", F.col("_metadata.file_path"))


def with_path_key(
    df: DataFrame,
    key_name: str,
    pattern: str = r"/([0-9A-Z]+)/[^/]+$",
) -> DataFrame:
    """S5 — derive a business key from the ``file_path`` directory
    layout (reference ``medallion/bronze/ds2b_company_house.py:64-67``)."""
    return df.withColumn(key_name, F.regexp_extract(F.col("file_path"), pattern, 1))


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text source: one row per line (``value string``) — the
    landing format for corpus dumps that predate any schema (the step
    before a documents table exists). Splits parallelize per
    file/line range exactly like any file scan; downstream parsing is
    ordinary column work."""
    return spark.read.text(path)

"""File-scan family under the driver's oracle (SURVEY.md §2.1
S1/S2/S4/S5).

The reference's core identity is file ingest: 4-level-glob multiline
JSON per entity (``medallion/bronze/ds2b_company_house.py:58-67``)
and headered CSV directories (``ds2b_yfinance.py:54-60``), each with
an explicit schema, the ``_metadata.file_path`` virtual column (S4)
and a key regexp-extracted from the directory layout (S5). These
queries materialize a driver table into exactly those layouts under a
scratch dir, read it back through the engine's readers, and let the
oracle compare against the original parquet — proving the full
write→layout→glob→schema→metadata→extract loop.

The JSON fixture writer collects the 25-row ``nation`` dim on the
driver — bounded by construction (dims, not facts, get per-entity
file layouts); the CSV fixture is written distributed by Spark.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from end_to_end_etl_pipeline_spark.queries.catalog import (
    load,
    register,
    scratch_root,
)
from end_to_end_etl_pipeline_spark.sources.readers import (
    read_csv,
    read_json,
    with_file_metadata,
    with_path_key,
)

NATION_SCHEMA = StructType(
    [
        StructField("n_nationkey", IntegerType()),
        StructField("n_name", StringType()),
        StructField("n_regionkey", IntegerType()),
    ]
)

SUPPLIER_SCHEMA = StructType(
    [
        StructField("s_suppkey", LongType()),
        StructField("s_name", StringType()),
        StructField("s_nationkey", IntegerType()),
        StructField("s_acctbal", DoubleType()),
    ]
)


def _json_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write nation as per-key multiline JSON:
    ``base/ingestion_date=2026-01-01/key=<nationkey>/data.json`` —
    the reference's S3 layout (``aws/ ch_ingest_company_overview_raw.py:62-67``)."""
    base = os.path.join(scratch_root("scan_fixtures"), "nation_json")
    rows = load(spark, sf_dir, "nation").collect()  # 25-row dim: bounded
    for r in rows:
        d = os.path.join(base, "ingestion_date=2026-01-01", f"key={r.n_nationkey}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data.json"), "w") as f:
            json.dump(
                {
                    "n_nationkey": r.n_nationkey,
                    "n_name": r.n_name,
                    "n_regionkey": r.n_regionkey,
                },
                f,
                indent=2,
                sort_keys=True,
            )
    return base


@register(
    "json_scan_roundtrip",
    oracle="""
    SELECT n_nationkey AS path_key, n_name, n_regionkey, 'data.json' AS src_file
    FROM nation
    """,
    doc="S1+S4+S5: multiline-JSON glob scan with explicit schema, "
    "_metadata.file_path virtual column, key regexp-extracted from the "
    "directory layout; oracle = the original parquet dim.",
    tags=("parity", "scans"),
)
def json_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _json_fixture_dir(spark, sf_dir)
    df = read_json(spark, f"{base}/*/*/data.json", NATION_SCHEMA)
    df = with_file_metadata(df)
    df = with_path_key(df, "path_key", r"/key=([0-9]+)/[^/]+$")
    return df.select(
        F.col("path_key").cast("int").alias("path_key"),
        "n_name",
        "n_regionkey",
        F.regexp_extract(F.col("file_path"), r"([^/]+)$", 1).alias("src_file"),
    )


@register(
    "csv_scan_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
    doc="S2+K7: headered CSV sink then PERMISSIVE explicit-schema scan; "
    "oracle = the original parquet table (proves lossless round-trip, "
    "incl. shortest-repr doubles).",
    tags=("parity", "scans"),
)
def csv_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = os.path.join(scratch_root("scan_fixtures"), "supplier_csv")
    from end_to_end_etl_pipeline_spark.sinks.writers import write_csv

    supplier = load(spark, sf_dir, "supplier")
    write_csv(supplier, base)
    return read_csv(spark, base, SUPPLIER_SCHEMA)


@register(
    "orc_scan_roundtrip",
    oracle="SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice FROM part",
    doc="ORC sink then ORC scan with a pinned schema; oracle = the "
    "original parquet table (typed columnar round-trip through the "
    "second lake format; same vectorized-reader + pushdown machinery "
    "as parquet).",
    tags=("parity", "scans"),
)
def orc_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sinks.writers import write_orc
    from end_to_end_etl_pipeline_spark.sources.readers import read_orc

    base = os.path.join(scratch_root("scan_fixtures"), "part_orc")
    part = load(spark, sf_dir, "part")
    write_orc(part, base)
    return read_orc(spark, base, part.schema)


@register(
    "text_scan_roundtrip",
    oracle="""
    SELECT text AS value, md5(text) AS line_hash FROM documents
    """,
    doc="Raw-text sink then line-oriented text scan "
    "(sources/readers.read_text_lines): each document written as one "
    "line of a headerless .txt export, read back as (value string) - "
    "the schemaless landing format corpus dumps arrive in before any "
    "table exists. Oracle = the original documents table (the corpus "
    "has no embedded newlines, so doc <-> line is exactly 1:1). "
    "Completes the scan family: parquet / JSON / CSV / ORC / text.",
    tags=("parity", "scans"),
)
def text_scan_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.sources.readers import read_text_lines

    base = os.path.join(scratch_root("scan_fixtures"), "documents_txt")
    docs = load(spark, sf_dir, "documents").select("text")
    docs.write.mode("overwrite").text(base)
    lines = read_text_lines(spark, base)
    return lines.select("value", F.md5("value").alias("line_hash"))

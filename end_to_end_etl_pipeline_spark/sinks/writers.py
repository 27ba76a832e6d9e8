"""Sink / DDL operators (SURVEY.md §2.2, K1-K10).

The reference writes managed Delta tables on Databricks. Delta's jars
are not on this classpath, so table commits go through
``sinks/manifest.py:ManifestCatalog`` (versioned-manifest commits,
its ``optimize_zorder`` is the K8 OPTIMIZE/ZORDER stand-in).
This module holds the two file exports the scan queries round-trip
(K7): headered CSV and ORC. Plain overwrite/append/partitioned
writes need no wrapper — ``df.write`` is the whole operator.

MERGE (K4-K6) lives in ``operators/scd.py`` as a join+union plan
published by one catalog commit — see there for the scale discussion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    """K7 — headered CSV sink, overwriting ``path`` (reference exports
    intermediate frames to CSV in ``aws/y_finance_raw_ingestion.ipynb``
    cells 4/6/8).

    Distributed write — one file per partition, no driver collect.
    CSV is untyped on disk; pair with :func:`sources.readers.read_csv`
    and an explicit schema for a lossless round-trip (proved by the
    ``csv_scan_roundtrip`` oracle query)."""
    df.write.mode("overwrite").option("header", True).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink, overwriting ``path`` — typed columnar output with the
    same distributed write path as parquet (round-trip proved by the
    ``orc_scan_roundtrip`` oracle query)."""
    df.write.mode("overwrite").format("orc").save(path)

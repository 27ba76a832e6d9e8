"""Sink / DDL operators (SURVEY.md §2.2, K1-K10).

The reference writes managed Delta tables on Databricks. Delta's jars
are not on this classpath, so table commits go through
``sinks/manifest.py:ManifestCatalog`` (versioned-manifest commits,
its ``optimize(cluster_by=…)`` is the K8 OPTIMIZE/ZORDER stand-in).
This module holds the two file exports the scan queries round-trip
(K7): headered CSV and ORC. Plain overwrite/append/partitioned
writes need no wrapper — ``df.write`` is the whole operator.

MERGE (K4-K6) lives in ``operators/scd.py`` as a join+union plan
published by one catalog commit — see there for the scale discussion.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


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

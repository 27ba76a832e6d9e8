"""Config-driven Bronze → Silver → Gold pipeline (SURVEY.md §3).

The reference's control plane is "loop over JSON config entries"
(``main.py:29-40``, ``medallion/*/config*.json``); each layer is a
hardcoded job. Here the layers are one declarative engine: a pipeline
config is plain data (JSON-able dicts), each entry binds the engine's
operators — scan, explode, DQ rules, derive, dedup, feature-join,
SCD2 merge, snapshot/fact publication — so adding a table is config,
not code.

Layer semantics (same as the reference, defects fixed):

* **bronze** — explicit-schema file scan (+ optional file-path key,
  nested-array explode), audit columns, full-refresh overwrite.
* **silver** — DQ gates (not-null keys, column-scoped bounds),
  cleaning exprs, deterministic dedup + its per-key aggregates in one
  shuffle, cross-table feature aggregation + left join
  (company_master pattern), or SCD2 hash-diff merge. A dedup on the
  SCD2 business keys with nothing between it and the merge runs
  inside the merge's own shuffle (the merge takes its keep-policy),
  so dedup + merge cost one shuffle together.
* **gold** — promote (strip technical cols), dimension (current
  snapshot), fact (derived KPIs incl. lag-window growth), partitioned
  + clustered publication.

Orchestration is fail-fast and sequential per layer like the
reference's ``run_pipeline`` — but each table build is an independent
DataFrame plan, so a scheduler may run entries of one layer in
parallel; there is no cross-entry state.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.cleaning import (
    derive_columns,
    drop_technical_columns,
    flatten_exploded,
    sanitize_column_names,
)
from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key
from end_to_end_etl_pipeline_spark.operators.dq import (
    apply_rules,
    bounds_rule,
    not_null_rule,
)
from end_to_end_etl_pipeline_spark.operators.joins import equi_join
from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine, current_snapshot
from end_to_end_etl_pipeline_spark.operators.windows import lag_growth
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
from end_to_end_etl_pipeline_spark.sources.readers import (
    read_csv,
    read_json,
    read_parquet,
    with_file_metadata,
    with_path_key,
)


def _order_expr(e: str):
    """Parse a config ordering string, honoring a trailing ASC/DESC.
    (Plain ``F.expr("col DESC")`` would silently treat DESC as an
    implicit column alias and sort ascending.)"""
    s = e.strip()
    low = s.lower()
    if low.endswith(" desc"):
        return F.expr(s[: -len(" desc")]).desc()
    if low.endswith(" asc"):
        return F.expr(s[: -len(" asc")]).asc()
    return F.expr(s)


class MedallionPipeline:
    """Every layer only uses the exists/read/replace_atomic catalog
    surface. With no ``catalog``, tables are ``ManifestCatalog``
    commits under ``catalog_root`` (a bare path is qualified as an
    absolute ``file://`` URI); ``catalog`` takes an already-built
    ``ManifestCatalog``."""

    def __init__(self, spark: SparkSession, catalog_root: str, catalog=None):
        self.spark = spark
        if catalog is None:
            if "://" not in catalog_root:
                catalog_root = f"file://{os.path.abspath(catalog_root)}"
            catalog = ManifestCatalog(spark, catalog_root)
        self.catalog = catalog
        self.scd = SCDEngine(self.catalog)

    # -- bronze ----------------------------------------------------------
    def ingest_bronze(self, spec: Mapping[str, Any]) -> DataFrame:
        """Explicit-schema ingestion (reference
        ``medallion/bronze/ds2b_company_house.py:49-97``)."""
        src = spec["source"]
        fmt = src.get("format", "parquet")
        if "schema" not in src:
            raise ValueError(
                f"bronze spec {spec['table']}: source needs an explicit "
                f"'schema' (a DDL string) for its {fmt} scan"
            )
        if fmt == "json":
            df = read_json(
                self.spark, src["path"], src["schema"], src.get("multiline", True)
            )
        elif fmt == "csv":
            df = read_csv(
                self.spark,
                src["path"],
                src["schema"],
                header=src.get("header", True),
                mode=src.get("mode", "PERMISSIVE"),
            )
        else:
            df = read_parquet(self.spark, src["path"], src["schema"])

        pk = spec.get("path_key")
        # _metadata.file_path works for every file source (json, csv,
        # parquet) — gate on whether the spec wants it, not the format,
        # so a parquet source with a path_key doesn't hit an
        # unresolved-column error
        if spec.get("file_metadata", True) or pk:
            df = with_file_metadata(df)
        if pk:
            df = with_path_key(df, pk["name"], pk.get("pattern", r"/([0-9A-Z]+)/[^/]+$"))
        ex = spec.get("explode")
        if ex:
            df = flatten_exploded(df, key=ex["key"], array_col=ex["array_col"])
        if spec.get("sanitize_columns"):
            df = sanitize_column_names(df)
        df = df.withColumn("last_updated_ts", F.current_timestamp())
        self.catalog.replace_atomic(df, spec["table"])
        return self.catalog.read(spec["table"])

    # -- silver ----------------------------------------------------------
    def build_silver(self, spec: Mapping[str, Any]) -> DataFrame:
        """Clean/conform layer (reference
        ``medallion/silver/b2s_company_house.py`` +
        ``b2s_yfinance.py`` generalized)."""
        df = self.catalog.read(spec["from"])

        rules = []
        keys = spec.get("business_keys", [])
        if keys:
            rules.append(not_null_rule(keys))
        bounds = spec.get("bounds")
        if bounds:
            rules.append(bounds_rule({c: tuple(b) for c, b in bounds.items()}))
        if rules:
            df = apply_rules(df, *rules)

        derive = spec.get("derive")
        if derive:
            df = derive_columns(df, derive)

        dedup, scd = spec.get("dedup"), spec.get("scd")
        order = aggs = None
        if dedup:
            order = [_order_expr(e) for e in dedup.get("order_by", [])] or None
            aggs = dedup.get("aggs")
            # a keep-policy on the SCD2 keys that no step separates from
            # the merge runs in the merge's own shuffle
            if not (
                order and scd and scd.get("type", 2) == 2
                and set(dedup["keys"]) == set(scd["business_keys"])
                and not spec.get("filter") and not spec.get("feature_joins")
            ):
                df = dedup_by_key(df, dedup["keys"], order_by=order, aggs=aggs)
                order = aggs = None

        post_filter = spec.get("filter")
        if post_filter:
            df = df.filter(post_filter)

        for feat in spec.get("feature_joins", ()):  # company_master pattern
            # another table's features (same-table ones are dedup
            # aggs) by shuffle join: both sides arrive hash-partitioned
            # on the keys, so neither moves again; a broadcast would
            # run the aggregate as a job of its own
            agg_df = self._feature_agg(feat).hint("merge")
            df = equi_join(df, agg_df, on=feat["on"], how=feat.get("how", "left"))

        if scd:
            # every configured SCD type must dispatch to its engine —
            # falling through to a full overwrite would DELETE target
            # rows absent from the current batch (silent data loss)
            scd_type = scd.get("type", 2)
            keys = scd["business_keys"]
            if scd_type == 2:
                self.scd.apply_scd2(
                    df, spec["table"], keys=keys,
                    tracked=scd["tracked_columns"], as_of=scd.get("as_of"),
                    order_by=order, aggs=aggs,
                )
            elif scd_type == 1:
                self.scd.apply_scd1(df, spec["table"], keys=keys)
            elif scd_type == 3:
                self.scd.apply_scd3(
                    df, spec["table"], keys=keys, tracked=scd["tracked_columns"]
                )
            else:
                raise ValueError(f"silver spec {spec['table']}: unknown scd type {scd_type!r}")
        else:
            self.catalog.replace_atomic(
                df, spec["table"], partition_by=spec.get("partition_by")
            )
        return self.catalog.read(spec["table"])

    def _feature_agg(self, feat: Mapping[str, Any]) -> DataFrame:
        src = self.catalog.read(feat["from"])
        aggs = [F.expr(e).alias(name) for name, e in feat["aggs"].items()]
        return src.groupBy(*feat["group_by"]).agg(*aggs)

    # -- gold -------------------------------------------------------------
    def publish_gold(self, spec: Mapping[str, Any]) -> DataFrame:
        """Promote / dimension / fact publication (reference
        ``medallion/gold/s2g.py:58-154``)."""
        df = self.catalog.read(spec["from"])
        kind = spec.get("kind", "promote")
        df = drop_technical_columns(df, spec.get("technical_columns", ("file_path", "file_name", "last_updated_ts")))
        if kind == "dimension":
            df = current_snapshot(df)  # guarded like the .py variant (§2.11-9)
        elif kind == "fact":
            df = current_snapshot(df)
            growth = spec.get("lag_growth")
            if growth:
                df = lag_growth(
                    df,
                    partition_by=growth["partition_by"],
                    order_by=growth["order_by"],
                    value_col=growth["value_col"],
                    out_col=growth.get("out_col", "growth"),
                )
            derive = spec.get("derive")
            if derive:
                df = derive_columns(df, derive)
        self.catalog.replace_atomic(
            df, spec["table"], partition_by=spec.get("partition_by")
        )
        return self.catalog.read(spec["table"])

    # -- orchestration -----------------------------------------------------
    def run(self, config: Mapping[str, Any]) -> None:
        """Sequential fail-fast over layers (reference ``main.py:29-40``)."""
        for spec in config.get("bronze", ()):
            self.ingest_bronze(spec)
        for spec in config.get("silver", ()):
            self.build_silver(spec)
        for spec in config.get("gold", ()):
            self.publish_gold(spec)

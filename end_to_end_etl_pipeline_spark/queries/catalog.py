"""Query registry: every implemented operator exposed as a named query
plus (where SQL-expressible) an equivalent DuckDB oracle.

This is the engine's conformance surface (SURVEY.md §5): the driver
runs each Spark query and its oracle side-by-side at sf=0.01 and
compares row count + schema + order-insensitive value hash.

Determinism rules for oracle-matched queries:
* alias every computed column identically on both sides;
* round double aggregates (sums → 2dp on cent-valued data, ratios →
  6dp) so Spark/DuckDB summation-order ulp differences vanish;
  CAVEAT (r09 sf1/skew sweeps): the rule is about WHICH sums can
  trip. A double sum of PLAIN 2dp money values is safe at any
  realistic scale — the true sum is an exact whole number of cents,
  never on a half-cent boundary, so the ~1e-6 accumulated ulp error
  cannot flip the 2dp round. A sum of PRODUCTS
  (price*(1-discount)[*(1+tax)]) is NOT safe: the true per-row
  values carry 4-6 decimals, so a group's true sum can sit exactly
  on .xx5 and Spark-vs-DuckDB summation-order ulps decide the
  round (three queries tripped exactly this way at 10x rows). All
  product-sum sites therefore compute EXACT order-free sums on
  both sides. Oracle side: CAST each factor to its true decimal
  scale, multiply/sum in decimal, round, CAST to DOUBLE last
  (ratios: decimal sums, CAST both to DOUBLE, ONE double
  division). Engine side (r10 fast path, value-identical,
  hash-proven at sf0.01 and ~sf1): each product as a scaled LONG
  (2dp factors scale exactly via x100 + round), summed as compact
  DECIMAL(18,0) — long-fast-path adds, no overflow cliff (the
  decimal(28,0) buffer absorbs >9.2e18 via BigDecimal) — divided
  back by the scale in exact decimal once per group; see
  queries/core.py _rev/_charge/_sum_rev and SCALE.md "Exact-money
  tax" for the measured alternatives;
* never use current_date/now in matched queries — anchor literals;
* deterministic tie-breaks on every window ordering.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class EngineQuery:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple = field(default_factory=tuple)


REGISTRY: dict[str, EngineQuery] = {}


def register(name: str, oracle: str | None, doc: str = "", tags: tuple = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = EngineQuery(name=name, spark=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


#: The lake's table schemas, exactly the types a footer read infers
#: (the files' timestamps are not UTC-adjusted, so they read as
#: TIMESTAMP_NTZ). Declared, not inferred: a schema-less read runs a
#: one-task footer job per ``load``.
TABLE_SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, "
        "c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    ),
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(path)


def scratch_root(tag: str) -> str:
    """A fresh scratch lake dir for one run of a query that builds its
    own tables, under ``/tmp/spark_graft_<tag>``. A fresh dir per run
    means a re-run never wipes the files behind a DataFrame an earlier
    run returned. Siblings are reaped only once they are an hour old:
    two sessions (a benchmark and a test run, say) may run the same
    query at once, and wiping a younger sibling would delete the other
    run's lake mid-query."""
    parent = f"/tmp/spark_graft_{tag}"
    os.makedirs(parent, exist_ok=True)
    cutoff = time.time() - 3600
    for name in os.listdir(parent):
        path = os.path.join(parent, name)
        try:
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass  # a concurrent run reaped it first
    return tempfile.mkdtemp(dir=parent)


def land_pinned(df: DataFrame, landing: str, mtime: int) -> None:
    """Append ``df`` to the local dir ``landing`` as one parquet file
    and pin the new files' modification time to ``mtime``. A file
    stream source replays new files in (modTime, path) order, so
    increasing pins replay batches in landing order even when two
    writes share a millisecond — the streaming queries' order-
    sensitive claims (late-data drops, SCD2 history) depend on it."""
    before = set(os.listdir(landing)) if os.path.isdir(landing) else set()
    df.coalesce(1).write.mode("append").parquet(f"file://{landing}")
    for f in set(os.listdir(landing)) - before:
        if not f.startswith(("_", ".")):
            os.utime(os.path.join(landing, f), (mtime, mtime))


def drain_to_parquet(stream: DataFrame, root: str, output_mode: str) -> DataFrame:
    """Run ``stream`` into a parquet sink under ``root`` with
    ``availableNow``, wait for it, and return the sink's rows
    (checkpointed, so the scratch lake may go). A stateful operator's
    partition count freezes into the checkpoint at first start —
    under a plain driver session that is 200 tasks per micro-batch
    for a few thousand rows — so shuffle partitions are 8 for the
    stream and restored after (a concurrent query in THIS session
    would see 8; fine under the driver's serial runner)."""
    spark = stream.sparkSession
    sink = f"file://{root}/out"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .outputMode(output_mode)
            .option("checkpointLocation", f"file://{root}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return spark.read.parquet(sink).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# Import side-effect modules that populate REGISTRY.
from end_to_end_etl_pipeline_spark.queries import core  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import scans  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import scd_queries  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import textdata  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import vectors  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import medallion_queries  # noqa: E402,F401
from end_to_end_etl_pipeline_spark.queries import dedup_store_queries  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver correctness window.
#
# The driver's per-round correctness gate compares the FIRST 50 entries
# of ``queries()`` (registration order) against their DuckDB oracles;
# everything after position 50 only gets the weaker local pytest parity
# sweep. CORRECTNESS_r02 proved this cap the hard way: entries 51-102
# (every scan, SCD, text, vector, and multimodal query) got no driver
# row. So the window below is an explicit, test-asserted contract: one+
# representative of every SURVEY.md §2 family and every LLM-pipeline
# family sits inside the first 50, and the remaining queries — mostly
# additional TPC-H-shaped core coverage that WAS driver-verified green
# in r01/r02 — rotate behind them.
# ---------------------------------------------------------------------------

# r11 rotation (VERDICT r10 "Next round" #1).
#
# STANDING ROTATION POLICY (r08, amended r09/r10): each round the
# window =
# (a) every query REGISTERED this round, in its shipping round (the
#     r06 invariant: driver row within one round of registration);
# (b) one representative per operator family — preferring, within
#     each family, the member with the OLDEST driver evidence, so
#     family slots double as freshness rotation — EXCEPT families
#     whose listed members were all driver-green within the last two
#     rounds recorded AT ROTATION TIME (nothing to refresh; the
#     exemption is verified by tests/test_oracle_parity.py);
# (c) every remaining slot to the globally oldest-evidence queries
#     (tie-break alphabetical).
# All rotated-in rows are pre-verified under a plain driver-faithful
# session before the swap (established r05 practice).
#
# FLOOR ANCHOR (r10 fix for the r09 red test): the freshness floor is
# WINDOW_ROTATION_ROUND - 2, a CONSTANT pinned when the window is
# rotated — NOT max(recorded rounds) - 1 recomputed at test time, so
# the driver writing this round's CORRECTNESS file cannot move the
# floor mid-round; the exemption ages only when the NEXT rotation
# bumps the constant (bidirectional assertions in
# tests/test_oracle_parity.py keep the constant tied to the files on
# disk).
#
# r14 arithmetic: evidence-age histogram after r13 (recomputed from
# CORRECTNESS_r01-r13): r10=29, r11=49, r12=50, r13=50 (Σ=178).
# Floor = 14 - 2 = 12 ⇒ 1 family exempt (incremental-dedup: its one
# member green at r12/r13), 42 non-exempt.
# 0 new registrations + 42 family slots deduped to 41
# (streaming_scd2_dimension covers both scd2 and streaming-bridge) +
# 9 globally-oldest fillers = 50. Every family slot takes its
# oldest-evidence member (9 of them r10 rows, the rest r11); the
# fillers take the nine alphabetically-first of the 20 remaining r10
# rows. Post-r14 the r10 tail shrinks from 29 rows to 11.
WINDOW_ROTATION_ROUND: int = 14

DRIVER_WINDOW: tuple[str, ...] = (
    # --- family slots, oldest-evidence member per family (41) ---
    "daily_event_anomaly",           # profiling (r10)
    "doc_fingerprints",              # text-analysis (r10)
    "doc_frame_samples",             # multimodal (r10)
    "embedding_near_dup",            # near-dedup (r10)
    "important_part_value",          # core-joins (r10)
    "ivfpq_topk",                    # ann (r10)
    "orders_time_travel_vacuum",     # storage-engine (r10)
    "streaming_scd2_dimension",      # scd2 + streaming-bridge (r10)
    "word_heavy_hitters_cms",        # sketch (r10)
    "bm25_ndcg_eval",                # retrieval-eval (r11)
    "bpe_merge_rules_batched",       # bpe (r11)
    "c4_line_filtered_corpus",       # curation-lineage (r11)
    "crossencoder_trained_rerank",   # rerank-seam (r11)
    "csv_scan_roundtrip",            # csv-scan (r11)
    "customer_kanonymity",           # privacy (r11)
    "customer_record_linkage",       # entity-resolution (r11)
    "decontaminated_train_split",    # splits-contamination (r11)
    "dsir_importance_scores",        # importance-selection (r11)
    "embedding_kmeans_clusters",     # kmeans-vectors (r11)
    "event_type_value_trend",        # grouped-models (r11)
    "hard_negative_mining",          # hard-negatives (r11)
    "hybrid_doc_retrieval",          # hybrid-retrieval (r11)
    "json_scan_roundtrip",           # json-scan (r11)
    "keyword_doc_similarity",        # lexical-retrieval (r11)
    "lang_temperature_mix",          # sampling (r11)
    "line_dedup_corpus",             # exact-dedup (r11)
    "medallion_gold_fact",           # medallion-e2e (r11)
    "mmr_diverse_rerank_grouped",    # diversified-retrieval (r11)
    "orc_scan_roundtrip",            # orc-scan (r11)
    "preference_pair_mining",        # preference-pairs (r11)
    "priority_target_encoding",      # feature-prep (r11)
    "purchase_last_view_asof",       # asof (r11)
    "purchase_touch_attribution",    # basket-attribution (r11)
    "quality_classifier_trained",    # quality-classifier (r11)
    "rag_context_pack",              # packing-chunking (r11)
    "semantic_split_contamination",  # semantic-dedup (r11)
    "streaming_join_view_purchase",  # stream-stream-join (r11)
    "streaming_late_data_revenue",   # streaming-watermark (r11)
    "streaming_priority_revenue",    # ivm (r11)
    "streaming_view_sessions",       # streaming-stateful (r11)
    "vocab_drift_psi",               # vocab (r11)
    # --- globally-oldest fillers (9) ---
    "customer_master",               # r10
    "doc_normalized",                # r10
    "doc_pii_redacted",              # r10
    "doc_script_profile",            # r10
    "doc_token_stats",               # r10
    "forecast_revenue_change",       # r10
    "gopher_quality_filter",         # r10
    "idle_rich_customers",           # r10
    "lang_id",                       # r10
)


def _apply_driver_window() -> None:
    """Reorder REGISTRY so DRIVER_WINDOW occupies positions 1-50,
    followed by every other query in original registration order.
    Fails fast on typos or on a window entry without an oracle."""
    assert len(DRIVER_WINDOW) == len(set(DRIVER_WINDOW)), "duplicate window entry"
    assert len(DRIVER_WINDOW) <= 50, "driver window is capped at 50"
    ordered: dict[str, EngineQuery] = {}
    for n in DRIVER_WINDOW:
        q = REGISTRY[n]  # KeyError == typo; fail at import
        assert q.oracle is not None, f"window query {n} has no oracle"
        ordered[n] = q
    for n, q in REGISTRY.items():
        if n not in ordered:
            ordered[n] = q
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_driver_window()

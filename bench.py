"""Benchmark harness: runs the headline queries at the bench scale
factor and prints ONE JSON line for the driver.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).

Each query is fully materialized through the no-op sink (row-level
execution, nothing collected to the driver) — the same way a cluster
job would be costed.

Structure of a run:
* COLD pass — first execution of each query in a fresh session; the
  headline metric, kept apples-to-apples across rounds (same query
  set since r02; additive entries only). Since r12 each cold attempt
  runs in a FRESH SUBPROCESS (one JVM per attempt) so a drift-
  contaminated attempt can honestly re-run — the previous in-process
  form shipped three consecutive contaminated cold artifacts that
  could only be marked, never retried (VERDICT r11 #1). Methodology
  per attempt is unchanged: fresh session, untimed store setups,
  first execution of each query, canary-traced.
* WARM passes (x3) — steady-state executions with plans/codegen
  JIT-warm; per-query MIN ("queries_warm") approximates the marginal
  cost a long-running cluster job sees, per-query MEDIAN
  ("queries_warm_median") shows run-to-run stability. Cold-pass
  variance at n=1 produced phantom 2x "regressions" in r03
  (nation_market_share, clean_corpus — both sub-second warm); read
  the warm columns before calling anything a regression.

The ``ivfpq_store_topk`` entry measures QUERY-TIME ANN over a
pre-built IVFADC store (operators/ivf_store.py): codebook training,
PQ encoding, and cell partitioning happen once in an untimed setup —
exactly how a production index amortizes them — so the timed number
is route -> probed-cell dir scan -> ADC -> re-rank only.  Its twin
``pq_topk`` (train-in-query, kept for round-over-round continuity)
shows what NOT amortizing costs.

``dedup_store_probe`` is the same A/B for dedup: ``near_dup_pairs``
re-pairs the whole corpus every run (the un-amortized twin, the
bench's warm ceiling since r04); the probe entry classifies a
REALISTIC ingest batch — corpus/50, i.e. 100 docs at sf0.1 (r05
probed corpus/7 and the batch's own MinHash computation dominated
the number, under-selling the store) — against a PRE-BUILT
band-bucketed MinHash signature store (operators/dedup_store.py),
so the timed number is the O(batch + collisions) marginal ingest
decision a production corpus actually pays — signatures persisted,
store unmutated (probe, not ingest) so re-runs are idempotent.
Read the probe number as a FIXED-LATENCY FLOOR, not data cost: the
fully-lazy probe plan runs ~20 stages, and at ~0.1-0.2s/stage of
local-mode job overhead the warm time (~1.6s) is almost entirely
stage latency — the data-dependent part is ~16 ms/doc (measured:
caching the signature subtrees saves only ~0.25s). At cluster scale
the floor is the same constant while the re-pair twin grows with
the corpus; that asymmetry, not this box's floor, is the A/B's
point.

DRIFT CANARY (r06+): machine state drifted the whole r05 bench
~1.25x including round-untouched queries, making round-over-round
comparison unreadable. Every run now times a fixed trivial
calibration step — a full lineitem parquet scan-count — once before
the cold pass and once per warm pass. The headline carries
``canary_sec`` / ``canary_warm_sec``; the sidecar adds
``queries_warm_norm`` (per-query warm-min divided by the warm canary
min). Compare rounds on the NORMALIZED numbers: machine state
divides out, plan regressions don't.

Read COLD totals with suspicion on this box: three same-code r06
runs measured 49.5s / 79.1s / 115.0s cold against 29.5s / 37.5s /
32.4s warm — first-execution time is dominated by JIT compilation
and machine state, not plans (the 79s run additionally had
concurrent tenants, which the per-pass canary under-detects because
it samples only at pass START). The stable cross-round signals are
``warm_total_sec``, per-query warm-min, and their canary-normalized
forms.

SELF-GATING (r11, VERDICT r10 #2): r09/r10 shipped sidecars whose
own intra-pass drift exceeded the 1.3x readability bar because the
newest run was always the one recorded. Now (a) a warm pass whose
intra-pass canary drift exceeds ``DRIFT_BAR`` is re-run (bounded at
``MAX_WARM_PASSES``) and excluded from the warm stats when enough
clean passes exist; (b) the headline carries a ``drift`` block
(cold drift marked — the cold pass can't honestly re-run in-process
— plus the worst drift among USED warm passes and an ``ok`` bit);
(c) a final canary-PAIRED pass times each query immediately after
its own canary so per-query normalization is drift-LOCAL
(``queries_paired_norm`` in the sidecar — the primary per-query
regression signal; mid-pass noise during query X inflates X's own
canary and divides out); (d) the headline carries a
``like_for_like`` block — totals excluding entries added after the
r08 reference run — so cross-round readers never redo the
subtraction.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY, load
from end_to_end_etl_pipeline_spark.session import create_spark_session

BENCH_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "monthly_segment_growth",
    "customer_master",
    "top_events_per_user",
    "dedup_exact_text",
    "text_quality",
    "label_centroids",
    # round 2: LLM-pipeline operators at bench scale
    "near_dup_pairs",
    "cosine_topk",
    "doc_fingerprints",
    "purchase_last_view_asof",
    "scd2_transition",
    "user_sessions",
    "shipping_priority",
    # round 2b: compressed-ANN tier (train + encode + ADC + re-rank)
    "pq_topk",
    # round 2b: 6-way join with same-nation residual (TPC-H Q5 shape)
    "local_supplier_volume",
    # round 2b: composed training-corpus pipeline (normalize -> gate ->
    # dedup -> split), one shuffle end to end
    "clean_corpus",
    # round 2c: dual-role-dimension join (TPC-H Q8 shape)
    "nation_market_share",
    # round 2c: cross-split 8-gram contamination audit (df-capped join)
    "split_contamination",
    # round 2c: sliding-window RAG chunking (map-side only)
    "doc_chunks",
    # round 2d: correlated-min over derived bridge (TPC-H Q2 shape)
    "min_cost_supplier",
    # round 2d: conditional-agg threshold + semi joins (TPC-H Q20 shape)
    "excess_stock_suppliers",
    # round 2d: tf-idf keyword extraction (reused grouped relation)
    "doc_tfidf_terms",
    # round 2e: CDC-delta aggregate maintenance (change-proportional)
    "incremental_priority_revenue",
    # round 2e: percentile-clipped robust stats (broadcast scalar bounds)
    "winsorized_price_stats",
    # round 2e: value-RANGE trailing window anomaly scoring
    "daily_event_anomaly",
    # round 5 (additive — the set above is stable for regression
    # reads): hybrid RRF fusion (BM25 + cosine arms); MMR diversified
    # re-rank, PRIMARY = the grouped-map strategy (r06 role flip,
    # matching the driver window): the whole greedy loop runs per
    # query group in ONE cogrouped-Arrow job — the scale-right plan
    "hybrid_doc_retrieval",
    "mmr_diverse_rerank_grouped",
    # its JVM twin (same oracle), retained as the A/B: the greedy
    # steps run as one higher-order aggregate per query row — one JVM
    # aggregate against one cogrouped-Arrow job
    "mmr_diverse_rerank",
    # round 9 (additive): the compressed-codec path — JVM-side PNG
    # encode (filters/zlib/CRCs as one projection) -> stdlib-zlib
    # Arrow-batched decode; pins codec throughput round-over-round
    "png_image_decode_stats",
]

N_WARM_RUNS = 3
#: canary sample interval inside a pass (r07 intra-pass drift trace)
CANARY_EVERY = 8

# --- r11 self-gating (VERDICT r10 #2) -------------------------------
#: a pass whose max/min intra-pass canary ratio exceeds this is
#: machine-noise contaminated; its numbers must not feed the warm
#: stats (r09/r10 shipped noisy sidecars because the NEWEST run was
#: always the one recorded, noisy or not)
DRIFT_BAR = 1.3
#: warm passes re-run until N_WARM_RUNS clean ones exist, bounded
MAX_WARM_PASSES = 5
#: COLD attempts run in FRESH SUBPROCESSES (r12, VERDICT r11 #1): the
#: in-process cold pass could never honestly re-run (JIT state spent),
#: so three consecutive rounds shipped contaminated cold artifacts
#: that were marked, not fixed. Now each cold attempt is one fresh
#: JVM (same methodology: first execution of each query in a fresh
#: session, store setups untimed) re-run over the same DRIFT_BAR the
#: warm passes already gate on, bounded at MAX_COLD_ATTEMPTS; the
#: cleanest attempt ships. Attempt subprocesses also contribute
#: fresh-session warm mins (``isolation_warm_min`` in the sidecar,
#: VERDICT r11 #5) from ISOLATION_WARM_REPS extra passes, so
#: per-query regression calls no longer depend on in-bench pass
#: hygiene.
MAX_COLD_ATTEMPTS = 3
ISOLATION_WARM_REPS = 2
#: like-for-like baseline advanced to the LAST CLEAN reference (r13):
#: r12's shipped numbers are same-canary-form (min-of-3), same query
#: set (nothing added since r11), and — for the first time since r08
#: — the cold side passed its own drift gate (1.16 ≤ 1.3, fresh
#: subprocesses), so both columns of the reference are readable.
LIKE_FOR_LIKE_BASELINE = "r12"
LIKE_FOR_LIKE_EXCLUDED: tuple[str, ...] = ()
#: r12's shipped raw numbers (BENCH_r12.json), the frozen reference.
LIKE_FOR_LIKE_REFERENCE = {
    "cold_sec": 62.42,
    "warm_sec": 36.604,
    "canary_warm_sec": 0.106,
    "canary_form": "min-of-3 (r11)",
    "cold_contaminated": False,
}

#: where emit() writes BENCH_DETAILS.json (module-level so tests can
#: redirect it without monkeypatching os.path globally)
SIDECAR_DIR = os.path.dirname(os.path.abspath(__file__))


def _build_ann_store(spark, sf_dir: str):
    """Untimed setup: train the PQ codebook once (same params as the
    pq_topk/ivfpq_topk conformance queries) and persist the IVFADC
    store — cell-partitioned codes+vectors, centroids side table,
    codebook in the manifest.  Returns (catalog, store_query_fn,
    tmpdir)."""
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.queries.vectors import _PQ_K, _PQ_M
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    tmpdir = tempfile.mkdtemp(prefix="bench_ivfpq_")
    cat = ManifestCatalog(spark, f"file://{tmpdir}/lake")
    emb = load(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    write_ivfpq_store(
        cat, emb, "vec_id", "embedding", "label", cb, "ann.emb", dim=dim
    )

    def store_topk(spark, sf_dir):
        queries = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 10)
        res, _probed = ivfpq_store_topk(
            cat, "ann.emb", queries, "vec_id", "embedding", nprobe=2,
        )
        return res

    return cat, store_topk, tmpdir


def _build_png_blobs(spark, sf_dir: str):
    """Untimed setup for ``png_decode_only``: encode the same PNG
    payload set the ``png_image_decode_stats`` conformance query
    builds (one per customer, JVM-side staged encoder) and PERSIST
    the blobs to scratch parquet — how a production lake holds
    images. The timed twin is then decode-only: parquet scan ->
    Arrow-batched mapInPandas decode -> per-image stats, zero encode
    work — the honest price of the codec's production path, which
    the conformance entry (encode+decode in one query, by blob-free-
    oracle design) structurally overstates. Returns (query_fn,
    tmpdir)."""
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.multimodal import (
        decode_png_stats,
        encode_png_rgb8,
    )

    tmpdir = tempfile.mkdtemp(prefix="bench_png_")
    cust = load(spark, sf_dir, "customer")
    ck = F.col("payload_id")
    width = (ck % 6 + 2).cast("int")
    height = (ck % 7 + 1).cast("int")

    def pixel(x, y, c):
        return F.pmod(ck * 13 + y * 19 + x * 5 + c * 7, F.lit(256)).cast("int")

    encode_png_rgb8(
        cust.select(F.col("c_custkey").alias("payload_id")),
        width, height, pixel,
    ).write.parquet(f"{tmpdir}/payloads")

    def decode_only(spark, sf_dir):
        payloads = spark.read.parquet(f"{tmpdir}/payloads")
        dec = decode_png_stats(payloads, "payload_id", "png")
        area = F.col("width") * F.col("height")
        return dec.select(
            "payload_id", "width", "height", "channels",
            F.round(F.col("sum_r") / area, 6).alias("mean_r"),
            F.round(F.col("sum_g") / area, 6).alias("mean_g"),
            F.round(F.col("sum_b") / area, 6).alias("mean_b"),
            "top_row_sum",
        )

    return decode_only, tmpdir


def _build_dedup_store(spark, sf_dir: str):
    """Untimed setup: bulk-ingest the base documents corpus into a
    MinHash signature store once — how a production corpus
    amortizes dedup — so the timed entry is the per-batch
    marginal cost only. Returns (catalog, probe_query_fn, tmpdir)."""
    from pyspark.sql import functions as F

    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    tmpdir = tempfile.mkdtemp(prefix="bench_dedup_")
    cat = ManifestCatalog(spark, f"file://{tmpdir}/lake")
    # one columnar signature scan (SCALE.md "Dedup-store crossover")
    store = MinHashDedupStore(
        cat, "dedup.sigs", num_hashes=16, bands=4, shingle_len=6,
        threshold=0.6,
    )
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    store.ingest(docs, "text")

    def probe(spark, sf_dir):
        # a realistic ingest batch: corpus/50 (100 docs at sf0.1),
        # perturbed near-dups the store must catch against its
        # persisted signatures via one columnar scan of the signature
        # table (plain mode — see the setup comment). r05 probed
        # corpus/7 (~714 docs) and the batch's own MinHash work
        # dominated; the marginal per-batch cost is the honest
        # amortization number. Read-only → idempotent re-runs.
        batch = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 50 == 0)
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, 8)").alias("text"),
            )
            # spread the per-doc MinHash work, but only as far as the
            # batch warrants: 100 docs across 8 tasks — repartitioning
            # to all 32 cores paid ~31 near-empty tasks of fixed
            # overhead plus the shuffle for nothing (the r05 corpus/7
            # batch DID want every core; this one doesn't)
            .repartition(8)
        )
        _accepted, rejected = store.probe(batch, "text")
        return rejected

    return cat, probe, tmpdir


def canary(spark, sf_dir: str) -> float:
    """The fixed calibration step: a full lineitem parquet
    scan-count — trivial, plan-stable across rounds, and sensitive to
    the same CPU/IO machine state as the real queries. Its time
    normalizes per-query numbers so environment drift divides out of
    round-over-round comparisons (r05's uniform ~1.25x inflation).

    MIN OF 3 BACK-TO-BACK SCANS (r11): a single ~0.15 s scan
    carries 50-80 ms scheduler/GC blips, so the old single-sample
    form made the intra-pass max/min drift stat measure its own
    sampling noise — a quiet-box r11 run read 1.3-2.1 per pass with
    every query timing clean. The min filters per-sample blips while
    SUSTAINED contamination (a tenant eating cores for a pass
    segment — the r06 failure this trace exists for) still raises
    every rep and shows. Cost: ~2 extra 0.15 s scans per sample.
    Cross-round note: each sample is now the min of 3 rather than a
    single draw, which shifts canary-normalized values by at most
    the blip component (~10%); the r11 sidecar is the first with
    this form."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def emit(
    timings: dict[str, float],
    warm_samples: dict[str, list[float]],
    sf: float,
    canary_cold: float | None = None,
    canary_warm: list[float] | None = None,
    canary_trace: list[dict] | None = None,
    paired: dict[str, dict] | None = None,
    warm_meta: dict | None = None,
    cold_meta: dict | None = None,
    isolation_warm_min: dict[str, float] | None = None,
) -> str:
    """Print the round's numbers and return the final stdout line.

    Per-query detail maps go to a sidecar file AND an earlier stdout
    line (prefixed so no JSON-line scanner mistakes it for the
    headline); the FINAL stdout line is a compact headline object
    only. r04's single long line (cold + warm-min + warm-median x 28
    queries) overflowed the driver's tail capture and the round
    recorded `parsed: null` — the headline must stay short enough to
    always survive a tail read (contract test:
    tests/test_cli.py::test_bench_emit_contract)."""
    warm_min = {n: round(min(s), 3) for n, s in warm_samples.items()}
    warm_med = {
        n: round(statistics.median(s), 3) for n, s in warm_samples.items()
    }
    details = {
        "queries": timings,
        "queries_warm": warm_min,
        "queries_warm_median": warm_med,
        "warm_runs": N_WARM_RUNS,
        # r11: each canary sample is the min of 3 back-to-back scans
        # (see canary()) — canary-normalized values are not directly
        # comparable to pre-r11 sidecars (the canary reads ~10-15%
        # faster without its blip component)
        "canary_form": "min-of-3 (r11)",
    }
    if canary_warm:
        cw = min(canary_warm)
        details["canary_warm_samples"] = [round(c, 3) for c in canary_warm]
        # drift-normalized warm numbers: divide by the warm canary so
        # machine state cancels when comparing rounds
        details["queries_warm_norm"] = {
            n: round(min(s) / cw, 2) for n, s in warm_samples.items()
        }
    drift_by_pass: dict[str, float] = {}
    if canary_trace:
        details["canary_trace"] = [
            {**c, "sec": round(c["sec"], 3)} for c in canary_trace
        ]
        # intra-pass drift: worst max/min canary ratio inside one
        # pass — >~2 means a pass segment was machine-noise
        # contaminated and that pass's numbers shouldn't be compared
        by_pass: dict[str, list[float]] = {}
        for c in canary_trace:
            by_pass.setdefault(c["pass"], []).append(c["sec"])
        drift_by_pass = {
            p: round(max(s) / max(min(s), 1e-9), 2)
            for p, s in by_pass.items()
            if len(s) > 1
        }
        details["canary_intra_pass_drift"] = drift_by_pass
    if warm_meta:
        # the self-gate's audit trail: which warm passes ran, which
        # were drift-contaminated, which feed the warm stats
        details["warm_meta"] = warm_meta
    if cold_meta:
        # r12: how the cold numbers were produced (fresh-subprocess
        # attempts + their drifts, or the in-process fallback)
        details["cold_meta"] = cold_meta
    if isolation_warm_min:
        # r12 (VERDICT r11 #5): fresh-session warm mins from the cold
        # attempt's extra passes — per-query regression reads that do
        # not depend on the main session's pass hygiene
        details["isolation_warm_min"] = isolation_warm_min
    if paired:
        # canary-PAIRED per-query pass (r11, VERDICT r10 #2): each
        # query timed immediately after its own canary sample, so the
        # normalization is drift-LOCAL — mid-pass tenant noise during
        # query X inflates X's own canary too and divides out. This
        # is the primary per-query regression signal; the fleet-pass
        # warm-min stays for totals. (Fresh-session adjudication:
        # the sidecar's isolation_warm_min, OPTIMIZATION_r12.md.)
        details["queries_paired_sec"] = {
            n: round(v["sec"], 3) for n, v in paired.items()
        }
        details["queries_paired_norm"] = {
            n: round(v["sec"] / max(v["canary"], 1e-9), 2)
            for n, v in paired.items()
        }
        details["paired_canaries"] = {
            n: round(v["canary"], 3) for n, v in paired.items()
        }
    sidecar = os.path.join(SIDECAR_DIR, "BENCH_DETAILS.json")
    try:
        with open(sidecar, "w") as f:
            json.dump(details, f, indent=1, sort_keys=True)
    except OSError as exc:  # pragma: no cover - read-only checkout
        print(f"sidecar write failed: {exc!r}", file=sys.stderr)
    print("BENCH_DETAILS " + json.dumps(details))
    head: dict[str, object] = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "warm_total_sec": round(sum(warm_min.values()), 3),
        "sf": sf,
    }
    if canary_cold is not None:
        head["canary_sec"] = canary_cold
        # canary-normalized COLD total (r08, VERDICT #7): cold totals
        # swung ±16% with machine state; dividing by the median of
        # the cold-pass canary samples makes round-over-round cold
        # comparison direct (unitless: total in canary-multiples),
        # as queries_warm_norm already does for the warm side
        cold_canaries = [canary_cold] + [
            c["sec"] for c in (canary_trace or []) if c["pass"] == "cold"
        ]
        head["value_norm"] = round(
            sum(timings.values()) / max(statistics.median(cold_canaries), 1e-9),
            2,
        )
    if canary_warm:
        head["canary_warm_sec"] = round(min(canary_warm), 3)
        head["warm_total_norm"] = round(
            sum(warm_min.values()) / max(min(canary_warm), 1e-9), 2
        )
    if drift_by_pass:
        # the self-gate verdict rides the headline: cold drift (r12:
        # the shipped cold attempt is the cleanest of the fresh-
        # subprocess re-runs — see _run_cold_attempts), worst drift
        # among the warm passes actually USED, and a single ok bit
        cold_drift = drift_by_pass.get("cold")
        used = (warm_meta or {}).get("passes_used") or [
            p for p in drift_by_pass if p != "cold"
        ]
        warm_used_drift = max(
            (drift_by_pass[p] for p in used if p in drift_by_pass),
            default=None,
        )
        n_clean_warm = len((warm_meta or {}).get("passes_used", used))
        head["drift"] = {
            "bar": DRIFT_BAR,
            "cold": cold_drift,
            "warm_used_max": warm_used_drift,
            "ok": (cold_drift is None or cold_drift <= DRIFT_BAR)
            and (warm_used_drift is None or warm_used_drift <= DRIFT_BAR)
            and n_clean_warm >= min(
                N_WARM_RUNS, len((warm_meta or {}).get("passes_run", used))
            ),
        }
    if canary_cold is not None and canary_warm:
        # like-for-like vs the last clean reference run: the same
        # totals EXCLUDING entries added after it, so cross-round
        # readers never redo the subtraction (VERDICT r10 "wrong" #3)
        keep = [n for n in timings if n not in LIKE_FOR_LIKE_EXCLUDED]
        cold_canaries = [canary_cold] + [
            c["sec"] for c in (canary_trace or []) if c["pass"] == "cold"
        ]
        cold_med = max(statistics.median(cold_canaries), 1e-9)
        head["like_for_like"] = {
            "baseline": LIKE_FOR_LIKE_BASELINE,
            "reference": LIKE_FOR_LIKE_REFERENCE,
            "excluded": [
                n for n in LIKE_FOR_LIKE_EXCLUDED if n in timings
            ],
            "cold_sec": round(sum(timings[n] for n in keep), 3),
            "warm_sec": round(
                sum(warm_min[n] for n in keep if n in warm_min), 3
            ),
            "cold_norm": round(
                sum(timings[n] for n in keep) / cold_med, 2
            ),
            "warm_norm": round(
                sum(warm_min[n] for n in keep if n in warm_min)
                / max(min(canary_warm), 1e-9),
                2,
            ),
        }
    headline = json.dumps(head)
    print(headline)
    return headline


def _setup_runnable(spark, sf_dir: str) -> tuple[dict, list[str]]:
    """Untimed setup shared by the main process and cold-attempt
    subprocesses: resolve the registry queries and build the three
    amortized stores. Returns (runnable, scratch dirs to rm)."""
    runnable: dict[str, object] = {}
    for name in BENCH_QUERIES:
        q = REGISTRY.get(name)
        if q is not None:
            runnable[name] = q.spark
    cleanup: list[str] = []
    try:
        _cat, store_topk, tmpdir = _build_ann_store(spark, sf_dir)
        cleanup.append(tmpdir)
        runnable["ivfpq_store_topk"] = store_topk
    except Exception as exc:  # pragma: no cover - never skip the bench
        print(f"ann store setup failed: {exc!r}", file=sys.stderr)
    try:
        _dcat, dedup_probe, dedup_tmpdir = _build_dedup_store(spark, sf_dir)
        cleanup.append(dedup_tmpdir)
        runnable["dedup_store_probe"] = dedup_probe
    except Exception as exc:  # pragma: no cover - never skip the bench
        print(f"dedup store setup failed: {exc!r}", file=sys.stderr)
    try:
        png_decode_only, png_tmpdir = _build_png_blobs(spark, sf_dir)
        cleanup.append(png_tmpdir)
        runnable["png_decode_only"] = png_decode_only
    except Exception as exc:  # pragma: no cover - never skip the bench
        print(f"png blob setup failed: {exc!r}", file=sys.stderr)
    return runnable, cleanup


def _cold_attempt_child() -> None:
    """``python bench.py --cold-attempt``: one fresh-JVM cold attempt.

    Same methodology as the historical in-process cold pass — first
    execution of each query in a fresh session, store setups untimed,
    canary-traced — but honestly re-runnable because the JIT state
    dies with the process. After the cold pass, ISOLATION_WARM_REPS
    warm passes feed the sidecar's ``isolation_warm_min`` (fresh-
    session warm numbers, independent of the main session's pass
    hygiene). Prints ONE JSON line on the LAST stdout line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = create_spark_session(app_name="bench-cold-attempt")
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    runnable, cleanup = _setup_runnable(spark, sf_dir)
    # ADVICE r12: an attempt whose untimed store setup partly failed
    # used to ship a PARTIAL cold timing set silently — main() then
    # intersected, understating totals vs the like-for-like reference
    # with no flag. Name what is missing so the parent can prefer
    # complete attempts and the sidecar records the gap.
    expected = [n for n in BENCH_QUERIES if n in REGISTRY] + [
        "ivfpq_store_topk", "dedup_store_probe", "png_decode_only",
    ]
    missing = sorted(set(expected) - set(runnable))
    try:
        trace: list[dict] = []
        canary_cold = canary(spark, sf_dir)
        timings: dict[str, float] = {}
        iso: dict[str, list[float]] = {n: [] for n in runnable}
        for i, (name, fn) in enumerate(runnable.items()):
            if i % CANARY_EVERY == 0:
                trace.append(
                    {"pass": "cold", "before": name,
                     "sec": canary(spark, sf_dir)}
                )
            spark.sparkContext.setJobDescription(f"cold: {name}")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        for _ in range(ISOLATION_WARM_REPS):
            for name, fn in runnable.items():
                spark.sparkContext.setJobDescription(f"iso-warm: {name}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop").save()
                iso[name].append(time.perf_counter() - t0)
        print("COLD_ATTEMPT " + json.dumps({
            "timings": timings,
            "n_queries": len(timings),
            "missing": missing,
            "canary_cold": canary_cold,
            "trace": trace,
            "isolation_warm_min": {
                n: round(min(s), 3) for n, s in iso.items() if s
            },
        }))
    finally:
        for d in cleanup:
            shutil.rmtree(d, ignore_errors=True)


def _run_cold_attempts() -> dict | None:
    """Run fresh-subprocess cold attempts until one meets DRIFT_BAR
    (bounded at MAX_COLD_ATTEMPTS); return the cleanest attempt's
    payload plus attempt metadata, or None if no attempt produced a
    parseable payload (caller falls back to the in-process pass)."""
    import subprocess

    attempts: list[dict] = []
    for i in range(MAX_COLD_ATTEMPTS):
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--cold-attempt"],
                capture_output=True, text=True, timeout=1800,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
        except Exception as exc:  # pragma: no cover - never skip
            print(f"cold attempt {i} failed to launch: {exc!r}",
                  file=sys.stderr)
            continue
        payload = None
        for line in reversed(proc.stdout.splitlines()):
            if line.startswith("COLD_ATTEMPT "):
                try:
                    payload = json.loads(line[len("COLD_ATTEMPT "):])
                except ValueError:
                    pass
                break
        if payload is None or not payload.get("timings"):
            print(f"cold attempt {i} produced no payload "
                  f"(rc={proc.returncode})", file=sys.stderr)
            continue
        secs = [c["sec"] for c in payload["trace"]]
        drift = (max(secs) / max(min(secs), 1e-9)) if len(secs) > 1 else 1.0
        payload["drift"] = round(drift, 2)
        attempts.append(payload)
        if payload.get("missing"):
            print(
                f"cold attempt {i} timed only "
                f"{payload.get('n_queries')} queries (missing: "
                f"{payload['missing']}) — retrying", file=sys.stderr,
            )
            continue  # a partial set is a failed setup, not a keeper
        if drift <= DRIFT_BAR:
            break
    if not attempts:
        return None
    # prefer COMPLETE attempts (ADVICE r12): a partial timing set —
    # a store setup failed in that subprocess — must not win on drift
    # alone and silently understate the totals; fall back to partial
    # attempts only when no attempt produced the full set.
    complete = [a for a in attempts if not a.get("missing")]
    best = min(complete or attempts, key=lambda a: a["drift"])
    best["attempt_drifts"] = [a["drift"] for a in attempts]
    best["attempt_counts"] = [a.get("n_queries") for a in attempts]
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    # COLD pass first, in fresh subprocesses (r12, VERDICT r11 #1):
    # launched BEFORE this process builds its own JVM so the attempt
    # is measured on an otherwise idle box.
    cold = None if os.environ.get("SPARK_GRAFT_NO_COLD_SUBPROCESS") \
        else _run_cold_attempts()

    spark = create_spark_session(app_name="bench")

    # warmup: JVM/codegen spin-up, not counted
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    runnable, cleanup = _setup_runnable(spark, sf_dir)

    try:
        # intra-pass canary trace (r07): one canary sample at the top
        # of every pass missed mid-pass tenant noise (the r06 79s cold
        # outlier looked like query regressions). A sample every
        # CANARY_EVERY queries timestamps the drift WITHIN a pass, so
        # a contaminated segment is attributable.
        canary_trace: list[dict] = []

        def traced_pass(tag: str, sink: dict | None, samples: dict | None) -> None:
            for i, (name, fn) in enumerate(runnable.items()):
                if i % CANARY_EVERY == 0:
                    canary_trace.append(
                        {"pass": tag, "before": name,
                         "sec": canary(spark, sf_dir)}
                    )
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
                dt = time.perf_counter() - t0
                if sink is not None:
                    sink[name] = round(dt, 3)
                if samples is not None:
                    samples[name].append(dt)

        def pass_drift(tag: str) -> float:
            s = [c["sec"] for c in canary_trace if c["pass"] == tag]
            return max(s) / max(min(s), 1e-9) if len(s) > 1 else 1.0

        isolation_warm_min: dict[str, float] | None = None
        cold_meta: dict | None = None
        if cold is not None:
            # COLD numbers from the cleanest fresh-subprocess attempt
            # (r12): the canary trace and canary_cold come from that
            # attempt so value_norm and the drift verdict describe the
            # run that produced the timings.
            timings = {
                n: cold["timings"][n]
                for n in runnable if n in cold["timings"]
            }
            canary_cold = cold["canary_cold"]
            canary_trace.extend(cold["trace"])
            isolation_warm_min = cold.get("isolation_warm_min")
            cold_meta = {
                "mode": "fresh-subprocess",
                "attempt_drifts": cold["attempt_drifts"],
                "attempt_counts": cold.get("attempt_counts"),
                "n_queries": len(timings),
                "missing": cold.get("missing", []),
                "max_attempts": MAX_COLD_ATTEMPTS,
            }
            # this JVM still needs its JIT warmed before the warm
            # passes — one untimed pass over the set (exactly the work
            # the in-process cold pass used to do)
            untimed: dict[str, float] = {}
            traced_pass("warmup-untimed", untimed, None)
        else:
            # fallback (subprocess disabled or failed): historical
            # in-process cold pass — honest but not re-runnable
            canary_cold = canary(spark, sf_dir)
            timings = {}
            traced_pass("cold", timings, None)
            cold_meta = {"mode": "in-process"}

        # SELF-GATING WARM PASSES (r11, VERDICT r10 #2): a pass whose
        # own intra-pass canary drift exceeds DRIFT_BAR is machine-
        # noise contaminated — re-run it (bounded at MAX_WARM_PASSES)
        # and feed the warm stats from CLEAN passes only, so the
        # shipped sidecar meets the bar it is graded by instead of
        # recording whatever the newest (possibly noisy) run said.
        # The cold pass re-runs in fresh subprocesses (r12) — see
        # _run_cold_attempts. Each warm pass starts with an empty
        # cache (like perfbench's per-unit clear): a persist left by
        # the previous pass must not serve this one's scans.
        warm_passes: list[tuple[str, dict[str, float], float]] = []
        while True:
            spark.catalog.clearCache()
            tag = f"warm{len(warm_passes)}"
            sink: dict[str, float] = {}
            traced_pass(tag, sink, None)
            warm_passes.append((tag, sink, pass_drift(tag)))
            clean = [wp for wp in warm_passes if wp[2] <= DRIFT_BAR]
            if len(clean) >= N_WARM_RUNS or len(warm_passes) >= MAX_WARM_PASSES:
                break
        used = clean if clean else warm_passes  # never ship zero passes
        warm_meta = {
            "passes_run": [t for t, _, _ in warm_passes],
            "passes_used": [t for t, _, _ in used],
            "contaminated": [
                t for t, _, d in warm_passes if d > DRIFT_BAR
            ],
            "drift_bar": DRIFT_BAR,
        }
        warm_samples = {
            n: [s[n] for _, s, _ in used if n in s] for n in runnable
        }
        used_tags = set(warm_meta["passes_used"])
        canary_warm = [
            c["sec"] for c in canary_trace if c["pass"] in used_tags
        ]

        # canary-paired per-query pass: drift-local normalization,
        # the primary per-query regression signal (see emit()).
        # SANDWICHED (r12, r11 ADVICE): a canary strictly BEFORE the
        # query misses noise that starts DURING it — sample before and
        # after, normalize by the min (sustained contamination raises
        # both; a one-sided blip is filtered like canary()'s own
        # min-of-reps already does).
        paired: dict[str, dict] = {}
        for name, fn in runnable.items():
            c_pre = canary(spark, sf_dir)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.perf_counter() - t0
            c_post = canary(spark, sf_dir)
            paired[name] = {"sec": dt, "canary": min(c_pre, c_post),
                            "canary_pre": c_pre, "canary_post": c_post}

        emit(timings, warm_samples, sf, canary_cold, canary_warm,
             canary_trace, paired=paired, warm_meta=warm_meta,
             cold_meta=cold_meta, isolation_warm_min=isolation_warm_min)
    finally:
        for d in cleanup:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    if "--cold-attempt" in sys.argv[1:]:
        _cold_attempt_child()
    else:
        main()

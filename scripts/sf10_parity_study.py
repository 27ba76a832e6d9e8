"""~sf10 parity study (VERDICT r09 #5): push value-exact verification
past the DuckDB-replay wall.

The r09 sweep proved all 178 queries at ~sf1 and 11 at ~sf3, but the
heavy text families were ORACLE-bound, not engine-bound (the
near-dup oracle replays 15 minhashes over every shingle: 80x the
engine's cost at sf1 → ~4h at sf10). This study verifies a heavy
slice at factor 100 (60M lineitem / 571k corpus docs — "sf10") with
two modes, each documented per query in the output:

* ``full`` — the driver-faithful compare (tests/oracle semantics,
  :func:`parity_one`) where DuckDB's replay is still
  affordable at 100x: TPC-H aggregates/joins, exact dedup, text
  stats, brute-force ANN, BM25.

* ``sampled-exact`` — for MinHash-LSH near-dup, whose full replay is
  the wall. Pick ~1k corpus keys deterministically (base doc_id %
  499 == 0 → every copy's instance of those bases, variants
  included), then replay the engine's EXACT semantics for every pair
  touching a sampled doc:

    1. compute the 15 Carter-Wegman minhash ARGMIN SHINGLES for each
       sampled doc (needs only the sample's own shingles);
    2. a banded partner must agree with the sample doc on all 5
       minhashes of some band, and an equal minhash value implies the
       SAME argmin shingle (the hash is md5-derived; collisions are
       negligible) — so every true partner contains all 5 of that
       band's argmin shingles. One inverted join of the corpus
       shingle stream against the ≤ sample*15 argmin shingles,
       HAVING count(DISTINCT k)=5 within a band, yields a small
       SOUND candidate superset without hashing the corpus;
    3. run the oracle's exact signature/banding/Jaccard pipeline
       over (sample ∪ candidates) only, restrict pairs to those
       touching the sample, and compare against the engine's full
       sf10 output filtered to the same keys (same normalizer as the
       driver).

  Soundness: a pair's banding decision and Jaccard depend only on the
  two docs' own texts, so restricting the replay to a key-closed
  superset changes nothing; completeness: step 2's superset argument.
  Invariants checked on the engine's FULL output besides the sample:
  every pair within one scaled copy (the per-copy character
  derangement makes cross-copy shingle overlap impossible by
  construction), jaccard >= 0.6, doc_a < doc_b.

Usage:
  python scripts/sf10_parity_study.py [--factor 100] [--lake DIR]
      [--keep] [--queries n1 n2 ...] [--sample-mod 499]

Output: one JSON line per query with mode, timings, rows, ok.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY, load
from end_to_end_etl_pipeline_spark.session import create_spark_session
from scripts.scale_study import build_scaled
from tests.oracle import _df_norm, run_oracle

#: full driver-faithful compare at factor 100 — DuckDB replay still
#: affordable; ordered cheap-first so failures localize early
FULL_QUERIES = [
    "pricing_summary",          # 60M-row grouped exact-decimal aggregate
    "revenue_by_nation",        # 5-way join star
    "nation_market_share",      # dual-role dim join + conditional sums
    "min_cost_supplier",        # correlated-min bridge
    "customer_master",          # flagship: dedup+agg+join+KPIs at 1.5M cust
    "winsorized_price_stats",   # percentile clamp over 60M rows
    "top_events_per_user",      # 10M-row event window top-k
    "dedup_exact_text",         # exact dedup at 571k docs
    "doc_token_stats",          # tokenizer stats at 571k docs
    "quality_classifier_scores",  # hashed-feature scoring at 571k docs
    "cosine_topk",              # brute-force ANN baseline, 200k vectors
    "bm25_doc_search",          # full-corpus idf + query scoring
    "line_dedup_corpus",        # line-level dedup (explode + min_by)
    "doc_span_overlap",         # winnowing fingerprints (df-capped join)
    # r10 extension: event-time, sketch, sampling, SCD2/storage shapes
    "purchase_last_view_asof",  # as-of join over 10M events
    "user_sessions",            # sessionization window
    "daily_uniques_hll",        # HLL vs exact distinct over 10M events
    "doc_split_assign",         # deterministic hash split, 571k docs
    "curriculum_sample",        # stratified curriculum sampling
    "scd2_transition",          # SCD2 engine scratch build + transitions
    "orders_pit_dimension_join",  # PIT join against SCD2 validity (15M orders)
    "split_contamination",      # df-capped 8-gram cross-split join
    # r11 extension (VERDICT r10 #3): the store-backed retrieval
    # stack — the operators whose bucket/cell/term-dir pruning is the
    # 100-TB mechanism, previously sf1-proven only
    "bm25_store_search",        # term-hash-bucketed lexical store
    "hybrid_doc_retrieval",     # RRF fusion of BM25 + cosine arms
    "mmr_diverse_rerank_grouped",  # cogrouped-Arrow greedy MMR
    "ann_store_incremental_topk",  # IVFADC store, frozen-quantizer append
]
#: sampled-exact mode (see module doc)
SAMPLED_QUERIES = ["near_dup_pairs"]
#: engine-conformance mode (r11, VERDICT r10 #3): the two AMORTIZED
#: store probes (bench.py's A/B entries, not registry queries) —
#: verified at factor 100 against an independently-computed twin
#: instead of DuckDB (the minhash replay is the oracle wall; the ANN
#: store's oracle proof rides ann_store_incremental_topk above):
#: * ivfpq_store_topk: the pre-built cell-partitioned store must
#:   answer EXACTLY like the in-query ivfpq_topk twin (same codebook
#:   seed, same routing) — different code path, same math;
#: * dedup_store_probe: the store's probe decisions (fused-array
#:   signature pipeline + persisted state) must match a FULL
#:   independent recompute through the explode-route operators
#:   (minhash_signatures_cw over char_shingles) with the decision
#:   rule replicated in plain DataFrame ops.
STORE_QUERIES = ["ivfpq_store_topk", "dedup_store_probe"]

_K, _B, _R = 15, 3, 5  # mirrors queries/textdata.py banding params
_HEX = "0123456789abcdef"


def parity_one(spark, name: str, sf_dir: str) -> dict:
    """The driver's compare, with per-side timing."""
    q = REGISTRY[name]
    t0 = time.perf_counter()
    try:
        s_df = q.spark(spark, sf_dir).toPandas()
    except Exception as exc:
        return {
            "ok": False,
            "spark_sec": round(time.perf_counter() - t0, 1),
            "problems": [f"spark failed: {exc!r}"[:400]],
        }
    t1 = time.perf_counter()
    try:
        # scale studies only: an in-memory DuckDB cannot spill without
        # a temp dir, and the sf30 lakes push several oracles (list
        # explodes over 1.7M docs) past RAM — opt in via env so the
        # driver-faithful default (no spill) is unchanged.
        o_df = run_oracle(
            q.oracle,
            sf_dir,
            temp_directory=os.environ.get("SPARK_GRAFT_ORACLE_SPILL"),
        )
    except Exception as exc:
        return {
            "ok": False,
            "spark_sec": round(t1 - t0, 1),
            "oracle_sec": round(time.perf_counter() - t1, 1),
            "problems": [f"oracle failed: {exc!r}"[:400]],
        }
    t2 = time.perf_counter()
    problems: list[str] = []
    if sorted(s_df.columns) != sorted(o_df.columns):
        problems.append(
            f"columns differ: spark={sorted(s_df.columns)} "
            f"oracle={sorted(o_df.columns)}"
        )
    else:
        if len(s_df) != len(o_df):
            problems.append(
                f"row count differs: spark={len(s_df)} oracle={len(o_df)}"
            )
        order = sorted(s_df.columns)
        s_norm = _df_norm(s_df, order)
        o_norm = _df_norm(o_df, order)
        if s_norm != o_norm:
            diff_i = next(
                (
                    i
                    for i, (a, b) in enumerate(zip(s_norm, o_norm))
                    if a != b
                ),
                min(len(s_norm), len(o_norm)),
            )
            s_at = s_norm[diff_i] if diff_i < len(s_norm) else "<missing>"
            o_at = o_norm[diff_i] if diff_i < len(o_norm) else "<missing>"
            problems.append(
                f"values differ at sorted row {diff_i}: "
                f"spark={s_at} oracle={o_at}"[:400]
            )
    return {
        "ok": not problems,
        "spark_sec": round(t1 - t0, 1),
        "oracle_sec": round(t2 - t1, 1),
        "rows": len(s_df),
        "problems": problems,
    }


def _nibble(col: str, start: int, width: int = 8) -> str:
    terms = [
        f"(strpos('{_HEX}', substring({col}, {start + j}, 1)) - 1)"
        f" * {16 ** (width - 1 - j)}"
        for j in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


def _sampled_near_dup_sql(sample_mod: int) -> str:
    """Exact replay of the near_dup_pairs oracle restricted to pairs
    touching the deterministic sample — argmin-shingle candidate
    discovery instead of corpus-wide signatures."""
    mins = ",\n           ".join(
        f"min((h1 + {k} * h2) % 4294967296) AS m{k}" for k in range(_K)
    )
    bands = "\n    UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS band_hash"
        " FROM sig".format(
            b=b, cols=", ".join(f"m{b * _R + r}" for r in range(_R))
        )
        for b in range(_B)
    )
    samp = f"(doc_id % 1000000000) % 1000000 % {sample_mod} = 0"
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, substr(text, 8) AS text
      FROM documents WHERE doc_id % 7 = 0
    ),
    samp AS (SELECT doc_id, text FROM corpus WHERE {samp}),
    ssh AS (
      SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 6) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 5, 0))) AS i
            FROM samp)
    ),
    sh1 AS (
      SELECT doc_id, shingle,
             {_nibble('h', 1)} AS h1, {_nibble('h', 9)} AS h2
      FROM (SELECT doc_id, shingle, md5(shingle) AS h FROM ssh)
    ),
    ks AS (SELECT unnest(generate_series(0, {_K - 1})) AS k),
    amins AS (
      SELECT doc_id, k,
             arg_min(shingle, (h1 + k * h2) % 4294967296) AS ashingle
      FROM sh1, ks GROUP BY doc_id, k
    ),
    allsh AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 6) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 5, 0))) AS i
            FROM corpus)
    ),
    -- candidate discovery in two stages to bound the join fanout:
    -- argmins are SIZE-BIASED toward globally common shingles (a
    -- common shingle sits in many docs' sets, so it gets many
    -- chances to carry the minimum hash) — joining the corpus
    -- against every argmin measured ~600M rows at factor 100 and
    -- spilled DuckDB off the disk. A banded partner must contain
    -- ALL {_R} of the matching band's argmins, in particular the
    -- band's RAREST one — so probe on that alone (min global df of
    -- the {_R}), then verify full containment only for the probed
    -- candidates. Still a sound superset.
    adf AS (
      SELECT a.shingle, count(DISTINCT a.doc_id) AS df
      FROM allsh a
      JOIN (SELECT DISTINCT ashingle FROM amins) m
        ON a.shingle = m.ashingle
      GROUP BY a.shingle
    ),
    probe AS (
      SELECT doc_id AS sdoc, band, ashingle FROM (
        SELECT m.doc_id, m.k // {_R} AS band, m.ashingle,
               row_number() OVER (
                 PARTITION BY m.doc_id, m.k // {_R}
                 ORDER BY d.df, m.ashingle) AS rn
        FROM amins m JOIN adf d ON d.shingle = m.ashingle
      ) WHERE rn = 1
    ),
    cand0 AS (
      SELECT DISTINCT a.doc_id AS cdoc, p.sdoc, p.band
      FROM allsh a JOIN probe p ON a.shingle = p.ashingle
    ),
    hits AS (
      SELECT c.cdoc, c.sdoc, c.band
      FROM cand0 c
      JOIN amins m ON m.doc_id = c.sdoc AND m.k // {_R} = c.band
      JOIN allsh a ON a.doc_id = c.cdoc AND a.shingle = m.ashingle
      GROUP BY c.cdoc, c.sdoc, c.band
      HAVING count(DISTINCT m.k) = {_R}
    ),
    cand_docs AS (
      SELECT DISTINCT cdoc AS doc_id FROM hits
      UNION SELECT doc_id FROM samp
    ),
    rel AS (SELECT c.doc_id, c.text FROM corpus c
            JOIN cand_docs USING (doc_id)),
    sh AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 6) AS shingle
      FROM (SELECT doc_id, text,
                   unnest(generate_series(1, greatest(length(text) - 5, 0))) AS i
            FROM rel)
    ),
    hashed AS (
      SELECT doc_id,
             {_nibble('h', 1)} AS h1,
             {_nibble('h', 9)} AS h2
      FROM (SELECT doc_id, md5(shingle) AS h FROM sh)
    ),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
    {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
      WHERE ((a.doc_id % 1000000000) % 1000000 % {sample_mod} = 0)
         OR ((b.doc_id % 1000000000) % 1000000 % {sample_mod} = 0)
    ),
    shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, count(*) AS n FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ci
      FROM cand c
      JOIN shd sa ON sa.doc_id = c.doc_a
      JOIN shd sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(ci AS DOUBLE) / (na.n + nb.n - ci), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE CAST(ci AS DOUBLE) / (na.n + nb.n - ci) >= 0.6
    """


def sampled_near_dup(spark, sf_dir: str, sample_mod: int) -> dict:
    q = REGISTRY["near_dup_pairs"]
    t0 = time.perf_counter()
    full = q.spark(spark, sf_dir).persist()
    n_pairs = full.count()
    t_engine = time.perf_counter() - t0

    problems: list[str] = []
    base = (F.col("doc_a") % 1000000000) % 1000000
    base_b = (F.col("doc_b") % 1000000000) % 1000000
    # engine-output invariants over the FULL sf10 result
    bad_copy = full.filter(
        (F.col("doc_a") / 1000000000).cast("long")
        != (F.col("doc_b") / 1000000000).cast("long")
    ).count()
    if bad_copy:
        problems.append(f"{bad_copy} cross-copy pairs (derangement broken)")
    bad_j = full.filter(
        (F.col("jaccard") < 0.6) | (F.col("doc_a") >= F.col("doc_b"))
    ).count()
    if bad_j:
        problems.append(f"{bad_j} pairs violate threshold/ordering")

    s_df = (
        full.filter((base % sample_mod == 0) | (base_b % sample_mod == 0))
        .toPandas()
    )
    full.unpersist()
    t1 = time.perf_counter()
    spill = tempfile.mkdtemp(prefix="sf10_duck_spill_")
    try:
        o_df = run_oracle(
            _sampled_near_dup_sql(sample_mod), sf_dir, temp_directory=spill
        )
    finally:
        import shutil

        shutil.rmtree(spill, ignore_errors=True)
    t_oracle = time.perf_counter() - t1

    if len(s_df) != len(o_df):
        problems.append(
            f"sampled row count differs: engine={len(s_df)} "
            f"oracle={len(o_df)}"
        )
    order = sorted(s_df.columns)
    if sorted(o_df.columns) != order:
        problems.append(f"columns differ: {sorted(o_df.columns)} vs {order}")
    elif _df_norm(s_df, order) != _df_norm(o_df, order):
        problems.append("sampled values differ")
    return {
        "ok": not problems,
        "mode": "sampled-exact",
        "sample_mod": sample_mod,
        "rows_full": n_pairs,
        "rows_sampled": len(s_df),
        "spark_sec": round(t_engine, 1),
        "oracle_sec": round(t_oracle, 1),
        "problems": problems,
    }


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def store_ann_conformance(spark, sf_dir: str) -> dict:
    """ivfpq_store_topk at factor 100: build the IVFADC store once
    (untimed amortization, bench._build_ann_store), then the timed
    probe must answer EXACTLY like the in-query ivfpq_topk twin —
    same codebook (deterministic id%8 seed + 1 Lloyd step), same
    routing params — through a completely different code path
    (cell-bucketed dirs + manifest codebook vs in-query train+encode).
    The twin itself is DuckDB-proven by the same _IVFPQ_CTES oracle
    that ann_store_incremental_topk answers at this factor."""
    import shutil

    import bench

    t0 = time.perf_counter()
    _cat, store_topk, tmpdir = bench._build_ann_store(spark, sf_dir)
    t_build = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        s_rows = _rows(store_topk(spark, sf_dir))
        t_cold = time.perf_counter() - t0
        warm = []
        for _ in range(2):
            t0 = time.perf_counter()
            store_topk(spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            warm.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        k_rows = _rows(REGISTRY["ivfpq_topk"].spark(spark, sf_dir))
        t_twin = time.perf_counter() - t0
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    problems = []
    if not s_rows:
        problems.append("store probe returned 0 rows")
    if s_rows != k_rows:
        problems.append(
            f"store result != in-query twin ({len(s_rows)} vs "
            f"{len(k_rows)} rows)"
        )
    return {
        "ok": not problems,
        "mode": "engine-conformance",
        "rows": len(s_rows),
        "build_sec": round(t_build, 1),
        "probe_cold_sec": round(t_cold, 1),
        "probe_warm_sec": round(min(warm), 1),
        "twin_inquery_sec": round(t_twin, 1),
        "problems": problems,
    }


def store_dedup_conformance(spark, sf_dir: str) -> dict:
    """dedup_store_probe at factor 100: bulk-ingest the full corpus
    into the MinHash signature store once (untimed amortization),
    time the marginal probe of a corpus/50 near-dup batch, then
    verify the probe's decisions two ways:

    1. FULL independent recompute: signatures via the explode-route
       operators (char_shingles -> minhash_signatures_cw — a
       different pipeline than the store's fused per-row arrays),
       banding via lsh_bands, and the store's documented decision
       rule (vs-store min-id/max-est, one-hop within-batch, smallest
       dup_of on union) replicated in plain DataFrame ops. Every
       (doc_id, dup_of, est_jaccard) row must match exactly.
    2. Invariants: est_jaccard >= threshold, batch ids only in
       doc_id, store ids only in dup_of."""
    import shutil

    from pyspark.sql import functions as F

    import bench
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        char_shingles,
        lsh_bands,
        minhash_signatures_cw,
    )

    t0 = time.perf_counter()
    _cat, probe, tmpdir = bench._build_dedup_store(spark, sf_dir)
    t_build = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        rej = probe(spark, sf_dir)
        probe_rows = _rows(rej)
        t_cold = time.perf_counter() - t0
        t0 = time.perf_counter()
        probe(spark, sf_dir).write.mode("overwrite").format("noop").save()
        t_warm = time.perf_counter() - t0

        problems: list[str] = []
        if not probe_rows:
            problems.append("probe rejected 0 docs (vacuous)")
        # _rows sorts columns alphabetically: (doc_id, dup_of,
        # est_jaccard) is already that order
        bad_t = sum(1 for r in probe_rows if r[2] < 0.6)
        if bad_t:
            problems.append(f"{bad_t} rejected rows below threshold")
        bad_ids = sum(1 for r in probe_rows if r[0] < 1000000)
        if bad_ids:
            problems.append(f"{bad_ids} rejected ids not from the batch")

        # the same batch construction as bench._build_dedup_store
        docs = (
            load(spark, sf_dir, "documents")
            .select("doc_id", "text")
        )
        batch = (
            load(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 50 == 0)
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, 8)").alias("text"),
            )
        )

        # (1) full independent recompute via the explode route
        t0 = time.perf_counter()
        K, BANDS, ROWS, T = 16, 4, 4, 0.6
        sig_store = minhash_signatures_cw(
            char_shingles(docs, "doc_id", "text"), "doc_id", K
        )
        sig_batch = minhash_signatures_cw(
            char_shingles(batch, "doc_id", "text"), "doc_id", K
        )
        sigarr = F.array(*[F.col(f"m{k}") for k in range(K)])

        def bands_of(sig):
            return lsh_bands(
                sig, "doc_id", BANDS, ROWS, carry=[sigarr.alias("__sig")]
            )

        def est(bands_a, bands_b):
            a = bands_a.select(
                "band", "band_hash",
                F.col("doc_id").alias("id_a"),
                F.col("__sig").alias("__sig_a"),
            )
            b = bands_b.select(
                "band", "band_hash",
                F.col("doc_id").alias("id_b"),
                F.col("__sig").alias("__sig_b"),
            )
            eq = F.zip_with(
                F.col("__sig_a"), F.col("__sig_b"),
                lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
            )
            frac = F.aggregate(
                eq, F.lit(0), lambda acc, x: acc + x
            ) / F.lit(float(K))
            return a.join(b, ["band", "band_hash"]).select(
                "id_a", "id_b", frac.alias("est_jaccard")
            )

        b_all, b_batch = bands_of(sig_store), bands_of(sig_batch)
        # the store holds only the bulk ingest's SURVIVORS: the first
        # ingest (no prior store) rejects doc X iff some lower-id doc
        # Y<X collides with est >= T — replicate that to derive the
        # survivor set independently, then band the survivors only
        corpus_rejected = (
            est(b_all, b_all)
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("est_jaccard") >= T)
            )
            .select(F.col("id_b").alias("doc_id"))
            .distinct()
        )
        b_store = bands_of(
            sig_store.join(corpus_rejected, "doc_id", "left_anti")
        )
        vs_store = (
            est(b_batch, b_store)
            .filter(F.col("est_jaccard") >= T)
            .groupBy("id_a")
            .agg(
                F.min("id_b").alias("dup_of"),
                F.max("est_jaccard").alias("est_jaccard"),
            )
            .select(F.col("id_a").alias("doc_id"), "dup_of", "est_jaccard")
        )
        nn = est(b_batch, b_batch).filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("est_jaccard") >= T)
        ).join(
            vs_store.select(F.col("doc_id").alias("id_a")),
            "id_a", "left_anti",
        )
        in_batch = (
            nn.groupBy("id_b")
            .agg(
                F.min("id_a").alias("dup_of"),
                F.max("est_jaccard").alias("est_jaccard"),
            )
            .select(F.col("id_b").alias("doc_id"), "dup_of", "est_jaccard")
        )
        recomputed = (
            vs_store.unionByName(in_batch)
            .groupBy("doc_id")
            .agg(
                F.min_by(
                    F.struct("dup_of", "est_jaccard"), "dup_of"
                ).alias("__m")
            )
            .select("doc_id", "__m.dup_of", "__m.est_jaccard")
        )
        recomputed_rows = _rows(recomputed)
        t_recompute = time.perf_counter() - t0
        if recomputed_rows != probe_rows:
            problems.append(
                "explode-route recompute differs "
                f"({len(recomputed_rows)} vs {len(probe_rows)} rows)"
            )
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)
    return {
        "ok": not problems,
        "mode": "engine-conformance-full",
        "rows": len(probe_rows),
        "build_sec": round(t_build, 1),
        "probe_cold_sec": round(t_cold, 1),
        "probe_warm_sec": round(t_warm, 1),
        "recompute_oracle_sec": round(t_recompute, 1),
        "problems": problems,
    }


STORE_FNS = {
    "ivfpq_store_topk": store_ann_conformance,
    "dedup_store_probe": store_dedup_conformance,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=100)
    ap.add_argument("--lake", default=None)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--sample-mod", type=int, default=499)
    args = ap.parse_args()

    base = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = create_spark_session(app_name="sf10_parity_study")
    spark.sparkContext.setLogLevel("ERROR")
    out = args.lake or tempfile.mkdtemp(prefix="sf10_parity_")
    summary: dict[str, dict] = {}
    try:
        if not args.lake:
            t0 = time.perf_counter()
            build_scaled(spark, base, out, args.factor)
            print(
                f"built {args.factor}x lake at {out} in "
                f"{time.perf_counter() - t0:.1f}s",
                file=sys.stderr,
            )
        names = args.queries if args.queries else (
            FULL_QUERIES + STORE_QUERIES
        )
        for name in names:
            if name in SAMPLED_QUERIES or name in STORE_FNS:
                continue
            r = {"mode": "full", **parity_one(spark, name, out)}
            print(json.dumps({"query": name, **r}), flush=True)
            summary[name] = r
        for name in SAMPLED_QUERIES:
            if args.queries and name not in args.queries:
                continue
            r = sampled_near_dup(spark, out, args.sample_mod)
            print(json.dumps({"query": name, **r}), flush=True)
            summary[name] = r
        for name in STORE_QUERIES:
            if args.queries and name not in args.queries:
                continue
            r = STORE_FNS[name](spark, out)
            print(json.dumps({"query": name, **r}), flush=True)
            summary[name] = r
        n_ok = sum(1 for r in summary.values() if r.get("ok"))
        print(json.dumps({
            "study": "sf10_parity",
            "factor": args.factor,
            "ok": n_ok,
            "total": len(summary),
            "failing": [n for n, r in summary.items() if not r.get("ok")],
        }), flush=True)
    finally:
        if not args.keep and not args.lake:
            import shutil

            shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()

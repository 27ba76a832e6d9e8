"""ivf_probe_adaptive contract: per-query candidate-count floor,
crossing-cell inclusion, and equivalence to brute force when the
floor spans the corpus.  The oracle-gated query
(cosine_topk_ivf_adaptive) proves value parity; these pin the
operator-level selection rule on frames where the cells are skewed
by construction."""

from __future__ import annotations

from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    ivf_probe_adaptive,
)


def _skewed_corpus(spark):
    # cell 0: 8 vectors, cell 1: 3, cell 2: 1 — deliberately uneven
    rows = []
    vid = 0
    for lbl, n in [(0, 8), (1, 3), (2, 1)]:
        for i in range(n):
            rows.append((vid, [1.0 + lbl, float(i % 3), 1.0], lbl))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label int"
    )


def test_adaptive_probe_meets_candidate_floor(spark):
    corpus = _skewed_corpus(spark)
    queries = corpus.filter("vec_id in (0, 8, 11)")
    counts = {r["label"]: r["n"] for r in
              corpus.groupBy("label").agg(F.count("*").alias("n")).collect()}
    prev_cells: dict = {}
    for floor in (1, 4, 9, 12):
        probed = ivf_probe_adaptive(
            queries, corpus, "vec_id", "embedding", "label",
            min_candidates=floor,
        ).collect()
        per_q: dict = {}
        for r in probed:
            per_q.setdefault(r["query_id"], set()).add(r["label"])
        for qid, cells in per_q.items():
            got = sum(counts[c] for c in cells)
            # floor met (or the whole corpus probed)
            assert got >= min(floor, sum(counts.values())), (qid, floor)
            # monotone: a higher floor only ever probes MORE cells,
            # and the smaller floor's cells are a subset
            assert prev_cells.get((qid, "cells"), set()) <= cells
            prev_cells[(qid, "cells")] = cells


def test_adaptive_probe_full_floor_equals_brute_force(spark):
    corpus = _skewed_corpus(spark)
    queries = corpus.filter("vec_id in (0, 8)")
    adaptive = cosine_topk_ivf(
        queries, corpus, "vec_id", "vec_id", "embedding", "label",
        min_candidates=10_000,
    )
    brute = cosine_topk(queries, corpus, "vec_id", "vec_id", "embedding")
    assert sorted(map(tuple, adaptive.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_adaptive_probe_small_floor_probes_one_cell(spark):
    corpus = _skewed_corpus(spark)
    queries = corpus.filter("vec_id = 0")
    probed = ivf_probe_adaptive(
        queries, corpus, "vec_id", "embedding", "label", min_candidates=1
    ).collect()
    assert len(probed) == 1  # prev_cum 0 < 1 only for the best cell


def test_store_cell_counts_metadata_and_adaptive_probe(spark, tmp_path):
    """The persisted IVFADC store keeps exact per-cell counts in the
    manifest (write + every CAS append), and a probe-all query reads
    every counted cell."""
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=8, num_centroids=8)
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    write_ivfpq_store(cat, even, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)
    m0 = cat.latest_manifest("ann.pq")
    want_even = {str(r["label"]): r["n"] for r in
                 even.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert m0["cell_counts"] == want_even
    # append folds the batch counts in exactly
    append_ivfpq_store(cat, odd, "ann.pq", cell_col="label")
    m1 = cat.latest_manifest("ann.pq")
    want_all = {str(r["label"]): r["n"] for r in
                emb.groupBy("label").agg(F.count("*").alias("n")).collect()}
    assert m1["cell_counts"] == want_all

    queries = emb.orderBy("vec_id").limit(3)
    got, probed_all = ivfpq_store_topk(
        cat, "ann.pq", queries, "vec_id", "embedding", nprobe=m1["n_buckets"],
    )
    assert sorted(probed_all) == sorted(int(c) for c in m1["cell_counts"])
    assert got.count() == 3 * 5


def test_dedup_store_delete_unremembers_docs(spark, tmp_path):
    """Deleting a doc's signatures makes the store accept its
    near-dups again (the un-ingest contract)."""
    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    text = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, text), (2, "completely different words about ducks and water")],
        "doc_id bigint, text string",
    )
    dup = spark.createDataFrame([(10, text)], "doc_id bigint, text string")

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    store = MinHashDedupStore(cat, "sig")
    acc, rej = store.ingest(docs, "text")
    assert acc.count() == 2
    # exact dup of doc 1 is rejected while remembered
    acc2, rej2 = store.ingest(dup, "text")
    assert acc2.count() == 0 and rej2.count() == 1
    assert store.delete([1]) == 1
    # forgotten: the same dup is now accepted
    acc3, rej3 = store.ingest(dup, "text")
    assert acc3.count() == 1 and rej3.count() == 0
    # absent id delete is a no-op
    assert store.delete([999]) == 0

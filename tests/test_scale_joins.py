"""Scale paths: deterministic skew salting, AQE skew splits, and the
bucket-pruned stores (IVF-PQ ANN index, inverted text index)."""

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.joins import salted_join


def test_salted_join_matches_plain_join(spark):
    # heavy skew: 90% of left rows share key 0
    left = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("rowid"),
    )
    right = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("rv")
    )
    plain = left.join(right, ["k"]).select("k", "rowid", "rv")
    salted = salted_join(left, right, ["k"], salt_col="rowid").select(
        "k", "rowid", "rv"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # replication really spread the hot key across salt partitions
    spread = (
        left.withColumn("__salt", F.pmod(F.hash(F.col("rowid")), F.lit(8)))
        .filter(F.col("k") == 0)
        .select("__salt")
        .distinct()
        .count()
    )
    assert spread == 8


def test_ivf_store_survives_optimize_and_refuses_hash_appliers(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.operators.ivf_store import write_ivfpq_store
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    cb = [[(0, [0.0] * dim), (1, [1.0] * dim)]]  # M=1, K=2: codes unused here
    write_ivfpq_store(cat, emb, "vec_id", "embedding", "label", cb, "ann.e", dim=dim)

    def cells():
        return {
            b: sorted(r.vec_id for r in cat.read("ann.e", buckets=[b]).collect())
            for b in sorted(int(c) for c in cat.latest_manifest("ann.e")["bucket_dirs"])
        }

    before = cells()
    # routine compaction must keep the identity cell->bucket mapping
    cat.optimize("ann.e")
    assert cat.latest_manifest("ann.e")["bucket_fn"] == "identity"
    assert cells() == before

    # a hash-bucketed append would scramble the identity layout: refuse
    m = cat.latest_manifest("ann.e")
    with pytest.raises(ValueError, match="identity"):
        cat.append_bucketed(
            cat.read("ann.e").limit(1), "ann.e", m["n_buckets"],
            m["bucket_keys"], bucket_fn="hash_pmod",
        )
    assert cells() == before


def test_aqe_splits_skewed_join_partitions(spark):
    """AQE skew handling is the engine's runtime answer to hot keys
    (session.py enables it); prove it actually fires by shrinking the
    thresholds to test scale and checking the executed plan."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
        # the downstream agg needs a re-shuffle after the split, which
        # default AQE treats as disqualifying; allow it (the split's
        # win on the hot partition dwarfs the extra small exchange)
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        # pinned, not the session's one-per-core: skew is judged against
        # the median partition, and at two partitions the hot one IS the
        # median
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows on ONE key vs 2k spread keys: one hot partition
        fact = spark.range(0, 202_000, numPartitions=8).select(
            F.when(F.col("id") < 200_000, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .cast("long")
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(0, 1000, numPartitions=8).select(
            F.col("id").alias("k"), F.col("id").alias("attr")
        )
        # aggregate over payload so column pruning can't drop it: the
        # hot partition must carry incompressible bytes (200k identical
        # longs alone compress under the skew threshold)
        joined = fact.join(dim, "k").groupBy("k").agg(F.max("payload"))
        joined.collect()  # AQE re-plans at runtime
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skewed=" in final or "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivfpq_store_string_ids_and_zero_norm_vectors(spark, tmp_path):
    """The probe frame schema derives from the query id DataType (a
    string doc id must work, not just bigint), and a zero-norm stored
    vector is an ordinary candidate: squared L2 is defined at zero
    norm, so it ranks by its real distance, never as NULL."""
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    rows = [
        ("a", [1.0, 0.0], 0),
        ("b", [0.9, 0.1], 0),
        ("zero", [0.0, 0.0], 0),  # zero-norm corpus vector
        ("c", [0.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "doc string, embedding array<double>, label int"
    )
    cb = [[(0, [1.0, 0.0]), (1, [0.0, 1.0])]]  # M=1, K=2 codebook
    write_ivfpq_store(cat, emb, "doc", "embedding", "label", cb, "ann.s", dim=2)
    queries = emb.filter(F.col("doc") == "a")
    got, probed = ivfpq_store_topk(
        cat, "ann.s", queries, "doc", "embedding", nprobe=2
    )
    out = {r.match_id: r.l2sq for r in got.collect()}
    # string ids flow through probe + join; every distance is real
    assert out == {"b": 0.02, "zero": 1.0, "c": 2.0}
    assert probed == [0, 1]


def test_ivfpq_store_matches_in_plan_ivfpq_and_prunes(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        pq_train,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=8, num_centroids=8)
    write_ivfpq_store(
        cat, emb, "vec_id", "embedding", "label", cb, "ann.pq", dim=dim
    )
    n_cells = cat.latest_manifest("ann.pq")["n_buckets"]

    queries = emb.orderBy("vec_id").limit(4)
    got, probed = ivfpq_store_topk(
        cat, "ann.pq", queries, "vec_id", "embedding", nprobe=2
    )
    # physical pruning: <= queries x nprobe cells actually read
    assert 0 < len(probed) <= 8 < n_cells
    # no train/encode at query time, yet identical to the in-plan
    # composite over the full corpus with the same codebook
    want = ivfpq_topk(
        queries, emb, pq_encode(emb, "embedding", cb),
        "vec_id", "vec_id", "embedding", "label", cb,
        dim=dim,
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # the codebook survived the manifest JSON round-trip exactly
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        _codebook_from_manifest,
    )
    assert _codebook_from_manifest(cat.latest_manifest("ann.pq")) == cb


def test_append_ivfpq_store_no_retrain_equals_write_once(spark, tmp_path):
    """Incremental index maintenance: building the store on half the
    corpus and appending the other half (frozen codebook+centroids,
    no retrain) must answer queries byte-identically to a store
    written once over the union — and the appended cells' new subdirs
    must extend, not replace, the existing dir lists."""
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
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)

    inc = ManifestCatalog(spark, f"file://{tmp_path}/inc")
    write_ivfpq_store(cat := inc, even, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)
    # centroids frozen at the even-half state: overwrite the side
    # table is NOT done by append — pin that before appending
    cent_before = sorted(map(tuple, cat.read("ann.pq__centroids").collect()))
    append_ivfpq_store(cat, odd, "ann.pq", cell_col="label")
    assert sorted(map(tuple, cat.read("ann.pq__centroids").collect())) == cent_before

    once = ManifestCatalog(spark, f"file://{tmp_path}/once")
    write_ivfpq_store(once, emb, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)
    # the comparison needs the SAME frozen quantizer on both sides:
    # write-once derives centroids from the full corpus, the
    # incremental store froze them at the even-half state — pin the
    # once-store's router to the incremental one's centroids
    once.replace_atomic(cat.read("ann.pq__centroids"), "ann.pq__centroids")
    # same rows, same codes, cell by cell
    key = lambda r: (r["vec_id"],)
    got_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["pq_codes"])) for r in cat.read("ann.pq").collect()
    )
    want_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["pq_codes"])) for r in once.read("ann.pq").collect()
    )
    assert got_rows == want_rows

    queries = emb.orderBy("vec_id").limit(4)
    got, probed_inc = ivfpq_store_topk(
        cat, "ann.pq", queries, "vec_id", "embedding", nprobe=2
    )
    want, _ = ivfpq_store_topk(
        once, "ann.pq", queries, "vec_id", "embedding", nprobe=2
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # manifest shape: appended cells have 2 dirs, untouched-by-append
    # bookkeeping intact (n_buckets/bucket_fn/codebook preserved)
    m = cat.latest_manifest("ann.pq")
    assert m["bucket_fn"] == "identity" and m["ivf_id_col"] == "vec_id"
    assert any(len(ds) == 2 for ds in m["bucket_dirs"].values())

    # routine compaction after appends: multi-dir cells collapse to
    # one dir each (small-files control for long-lived streamed
    # indexes) and query results are untouched
    cat.optimize("ann.pq")
    m2 = cat.latest_manifest("ann.pq")
    assert all(len(ds) == 1 for ds in m2["bucket_dirs"].values())
    got2, _ = ivfpq_store_topk(
        cat, "ann.pq", queries, "vec_id", "embedding", nprobe=2
    )
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, want.collect()))


def test_ivf_assign_cells_matches_router_and_is_in_plan(spark, tmp_path):
    """Ingest-side cell assignment must agree with the query router's
    nprobe=1 choice for every vector (same cosine/6dp/label-asc
    contract), run as one shuffle-free projection (no Exchange in the
    plan), and an append WITHOUT an explicit cell column must land
    rows in their routed cells."""
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        _collect_probe,
        append_ivfpq_store,
        ivf_assign_cells,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first().embedding)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=8, num_centroids=8)
    base = emb.filter(F.col("vec_id") % 3 != 0)
    newb = emb.filter(F.col("vec_id") % 3 == 0)

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    write_ivfpq_store(cat, base, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)
    cent = cat.read("ann.pq__centroids")

    assigned = ivf_assign_cells(cent, newb, "vec_id", "embedding")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # one projection, no shuffle
    want = dict(_collect_probe(cent, newb, "vec_id", "embedding", nprobe=1))
    got = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert got == want

    append_ivfpq_store(cat, newb, "ann.pq")  # no cell_col -> routed
    stored = {r["vec_id"]: r["cell"] for r in cat.read("ann.pq").collect()
              if r["vec_id"] % 3 == 0}
    assert stored == want

    # large-quantizer fallback (forced via max_literal_rows=1): same
    # assignments through the distributed explode-join-window plan,
    # and no forced broadcast of the centroid relation (a quantizer
    # on this path exceeds the literal cap by definition — a
    # BroadcastExchange hint there would OOM at the quoted scale)
    fb = ivf_assign_cells(
        cent, newb, "vec_id", "embedding", max_literal_rows=1
    )
    assert {r["vec_id"]: r["cell"] for r in fb.collect()} == want
    fb_plan = fb._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in fb_plan  # no forced broadcast hint


def test_text_index_store_search_append_and_prune(spark, tmp_path):
    """Persisted inverted index: (1) store-backed BM25 equals the same
    math computed in-plan over the raw corpus; (2) building on half
    the docs and appending the rest equals a write-once index (stats
    combine exactly); (3) a query physically reads only its terms'
    buckets."""
    from end_to_end_etl_pipeline_spark.operators.text_index import (
        append_text_index,
        text_index_search,
        write_text_index,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    queries = spark.createDataFrame(
        [(0, "dup"), (0, "batch"), (1, "dup"), (1, "scan")],
        "query_id bigint, word string",
    )

    once = ManifestCatalog(spark, f"file://{tmp_path}/once")
    # querying a never-written index: clear ValueError, not a
    # TypeError on the missing manifest
    with pytest.raises(ValueError, match="not a text index"):
        text_index_search(once, "idx.t", queries)
    write_text_index(once, docs, "doc_id", "text", "idx.t", n_buckets=16)
    got, read_buckets = text_index_search(once, "idx.t", queries)
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows  # 'dup' is rare in the corpus -> survives the df cap
    assert 0 < len(read_buckets) <= 3 < 16  # <=1 bucket per distinct term

    # in-plan reference: identical BM25 math over the raw corpus
    from pyspark.sql import Window
    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = docs.select("doc_id", words.alias("words"))
    toks = d.select(
        "doc_id", F.size("words").alias("dl"), F.explode("words").alias("word")
    )
    tf = toks.groupBy("word", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.size("words")).alias("sdl"),
    )
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(queries, "word")
        .join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") <= 0.5 * F.col("n"))
        .withColumn(
            "w",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * F.col("tf") * 2.2
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / (F.col("sdl") / F.col("n")))),
        )
    )
    ref = (
        scored.groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("w"), 6).alias("bm25"))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("bm25").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .filter(F.col("__rk") <= 10)
        .select("query_id", "doc_id", "bm25")
    )
    assert got_rows == sorted(map(tuple, ref.collect()))

    # incremental: half + append == write-once
    inc = ManifestCatalog(spark, f"file://{tmp_path}/inc")
    write_text_index(
        inc, docs.filter(F.col("doc_id") % 2 == 0), "doc_id", "text",
        "idx.t", n_buckets=16,
    )
    append_text_index(
        inc, docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text", "idx.t"
    )
    mi, mo = inc.latest_manifest("idx.t"), once.latest_manifest("idx.t")
    assert (mi["ti_n_docs"], mi["ti_sum_dl"]) == (mo["ti_n_docs"], mo["ti_sum_dl"])
    got2, _ = text_index_search(inc, "idx.t", queries)
    assert sorted(map(tuple, got2.collect())) == got_rows

    # routine compaction after appends: multi-dir buckets collapse,
    # search results untouched (hash_pmod layout is recomputable from
    # the recorded bucket keys)
    inc.optimize("idx.t")
    m = inc.latest_manifest("idx.t")
    assert all(len(ds) == 1 for ds in m["bucket_dirs"].values())
    got3, _ = text_index_search(inc, "idx.t", queries)
    assert sorted(map(tuple, got3.collect())) == got_rows

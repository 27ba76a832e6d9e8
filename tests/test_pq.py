"""Product-quantization operator tests: determinism, encode shape,
and retrieval recall against the exact-L2 baseline (the quality
metric the driver's value-hash oracle can't see — pq_topk's hash
match proves the math replays; this proves it's a *useful*
approximation)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.pq import (
    pq_encode,
    pq_topk_adc,
    pq_topk_rerank,
    pq_train,
)
from end_to_end_etl_pipeline_spark.queries.catalog import load

SF = "/root/testdata/sf0.001"
M, K = 16, 16  # 64-dim -> 4-dim subspaces, one nibble code each


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings").persist()


@pytest.fixture(scope="module")
def cb(spark, emb):
    return pq_train(emb, "vec_id", "embedding", num_subspaces=M, num_centroids=K)


@pytest.fixture(scope="module")
def exact_top10(spark, emb):
    """Exact squared-L2 top-10 per query (vec_id < 20) — the recall
    ground truth, computed once."""
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").cast("array<double>").alias("cv"),
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("d").asc(), F.col("match_id").asc())
    rows = (
        c.join(F.broadcast(q), F.lit(True))
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("d", F.round(d2, 6))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "match_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in rows:
        truth.setdefault(r.query_id, set()).add(r.match_id)
    return truth


def _recall(approx_rows, truth) -> float:
    hits = sum(r.match_id in truth[r.query_id] for r in approx_rows)
    return hits / len(approx_rows)


def test_train_deterministic(spark, emb, cb):
    again = pq_train(emb, "vec_id", "embedding", num_subspaces=M, num_centroids=K)
    assert cb == again
    assert len(cb) == M
    for cb_m in cb:
        assert 1 <= len(cb_m) <= K
        for code, cent in cb_m:
            assert 0 <= code < K
            assert len(cent) == 64 // M


def test_encode_shape(spark, emb, cb):
    enc = pq_encode(emb, "embedding", cb)
    valid = {m: {code for code, _ in cb[m]} for m in range(M)}
    rows = enc.select("vec_id", "pq_codes").collect()
    assert len(rows) == 500
    for r in rows:
        assert len(r.pq_codes) == M
        for m, code in enumerate(r.pq_codes):
            assert code in valid[m]


def test_adc_recall_vs_exact_l2(spark, emb, cb, exact_top10):
    """Raw ADC ordering (no re-rank): noisy on distance-concentrated
    synthetic vectors, but must stay far above the ~10/499 random
    baseline. Deterministic, so the observed 0.41 is a fixed number;
    floor set with margin."""
    enc = pq_encode(emb, "embedding", cb)
    queries = emb.filter(F.col("vec_id") < 20)
    approx = pq_topk_adc(queries, enc, "vec_id", "vec_id", "embedding", cb, k=10).collect()
    assert len(approx) == 20 * 10
    assert _recall(approx, exact_top10) >= 0.25


def test_rerank_recall_vs_exact_l2(spark, emb, cb, exact_top10):
    """ADC shortlist of 25 + exact re-rank to the top-5: the
    production retrieval shape. Floor set with margin."""
    enc = pq_encode(emb, "embedding", cb)
    queries = emb.filter(F.col("vec_id") < 20)
    approx = pq_topk_rerank(
        queries, emb, enc, "vec_id", "vec_id", "embedding", cb
    ).collect()
    assert len(approx) == 20 * 5
    assert _recall(approx, exact_top10) >= 0.8

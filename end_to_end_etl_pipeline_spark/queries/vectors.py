"""Embedding-space queries over ``embeddings`` (BASELINE.json north
star): brute-force cosine top-k (the exactness baseline for ANN), an
IVF-style probed variant (the scale path), sign-LSH embedding
near-dup, and per-label centroids. All scoring is built-in
``zip_with``/``aggregate`` folds — JVM-side, no UDFs.

Determinism notes: scores are rounded to 6dp *before* ranking and
ties break on id, so orderings are bit-stable across engines; the LSH
hyperplanes are derived from md5 (no RNG) so the DuckDB oracles
reproduce the exact candidate sets. On this corpus the ``label``
column is a random partition, not a geometric cluster — the IVF query
therefore demonstrates (and oracle-verifies) the probe *machinery*;
recall vs. brute force is the usual nprobe/quantizer-quality dial.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.similarity import (
    _prep,
    _scored_pairs,
    _topk_by_cosine,
    cosine_topk,
    cosine_topk_ivf,
    sign_lsh_near_dup_pairs,
)
from end_to_end_etl_pipeline_spark.queries.catalog import load, register, scratch_root

_COS = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


def _dim(emb: DataFrame) -> int:
    """Fixed embedding width, probed from one row (a single-row job
    over just the vector column — negligible; the IVF build needs it
    to unroll its per-index quantizer expressions)."""
    return emb.select(F.size(F.col("embedding")).alias("d")).first()["d"]


@register(
    "label_centroids",
    oracle="""
    SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS centroid_v, count(*) AS n
    FROM (
      SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(generate_series(1, len(embedding))) AS pos
      FROM embeddings
    )
    GROUP BY label, pos
    """,
    doc="Per-label centroid via posexplode + groupBy(label, pos). "
    "Measured head-to-head against the dim-scalar-buffer form "
    "(operators/similarity.label_centroids_array): at dim=64 the "
    "explode wins ~4x warm (0.38s vs 1.71s at sf0.1) because 64 avg "
    "buffers generate a wide codegen'd aggregate that pays JIT cost "
    "per plan compile, while the explode's row inflation is absorbed "
    "by map-side partial agg (shuffle = partitions x labels x dim "
    "regardless). The buffer form remains the right tool when dim x "
    "cells is large enough that pre-agg rows dominate (dim >~ 1k).",
    tags=("north-star", "vectors"),
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "v"),
    )
    return (
        exploded.withColumn("pos", (F.col("pos0") + 1).cast("int"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"), F.count("*").alias("n"))
        .drop("pos0")
    )


@register(
    "cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
      SELECT query_id, match_id, {_COS.format(a="qv", b="cv")} AS cosine
      FROM q JOIN c ON match_id <> query_id
      WHERE list_dot_product(qv, qv) > 0 AND list_dot_product(cv, cv) > 0
    )
    SELECT query_id, match_id, cosine FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) <= 5
    """,
    doc="Brute-force cosine top-5 for 10 query vectors — the ANN exactness "
    "baseline; corpus scanned once, queries broadcast. Zero-norm "
    "vectors are excluded on both engines (no defined cosine).",
    tags=("north-star", "vectors", "bench"),
)
def cosine_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk(
        emb.filter(F.col("vec_id") < 10), emb, "vec_id", "vec_id", "embedding", k=5
    )


@register(
    "cosine_topk_ivf",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, label, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    cent AS (
      SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS cv
      FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
      GROUP BY label, pos
    ),
    qq AS (SELECT query_id, CAST(pos AS INT) AS pos, v
           FROM (SELECT query_id, unnest(qv) AS v,
                        unnest(generate_series(1, len(qv))) AS pos FROM q)),
    qcent AS (
      SELECT query_id, label,
             round(sum(qq.v * cent.cv) /
                   (sqrt(sum(qq.v * qq.v)) * sqrt(sum(cent.cv * cent.cv))), 6) AS score
      FROM qq JOIN cent USING (pos) GROUP BY 1, 2
    ),
    probed AS (
      SELECT query_id, label FROM qcent
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, label) <= 2
    ),
    scored AS (
      SELECT q.query_id, c.match_id, {_COS.format(a="q.qv", b="c.cv")} AS cosine
      FROM probed p
      JOIN q ON q.query_id = p.query_id
      JOIN c ON c.label = p.label AND c.match_id <> q.query_id
      WHERE list_dot_product(q.qv, q.qv) > 0 AND list_dot_product(c.cv, c.cv) > 0
    )
    SELECT query_id, match_id, cosine FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) <= 5
    """,
    doc="IVF-style probed top-5: rank label-cell centroids per query, "
    "exact-score only the 2 nearest cells (corpus scanned ∝ nprobe/cells).",
    tags=("north-star", "vectors"),
)
def cosine_topk_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb.filter(F.col("vec_id") < 10),
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        "label",
        dim=_dim(emb),
    )


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, CAST(embedding AS DOUBLE[])
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    planes AS (
      SELECT p, pos,
             CAST(strpos('0123456789abcdef',
                         substring(md5(CAST(p AS VARCHAR) || ':' || CAST(pos AS VARCHAR)), 1, 1)) - 1
                  AS DOUBLE) - 7.5 AS h
      FROM (SELECT unnest(generate_series(0, 7)) AS p),
           (SELECT unnest(generate_series(1, 64)) AS pos)
    ),
    vv AS (SELECT vec_id, pos, v
           FROM (SELECT vec_id, unnest(v) AS v,
                        unnest(generate_series(1, len(v))) AS pos FROM corpus)),
    sig AS (
      SELECT vec_id,
             string_agg(CASE WHEN d >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
      FROM (SELECT vv.vec_id, planes.p, sum(vv.v * planes.h) AS d
            FROM vv JOIN planes ON vv.pos = planes.pos GROUP BY 1, 2)
      GROUP BY vec_id
    ),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, {_COS.format(a="a.v", b="b.v")} AS cosine
    FROM cand JOIN corpus a ON a.vec_id = id_a JOIN corpus b ON b.vec_id = id_b
    WHERE {_COS.format(a="a.v", b="b.v")} >= 0.9999
    """,
    doc="Embedding near-dup via 8-hyperplane sign-LSH buckets (md5-derived "
    "planes, no RNG) + exact cosine >= 0.9999 verify; exact-copy variants "
    "(vec_id+1M, every 10th) planted so detection has targets.",
    tags=("north-star", "vectors", "dedup"),
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    variants = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(variants)
    return sign_lsh_near_dup_pairs(corpus, "vec_id", "embedding")


# 16 subspaces x 8 centroids: 64-dim -> 16 3-bit codes/vector. K=8
# rather than 16 keeps every generated expression inside the JVM's
# JIT/codegen size thresholds - measured 10.5s -> 4.0s for the full
# train+encode+ADC+rerank pass at sf0.1 with identical plan shapes
# (production PQ would raise K and move the distance table to a
# broadcast lookup; the conformance query keeps the expression form
# the oracle can replay).
_PQ_M, _PQ_K = 16, 8


@register(
    "pq_topk",
    oracle=f"""
    WITH el AS (
      SELECT vec_id AS id,
             CAST((pos - 1) // (dim // {_PQ_M}) AS INT) AS m,
             CAST((pos - 1) % (dim // {_PQ_M}) + 1 AS INT) AS i,
             x
      FROM (SELECT vec_id, len(embedding) AS dim,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
    ),
    cb0 AS (
      SELECT m, CAST(id % {_PQ_K} AS INT) AS code, i, round(avg(x), 6) AS c
      FROM el GROUP BY m, code, i
    ),
    d1 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM el e JOIN cb0 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    a1 AS (
      SELECT id, m, code FROM d1
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    ),
    cb1 AS (
      SELECT e.m, a.code, e.i, round(avg(e.x), 6) AS c
      FROM el e JOIN a1 a ON e.id = a.id AND e.m = a.m
      GROUP BY e.m, a.code, e.i
    ),
    d2 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM el e JOIN cb1 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    codes AS (
      SELECT id, m, code FROM d2
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    ),
    dt AS (
      SELECT q.id AS query_id, q.m, b.code,
             round(sum((q.x - b.c) * (q.x - b.c)), 6) AS d
      FROM el q JOIN cb1 b ON q.m = b.m AND q.i = b.i
      WHERE q.id < 10
      GROUP BY q.id, q.m, b.code
    ),
    score AS (
      SELECT t.query_id, s.id AS match_id, round(sum(t.d), 6) AS adc_dist
      FROM codes s JOIN dt t ON s.m = t.m AND s.code = t.code AND s.id <> t.query_id
      GROUP BY t.query_id, s.id
    ),
    short AS (
      SELECT query_id, match_id FROM score
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, match_id) <= 25
    ),
    rerank AS (
      SELECT s.query_id, s.match_id, round(sum((a.x - b.x) * (a.x - b.x)), 6) AS l2sq
      FROM short s
      JOIN el a ON a.id = s.query_id
      JOIN el b ON b.id = s.match_id AND b.m = a.m AND b.i = a.i
      GROUP BY s.query_id, s.match_id
    )
    SELECT query_id, match_id, l2sq FROM rerank
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    """,
    doc="Product-quantization ANN with exact re-rank (IVFADC+R shape): "
    "16 subspaces x 8 centroids, id%8 seeded + 1 Lloyd step (all "
    "rounded 6dp -> the SQL oracle replays training exactly), codes are "
    "a per-row projection, ADC keeps a 25-candidate shortlist per query "
    "via M table lookups per doc, exact squared-L2 re-ranks to top-5.",
    tags=("north-star", "vectors"),
)
def pq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.pq import (
        pq_encode,
        pq_topk_rerank,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    encoded = pq_encode(emb, "embedding", cb)
    return pq_topk_rerank(
        emb.filter(F.col("vec_id") < 10),
        emb,
        encoded,
        "vec_id",
        "vec_id",
        "embedding",
        cb,
    )


@register(
    "embedding_downsample",
    oracle="""
    SELECT vec_id, CAST(pos AS INT) AS pos,
           round(avg(v), 6) + 0.0 AS pooled  -- +0.0 folds -0.0 to +0.0
    FROM (
      SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             CAST(floor((unnest(generate_series(1, len(embedding))) - 1) / 2)
                  AS BIGINT) AS pos
      FROM embeddings
    )
    GROUP BY 1, 2
    """,
    doc="Vector resize by adjacent-pair average pooling (64 -> 32): "
    "the downsampling half of the multimodal decode/resize family, "
    "done JVM-side with one transform-over-sequence lambda per row - "
    "no UDF, no shuffle; compared element-wise after posexplode.",
    tags=("north-star", "vectors", "multimodal"),
)
def embedding_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.similarity import downsample_vector

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pooled = emb.select(
        "vec_id", downsample_vector("embedding").alias("pooled_vec")
    )
    return pooled.select(
        "vec_id", F.posexplode("pooled_vec").alias("pos", "pooled")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        # + 0.0 folds IEEE -0.0 to +0.0 on both engines (a rounded
        # tiny-negative mean otherwise hash-mismatches: -0.0 vs 0.0)
        (F.col("pooled") + F.lit(0.0)).alias("pooled"),
    )


@register(
    "embedding_hadamard",
    oracle="""
    WITH idx AS (SELECT unnest(generate_series(0, 63)) AS j),
    flat AS (
      SELECT vec_id,
             unnest(CAST(embedding AS DOUBLE[])) AS x,
             unnest(generate_series(0, 63)) AS i
      FROM embeddings
    )
    SELECT vec_id, CAST(j AS INT) AS pos,
           round(sum(x * CASE WHEN bit_count(CAST(i AS BIGINT) & CAST(j AS BIGINT)) % 2 = 0
                              THEN 1.0 ELSE -1.0 END) / 8.0, 6) + 0.0 AS rv
    FROM flat CROSS JOIN idx
    GROUP BY 1, 2
    """,
    doc="OPQ-style deterministic rotation: normalized Walsh-Hadamard "
    "transform of every embedding (sign rule (-1)^popcount(i&j), so "
    "any engine with bit_count replays it exactly). Norm-preserving "
    "- the variance-spreading pre-step for product quantization "
    "without a learned rotation matrix. One codegen'd lambda per "
    "row, no shuffle.",
    tags=("north-star", "vectors"),
)
def embedding_hadamard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.similarity import hadamard_rotate

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    rotated = emb.select(
        "vec_id", hadamard_rotate("embedding", 64).alias("rv_vec")
    )
    return rotated.select(
        "vec_id", F.posexplode("rv_vec").alias("pos", "rv")
    ).select(
        "vec_id",
        F.col("pos").cast("int").alias("pos"),
        (F.col("rv") + F.lit(0.0)).alias("rv"),
    )


@register(
    "embedding_int8_quantize",
    oracle="""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), m AS (
      SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e
    ), q AS (
      SELECT vec_id, mx,
             CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
                  ELSE list_transform(v, x -> CAST(round(x / mx * 127) AS INT))
             END AS qv
      FROM m
    )
    SELECT vec_id,
           CAST(round(CAST(mx AS DECIMAL(20,8)), 6) AS DOUBLE) AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max,
           CAST(len(list_filter(qv, x -> abs(x) = 127)) AS INT) AS n_saturated
    FROM q
    """,
    doc="Int8 embedding quantization (symmetric max-abs per vector): "
    "the 4x storage-compression export every large vector corpus "
    "ships (float32 -> int8 + one scale), verified by exact integer "
    "checksums (sum/min/max of the quantized codes, saturation "
    "count). Rounding x/scale*127 hits .5 only at exactly "
    "representable doubles, where Spark's HALF_UP and DuckDB's "
    "half-away agree, so the codes match bit-for-bit. Pure per-row "
    "array algebra - zero shuffles.",
    tags=("north-star", "vectors"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    m = emb.withColumn(
        "mx", F.array_max(F.transform("v", lambda x: F.abs(x)))
    )
    q = m.withColumn(
        "qv",
        F.when(
            F.col("mx") == 0,
            F.transform("v", lambda x: F.lit(0)),
        ).otherwise(
            F.transform(
                "v",
                lambda x: F.round(x / F.col("mx") * 127).cast("int"),
            )
        ),
    )
    return q.select(
        "vec_id",
        F.round(F.col("mx").cast("decimal(20,8)"), 6).cast("double").alias("scale"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.size(F.filter("qv", lambda x: F.abs(x) == 127)).alias("n_saturated"),
    )


@register(
    "semantic_pruned_corpus",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label, CAST(embedding AS DOUBLE[])
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM corpus a JOIN corpus b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_COS.format(a="a.v", b="b.v")} >= 0.995
    )
    SELECT c.vec_id, c.label FROM corpus c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM pruned)
    """,
    doc="SemDeDup-shape semantic dedup (operators/similarity."
    "semantic_dedup_prune): cosine comparisons only WITHIN the "
    "cluster column (label = the k-means stand-in), prune any vector "
    "with a lower-id cluster-mate at cosine >= 0.995, keep-lowest "
    "greedy. Exact-copy variants (vec_id+1M, every 10th) planted so "
    "pruning has guaranteed targets. The cluster key bounds the "
    "quadratic - one shuffle on label, never corpus x corpus.",
    tags=("north-star", "vectors", "dedup"),
)
def semantic_pruned_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.similarity import (
        semantic_dedup_prune,
    )

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label")
    variants = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(variants)
    return semantic_dedup_prune(corpus, "vec_id", "embedding", "label")


# The IVFADC oracle CTE chain (training -> routing -> restricted ADC
# -> exact re-rank), shared by the ivfpq_topk conformance query and
# the ann_recall_at_k evaluation query.
_IVFPQ_CTES = f"""el AS (
      SELECT vec_id AS id,
             CAST((pos - 1) // (dim // {_PQ_M}) AS INT) AS m,
             CAST((pos - 1) % (dim // {_PQ_M}) + 1 AS INT) AS i,
             x
      FROM (SELECT vec_id, len(embedding) AS dim,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
    ),
    lab AS (SELECT vec_id AS id, label FROM embeddings),
    cb0 AS (
      SELECT m, CAST(id % {_PQ_K} AS INT) AS code, i, round(avg(x), 6) AS c
      FROM el GROUP BY m, code, i
    ),
    d1 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM el e JOIN cb0 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    a1 AS (
      SELECT id, m, code FROM d1
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    ),
    cb1 AS (
      SELECT e.m, a.code, e.i, round(avg(e.x), 6) AS c
      FROM el e JOIN a1 a ON e.id = a.id AND e.m = a.m
      GROUP BY e.m, a.code, e.i
    ),
    d2 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM el e JOIN cb1 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    codes AS (
      SELECT id, m, code FROM d2
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    ),
    cent AS (
      SELECT l.label, e.m, e.i, round(avg(e.x), 6) AS cv
      FROM el e JOIN lab l ON l.id = e.id
      GROUP BY l.label, e.m, e.i
    ),
    qcent AS (
      SELECT q.id AS query_id, cent.label,
             round(sum(q.x * cent.cv) /
                   (sqrt(sum(q.x * q.x)) * sqrt(sum(cent.cv * cent.cv))), 6) AS score
      FROM el q JOIN cent ON q.m = cent.m AND q.i = cent.i
      WHERE q.id < 10
      GROUP BY 1, 2
    ),
    probed AS (
      SELECT query_id, label FROM qcent
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score DESC, label) <= 2
    ),
    dt AS (
      SELECT q.id AS query_id, q.m, b.code,
             round(sum((q.x - b.c) * (q.x - b.c)), 6) AS d
      FROM el q JOIN cb1 b ON q.m = b.m AND q.i = b.i
      WHERE q.id < 10
      GROUP BY q.id, q.m, b.code
    ),
    score AS (
      SELECT t.query_id, s.id AS match_id, round(sum(t.d), 6) AS adc_dist
      FROM codes s
      JOIN lab cm ON cm.id = s.id
      JOIN probed p ON p.label = cm.label
      JOIN dt t ON s.m = t.m AND s.code = t.code
             AND t.query_id = p.query_id AND s.id <> t.query_id
      GROUP BY t.query_id, s.id
    ),
    short AS (
      SELECT query_id, match_id FROM score
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, match_id) <= 25
    ),
    rerank AS (
      SELECT s.query_id, s.match_id, round(sum((a.x - b.x) * (a.x - b.x)), 6) AS l2sq
      FROM short s
      JOIN el a ON a.id = s.query_id
      JOIN el b ON b.id = s.match_id AND b.m = a.m AND b.i = a.i
      GROUP BY s.query_id, s.match_id
    )
    """


@register(
    "ivfpq_topk",
    oracle=f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, match_id, l2sq FROM rerank
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    """,
    doc="IVFADC — the composed production ANN stack: coarse IVF "
    "routing (label cells, centroid cosine, nprobe=2) restricts the "
    "ADC pass to the probed cells' PQ codes only, then exact "
    "squared-L2 re-ranks the 25-candidate shortlist to top-5. "
    "Combines both scale levers in one plan: the candidate scan "
    "covers nprobe/cells of the corpus AND reads M 3-bit codes per "
    "doc instead of 64 floats; the re-rank touches raw vectors for "
    "shortlist rows only. The oracle replays coarse training, PQ "
    "training (id%8 seed + 1 Lloyd step), routing, restricted ADC, "
    "and re-rank exactly (everything rounded 6dp before comparisons).",
    tags=("north-star", "vectors"),
)
def ivfpq_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    encoded = pq_encode(emb, "embedding", cb)
    return ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        encoded,
        "vec_id",
        "vec_id",
        "embedding",
        "label",
        cb,
        dim=_dim(emb),
    )


@register(
    "ann_store_incremental_topk",
    oracle=f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, match_id, l2sq FROM rerank
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    """,
    doc="Incremental ANN-index maintenance (operators/ivf_store.py "
    "append_ivfpq_store): the IVFADC store is built over HALF the "
    "corpus, then the other half is folded in with the quantizer "
    "FROZEN - batch rows are PQ-encoded with the manifest's stored "
    "codebook (no retraining) and CAS-appended into their cell "
    "bucket dirs (untouched cells keep their dir lists verbatim, so "
    "probed-cell pruning never pays for appends elsewhere). The "
    "codebook and coarse centroids are model parameters trained on "
    "the reference corpus, which is what makes the result provably "
    "batch-split-invariant: the same ivfpq_topk oracle (coarse "
    "routing, restricted ADC, exact re-rank) must hold over the "
    "incrementally-assembled store as over a write-once index.",
    tags=("north-star", "vectors", "incremental"),
)
def ann_store_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.operators.similarity import (
        label_centroids_array,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("ann_store")

    emb = load(spark, sf_dir, "embeddings")
    dim = _dim(emb)
    # model parameters, trained ONCE on the reference corpus (the
    # production shape: quantizer fixed, data streams in)
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    write_ivfpq_store(
        cat,
        emb.filter(F.col("vec_id") % 2 == 0),
        "vec_id", "embedding", "label", cb, "ann.pq", dim=dim,
    )
    # pin the router to the full-corpus label centroids (the trained
    # quantizer) rather than the half-corpus snapshot the initial
    # write derived — centroids are model state, not data state
    cat.replace_atomic(
        label_centroids_array(
            emb.select(F.col("label"), F.col("embedding")),
            "label", "embedding", dim=dim,
        ),
        "ann.pq__centroids",
    )
    append_ivfpq_store(
        cat, emb.filter(F.col("vec_id") % 2 == 1), "ann.pq", cell_col="label"
    )
    res, _probed = ivfpq_store_topk(
        cat, "ann.pq",
        emb.filter(F.col("vec_id") < 10),
        "vec_id", "embedding", nprobe=2,
    )
    # eager: the scratch store may be reaped by the next invocation
    res = res.localCheckpoint(eager=True)
    return res


@register(
    "streaming_ann_ingest_restart",
    oracle=f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, match_id, l2sq FROM rerank
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    """,
    doc="Mid-stream CRASH-RESTART of the ANN index-ingest bridge "
    "(streaming/jobs.foreach_batch_ann_ingest) — the driver gate for "
    "the CAS-riding ``ann_last_batch_id`` replay marker. The IVFADC "
    "store is built over half the corpus, the other half lands as a "
    "3-file drop zone replayed one file per trigger, and run 1 is "
    "KILLED by an injected failure AFTER micro-batch 1's manifest "
    "commit but BEFORE its checkpoint commit — exactly the "
    "at-least-once window where a naive bridge double-ingests. Run 2 "
    "restarts the SHIPPED bridge from the same checkpoint: Structured "
    "Streaming replays batch 1 with the same batch id, the marker "
    "(which rode the same manifest CAS as batch 1's data dirs) "
    "refuses it, and the stream drains batch 2. The final store must "
    "answer the same IVFADC oracle as a write-once index over the "
    "union — any double-ingested row perturbs the ADC shortlist and "
    "breaks the hash. Complements the pytest-level replay-guard "
    "proofs (tests/test_streaming.py) with a real StreamingQuery "
    "kill/restart through the checkpoint, under the driver.",
    tags=("north-star", "vectors", "incremental", "streaming"),
)
def streaming_ann_ingest_restart(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    root = scratch_root("ann_restart")
    try:
        return _streaming_ann_ingest_restart_body(spark, sf_dir, root)
    finally:
        # r10 ADVICE: remove our own scratch on the way out (the
        # result is eagerly localCheckpoint'ed before this runs);
        # scratch_root's 1-hour mtime reap stays as the crashed-run
        # backstop
        shutil.rmtree(root, ignore_errors=True)


def _streaming_ann_ingest_restart_body(
    spark: SparkSession, sf_dir: str, root: str
) -> DataFrame:
    from pyspark.errors import StreamingQueryException

    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
        ivfpq_store_topk,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.operators.similarity import (
        label_centroids_array,
    )
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_ann_ingest,
    )

    emb = load(spark, sf_dir, "embeddings")
    dim = _dim(emb)
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    cat = ManifestCatalog(spark, f"file://{root}/lake")
    write_ivfpq_store(
        cat,
        emb.filter(F.col("vec_id") % 2 == 0),
        "vec_id", "embedding", "label", cb, "ann.pq", dim=dim,
    )
    # router pinned to the full-corpus label centroids, as in
    # ann_store_incremental_topk: centroids are model state
    cat.replace_atomic(
        label_centroids_array(
            emb.select(F.col("label"), F.col("embedding")),
            "label", "embedding", dim=dim,
        ),
        "ann.pq__centroids",
    )

    feed = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", "embedding", "label"
    )
    landing = f"file://{root}/landing"
    feed.repartition(3).write.parquet(landing)
    ckpt = f"file://{root}/ckpt"

    def _read_stream():
        return (
            spark.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 1)  # one file per micro-batch
            .parquet(landing)
        )

    # RUN 1: production append per batch, then the injected crash in
    # the at-least-once window (after the store's CAS commit, before
    # foreachBatch returns and the checkpoint's batch commit lands)
    def _sabotaged(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ivfpq_store(
            cat, batch_df, "ann.pq", cell_col="label", batch_id=batch_id
        )
        if batch_id == 1:
            raise RuntimeError("injected-crash-after-commit")

    q1 = (
        _read_stream()
        .writeStream.foreachBatch(_sabotaged)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    crashed = False
    try:
        # bounded wait (r10 ADVICE): a wedged stream must fail this
        # query loudly, not hang the whole driver round — the pytest
        # twins bound at 120s, so does the driver-gated path
        terminated = q1.awaitTermination(120)
        assert terminated, "run-1 stream still running after 120s"
    except StreamingQueryException as exc:
        if "injected-crash-after-commit" not in str(exc):
            raise
        crashed = True
    assert crashed, "injected crash did not fire (batch 1 never ran)"
    assert cat.latest_manifest("ann.pq").get("ann_last_batch_id") == 1

    # RUN 2: the SHIPPED bridge, same checkpoint — batch 1 replays
    # with the same id, the marker refuses it, batch 2 drains
    q2 = foreach_batch_ann_ingest(
        _read_stream(), cat, "ann.pq",
        checkpoint_dir=ckpt, cell_col="label",
    )
    assert q2.awaitTermination(120), "run-2 stream still running after 120s"
    assert cat.latest_manifest("ann.pq").get("ann_last_batch_id") == 2

    res, _probed = ivfpq_store_topk(
        cat, "ann.pq",
        emb.filter(F.col("vec_id") < 10),
        "vec_id", "embedding", nprobe=2,
    )
    # eager: the scratch store may be reaped by the next invocation
    return res.localCheckpoint(eager=True)


@register(
    "ann_store_rebalanced_topk",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    fullscore AS (
      SELECT t.query_id, s.id AS match_id, round(sum(t.d), 6) AS adc_dist
      FROM codes s
      JOIN dt t ON s.m = t.m AND s.code = t.code AND s.id <> t.query_id
      GROUP BY t.query_id, s.id
    ),
    fullshort AS (
      SELECT query_id, match_id FROM fullscore
      QUALIFY row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist, match_id) <= 25
    ),
    fullrerank AS (
      SELECT s.query_id, s.match_id,
             round(sum((a.x - b.x) * (a.x - b.x)), 6) AS l2sq
      FROM fullshort s
      JOIN el a ON a.id = s.query_id
      JOIN el b ON b.id = s.match_id AND b.m = a.m AND b.i = a.i
      GROUP BY s.query_id, s.match_id
    )
    SELECT query_id, match_id, l2sq FROM fullrerank
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    """,
    doc="IVF-store REBALANCE gate (operators/ivf_store.py:"
    "rebalance_ivfpq_store) - the maintenance leg that keeps "
    "probed-cell pruning effective as appends concentrate: the store "
    "is built with a deliberately skewed 2-cell layout (cell 1 holds "
    "~80% of vectors), then the hot cell is 2-means-split "
    "(deterministic id%2-init Lloyd over JUST that cell's rows, "
    "change-proportional - the cold cell's dir and the PQ codes "
    "carry forward verbatim) and the router's centroid table is "
    "refreshed with the sub-cells' exact means. The query then "
    "probes EVERY cell, which makes the expected result independent "
    "of how the cells are arranged: ADC over all stored codes -> "
    "25-candidate shortlist -> exact-L2 top-5, replayed exactly by "
    "the oracle. What the hash proves: the split lost, duplicated, "
    "and corrupted NOTHING (any row or code perturbed by the "
    "rewrite breaks it). The pruning half - fewer rows read per "
    "probe after the split, counts exact, sub-cells routable - is "
    "pinned by tests/test_ivf_rebalance.py.",
    tags=("north-star", "vectors", "storage", "incremental"),
)
def ann_store_rebalanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        ivfpq_store_topk,
        rebalance_ivfpq_store,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    root = scratch_root("ann_rebalance")

    emb = load(spark, sf_dir, "embeddings")
    dim = _dim(emb)
    n = emb.count()
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    cat = ManifestCatalog(spark, f"file://{root}")
    # a deliberately skewed layout: cell 0 = label 0 only, cell 1 =
    # every other label (~80% of the corpus) — the hot cell a drifted
    # ingest produces
    write_ivfpq_store(
        cat,
        emb.withColumn("cell0", F.least(F.col("label"), F.lit(1))),
        "vec_id", "embedding", "cell0", cb, "ann.rb", dim=dim,
    )
    split = rebalance_ivfpq_store(cat, "ann.rb", max_cell_rows=n // 2)
    assert split, "the 80% cell must exceed n//2 and split"
    # probe EVERY cell (nprobe >= cells): the result is then exact
    # ADC-shortlist top-k regardless of the cell arrangement — the
    # hash gates the split's row/code preservation, not routing luck
    res, _probed = ivfpq_store_topk(
        cat, "ann.rb",
        emb.filter(F.col("vec_id") < 10),
        "vec_id", "embedding", nprobe=64,
    )
    return res.localCheckpoint(eager=True)


def _exact_l2_top5(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Brute-force exact squared-L2 top-5 ground truth (query_id,
    match_id) — queries broadcast, ties to lowest id, 6dp rounding."""
    from pyspark.sql import Window
    from end_to_end_etl_pipeline_spark.operators.pq import _fold_l2sq

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        F.col("embedding").cast("array<double>").alias("__cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("match_id").asc()
    )
    return (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("l2sq", _fold_l2sq(F.col("__qv"), F.col("__cv")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "match_id")
    )


def _recall_frame(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """(query_id, n_hits, recall_at_5) — per-query overlap of the
    exact top-5 with the approximate top-5 (approx columns must be
    (query_id, a_match))."""
    return (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (exact.match_id == approx.a_match),
            "left",
        )
        .drop(approx.query_id)
        .groupBy("query_id")
        .agg(
            F.count("a_match").alias("n_hits"),
            F.round(F.count("a_match") / 5.0, 6).alias("recall_at_5"),
        )
    )



@register(
    "ann_recall_at_k",
    oracle=f"""
    WITH {_IVFPQ_CTES},
    approx AS (
      SELECT query_id, match_id FROM rerank
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    ),
    exact AS (
      SELECT query_id, match_id FROM (
        SELECT q.id AS query_id, c.id AS match_id,
               round(sum((q.x - c.x) * (q.x - c.x)), 6) AS l2sq
        FROM el q JOIN el c ON c.m = q.m AND c.i = q.i AND c.id <> q.id
        WHERE q.id < 10
        GROUP BY 1, 2
      )
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    )
    SELECT e.query_id,
           CAST(count(a.match_id) AS BIGINT) AS n_hits,
           round(count(a.match_id) / 5.0, 6) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.match_id = e.match_id
    GROUP BY e.query_id
    """,
    doc="ANN retrieval evaluation - recall@5 of the full IVFADC stack "
    "against brute-force exact squared-L2 ground truth, per query. "
    "The eval harness every production ANN deployment runs on a "
    "sampled query set before trusting an index: ground truth is the "
    "same corpus scanned exactly (bounded to the sampled queries), "
    "and the metric is the size of the intersection of the two "
    "deterministic top-5 sets. Both retrieval paths AND the metric "
    "replay identically in the oracle, so the driver hash-checks the "
    "evaluation itself, not just the retrieval.",
    tags=("north-star", "vectors"),
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.pq import (
        ivfpq_topk,
        pq_encode,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cb = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    approx = ivfpq_topk(
        queries, emb, pq_encode(emb, "embedding", cb),
        "vec_id", "vec_id", "embedding", "label", cb,
        dim=_dim(emb),
    ).select("query_id", F.col("match_id").alias("a_match"))
    return _recall_frame(_exact_l2_top5(emb, queries), approx)


def _lloyd_ctes(prefix: str, M: int, K: int) -> str:
    """Parameterized replay of deterministic Lloyd training (id%K
    init, one step, 6dp rounding, argmin tie -> lowest code) over
    ``embeddings`` — the generic form of the PQ-training chain. With
    M=1 this IS full-vector k-means (the coarse quantizer); with M>1
    it is product quantization. ``prefix`` namespaces the CTEs so a
    coarse chain and a fine chain compose in one oracle."""
    p = prefix
    return f"""{p}el AS (
      SELECT vec_id AS id,
             CAST((pos - 1) // (dim // {M}) AS INT) AS m,
             CAST((pos - 1) % (dim // {M}) + 1 AS INT) AS i,
             x
      FROM (SELECT vec_id, len(embedding) AS dim,
                   unnest(CAST(embedding AS DOUBLE[])) AS x,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
    ),
    {p}cb0 AS (
      SELECT m, CAST(id % {K} AS INT) AS code, i, round(avg(x), 6) AS c
      FROM {p}el GROUP BY m, code, i
    ),
    {p}d1 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM {p}el e JOIN {p}cb0 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    {p}a1 AS (
      SELECT id, m, code FROM {p}d1
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    ),
    {p}cb1 AS (
      SELECT e.m, a.code, e.i, round(avg(e.x), 6) AS c
      FROM {p}el e JOIN {p}a1 a ON a.id = e.id AND a.m = e.m
      GROUP BY e.m, a.code, e.i
    ),
    {p}d2 AS (
      SELECT e.id, e.m, b.code, round(sum((e.x - b.c) * (e.x - b.c)), 6) AS dist
      FROM {p}el e JOIN {p}cb1 b ON e.m = b.m AND e.i = b.i
      GROUP BY e.id, e.m, b.code
    ),
    {p}codes AS (
      SELECT id, m, code FROM {p}d2
      QUALIFY row_number() OVER (PARTITION BY id, m ORDER BY dist, code) = 1
    )"""


@register(
    "embedding_kmeans_clusters",
    oracle=f"""
    WITH {_lloyd_ctes("", 1, 16)},
    sizes AS (SELECT code, count(*) AS n FROM codes GROUP BY code)
    SELECT c.id AS vec_id, c.code AS cluster, s.n AS cluster_size,
           d.dist AS l2sq_to_centroid
    FROM codes c
    JOIN sizes s ON s.code = c.code
    JOIN d2 d ON d.id = c.id AND d.code = c.code
    """,
    doc="Full-vector k-means clustering (K=16, deterministic Lloyd: "
    "id%K init + one step, 6dp-rounded centroids, argmin ties to the "
    "lowest label) - the quantizer-training operator behind every "
    "IVF tier, exposed standalone. Implemented as product "
    "quantization with ONE subspace (operators/pq.pq_train at M=1), "
    "so the training plan is the proven one-aggregation-per-step "
    "shape: the exchange carries K x dim doubles, never rows. The "
    "oracle replays training, assignment, cluster sizes, and each "
    "vector's distance to its centroid exactly.",
    tags=("north-star", "vectors"),
)
def embedding_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.pq import (
        _query_dtable,
        pq_encode,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings")
    cb = pq_train(
        emb, "vec_id", "embedding", num_subspaces=1, num_centroids=16
    )
    enc = pq_encode(emb, "embedding", cb)
    # distance to own centroid: the M=1 ADC table indexed by the code
    dt = _query_dtable("embedding", cb)
    enc = enc.withColumn(
        "l2sq_to_centroid",
        F.element_at(
            F.element_at(dt, 1), F.element_at(F.col("pq_codes"), 1) + 1
        ),
    ).withColumn("cluster", F.element_at(F.col("pq_codes"), 1))
    sizes = enc.groupBy("cluster").agg(F.count(F.lit(1)).alias("cluster_size"))
    return enc.join(sizes, "cluster").select(
        F.col("vec_id"), "cluster", "cluster_size", "l2sq_to_centroid"
    )


@register(
    "ann_recall_trained_cells",
    oracle=f"""
    WITH {_lloyd_ctes("c", 1, 16)},
    {_lloyd_ctes("f", _PQ_M, _PQ_K)},
    probe AS (
      SELECT id AS query_id, code AS cell FROM cd2
      WHERE id < 10
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY dist, code) <= 2
    ),
    dt AS (
      SELECT q.id AS query_id, q.m, b.code,
             round(sum((q.x - b.c) * (q.x - b.c)), 6) AS d
      FROM fel q JOIN fcb1 b ON q.m = b.m AND q.i = b.i
      WHERE q.id < 10
      GROUP BY q.id, q.m, b.code
    ),
    cellmap AS (SELECT id, code AS cell FROM ccodes),
    score AS (
      SELECT t.query_id, s.id AS match_id, round(sum(t.d), 6) AS adc_dist
      FROM fcodes s
      JOIN cellmap cm ON cm.id = s.id
      JOIN probe p ON p.cell = cm.cell
      JOIN dt t ON t.query_id = p.query_id AND t.m = s.m
             AND t.code = s.code AND s.id <> t.query_id
      GROUP BY t.query_id, s.id
    ),
    short AS (
      SELECT query_id, match_id FROM score
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, match_id) <= 25
    ),
    rerank AS (
      SELECT s.query_id, s.match_id,
             round(sum((a.x - b.x) * (a.x - b.x)), 6) AS l2sq
      FROM short s
      JOIN fel a ON a.id = s.query_id
      JOIN fel b ON b.id = s.match_id AND b.m = a.m AND b.i = a.i
      GROUP BY 1, 2
    ),
    approx AS (
      SELECT query_id, match_id FROM rerank
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    ),
    exact AS (
      SELECT query_id, match_id FROM (
        SELECT q.id AS query_id, c2.id AS match_id,
               round(sum((q.x - c2.x) * (q.x - c2.x)), 6) AS l2sq
        FROM fel q JOIN fel c2 ON c2.m = q.m AND c2.i = q.i AND c2.id <> q.id
        WHERE q.id < 10
        GROUP BY 1, 2
      )
      QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY l2sq, match_id) <= 5
    )
    SELECT e.query_id,
           CAST(count(a.match_id) AS BIGINT) AS n_hits,
           round(count(a.match_id) / 5.0, 6) AS recall_at_5
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.match_id = e.match_id
    GROUP BY e.query_id
    """,
    doc="Recall@5 of IVFADC over TRAINED coarse cells: the coarse "
    "quantizer is the deterministic k-means (M=1 Lloyd, K=16) "
    "instead of the dataset's random label partition, queries route "
    "to their 2 nearest trained centroids by exact L2, and the rest "
    "of the stack (PQ codes, restricted ADC, exact re-rank) is "
    "unchanged. Paired with ann_recall_at_k (random cells, ~0.3 "
    "recall) this row quantifies exactly what quantizer training "
    "buys the index - the A/B an ANN deployment runs before "
    "choosing nlist/training budget. Oracle replays BOTH Lloyd "
    "chains (coarse and fine), routing, and the evaluation.",
    tags=("north-star", "vectors"),
)
def ann_recall_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    from end_to_end_etl_pipeline_spark.operators.pq import (
        _adc_dist,
        _exact_rerank,
        _query_dtable,
        pq_encode,
        pq_train,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)

    coarse = pq_train(
        emb, "vec_id", "embedding", num_subspaces=1, num_centroids=16
    )
    cells = pq_encode(emb, "embedding", coarse).select(
        "vec_id", F.element_at("pq_codes", 1).alias("cell")
    )
    fine = pq_train(
        emb, "vec_id", "embedding",
        num_subspaces=_PQ_M, num_centroids=_PQ_K,
    )
    fenc = pq_encode(emb, "embedding", fine).select("vec_id", "pq_codes")

    # route: nearest-2 TRAINED centroids by exact rounded L2 (tie ->
    # lowest code), ranking only surviving codes — the dense ADC
    # table's 0.0 filler slots must not win the argmin
    cdt = F.element_at(_query_dtable("embedding", coarse), 1)
    surviving = [code for code, _ in coarse[0]]
    cand = F.array(
        *[
            F.struct(
                F.element_at(cdt, code + 1).alias("dist"),
                F.lit(code).alias("cell"),
            )
            for code in surviving
        ]
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("c.dist").asc(), F.col("c.cell").asc()
    )
    probe = (
        queries.select(F.col("vec_id").alias("query_id"), F.explode(cand).alias("c"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= 2)
        .select("query_id", F.col("c.cell").alias("cell"))
    )

    fdt = _query_dtable("embedding", fine)
    q = queries.select(F.col("vec_id").alias("query_id"), fdt.alias("__dt"))
    qp = probe.join(q, "query_id")
    c = fenc.join(cells, "vec_id").select(
        F.col("vec_id").alias("match_id"), "pq_codes", "cell"
    )
    scored = (
        c.join(F.broadcast(qp), "cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_adc_dist(), 6))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("match_id").asc()
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(ws))
        .filter(F.col("__rn") <= 25)
        .select("query_id", "match_id")
    )
    approx = _exact_rerank(
        short, queries.withColumnRenamed("vec_id", "query_id"),
        emb.withColumnRenamed("vec_id", "match_id"),
        "query_id", "match_id", "embedding",
    ).select("query_id", F.col("match_id").alias("a_match"))
    return _recall_frame(_exact_l2_top5(emb, queries), approx)


@register(
    "hybrid_doc_retrieval",
    oracle=f"""
    WITH corpus AS (
      SELECT d.doc_id,
             d.text || ' zqh' || CAST(d.doc_id % 7 AS VARCHAR) AS text,
             CAST(e.embedding AS DOUBLE[]) AS v
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ),
    qv AS (SELECT vec_id - 100 AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id BETWEEN 100 AND 104),
    dscore AS (
      SELECT query_id, doc_id, {_COS.format(a="qv", b="v")} AS cosine
      FROM qv, corpus
      WHERE list_dot_product(qv, qv) > 0 AND list_dot_product(v, v) > 0
    ),
    dense AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, doc_id) AS __rnk
      FROM dscore
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, doc_id) <= 20
    ),
    dwords AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> length(w) > 0) AS words
      FROM corpus
    ),
    dl AS (SELECT doc_id, len(words) AS dl FROM dwords),
    stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
    qterms AS (
      SELECT i AS query_id, 'zqh' || CAST(i AS VARCHAR) AS word
      FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'batch' FROM generate_series(0, 4) t(i)
      UNION ALL
      SELECT i, 'scan' FROM generate_series(0, 4) t(i)
    ),
    uniq AS (SELECT DISTINCT word FROM qterms),
    tf AS (
      SELECT t.doc_id, t.word, count(*) AS tf
      FROM (SELECT doc_id, unnest(words) AS word FROM dwords) t
      JOIN uniq USING (word)
      GROUP BY 1, 2
    ),
    docfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
    eligible AS (SELECT word, df FROM docfreq, stats WHERE df <= 0.5 * n),
    part AS (
      SELECT qt.query_id, tf.doc_id,
             ln((s.n - e.df + 0.5) / (e.df + 0.5) + 1.0)
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl)) AS w
      FROM qterms qt
      JOIN eligible e USING (word)
      JOIN tf ON tf.word = qt.word
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats s
    ),
    lexs AS (SELECT query_id, doc_id, round(sum(w), 6) AS bm25
             FROM part GROUP BY 1, 2),
    lex AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY bm25 DESC, doc_id) AS __rnk
      FROM lexs
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY bm25 DESC, doc_id) <= 20
    ),
    fused AS (
      SELECT query_id, doc_id,
             round(sum(1.0 / (60 + __rnk)), 6) AS rrf,
             count(*) AS n_arms
      FROM (SELECT * FROM dense UNION ALL SELECT * FROM lex)
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, rrf, n_arms FROM fused
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) <= 10
    """,
    doc="Hybrid retrieval with reciprocal-rank fusion (operators/"
    "retrieval.rrf_fuse) - the fusion step of a RAG / eval-mining "
    "stack: a lexical BM25 arm (Lucene-form, k1=1.2, b=0.75, "
    "df <= N/2 stopword cap - same math as bm25_doc_search) and a "
    "dense cosine arm (exact, 6dp - cosine_topk with queries from "
    "the embedding table itself) each produce a per-query top-20 "
    "ranking over the SAME joined corpus (documents JOIN embeddings "
    "on doc_id = vec_id, a planted rare topic tag zqh<doc_id%7> so "
    "the lexical arm has df-cap-surviving signal; the 'batch'/'scan' "
    "query terms provably die at the cap), then rrf = "
    "sum(1/(60+rank)) fuses them - no score calibration across "
    "incomparable scales, the standard RRF treatment of truncated "
    "rankings (missing arm contributes nothing, no outer join). "
    "Output also carries n_arms (how many arms retrieved the doc). "
    "Scale shape: the fusion is a union of two per-query top-20 "
    "frames plus one (query, doc) aggregation - nothing grows with "
    "corpus size; the arms are the scale paths and each is already "
    "postings-bucketed (text_index) / IVF-store-backed elsewhere in "
    "the repo; both arm rankings and the fused ranking go through "
    "WindowGroupLimit partial top-k on 6dp-rounded scores, ties to "
    "lowest doc_id.",
    tags=("north-star", "vectors", "search"),
)
def hybrid_doc_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import rrf_fuse

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load(spark, sf_dir, "embeddings")
    corpus = (
        docs.join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
        )
        .select(
            "doc_id",
            F.concat(
                "text", F.lit(" zqh"), (F.col("doc_id") % 7).cast("string")
            ).alias("text"),
            "embedding",
        )
    )
    # dense arm: exact cosine (the conformance stand-in for the IVF
    # store's query path), queries are vectors 100..104 re-keyed 0..4
    qvecs = emb.filter(F.col("vec_id").between(100, 104)).select(
        (F.col("vec_id") - 100).alias("query_id"), "embedding"
    )
    dense = cosine_topk(
        qvecs, corpus, "query_id", "doc_id", "embedding", k=20,
        exclude_self=False,
    ).select("query_id", F.col("match_id").alias("doc_id"), "cosine")
    # lexical arm: the shared BM25 scorer (operators/retrieval.
    # bm25_scores — single home of the k1/b/df-cap math, same
    # constants the bm25_doc_search oracle spells out)
    from end_to_end_etl_pipeline_spark.operators.retrieval import bm25_scores

    words = F.filter(F.split("text", " "), lambda w: F.length(w) > 0)
    d = corpus.select("doc_id", words.alias("words"))
    qterms = spark.createDataFrame(
        [(i, w) for i in range(5) for w in (f"zqh{i}", "batch", "scan")],
        "query_id bigint, word string",
    )
    lex = bm25_scores(d, qterms)
    return rrf_fuse([(dense, "cosine"), (lex, "bm25")])


def _mmr_ctes(k: int, lam: float) -> str:
    """Unrolled MMR greedy steps as DuckDB CTEs (the Lloyd's/BPE
    playbook: a fixed-iteration algorithm becomes an exact SQL
    oracle by unrolling).  Expects CTEs ``candv(query_id, doc_id,
    rel, v)`` and ``msim(query_id, id_a, id_b, sim)`` upstream;
    emits rem0..rem{k-1}, s1..s{k}, and ``mmr_sel``.  The score
    formula and its float literals are generated from the SAME
    Python floats the Spark operator uses (repr round-trip), so both
    engines evaluate bit-identical IEEE arithmetic."""
    om = 1.0 - lam
    parts = [
        "rem0 AS (SELECT query_id, doc_id, rel, -1.0 AS bs FROM candv)"
    ]
    score = f"round({lam!r} * rel - {om!r} * bs, 6)"
    for i in range(1, k + 1):
        parts.append(f"""
    s{i} AS (
      SELECT query_id, doc_id, rel FROM (
        SELECT query_id, doc_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {score} DESC, doc_id) AS rn
        FROM rem{i - 1}) WHERE rn = 1
    )""")
        if i < k:
            parts.append(f"""
    rem{i} AS (
      SELECT r.query_id, r.doc_id, r.rel, greatest(r.bs, p.sim) AS bs
      FROM rem{i - 1} r
      JOIN s{i} ON r.query_id = s{i}.query_id AND r.doc_id <> s{i}.doc_id
      JOIN msim p ON p.query_id = r.query_id AND p.id_a = r.doc_id
                 AND p.id_b = s{i}.doc_id
    )""")
    union = "\n      UNION ALL\n      ".join(
        f"SELECT query_id, doc_id, {i} AS mmr_rank, rel FROM s{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"mmr_sel AS (\n      {union}\n    )")
    return ",\n    ".join(parts)


#: shared by the JVM-aggregate query and its grouped-map twin — ONE
#: oracle, two execution strategies, so a result divergence between
#: them cannot hide behind oracle drift.
_MMR_ORACLE = f"""
    WITH qv AS (SELECT vec_id - 100 AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id BETWEEN 100 AND 104),
    c AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    scored AS (
      SELECT query_id, doc_id, {_COS.format(a="qv", b="v")} AS rel, v
      FROM qv, c
      WHERE list_dot_product(qv, qv) > 0 AND list_dot_product(v, v) > 0
    ),
    candv AS (
      SELECT query_id, doc_id, rel, v FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id) <= 20
    ),
    msim AS (
      SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
             {_COS.format(a="a.v", b="b.v")} AS sim
      FROM candv a JOIN candv b
        ON a.query_id = b.query_id AND a.doc_id <> b.doc_id
    ),
    {{mmr}}
    SELECT query_id, doc_id, mmr_rank, rel FROM mmr_sel
    """.format(mmr=_mmr_ctes(5, 0.7))


def _mmr_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared candidate build for both MMR conformance queries: 5
    query vectors, exact-cosine top-20 each (query_id, match_id,
    cosine, __cv). Each candidate keeps the corpus vector it was
    scored with (``__cv``, array<double>) through the top-k, so the
    pairwise-sim step needs no second read of ``embeddings``."""
    emb = load(spark, sf_dir, "embeddings")
    qvecs = emb.filter(F.col("vec_id").between(100, 104)).select(
        (F.col("vec_id") - 100).alias("query_id"), "embedding"
    )
    q = _prep(qvecs, "query_id", "embedding", "query_id", "__qv")
    c = _prep(emb, "vec_id", "embedding", "match_id", "__cv")
    return _topk_by_cosine(_scored_pairs(q, c), 20, extra=("__cv",))


@register(
    "mmr_diverse_rerank",
    oracle=_MMR_ORACLE,
    doc="Maximal-marginal-relevance diversified re-rank (operators/"
    "retrieval.mmr_select, Carbonell/Goldstein 1998) - the context-"
    "window diversification step of a RAG stack: from each query's "
    "exact-cosine top-20 candidates, greedily pick 5 by "
    "0.7*rel - 0.3*max_cosine_to_already_picked, so near-duplicate "
    "passages don't crowd out coverage. Pure-JVM: each query's "
    "id-sorted candidates collect into one row, the pairwise 6dp "
    "cosine matrix is built in-row (<= N^2 doubles, never corpus "
    "scale) and the 5 greedy steps run as ONE higher-order aggregate "
    "- no driver loop, no checkpoint, no Python; the query runs only "
    "the candidate build's stages. Scores 6dp, ties to lowest doc_id, "
    "best_sim seeded at -1.0 so one score formula covers step 1 "
    "(constant per-query offset, argmax unchanged) - the DuckDB "
    "oracle unrolls the identical 5 steps and replays every pick "
    "exactly.",
    tags=("north-star", "vectors", "search"),
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import mmr_select

    candv = _mmr_candidates(spark, sf_dir)
    out = mmr_select(candv, "query_id", "match_id", "__cv", "cosine")
    return out.select(
        "query_id", F.col("match_id").alias("doc_id"), "mmr_rank",
        F.col("cosine").alias("rel"),
    )


@register(
    "mmr_diverse_rerank_grouped",
    oracle=_MMR_ORACLE,
    doc="The SAME maximal-marginal-relevance re-rank as "
    "mmr_diverse_rerank, executed by the other strategy "
    "(operators/retrieval.mmr_select_grouped): MMR is parallel BY "
    "QUERY — each query's greedy loop touches only its own bounded "
    "top-20 — so the JVM-computed candidates and pairwise 6dp cosines "
    "(a self-join on the query key) cogroup on the query key and the "
    "selection loop runs in an Arrow cogrouped-map: ONE shuffle, one "
    "job, per-group memory <= N + N^2. The bench A/B twin of "
    "mmr_diverse_rerank's one JVM aggregate; both answer to the "
    "identical unrolled-CTE DuckDB oracle, so the strategies are "
    "provably interchangeable; the step-score replays Spark's "
    "BigDecimal-HALF_UP rounding exactly.",
    tags=("vectors", "search"),
)
def mmr_diverse_rerank_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        mmr_select_grouped,
    )

    candv = _mmr_candidates(spark, sf_dir)
    out = mmr_select_grouped(candv, "query_id", "match_id", "__cv", "cosine")
    return out.select(
        "query_id", F.col("match_id").alias("doc_id"), "mmr_rank",
        F.col("cosine").alias("rel"),
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH a AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                      label AS albl
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv,
                 label AS neg_label
          FROM embeddings),
    scored AS (
      SELECT query_id, match_id, {_COS.format(a="qv", b="cv")} AS cosine,
             neg_label
      FROM a, c
      WHERE neg_label <> albl
        AND list_dot_product(qv, qv) > 0 AND list_dot_product(cv, cv) > 0
    )
    SELECT query_id, match_id, cosine, neg_label FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, match_id) <= 5
    """,
    doc="Hard-negative mining (operators/similarity.hard_negatives) "
    "- contrastive-training data prep: for each anchor vector, the "
    "5 nearest neighbors whose label DIFFERS - the near-miss "
    "negatives that carry gradient signal random in-batch negatives "
    "don't. Label-mismatch filter sits BEFORE scoring so positives "
    "never waste a top-k slot; otherwise the exact cosine_topk plan "
    "shape (anchors broadcast, corpus scanned once, WindowGroupLimit "
    "partial top-k, 6dp, ties to lowest id). The production scale "
    "path swaps the exact scan for the IVF store's probed search "
    "like any other query batch.",
    tags=("north-star", "vectors"),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    emb = load(spark, sf_dir, "embeddings")
    return hard_negatives(
        emb.filter(F.col("vec_id") < 10), emb,
        "vec_id", "vec_id", "embedding", "label",
    )


@register(
    "cosine_topk_ivf_adaptive",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS match_id, label, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    cent AS (
      SELECT label, CAST(pos AS INT) AS pos, round(avg(v), 6) AS cv
      FROM (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS v,
                   unnest(generate_series(1, len(embedding))) AS pos
            FROM embeddings)
      GROUP BY label, pos
    ),
    qq AS (SELECT query_id, CAST(pos AS INT) AS pos, v
           FROM (SELECT query_id, unnest(qv) AS v,
                        unnest(generate_series(1, len(qv))) AS pos FROM q)),
    qcent AS (
      SELECT query_id, label,
             round(sum(qq.v * cent.cv) /
                   (sqrt(sum(qq.v * qq.v)) * sqrt(sum(cent.cv * cent.cv))), 6) AS score
      FROM qq JOIN cent USING (pos) GROUP BY 1, 2
    ),
    counts AS (SELECT label, count(*) AS cnt FROM embeddings GROUP BY 1),
    probed AS (
      SELECT query_id, label FROM (
        SELECT query_id, qcent.label,
               coalesce(sum(cnt) OVER (
                 PARTITION BY query_id ORDER BY score DESC, qcent.label
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS prev_cum
        FROM qcent JOIN counts ON qcent.label = counts.label)
      WHERE prev_cum < 100
    ),
    scored AS (
      SELECT q.query_id, c.match_id, {_COS.format(a="q.qv", b="c.cv")} AS cosine
      FROM probed p
      JOIN q ON q.query_id = p.query_id
      JOIN c ON c.label = p.label AND c.match_id <> q.query_id
      WHERE list_dot_product(q.qv, q.qv) > 0 AND list_dot_product(c.cv, c.cv) > 0
    )
    SELECT query_id, match_id, cosine FROM scored
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, match_id) <= 5
    """,
    doc="Query-adaptive IVF probing (operators/similarity."
    "ivf_probe_adaptive): instead of a fixed nprobe, each query "
    "probes its best-ranked cells until they TOGETHER hold >= 100 "
    "candidate vectors - the recall dial becomes a per-query "
    "candidate-count floor. With skewed cells (trained quantizers "
    "are never uniform) a fixed nprobe either under-probes queries "
    "routed to small cells or over-probes everyone; the adaptive "
    "rule reads exactly the data each query needs. Selection: cells "
    "in (score desc, label asc) order while the cumulative count of "
    "strictly-preceding cells < 100 (the crossing cell is included). "
    "Cell populations are one corpus agg here; against the persisted "
    "IVF store they're already in the manifest's per-dir stats, so "
    "the probe decision is metadata-only. Same 6dp/tie contracts as "
    "cosine_topk_ivf.",
    tags=("north-star", "vectors"),
)
def cosine_topk_ivf_adaptive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(
        emb.filter(F.col("vec_id") < 10),
        emb,
        "vec_id",
        "vec_id",
        "embedding",
        "label",
        min_candidates=100,
        dim=_dim(emb),
    )


@register(
    "semantic_split_contamination",
    oracle=None,  # assembled below (needs textdata's md5-hash macro)
    doc="Semantic train/test contamination audit - the embedding-"
    "space counterpart of the 8-gram split_contamination: paraphrase-"
    "level leaks share no n-grams but sit at near-1 cosine, so eval "
    "decontamination needs BOTH audits. Same content-addressed 80/20 "
    "split as every split query (md5 bucket on the id - stable under "
    "rebuilds), exact copies of every 10th vector planted (id+1M, "
    "label preserved) so cross-split leaks exist to catch. Pairing "
    "is bounded by the cluster key (label here; trained k-means "
    "cells on unlabeled corpora - the SemDeDup discipline): "
    "test x train joins WITHIN a cell only, never corpus x corpus, "
    "and the split filters land BEFORE the join so each side ships "
    "only its split's rows. Cosine >= 0.9999 after 6dp rounding; "
    "zero-norm vectors excluded (no defined cosine). Output: the "
    "leaked (test, train) pairs with their cell and score.",
    tags=("north-star", "vectors", "dedup", "sampling"),
)
def semantic_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from end_to_end_etl_pipeline_spark.operators.sampling import split_assign
    from end_to_end_etl_pipeline_spark.operators.similarity import cosine, dot

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    corpus = emb.unionByName(
        emb.filter(F.col("vec_id") % 10 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "label", "embedding"
        )
    )
    assigned = split_assign(
        corpus, "vec_id", [("train", 8000), ("test", 2000)]
    )
    v = F.col("embedding").cast("array<double>")
    prep = assigned.select(
        "vec_id", "label", "split", v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__n"),
    )
    t = prep.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("test_vec_id"), "label",
        F.col("__v").alias("__tv"), F.col("__n").alias("__tn"),
    )
    r = prep.filter(F.col("split") == "train").select(
        F.col("vec_id").alias("train_vec_id"), "label",
        F.col("__v").alias("__rv"), F.col("__n").alias("__rn"),
    )
    return (
        t.join(r, "label")
        .filter((F.col("__tn") > 0) & (F.col("__rn") > 0))
        .withColumn(
            "cosine",
            F.round(
                cosine(F.col("__tv"), F.col("__rv"),
                       F.col("__tn"), F.col("__rn")), 6,
            ),
        )
        .filter(F.col("cosine") >= 0.9999)
        .select("test_vec_id", "train_vec_id", "label", "cosine")
    )


def _semantic_split_contamination_oracle() -> str:
    from end_to_end_etl_pipeline_spark.queries.textdata import _SQL_H32

    return f"""
    WITH corpus AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, label, CAST(embedding AS DOUBLE[])
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    assigned AS (
      SELECT vec_id, label, v,
             CASE WHEN {_SQL_H32.format(c="vec_id")} % 10000 < 8000
                  THEN 'train' ELSE 'test' END AS split
      FROM corpus
    ),
    t AS (SELECT vec_id, label, v FROM assigned
          WHERE split = 'test' AND list_dot_product(v, v) > 0),
    r AS (SELECT vec_id, label, v FROM assigned
          WHERE split = 'train' AND list_dot_product(v, v) > 0)
    SELECT t.vec_id AS test_vec_id, r.vec_id AS train_vec_id, t.label,
           {_COS.format(a="t.v", b="r.v")} AS cosine
    FROM t JOIN r ON t.label = r.label
    WHERE {_COS.format(a="t.v", b="r.v")} >= 0.9999
    """


from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY as _REG  # noqa: E402

_REG["semantic_split_contamination"].oracle = _semantic_split_contamination_oracle()


@register(
    "rag_context_pack",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 5),
    c AS (SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    scored AS (
      SELECT query_id, match_id, {{cos}} AS cosine
      FROM q JOIN c ON match_id <> query_id
      WHERE list_dot_product(qv, qv) > 0 AND list_dot_product(cv, cv) > 0
    ),
    top AS (
      SELECT query_id, match_id, cosine FROM scored
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, match_id) <= 5
    ),
    words AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ),
    starts AS (
      SELECT doc_id, w,
             unnest(generate_series(1, greatest(len(w) - 5, 1), 25)) AS i
      FROM words
    ),
    chunks AS (
      SELECT doc_id, CAST((i - 1) // 25 AS INT) AS chunk_idx,
             CAST(len(list_slice(w, CAST(i AS INT), CAST(i + 29 AS INT)))
                  AS INT) AS n_tokens
      FROM starts
    ),
    cand AS (
      SELECT t.query_id, t.match_id, t.cosine, ch.chunk_idx, ch.n_tokens
      FROM top t JOIN chunks ch ON ch.doc_id = t.match_id
    ),
    packed AS (
      SELECT query_id, match_id, chunk_idx, n_tokens,
             CAST(sum(n_tokens) OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, match_id, chunk_idx
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM cand
    )
    SELECT query_id, match_id, chunk_idx, n_tokens, cum_tokens
    FROM packed WHERE cum_tokens <= 120
    """.format(cos=_COS.format(a="qv", b="cv")),
    doc="RAG context assembly - the step AFTER retrieval: each "
    "query's dense top-5 docs (exact cosine; the IVF store is the "
    "scale swap-in) are chunked (sliding_chunks, 30/5 - the same "
    "chunker as doc_chunks) and greedily packed into a 120-token "
    "context budget in relevance order (cosine desc, doc, chunk "
    "position) via a running-sum window cut - the deterministic "
    "version of 'fill the prompt until it is full'. Scale shape: "
    "everything after the arm is evaluation-sized (<= 5 docs x "
    "their chunks per query); the budget cut is ONE prefix-sum "
    "window per query over tens of rows; chunking stays map-side. "
    "Output: the per-query context manifest (doc, chunk, token "
    "counts, running total) a prompt builder consumes verbatim.",
    tags=("north-star", "vectors", "text", "search"),
)
def rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        sliding_chunks,
    )

    emb = load(spark, sf_dir, "embeddings")
    top = cosine_topk(
        emb.filter(F.col("vec_id") < 5), emb, "vec_id", "vec_id",
        "embedding", k=5,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cand = top.join(docs, top["match_id"] == docs["doc_id"]).select(
        "query_id", "match_id", "cosine",
        F.posexplode(sliding_chunks("text"))
        .alias("chunk_idx", "ch"),
    )
    chunked = cand.select(
        "query_id", "match_id", "cosine",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size("ch.toks").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine").desc(), "match_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunked.withColumn(
            "cum_tokens", F.sum("n_tokens").over(w).cast("bigint")
        )
        .filter(F.col("cum_tokens") <= 120)
        .select("query_id", "match_id", "chunk_idx", "n_tokens", "cum_tokens")
    )

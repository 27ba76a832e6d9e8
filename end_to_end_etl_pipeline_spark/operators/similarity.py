"""Similarity search over embedding columns (``array<float>``) —
BASELINE.json north star; no reference counterpart.

Two tiers, per the standard ANN playbook:

* **Brute-force cosine top-k** — the exactness baseline. The query
  set is broadcast (bounded: top-k serving / eval workloads have
  small query batches); the corpus stays distributed and is scanned
  once. Dot products are ``zip_with``+``aggregate`` folds — built-in
  higher-order functions, whole-stage codegen, no Python, no UDF.
  Top-k per query is ``row_number`` over (rounded score, id) —
  Spark's WindowGroupLimit pushes the rank filter into partial
  per-partition top-k, so the final shuffle carries ≤ k rows per
  partition per query, not the whole scored corpus.
* **IVF-style probed search** — the 100-TB path. A coarse quantizer
  (here: per-label centroids — swap in k-means cells on unlabeled
  data) partitions the corpus; each query ranks centroids, probes the
  ``nprobe`` nearest cells, and scores only those cells' vectors.
  Corpus scanned ∝ nprobe/cells. Scores are rounded to 6dp before
  ranking so ordering is reproducible across engines and runs
  (float-sum associativity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Element-wise dot product of two array<double> columns — a
    sequential JVM fold (deterministic summation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column, a_norm: Column, b_norm: Column) -> Column:
    return dot(a, b) / (a_norm * b_norm)


def _prep(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_out: str,
    vec_out: str,
    extra: tuple = (),
) -> DataFrame:
    """(id, vec as array<double>, norm[, extra...]) projection.
    ``extra`` is (source_col, alias) pairs passed through — labels
    and other per-row metadata ride the same single projection."""
    v = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(id_out),
        v.alias(vec_out),
        F.sqrt(dot(v, v)).alias(f"{vec_out}_norm"),
        *[F.col(src).alias(dst) for src, dst in extra],
    )


def _scored_pairs(q: DataFrame, c: DataFrame) -> DataFrame:
    """Broadcast the (small) query side against the corpus side and
    attach the 6dp cosine.  Zero-norm vectors have no defined cosine
    (Spark yields NULL, DuckDB inf/nan): excluded on both sides
    rather than letting NULL-scored rows occupy top-k slots.  The
    single home of the determinism contract (6dp round) shared by
    cosine_topk, hard_negatives and the MMR candidate build
    (``queries/vectors.py:_mmr_candidates``)."""
    return (
        c.join(F.broadcast(q), F.lit(True))
        .filter((F.col("__qv_norm") > 0) & (F.col("__cv_norm") > 0))
        .withColumn(
            "cosine",
            F.round(
                cosine(F.col("__qv"), F.col("__cv"),
                       F.col("__qv_norm"), F.col("__cv_norm")), 6,
            ),
        )
    )


def _topk_by_cosine(scored: DataFrame, k: int, extra: tuple = ()) -> DataFrame:
    """Per-query top-k on (cosine desc, match_id asc) — the single
    home of the tie-break contract; plans as WindowGroupLimit."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "match_id", "cosine", *extra)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    k: int = 5,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k: (query_id, match_id, cosine), cosine rounded to
    6dp, deterministic (score desc, match_id asc) order."""
    q = _prep(queries, query_id, vec_col, "query_id", "__qv")
    c = _prep(corpus, corpus_id, vec_col, "match_id", "__cv")
    scored = _scored_pairs(q, c)
    if exclude_self:
        scored = scored.filter(F.col("match_id") != F.col("query_id"))
    return _topk_by_cosine(scored, k)


def hard_negatives(
    anchors: DataFrame,
    corpus: DataFrame,
    anchor_id: str,
    corpus_id: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    anchor, the 5 nearest corpus vectors (cosine, 6dp, ties to
    lowest id) whose ``label_col`` DIFFERS from the anchor's — the
    near-miss negatives that carry the gradient signal random
    negatives don't (in-batch negatives are mostly easy; hard ones
    come from a neighbor search that crosses the label boundary).

    Same plan shape as :func:`cosine_topk` — anchors broadcast
    (query-batch-sized), corpus scanned once, label-mismatch filter
    BEFORE scoring so no top-k slot is wasted on positives, per-
    anchor top-k via WindowGroupLimit partial top-k.  The production
    scale path swaps the exact scan for the IVF store's probed
    search, exactly as for any other query batch.  Returns
    (anchor_id→query_id, match_id, cosine, neg_label)."""
    a = _prep(anchors, anchor_id, vec_col, "query_id", "__qv",
              extra=((label_col, "__albl"),))
    c = _prep(corpus, corpus_id, vec_col, "match_id", "__cv",
              extra=((label_col, "neg_label"),))
    scored = _scored_pairs(a, c).filter(
        F.col("neg_label") != F.col("__albl")
    )
    return _topk_by_cosine(scored, 5, extra=("neg_label",))


def ensure_codegen_fields(spark, n: int) -> None:
    """Raise ``spark.sql.codegen.maxFields`` to at least ``n``.

    A dim-wide element-wise aggregate carries 2×dim buffer slots
    (sum+count per avg); past the default maxFields=100 Spark drops
    the stage out of whole-stage codegen into interpreted row-at-a-
    time aggregation. At sf0.1/dim=64 the difference is within noise
    (the vectorized parquet scan dominates), but the fallback cost
    grows with rows × buffers, so keep codegen on for the 100-TB
    case. Runtime-settable SQL conf — the engine self-configures even
    under the driver's plain SparkSession."""
    cur = int(spark.conf.get("spark.sql.codegen.maxFields", "100"))
    if cur < n:
        spark.conf.set("spark.sql.codegen.maxFields", str(n))


def label_centroids_array(
    corpus: DataFrame,
    label_col: str,
    vec_col: str,
    dim: int | None = None,
) -> DataFrame:
    """(label, pos, cv): per-cell centroid components, rounded to 6dp
    so the quantizer is bit-identical across engines/runs.

    With ``dim`` given (fixed-width embeddings — the normal case) the
    element-wise average runs as ``dim`` scalar ``avg`` buffers in ONE
    groupBy(label): the map side never materializes rows × dim
    exploded rows, partial aggregation reduces each partition to
    cells × dim buffer values, and the single exchange carries only
    those. Without ``dim`` it falls back to posexplode +
    groupBy(label, pos), which inflates the pre-agg row count by
    × dim and shuffles on a (cells × dim)-key space."""
    v = F.col(vec_col).cast("array<double>")
    if dim is not None:
        ensure_codegen_fields(corpus.sparkSession, 2 * dim + 32)
        # element-then-cast, NOT cast-then-element: casting the whole
        # array inside each of the dim buffer expressions would redo
        # the O(dim) array cast per buffer — O(dim²) per row.
        agg = corpus.groupBy(F.col(label_col).alias("label")).agg(
            *[F.avg(F.col(vec_col)[i].cast("double")).alias(f"__a{i}") for i in range(dim)]
        )
        return agg.select(
            "label",
            F.posexplode(
                F.array(*[F.round(F.col(f"__a{i}"), 6) for i in range(dim)])
            ).alias("pos0", "cv"),
        ).select("label", (F.col("pos0") + 1).alias("pos"), "cv")
    exploded = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(v).alias("pos0", "v"),
    )
    return (
        exploded.groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("cv"))
    )


def ivf_probe(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    vec_col: str,
    label_col: str,
    dim: int | None = None,
) -> DataFrame:
    """The coarse-quantizer routing step shared by every IVF-tier
    search (:func:`cosine_topk_ivf`, `operators/pq.ivfpq_topk`,
    `operators/ivf_store`): rank the per-cell centroids against each
    query by cosine (rounded 6dp, tie → label asc) and keep the 2
    best. Returns (query_id, label) — queries × 2 rows, model-parameter
    scale. The centroid frame is cells × dim (broadcast); the ranking
    itself never touches the corpus beyond the one centroid-training
    aggregation."""
    qcent = _ivf_cell_scores(queries, corpus, query_id, vec_col, label_col, dim)
    wp = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    return (
        qcent.withColumn("__rn", F.row_number().over(wp))
        .filter(F.col("__rn") <= 2)
        .select("query_id", "label")
    )


def _ivf_cell_scores(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    vec_col: str,
    label_col: str,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, label, score): 6dp query↔centroid cosine — the
    shared ranking behind fixed-nprobe and adaptive probing."""
    cent = label_centroids_array(corpus, label_col, vec_col, dim=dim)
    qq = queries.select(
        F.col(query_id).alias("query_id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos0", "v"),
    ).select("query_id", (F.col("pos0") + 1).alias("pos"), "v")
    return (
        qq.join(F.broadcast(cent), "pos")
        .groupBy("query_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("d"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("qn"),
            F.sqrt(F.sum(F.col("cv") * F.col("cv"))).alias("cn"),
        )
        .withColumn("score", F.round(F.col("d") / (F.col("qn") * F.col("cn")), 6))
    )


def ivf_probe_adaptive(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    vec_col: str,
    label_col: str,
    min_candidates: int,
    dim: int | None = None,
) -> DataFrame:
    """Query-adaptive cell probing: instead of a fixed ``nprobe``,
    each query probes its best-ranked cells (same 6dp cosine / label
    asc contract as :func:`ivf_probe`) until the probed cells
    TOGETHER hold at least ``min_candidates`` corpus vectors — the
    recall guarantee becomes a candidate-count floor rather than a
    cell-count guess.  With skewed cells (the realistic case: trained
    quantizers produce uneven cells; a fixed nprobe either
    under-probes hot queries or over-probes everyone) this reads
    strictly the data needed per query.  Cell populations come from
    one corpus aggregation — against a persisted IVF store the same
    counts are already in the manifest's per-dir stats, so the probe
    plan is metadata-only there.

    Selection rule: cells in rank order while the cumulative count of
    STRICTLY-PRECEDING cells is < ``min_candidates`` — the cell that
    crosses the floor is included, everything after is not.  Returns
    (query_id, label)."""
    qcent = _ivf_cell_scores(queries, corpus, query_id, vec_col, label_col, dim)
    counts = corpus.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("label").asc()
    )
    prev_cum = F.coalesce(
        F.sum("__cnt").over(wp.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return (
        qcent.join(F.broadcast(counts), "label")
        .withColumn("__prev", prev_cum)
        .filter(F.col("__prev") < min_candidates)
        .select("query_id", "label")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    label_col: str,
    dim: int | None = None,
    min_candidates: int | None = None,
) -> DataFrame:
    """IVF probe: rank cells by query↔centroid cosine (rounded 6dp,
    tie → label asc), exact-score the 2 nearest cells only. Returns
    the top-5 (query_id, match_id, cosine), each query's own id
    excluded, like :func:`cosine_topk` — identical results whenever
    the true top-5 lives in the probed cells. Pass ``dim`` (the
    fixed embedding width) so the quantizer build avoids the
    posexplode row inflation — see :func:`label_centroids_array`.

    With ``min_candidates`` set, the fixed 2-cell probe gives way and the probe
    is query-adaptive (:func:`ivf_probe_adaptive`): each query scans
    exactly the cells needed to guarantee that many candidates."""
    if min_candidates is not None:
        probed = ivf_probe_adaptive(
            queries, corpus, query_id, vec_col, label_col,
            min_candidates=min_candidates, dim=dim,
        )
    else:
        probed = ivf_probe(queries, corpus, query_id, vec_col, label_col, dim=dim)
    q = _prep(queries, query_id, vec_col, "query_id", "__qv")
    # carry the label in the same projection — joining the corpus back
    # to itself on match_id just to re-attach it would be a second
    # full-corpus shuffle
    v = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(corpus_id).alias("match_id"),
        v.alias("__cv"),
        F.sqrt(dot(v, v)).alias("__cv_norm"),
        F.col(label_col).alias("label"),
    )
    scored = (
        c.join(F.broadcast(probed.join(q, "query_id")), "label")
        .filter(F.col("match_id") != F.col("query_id"))
        .filter((F.col("__qv_norm") > 0) & (F.col("__cv_norm") > 0))
    )
    scored = scored.withColumn(
        "cosine",
        F.round(cosine(F.col("__qv"), F.col("__cv"), F.col("__qv_norm"), F.col("__cv_norm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "match_id", "cosine")
    )


HEX = "0123456789abcdef"


def sign_lsh_bucket(vec_col: str) -> Column:
    """Random-hyperplane sign bucket (8 planes) for an array<double>
    column.

    Plane ``p``'s component at position ``pos`` is derived from
    ``md5(p || ':' || pos)`` (first hex nibble − 7.5) — deterministic,
    RNG-free, identical in any engine that has md5. Cosine-similar
    vectors agree on most signs, so near-identical vectors share the
    full bucket string with overwhelming probability. The per-row
    md5 cost is planes × dim cheap JVM hashes, traded for zero
    broadcast state."""
    return F.expr(
        "array_join(transform(sequence(0, 7), p -> "
        f"CASE WHEN aggregate(zip_with({vec_col}, "
        f"transform(sequence(1, size({vec_col})), pos -> "
        f"CAST(instr('{HEX}', substring(md5(concat(p, ':', pos)), 1, 1)) - 1 AS DOUBLE) - 7.5D), "
        f"(x, h) -> x * h), 0D, (acc, x) -> acc + x) >= 0 THEN '1' ELSE '0' END), '')"
    )


def sign_lsh_near_dup_pairs(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Embedding near-dup: candidates meet only inside a sign-LSH
    bucket (2^8 cells), verified by exact cosine ≥ 0.9999.
    One shuffle on the bucket string; never all-pairs. Returns
    (id_a, id_b, cosine), id_a < id_b."""
    c = _prep(corpus, corpus_id, vec_col, "vid", "__v").withColumn(
        "__bucket", sign_lsh_bucket("__v")
    )
    a = c.select(
        F.col("__bucket"),
        F.col("vid").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__v_norm").alias("__na"),
    )
    b = c.select(
        F.col("__bucket"),
        F.col("vid").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__v_norm").alias("__nb"),
    )
    return (
        a.join(b, "__bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")), 6),
        )
        .filter(F.col("cosine") >= 0.9999)
        .select("id_a", "id_b", "cosine")
    )


def downsample_vector(vec_col: str) -> Column:
    """Array "resize": halve a vector by averaging adjacent pairs of
    elements, rounded to 6dp (the pooling half of the multimodal
    decode/resize family, and a cheap dimensionality reduction ahead
    of LSH/PQ). Pure higher-order-function expression — JVM-side,
    zero shuffles, one codegen'd pass per row; the expression tree is
    O(1) in the output width (a ``transform`` over an index
    ``sequence``, not an unrolled per-element forest)."""
    v = F.col(vec_col)
    factor = 2
    pooled = F.transform(
        F.sequence(F.lit(0), F.floor((F.size(v) - 1) / factor).cast("int")),
        lambda i: F.round(
            F.aggregate(
                F.slice(v, i * factor + 1, factor),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            )
            / F.size(F.slice(v, i * factor + 1, factor)),
            6,
        ),
    )
    # guard the empty vector: sequence(0, floor(-1/factor)) =
    # sequence(0, -1) is DESCENDING [0, -1] in Spark, which would
    # produce [NULL, NULL] instead of []
    return F.when(
        F.size(v) == 0, F.array().cast("array<double>")
    ).otherwise(pooled)


def hadamard_rotate(vec_col: str, dim: int) -> Column:
    """Deterministic orthogonal rotation: the normalized Walsh-
    Hadamard transform ``y[j] = Σ_i v[i]·(−1)^popcount(i&j) / √dim``
    — the RNG-free stand-in for OPQ's learned rotation. Rotating
    before product quantization spreads variance across subspaces
    (the failure mode of raw PQ is energy concentrated in a few
    dims), and the transform is norm-preserving so cosine/L2
    orderings survive exactly.

    One ``transform``-over-``sequence`` lambda with an inner
    ``aggregate`` fold: O(1) expression-tree size, dense O(dim²)
    work per row — right up to a few hundred dims (the butterfly
    O(dim·log dim) factorization needs log-dim chained projections;
    not worth it below dim≈1k). ``bit_count`` keeps the sign rule
    replayable in any engine with integer popcount. Components are
    rounded to 6dp.
    """
    if dim & (dim - 1):
        raise ValueError(f"Hadamard rotation needs power-of-two dim, got {dim}")
    v = F.col(vec_col)
    scale = float(dim) ** 0.5
    sign = lambda i, j: F.when(  # noqa: E731
        F.bit_count(i.bitwiseAND(j)) % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.round(
            F.aggregate(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                F.lit(0.0),
                lambda acc, i: acc
                + F.element_at(v, (i + 1).cast("int")).cast("double") * sign(i, j),
            )
            / scale,
            6,
        ),
    )


def semantic_dedup_prune(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str,
    cluster_col: str,
) -> DataFrame:
    """SemDeDup-shape semantic dedup (Abbas et al. 2023): embeddings
    are compared only WITHIN their cluster, and a vector is pruned iff
    some lower-id cluster-mate sits at cosine ≥ 0.995 (greedy
    keep-lowest — deterministic, order-free). Returns the surviving
    rows (id, cluster).

    Scale shape: the cluster column bounds the quadratic — pairing is
    a self-equi-join on ``cluster_col`` (one shuffle on the cluster
    key), never corpus×corpus; cluster sizes are the skew lever
    exactly as in the paper (k-means k is chosen to cap them). The
    prune decision is a per-id aggregate over the pair list, and
    survivors come from a left-anti join against the (small) pruned
    set. Zero-norm vectors never match anything (guarded cosine) and
    so always survive."""
    v = F.col(vec_col).cast("array<double>")
    c = corpus.select(
        F.col(corpus_id).alias("vid"),
        F.col(cluster_col),
        v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__v_norm"),
    )
    a = c.select(
        F.col(cluster_col),
        F.col("vid").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__v_norm").alias("__na"),
    )
    b = c.select(
        F.col(cluster_col),
        F.col("vid").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__v_norm").alias("__nb"),
    )
    pruned = (
        a.join(b, cluster_col)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                cosine(F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")), 6
            ),
        )
        .filter(F.col("cosine") >= 0.995)
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return (
        corpus.select(F.col(corpus_id), F.col(cluster_col))
        .join(pruned.select(F.col("vid").alias(corpus_id)), corpus_id, "left_anti")
    )

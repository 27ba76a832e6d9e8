"""Product quantization (PQ) for embedding columns — the compressed
ANN tier above :mod:`operators.similarity` (brute-force / IVF).
BASELINE.json north star; no reference counterpart.

A dim-D vector is split into M contiguous subvectors; each subspace
gets its own K-centroid codebook (Lloyd/k-means); a vector is stored
as M small ints (its per-subspace nearest-centroid codes). Queries
score against codes with an asymmetric distance computation (ADC):
the query precomputes an M×K table of exact subspace distances, and a
document's approximate distance is M table lookups — no vector math
per document. :func:`pq_topk_rerank` adds the production retrieval
shape (IVFADC+R): ADC keeps a small shortlist, exact L2 re-ranks it.

Why this is the 100-TB tier:

* **Storage**: D float32 (256 B at D=64) becomes M small codes
  (16 nibbles at M=16) — a ~30-60× smaller scan for the candidate
  pass; the re-rank touches raw vectors for shortlist rows only.
* **Scan cost**: D multiply-adds per doc·query becomes M array
  lookups; the corpus pass is a pure per-row projection.
* **No training shuffle spiral**: the codebook is ≤ K×D doubles
  (~16 KB) — it is collected to the driver between Lloyd iterations
  (model parameters, not data; the same pattern as MLlib k-means)
  and re-enters the plan as ONE literal nested array walked by
  higher-order-function lambdas. That keeps the expression tree
  O(1) in M·K — inlining M×K per-centroid fold expressions instead
  makes Catalyst analysis/codegen the bottleneck (measured: ~20 s of
  plan time at M=16, K=16 before this formulation). Training cost
  per iteration is one corpus projection + one tiny
  (M·K·subdim)-buffer aggregation.

Determinism (what lets a DuckDB oracle replay this exactly, unrolled
iteration by iteration): init assigns row ``id % K`` (no RNG), every
centroid component and every distance is rounded to ``ROUND_DP``
decimals before it is compared or reused, argmin ties break on the lowest
code, and a cluster that loses all its members is dropped (exactly
what a GROUP BY produces — surviving codes keep their original
labels). No partition-order dependence anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.similarity import (
    ensure_codegen_fields,
    ivf_probe as ivf_probe_fn,
)

# cb[m] = [(code, [subdim centroid components]), ...] sorted by code.
# Codes are stable labels (init cluster ids), not list positions —
# a cluster emptied by a Lloyd step just disappears from the list.
Codebook = list[list[tuple[int, list[float]]]]

#: decimals every centroid component and distance is rounded to
ROUND_DP = 6


def _cb_literals(cb: Codebook) -> tuple[Column, Column]:
    """The codebook as two literal nested arrays: CB[m][j] = centroid
    components, LB[m][j] = that centroid's code label. One literal in
    the plan regardless of M·K — every consumer walks it with
    lambdas."""
    # Rendered as ONE SQL string each: the nested F.array/F.lit way
    # costs M*K*subdim py4j round-trips (~1.5s of driver time at
    # M=16,K=8 — measured, it dominated store-ANN query latency);
    # F.expr parses the same literal tree in a single JVM call.
    # repr(float) round-trips exactly and Spark SQL accepts its
    # scientific notation; 'd' suffix pins double type.
    cb_sql = "array(%s)" % ",".join(
        "array(%s)"
        % ",".join(
            "array(%s)" % ",".join(f"{float(x)!r}d" for x in cent)
            for _, cent in cb_m
        )
        for cb_m in cb
    )
    lb_sql = "array(%s)" % ",".join(
        "array(%s)" % ",".join(str(int(code)) for code, _ in cb_m)
        for cb_m in cb
    )
    return F.expr(cb_sql), F.expr(lb_sql)


def _fold_l2sq(a: Column, b: Column) -> Column:
    """Rounded squared L2 between two array<double> columns — a
    sequential JVM fold (deterministic summation order)."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        ROUND_DP,
    )


def _subdim(cb: Codebook) -> int:
    return len(cb[0][0][1])


def _codes_expr(v: Column, cb: Codebook) -> Column:
    """``array<int>`` of M nearest-centroid code labels for vector
    ``v`` — one per-row expression, no window, no shuffle. Per
    subspace: argmin via ``array_min`` over (dist, position) structs
    (positions follow label order, so the tie-break is the lowest
    label), then position → label through LB."""
    CB, LB = _cb_literals(cb)
    subdim = _subdim(cb)

    def per_m(m: Column) -> Column:
        # let-bind the subvector slice through a 1-element transform:
        # higher-order functions run interpreted with no subexpression
        # elimination, so referencing the slice directly inside the
        # candidate lambda re-materialized it once per centroid (K
        # copies per subspace per row — measured on the corpus-side
        # encode as the dominant avoidable cost, r12)
        sub_bound = F.array(F.slice(v, m * subdim + 1, subdim))

        def argmin(sub: Column) -> Column:
            cands = F.transform(
                F.element_at(CB, m + 1),
                lambda c, j: F.struct(
                    _fold_l2sq(sub, c).alias("d"), j.alias("j")
                ),
            )
            best_j = F.array_min(cands)["j"]
            return F.element_at(F.element_at(LB, m + 1), best_j + 1)

        return F.element_at(
            F.transform(sub_bound, lambda sub: argmin(sub)), 1
        )

    return F.transform(F.sequence(F.lit(0), F.lit(len(cb) - 1)), per_m)


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_subspaces: int = 16,
    num_centroids: int = 16,
) -> Codebook:
    """Train M per-subspace codebooks with one Lloyd step.

    Init: row ``id % K`` seeds cluster k (deterministic, RNG-free).
    Each step: per-row nearest-code expression against the current
    literal codebook, then one groupBy(m, code) with subdim scalar
    ``avg`` buffers (map-side partial agg; the exchange carries
    M·K·subdim doubles). Centroids are rounded to ``ROUND_DP`` so
    re-runs and cross-engine replays are bit-identical."""
    dim = corpus.select(F.size(F.col(vec_col)).alias("d")).first()["d"]
    if dim % num_subspaces:
        raise ValueError(f"dim {dim} not divisible by M={num_subspaces}")
    subdim = dim // num_subspaces
    ensure_codegen_fields(corpus.sparkSession, 2 * subdim + 32)

    df = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    v = F.col("__v")
    M = num_subspaces

    def centroids_for(assigned: DataFrame) -> Codebook:
        # assigned: (__m, __code, __sub array<double>) → per-(m, code)
        # element-wise means; empty groups simply don't appear.
        agg = assigned.groupBy("__m", "__code").agg(
            *[
                F.round(F.avg(F.col("__sub")[i]), ROUND_DP).alias(f"__a{i}")
                for i in range(subdim)
            ]
        )
        cents: dict[int, list[tuple[int, list[float]]]] = {m: [] for m in range(M)}
        for r in agg.collect():
            cents[r["__m"]].append((r["__code"], [r[f"__a{i}"] for i in range(subdim)]))
        return [sorted(cents[m]) for m in range(M)]

    def explode_subs(codes_arr: Column) -> DataFrame:
        # let-bind the codes array through a 1-element transform so
        # CollapseProject can't inline (and re-evaluate) the argmin
        # expression once per subspace struct.
        per_row = F.element_at(
            F.transform(
                F.array(codes_arr),
                lambda codes: F.transform(
                    F.sequence(F.lit(0), F.lit(M - 1)),
                    lambda m: F.struct(
                        m.alias("__m"),
                        F.element_at(codes, m + 1).alias("__code"),
                        F.slice(v, m * subdim + 1, subdim).alias("__sub"),
                    ),
                ),
            ),
            1,
        )
        return df.select(F.explode(per_row).alias("__s")).select(
            F.col("__s.__m").alias("__m"),
            F.col("__s.__code").alias("__code"),
            F.col("__s.__sub").alias("__sub"),
        )

    # pmod, not %: Spark's % keeps the dividend's sign, and a negative
    # id would mint negative code labels that index the ADC distance
    # table from the wrong end (element_at negative indexing)
    init_codes = F.array_repeat(
        F.pmod(F.col("__id"), F.lit(num_centroids)).cast("int"), M
    )
    cb = centroids_for(explode_subs(init_codes))
    return centroids_for(explode_subs(_codes_expr(v, cb)))


def pq_encode(df: DataFrame, vec_col: str, cb: Codebook) -> DataFrame:
    """Append ``pq_codes array<int>`` — M per-subspace nearest-centroid
    codes, computed in one per-row projection (this is the column a
    production table persists instead of the raw vectors)."""
    v = F.col(vec_col).cast("array<double>")
    return df.withColumn("pq_codes", _codes_expr(v, cb))


def _query_dtable(vec_col: str, cb: Codebook) -> Column:
    """A query row's M×K ADC distance table as one nested-array
    column: exact subspace squared-L2 to every codebook centroid,
    rounded. Tables are dense over code labels 0..K-1; a dropped
    cluster's slot is a 0.0 filler no surviving code ever points at."""
    CB, LB = _cb_literals(cb)
    subdim = _subdim(cb)
    num_k = max(code for cb_m in cb for code, _ in cb_m) + 1
    qv = F.col(vec_col).cast("array<double>")

    def per_m_table(m: Column) -> Column:
        sub = F.slice(qv, m * subdim + 1, subdim)
        lbm = F.element_at(LB, m + 1)
        cbm = F.element_at(CB, m + 1)
        return F.transform(
            F.sequence(F.lit(0), F.lit(num_k - 1)),
            lambda code: F.when(F.array_position(lbm, code) == 0, F.lit(0.0)).otherwise(
                _fold_l2sq(
                    sub,
                    F.element_at(cbm, F.array_position(lbm, code).cast("int")),
                )
            ),
        )

    return F.transform(F.sequence(F.lit(0), F.lit(len(cb) - 1)), per_m_table)


def _adc_dist() -> Column:
    """Approximate squared-L2 from a row's (__dt, pq_codes): M
    ``element_at`` lookups folded JVM-side — no vector math per doc."""
    return F.aggregate(
        F.zip_with(
            F.col("__dt"),
            F.col("pq_codes"),
            lambda t, code: F.element_at(t, code + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _exact_rerank(
    short: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
) -> DataFrame:
    """Exact squared-L2 top-5 re-rank of an ADC shortlist against the
    raw vectors. ``short`` is (query_id, match_id) — candidate-keyed, so
    the raw-vector side is touched for shortlist rows only."""
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("match_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    )
    exact = (
        F.broadcast(short)
        .join(q, "query_id")
        .join(c, "match_id")
        .withColumn("l2sq", _fold_l2sq(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("l2sq").asc(), F.col("match_id").asc()
    )
    return (
        exact.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 5)
        .select("query_id", "match_id", "l2sq")
    )


def pq_topk_adc(
    queries: DataFrame,
    encoded: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    cb: Codebook,
    k: int,
) -> DataFrame:
    """Asymmetric-distance top-k: (query_id, match_id, adc_dist),
    smallest approximate squared-L2 first, ties to the lowest id, each
    query's own id excluded.

    Each query row precomputes its M×K distance table as a nested
    array column (exact subspace distances, rounded; tables are dense
    over code labels 0..K-1, a dropped cluster's slot is a 0.0 filler
    no surviving code ever points at); the broadcast join then scores
    every encoded doc with ``zip_with(table, codes)`` — M
    ``element_at`` lookups per doc, no vector math. The final
    per-query top-k is a ``row_number`` window; Spark's
    WindowGroupLimit turns the rank filter into partial per-partition
    top-k, so the exchange carries ≤ k rows per partition per query."""
    dtable = _query_dtable(vec_col, cb)
    q = queries.select(F.col(query_id).alias("query_id"), dtable.alias("__dt"))
    c = encoded.select(F.col(corpus_id).alias("match_id"), "pq_codes")
    scored = (
        c.join(F.broadcast(q), F.lit(True))
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_adc_dist(), ROUND_DP))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "match_id", "adc_dist")
    )


def pq_topk_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    encoded: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    cb: Codebook,
) -> DataFrame:
    """ADC shortlist → exact re-rank (the IVFADC+R pattern): the
    compressed scan keeps only 25 candidates per query (5 × the
    top-5), then exact squared-L2 re-scores just those against the raw
    vectors. Returns (query_id, match_id, l2sq) — exact distances,
    smallest first, ties to the lowest id, each query's own id
    excluded.

    This is the shape that makes PQ usable on distance-concentrated
    embeddings: ADC ordering is noisy at the top-k boundary but very
    likely to retain the true neighbors in a modest shortlist, and the
    re-rank touches raw vectors for only ``25·|Q|`` rows — the
    100-TB scan still reads codes, not vectors (the re-rank side is a
    candidate-keyed semi-join, not a second corpus scan, when the
    vector table is keyed storage)."""
    short = pq_topk_adc(
        queries, encoded, query_id, corpus_id, vec_col, cb, k=25
    ).select("query_id", "match_id")
    return _exact_rerank(short, queries, corpus, query_id, corpus_id, vec_col)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    encoded: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str,
    cell_col: str,
    cb: Codebook,
    dim: int | None = None,
) -> DataFrame:
    """IVFADC — the full production ANN retrieval stack in one plan:
    coarse IVF routing picks 2 cells per query, the ADC pass scores
    ONLY the probed cells' PQ codes, and exact squared-L2 re-ranks the
    25-row shortlist against raw vectors. Returns the top-5
    (query_id, match_id, l2sq), smallest first, ties to lowest id,
    each query's own id excluded.

    This composes the two scale levers the tiers provide separately:

    * **IVF** (`operators/similarity.ivf_probe`): the candidate scan
      covers nprobe/cells of the corpus — with the cell-partitioned
      store (`operators/ivf_store`) that is a storage-level dir prune,
      not just a plan filter;
    * **PQ**: what IS scanned is M small codes per doc, not D floats
      (~30–60× fewer bytes), scored with M table lookups per doc.

    At 100 TB: the probe is centroid-model-sized, the per-cell join is
    an equi-join on the cell key (broadcast side = queries × nprobe ×
    (M×K table) — model-parameter scale), and the re-rank touches raw
    vectors for 25·|Q| rows only. ``encoded`` must carry
    ``cell_col`` (encode once, store codes + cell together)."""
    probed = ivf_probe_fn(
        queries, corpus, query_id, vec_col, cell_col, dim=dim
    )
    dtable = _query_dtable(vec_col, cb)
    q = queries.select(F.col(query_id).alias("query_id"), dtable.alias("__dt"))
    qp = probed.join(q, "query_id").withColumnRenamed("label", "__cell")
    c = encoded.select(
        F.col(corpus_id).alias("match_id"),
        "pq_codes",
        F.col(cell_col).alias("__cell"),
    )
    scored = (
        c.join(F.broadcast(qp), "__cell")
        .filter(F.col("match_id") != F.col("query_id"))
        .withColumn("adc_dist", F.round(_adc_dist(), ROUND_DP))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("match_id").asc()
    )
    short = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
        .select("query_id", "match_id")
    )
    return _exact_rerank(short, queries, corpus, query_id, corpus_id, vec_col)

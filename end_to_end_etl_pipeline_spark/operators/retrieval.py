"""Rank fusion for hybrid retrieval.

Reciprocal-rank fusion (RRF, Cormack/Clarke/Buettcher 2009) combines
the rankings of independent retrieval arms — typically a lexical
(BM25) arm and a dense (embedding-cosine / ANN) arm — without score
calibration: each arm contributes ``1 / (k + rank)`` per document and
the fused score is the sum, so arms with incomparable score scales
(log-idf sums vs cosines) still fuse sensibly.  This is the standard
fusion step of a RAG / eval-mining retrieval stack; the reference
pipeline has no retrieval surface at all, so this family is part of
the LLM-training-data extension mandated alongside SURVEY.md §2.

Scale shape: each arm is ALREADY a per-query top-N frame (bounded by
``arm_topk × n_queries`` rows — the arms themselves are the scale
paths: postings-bucketed BM25 (`operators/text_index.py`) and the
IVF/PQ store (`operators/ivf_store.py`)); fusion is a union of tiny
frames plus one aggregation keyed on (query, doc).  Nothing here
grows with corpus size, only with the number of in-flight queries.
Determinism: arm ranks come from ``row_number`` over (score desc, id
asc) on 6dp-rounded scores, and the fused score is a sum of exact
reciprocals rounded to 6dp before the final ranking — bit-stable
across engines, which is what lets a DuckDB oracle replay the exact
fused ranking.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Tuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.similarity import cosine, dot


def bm25_scores(
    docs_words: DataFrame,
    qterms: DataFrame,
) -> DataFrame:
    """Lucene-form BM25 (idf = ln((N−df+0.5)/(df+0.5)+1)) over an
    in-plan inverted index — the single home of the scoring math
    shared by the ad-hoc search query and the hybrid fusion arm (the
    persisted-index path in operators/text_index.py reuses the same
    constants against stored postings).

    ``docs_words`` is (doc_id, words array<string>); ``qterms``
    is (query_id, word).  Scale shape: postings are built ONLY for
    query terms (the per-row ``filter`` against the broadcast term
    set runs BEFORE the explode — the index never materializes for
    the full vocabulary, and the Generate never emits a non-query
    token), document length rides the tokenization (no second
    doc-keyed join), df is a window over the already-reduced
    postings (NOT a broadcast-joined aggregate, which would re-run
    the corpus tokenization through its own job), and terms with
    df > 0.5·N are dropped before scoring (the stopword cap that
    bounds every posting list).  Returns (query_id, doc_id, bm25)
    rounded to 6dp.

    ONE tokenization pass (r13, VERDICT r12 #2): the corpus used to
    be tokenized TWICE — once for the dl/N/avgdl statistics (whose
    ``broadcast(stats)`` side materializes through its own job,
    re-running the caller's whole corpus subtree) and once for the
    exploded postings. Now a skinny per-doc frame
    (doc, dl, matched-terms array) is persisted — O(docs) rows,
    bounded by the query-term occurrences, never the full token
    stream — and both the stats aggregate and the postings explode
    read it back. Token multiset, dl, and stats are identical by
    construction (``explode(filter(words, w ∈ terms))`` ≡ the old
    ``explode(words)`` + left-semi); downstream float math is
    untouched. The cache entry stays in the session's CacheManager
    (plan-keyed, same lifecycle as textdata._capped_rare_grams).
    Measured on hybrid_doc_retrieval (sf0.1, interleaved A/B ×3
    runs): median −5..10%, min −10.5% on the cleanest run; the
    corpus parquet subtree drops from 3 executions to 2 (dense arm +
    this one).

    Term-set bound: the per-row match filter is O(|words|·|terms|)
    interpreted-HOF work (the old explode+semi-join hashed every
    token once instead), so the distinct query-term set must stay
    small — the same broadcast-sized bound the semi-join already
    imposed, and the regime this in-plan scorer is for (per-query
    term sets; corpus-scale term universes are served by the
    persisted text_index path).

    Float-parity note: ``k1 + 1.0`` and ``1 − b`` are computed in
    Python and injected as literals; they are EXACTLY the doubles 2.2
    and 0.25 the DuckDB oracles spell out, so scores replay
    bit-identically."""
    doc_col, words_col = "doc_id", "words"
    k1, b = 1.2, 0.75
    uniq = qterms.select("word").distinct()
    qw = uniq.agg(F.collect_set("word").alias("__qws"))
    base = docs_words.crossJoin(F.broadcast(qw)).select(
        doc_col,
        F.size(words_col).alias("dl"),
        F.filter(
            words_col, lambda w: F.array_contains(F.col("__qws"), w)
        ).alias("__matched"),
    ).persist()
    stats = base.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    toks = base.select(
        doc_col, "dl", F.explode("__matched").alias("word")
    )
    tf = (
        toks.groupBy(doc_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
    )
    # df stays a count-over window (r12 measured A/B: the word-keyed
    # aggregate joined back read 1.08-1.09x SLOWER on bm25_doc_search
    # and bm25_ndcg_eval in an interleaved same-session run — the
    # extra agg stage + runtime broadcast costs more than the window's
    # exchange on a tf relation already bounded by the query-term
    # semi-join). The hot-term skew the window shape would have at
    # open-vocabulary scale is not this operator's regime: postings at
    # corpus scale are served by the persisted text_index path, and
    # this in-plan scorer only ever sees per-query term sets.
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(stats))
        .filter(F.col("df") <= F.lit(0.5) * F.col("n"))
        .join(F.broadcast(qterms), "word")
        .withColumn(
            "w",
            F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
            * F.col("tf") * F.lit(k1 + 1.0)
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return scored.groupBy("query_id", doc_col).agg(
        F.round(F.sum("w"), 6).alias("bm25")
    )


def topk_ranks(
    scored: DataFrame,
    query_col: str,
    id_col: str,
    score_col: str,
    topk: int,
) -> DataFrame:
    """Per-query rank frame (query, id, __rnk ≤ topk) from a scored
    frame; rank order is score desc, id asc (callers pre-round scores
    so the order is engine-stable).  The row_number + filter pair is
    Spark's WindowGroupLimit partial top-k — each partition keeps a
    bounded heap, nothing ships the full ranking."""
    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= topk)
        .select(query_col, id_col, "__rnk")
    )


def rrf_fuse(arms: Iterable[Tuple[DataFrame, str]]) -> DataFrame:
    """Fuse retrieval arms with reciprocal-rank fusion (k = 60).

    ``arms`` is a sequence of ``(scored_frame, score_col)`` pairs;
    each frame must carry ``query_id`` and ``doc_id``.  Returns
    ``(query_id, doc_id, rrf, n_arms)`` — the fused score (6dp) and
    how many arms retrieved the document — limited to the per-query
    fused top-10 (ties to lowest id).

    A document missing from an arm's top-20 simply
    contributes nothing for that arm (the conventional RRF treatment
    of truncated rankings) — no outer join, no sentinel ranks.

    Contract: each arm frame must be ONE ROW PER (query, id) — an
    aggregated ranking, not e.g. a per-term match list.  Duplicate
    rows would each receive a rank, inflating both ``n_arms`` and
    the fused score for that document; the operator does not dedup
    (a defensive groupBy would mask the upstream bug and pay an
    extra exchange on every call)."""
    arms = list(arms)
    if not arms:
        raise ValueError("rrf_fuse needs at least one arm")
    ranked = [
        topk_ranks(df, "query_id", "doc_id", score_col, 20).withColumn(
            "__w", F.lit(1.0)
        )
        for df, score_col in arms
    ]
    allranks = reduce(DataFrame.unionByName, ranked)
    fused = allranks.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(F.col("__w") / (F.lit(60) + F.col("__rnk"))), 6).alias("rrf"),
        F.count(F.lit(1)).alias("n_arms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .select("query_id", "doc_id", "rrf", "n_arms")
    )


#: the MMR twins' pick count and relevance weight
MMR_K, MMR_LAM = 5, 0.7


def _mmr_base(
    candidates: DataFrame,
    query_col: str,
    id_col: str,
    vec_col: str,
    rel_col: str,
) -> DataFrame:
    """Shared prep for both MMR execution strategies: the candidates
    as ``__q,__id,__rel`` plus the vector as ``array<double>`` (``__v``)
    and its norm (``__n``)."""
    v = F.col(vec_col).cast("array<double>")
    return candidates.select(
        F.col(query_col).alias("__q"),
        F.col(id_col).alias("__id"),
        F.col(rel_col).alias("__rel"),
        v.alias("__v"),
        F.sqrt(dot(v, v)).alias("__n"),
    )


def _mmr_sim(
    a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column
) -> Column:
    """The 6dp pairwise cosine both MMR strategies select against —
    one home for the expression, so the twins are bit-identical by
    construction."""
    return F.round(cosine(a_vec, b_vec, a_norm, b_norm), 6)


def mmr_select(
    candidates: DataFrame,
    query_col: str,
    id_col: str,
    vec_col: str,
    rel_col: str,
) -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell/Goldstein 1998):
    greedily select ``MMR_K`` documents per query trading relevance
    against redundancy — step score is ``lam·rel − (1−lam)·max
    cosine-to-already-selected`` with ``lam = MMR_LAM``.  The
    diversification step of a RAG context builder (don't spend the
    context window on five copies of the same passage) and of eval-set
    mining.

    Contract: ``candidates`` is a per-query frame (query, id, vec,
    rel) that is ALREADY bounded (a retrieval arm's top-N), with ids
    unique per query and rel non-null — MMR is quadratic in the
    candidate count by definition.  Each query's candidates are
    collected into ONE row (sorted by id), and everything after that
    runs in higher-order functions over the row: the N×N pairwise
    6dp cosine matrix (N² doubles per row, never corpus-scale), then
    the ``MMR_K`` greedy steps as one ``aggregate`` over a state of
    per-candidate best-sim, a taken mask and the picks.  No driver
    loop, no checkpoint, no window: the grouping on the query key is
    the only exchange the operator can add, and none when the input
    is already partitioned by query.
    Picking stops when candidates run out (``MMR_K`` may exceed N).

    Determinism: rel must arrive 6dp-rounded; pairwise sims and step
    scores round to 6dp; the argmax is a strict ``>`` over the
    id-sorted list, so ties break on lowest id.  ``best_sim`` is
    seeded at −1.0 (below any cosine) so one uniform score formula
    covers step 1 — a constant per-query offset that cannot change
    the argmax — which lets a DuckDB unrolled-CTE oracle replay every
    pick exactly.  Returns (query, id, mmr_rank 1..MMR_K, rel)."""
    k, lam = MMR_K, MMR_LAM
    om = 1.0 - lam
    cand = (
        _mmr_base(candidates, query_col, id_col, vec_col, rel_col)
        .groupBy("__q")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__id", "__rel", "__v", "__n"))
            ).alias("__c")
        )
    )
    c = F.col("__c")
    n = F.size(c)

    def argmax(st: Column) -> Column:
        """Index of the best untaken candidate, −1 once none is left."""
        def better(best: Column, j: Column) -> Column:
            s = F.round(
                F.lit(lam) * c[j]["__rel"] - F.lit(om) * st["bs"][j], 6
            )
            return F.when(
                ~st["taken"][j] & ((best["i"] < 0) | (s > best["s"])),
                F.struct(j.alias("i"), s.alias("s")),
            ).otherwise(best)

        none = F.struct(
            F.lit(-1).alias("i"), F.lit(None).cast("double").alias("s")
        )
        return F.aggregate(F.sequence(F.lit(0), n - 1), none, better)["i"]

    def absorb(st: Column, p: Column) -> Column:
        """The state after picking candidate ``p``."""
        return F.struct(
            st["sim"].alias("sim"),
            F.transform(
                st["bs"], lambda b, j: F.greatest(b, st["sim"][j][p])
            ).alias("bs"),
            F.transform(st["taken"], lambda t, j: t | (j == p)).alias("taken"),
            F.concat(st["picks"], F.array(p)).alias("picks"),
        )

    # Higher-order functions run interpreted with no subexpression
    # elimination, so the costly values are bound once: the sim
    # matrix rides in the initial state (built once, not once per
    # step), and one step folds its pick (if any) into the state, so
    # the argmax runs once per step.  The whole greedy state is ONE
    # struct expression exploded once — sibling select columns sharing
    # nested-lambda subtrees trip Spark 4.1's codegen subexpression
    # elimination (same fix as pairwise_ce_features).
    init = F.struct(
        F.transform(
            c,
            lambda a: F.transform(
                c, lambda b: _mmr_sim(a["__v"], b["__v"], a["__n"], b["__n"])
            ),
        ).alias("sim"),
        F.array_repeat(F.lit(-1.0), n).alias("bs"),
        F.array_repeat(F.lit(False), n).alias("taken"),
        F.array().cast("array<int>").alias("picks"),
    )
    picks = F.aggregate(
        F.sequence(F.lit(1), F.lit(k)),
        init,
        lambda st, _: F.aggregate(
            F.filter(F.array(argmax(st)), lambda p: p >= 0), st, absorb
        ),
    )["picks"]
    ranked = F.transform(
        picks,
        lambda p, r: F.struct(
            c[p]["__id"].alias("__id"),
            (r + 1).alias("mmr_rank"),
            c[p]["__rel"].alias("__rel"),
        ),
    )
    return cand.select("__q", F.inline(ranked)).select(
        F.col("__q").alias(query_col),
        F.col("__id").alias(id_col),
        "mmr_rank",
        F.col("__rel").alias(rel_col),
    )


def mmr_select_grouped(
    candidates: DataFrame,
    query_col: str,
    id_col: str,
    vec_col: str,
    rel_col: str,
) -> DataFrame:
    """``mmr_select`` with the greedy loop executed per query group in
    an Arrow cogrouped-map (``cogroup(...).applyInPandas``) instead of
    one JVM higher-order ``aggregate`` per query row.

    Same semantics, different execution strategy — the bench A/B twin
    of ``mmr_select``.  The candidate frame and the pairwise-cosine
    frame (a self-join on the query key, its sims from ``_mmr_sim`` —
    the heavy float math never leaves the JVM) cogroup on the query
    key, and the per-query selection loop runs in-process over the two
    small pandas frames: ONE shuffle, one job, per-group memory bounded
    by the candidate cap (N + N² rows).

    Bit-parity with ``mmr_select``: the inputs to the greedy loop (rel
    and 6dp-rounded sims) are the same JVM-computed doubles; the step
    score replays Spark's ``round(lam·rel − (1−lam)·bs, 6)`` exactly —
    ``java.math.BigDecimal.valueOf(double).setScale(6, HALF_UP)`` ≡
    ``Decimal(repr(x)).quantize(1e-6, ROUND_HALF_UP)`` (both round the
    SHORTEST decimal rendering of the double, not its exact binary
    expansion), and IEEE evaluation order matches the JVM expression
    tree.  Ties break on lowest id; ``best_sim`` seeds at −1.0;
    picking stops when candidates run out (``MMR_K`` may exceed N).
    Zero-norm vectors (NaN cosine) are outside the contract of both
    paths — candidates arrive from a cosine-scored arm.
    Proven equivalent by tests/test_retrieval.py's differential
    sweeps.  Returns (query, id, mmr_rank 1..MMR_K, rel)."""
    import pandas as pd

    k, lam = MMR_K, MMR_LAM
    base = _mmr_base(candidates, query_col, id_col, vec_col, rel_col)
    a = base.select("__q", F.col("__id").alias("__ida"),
                    F.col("__v").alias("__va"), F.col("__n").alias("__na"))
    b = base.select("__q", F.col("__id").alias("__idb"),
                    F.col("__v").alias("__vb"), F.col("__n").alias("__nb"))
    sim = (
        a.join(b, "__q")
        .filter(F.col("__ida") != F.col("__idb"))
        .select("__q", "__ida", "__idb",
                _mmr_sim(F.col("__va"), F.col("__vb"),
                         F.col("__na"), F.col("__nb")).alias("__sim"))
    )
    # LAZY lineage break (plan becomes a LogicalRDD, materialized
    # inside the same action): cand and sim share `candidates`'
    # attribute ids, which trips the ambiguous-self-join check when
    # both sides cogroup on __q. No eager job: there is no iteration
    # here, so lineage depth is not the concern, only attribute
    # identity.
    sim = sim.localCheckpoint(eager=False)
    cand = base.select("__q", "__id", "__rel")
    q_t = candidates.schema[query_col].dataType.simpleString()
    id_t = candidates.schema[id_col].dataType.simpleString()
    # rel's output type follows the input column (like __q/__id) so the
    # twins stay schema-identical for non-double rel inputs too
    rel_t = candidates.schema[rel_col].dataType.simpleString()
    out_schema = (
        f"`__q` {q_t}, `__id` {id_t}, mmr_rank int, `__rel` {rel_t}"
    )
    om = 1.0 - lam
    empty = pd.DataFrame(
        {"__q": [], "__id": [], "mmr_rank": [], "__rel": []}
    )

    def greedy(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        from decimal import ROUND_HALF_UP, Decimal

        if left.empty:
            return empty
        quantum = Decimal("0.000001")

        def r6(x: float) -> float:
            return float(
                Decimal(repr(x)).quantize(quantum, rounding=ROUND_HALF_UP)
            )

        q = left["__q"].iloc[0]
        rel = dict(zip(left["__id"], left["__rel"]))
        simm = dict(
            zip(zip(right["__ida"], right["__idb"]), right["__sim"])
        )
        bs = {i: -1.0 for i in rel}
        remaining = set(rel)
        rows = []
        for step in range(1, k + 1):
            if not remaining:
                break
            pick = min(
                remaining,
                key=lambda i: (-r6(lam * rel[i] - om * bs[i]), i),
            )
            rows.append((q, pick, step, rel[pick]))
            remaining.discard(pick)
            for i in remaining:
                # .get, not []: an out-of-contract missing sim pair
                # (duplicate ids upstream) leaves the row's best_sim
                # unchanged instead of raising KeyError
                s = simm.get((i, pick))
                if s is not None and s > bs[i]:
                    bs[i] = s
        return pd.DataFrame(
            rows, columns=["__q", "__id", "mmr_rank", "__rel"]
        )

    out = (
        cand.groupBy("__q")
        .cogroup(sim.groupBy("__q"))
        .applyInPandas(greedy, schema=out_schema)
    )
    return out.select(
        F.col("__q").alias(query_col),
        F.col("__id").alias(id_col),
        "mmr_rank",
        F.col("__rel").alias(rel_col),
    )


def overlap_f1_scorer(qtexts, dtexts):
    """Deterministic stand-in scorer: token-overlap F1 between query
    and document text (distinct whitespace tokens, 2·|Q∩D| /
    (|Q|+|D|)).  Exactly replayable in SQL (list_intersect over
    split words), which is what lets the conformance query carry a
    full value oracle while exercising the REAL inference plumbing
    (Arrow batch in, Arrow batch out)."""
    import pandas as pd

    out = []
    for q, d in zip(qtexts, dtexts):
        # split on single spaces + drop empties, NOT str.split():
        # the repo-wide tokenization convention (F.split(text, ' ')
        # with an empty filter) and the oracle's string_split(text,
        # ' ') treat a tab/newline as part of a token — str.split()
        # would tokenize any-whitespace and silently diverge
        qw = {w for w in q.split(" ") if w}
        dw = {w for w in d.split(" ") if w}
        inter = len(qw & dw)
        out.append(0.0 if not qw or not dw else 2.0 * inter / (len(qw) + len(dw)))
    return pd.Series(out)


#: The trained cross-encoder's pair-feature contract. Three text-pair
#: features plus an implicit bias, derived from the repo-wide
#: tokenization convention (split on single spaces, drop empties,
#: distinct): with qn=|Q|, dn=|D|, i=|Q∩D| —
#:   f1  = 2i/(qn+dn)        token-overlap F1 (0 when either empty)
#:   jac = i/(qn+dn-i)       Jaccard over the union (0 when both empty)
#:   ld  = |qn-dn|/(qn+dn)   length-ratio distance (0 when both empty)
#: All three are integer-ratio doubles (one correctly-rounded IEEE
#: divide each), so the JVM expressions used for TRAINING, the pandas
#: arithmetic used for INFERENCE, and a DuckDB oracle replay produce
#: bit-identical FEATURE values. The training-step gradient SUMS over
#: those features are partition-order-dependent (Spark) vs
#: DuckDB-order (oracle), so the trained weights — and hence the
#: deployed margins — agree only to ~6dp up to summation-order ulps;
#: the conformance gate rounds scores to 6dp and breaks rank ties
#: deterministically, accepting the same residual ulp risk the
#: train_logreg_hashed oracle documents. Any edit here must change
#: pairwise_ce_features, _pair_feature_triples, and the conformance
#: oracle together.
CE_FEATURES: tuple[str, ...] = ("f1", "jac", "ld")


def pairwise_ce_features(
    pairs: DataFrame, qtext_col: str, dtext_col: str
) -> DataFrame:
    """Append the :data:`CE_FEATURES` columns to a candidate-pair
    frame, JVM-side (array_distinct/array_intersect projections —
    zero shuffles, used by the training path so the gradient scan
    never leaves codegen)."""
    def toks(c: str):
        return F.array_distinct(
            F.filter(F.split(F.col(c), " "), lambda w: w != "")
        )

    qn = F.size(toks(qtext_col))
    dn = F.size(toks(dtext_col))
    i = F.size(F.array_intersect(toks(qtext_col), toks(dtext_col)))
    both = qn + dn
    # ONE struct, then field-extract: sibling select columns sharing
    # nested-lambda subtrees (the filter(split(...)) token sets here)
    # trip Spark 4.1's codegen subexpression elimination (mis-bound
    # lambda variables); identical WHOLES dedup safely. Same fix as
    # c4_line_filtered_corpus / dedup_lines_within_doc.
    packed = F.struct(
        F.when(both == 0, F.lit(0.0))
        .otherwise(F.lit(2.0) * i / both)
        .alias("f1"),
        F.when(both - i == 0, F.lit(0.0))
        .otherwise(i.cast("double") / (both - i))
        .alias("jac"),
        F.when(both == 0, F.lit(0.0))
        .otherwise(F.abs(qn - dn).cast("double") / both)
        .alias("ld"),
    )
    return pairs.select("*", packed.alias("__f")).select(
        "*", *[F.col(f"__f.{c}").alias(c) for c in CE_FEATURES]
    ).drop("__f")


def _ce_z(weights: list[float]):
    """The linear margin as a Column, with a PINNED left-associative
    add order (bias + w1·f1 + w2·jac + w3·ld) — the same order the
    pandas scorer and the SQL oracle use, so the three engines agree
    to the last ulp given equal features and weights."""
    z = F.lit(float(weights[0]))
    for w, c in zip(weights[1:], CE_FEATURES):
        z = z + F.lit(float(w)) * F.col(c)
    return z


def train_pairwise_logreg(
    feats: DataFrame,
    label_col: str,
    weight_col: str | None = None,
) -> list[float]:
    """IN-ENGINE pairwise logistic regression over the fixed
    :data:`CE_FEATURES` space — full-batch gradient descent as
    three aggregation rounds at learning rate 2.0 (the train_logreg_hashed /
    Lloyd's / BPE fixed-iteration playbook, but DENSE: the feature
    dim is a compile-time constant, so each step needs no weight
    join at all — the current weights enter the plan as literals and
    the whole step is ONE whole-stage-codegen aggregate producing
    1+len(CE_FEATURES) doubles).

        w <- w - lr/N * Σ_p (sigmoid(w·x_p) - y_p) * x_p

    ``feats`` = :func:`pairwise_ce_features` output plus a 0/1 double
    ``label_col``. With ``weight_col`` the gradient is the WEIGHTED
    error sum (no 1/N — the caller normalizes the weights; the
    standard use is balanced class weights 1/(2·n_pos) / 1/(2·n_neg),
    without which a rare-positive pair set trains all weights
    negative and the 'trained' ranking inverts). Returns
    [bias, w_f1, w_jac, w_ld]. Driver state is those 4 floats;
    nothing scales with the pair count but the one scan per step, so
    100 TB of candidate pairs trains at scan speed × 3. The
    caller should localCheckpoint/cache ``feats`` — every step
    re-scans it."""
    denom = None if weight_col is not None else float(feats.count())
    w = [0.0] * (1 + len(CE_FEATURES))
    for _ in range(3):
        err = F.lit(1.0) / (F.lit(1.0) + F.exp(-_ce_z(w))) - F.col(label_col)
        if weight_col is not None:
            err = err * F.col(weight_col)

        def grad(x, j):
            s = F.sum(err * x) if x is not None else F.sum(err)
            return (s if denom is None else s / F.lit(denom)).alias(f"g{j}")

        row = feats.agg(
            grad(None, 0),
            *[grad(F.col(c), j + 1) for j, c in enumerate(CE_FEATURES)],
        ).first()
        if row["g0"] is None:  # sum over zero rows is NULL
            raise ValueError(
                "train_pairwise_logreg: empty training set (no pairs)"
            )
        for j in range(len(w)):
            w[j] -= 2.0 * float(row[f"g{j}"])
    return w


def _pair_feature_triples(q: str, d: str) -> tuple[float, float, float]:
    """(f1, jac, ld) for one text pair, Python-side — the INFERENCE
    half of the :data:`CE_FEATURES` contract (same single-space
    tokenization, same integer-ratio divides as the JVM training
    expressions)."""
    qw = {w for w in q.split(" ") if w}
    dw = {w for w in d.split(" ") if w}
    qn, dn, i = len(qw), len(dw), len(qw & dw)
    both = qn + dn
    f1 = 0.0 if both == 0 else 2.0 * i / both
    jac = 0.0 if both - i == 0 else float(i) / (both - i)
    ld = 0.0 if both == 0 else float(abs(qn - dn)) / both
    return f1, jac, ld


def trained_linear_scorer(weights: list[float]):
    """Wrap TRAINED :func:`train_pairwise_logreg` weights as a
    ``(qtext_series, dtext_series) -> score_series`` callable for
    :func:`cross_encoder_rerank` — the same closure-capture shape a
    sentence-transformers model drops into, but with the model being
    the engine's own trained parameters, so the full train→deploy
    loop runs through the real Arrow seam. The margin uses the pinned
    left-associative order of ``_ce_z``."""
    import pandas as pd

    b, wf, wj, wl = (float(x) for x in weights)

    def scorer(qtexts, dtexts):
        out = []
        for q, d in zip(qtexts, dtexts):
            f1, jac, ld = _pair_feature_triples(q, d)
            out.append(b + wf * f1 + wj * jac + wl * ld)
        return pd.Series(out, dtype="float64")

    return scorer


def cross_encoder_rerank(
    pairs: DataFrame,
    query_col: str,
    id_col: str,
    qtext_col: str,
    dtext_col: str,
    scorer=None,
) -> DataFrame:
    """Model-inference rerank seam — the final stage of a retrieval
    stack (retrieve → fuse → diversify → cross-encoder rerank).

    ``pairs`` is a bounded candidate frame (query, doc, both texts —
    an upstream arm's top-N, never corpus-scale).  ``scorer`` is a
    vectorized callable ``(qtext_series, dtext_series) ->
    float_series`` invoked once per Arrow batch inside
    ``mapInPandas`` — the sanctioned Python escape: batch transfer is
    Arrow-columnar, the model loads once per executor (closure
    capture), and batch size follows
    ``spark.sql.execution.arrow.maxRecordsPerBatch``.  A real
    cross-encoder (e.g. a sentence-transformers model) drops in as
    ``scorer`` unchanged; like the multimodal codec seam
    (operators/multimodal.py) the heavy model is NOT in this
    container, so the default raises with instructions and tests/
    conformance use :func:`overlap_f1_scorer` — the PLUMBING (Arrow
    batching, schema, per-query top-k) is real and oracle-gated.

    Returns (query, id, ce_score 6dp, rank) — per-query top-10,
    score desc, ties to lowest id."""
    if scorer is None:
        raise NotImplementedError(
            "cross_encoder_rerank needs a scorer callable "
            "(qtext_series, dtext_series) -> score_series; load your "
            "model once per executor inside the callable's closure "
            "(e.g. a module-level lazy singleton) and score one Arrow "
            "batch per call. overlap_f1_scorer is the deterministic "
            "test stand-in."
        )
    qc, ic, out_col = query_col, id_col, "ce_score"
    schema = ", ".join(
        [
            f"`{qc}` {pairs.schema[qc].dataType.simpleString()}",
            f"`{ic}` {pairs.schema[ic].dataType.simpleString()}",
            f"`{out_col}` double",
        ]
    )
    qt, dt = qtext_col, dtext_col

    def _score(batches):
        for pdf in batches:
            res = pdf[[qc, ic]].copy()
            res[out_col] = scorer(pdf[qt], pdf[dt]).astype("float64")
            yield res

    scored = pairs.select(qc, ic, qt, dt).mapInPandas(_score, schema)
    scored = scored.withColumn(out_col, F.round(F.col(out_col), 6))
    w = Window.partitionBy(qc).orderBy(F.col(out_col).desc(), F.col(ic).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(qc, ic, out_col, "rank")
    )


def ndcg_at_k(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality evaluation: per-query nDCG@k (binary
    relevance) — the metric step that closes the retrieval stack
    (retrieve → fuse → diversify → rerank → EVALUATE).

    ``ranked`` is a per-query ranking (query_id, doc_id, rank_col
    with rank 1-based; rows past ``k`` are ignored); ``relevant`` is
    the ground-truth set (query_id, doc_id), one row per relevant
    doc.  DCG = Σ hit/log2(rank+1) over the retrieved list; IDCG
    normalizes by the ideal list — min(|relevant|, k) hits packed at
    the top — so nDCG is comparable across queries with different
    ground-truth sizes.  Queries with empty ground truth score 0.

    Returns (query_id, n_rel, n_rel_retrieved, ndcg) with ndcg
    rounded to 6dp.  The discount sums have ≤ k irrational terms, so
    engine summation-order ulps sit ~1e-15 below the rounding grid —
    a SQL oracle replays them exactly.  The dcg↔ideal join is FULL
    OUTER: a query present in ``relevant`` but retrieving nothing
    (no ranked rows, or none within top-k) scores ndcg = 0 with
    n_rel_retrieved = 0 instead of silently dropping out — dropping
    it would inflate a macro-averaged nDCG.

    Scale shape: every frame here is evaluation-sized — ranked is
    ≤ k rows per query, relevant is the labeled ground truth — so
    nothing grows with corpus size; the hit join keys on (query, id)
    and the per-query rollup is a bounded aggregation.  The ideal
    discount is an in-row ``aggregate`` fold over ``sequence(1,
    min(n_rel, k))`` — no join against a numbers table."""
    query_col, id_col = "query_id", "doc_id"
    rel = (
        relevant.select(
            F.col(query_col), F.col(id_col), F.lit(1).alias("__hit")
        ).distinct()
    )
    n_rel = rel.groupBy(query_col).agg(
        F.count(F.lit(1)).alias("n_rel")
    )
    hits = (
        ranked.filter(F.col(rank_col) <= k)
        .join(rel, [query_col, id_col], "left")
        .withColumn("__hit", F.coalesce(F.col("__hit"), F.lit(0)))
    )
    dcg = hits.groupBy(query_col).agg(
        F.sum("__hit").cast("bigint").alias("n_rel_retrieved"),
        F.sum(
            F.col("__hit") / F.log2(F.col(rank_col).cast("double") + 1.0)
        ).alias("__dcg"),
    )
    ideal = n_rel.withColumn(
        "__idcg",
        F.aggregate(
            F.sequence(F.lit(1), F.least(F.col("n_rel"), F.lit(k))),
            F.lit(0.0),
            lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double") + 1.0),
        ),
    )
    # full outer (not left): queries with ground truth but zero
    # retrieved rows must appear with ndcg=0, not vanish. Both sides
    # are evaluation-sized, so no broadcast hint needed (and Spark
    # cannot broadcast a full-outer side anyway).
    return (
        dcg.join(ideal, query_col, "full_outer")
        .select(
            query_col,
            F.coalesce(F.col("n_rel"), F.lit(0).cast("bigint")).alias("n_rel"),
            F.coalesce(
                F.col("n_rel_retrieved"), F.lit(0).cast("bigint")
            ).alias("n_rel_retrieved"),
            F.round(
                F.when(
                    F.col("__idcg") > 0,
                    F.coalesce(F.col("__dcg"), F.lit(0.0)) / F.col("__idcg"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("ndcg"),
        )
    )

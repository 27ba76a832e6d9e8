"""rrf_fuse unit semantics: reciprocal-rank arithmetic, truncated-arm
handling, tie-breaks, and the partial-top-k plan shape.  The
end-to-end hybrid query is gated by the DuckDB oracle in
test_oracle_parity like every other registered query; these tests pin
the operator's contract on hand-built frames where every expected
value is computable by eye."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.retrieval import rrf_fuse, topk_ranks


def _arm(spark, rows):
    return spark.createDataFrame(rows, "query_id bigint, doc_id bigint, score double")


def test_rrf_two_arm_sum_and_n_arms(spark):
    # arm A ranks: doc 1 (r1), doc 2 (r2); arm B ranks: doc 2 (r1), doc 3 (r2)
    a = _arm(spark, [(0, 1, 0.9), (0, 2, 0.8)])
    b = _arm(spark, [(0, 2, 5.0), (0, 3, 4.0)])
    out = {
        r["doc_id"]: (r["rrf"], r["n_arms"])
        for r in rrf_fuse([(a, "score"), (b, "score")]).collect()
    }
    assert out[1] == (round(1 / 61, 6), 1)
    assert out[2] == (round(1 / 62 + 1 / 61, 6), 2)
    assert out[3] == (round(1 / 62, 6), 1)
    # doc 2 is in both arms -> highest fused score
    assert max(out, key=lambda d: out[d][0]) == 2


def test_rrf_arm_topk_truncation(spark):
    # only each arm's top-20 contributes: doc 21 is arm A's 21st and
    # only arm B's 2nd, so it fuses from arm B alone
    a = _arm(spark, [(0, d, 100.0 - d) for d in range(1, 22)])
    b = _arm(spark, [(0, 50, 5.0), (0, 21, 4.0)])
    out = {
        r["doc_id"]: (r["rrf"], r["n_arms"])
        for r in rrf_fuse([(a, "score"), (b, "score")]).collect()
    }
    assert out[50] == (round(1 / 61, 6), 1)
    assert out[21] == (round(1 / 62, 6), 1)


def test_rrf_tie_breaks_to_lowest_id(spark):
    # equal scores inside an arm rank by doc_id asc, so the fused
    # top-10 of eleven tied docs drops the highest id
    a = _arm(spark, [(0, d, 1.0) for d in range(11, 0, -1)])
    rows = rrf_fuse([(a, "score")]).collect()
    got = sorted((r["doc_id"], r["rrf"]) for r in rows)
    assert got == [(d, round(1 / (60 + d), 6)) for d in range(1, 11)]


def test_rrf_per_query_isolation(spark):
    a = _arm(spark, [(0, 1, 0.9), (1, 2, 0.9)])
    out = rrf_fuse([(a, "score")]).collect()
    assert {(r["query_id"], r["doc_id"]) for r in out} == {(0, 1), (1, 2)}
    assert all(r["rrf"] == round(1 / 61, 6) for r in out)


def test_rrf_no_arms_raises():
    with pytest.raises(ValueError):
        rrf_fuse([])


def test_topk_ranks_partial_topk_plan(spark):
    # the rank filter must plan as WindowGroupLimit (bounded per-key
    # heap), not a full sort of the arm — the guard that keeps arm
    # ranking scale-safe when a query matches many docs
    arm = _arm(spark, [(0, i, float(i)) for i in range(1, 30)])
    plan = topk_ranks(
        arm, "query_id", "doc_id", "score", 5
    )._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_mmr_diversifies_over_pure_relevance(spark):
    # 2-d candidates at lam=0.7, hand-computable: c2 duplicates c1's
    # direction (sim=1) so despite rel .6 it must sink to LAST while
    # the orthogonal c3 (rel .5) and the oblique c4 (rel .7,
    # sim .6/.8) are picked first — the exact failure mode MMR
    # exists to fix (relevance-only would return c1, c4, c2, c3).
    cand = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0], 0.9),
            (0, 2, [1.0, 0.0], 0.6),
            (0, 3, [0.0, 1.0], 0.5),
            (0, 4, [0.6, 0.8], 0.7),
        ],
        "query_id bigint, doc_id bigint, v array<double>, rel double",
    )
    from end_to_end_etl_pipeline_spark.operators.retrieval import mmr_select

    rows = mmr_select(cand, "query_id", "doc_id", "v", "rel").collect()
    order = [r["doc_id"] for r in sorted(rows, key=lambda r: r["mmr_rank"])]
    assert order == [1, 3, 4, 2]
    # k=5 exceeded the candidate count: exactly 4 picks, ranks 1..4
    assert sorted(r["mmr_rank"] for r in rows) == [1, 2, 3, 4]
    # rel rides through unchanged
    assert {r["doc_id"]: r["rel"] for r in rows}[3] == 0.5


def test_mmr_per_query_isolation(spark):
    cand = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0], 0.9),
            (0, 2, [0.0, 1.0], 0.5),
            (1, 7, [1.0, 0.0], 0.4),
        ],
        "query_id bigint, doc_id bigint, v array<double>, rel double",
    )
    from end_to_end_etl_pipeline_spark.operators.retrieval import mmr_select

    rows = mmr_select(cand, "query_id", "doc_id", "v", "rel").collect()
    assert {(r["query_id"], r["doc_id"], r["mmr_rank"]) for r in rows} == {
        (0, 1, 1), (0, 2, 2), (1, 7, 1),
    }


def test_cross_encoder_default_scorer_is_documented_seam():
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        cross_encoder_rerank,
    )

    with pytest.raises(NotImplementedError, match="scorer"):
        cross_encoder_rerank(None, "q", "d", "qt", "dt")


def test_overlap_f1_scorer_values():
    import pandas as pd

    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        overlap_f1_scorer,
    )

    got = list(
        overlap_f1_scorer(
            pd.Series(["a b c", "a a b", "x y"]),
            pd.Series(["a b c", "a c", "a b"]),
        )
    )
    # identical sets -> 1.0; {a,b} vs {a,c} -> 2*1/4; disjoint -> 0.0
    assert got == [1.0, 0.5, 0.0]


def test_cross_encoder_rerank_plumbing(spark):
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        cross_encoder_rerank,
        overlap_f1_scorer,
    )

    pairs = spark.createDataFrame(
        [
            (0, 10, "a b c", "a b c"),   # F1 = 1.0
            (0, 11, "a b c", "a x y"),   # F1 = 2/6
            *[(0, d, "a b c", "z z z") for d in range(12, 21)],  # F1 = 0.0
            (1, 10, "q r", "q r"),
        ],
        "query_id bigint, doc_id bigint, qtext string, dtext string",
    )
    out = cross_encoder_rerank(
        pairs, "query_id", "doc_id", "qtext", "dtext",
        scorer=overlap_f1_scorer,
    )
    rows = {(r["query_id"], r["rank"]): (r["doc_id"], r["ce_score"])
            for r in out.collect()}
    assert rows[(0, 1)] == (10, 1.0)
    assert rows[(0, 2)] == (11, round(2 / 6, 6))
    assert rows[(0, 10)] == (19, 0.0)  # the top-10 dropped doc 20
    assert (1, 1) in rows and len(rows) == 11
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BatchEvalPython" not in plan


def test_hard_negatives_excludes_same_label(spark):
    from end_to_end_etl_pipeline_spark.operators.similarity import (
        hard_negatives,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 1),   # anchor, label 1
            (1, [1.0, 0.0], 1),   # identical vector, SAME label -> excluded
            (2, [0.9, 0.1], 2),   # near, different label -> hardest negative
            (3, [0.0, 1.0], 2),   # far, different label
        ],
        "vec_id bigint, embedding array<double>, label int",
    )
    rows = hard_negatives(
        emb.filter("vec_id = 0"), emb, "vec_id", "vec_id",
        "embedding", "label",
    ).collect()
    got = [(r["match_id"], r["neg_label"]) for r in
           sorted(rows, key=lambda r: -r["cosine"])]
    assert got == [(2, 2), (3, 2)]  # 1 excluded despite cosine 1.0


def test_retrieval_stack_invariants_randomized(spark):
    # fixed-seed randomized frames (no hypothesis: each Spark example
    # costs seconds) pinning the cross-operator invariants:
    #  - single-arm RRF preserves the arm's rank order exactly
    #  - MMR picks are distinct, drawn from the candidates, and the
    #    first pick per query is the relevance argmax (id tie-break)
    import random

    rng = random.Random(7)
    rows = [
        (q, d, round(rng.random(), 6))
        for q in range(3)
        for d in rng.sample(range(100), 12)
    ]
    arm = _arm(spark, rows)
    fused = rrf_fuse([(arm, "score")]).collect()
    by_rank = {}
    for r in fused:
        # rrf = 1/(60+rank) is strictly decreasing in rank: invert it
        by_rank.setdefault(r["query_id"], []).append((r["rrf"], r["doc_id"]))
    from end_to_end_etl_pipeline_spark.operators.retrieval import topk_ranks

    expect = {
        (r["query_id"], r["doc_id"]): r["__rnk"]
        for r in topk_ranks(arm, "query_id", "doc_id", "score", 10).collect()
    }
    for q, lst in by_rank.items():
        fused_order = [d for _, d in sorted(lst, key=lambda t: (-t[0], t[1]))]
        arm_order = [d for (qq, d), rk in sorted(expect.items(), key=lambda kv: kv[1]) if qq == q]
        assert fused_order == arm_order, f"query {q}"

    from end_to_end_etl_pipeline_spark.operators.retrieval import mmr_select

    dim = 4
    cand = spark.createDataFrame(
        [
            (q, d, [round(rng.random(), 3) for _ in range(dim)], s)
            for (q, d, s) in rows
        ],
        "query_id bigint, doc_id bigint, v array<double>, rel double",
    )
    picks = mmr_select(cand, "query_id", "doc_id", "v", "rel").collect()
    cand_ids = {(q, d) for q, d, _ in rows}
    best = {}
    for q, d, s in rows:
        if q not in best or (-s, d) < (-best[q][1], best[q][0]):
            best[q] = (d, s)
    seen = set()
    for r in picks:
        key = (r["query_id"], r["doc_id"])
        assert key in cand_ids
        assert key not in seen, "duplicate pick"
        seen.add(key)
        if r["mmr_rank"] == 1:
            assert r["doc_id"] == best[r["query_id"]][0]
    assert len(picks) == 3 * 5


def _mmr_random_candidates(spark, seed: int):
    """3 queries x 25 candidates, 8-d vectors on a 3dp grid, 6dp rel."""
    import random

    rng = random.Random(seed)
    dim = 8
    rows = [
        (q, d, [round(rng.random(), 3) for _ in range(dim)],
         round(rng.random(), 6))
        for q in range(3)
        for d in rng.sample(range(200), 25)
    ]
    return spark.createDataFrame(
        rows, "query_id bigint, doc_id bigint, v array<double>, rel double"
    )


def _mmr_twins(cand):
    """Both strategies' picks on the same candidates, sorted rows."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        mmr_select,
        mmr_select_grouped,
    )

    return [
        sorted(map(tuple, fn(cand, "query_id", "doc_id", "v", "rel").collect()))
        for fn in (mmr_select, mmr_select_grouped)
    ]


def test_mmr_grouped_differential_matches_plan_flat(spark):
    """The grouped-map strategy must replay the JVM-aggregate picks
    EXACTLY — same ids, ranks, and rel doubles — on a randomized
    fixed-seed candidate set big enough to exercise real greedy
    interaction (3 queries x 25 candidates, k=5)."""
    f, g = _mmr_twins(_mmr_random_candidates(spark, 13))
    assert f == g
    assert len(f) == 3 * 5


@pytest.mark.parametrize("seed", [7, 29])
def test_mmr_twins_differential_more_seeds(spark, seed):
    f, g = _mmr_twins(_mmr_random_candidates(spark, seed))
    assert f == g
    assert len(f) == 3 * 5


_MMR_SCHEMA = "query_id bigint, doc_id bigint, v array<double>, rel double"

#: (candidate rows, expected (query_id, doc_id, mmr_rank) picks)
_MMR_EDGES = {
    "empty": ([], []),
    # duplicate vectors and equal rel: every score tie breaks on the
    # lowest id — 3 first, the orthogonal 4 next (its best_sim is 0,
    # the duplicates' is 1), then the duplicates 5 and 9 in id order
    "ties_to_lowest_id": (
        [(0, 9, [1.0, 0.0], 0.5), (0, 5, [1.0, 0.0], 0.5),
         (0, 3, [1.0, 0.0], 0.5), (0, 4, [0.0, 1.0], 0.5)],
        [(0, 3, 1), (0, 4, 2), (0, 5, 3), (0, 9, 4)],
    ),
    "single_candidate": (
        [(0, 1, [0.6, 0.8], 0.4), (1, 2, [1.0, 0.0], 0.9),
         (1, 3, [0.0, 1.0], 0.8)],
        [(0, 1, 1), (1, 2, 1), (1, 3, 2)],
    ),
    "k_past_n": (
        [(0, 1, [1.0, 0.0], 0.9), (0, 2, [0.6, 0.8], 0.3)],
        [(0, 1, 1), (0, 2, 2)],
    ),
}


@pytest.mark.parametrize("case", sorted(_MMR_EDGES))
def test_mmr_twins_edge_contract(spark, case):
    """Edge inputs keep the documented contract on BOTH strategies,
    and the two agree row for row (ids, ranks and rel doubles)."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        mmr_select,
        mmr_select_grouped,
    )

    rows, want = _MMR_EDGES[case]
    cand = spark.createDataFrame(rows, _MMR_SCHEMA)
    f, g = _mmr_twins(cand)
    assert f == g
    assert [r[:3] for r in f] == sorted(want)
    rel = {(q, d): r for q, d, _, r in rows}
    assert all(r == rel[(q, d)] for q, d, _, r in f)
    for fn in (mmr_select, mmr_select_grouped):
        out = fn(cand, "query_id", "doc_id", "v", "rel")
        assert [(x.name, x.dataType.simpleString()) for x in out.schema] == [
            ("query_id", "bigint"), ("doc_id", "bigint"),
            ("mmr_rank", "int"), ("rel", "double"),
        ]


def test_mmr_grouped_handles_k_past_candidates_and_plan(spark):
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        mmr_select_grouped,
    )

    cand = spark.createDataFrame(
        [
            (0, 1, [1.0, 0.0], 0.9),
            (0, 2, [1.0, 0.0], 0.6),
            (0, 3, [0.0, 1.0], 0.5),
            (0, 4, [0.6, 0.8], 0.7),
            (1, 7, [1.0, 0.0], 0.4),
        ],
        "query_id bigint, doc_id bigint, v array<double>, rel double",
    )
    out = mmr_select_grouped(cand, "query_id", "doc_id", "v", "rel")
    rows = out.collect()
    # query 0: same hand-computed order as the mmr_select unit test;
    # query 1: a single candidate, no sim pairs at all
    order = [r["doc_id"] for r in sorted(
        (r for r in rows if r["query_id"] == 0), key=lambda r: r["mmr_rank"])]
    assert order == [1, 3, 4, 2]
    assert [(r["doc_id"], r["mmr_rank"]) for r in rows
            if r["query_id"] == 1] == [(7, 1)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_ndcg_hand_computed(spark):
    import math

    from end_to_end_etl_pipeline_spark.operators.retrieval import ndcg_at_k

    ranked = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (1, 30, 3), (1, 40, 4),
         (2, 10, 1), (2, 20, 2),
         (3, 50, 1)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    relevant = spark.createDataFrame(
        # q1: docs 10 & 30 relevant (hit ranks 1, 3); doc 40 is
        # relevant but at rank 4 — PAST k=3, so it must not count in
        # DCG while still counting in n_rel (and hence IDCG's cap).
        # q2: perfect top-2. q3: no ground truth at all.
        [(1, 10), (1, 30), (1, 40), (2, 10), (2, 20)],
        "query_id bigint, doc_id bigint",
    )
    out = {
        r["query_id"]: (r["n_rel"], r["n_rel_retrieved"], r["ndcg"])
        for r in ndcg_at_k(ranked, relevant, k=3).collect()
    }
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = 1 / math.log2(2) + 1 / math.log2(3) + 1 / math.log2(4)
    assert out[1] == (3, 2, round(dcg / idcg, 6))
    assert out[2] == (2, 2, 1.0)
    assert out[3] == (0, 0, 0.0)


def test_ndcg_zero_retrieval_query_scores_zero(spark):
    """A query with ground truth but NO ranked rows (or none within
    top-k) must appear with ndcg=0, not silently vanish — dropping it
    would inflate a macro-averaged nDCG."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import ndcg_at_k

    ranked = spark.createDataFrame(
        # q9's only row sits past k=3, so it retrieves nothing in-window
        [(1, 10, 1), (9, 70, 4)],
        "query_id bigint, doc_id bigint, rank bigint",
    )
    relevant = spark.createDataFrame(
        # q5 has ground truth but zero ranked rows at all
        [(1, 10), (5, 60), (5, 61), (9, 70)],
        "query_id bigint, doc_id bigint",
    )
    out = {
        r["query_id"]: (r["n_rel"], r["n_rel_retrieved"], r["ndcg"])
        for r in ndcg_at_k(ranked, relevant, k=3).collect()
    }
    assert out[1] == (1, 1, 1.0)
    assert out[5] == (2, 0, 0.0)
    assert out[9] == (1, 0, 0.0)


def test_mmr_grouped_preserves_non_double_rel_type(spark):
    """The twins must stay schema-identical for non-double rel inputs
    (the grouped path used to hardcode `__rel double`)."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        mmr_select,
        mmr_select_grouped,
    )

    cand = spark.createDataFrame(
        [(0, 1, [1.0, 0.0], 0.5), (0, 2, [0.0, 1.0], 0.25)],
        "query_id bigint, doc_id bigint, v array<double>, rel double",
    ).withColumn("rel", F.col("rel").cast("float"))
    flat = mmr_select(cand, "query_id", "doc_id", "v", "rel")
    grp = mmr_select_grouped(cand, "query_id", "doc_id", "v", "rel")
    # dtype parity (nullability differs benignly: Arrow-map output
    # columns are always nullable, the JVM aggregate's rank is not)
    assert [(f.name, f.dataType) for f in grp.schema.fields] == [
        (f.name, f.dataType) for f in flat.schema.fields
    ]
    assert grp.schema["rel"].dataType.simpleString() == "float"
    assert sorted(map(tuple, grp.collect())) == sorted(
        map(tuple, flat.collect())
    )


def test_pairwise_ce_features_jvm_matches_pandas_contract(spark):
    """The CE_FEATURES contract: the JVM training expressions and the
    pandas inference arithmetic must agree bit-for-bit — tabs/newlines
    count as token characters (single-space split), duplicates
    collapse, empties guard to 0.0. Also regression-guards the Spark
    4.1 codegen subexpression-elimination bug (sibling columns sharing
    the nested-lambda token subtrees) via the one-struct pattern."""
    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        _pair_feature_triples,
        pairwise_ce_features,
    )

    rows = [
        (1, "a b c", "a b d"),
        (2, "a a b", "a b b"),         # duplicate tokens collapse
        (3, "a\tb c", "a b"),          # tab is part of a token
        (4, "", "a b"),                # empty query
        (5, " ", ""),                  # both empty after filtering
        (6, "x y z w", "x"),           # strong length mismatch
    ]
    df = spark.createDataFrame(rows, "id long, q string, d string")
    got = {
        r["id"]: (r["f1"], r["jac"], r["ld"])
        for r in pairwise_ce_features(df, "q", "d").collect()
    }
    for id_, q, d in rows:
        assert got[id_] == _pair_feature_triples(q, d), (id_, q, d)


def test_train_pairwise_logreg_learns_separable_pairs(spark):
    """On a separable pair set the trained weights must (a) strictly
    reduce the balanced logistic loss vs w=0 and (b) score every
    positive above every negative through the REAL trained scorer."""
    import math

    from end_to_end_etl_pipeline_spark.operators.retrieval import (
        _pair_feature_triples,
        pairwise_ce_features,
        train_pairwise_logreg,
        trained_linear_scorer,
    )

    rows = []
    for i in range(8):  # positives: near-identical texts
        rows.append((i, f"alpha beta gamma tok{i}", f"alpha beta gamma tok{i}", 1.0))
    for i in range(24):  # negatives: disjoint texts
        rows.append((100 + i, f"alpha p{i} q{i}", f"zeta r{i} s{i} t{i} u{i}", 0.0))
    df = spark.createDataFrame(rows, "id long, q string, d string, y double")
    feats = pairwise_ce_features(df, "q", "d").withColumn(
        "wt", F.when(F.col("y") == 1.0, 1.0 / 16.0).otherwise(1.0 / 48.0)
    )
    w = train_pairwise_logreg(feats, "y", weight_col="wt")
    scorer = trained_linear_scorer(w)

    def loss(weights):
        total = 0.0
        for _, q, d, y in rows:
            f1, jac, ld = _pair_feature_triples(q, d)
            z = weights[0] + weights[1] * f1 + weights[2] * jac + weights[3] * ld
            p = 1.0 / (1.0 + math.exp(-z))
            wt = 1.0 / 16.0 if y == 1.0 else 1.0 / 48.0
            total -= wt * (y * math.log(p) + (1.0 - y) * math.log(1.0 - p))
        return total

    assert loss(w) < loss([0.0] * 4)
    import pandas as pd

    scores = scorer(
        pd.Series([q for _, q, _, _ in rows]),
        pd.Series([d for _, _, d, _ in rows]),
    )
    pos = [s for s, (_, _, _, y) in zip(scores, rows) if y == 1.0]
    neg = [s for s, (_, _, _, y) in zip(scores, rows) if y == 0.0]
    assert min(pos) > max(neg)

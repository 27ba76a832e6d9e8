"""Unit sweep over operators with no prior test/oracle exercise
(round-1 verdict: "no §2 row left untested"): sanitize, array<struct>
flatten, as-of join edges, SCD guards."""

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.cleaning import (
    flatten_exploded,
    sanitize_column_names,
)
from end_to_end_etl_pipeline_spark.operators.joins import asof_join
from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


def test_sanitize_column_names(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["Adj Close", "Stock Splits%", "__weird__"])
    assert sanitize_column_names(df).columns == ["adj_close", "stock_splits", "weird"]


def test_flatten_exploded_array_struct(spark):
    df = spark.createDataFrame(
        [("C1", [("Ann", "director"), ("Bob", "secretary")]),
         ("C2", []),          # empty array: inner explode drops the row
         ("C3", None)],       # null array: dropped too
        "company string, items array<struct<name:string,role:string>>",
    )
    out = flatten_exploded(df, key="company", array_col="items")
    assert out.columns == ["company", "name", "role"]
    assert sorted((r.company, r.name, r.role) for r in out.collect()) == [
        ("C1", "Ann", "director"), ("C1", "Bob", "secretary")
    ]


def test_asof_join_backward_and_equal_ts(spark):
    left = spark.createDataFrame(
        [("u1", "2026-01-05"), ("u1", "2026-01-10"), ("u2", "2026-01-05")],
        "k string, t string",
    )
    right = spark.createDataFrame(
        [("u1", "2026-01-01", 1.0), ("u1", "2026-01-10", 2.0),  # equal-ts visible
         ("u2", "2026-01-06", 9.0)],                            # after left: unmatched
        "k string, rt string, v double",
    )
    out = asof_join(left, right, on=["k"], left_time="t", right_time="rt",
                    right_cols=["v"])
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got[("u1", "2026-01-05")] == 1.0
    assert got[("u1", "2026-01-10")] == 2.0  # right row at exactly left_time wins
    assert got[("u2", "2026-01-05")] is None


def test_scd_apply_duplicate_keys_commit_nothing(spark, tmp_path):
    """The duplicate-key guard runs inside each apply's write job: a
    dup-key batch raises ``ValueError`` and leaves the table's latest
    version unchanged, on a first load and on a later batch, for SCD
    types 1, 2 and 3, and deletes the failed write's data dir, so the
    table's ``data/`` holds only committed dirs. Null keys drop without
    failing the apply."""
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    eng = SCDEngine(cat)
    applies = {
        "t1": lambda df: eng.apply_scd1(df, "t1", ["k"]),
        "t2": lambda df: eng.apply_scd2(df, "t2", ["k"], ["v"], "2026-01-01 00:00:00"),
        "t3": lambda df: eng.apply_scd3(df, "t3", ["k"], ["v"]),
    }
    dup = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k int, v string")
    ok = spark.createDataFrame([(1, "a"), (None, "n")], "k int, v string")

    def data_dirs(table) -> list:
        d = tmp_path / "lake" / table / "data"
        return sorted(p.name for p in d.iterdir()) if d.exists() else []

    def committed_dirs(table) -> list:
        m = cat.latest_manifest(table)
        return sorted(d.rsplit("/", 1)[-1] for d in (m["dirs"] if m else []))

    for table, apply in applies.items():
        with pytest.raises(ValueError, match="duplicate business keys"):
            apply(dup)  # first load
        assert cat.latest_manifest(table) is None, table
        assert data_dirs(table) == [], table  # the failed write left nothing

        apply(ok)
        assert cat.latest_manifest(table)["version"] == 1, table
        assert [(r.k, r.v) for r in cat.read(table).collect()] == [(1, "a")]

        with pytest.raises(ValueError, match="duplicate business keys"):
            apply(dup)  # later batch
        assert cat.latest_manifest(table)["version"] == 1, table
        assert [(r.k, r.v) for r in cat.read(table).collect()] == [(1, "a")]
        assert data_dirs(table) == committed_dirs(table), table


def test_dedup_by_key_aggs_match_window_dedup_plus_feature_join(spark):
    """``dedup_by_key(..., aggs=)`` equals the plan it replaces: the
    window dedup, a ``groupBy`` of the same table on the keys, and a
    left join of the two. Covered: a mixed ``DESC``/``ASC`` keep-policy
    with ties on ``a`` broken by ``b``, null ``a`` (NULLS LAST under
    DESC) and null ``b`` (NULLS FIRST under ASC), one-row groups, and
    the column order (keys, spine columns in input order, aggregates).
    The folded plan shuffles once and joins nothing.

    Contracts: a NULL-key group gets its real aggregates, where the
    left join gave it NULL features; ``aggs`` without ``order_by``
    raises ``ValueError``."""
    import random

    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key

    rows = [
        # p, k1, a, k2, b, v
        ("tie-b2", "x", 5, 1, 2, 1.0),
        ("tie-b1", "x", 5, 1, 1, 2.0),   # tie on a: lower b wins
        ("older", "x", 3, 1, 0, 4.0),
        ("null-a", "y", None, 1, 0, 1.5),  # NULLS LAST under DESC
        ("a-wins", "y", 1, 1, 9, 2.5),
        ("b-set", "z", 7, 2, 4, 3.0),
        ("null-b", "z", 7, 2, None, 5.0),  # NULLS FIRST under ASC
        ("alone", "w", None, 3, None, 7.0),  # one-row group
        ("nk-1", None, 2, 1, 1, 10.0),   # NULL-key group
        ("nk-2", None, 4, 1, 0, 20.0),
    ]
    rng = random.Random(7)
    rows += [
        (f"r{i}", rng.choice("stuv"), rng.choice([None, 1, 2, 3]),
         rng.randint(1, 4), 100 + i, float(rng.randint(0, 9)))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "p string, k1 string, a int, k2 int, b int, v double"
    )
    keys = ["k1", "k2"]
    order = [F.col("a").desc(), F.col("b").asc()]
    aggs = {"total": "sum(v)", "n": "count(1)", "top_p": "max(p)"}

    out = dedup_by_key(df, keys, order_by=order, aggs=aggs)
    plan = out._jdf.queryExecution().executedPlan().toString()  # unexecuted
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan
    ref = dedup_by_key(df, keys, order_by=order).join(
        df.groupBy(*keys).agg(*[F.expr(e).alias(n) for n, e in aggs.items()]),
        keys, "left",
    )
    assert out.columns == ref.columns == [
        "k1", "k2", "p", "a", "b", "v", "total", "n", "top_p"
    ]
    got = out.collect()
    assert len(got) == ref.count()
    keyed = [r for r in got if r.k1 is not None]
    assert sorted(keyed) == sorted(r for r in ref.collect() if r.k1 is not None)
    spine = {(r.k1, r.k2): r.p for r in keyed}
    assert spine[("x", 1)] == "tie-b1"
    assert spine[("y", 1)] == "a-wins"
    assert spine[("z", 2)] == "null-b"
    assert spine[("w", 3)] == "alone"

    (nk,) = [r for r in got if r.k1 is None]
    assert (nk.p, nk.total, nk.n, nk.top_p) == ("nk-2", 30.0, 2, "nk-2")
    (nk_ref,) = [r for r in ref.collect() if r.k1 is None]
    assert nk_ref.p == "nk-2" and nk_ref.total is None

    with pytest.raises(ValueError, match="order_by"):
        dedup_by_key(df, keys, aggs=aggs)


def test_approx_count_distinct_within_tolerance(spark):
    """The documented scale-out variant of exact countDistinct (A2):
    HLL sketch, mergeable map-side, no exact-distinct shuffle."""
    df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    exact = df.select(F.countDistinct("o_custkey").alias("n")).collect()[0].n
    approx = df.select(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n")
    ).collect()[0].n
    assert abs(approx - exact) / exact < 0.05


def test_range_join_boundaries_and_replication(spark):
    """Bucketed range join: inclusive boundaries, cross-bucket matches,
    left-preserving nulls, and no duplicate pairs from the right-side
    bucket replication."""
    from end_to_end_etl_pipeline_spark.operators.joins import range_join

    left = spark.createDataFrame(
        [
            (1, 100, "2026-01-01 10:00:00"),
            (2, 100, "2026-01-01 12:00:00"),  # no views in window
            (3, 200, "2026-01-01 10:00:00"),
        ],
        "lid int, k int, lts string",
    )
    right = spark.createDataFrame(
        [
            (10, 100, "2026-01-01 09:30:00"),  # == lt - before: inclusive
            (11, 100, "2026-01-01 09:29:59"),  # 1s outside: excluded
            (12, 100, "2026-01-01 09:59:00"),  # different bucket than 10:00 at w=1800
            (13, 100, "2026-01-01 10:00:00"),  # == lt: inclusive (after=0)
            (14, 100, "2026-01-01 10:00:01"),  # after window: excluded
            (15, 200, "2026-01-01 09:45:00"),  # other key
        ],
        "rid int, k int, rts string",
    )
    out = range_join(
        left, right, ["k"], "lts", "rts",
        before_seconds=1800, how="left",
    ).select("lid", "rid").collect()
    pairs = sorted((r.lid, r.rid) for r in out)
    assert pairs == [(1, 10), (1, 12), (1, 13), (2, None), (3, 15)]

    inner = range_join(
        left, right, ["k"], "lts", "rts",
        before_seconds=1800, how="inner",
    ).select("lid", "rid").collect()
    assert sorted((r.lid, r.rid) for r in inner) == [
        (1, 10), (1, 12), (1, 13), (3, 15)
    ]


def test_funnel_stages_partial_depths(spark):
    """Strict-ordering funnel: a click at/before the first view must
    not advance the funnel; depths 0-3 all reachable."""
    from end_to_end_etl_pipeline_spark.operators.windows import funnel_stages

    ev = spark.createDataFrame(
        [
            # u1: full conversion
            (1, "view", "2026-01-01 10:00:00"),
            (1, "click", "2026-01-01 10:05:00"),
            (1, "purchase", "2026-01-01 10:10:00"),
            # u2: click BEFORE view, purchase without click-after-view
            (2, "click", "2026-01-01 09:00:00"),
            (2, "view", "2026-01-01 10:00:00"),
            (2, "purchase", "2026-01-01 11:00:00"),
            # u3: click at exactly view ts (strict > excludes it)
            (3, "view", "2026-01-01 10:00:00"),
            (3, "click", "2026-01-01 10:00:00"),
            # u4: no funnel events at all
            (4, "error", "2026-01-01 10:00:00"),
        ],
        "user_id int, event_type string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r.user_id: r
        for r in funnel_stages(
            ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
        ).collect()
    }
    assert out[1].funnel_depth == 3
    assert out[2].funnel_depth == 1 and out[2].t_click is None
    assert out[3].funnel_depth == 1
    assert out[4].funnel_depth == 0 and out[4].t_view is None


def test_split_assign_weights_and_determinism(spark):
    from end_to_end_etl_pipeline_spark.operators.sampling import split_assign

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = split_assign(df, "doc_id", [("train", 9000), ("val", 500), ("test", 500)])
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]  # ~90/5/5
    # content-addressed: same ids -> same assignment on rerun
    again = {r.doc_id: r.split for r in split_assign(
        df, "doc_id", [("train", 9000), ("val", 500), ("test", 500)]).collect()}
    first = {r.doc_id: r.split for r in out.collect()}
    assert first == again
    with pytest.raises(ValueError, match="sum to"):
        split_assign(df, "doc_id", [("a", 1), ("b", 2)])


def test_pack_sequences_bin_boundaries(spark):
    from end_to_end_etl_pipeline_spark.operators.sampling import pack_sequences

    df = spark.createDataFrame(
        [(1, 600), (2, 600), (3, 600), (4, 600)], ["doc_id", "n_tokens"]
    )
    out = {r.doc_id: r.bin for r in pack_sequences(df, "doc_id", "n_tokens", 1000).collect()}
    # exclusive prefixes 0,600,1200,1800 / 1000 -> bins 0,0,1,1
    assert out == {1: 0, 2: 0, 3: 1, 4: 1}
    # a doc straddling a boundary stays in the bin its first token is in
    df2 = spark.createDataFrame([(1, 999), (2, 5000), (3, 1)], ["doc_id", "n_tokens"])
    out2 = {r.doc_id: r.bin for r in pack_sequences(df2, "doc_id", "n_tokens", 1000).collect()}
    assert out2 == {1: 0, 2: 0, 3: 5}


def test_redact_pii_placeholders(spark):
    from end_to_end_etl_pipeline_spark.operators.text_analysis import redact_pii

    df = spark.createDataFrame(
        [(1, "mail a@b.org or see https://x.io/p?q=1 call +4915112345678"),
         (2, "clean text, no pii at all")],
        ["id", "text"],
    )
    rows = {r.id: r for r in redact_pii(df, "text").collect()}
    assert rows[1].redacted == "mail <EMAIL> or see <URL> call <PHONE>"
    assert (rows[1].n_url, rows[1].n_email, rows[1].n_phone) == (1, 1, 1)
    assert rows[2].redacted == rows[2].text
    assert (rows[2].n_url, rows[2].n_email, rows[2].n_phone) == (0, 0, 0)


def test_hadamard_rotation_is_orthogonal(spark):
    from end_to_end_etl_pipeline_spark.operators.similarity import hadamard_rotate

    df = spark.createDataFrame(
        [(1, [float(i % 5) - 2.0 for i in range(8)])], "id long, v array<double>"
    )
    out = df.select(
        "id",
        hadamard_rotate("v", 8).alias("rv"),
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x).alias("n2"),
    ).select(
        "n2", F.aggregate("rv", F.lit(0.0), lambda a, x: a + x * x).alias("rn2")
    ).first()
    assert abs(out.n2 - out.rn2) < 1e-6  # norm preserved (orthogonal)
    with pytest.raises(ValueError, match="power-of-two"):
        hadamard_rotate("v", 6)


def test_sliding_chunks_cover_and_overlap(spark):
    from end_to_end_etl_pipeline_spark.operators.text_analysis import sliding_chunks

    text = " ".join(f"w{i}" for i in range(83))
    df = spark.createDataFrame([(1, text), (2, "solo"), (3, "")], "id long, text string")
    out = {
        r.id: r.chunks
        for r in df.select("id", sliding_chunks("text").alias("chunks")).collect()
    }
    chunks = out[1]
    # 30-word chunks: starts advance by stride=25 up to n_words - overlap = 78
    assert [c.start for c in chunks] == [1, 26, 51, 76]
    # full coverage: every word appears in some chunk
    covered = {t for c in chunks for t in c.toks}
    assert covered == {f"w{i}" for i in range(83)}
    # consecutive chunks share exactly the 5 overlap words (except short tail)
    assert chunks[0].toks[-5:] == chunks[1].toks[:5]
    assert chunks[-1].toks == [f"w{i}" for i in range(75, 83)]  # tail chunk, 8 words
    assert [c.start for c in out[2]] == [1] and out[2][0].toks == ["solo"]
    assert out[3][0].toks == [""]  # empty text: one empty-token chunk, same as DuckDB


def test_hll_daily_uniques_close_to_exact(spark, sf_dir):
    from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY, load

    rows = REGISTRY["daily_uniques_hll"].spark(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events").select(F.to_date("ts").alias("day"), "user_id")
    exact = {
        r.day: r.n
        for r in ev.groupBy("day").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert len(rows) == len(exact) > 0
    for r in rows:
        assert r.dau == exact[r.day]  # exact leg is exact
        assert r.wau_7d >= r.dau  # 7-day union dominates any single day
        assert r.dau_ok and r.wau_ok  # HLL estimates within ±5% of exact


def test_pagerank_hand_computed(spark):
    from end_to_end_etl_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("A", "B", 3.0), ("A", "C", 1.0), ("B", "C", 1.0), ("C", "A", 1.0)],
        "src string, dst string, w double",
    )
    got = {r.node: r.pr for r in pagerank(edges).collect()}
    # pr0 = 1/3 each; wn: A->B .75, A->C .25, B->C 1, C->A 1
    # pr1 = {A: .333333, B: .2625, C: .404166};
    # pr2 = {A: .393541, B: .2625, C: .343958}; pr3 below (6dp rounds)
    assert got == {"A": 0.342364, "B": 0.300882, "C": 0.356752}
    assert abs(sum(got.values()) - 1.0) < 0.01  # cycle graph: mass conserved


def test_bpe_merge_semantics(spark):
    from end_to_end_etl_pipeline_spark.operators.bpe import bpe_train

    # freq-weighted argmax and the non-overlap merge rule:
    # 'abab' x3 + 'aab' x2: pairs (a,b)=8, (b,a)=3, (a,a)=2 -> merge 1 = (a,b)
    # after: 'ab ab' / 'a ab': pairs (ab,ab)=3, (a,ab)=2 -> merge 2 = (ab,ab)
    words = spark.createDataFrame(
        [("abab", 3), ("aab", 2)], "word string, freq long"
    )
    rules = bpe_train(words, "word", "freq", num_merges=3)
    assert rules[0] == (1, "a", "b", 8)
    assert rules[1] == (2, "ab", "ab", 3)
    # merge 3: 'abab' / 'a ab' -> only (a, ab)=2 remains
    assert rules[2] == (3, "a", "ab", 2)
    # early stop when no pairs remain
    single = spark.createDataFrame([("x", 5)], "word string, freq long")
    assert bpe_train(single, "word", "freq", num_merges=2) == []


def test_asof_join_ignores_null_time_and_guards_collisions(spark):
    from end_to_end_etl_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00")], "k int, ts string"
    )
    right = spark.createDataFrame(
        [(1, None, 99.0), (1, "2026-01-01 09:00:00", 5.0)],
        "k int, rts string, price double",
    )
    out = asof_join(left, right, ["k"], "ts", "rts", ["price"]).collect()
    assert out[0].price == 5.0  # NULL-time right row is never carried
    only_null = right.filter(F.col("rts").isNull())
    got = asof_join(left, only_null, ["k"], "ts", "rts", ["price"]).collect()
    assert got[0].price is None
    with pytest.raises(ValueError, match="collide"):
        asof_join(left.withColumn("price", F.lit(0.0)), right,
                  ["k"], "ts", "rts", ["price"])


def test_salted_join_rejects_key_as_salt(spark):
    from end_to_end_etl_pipeline_spark.operators.joins import salted_join

    df = spark.createDataFrame([(1, 2)], "k int, x int")
    with pytest.raises(ValueError, match="join key"):
        salted_join(df, df, ["k"], salt_col="k")


def test_minhash_broadcast_guard_dup_heavy_corpus(spark):
    """A dup-heavy corpus blows past max_broadcast_pairs; the verify
    legs must fall back to shuffle joins and return the SAME pairs as
    the broadcast path (guard changes the physical plan, never the
    result)."""
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        minhash_near_dup_pairs,
    )

    # 40 docs, all sharing one long base text (small unique suffix) —
    # nearly all pairs become LSH candidates: C(40,2) = 780 pairs
    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [(i, base + f"tail{i % 4}") for i in range(40)], "doc_id int, text string"
    )
    kw = dict(num_hashes=16, bands=4)
    bc = minhash_near_dup_pairs(docs, "doc_id", "text", **kw)
    sh = minhash_near_dup_pairs(
        docs, "doc_id", "text", max_broadcast_pairs=10, **kw
    )
    key = lambda r: (r.id_a, r.id_b)
    bc_rows = sorted(bc.collect(), key=key)
    sh_rows = sorted(sh.collect(), key=key)
    assert len(bc_rows) > 100  # the corpus really is dup-heavy
    assert [(r.id_a, r.id_b) for r in bc_rows] == [(r.id_a, r.id_b) for r in sh_rows]
    for a, b in zip(bc_rows, sh_rows):
        assert a.jaccard == b.jaccard


def test_line_dedup_global_first_wins_and_exemptions(spark):
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_global,
    )

    rows = [
        (1, "Hello World\nCOOKIE BANNER\nunique one"),
        (2, "cookie banner\nunique two\n\nHello world"),
        (3, "cookie banner"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r.doc_id: r
        for r in dedup_lines_global(df, "doc_id", "text").collect()
    }
    # doc 1: every line is a first occurrence — untouched
    assert out[1].text == rows[0][1]
    assert (out[1].n_lines, out[1].n_lines_kept) == (3, 3)
    # doc 2: loses both repeats (case/trim-insensitive), keeps the
    # blank separator (exempt from matching) and its unique line
    assert out[2].text == "unique two\n"
    assert (out[2].n_lines, out[2].n_lines_kept) == (4, 2)
    # doc 3: every line lost — kept as empty text, not dropped
    assert out[3].text == ""
    assert (out[3].n_lines, out[3].n_lines_kept) == (1, 0)


def test_line_dedup_single_agg_shuffle_on_line_hash(spark):
    """The global-winner stage must be a map-side-partial aggregate on
    the line hash (skew-proof), not a window: no Window node before
    the first exchange, and partial_min_by appears below it."""
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_global,
    )

    df = spark.createDataFrame([(1, "a\nb")], ["doc_id", "text"])
    plan = dedup_lines_global(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "min_by" in plan
    assert "Window" not in plan  # winner choice is agg-based, not window


def test_cms_build_never_underestimates(spark):
    """Every count-min estimate must be >= the true count (CMS errs
    only upward)."""
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    sketch = cms_build(
        spark.createDataFrame(
            [(w,) for w in "a b a c a b b d a d e".split()], ["k"]
        ),
        "k",
    )
    truth = {"a": 4, "b": 3, "c": 1, "d": 2, "e": 1, "zzz": 0}
    keys = spark.createDataFrame([(k,) for k in truth], ["k"])
    est = {
        r.k: r.cms_est
        for r in cms_estimate(sketch, keys, "k").collect()
    }
    for k, t in truth.items():
        assert est[k] >= t  # never underestimates


def test_bloom_filter_no_false_negatives_and_merge(spark):
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
    )
    from pyspark.sql import functions as F

    seen = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], ["k"]
    )
    # tiny filter (64 bits, 3 hashes, 50 keys) to force false positives
    bloom = bloom_build(seen, "k", num_bits=64, num_hashes=3)
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(80)], ["k"]
    )
    got = {
        r.k: r.might_contain
        for r in bloom_probe(bloom, probe, "k", num_bits=64, num_hashes=3).collect()
    }
    # every inserted key MUST hit (no false negatives, ever)
    for i in range(50):
        assert got[f"key{i}"] is True
    # merging two half-filters equals one filter over the union
    h1 = bloom_build(seen.filter(F.col("k") < "key3"), "k", num_bits=64, num_hashes=3)
    h2 = bloom_build(seen.filter(F.col("k") >= "key3"), "k", num_bits=64, num_hashes=3)
    merged = (
        h1.unionByName(h2).groupBy("word").agg(F.bit_or("bits").alias("bits"))
    )
    as_map = lambda df: {r.word: r.bits for r in df.collect()}
    assert as_map(merged) == as_map(bloom)


def test_sketches_null_keys_are_counted_not_lost(spark):
    """A NULL key must behave like any other key: CMS never
    underestimates it and Bloom never false-negatives it. (Without
    the sentinel coalesce, NULL hashes to a NULL bucket, the probe
    join never matches, and the estimate is a silent 0.)"""
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_probe,
        cms_build,
        cms_estimate,
    )

    rows = spark.createDataFrame(
        [("a",), (None,), (None,), ("b",), (None,)],
        schema="k string",
    )
    sketch = cms_build(rows, "k")
    keys = spark.createDataFrame([("a",), (None,), ("zzz",)], schema="k string")
    est = {
        r.k: r.cms_est
        for r in cms_estimate(sketch, keys, "k").collect()
    }
    assert est[None] >= 3  # the three NULL occurrences, never 0
    assert est["a"] >= 1

    bloom = bloom_build(rows, "k", num_bits=256, num_hashes=3)
    got = {
        r.k: r.might_contain
        for r in bloom_probe(bloom, keys, "k", num_bits=256, num_hashes=3).collect()
    }
    assert got[None] is True  # inserted NULL must be found
    assert got["a"] is True


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_LINE_WORDS = ["alpha", "Beta", "GAMMA", "delta", " epsilon ", ""]
_LINE = st.integers(0, len(_LINE_WORDS) - 1)
_DOC_LINES = st.lists(_LINE, min_size=1, max_size=6)
_CORPUS = st.dictionaries(st.integers(1, 9), _DOC_LINES, min_size=1, max_size=6)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(corpus=_CORPUS)
def test_line_dedup_invariants_fuzzed(spark, corpus):
    """Over random corpora: (1) every eligible normalized line appears
    at most once across ALL output docs; (2) each output doc's lines
    are a subsequence of its input lines; (3) the corpus-order first
    occurrence of every eligible line survives; (4) n_lines counts
    match the inputs."""
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_global,
    )

    rows = [
        (i, "\n".join(_LINE_WORDS[j] for j in lines))
        for i, lines in sorted(corpus.items())
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in dedup_lines_global(df, "doc_id", "text").collect()}

    norm = lambda s: s.strip().lower()
    seen_first: dict[str, tuple] = {}
    for i, lines in sorted(corpus.items()):
        for pos, j in enumerate(lines):
            key = norm(_LINE_WORDS[j])
            if key and key not in seen_first:
                seen_first[key] = (i, pos)

    all_eligible_out: list[str] = []
    for i, lines in sorted(corpus.items()):
        row = out[i]
        in_lines = [_LINE_WORDS[j] for j in lines]
        out_lines = row.text.split("\n") if row.text != "" else []
        # blank-doc edge: a doc whose every line lost emits text=''
        if row.n_lines_kept == 0:
            assert row.text == ""
        # (4) n_lines is the input line count
        assert row.n_lines == len(in_lines)
        # (2) subsequence check
        it = iter(in_lines)
        assert all(any(o == x for x in it) for o in out_lines), (
            i, in_lines, out_lines,
        )
        for o in out_lines:
            if norm(o):
                all_eligible_out.append(norm(o))
        # (3) the first-occurrence doc keeps its first-occurrence lines
        for pos, j in enumerate(lines):
            key = norm(_LINE_WORDS[j])
            if key and seen_first[key] == (i, pos):
                assert key in [norm(o) for o in out_lines]
    # (1) global uniqueness of eligible lines
    assert len(all_eligible_out) == len(set(all_eligible_out))


def test_dedup_lines_within_doc_zero_shuffle_and_semantics(spark):
    """Within-doc line dedup: first occurrence survives, later repeats
    of the same normalized line drop, blank lines are exempt, empty
    docs pass through — all in ONE projection (no Exchange: the
    decision never needs cross-row information)."""
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_within_doc,
    )

    df = spark.createDataFrame(
        [
            (1, "a b\nc\nA B \n\nc\nx"),  # 'A B ' normalizes to 'a b'
            (2, ""),
            (3, "q\nq\nq"),
        ],
        "doc_id bigint, text string",
    )
    out = dedup_lines_within_doc(df, "doc_id", "text")
    got = {r.doc_id: (r.text, r.n_lines, r.n_lines_kept) for r in out.collect()}
    assert got[1] == ("a b\nc\n\nx", 6, 4)  # both repeats dropped, blank kept
    assert got[2] == ("", 1, 1)  # split('') == [''] — one exempt empty line
    assert got[3] == ("q", 3, 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_script_profile_counts_and_dominant(spark):
    """Per-script codepoint counts and the deterministic dominant
    pick (ties to the earlier SCRIPT_CLASSES entry; 'none' when no
    scripted char occurs), in one shuffle-free projection."""
    from end_to_end_etl_pipeline_spark.operators.text_analysis import (
        script_profile,
    )

    df = spark.createDataFrame(
        [
            (1, "hello мир"),       # 5 latin, 3 cyrillic
            (2, "你好"),            # 2 han
            (3, "123 !?"),          # digits/punct only -> none
            (4, "abcабв"),          # 3 latin, 3 cyrillic: tie -> latin
        ],
        "doc_id bigint, text string",
    )
    out = script_profile(df, "doc_id", "text")
    got = {r.doc_id: r for r in out.collect()}
    assert (got[1].n_latin, got[1].n_cyrillic) == (5, 3)
    assert got[1].dominant_script == "latin"
    assert got[2].n_han == 2 and got[2].dominant_script == "han"
    assert got[3].dominant_script == "none"
    assert got[4].dominant_script == "latin"  # earlier class wins tie
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(corpus=_CORPUS)
def test_within_doc_line_dedup_invariants_fuzzed(spark, corpus):
    """Over random corpora: (1) within one output doc every eligible
    normalized line appears at most once; (2) the output lines are a
    subsequence of the input lines with first occurrences preserved;
    (3) the operator is idempotent (a deduped doc passes through
    unchanged); (4) docs never influence each other (unlike the
    global variant, a line may survive in MANY docs)."""
    from end_to_end_etl_pipeline_spark.operators.text_dedup import (
        dedup_lines_within_doc,
    )

    rows = [
        (doc_id, "\n".join(_LINE_WORDS[i] for i in lines))
        for doc_id, lines in sorted(corpus.items())
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = dedup_lines_within_doc(df, "doc_id", "text")
    got = {r.doc_id: r for r in out.collect()}
    norm = lambda l: l.strip().lower()
    for doc_id, text in rows:
        in_lines = text.split("\n")
        out_lines = got[doc_id].text.split("\n") if got[doc_id].text != "" else [""]
        # expected: first occurrence of each eligible norm; exempt pass
        expect, seen = [], set()
        for l in in_lines:
            n = norm(l)
            if len(n) < 1:
                expect.append(l)
            elif n not in seen:
                seen.add(n)
                expect.append(l)
        assert out_lines == expect
        assert got[doc_id].n_lines == len(in_lines)
        assert got[doc_id].n_lines_kept == len(expect)
    # idempotence: running the operator on its own output is a no-op
    again = dedup_lines_within_doc(
        out.select("doc_id", "text"), "doc_id", "text"
    )
    assert sorted((r.doc_id, r.text) for r in again.collect()) == sorted(
        (r.doc_id, r.text) for r in out.collect()
    )


def test_asof_join_null_payload_in_nearest_row_is_matched_row_semantics(spark):
    """The ADVICE scenario: right rows (t=1, v=5) and (t=100, v=NULL),
    left t=101. The nearest right row (t=100) is the match; its NULL
    payload must be carried — NOT the stale v=5. Value and timestamp
    must come from the same row."""
    left = spark.createDataFrame(
        [("k", "2026-01-01 00:01:41")], "k string, t string"  # t=101s
    )
    right = spark.createDataFrame(
        [("k", "2026-01-01 00:00:01", 5.0),     # t=1: far, has value
         ("k", "2026-01-01 00:01:40", None)],   # t=100: nearest, NULL v
        "k string, rt string, v double",
    )
    [r] = asof_join(
        left, right, on=["k"], left_time="t", right_time="rt",
        right_cols=["v"],
    ).collect()
    assert r.v is None  # matched row's NULL, not the stale v=5


def test_asof_join_forward_direction(spark):
    """Forward as-of: each left row picks the EARLIEST right row at or
    after its timestamp (next-fill lookup); rows with no later right
    row stay unmatched; an exactly-stamped right row is visible."""
    left = spark.createDataFrame(
        [("u1", "2026-01-05"), ("u1", "2026-01-10"), ("u2", "2026-01-07")],
        "k string, t string",
    )
    right = spark.createDataFrame(
        [("u1", "2026-01-06", 1.0), ("u1", "2026-01-10", 2.0),
         ("u2", "2026-01-05", 9.0)],  # before left: unmatched forward
        "k string, rt string, v double",
    )
    out = asof_join(left, right, on=["k"], left_time="t", right_time="rt",
                    right_cols=["v"], direction="forward")
    got = {(r.k, r.t): r.v for r in out.collect()}
    assert got[("u1", "2026-01-05")] == 1.0  # next right row after 01-05
    assert got[("u1", "2026-01-10")] == 2.0  # equal timestamp visible
    assert got[("u2", "2026-01-07")] is None  # nothing at/after 01-07


def test_dsir_logratio_separates_target_like_docs(spark):
    """A hand-built corpus where target docs share a vocabulary
    disjoint from the off-target docs: every target doc must score
    positive (target-like), every off-target doc negative, and an
    unseen doc mixing both vocabularies must land between the two
    extremes. Also pins the plan JVM-side (no Python rows)."""
    from end_to_end_etl_pipeline_spark.operators.sampling import (
        dsir_logratio_scores,
    )

    # the off-target docs are long, so the raw model's feature count
    # dwarfs the target model's and the add-one smoothing over 1,024
    # buckets does not swamp the log-ratio
    rows = [
        (1, "alpha beta gamma alpha beta", True),
        (2, "beta gamma alpha gamma beta alpha", True),
        (3, "delta epsilon zeta " * 200 + "delta epsilon", False),
        (4, "zeta epsilon delta " * 200 + "zeta delta", False),
        (5, "alpha beta delta epsilon", False),  # mixed, scored only
    ]
    df = spark.createDataFrame(rows, "id bigint, text string, is_t boolean")
    out = dsir_logratio_scores(df, "id", "text", target=F.col("is_t"))
    got = {r["id"]: r for r in out.collect()}
    assert got[1]["keep"] and got[2]["keep"]
    assert not got[3]["keep"] and not got[4]["keep"]
    assert (
        got[3]["dsir_avg_logratio"]
        < got[5]["dsir_avg_logratio"]
        < got[1]["dsir_avg_logratio"]
    )
    # n_feats = unigrams + bigrams = (2n - 1) for an n-token doc
    assert got[1]["n_feats"] == 2 * 5 - 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the ratio table rides a broadcast join, model-parameter scale
    assert "BroadcastHashJoin" in plan

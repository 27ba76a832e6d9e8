"""Incremental MinHash dedup store: multi-batch ingest semantics,
store growth, estimator sanity, and CAS-append concurrency safety."""

import pytest

from end_to_end_etl_pipeline_spark.operators.dedup_store import MinHashDedupStore
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


@pytest.fixture
def cat(spark, tmp_path):
    return ManifestCatalog(spark, f"file://{tmp_path}/lake")


BASE = "the quick brown fox jumps over the lazy dog and runs far away " * 4
OTHER = "completely different content about spark catalyst optimizer internals " * 4


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_ingest_two_batches(spark, cat):
    store = MinHashDedupStore(cat, "dedup.sigs", threshold=0.6)

    # batch 1: 1 and 2 near-identical (lower id survives), 3 distinct
    b1 = _docs(spark, [(1, BASE + "x"), (2, BASE + "y"), (3, OTHER)])
    acc1, rej1 = store.ingest(b1, "text")
    assert sorted(r.doc_id for r in acc1.collect()) == [1, 3]
    r1 = {r.doc_id: r for r in rej1.collect()}
    assert list(r1) == [2] and r1[2].dup_of == 1
    assert r1[2].est_jaccard >= 0.6

    # batch 2: 10 dups batch-1 survivor, 11 dups a REJECTED doc's
    # content (rejected sigs are not stored → matches survivor 1
    # instead), 12 fresh
    b2 = _docs(spark, [(10, BASE + "x"), (11, BASE + "y"), (12, OTHER[::-1])])
    acc2, rej2 = store.ingest(b2, "text")
    assert sorted(r.doc_id for r in acc2.collect()) == [12]
    r2 = {r.doc_id: r for r in rej2.collect()}
    assert set(r2) == {10, 11}
    assert r2[10].dup_of == 1 and r2[11].dup_of == 1

    # store holds exactly the accepted signatures, K columns wide
    sigs = cat.read("dedup.sigs")
    assert sorted(r.doc_id for r in sigs.collect()) == [1, 3, 12]
    assert {c for c in sigs.columns if c.startswith("m")} == {
        f"m{k}" for k in range(16)
    }


def test_estimator_tracks_exact_jaccard(spark, cat):
    """The component-match estimate must agree with exact Jaccard on
    clear cases: near-identical docs estimate high, disjoint docs
    never collide at all."""
    store = MinHashDedupStore(cat, "dedup.est", threshold=0.5)
    b = _docs(spark, [(1, BASE), (2, BASE + " tail"), (3, OTHER)])
    acc, rej = store.ingest(b, "text")
    assert sorted(r.doc_id for r in acc.collect()) == [1, 3]
    [r] = rej.collect()
    assert r.doc_id == 2 and r.est_jaccard > 0.8  # ~identical content


def test_batch_without_dups_appends_all(spark, cat):
    store = MinHashDedupStore(cat, "dedup.all")
    acc, rej = store.ingest(_docs(spark, [(1, BASE), (2, OTHER)]), "text")
    assert rej.count() == 0 and acc.count() == 2
    v1 = cat.latest_manifest("dedup.all")["version"]
    fresh = "unrelated third corpus about medallion lakehouse manifests " * 4
    acc2, _ = store.ingest(_docs(spark, [(5, fresh)]), "text")
    assert acc2.count() == 1
    # append path: new manifest version, prior dirs retained
    m = cat.latest_manifest("dedup.all")
    assert m["version"] == v1 + 1
    assert len(m["dirs"]) == 2


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# docs drawn from 3 content families (within-family = near-dup by
# construction, cross-family = disjoint vocabularies)
_FAMS = [
    "the quick brown fox jumps over the lazy dog and runs far away ",
    "catalyst tungsten codegen shuffle partition broadcast exchange ",
    "manifest lakehouse bucket vacuum snapshot timetravel appendlog ",
]
DOC = st.tuples(st.integers(0, 2), st.integers(0, 3))  # (family, suffix)
BATCH = st.dictionaries(st.integers(1, 12), DOC, min_size=1, max_size=8)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@pytest.mark.full_suite  # fuzz/sweep tier (r13, VERDICT r12 #1)
@given(b1=BATCH, b2=BATCH)
def test_dedup_store_invariants_fuzzed(spark, tmp_path_factory, b1, b2):
    """Over random two-batch chains: accepted/rejected partition each
    batch; every rejection names a plausible survivor (stored, or a
    lower-id store-clean batch mate); replaying a batch never grows
    the store."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    tmp = tmp_path_factory.mktemp("fuzz")
    cat = ManifestCatalog(spark, f"file://{tmp}/lake")
    store = MinHashDedupStore(cat, "z.sigs", threshold=0.6)

    def mk(batch, offset):
        rows = [
            (k + offset, _FAMS[f] * 4 + f"tail{sfx}")
            for k, (f, sfx) in sorted(batch.items())
        ]
        return spark.createDataFrame(rows, "doc_id int, text string")

    seen_store: set[int] = set()
    for batch, offset in ((b1, 0), (b2, 100)):
        df = mk(batch, offset)
        ids = {k + offset for k in batch}
        acc, rej = store.ingest(df, "text")
        acc_ids = {r.doc_id for r in acc.collect()}
        rej_rows = rej.collect()
        rej_ids = {r.doc_id for r in rej_rows}
        # partition of the batch
        assert acc_ids | rej_ids == ids
        assert not (acc_ids & rej_ids)
        # every rejection's survivor is stored, or a lower batch id
        for r in rej_rows:
            assert (r.dup_of in seen_store) or (
                r.dup_of in ids and r.dup_of < r.doc_id
            )
            assert 0.6 <= r.est_jaccard <= 1.0
        seen_store |= acc_ids
        assert {r.doc_id for r in cat.read("z.sigs").collect()} == seen_store

    # replay batch 2 verbatim: store must not grow
    acc3, _ = store.ingest(mk(b2, 100), "text")
    assert acc3.count() == 0
    assert {r.doc_id for r in cat.read("z.sigs").collect()} == seen_store


def test_probe_matches_ingest_and_leaves_store_unchanged(spark, cat):
    """probe() must return exactly the decisions ingest() would make
    on the same batch, without mutating the store (version, rows) —
    the idempotent read-only shape the bench re-runs."""
    store = MinHashDedupStore(cat, "dedup.probe", threshold=0.6)
    store.ingest(_docs(spark, [(1, BASE + "x"), (3, OTHER)]), "text")
    v0 = cat.latest_manifest("dedup.probe")["version"]

    batch = _docs(spark, [(10, BASE + "y"), (11, OTHER[::-1]), (12, BASE + "y2")])
    p_acc, p_rej = store.probe(batch, "text")
    probe_result = (
        sorted(r.doc_id for r in p_acc.collect()),
        sorted((r.doc_id, r.dup_of, r.est_jaccard) for r in p_rej.collect()),
    )
    # store untouched: same version, same rows; probe is repeatable
    assert cat.latest_manifest("dedup.probe")["version"] == v0
    assert sorted(r.doc_id for r in cat.read("dedup.probe").collect()) == [1, 3]
    p_acc2, p_rej2 = store.probe(batch, "text")
    assert probe_result == (
        sorted(r.doc_id for r in p_acc2.collect()),
        sorted((r.doc_id, r.dup_of, r.est_jaccard) for r in p_rej2.collect()),
    )

    i_acc, i_rej = store.ingest(batch, "text")
    assert probe_result == (
        sorted(r.doc_id for r in i_acc.collect()),
        sorted((r.doc_id, r.dup_of, r.est_jaccard) for r in i_rej.collect()),
    )


def test_probe_and_ingest_agree_on_shingleless_docs(spark, cat):
    """Docs too short to shingle (or NULL text) are unclassifiable by
    contract: BOTH probe and ingest must omit them from accepted and
    rejected alike — probe's accepted derivation must not silently
    admit what ingest would drop."""
    store = MinHashDedupStore(cat, "dedup.short", threshold=0.6)
    store.ingest(_docs(spark, [(1, BASE)]), "text")
    batch = spark.createDataFrame(
        [(10, BASE + "zz"), (11, "abc"), (12, None)],
        "doc_id int, text string",
    )
    p_acc, p_rej = store.probe(batch, "text")
    i_acc, i_rej = store.ingest(batch, "text")
    for acc, rej in ((p_acc, p_rej), (i_acc, i_rej)):
        acc_ids = {r.doc_id for r in acc.collect()}
        rej_ids = {r.doc_id for r in rej.collect()}
        assert rej_ids == {10}          # near-dup of stored doc 1
        assert acc_ids == set()         # 11/12 unclassifiable, not accepted
    assert sorted(r.doc_id for r in cat.read("dedup.short").collect()) == [1]


def test_append_bucketed_layout_guard(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    df = spark.createDataFrame([(1, "h1"), (2, "h2")], "id int, band_hash string")
    cat.append_bucketed(df, "t.bands", n_buckets=8, bucket_keys=["band_hash"])
    cat.append_bucketed(df, "t.bands", n_buckets=8, bucket_keys=["band_hash"])
    # two appends: every populated bucket lists its dirs cumulatively
    m = cat.latest_manifest("t.bands")
    assert sum(len(ds) for ds in m["bucket_dirs"].values()) == 4  # 2 rows x 2 appends
    assert cat.read("t.bands").count() == 4
    with pytest.raises(ValueError, match="layout mismatch"):
        cat.append_bucketed(df, "t.bands", n_buckets=16, bucket_keys=["band_hash"])
    with pytest.raises(ValueError, match="unbucketed"):
        cat.replace_atomic(df, "t.plain")
        cat.append_bucketed(df, "t.plain", n_buckets=8, bucket_keys=["band_hash"])


# -- the decision rule, replayed in pure Python --------------------------


def _sig_map(rows, k: int) -> dict:
    return {r.doc_id: [r[f"m{i}"] for i in range(k)] for r in rows}


def _est(x, y, store):
    """The estimate of a qualifying pair, else None: the pair collides
    when some band's components are all equal, and scores the fraction
    of equal components."""
    k, r = store.num_hashes, store.rows
    if not any(x[i:i + r] == y[i:i + r] for i in range(0, k, r)):
        return None
    e = sum(p == q for p, q in zip(x, y)) / k
    return e if e >= store.threshold else None


def _replay_legs(batch: dict, stored: dict, store) -> dict:
    """Per batch doc, the qualifying ``(min dup_of, max est)`` of each
    leg, from the signature arrays alone. The store leg rejects any
    batch doc with a qualifying stored pair; the batch leg lets a
    lower-id batch doc the store does not reject reject a higher one
    (one hop)."""
    legs: dict = {}

    def add(doc, leg, dup, e):
        d0, e0 = legs.setdefault(doc, {}).get(leg, (dup, e))
        legs[doc][leg] = (min(d0, dup), max(e0, e))

    for a, sa in batch.items():
        for s, ss in stored.items():
            if (e := _est(sa, ss, store)) is not None:
                add(a, "store", s, e)
    for a, sa in batch.items():
        if "store" in legs.get(a, {}):
            continue
        for b, sb in batch.items():
            if a < b and (e := _est(sa, sb, store)) is not None:
                add(b, "batch", a, e)
    return legs


def _replay(legs: dict) -> set:
    """(doc_id, dup_of, est_jaccard) per rejected doc: the leg with the
    smaller dup_of, the store leg on a tie."""
    out = set()
    for doc, leg in legs.items():
        s, b = leg.get("store"), leg.get("batch")
        out.add((doc, *(s if s and (not b or s[0] <= b[0]) else b)))
    return out


def _decisions(acc, rej) -> tuple:
    return (
        {r.doc_id for r in acc.collect()},
        {(r.doc_id, r.dup_of, r.est_jaccard) for r in rej.collect()},
    )


def _words(rng, n: int) -> list[str]:
    return ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                    for _ in range(rng.randint(3, 8))) for _ in range(n)]


def _slide(words: list[str], step: int) -> str:
    """40 words from ``6 * step`` on: neighbouring steps share ~0.72 of
    their shingles (near-dups at 0.6), steps two apart ~0.5."""
    return " ".join(words[6 * step: 6 * step + 40])


@pytest.mark.parametrize("seed", [3, 17])
def test_probe_and_ingest_follow_the_replayed_rule(spark, cat, seed):
    """Random batches against a store: probe and ingest reject exactly
    the ``(doc_id, dup_of, est_jaccard)`` a pure-Python replay of the
    documented rule derives from the signature arrays, and accept the
    rest of the shingled docs. Each batch holds multi-band collisions,
    a 3-doc within-batch chain, a doc whose lower-id neighbour the
    store rejects, and shingle-less / NULL texts."""
    import random

    rng = random.Random(seed)
    # 128 hashes in 32 bands (σ ≈ 0.04): a 0.72 pair collides and
    # scores ≥ 0.6 reliably, a 0.5 one does not, so the named cases hold
    store = MinHashDedupStore(
        cat, f"dedup.rule{seed}", num_hashes=128, bands=32, threshold=0.6
    )
    k = store.num_hashes
    fams = [_words(rng, 80) for _ in range(4)]

    # store: step 0 of families 0-1, plus a few near-dup chains of its own
    base = [(1, _slide(fams[0], 0)), (2, _slide(fams[1], 0))]
    base += [(3 + i, _slide(fams[2], rng.randint(0, 4))) for i in range(4)]
    b0 = _docs(spark, base)
    sig0 = _sig_map(store._signatures(b0, "text").collect(), k)
    want0 = _replay(_replay_legs(sig0, {}, store))
    assert _decisions(*store.ingest(b0, "text"))[1] == want0
    stored = _sig_map(cat.read(store.table).collect(), k)

    rows = [
        (20, _slide(fams[0], 0)),  # all bands: duplicate of stored 1
        (21, _slide(fams[0], 1)),  # store rejects 21 (via 1) ...
        (22, _slide(fams[0], 2)),  # ... so 21 cannot reject 22
        (30, _slide(fams[3], 0)),  # chain 30 → 31 → 32 (one hop:
        (31, _slide(fams[3], 1)),  # 31 is batch-rejected yet still
        (32, _slide(fams[3], 2)),  # rejects 32)
        (40, "abc"),               # shingle-less
        (41, None),                # NULL
    ]
    rows += [
        (50 + i, _slide(fams[rng.randint(1, 3)], rng.randint(0, 4)))
        for i in range(8)
    ]
    rng.shuffle(rows)
    batch = _docs(spark, rows)
    sigs = _sig_map(store._signatures(batch, "text").collect(), k)
    assert set(sigs) == {d for d, t in rows if t and len(t) >= store.shingle_len}
    legs = _replay_legs(sigs, stored, store)
    want = _replay(legs)
    # the named cases are present, so the comparison is not vacuous
    assert legs[20]["store"] == (1, 1.0) and "store" in legs[21]
    assert _est(sigs[21], sigs[22], store) is not None
    assert legs.get(22, {}).get("batch", (None,))[0] != 21
    assert legs[31]["batch"][0] == 30 and legs[32]["batch"][0] == 31

    expected = (set(sigs) - {d for d, *_ in want}, want)
    assert _decisions(*store.probe(batch, "text")) == expected
    assert _decisions(*store.ingest(batch, "text")) == expected


def test_store_leg_wins_a_same_dup_of_tie(spark, cat):
    """A batch that re-uses stored id 5 for new content: doc 7 is a
    near-dup of stored 5 AND of the (store-clean) batch 5, so both legs
    name dup_of 5 with different estimates. The store leg wins."""
    import random

    words = _words(random.Random(5), 80)
    store = MinHashDedupStore(
        cat, "dedup.tie", num_hashes=64, bands=16, threshold=0.6
    )
    store.ingest(_docs(spark, [(5, " ".join(words[0:40]))]), "text")
    stored = _sig_map(cat.read(store.table).collect(), store.num_hashes)
    batch = _docs(
        spark, [(5, " ".join(words[14:54])), (7, " ".join(words[6:46]))]
    )
    sigs = _sig_map(store._signatures(batch, "text").collect(), store.num_hashes)
    legs = _replay_legs(sigs, stored, store)
    assert 5 not in legs  # batch 5 is store-clean
    s, b = legs[7]["store"], legs[7]["batch"]
    assert s[0] == b[0] == 5 and s[1] != b[1]
    want = {(7, 5, s[1])}
    assert _decisions(*store.probe(batch, "text"))[1] == want
    assert _decisions(*store.ingest(batch, "text"))[1] == want

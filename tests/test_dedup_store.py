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

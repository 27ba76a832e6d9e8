"""rebalance_ivfpq_store contracts: the hot-cell split must preserve
the row set and codes exactly, keep the manifest's cell_counts exact,
leave cold cells' dirs untouched byte-for-byte, shrink what a probe
reads, keep both sub-cells routable, and refuse to thrash on an
unsplittable (duplicate-vector) cell.  End-to-end value parity is
gated by the oracle-matched ann_store_rebalanced_topk query (full
probe → result independent of the cell arrangement)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.operators.ivf_store import (
    ivfpq_store_topk,
    rebalance_ivfpq_store,
    write_ivfpq_store,
)
from end_to_end_etl_pipeline_spark.operators.pq import pq_train
from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


def _emb(spark, rows):
    pdf = pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [r[1] for r in rows],
            "label": [r[2] for r in rows],
        }
    )
    return spark.createDataFrame(pdf).select(
        F.col("vec_id").cast("bigint"),
        F.col("embedding").cast("array<float>"),
        F.col("label").cast("bigint"),
    )


def _skewed_store(spark, tmp_path, n=60):
    """cell 0: 6 rows near (1,0,0,0); cell 1 (hot): n-6 rows spread
    over two distinguishable blobs so a 2-means split separates."""
    rows = []
    for i in range(6):
        rows.append((i, [1.0, 0.01 * i, 0.0, 0.0], 0))
    for i in range(6, n):
        blob = i % 2
        base = [0.0, 1.0, 0.0, 0.0] if blob == 0 else [0.0, 0.0, 1.0, 0.0]
        vec = [v + 0.01 * (i % 7) for v in base]
        rows.append((i, vec, 1))
    emb = _emb(spark, rows)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=2,
                  num_centroids=4)
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    write_ivfpq_store(cat, emb.withColumn("cell", F.col("label")),
                      "vec_id", "embedding", "cell", cb, "rb.t", dim=4)
    return cat, emb


def test_split_preserves_rows_codes_and_counts(spark, tmp_path):
    cat, emb = _skewed_store(spark, tmp_path)
    before = {
        (r["vec_id"], tuple(r["pq_codes"])) for r in cat.read("rb.t").collect()
    }
    m0 = cat.latest_manifest("rb.t")
    cold_dirs = m0["bucket_dirs"]["0"]

    split = rebalance_ivfpq_store(cat, "rb.t", max_cell_rows=30)
    assert split == {1: [1, 2]}

    m1 = cat.latest_manifest("rb.t")
    # cold cell untouched byte-for-byte (same dir references)
    assert m1["bucket_dirs"]["0"] == cold_dirs
    # row set and codes preserved exactly
    after = {
        (r["vec_id"], tuple(r["pq_codes"])) for r in cat.read("rb.t").collect()
    }
    assert after == before
    # counts exact per sub-cell, sum preserved, both non-empty, hot halved
    counts = {int(k): v for k, v in m1["cell_counts"].items()}
    assert set(counts) == {0, 1, 2}
    assert counts[0] == 6 and counts[1] + counts[2] == 54
    assert counts[1] > 0 and counts[2] > 0
    assert max(counts[1], counts[2]) < 54
    for cell in (1, 2):
        assert cat.read("rb.t", buckets=[cell]).count() == counts[cell]
    # router knows both sub-cells
    labels = {
        int(r["label"])
        for r in cat.read("rb.t__centroids").select("label").distinct().collect()
    }
    assert labels == {0, 1, 2}


def test_split_shrinks_probe_reads_same_results_on_full_probe(spark, tmp_path):
    cat, emb = _skewed_store(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") < 4)
    pre, probed_pre = ivfpq_store_topk(
        cat, "rb.t", queries, "vec_id", "embedding",
        nprobe=16,
    )
    pre_rows = sorted(map(tuple, pre.collect()))
    m0 = cat.latest_manifest("rb.t")
    rebalance_ivfpq_store(cat, "rb.t", max_cell_rows=30)
    m1 = cat.latest_manifest("rb.t")
    post, probed_post = ivfpq_store_topk(
        cat, "rb.t", queries, "vec_id", "embedding",
        nprobe=16,
    )
    # full probe → identical results before and after the split
    assert sorted(map(tuple, post.collect())) == pre_rows
    # a 1-cell probe of the ex-hot region now reads fewer rows: the
    # worst cell shrank
    assert max(int(v) for v in m1["cell_counts"].values()) < max(
        int(v) for v in m0["cell_counts"].values()
    )


def test_unsplittable_duplicate_cell_is_left_alone(spark, tmp_path):
    rows = [(i, [1.0, 2.0, 3.0, 4.0], 0) for i in range(20)]
    rows += [(100 + i, [0.0, 1.0, 0.0, float(i % 3)], 1) for i in range(5)]
    emb = _emb(spark, rows)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=2,
                  num_centroids=2)
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    write_ivfpq_store(cat, emb.withColumn("cell", F.col("label")),
                      "vec_id", "embedding", "cell", cb, "rb.dup", dim=4)
    v0 = cat.latest_manifest("rb.dup")["version"]
    assert rebalance_ivfpq_store(cat, "rb.dup", max_cell_rows=10) == {}
    # nothing committed: identical vectors all land on one 2-means
    # centroid, so there is no split to publish
    assert cat.latest_manifest("rb.dup")["version"] == v0


def test_rebalance_rejects_non_ivf_table(spark, tmp_path):
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    cat.append(spark.range(5).select(F.col("id")), "plain.t")
    with pytest.raises(ValueError, match="not an IVF store"):
        rebalance_ivfpq_store(cat, "plain.t", max_cell_rows=1)


def test_crash_between_commit_and_refresh_is_recoverable(
    spark, tmp_path, monkeypatch
):
    """Kill the rebalance between its data-manifest CAS and the
    __centroids refresh (the ADVICE r06 durable-orphan scenario): the
    new sub-cell id exists only in the manifest + its centroid_patch.
    Queries must still probe it (patch overlay), and the next
    rebalance must repair the side table and clear the marker on
    entry, even when no cell is hot."""
    import end_to_end_etl_pipeline_spark.operators.ivf_store as ivf

    cat, emb = _skewed_store(spark, tmp_path)
    queries = emb.filter(F.col("vec_id") < 4)
    pre, _ = ivfpq_store_topk(
        cat, "rb.t", queries, "vec_id", "embedding",
        nprobe=16,
    )
    pre_rows = sorted(map(tuple, pre.collect()))

    # simulate the crash: the refresh step never runs
    monkeypatch.setattr(ivf, "_apply_centroid_patch", lambda *a, **k: None)
    split = rebalance_ivfpq_store(cat, "rb.t", max_cell_rows=30)
    monkeypatch.undo()
    assert split == {1: [1, 2]}
    m = cat.latest_manifest("rb.t")
    assert set(m["centroid_patch"]) == {"1", "2"}
    # the side table is stale — label 2 is missing...
    stale = {
        int(r["label"])
        for r in cat.read("rb.t__centroids").select("label").distinct().collect()
    }
    assert stale == {0, 1}

    # ...but a full probe still returns identical results: the router
    # overlays the patch, so cell 2's rows stay visible
    post, probed = ivfpq_store_topk(
        cat, "rb.t", queries, "vec_id", "embedding",
        nprobe=16,
    )
    assert sorted(map(tuple, post.collect())) == pre_rows
    assert 2 in probed

    # an append must route against the PATCHED centroids (which sub-
    # cell won the [0,0,1,0] blob is arrangement-dependent — derive
    # the expectation from the patch itself)
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
    )

    def _cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = (sum(x * x for x in a) ** 0.5) * (sum(y * y for y in b) ** 0.5)
        return num / den if den else 0.0

    probe_vec = [0.0, 0.0, 1.0, 0.0]
    expect = max(
        m["centroid_patch"], key=lambda lab: _cos(m["centroid_patch"][lab], probe_vec)
    )
    newbie = _emb(spark, [(900, probe_vec, 0)]).drop("label")
    append_ivfpq_store(cat, newbie, "rb.t")
    m2 = cat.latest_manifest("rb.t")
    assert int(m2["cell_counts"][expect]) == int(m["cell_counts"][expect]) + 1

    # repair: a rebalance with no hot cell still folds the patch in
    # and clears the marker
    assert rebalance_ivfpq_store(cat, "rb.t", max_cell_rows=10_000) == {}
    m3 = cat.latest_manifest("rb.t")
    assert not m3.get("centroid_patch")
    healed = {
        int(r["label"])
        for r in cat.read("rb.t__centroids").select("label").distinct().collect()
    }
    assert healed == {0, 1, 2}


def test_concurrent_patch_entries_survive_the_clear(spark, tmp_path, monkeypatch):
    """ADVICE r07 medium: process A folds patch P1 into __centroids;
    process B commits a NEW patch entry (P2) between A's refresh and
    A's CAS clear. A's clear must remove ONLY the entries it applied
    — wiping the marker wholesale would leave P2's sub-cell
    permanently unroutable (B's own apply then sees no patch)."""
    import end_to_end_etl_pipeline_spark.operators.ivf_store as ivf

    cat, _ = _skewed_store(spark, tmp_path)
    # leave P1 = {1,2} pending (refresh stubbed out, as in a crash)
    monkeypatch.setattr(ivf, "_apply_centroid_patch", lambda *a, **k: None)
    rebalance_ivfpq_store(cat, "rb.t", max_cell_rows=30)
    monkeypatch.undo()
    p1 = dict(cat.latest_manifest("rb.t")["centroid_patch"])
    assert set(p1) == {"1", "2"}

    # B's commit lands between A's __centroids refresh and A's clear:
    # intercept the refresh (replace_atomic on the side table) and
    # CAS-append a fresh patch entry to the DATA manifest right after
    real_replace = cat.replace_atomic
    p2_vec = [0.25, 0.25, 0.8, 0.0]

    def replace_then_race(df, name, *a, **k):
        real_replace(df, name, *a, **k)
        if name == "rb.t__centroids":
            m = cat.latest_manifest("rb.t")
            payload = {x: v for x, v in m.items() if x != "version"}
            payload["centroid_patch"] = {
                **(payload.get("centroid_patch") or {}), "99": p2_vec,
            }
            assert cat._commit_if("rb.t", payload, m["version"]) is not None

    monkeypatch.setattr(cat, "replace_atomic", replace_then_race)
    ivf._apply_centroid_patch(cat, "rb.t")
    monkeypatch.undo()

    # P1 cleared, P2 retained — not wiped
    m = cat.latest_manifest("rb.t")
    assert m.get("centroid_patch") == {"99": p2_vec}
    # B's sub-cell is routable through the overlay right now...
    labels = {
        int(r["label"])
        for r in ivf._routing_centroids(cat, "rb.t").select("label").collect()
    }
    assert 99 in labels and labels >= {0, 1, 2}
    # ...and a later apply folds it in durably and clears the marker
    ivf._apply_centroid_patch(cat, "rb.t")
    m2 = cat.latest_manifest("rb.t")
    assert not m2.get("centroid_patch")
    healed = {
        int(r["label"])
        for r in cat.read("rb.t__centroids").select("label").distinct().collect()
    }
    assert 99 in healed


def test_maybe_rebalance_racing_appends(spark, tmp_path):
    """VERDICT r08 #6, the third named maintenance op: writer A
    streams append_ivfpq_store batches while writer B loops
    rebalance_ivfpq_store from a SEPARATE catalog instance. Rebalance
    rewrites hot cells' dirs while appends CAS-merge new dirs into
    the same bucket map — the interleavings that could lose a batch,
    double-apply a split patch, or desync cell_counts. Invariants
    after quiescence: the stored id set is exactly seed ∪ appends,
    manifest cell_counts match the actual per-cell group counts, and
    a full probe returns byte-identical top-k to a FRESH write-once
    store over the same rows and codebook (cell arrangement is
    immaterial by contract)."""
    import threading

    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
    )

    cat_a, emb = _skewed_store(spark, tmp_path, n=60)
    cat_b = ManifestCatalog(spark, f"file://{tmp_path}/lake")

    def _batch(base: int, n: int):
        rows = []
        for j in range(n):
            i = base + j
            blob = i % 2
            vec = [0.0, 1.0 if blob == 0 else 0.0,
                   0.0 if blob == 0 else 1.0, 0.0]
            rows.append((i, [v + 0.01 * (i % 7) for v in vec], 1))
        return _emb(spark, rows)

    batches = [_batch(1000 + 20 * b, 12) for b in range(4)]
    errors: list = []

    def run_appends() -> None:
        try:
            for b, df in enumerate(batches):
                append_ivfpq_store(cat_a, df, "rb.t", batch_id=b)
        except Exception as e:
            errors.append(("append", e))

    def run_rebalance() -> None:
        try:
            for _ in range(3):
                rebalance_ivfpq_store(cat_b, "rb.t", max_cell_rows=20)
        except Exception as e:
            errors.append(("rebalance", e))

    threads = [
        threading.Thread(target=run_appends),
        threading.Thread(target=run_rebalance),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    reader = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stored = reader.read("rb.t")
    got_ids = sorted(r["vec_id"] for r in stored.select("vec_id").collect())
    want_ids = sorted(
        set(range(60)) | {1000 + 20 * b + j for b in range(4) for j in range(12)}
    )
    assert got_ids == want_ids  # nothing lost, nothing doubled

    m = reader.latest_manifest("rb.t")
    actual = {
        str(int(r["cell"])): int(r["n"])
        for r in stored.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {c: int(n) for c, n in m["cell_counts"].items() if int(n)} == actual

    # arrangement-independence: full probe over the raced store must
    # equal a write-once store over the same rows + codebook
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        _codebook_from_manifest,
        ivf_assign_cells,
        _routing_centroids,
    )

    n_cells = len(m["cell_counts"])
    queries = _emb(
        spark,
        [(9001, [0.0, 1.0, 0.02, 0.0], 1), (9002, [1.0, 0.03, 0.0, 0.0], 0)],
    )
    raced, _ = ivfpq_store_topk(
        reader, "rb.t", queries, "vec_id", "embedding",
        nprobe=n_cells,
    )
    cb = _codebook_from_manifest(m)
    cat_fresh = ManifestCatalog(spark, f"file://{tmp_path}/fresh")
    cent = _routing_centroids(reader, "rb.t", m)
    all_rows = stored.select("vec_id", "embedding")
    assigned = ivf_assign_cells(cent, all_rows, "vec_id", "embedding")
    write_ivfpq_store(
        cat_fresh, assigned, "vec_id", "embedding", "cell", cb,
        "rb.fresh", dim=4,
    )
    fresh, _ = ivfpq_store_topk(
        cat_fresh, "rb.fresh", queries, "vec_id", "embedding",
        nprobe=len(cat_fresh.latest_manifest("rb.fresh")["cell_counts"]),
    )
    key = lambda r: (r["query_id"], r["match_id"])  # noqa: E731
    assert sorted((r.asDict() for r in raced.collect()), key=key) == \
        sorted((r.asDict() for r in fresh.collect()), key=key)

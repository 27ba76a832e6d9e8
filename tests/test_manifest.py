"""Manifest catalog: versioned commits, crash windows, optimistic
concurrency, and bucketed-store layouts."""

import json
import os

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog


@pytest.fixture
def cat(spark, tmp_path):
    # file: URI so every op goes through the Hadoop FileSystem path
    return ManifestCatalog(spark, f"file://{tmp_path}/lake")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_commit_read_replace(spark, cat):
    assert not cat.exists("silver.t")
    cat.replace_atomic(_df(spark, [(1, "a"), (2, "b")]), "silver.t")
    assert cat.exists("silver.t")
    assert sorted(r.k for r in cat.read("silver.t").collect()) == [1, 2]
    cat.replace_atomic(_df(spark, [(3, "c")]), "silver.t")
    assert sorted(r.k for r in cat.read("silver.t").collect()) == [3]
    # both versions retained in the log
    assert [m["version"] for m in [cat.latest_manifest("silver.t")]] == [2]


def test_append_accumulates_dirs(spark, cat):
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.append(_df(spark, [(2, "b")]), "t")
    assert sorted(r.k for r in cat.read("t").collect()) == [1, 2]
    assert len(cat.latest_manifest("t")["dirs"]) == 2


def test_uncommitted_data_dir_invisible(spark, cat, tmp_path):
    """Crash between data write and manifest publish: readers keep
    seeing the previous committed state."""
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    orphan = cat._new_data_dir("t")
    _df(spark, [(99, "zz")]).write.parquet(orphan)  # no commit
    assert sorted(r.k for r in cat.read("t").collect()) == [1]


def test_commit_retries_on_version_collision(spark, cat, tmp_path):
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    # another writer published version 2 concurrently
    m2 = cat.latest_manifest("t") | {"version": 2}
    mdir = cat._manifest_dir("t").replace("file:", "")
    with open(os.path.join(mdir, "manifest-00000002.json"), "w") as f:
        json.dump(m2, f)
    cat.replace_atomic(_df(spark, [(3, "c")]), "t")
    assert cat.latest_manifest("t")["version"] == 3
    assert sorted(r.k for r in cat.read("t").collect()) == [3]


def test_append_schema_evolution(spark, cat):
    """K9: a column added in a later append reads as NULL for older
    data dirs (the reference needs ALTER TABLE ADD COLUMN for this,
    b2s_yfinance.py:46-61)."""
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    wider = spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double")
    cat.append(wider, "t")
    out = cat.read("t")
    assert set(out.columns) == {"k", "v", "score"}
    rows = {r.k: r for r in out.collect()}
    assert rows[1].score is None  # backfilled NULL on the old dir
    assert rows[2].score == 9.5
    # the replace recorded its schema; the widening append must not
    # carry it, or the new column would vanish from reads
    assert "schema" in cat.manifest_at("t", 1)
    assert "schema" not in cat.latest_manifest("t")


def test_optimize_compacts_and_vacuum_collects(spark, cat):
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.append(_df(spark, [(2, "b")]), "t")
    cat.append(_df(spark, [(3, "c")]), "t")
    assert len(cat.latest_manifest("t")["dirs"]) == 3
    # crash orphan: data written, never committed
    orphan = cat._new_data_dir("t")
    _df(spark, [(99, "zz")]).write.parquet(orphan)

    cat.optimize("t")
    assert len(cat.latest_manifest("t")["dirs"]) == 1
    assert sorted(r.k for r in cat.read("t").collect()) == [1, 2, 3]

    deleted = cat.vacuum("t", min_age_seconds=0)
    # 3 superseded dirs + 1 orphan gone, compacted dir retained
    assert len(deleted) == 4
    assert sorted(r.k for r in cat.read("t").collect()) == [1, 2, 3]
    assert cat._versions("t") == [cat.latest_manifest("t")["version"]]
    data_dirs = cat.fs.listdir(cat.table_dir("t") + "/data")
    assert len(data_dirs) == 1


def _rows(cat, name):
    return sorted((r.k, r.v) for r in cat.read(name).collect())


def test_optimize_preserves_buckets(spark, cat):
    cat.append_bucketed(_df(spark, [(i, f"v{i}") for i in range(12)]), "d", 4, ["k"])
    cat.append_bucketed(_df(spark, [(1, "x")]), "d", 4, ["k"])
    before = _rows(cat, "d")
    cat.optimize("d")
    assert _rows(cat, "d") == before
    m = cat.latest_manifest("d")
    assert m["n_buckets"] == 4
    # every bucket now points at exactly one (compacted) dir
    assert all(len(ds) == 1 for ds in m["bucket_dirs"].values())
    cat.vacuum("d", min_age_seconds=0)
    assert _rows(cat, "d") == before


def test_vacuum_safe_on_schemeless_root_and_young_dirs(spark, tmp_path):
    """Regression: a plain-path root (no file:// scheme) must not
    defeat the referenced-set check (qualified-path comparison), and
    dirs younger than the age floor survive as possible in-flight
    writers."""
    cat = ManifestCatalog(spark, str(tmp_path / "lake2"))  # no scheme
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.replace_atomic(_df(spark, [(2, "b")]), "t")
    deleted = cat.vacuum("t", min_age_seconds=0)
    assert len(deleted) == 1  # only the superseded v1 dir
    assert sorted(r.k for r in cat.read("t").collect()) == [2]
    # the default age floor protects a young in-flight writer's dir
    inflight = cat._new_data_dir("t")
    _df(spark, [(9, "z")]).write.parquet(inflight)  # not yet committed
    assert cat.vacuum("t") == []
    assert cat.fs.exists(inflight)


def test_time_travel_reads(spark, cat):
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.replace_atomic(_df(spark, [(2, "b"), (3, "c")]), "t")
    assert sorted(r.k for r in cat.read("t").collect()) == [2, 3]
    assert sorted(r.k for r in cat.read("t", version=1).collect()) == [1]
    # vacuumed versions are gone (data dirs collected)
    cat.vacuum("t", min_age_seconds=0)
    import pytest as _pytest

    with _pytest.raises(Exception):
        cat.read("t", version=1).collect()


def test_diff_versions_rowwise(spark, cat):
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c")], "id long, v string"
    )
    cat.replace_atomic(v1, "cdc.rows")
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")], "id long, v string"
    )
    cat.replace_atomic(v2, "cdc.rows")
    out = cat.diff_versions("cdc.rows", 1, 2)
    got = sorted((r.id, r.v, r._change_type) for r in out.collect())
    # multiset semantics: one of the duplicate (3,'c') rows is a delete
    assert got == [
        (2, "B", "insert"),
        (2, "b", "delete"),
        (3, "c", "delete"),
        (4, "d", "insert"),
    ]


def test_scratch_root_reaps_only_stale_siblings(spark, sf_dir):
    """A lake-building query's run must leave a concurrent run's fresh
    scratch lake alone, and reap one older than the hour cutoff."""
    import shutil
    import tempfile
    import time

    from end_to_end_etl_pipeline_spark.queries.catalog import REGISTRY

    parent = "/tmp/spark_graft_cdf"  # orders_change_data_feed's parent
    os.makedirs(parent, exist_ok=True)
    fresh = tempfile.mkdtemp(dir=parent)
    stale = tempfile.mkdtemp(dir=parent)
    two_hours_ago = time.time() - 7200
    os.utime(stale, (two_hours_ago, two_hours_ago))
    try:
        REGISTRY["orders_change_data_feed"].spark(spark, sf_dir).count()
        assert os.path.isdir(fresh)
        assert not os.path.exists(stale)
    finally:
        shutil.rmtree(fresh, ignore_errors=True)
        shutil.rmtree(stale, ignore_errors=True)


def test_diff_versions_keyed_cdc(spark, cat):
    v1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (None, "nk", 1.0)],
        "id long, v string, x double",
    )
    cat.replace_atomic(v1, "cdc.keyed")
    v2 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b2", 20.0), (4, "d", 40.0), (None, "nk", 2.0)],
        "id long, v string, x double",
    )
    cat.replace_atomic(v2, "cdc.keyed")
    out = cat.diff_versions("cdc.keyed", 1, keys=["id"])  # v_to defaults to latest
    got = sorted(
        ((r.id if r.id is not None else -1), r.v, r.x, r._change_type)
        for r in out.collect()
    )
    assert got == [
        (-1, "nk", 1.0, "update_pre"),  # NULL keys match null-safely
        (-1, "nk", 2.0, "update_post"),
        (2, "b", 20.0, "update_pre"),
        (2, "b2", 20.0, "update_post"),
        (3, "c", 30.0, "delete"),
        (4, "d", 40.0, "insert"),
    ]
    # unchanged key 1 emits nothing
    assert out.filter(F.col("id") == 1).count() == 0


def test_diff_versions_schema_evolution_reads_null_old(spark, cat):
    cat.replace_atomic(
        spark.createDataFrame([(1, "a")], "id long, v string"), "cdc.evo"
    )
    cat.append(
        spark.createDataFrame([(2, "b", 9.0)], "id long, v string, score double"),
        "cdc.evo",
    )
    out = cat.diff_versions("cdc.evo", 1, 2, keys=["id"])
    got = {(r.id, r.v, r.score, r._change_type) for r in out.collect()}
    assert got == {(2, "b", 9.0, "insert")}


def test_stats_pruned_range_read(spark, cat):
    for lo in (0, 10, 20):
        cat.append(
            spark.createDataFrame(
                [(k, f"v{k}") for k in range(lo, lo + 10)], "k int, v string"
            ),
            "skip.t",
            stats_cols=["k"],
        )
    # range inside the middle batch: exactly one dir survives pruning
    assert len(cat.pruned_dirs("skip.t", "k", 12, 18)) == 1
    got = sorted(r.k for r in cat.read_range("skip.t", "k", 12, 18).collect())
    assert got == list(range(12, 19))
    # same rows as the unpruned filter - skipping never changes results
    full = sorted(
        r.k for r in cat.read("skip.t").filter(F.col("k").between(12, 18)).collect()
    )
    assert got == full
    # boundary overlap keeps both touching dirs
    assert len(cat.pruned_dirs("skip.t", "k", 9, 10)) == 2
    # out-of-range: zero dirs, empty frame, schema intact
    empty = cat.read_range("skip.t", "k", 100, 200)
    assert empty.count() == 0 and empty.columns == ["k", "v"]


def test_stats_absent_dirs_are_kept(spark, cat):
    cat.append(spark.createDataFrame([(1, "a")], "k int, v string"), "skip.mixed")
    cat.append(
        spark.createDataFrame([(50, "z")], "k int, v string"),
        "skip.mixed",
        stats_cols=["k"],
    )
    # stat-less first dir must always be scanned (no false pruning)
    assert len(cat.pruned_dirs("skip.mixed", "k", 40, 60)) == 2
    assert sorted(r.k for r in cat.read_range("skip.mixed", "k", 40, 60).collect()) == [50]


def test_diff_versions_replays_old_to_new(spark, cat):
    """CDC soundness: v1 minus (deletes ∪ update_pre) plus
    (inserts ∪ update_post) must reconstruct v2 exactly."""
    v1 = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(20)], "id long, v string, x double"
    )
    cat.replace_atomic(v1, "cdc.replay")
    v2 = spark.createDataFrame(
        # drop ids 0-4, mutate 5-9, keep 10-19, add 20-24
        [(i, f"v{i}*", float(i) + 0.5) for i in range(5, 10)]
        + [(i, f"v{i}", float(i)) for i in range(10, 20)]
        + [(i, f"v{i}", float(i)) for i in range(20, 25)],
        "id long, v string, x double",
    )
    cat.replace_atomic(v2, "cdc.replay")
    feed = cat.diff_versions("cdc.replay", 1, 2, keys=["id"]).persist()
    removed = feed.filter(F.col("_change_type").isin("delete", "update_pre")).drop(
        "_change_type"
    )
    added = feed.filter(F.col("_change_type").isin("insert", "update_post")).drop(
        "_change_type"
    )
    rebuilt = cat.read("cdc.replay", version=1).exceptAll(removed).unionByName(added)
    assert rebuilt.exceptAll(cat.read("cdc.replay", version=2)).count() == 0
    assert cat.read("cdc.replay", version=2).exceptAll(rebuilt).count() == 0
    assert feed.count() == 5 + 2 * 5 + 5  # deletes + pre/post pairs + inserts


def test_zorder_key_interleaves_bits(spark):
    from end_to_end_etl_pipeline_spark.sinks.zorder import zorder_key

    # 8-bit quantization over [0,3]x[0,3] (0 -> 0, 1 -> 85, 2 -> 170,
    # 3 -> 255): the Morton codes are hand-computable (x bits at even
    # positions, y bits at odd ones).
    df = spark.createDataFrame(
        [(0, 0), (3, 0), (0, 3), (3, 3), (2, 1)], "x int, y int"
    )
    z = {(r.x, r.y): r.z for r in df.withColumn(
        "z", zorder_key(df, ["x", "y"])).collect()}
    assert z[(0, 0)] == 0
    assert z[(3, 0)] == 0x5555       # x=11111111 at the even bits
    assert z[(0, 3)] == 0xAAAA       # y=11111111 at the odd bits
    assert z[(3, 3)] == 0xFFFF
    assert z[(2, 1)] == 0x6666       # x=10101010, y=01010101
    with pytest.raises(ValueError, match="overflows"):
        zorder_key(df, ["x", "y"] * 4)  # 8 bits x 8 cols > 62


def test_zorder_rewrite_prunes_both_dimensions(spark, cat):
    from pyspark.sql import functions as F2

    # 32x32 grid: x and y are independent and uniform - a linear sort
    # on x cannot cluster y, the Morton layout clusters both.
    grid = spark.range(1024).select(
        (F2.col("id") % 32).cast("int").alias("x"),
        (F2.col("id") / 32).cast("int").alias("y"),
    )
    cat.replace_atomic(grid, "z.t")
    cat.optimize_zorder("z.t", ["x", "y"])
    # every dimension prunes: a 4-wide slab on either axis must skip
    # at least half of the 8 dirs (the dirs split the key on its top
    # three bits: y's top two and x's top one).
    x_dirs = cat.pruned_dirs("z.t", "x", 0, 3)
    y_dirs = cat.pruned_dirs("z.t", "y", 0, 3)
    assert len(x_dirs) <= 4, f"x slab hit {len(x_dirs)} of 8 dirs"
    assert len(y_dirs) <= 4, f"y slab hit {len(y_dirs)} of 8 dirs"
    # pruning never changes results
    got = sorted(
        (r.x, r.y) for r in cat.read_range("z.t", "y", 0, 3).collect()
    )
    assert got == sorted((x, y) for x in range(32) for y in range(4))
    # bucketed tables refuse zorder
    cat.append_bucketed(_df(spark, [(1, "a")]), "z.bkt", 4, ["k"])
    with pytest.raises(ValueError, match="bucketed"):
        cat.optimize_zorder("z.bkt", ["k"])


def test_zorder_refuses_empty_or_allnull(spark, cat):
    from end_to_end_etl_pipeline_spark.sinks.zorder import zorder_key

    empty = spark.createDataFrame([], "x int, y int")
    with pytest.raises(ValueError, match="no non-null"):
        zorder_key(empty, ["x", "y"])
    allnull = spark.createDataFrame([(None, 1)], "x int, y int")
    with pytest.raises(ValueError, match="no non-null"):
        zorder_key(allnull, ["x", "y"])


def test_append_rebases_on_concurrent_commit(spark, cat, tmp_path):
    """Lost-update guard: an append must rebase onto a manifest
    committed AFTER it read the log, keeping the concurrent dirs."""
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    base = cat.latest_manifest("t")
    # concurrent appender publishes v2 with its own dir
    other_dir = cat._new_data_dir("t")
    _df(spark, [(50, "x")]).write.parquet(other_dir.replace("file:", ""))
    m2 = {
        "dirs": base["dirs"] + [other_dir],
        "bucket_dirs": None, "n_buckets": None, "stats": None,
    }
    assert cat._commit_if("t", m2, base["version"]) == 2
    cat.append(_df(spark, [(2, "b")]), "t")
    latest = cat.latest_manifest("t")
    assert latest["version"] == 3
    assert len(latest["dirs"]) == 3  # base + concurrent + ours
    assert sorted(r.k for r in cat.read("t").collect()) == [1, 2, 50]


def test_replace_atomic_refuses_bucketed(spark, cat):
    cat.append_bucketed(_df(spark, [(1, "a")]), "d2", 4, ["k"])
    with pytest.raises(ValueError, match="bucketed"):
        cat.replace_atomic(_df(spark, [(9, "z")]), "d2")
    assert _rows(cat, "d2") == [(1, "a")]


def test_read_empty_bucket_selection_is_empty_frame(spark, cat):
    cat.append_bucketed(_df(spark, [(1, "a")]), "d3", 4, ["k"])
    used = {
        int(b) for b, ds in cat.latest_manifest("d3")["bucket_dirs"].items() if ds
    }
    empty_bucket = next(b for b in range(4) if b not in used)
    out = cat.read("d3", buckets=[empty_bucket])
    assert out.count() == 0 and "k" in out.columns


def test_optimize_recomputes_stats(spark, cat):
    for lo in (0, 10):
        cat.append(
            spark.createDataFrame([(k, "v") for k in range(lo, lo + 10)],
                                  "k int, v string"),
            "skip.opt", stats_cols=["k"],
        )
    cat.optimize("skip.opt")
    m = cat.latest_manifest("skip.opt")
    assert m["stats"] and list(m["stats"].values())[0]["k"] == [0, 19]
    assert sorted(r.k for r in cat.read_range("skip.opt", "k", 5, 6).collect()) == [5, 6]


def test_optimize_keeps_data_skipping(spark, cat):
    """A bare compaction builds stats and blooms for its dir over the
    columns the dirs it replaces had, so range and point reads still
    prune to the compacted dir."""
    for lo in (0, 10):
        cat.append(
            spark.createDataFrame([(k, f"v{k}") for k in range(lo, lo + 10)],
                                  "k int, v string"),
            "skip.keep", stats_cols=["k"], bloom_cols=["k"],
        )
    cat.optimize("skip.keep")
    m = cat.latest_manifest("skip.keep")
    [d] = m["dirs"]
    assert m["stats"] == {d: {"k": [0, 19]}}
    assert list(m["blooms"]) == [d] and list(m["blooms"][d]) == ["k"]
    assert cat.pruned_dirs("skip.keep", "k", 5, 6) == [d]
    assert cat.pruned_dirs("skip.keep", "k", 50, 60) == []
    assert sorted(r.k for r in cat.read_range("skip.keep", "k", 5, 6).collect()) == [5, 6]
    assert cat.bloom_pruned_dirs("skip.keep", "k", 17) == [d]
    assert cat.bloom_pruned_dirs("skip.keep", "k", 1000) == []
    assert [r.v for r in cat.read_point("skip.keep", "k", 17).collect()] == ["v17"]
    assert cat.read_point("skip.keep", "k", 1000).count() == 0


def test_optimize_survives_append_during_data_dir_write(spark, cat):
    """A concurrent append landing while optimize() is WRITING its
    compacted data dir (before publish) must survive: the CAS fails,
    optimize rebases on the new latest, and the appended rows appear
    in the compacted table. Companion to
    test_optimize_rebases_on_concurrent_append below, which injects
    the race at the CAS itself — this one injects it a stage earlier,
    at data-dir creation. (The two previously shared a name, so this
    one was silently shadowed and never ran.)"""
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.append(_df(spark, [(2, "b")]), "t")

    injected = {"done": False}
    orig_new_dir = cat._new_data_dir

    def hook(name):
        # fires inside optimize, after it read the base manifest but
        # before it publishes — exactly the race window
        if not injected["done"]:
            injected["done"] = True  # set first: append recurses here
            cat.append(_df(spark, [(3, "c")]), "t")
        return orig_new_dir(name)

    cat._new_data_dir = hook
    try:
        cat.optimize("t")
    finally:
        cat._new_data_dir = orig_new_dir
    assert sorted(r.k for r in cat.read("t").collect()) == [1, 2, 3]
    # compacted: latest manifest holds a single data dir
    assert len(cat.latest_manifest("t")["dirs"]) == 1


def test_read_all_empty_bucketed_manifest(spark, cat):
    """A bucketed manifest whose buckets are ALL empty reads as an
    empty frame with the table's schema (from the newest version with
    data), never FileNotFoundError."""
    cat.append_bucketed(_df(spark, [(1, "a"), (2, "b")]), "d", 4, ["k"])
    m = cat.latest_manifest("d")
    empty = m | {"bucket_dirs": {b: [] for b in m["bucket_dirs"]}}
    cat._commit("d", {k: v for k, v in empty.items() if k != "version"})

    out = cat.read("d")
    assert out.count() == 0
    assert "k" in out.columns and "v" in out.columns
    # single-empty-bucket selection still returns the empty frame too
    assert cat.read("d", buckets=[0]).count() == 0


def test_optimize_rebases_on_concurrent_append(spark, cat):
    """The compaction lost-update race: an append committing between
    optimize's base read and its publish must fail the CAS, force a
    rebase, and SURVIVE the compaction (last-writer-wins here would
    silently drop the appended dir)."""
    cat.replace_atomic(_df(spark, [(1, "a"), (2, "b")]), "t8")
    orig = cat._commit_if
    fired = {"done": False}

    def racy(name, manifest, expected_base):
        if not fired["done"]:
            fired["done"] = True
            cat._commit_if = orig
            # concurrent writer lands AFTER optimize pinned its base
            cat.append(_df(spark, [(99, "z")]), "t8")
            cat._commit_if = racy
            # stale CAS: optimize's expected_base predates the append
            assert orig(name, manifest, expected_base) is None
            return None
        return orig(name, manifest, expected_base)

    cat._commit_if = racy
    try:
        cat.optimize("t8")
    finally:
        cat._commit_if = orig
    assert sorted(r.k for r in cat.read("t8").collect()) == [1, 2, 99]
    latest = cat.latest_manifest("t8")
    # the retry compacted base+append into one dir
    assert len(latest["dirs"]) == 1


def test_bloom_point_lookup_prunes_dirs_never_false_negative(spark, cat):
    """Per-dir bloom data skipping: three appends with disjoint
    hash-like ids; a point read touches only the dir(s) whose bloom
    might hold the key, present keys are ALWAYS found (no false
    negatives), dirs without blooms are kept, and NULL probes keep
    every dir."""
    ids = [[f"id_{i:04d}" for i in range(lo, lo + 40)] for lo in (0, 1000, 2000)]
    for batch in ids:
        cat.append(
            spark.createDataFrame([(k, len(k)) for k in batch], "key string, v int"),
            "bl.t", bloom_cols=["key"],
        )
    m = cat.latest_manifest("bl.t")
    assert len(m["dirs"]) == 3 and set(m["blooms"]) == set(m["dirs"])

    # every present key found, and pruning actually happens
    pruned_counts = []
    for batch in ids:
        for k in (batch[0], batch[-1]):
            dirs = cat.bloom_pruned_dirs("bl.t", "key", k)
            pruned_counts.append(len(dirs))
            got = cat.read_point("bl.t", "key", k).collect()
            assert [r.key for r in got] == [k]
    assert min(pruned_counts) == 1  # disjoint batches: typically one dir
    assert all(c <= 3 for c in pruned_counts)

    # an absent key usually prunes everything (false positives allowed)
    assert cat.read_point("bl.t", "key", "zz_not_there").count() == 0

    # NULL probe keeps all dirs; a bloom-less dir is never skipped
    assert len(cat.bloom_pruned_dirs("bl.t", "key", None)) == 3
    cat.append(
        spark.createDataFrame([("late_key", 1)], "key string, v int"), "bl.t"
    )  # no bloom_cols: this dir must always be read
    assert "late_key" in [
        r.key for r in cat.read_point("bl.t", "key", "late_key").collect()
    ]


def test_bloom_adaptive_sizing_and_legacy_bitmap_compat(spark, cat):
    """Bitmaps are sized ~10 bits per distinct key (power-of-two,
    floored at BLOOM_BITS) so a big append's bloom doesn't saturate —
    the r05 fixed 4096-bit bitmap approved ~41% of absent-key probes
    at just 1.9k keys/dir and would approve everything at 10x.  Probes
    must honor EACH dir's own modulus (no false negatives across mixed
    sizes), and a bitmap not in the sized form (the unsized
    ``{word: bits}`` shape) keeps its dir — it is never probed."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    small = spark.range(0, 50).select(F.col("id").alias("key"))
    big = spark.range(100_000, 103_000).select(F.col("id").alias("key"))
    cat.append(small, "bla.t", bloom_cols=["key"])
    cat.append(big, "bla.t", bloom_cols=["key"])
    m = cat.latest_manifest("bla.t")
    sizes = {}
    for d in m["dirs"]:
        nb, words = cat._bloom_resolve(d, "key", m["blooms"][d]["key"])
        sizes[d] = nb
        assert nb % 2 == 0 and nb >= ManifestCatalog.BLOOM_BITS
        assert words  # sidecar or inline, the bits must materialize
    assert sorted(sizes.values()) == [4096, 32768]  # 50 keys / 3k keys
    # the 512-word (32768-bit) bitmap crossed BLOOM_SIDECAR_MIN_WORDS:
    # its words live in the dir's sidecar file, the manifest holds
    # only the marker — commit size stops growing with key count
    big_dir = next(d for d in m["dirs"] if sizes[d] == 32768)
    assert m["blooms"][big_dir]["key"].get("sidecar") == 1
    assert "words" not in m["blooms"][big_dir]["key"]
    assert cat.fs.exists(f"{big_dir}/_sidecar/blooms.json")
    small_dir = next(d for d in m["dirs"] if sizes[d] == 4096)
    assert "words" in m["blooms"][small_dir]["key"]  # tiny stays inline

    # no false negatives in either dir; cross-dir pruning works
    assert cat.read_point("bla.t", "key", 7).count() == 1
    assert cat.read_point("bla.t", "key", 102_500).count() == 1
    assert len(cat.bloom_pruned_dirs("bla.t", "key", 7)) <= 2
    # absent keys: the sized bitmaps should usually prune both dirs
    absent = [cat.read_point("bla.t", "key", k).count() for k in
              (999_999_007, 999_999_011, 999_999_013)]
    assert absent == [0, 0, 0]

    # unsized bitmap: hand-rewrite one dir's bitmap to the bare
    # {word: bits} shape — with no modulus to probe against, the dir
    # is kept for every probe, absent keys included
    d0 = next(d for d in m["dirs"] if sizes[d] == 4096)
    assert d0 not in cat.bloom_pruned_dirs("bla.t", "key", 999_999_007)
    m["blooms"][d0]["key"] = dict(m["blooms"][d0]["key"]["words"])
    ver = cat._commit("bla.t", {k: v for k, v in m.items() if k != "version"})
    assert ver > 0
    for absent in (999_999_007, 999_999_011, 999_999_013):
        assert d0 in cat.bloom_pruned_dirs("bla.t", "key", absent)
    assert cat.read_point("bla.t", "key", 7).count() == 1
    assert cat.read_point("bla.t", "key", 102_500).count() == 1


def _sidecar_table(spark, cat) -> dict:
    """Table ``s.t``: two appends of 50 disjoint keys, every bloom
    forced into its dir's sidecar; returns the latest manifest."""
    cat.BLOOM_SIDECAR_MIN_WORDS = 0
    for lo in (0, 100):
        cat.append(
            spark.range(lo, lo + 50).select(F.col("id").alias("key")),
            "s.t", bloom_cols=["key"],
        )
    m = cat.latest_manifest("s.t")
    assert all(
        bm["key"].get("sidecar") == 1 for bm in m["blooms"].values()
    )
    return m


def test_bloom_sidecar_batch_load_prunes_on_scheme_less_root(
    spark, tmp_path, jvm_cat
):
    """Sidecar loading must actually PRUNE, not silently keep every
    dir, on both of its branches: the direct local read, here under a
    scheme-less root (dirs spelled without ``file:``), and the batch
    read of every missing sidecar in one wholetext Spark job (the
    object-store path, taken here through the forced JVM IO branch).
    Two past silent degradations of the batch read this pins: (a)
    ``input_file_name`` renders file:///x while makeQualified says
    file:/x, so keying the lookup on full URIs matches nothing; (b) an
    underscore-prefixed sidecar FILE is invisible even to an explicit
    spark.read.text — the sidecar must live in an underscore DIRECTORY
    (``_sidecar/blooms.json``) so parquet scans filter it but explicit
    reads still work."""
    bare = ManifestCatalog(spark, str(tmp_path / "bare_lake"))
    for cat in (bare, jvm_cat):
        m = _sidecar_table(spark, cat)
        # pruning works: one dir per present key, zero for an absent key
        assert len(cat.bloom_pruned_dirs("s.t", "key", 7)) == 1
        assert len(cat.bloom_pruned_dirs("s.t", "key", 120)) == 1
        assert len(cat.bloom_pruned_dirs("s.t", "key", 999_999_007)) == 0
        # and never a false negative
        assert cat.read_point("s.t", "key", 7).count() == 1
        assert cat.read_point("s.t", "key", 120).count() == 1
        if cat is bare:
            assert not m["dirs"][0].startswith("file:")


def test_cold_sidecar_probe_same_jobs_on_bare_and_file_root(
    spark, tmp_path, run_counted
):
    """A bare root and a ``file://`` root name the same local
    filesystem, so a cold bloom probe (fresh catalog, empty sidecar
    cache) reads the sidecars directly under both and launches the
    same Spark jobs — a bare root must not pay the batch sidecar
    read, whose one job exists for remote filesystems."""
    jobs = {}
    for root in (str(tmp_path / "bare"), f"file://{tmp_path}/qualified"):
        _sidecar_table(spark, ManifestCatalog(spark, root))
        cold = ManifestCatalog(spark, root)
        kept, jobs[root], _ = run_counted(
            lambda: cold.bloom_pruned_dirs("s.t", "key", 7)
        )
        assert len(kept) == 1
    assert len(set(jobs.values())) == 1, jobs


def test_bloom_probe_exotic_types_never_false_negative(spark, cat):
    """Probe values whose Python str() rendering differs from Spark's
    CAST(... AS STRING) — bool, float, Decimal, timestamp, date —
    must still find their dir (the probe routes them through the same
    Spark expression as the build; a divergent rendering would flip
    every probe bit and silently skip the only dir with the key)."""
    import datetime
    import decimal

    cases = [
        ("b", "boolean", True),
        ("f", "double", 1.5e-7),            # scientific-notation repr
        ("d", "decimal(10,4)", decimal.Decimal("3.1400")),
        ("ts", "timestamp", datetime.datetime(2024, 6, 1, 12, 30, 15)),
        ("dt", "date", datetime.date(2024, 6, 1)),
    ]
    for col, typ, val in cases:
        tbl = f"blx.{col}"
        cat.append(
            spark.createDataFrame([(val,), (None,)], f"{col} {typ}"),
            tbl, bloom_cols=[col],
        )
        # decoy dir with a different value: pruning has something to skip
        other = {
            "boolean": False,
            "double": 2.25,
            "decimal(10,4)": decimal.Decimal("9.9"),
            "timestamp": datetime.datetime(1999, 1, 1),
            "date": datetime.date(1999, 1, 1),
        }[typ]
        cat.append(
            spark.createDataFrame([(other,)], f"{col} {typ}"),
            tbl, bloom_cols=[col],
        )
        got = cat.read_point(tbl, col, val).collect()
        assert len(got) == 1 and got[0][col] == val, f"{typ} probe lost {val!r}"
    # the int/str hashlib fast path still agrees with the Spark route
    cat.append(
        spark.createDataFrame([(42, "x")], "k bigint, v string"),
        "blx.fast", bloom_cols=["k"],
    )
    assert cat.read_point("blx.fast", "k", 42).count() == 1

    # CROSS-typed probes: the fast path keys on the COLUMN type, so an
    # int probe against a double/decimal column must route through the
    # Spark expression (build hashed '42.0'/'42.0000', not '42') and
    # still find its row
    cat.append(
        spark.createDataFrame([(42.0,)], "fd double"),
        "blx.xd", bloom_cols=["fd"],
    )
    cat.append(spark.createDataFrame([(7.5,)], "fd double"), "blx.xd",
               bloom_cols=["fd"])
    assert cat.read_point("blx.xd", "fd", 42).count() == 1
    cat.append(
        spark.createDataFrame([(decimal.Decimal("42.0000"),)],
                              "dd decimal(10,4)"),
        "blx.xdec", bloom_cols=["dd"],
    )
    assert cat.read_point("blx.xdec", "dd", 42).count() == 1
    # a probe the column type can't hold degrades to no pruning (all
    # dirs kept), never a wrong skip
    assert len(cat.bloom_pruned_dirs("blx.fast", "k", "not-an-int")) == 1


def test_maybe_optimize_policy_triggers_on_fragmentation(spark, cat):
    """The small-files policy: below the threshold appends accumulate
    untouched; once dirs exceed max_dirs one compaction rewrite runs
    (rows identical, single dir), and the now-compact table is a
    no-op again. Bucketed tables trigger on the WORST bucket."""
    for i in range(4):
        cat.append(_df(spark, [(i, f"v{i}")]), "mo.t")
    assert cat.maybe_optimize("mo.t", max_dirs=4) is False  # 4 <= 4
    assert len(cat.latest_manifest("mo.t")["dirs"]) == 4
    cat.append(_df(spark, [(9, "v9")]), "mo.t")
    assert cat.maybe_optimize("mo.t", max_dirs=4) is True   # 5 > 4
    m = cat.latest_manifest("mo.t")
    assert len(m["dirs"]) == 1
    assert sorted(r.k for r in cat.read("mo.t").collect()) == [0, 1, 2, 3, 9]
    assert cat.maybe_optimize("mo.t", max_dirs=4) is False  # compact again

    # bucketed: two appends touching the same bucket → worst bucket 2
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    for _ in range(2):
        cat.append_bucketed(df, "mo.b", n_buckets=4, bucket_keys=["k"])
    assert cat.maybe_optimize("mo.b", max_dirs=2) is False
    assert cat.maybe_optimize("mo.b", max_dirs=1) is True
    m = cat.latest_manifest("mo.b")
    assert all(len(ds) == 1 for ds in m["bucket_dirs"].values() if ds)
    assert cat.read("mo.b").count() == 4


def test_bloom_survives_optimize_recompute(spark, cat):
    """Compaction drops the replaced dirs' blooms and builds them over
    the same columns for the compacted dir, so point lookups keep
    pruning correctly."""
    for lo in (0, 500):
        cat.append(
            spark.createDataFrame(
                [(f"k{i}", i) for i in range(lo, lo + 30)], "key string, v int"
            ),
            "blo.t", bloom_cols=["key"],
        )
    cat.optimize("blo.t")
    m = cat.latest_manifest("blo.t")
    assert len(m["dirs"]) == 1 and set(m["blooms"]) == set(m["dirs"])
    assert [r.key for r in cat.read_point("blo.t", "key", "k510").collect()] == ["k510"]
    assert cat.read_point("blo.t", "key", "nope").count() == 0


def test_append_bucketed_cas_rebase_keeps_concurrent_commit(spark, cat):
    """Two interleaved bucketed appends: the loser's CAS fails, it
    rebases onto the winner's manifest, and the final state carries
    BOTH batches' dirs plus the winner's extras marker — the
    lost-update discipline the streaming index bridges depend on."""
    from pyspark.sql import functions as F

    def bdf(rows):
        return spark.createDataFrame(rows, "cell int, v string")

    cat.append_bucketed(
        bdf([(0, "a"), (1, "b")]), "cas.t", 4, ["cell"],
        bucket_fn="identity",
    )
    orig = cat._commit_if
    fired = {"done": False}

    def racy(name, manifest, expected_base):
        if not fired["done"]:
            fired["done"] = True
            cat._commit_if = orig
            # concurrent writer lands AFTER this append pinned its base
            cat.append_bucketed(
                bdf([(2, "c")]), "cas.t", 4, ["cell"],
                bucket_fn="identity",
                extras_update={"ann_last_batch_id": 7},
            )
            cat._commit_if = racy
            assert orig(name, manifest, expected_base) is None  # stale CAS
            return None
        return orig(name, manifest, expected_base)

    cat._commit_if = racy
    try:
        cat.append_bucketed(
            bdf([(3, "d")]), "cas.t", 4, ["cell"],
            bucket_fn="identity",
        )
    finally:
        cat._commit_if = orig
    m = cat.latest_manifest("cas.t")
    assert sorted(int(b) for b in m["bucket_dirs"]) == [0, 1, 2, 3]
    assert m["ann_last_batch_id"] == 7  # winner's marker survived the rebase
    got = sorted(r.v for r in cat.read("cas.t").collect())
    assert got == ["a", "b", "c", "d"]


def test_delete_where_rewrites_only_bloomed_dirs(spark, tmp_path):
    """Targeted delete: dirs whose blooms exclude every key survive
    byte-for-byte (same path objects in the new manifest); the delete
    count is exact; NULL keys survive three-valued IN; the prior
    version still time-travels to the pre-delete rows."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    # three appends with DISJOINT key groups so pruning is decisive
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(10)]
            + ([(None, "null-row")] if lo == 0 else []),
            "k bigint, v string",
        )
        cat.append(df, "t", bloom_cols=["k"])
    m0 = cat.latest_manifest("t")
    dirs0 = list(m0["dirs"])
    assert len(dirs0) == 3
    v_pre = m0["version"]

    n = cat.delete_where("t", "k", [105, 107])
    assert n == 2
    m1 = cat.latest_manifest("t")
    dirs1 = list(m1["dirs"])
    # the two unaffected dirs carry forward verbatim
    untouched = [d for d in dirs0 if d in dirs1]
    assert len(untouched) == 2
    # their stats/bloom entries carried too
    for d in untouched:
        assert d in (m1.get("blooms") or {})
    # the replacement dir gets a bloom over the replaced dir's columns,
    # so its survivors still prune to it alone
    (new_dir,) = [d for d in dirs1 if d not in dirs0]
    assert "k" in m1["blooms"][new_dir]
    assert cat.bloom_pruned_dirs("t", "k", 106) == [new_dir]
    assert [r.k for r in cat.read_point("t", "k", 106).collect()] == [106]
    # rows: 31 - 2 deleted, NULL row intact
    rows = cat.read("t").collect()
    assert len(rows) == 29
    assert sum(1 for r in rows if r["k"] is None) == 1
    assert not any(r["k"] in (105, 107) for r in rows if r["k"] is not None)
    # time travel to pre-delete
    assert cat.read("t", version=v_pre).count() == 31
    # point-reads on survivors still bloom-prune to one dir
    assert len(cat.bloom_pruned_dirs("t", "k", 5)) == 1

    # deleting an absent key is a no-op at version level
    v_now = m1["version"]
    assert cat.delete_where("t", "k", [99999]) == 0
    assert cat.latest_manifest("t")["version"] == v_now


def test_delete_range_retention_unlinks_whole_dirs(spark, tmp_path):
    """Retention enforcement: dirs wholly inside the expired range
    are unlinked WITHOUT a rewrite (no new dir replaces them),
    straddling dirs are rewritten filtered, disjoint dirs survive
    verbatim, NULLs survive, and the prior version time-travels."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    # dir A: days 1-10 (wholly expired), dir B: days 8-20 would
    # straddle — make B days 11-20 disjoint and C straddle 5-15
    for lo, hi in ((1, 10), (11, 20), (5, 15)):
        rows = [(d, f"r{d}") for d in range(lo, hi + 1)]
        if lo == 5:  # NULL rides the straddling dir; dir A stays
            rows.append((None, "null-day"))  # NULL-free -> pure unlink
        cat.append(
            spark.createDataFrame(rows, "day int, v string"),
            "t", stats_cols=["day"],
        )
    m0 = cat.latest_manifest("t")
    dirs0 = list(m0["dirs"])
    v_pre = m0["version"]
    total0 = cat.read("t").count()

    # expire days 1..10: dir A dropped whole, dir C rewritten, B kept
    n = cat.delete_range("t", "day", 1, 10)
    # deleted: A's 10 real rows (NULL survives) + C's days 5..10 (6)
    assert n == 16
    m1 = cat.latest_manifest("t")
    dirs1 = list(m1["dirs"])
    assert dirs0[1] in dirs1          # disjoint dir untouched
    assert dirs0[0] not in dirs1      # expired dir unlinked
    assert dirs0[2] not in dirs1      # straddler replaced
    # one replacement dir (the straddler's survivors): the expired dir
    # leaves none, and it carries stats over the same column
    assert len(dirs1) == 2
    (new_dir,) = [d for d in dirs1 if d not in dirs0]
    assert m1["stats"][new_dir] == {"day": [11, 15]}
    rows = cat.read("t").collect()
    assert len(rows) == total0 - 16
    assert sum(1 for r in rows if r["day"] is None) == 1
    assert all(r["day"] is None or r["day"] > 10 for r in rows)
    # stats carried/recomputed: range reads still prune
    assert dirs0[1] in cat.pruned_dirs("t", "day", 12, 13)
    assert cat.read("t", version=v_pre).count() == total0
    # disjoint range is a no-op at version level
    assert cat.delete_range("t", "day", 100, 200) == 0
    assert cat.latest_manifest("t")["version"] == m1["version"]


def test_delete_range_null_in_expired_dir_survives(spark, tmp_path):
    """A dir wholly inside the expired range but holding NULL rows is
    demoted to a rewrite (NULLs survive) instead of being unlinked."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    cat.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (None, "keep-me")], "day int, v string"
        ),
        "t", stats_cols=["day"],
    )
    assert cat.delete_range("t", "day", 1, 10) == 2
    rows = cat.read("t").collect()
    assert len(rows) == 1 and rows[0]["v"] == "keep-me"


def test_delete_where_null_value_in_list_is_stripped(spark, tmp_path):
    """A NULL inside the delete-values list must not poison the
    three-valued keep filter (`~col.isin([.., NULL])` is NULL for
    every non-matching row) — the round-5 review's mass-deletion
    hole: only the named keys go, everything else survives."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    cat.append(
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(10)] + [(None, "nullk")],
            "k bigint, v string",
        ),
        "t", bloom_cols=["k"],
    )
    assert cat.delete_where("t", "k", [3, None, 7]) == 2
    rows = cat.read("t").collect()
    assert len(rows) == 9  # 11 - 2; NULL row and the other 8 survive
    assert {r["k"] for r in rows if r["k"] is not None} == {0, 1, 2, 4, 5, 6, 8, 9}
    # all-NULL list is a no-op
    assert cat.delete_where("t", "k", [None]) == 0


def test_update_where_rewrites_only_bloomed_dirs(spark, tmp_path):
    """Targeted UPDATE: matching rows get the set-expressions (which
    may reference the row's own columns), non-matching rows and
    unaffected dirs pass through byte-for-byte, NULL keys never
    match, stats/blooms recompute on the rewritten dir, and the
    prior version time-travels."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    for lo in (0, 100, 200):
        rows = [(lo + i, float(lo + i)) for i in range(10)]
        if lo == 0:
            rows.append((None, -1.0))
        cat.append(
            spark.createDataFrame(rows, "k bigint, price double"),
            "t", bloom_cols=["k"], stats_cols=["price"],
        )
    m0 = cat.latest_manifest("t")
    dirs0 = list(m0["dirs"])
    v_pre = m0["version"]

    n = cat.update_where(
        "t", "k", [105, 107, None], {"price": F.col("price") * 2}
    )
    assert n == 2
    m1 = cat.latest_manifest("t")
    untouched = [d for d in dirs0 if d in m1["dirs"]]
    assert len(untouched) == 2  # only the 100s dir rewritten
    rows = {r["k"]: r["price"] for r in cat.read("t").collect() if r["k"] is not None}
    assert rows[105] == 210.0 and rows[107] == 214.0
    assert rows[106] == 106.0  # same dir, unmatched: unchanged
    assert rows[5] == 5.0      # other dir: untouched
    null_rows = [r for r in cat.read("t").collect() if r["k"] is None]
    assert null_rows and null_rows[0]["price"] == -1.0
    # stats recomputed on the rewritten dir: a range read for the new
    # price still finds it
    assert any(
        r["k"] == 107 for r in cat.read_range("t", "price", 213.0, 215.0).collect()
    )
    assert cat.read("t", version=v_pre).count() == 31
    # updating the match column itself is refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="match column"):
        cat.update_where("t", "k", [1], {"k": F.lit(9)})
    # absent keys: no-op at version level
    v_now = m1["version"]
    assert cat.update_where("t", "k", [99999], {"price": F.lit(0.0)}) == 0
    assert cat.latest_manifest("t")["version"] == v_now


def test_delete_then_vacuum_completes_erasure(spark, tmp_path):
    """The GDPR end-state: delete_where removes the rows from the
    LIVE version, and vacuum then physically
    reclaims every pre-delete data dir — after which no retained
    version can produce the deleted keys and the bytes are gone from
    disk. (Until vacuum, the prior version deliberately still reads
    them — that window IS the audit-trail dial.)"""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    for lo in (0, 100):
        cat.append(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(5)], "k bigint, v string"
            ),
            "t", bloom_cols=["k"],
        )
    m0 = cat.latest_manifest("t")
    v_pre, dirs0 = m0["version"], list(m0["dirs"])
    assert cat.delete_where("t", "k", [101, 103]) == 2
    # audit window: prior version still reads the deleted rows
    assert cat.read("t", version=v_pre).filter("k in (101, 103)").count() == 2

    deleted_dirs = cat.vacuum("t", min_age_seconds=0)
    # the rewritten dir (which held 101/103) was reclaimed; the
    # untouched dir survives
    rewritten = [d for d in dirs0 if d not in cat.latest_manifest("t")["dirs"]]
    assert rewritten and all(
        any(cat.fs.qualified(d) == cat.fs.qualified(x) for x in deleted_dirs)
        for d in rewritten
    )
    for d in rewritten:
        assert not cat.fs.exists(d)
    # only the post-delete version remains; the keys are unreachable
    assert cat._versions("t") == [cat.latest_manifest("t")["version"]]
    assert cat.read("t").filter("k in (101, 103)").count() == 0
    assert cat.read("t").count() == 8
    # what the latest version references survives, blooms included
    assert [r.k for r in cat.read_point("t", "k", 102).collect()] == [102]
    assert [r.k for r in cat.read_point("t", "k", 3).collect()] == [3]


def test_shallow_clone_zero_copy_and_divergence(spark, tmp_path):
    """Shallow clone: no data moves (the clone's manifest references
    the source's dirs), reads agree at clone time, and the two tables
    then diverge independently — the source's later appends/deletes
    never leak into the clone and vice versa."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    cat.append(_df(spark, [(1, "a"), (2, "b")]), "src", bloom_cols=["k"])
    cat.append(_df(spark, [(3, "c")]), "src")
    v = cat.shallow_clone("src", "snap")
    assert v == 1
    m = cat.latest_manifest("snap")
    assert m["cloned_from"] == {"table": "src", "version": 2}
    # zero-copy: identical dir references, blooms carried
    assert m["dirs"] == cat.latest_manifest("src")["dirs"]
    assert sorted(r.k for r in cat.read("snap").collect()) == [1, 2, 3]
    # divergence both ways
    cat.append(_df(spark, [(4, "d")]), "src")
    cat.delete_where("snap", "k", [1])
    assert sorted(r.k for r in cat.read("src").collect()) == [1, 2, 3, 4]
    assert sorted(r.k for r in cat.read("snap").collect()) == [2, 3]
    # cloning onto an existing table is refused
    import pytest as _pytest
    with _pytest.raises(ValueError, match="exists"):
        cat.shallow_clone("src", "snap")


def test_latest_manifest_hint_is_advisory(spark, cat):
    """The _latest hint is O(1)-read sugar, never truth: a STALE hint
    (lost overwrite race / external writer) forward-scans to the real
    latest over the dense version sequence, and a CORRUPT or missing
    hint falls back to the full listing. Either failure must yield
    exactly what the listing would."""
    cat.replace_atomic(_df(spark, [(1, "a")]), "h.t")
    cat.append(_df(spark, [(2, "b")]), "h.t")
    cat.append(_df(spark, [(3, "c")]), "h.t")
    mdir = cat._manifest_dir("h.t")
    assert cat.latest_manifest("h.t")["version"] == 3
    assert cat.fs.read_text(f"{mdir}/_latest").strip() == "3"

    # stale hint: points at v1 — reader must forward-scan to 3
    cat.fs.write_text(f"{mdir}/_latest", "1", overwrite=True)
    assert cat.latest_manifest("h.t")["version"] == 3

    # hint ahead of any committed version (crash before publish
    # rolled back): exists-check fails -> listing fallback
    cat.fs.write_text(f"{mdir}/_latest", "99", overwrite=True)
    assert cat.latest_manifest("h.t")["version"] == 3

    # corrupt hint -> listing fallback
    cat.fs.write_text(f"{mdir}/_latest", "not-a-number", overwrite=True)
    assert cat.latest_manifest("h.t")["version"] == 3

    # missing hint -> listing fallback; next commit rewrites it
    cat.fs.delete(f"{mdir}/_latest")
    assert cat.latest_manifest("h.t")["version"] == 3
    cat.append(_df(spark, [(4, "d")]), "h.t")
    assert cat.fs.read_text(f"{mdir}/_latest").strip() == "4"
    assert sorted(r.k for r in cat.read("h.t").collect()) == [1, 2, 3, 4]

    # vacuum keeps the hint consistent with the retained tail
    cat.vacuum("h.t", min_age_seconds=0)
    assert cat.latest_manifest("h.t")["version"] == 4


def test_column_type_cache_invalidated_on_replace(spark, cat):
    """ADVICE r07 low: replace_atomic can legally land a DIFFERENT
    type for an existing column name. A stale cached type would hash
    bloom probes under the old type and silently prune a dir that
    holds the value (false negative in read_point)."""
    cat.append(
        spark.createDataFrame([(7, "a"), (8, "b")], "key int, v string"),
        "retype.t", bloom_cols=["key"],
    )
    assert cat.read_point("retype.t", "key", 7).count() == 1  # caches int

    cat.replace_atomic(
        spark.createDataFrame([("7", "a")], "key string, v string"), "retype.t"
    )
    cat.append(
        spark.createDataFrame([("zz", "b")], "key string, v string"),
        "retype.t", bloom_cols=["key"],
    )
    cat.optimize("retype.t")
    got = cat.read_point("retype.t", "key", "zz").collect()
    assert [r.key for r in got] == ["zz"]
    assert [r.key for r in cat.read_point("retype.t", "key", "7").collect()] == ["7"]

    # drop + recreate under yet another type must also re-read
    cat.drop("retype.t")
    cat.append(
        spark.createDataFrame([(99,)], "key bigint"), "retype.t",
        bloom_cols=["key"],
    )
    assert cat.read_point("retype.t", "key", 99).count() == 1


def test_rename_exclusive_is_an_atomic_claim(spark, cat, tmp_path):
    """The commit primitive: under contention exactly ONE claimant
    may win a target, and the winner's content is intact (POSIX
    rename() overwrites — the r08 two-writer fuzz caught the old
    check-then-rename losing a committed version to a racer)."""
    import threading

    base = f"file://{tmp_path}/claims"
    for rnd in range(20):
        target = f"{base}/slot-{rnd}"
        wins = []

        def claim(w: int) -> None:
            src = f"{base}/tmp-{rnd}-{w}"
            cat.fs.write_text(src, f"writer-{w}")
            if cat.fs.rename_exclusive(src, target):
                wins.append(w)
            else:
                cat.fs.delete(src)

        ts = [threading.Thread(target=claim, args=(w,)) for w in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert len(wins) == 1, f"round {rnd}: winners={wins}"
        assert cat.fs.read_text(target) == f"writer-{wins[0]}"


@pytest.fixture()
def jvm_cat(spark, tmp_path):
    """Catalog forced onto the JVM IO branch (what a real cluster FS
    takes): _fs_is_local=False disables the python fast path, so
    write_text/read_text/rename_exclusive and sidecar loads all route
    through org.apache.hadoop.fs against the SAME local dir — the
    branch the r08 local-IO gating fix made unreachable in local
    tests, and the one whose divergence from the python path is
    exactly the split-brain failure class."""
    from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

    c = ManifestCatalog(spark, f"file://{tmp_path}/jvmlake")
    c.fs._fs_is_local = False
    return c


def test_hadoopfs_jvm_branch_matches_python_contract(jvm_cat, tmp_path):
    fs = jvm_cat.fs
    p = f"file://{tmp_path}/jvmlake/a/b/probe.txt"
    fs.write_text(p, "v1")
    assert fs.read_text(p) == "v1"
    assert fs.exists(p)
    fs.write_text(p, "v2", overwrite=True)
    assert fs.read_text(p) == "v2"
    assert any(e.endswith("probe.txt") for e in
               fs.listdir(f"file://{tmp_path}/jvmlake/a/b"))
    assert fs.mtime_ms(p) > 0
    # exclusive claim: first wins, second loses, winner content intact
    s1 = f"file://{tmp_path}/jvmlake/a/t1"
    s2 = f"file://{tmp_path}/jvmlake/a/t2"
    dst = f"file://{tmp_path}/jvmlake/a/slot"
    fs.write_text(s1, "one")
    fs.write_text(s2, "two")
    assert fs.rename_exclusive(s1, dst) is True
    assert fs.rename_exclusive(s2, dst) is False
    assert fs.read_text(dst) == "one"
    fs.delete(p)
    assert not fs.exists(p)


def test_catalog_crud_on_jvm_branch(spark, jvm_cat):
    """End-to-end CRUD through forced JVM IO: manifests, _latest
    hints, stats, blooms and point lookups must all work on the
    branch a real cluster filesystem takes."""
    for i in range(5):
        jvm_cat.append(
            spark.range(i * 10, i * 10 + 10).select(
                F.col("id").alias("key"), (F.col("id") % 7).alias("v")
            ),
            "jvm.crud", stats_cols=["key"], bloom_cols=["key"],
        )
    m = jvm_cat.latest_manifest("jvm.crud")
    assert m is not None and len(m["dirs"]) == 5
    assert set(m["stats"]) == set(m["blooms"]) == set(m["dirs"])
    assert jvm_cat.read("jvm.crud").count() == 50
    assert [r.key for r in jvm_cat.read_point("jvm.crud", "key", 23).collect()] == [23]
    assert jvm_cat.read_range("jvm.crud", "key", 10, 19).count() == 10
    assert jvm_cat.delete_where("jvm.crud", "key", [23]) == 1
    assert jvm_cat.read_point("jvm.crud", "key", 23).count() == 0
    assert jvm_cat.read("jvm.crud").count() == 49


# -- recorded schemas (the manifest ``schema`` field) ------------------------


def test_recorded_schema_matches_footer_inference(spark, cat, run_counted):
    """A replace_atomic version records its frame's schema, and a read
    under it launches no Spark job yet equals footer inference, schema
    and rows, for every type a commit can carry: non-null nested
    types, decimal, date/timestamp/timestamp_ntz, binary, char/varchar
    and field metadata."""
    import datetime as dt
    import decimal

    from pyspark.sql.types import (
        ArrayType, BinaryType, DateType, DecimalType, DoubleType,
        IntegerType, LongType, MapType, StringType, StructField,
        StructType, TimestampNTZType, TimestampType,
    )

    def cv(t):
        return {"__CHAR_VARCHAR_TYPE_STRING": t}

    schema = StructType([
        StructField("id", LongType(), False),
        StructField("arr", ArrayType(IntegerType(), False), False),
        StructField("st", StructType([
            StructField("a", StringType(), False),
            StructField("b", DoubleType()),
        ]), False),
        StructField("mp", MapType(StringType(), LongType(), False), False),
        StructField("dec", DecimalType(20, 8)),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
        StructField("tsn", TimestampNTZType()),
        StructField("bin", BinaryType()),
        StructField("c", StringType(), True, cv("char(3)")),
        StructField("vc", StringType(), True, cv("varchar(5)")),
        StructField("doc", StringType(), True, {"comment": "kept", "n": 3}),
    ])
    t = dt.datetime(2026, 1, 2, 3, 4, 5)
    rows = [
        (1, [1, 2], ("x", 1.5), {"k": 7}, decimal.Decimal("123.45678901"),
         t.date(), t, t, b"\x00\x01", "ab", "xyz", "m"),
        (2, [], ("y", None), {}, None, None, None, None, None, None, None, None),
    ]
    cat.replace_atomic(spark.createDataFrame(rows, schema), "typed.t")
    m = cat.latest_manifest("typed.t")
    assert "schema" in m
    df, jobs, _ = run_counted(lambda: cat.read("typed.t"))
    assert jobs == 0
    footer = spark.read.parquet(*m["dirs"])
    assert df.schema == footer.schema
    assert sorted(df.collect()) == sorted(footer.collect())


def test_legacy_manifest_without_schema_reads_by_footer(spark, tmp_path):
    """Manifests written before versions recorded a schema read the
    same rows and schema through footer inference, latest and by
    time travel, and a later commit on such a table records one."""
    root = f"file://{tmp_path}/lake"
    cat = ManifestCatalog(spark, root)
    cat.replace_atomic(_df(spark, [(1, "a")]), "t")
    cat.replace_atomic(_df(spark, [(2, "b"), (3, "c")]), "t")

    def snapshot(c, v):
        df = c.read("t", version=v)
        return df.schema, sorted(df.collect())

    expect = {v: snapshot(cat, v) for v in (1, 2)}
    for p in (tmp_path / "lake" / "t" / "_manifests").glob("manifest-*.json"):
        m = json.loads(p.read_text())
        del m["schema"]
        p.write_text(json.dumps(m))
    legacy = ManifestCatalog(spark, root)  # no cached manifests
    assert "schema" not in legacy.latest_manifest("t")
    assert {v: snapshot(legacy, v) for v in (1, 2)} == expect
    assert sorted(legacy.read("t").collect()) == expect[2][1]

    legacy.replace_atomic(_df(spark, [(4, "d")]), "t")
    assert "schema" in legacy.latest_manifest("t")
    assert snapshot(legacy, 1) == expect[1]  # time travel to a legacy version


def test_schema_kept_only_by_same_row_rewrites(spark, tmp_path, run_counted):
    """Which commits carry the recorded schema: rewrites of the same
    rows under it keep it (delete_where, delete_range, shallow_clone),
    optimize records its compacted frame's, and update_where, append,
    partitioned and bucketed commits fall back to footers. Every
    schema-carrying version reads what its footers say."""
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")

    def has(t):
        m = cat.latest_manifest(t)
        if "schema" in m:
            footer = spark.read.option("mergeSchema", "true").parquet(*m["dirs"])
            assert cat.read(t).schema == footer.schema
        return "schema" in m

    rows = [(i, f"v{i}") for i in range(20)]
    cat.append(spark.createDataFrame(rows, "k bigint, v string"), "t",
               stats_cols=["k"], bloom_cols=["k"])
    assert not has("t")
    cat.optimize("t")
    assert has("t")
    # a bloom probe takes the column type from the recorded schema
    dirs, jobs, _ = run_counted(lambda: cat.bloom_pruned_dirs("t", "k", 5))
    assert (len(dirs), jobs) == (1, 0)

    assert cat.delete_where("t", "k", [3]) == 1
    assert has("t")
    assert cat.delete_range("t", "k", 15, 30) == 5
    assert has("t")
    assert cat.shallow_clone("t", "snap") == 1
    assert has("snap")
    # the clone's lineage marker rides every derived commit
    origin = cat.latest_manifest("snap")["cloned_from"]
    for rewrite in (
        lambda: cat.delete_where("snap", "k", [5]),
        lambda: cat.delete_range("snap", "k", 6, 6),
        lambda: cat.update_where("snap", "k", [7], {"v": F.upper("v")}),
        lambda: cat.optimize("snap"),
    ):
        rewrite()
        assert cat.latest_manifest("snap")["cloned_from"] == origin
    assert cat.update_where("t", "k", [4], {"v": F.upper("v")}) == 1
    assert not has("t")
    cat.optimize("t")
    assert has("t")
    assert sorted(r.k for r in cat.read("t").collect()) == [
        k for k in range(15) if k != 3
    ]
    assert cat.read_point("t", "k", 4).first().v == "V4"
    cat.append(spark.createDataFrame([(99, "z")], "k bigint, v string"), "t")
    assert not has("t")

    cat.replace_atomic(spark.createDataFrame(rows, "k bigint, v string"), "part",
                       partition_by=["v"])
    assert not has("part")

    # a bucketed store records no schema, and its extras survive
    # every derived commit
    bdf = spark.createDataFrame(rows, "k bigint, v string")
    cat.append_bucketed(bdf, "bk", 4, ["k"], extras_update={"marker": 7})
    assert not has("bk")
    for rewrite in (
        lambda: cat.append_bucketed(bdf, "bk", 4, ["k"]),
        lambda: cat.optimize("bk"),
    ):
        rewrite()
        assert cat.latest_manifest("bk")["marker"] == 7
        assert not has("bk")


@pytest.mark.parametrize("op", ["delete_where", "update_where", "delete_range"])
def test_plain_rewrite_rebases_on_concurrent_append(spark, cat, op):
    """An append landing between a row rewrite's data write and its
    publish fails the rewrite's CAS; the retry re-plans against the new
    latest, so the appended rows survive and the rewrite applies to
    them too."""
    schema = "k bigint, v string"
    cat.append(
        spark.createDataFrame([(i, f"v{i}") for i in range(6)], schema), "rw",
        stats_cols=["k"], bloom_cols=["k"],
    )
    orig = cat._commit_if
    fired = {"done": False}

    def racy(name, manifest, expected_base):
        if not fired["done"]:
            fired["done"] = True
            cat._commit_if = orig
            cat.append(
                spark.createDataFrame([(3, "late"), (99, "z")], schema), "rw",
                stats_cols=["k"], bloom_cols=["k"],
            )
            cat._commit_if = racy
            assert orig(name, manifest, expected_base) is None  # stale CAS
            return None
        return orig(name, manifest, expected_base)

    run = {
        "delete_where": lambda: cat.delete_where("rw", "k", [3]),
        "update_where": lambda: cat.update_where(
            "rw", "k", [3], {"v": F.upper("v")}
        ),
        "delete_range": lambda: cat.delete_range("rw", "k", 3, 3),
    }[op]
    cat._commit_if = racy
    try:
        assert run() == 2  # the base row and the concurrent one
    finally:
        cat._commit_if = orig
    assert fired["done"]
    want = [(k, f"v{k}") for k in range(6) if k != 3] + [(99, "z")]
    if op == "update_where":
        want += [(3, "LATE"), (3, "V3")]
    assert sorted((r.k, r.v) for r in cat.read("rw").collect()) == sorted(want)

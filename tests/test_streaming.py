"""Structured Streaming surface: file-source stream → windowed agg /
dedup / foreachBatch SCD1 upsert, run to completion with the
availableNow trigger and compared against batch equivalents."""

import json
import os

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog
from end_to_end_etl_pipeline_spark.streaming import (
    foreach_batch_scd1,
    read_stream_files,
    stream_dedup,
    windowed_counts,
)

SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def _write_batch(d, name, rows):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


@pytest.fixture
def stream_dir(tmp_path):
    d = str(tmp_path / "in")
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2026-01-01T00:10:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T00:20:00Z", "user_id": 1, "event_type": "click", "value": 2.0},
        {"event_id": 3, "ts": "2026-01-01T01:05:00Z", "user_id": 2, "event_type": "view", "value": 3.0},
    ])
    _write_batch(d, "b2.json", [
        {"event_id": 4, "ts": "2026-01-01T01:45:00Z", "user_id": 1, "event_type": "view", "value": 4.0},
        {"event_id": 4, "ts": "2026-01-01T01:45:00Z", "user_id": 1, "event_type": "view", "value": 4.0},  # exact dup
        {"event_id": 3, "ts": "2026-01-01T01:07:00Z", "user_id": 2, "event_type": "view", "value": 3.0},  # re-stamped replay
        {"event_id": 5, "ts": "2026-01-01T02:30:00Z", "user_id": 2, "event_type": "click", "value": 5.0},
    ])
    return d


def test_windowed_counts_matches_batch(spark, stream_dir, tmp_path):
    stream = read_stream_files(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    agg = windowed_counts(stream, "ts", window="1 hour", watermark="2 hours",
                          group_cols=["event_type"])
    q = (agg.writeStream.format("memory").queryName("win_counts")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {
        (str(r.window_start), r.event_type): r.n
        for r in spark.table("win_counts").collect()
    }
    batch = spark.read.schema(SCHEMA).json(stream_dir)
    expect = {
        (str(r.ws), r.event_type): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == expect
    # 01:00 window 'view': u2@01:05 + its 01:07 re-stamp + u1@01:45 x2 = 4
    assert got[("2026-01-01 01:00:00", "view")] == 4


def test_stream_dedup_drops_replays(spark, stream_dir, tmp_path):
    stream = read_stream_files(spark, stream_dir, SCHEMA)
    deduped = stream_dedup(stream, ["event_id"], "ts")
    q = (deduped.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.table("dedup_out")
    assert out.count() == 5  # 7 rows in: exact dup AND re-stamped replay dropped
    assert out.select("event_id").distinct().count() == 5


def test_foreach_batch_scd1_upsert(spark, stream_dir, tmp_path):
    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stream = read_stream_files(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_scd1(
        stream,
        catalog,
        "silver.user_last_event",
        keys=["user_id"],
        dedup_order_by=[F.col("ts").desc(), F.col("event_id").desc()],
        checkpoint_dir=str(tmp_path / "ck3"),
    )
    q.awaitTermination(120)
    final = {r.user_id: r for r in catalog.read("silver.user_last_event").collect()}
    # latest event per user across ALL micro-batches
    assert final[1].event_id == 4 and final[1].value == 4.0
    assert final[2].event_id == 5 and final[2].value == 5.0


def test_sessionize_stateful(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.streaming.jobs import sessionize

    d = str(tmp_path / "sess_in")
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2026-01-01T00:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T00:10:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 3, "ts": "2026-01-01T02:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 4, "ts": "2026-01-01T00:05:00Z", "user_id": 2, "event_type": "view", "value": 1.0},
    ])
    _write_batch(d, "b2.json", [
        {"event_id": 5, "ts": "2026-01-01T03:00:00Z", "user_id": 2, "event_type": "view", "value": 1.0},
    ])
    stream = read_stream_files(spark, d, SCHEMA)
    sessions = sessionize(stream, "user_id", "ts", gap_minutes=30)
    q = (sessions.writeStream.format("memory").queryName("sessions")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck4"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("sessions").collect()
    )
    # u1: events 00:00+00:10 close when 02:00 arrives (in-batch gap);
    # u2: 00:05 closes via event-time timeout once the watermark
    # (03:00 - 2h = 01:00) passes its 00:35 deadline.
    assert (1, "2026-01-01 00:00:00", "2026-01-01 00:10:00", 2) in got
    assert (2, "2026-01-01 00:05:00", "2026-01-01 00:05:00", 1) in got
    # open sessions (u1@02:00, u2@03:00) remain in state, not emitted
    assert len(got) == 2


def test_running_profile_plan_builds(spark, tmp_path):
    """Plan construction + output schema for the typed-state profile.
    Runs everywhere: analysis needs no protobuf, only execution does."""
    from end_to_end_etl_pipeline_spark.streaming.jobs import running_profile

    d = str(tmp_path / "prof_plan_in")
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2026-01-01T00:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
    ])
    stream = read_stream_files(spark, d, SCHEMA)
    prof = running_profile(stream, "user_id", "ts", value_col="value")
    assert prof.isStreaming
    assert [f.name for f in prof.schema.fields] == [
        "user_id", "n_events", "first_seen", "last_seen", "value_sum"]


def test_running_profile_typed_state(spark, tmp_path):
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas launches a protobuf-speaking "
        "state-server worker; container lacks protobuf",
    )
    from end_to_end_etl_pipeline_spark.streaming.jobs import running_profile

    d = str(tmp_path / "prof_in")
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2026-01-01T00:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T00:10:00Z", "user_id": 1, "event_type": "view", "value": 2.5},
        {"event_id": 3, "ts": "2026-01-01T00:05:00Z", "user_id": 2, "event_type": "view", "value": 3.0},
    ])
    _write_batch(d, "b2.json", [
        {"event_id": 4, "ts": "2026-01-01T01:00:00Z", "user_id": 1, "event_type": "view", "value": 0.5},
    ])
    stream = read_stream_files(spark, d, SCHEMA, max_files_per_trigger=1)
    prof = running_profile(stream, "user_id", "ts", value_col="value")
    q = (prof.writeStream.format("memory").queryName("profiles")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck_prof"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.table("profiles").collect()
    # Update mode: one row per key per micro-batch it appeared in.
    # The LAST row per user carries the accumulated cross-batch state.
    last = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.n_events)):
        last[r.user_id] = r
    assert last[1].n_events == 3
    assert str(last[1].first_seen) == "2026-01-01 00:00:00"
    assert str(last[1].last_seen) == "2026-01-01 01:00:00"
    assert abs(last[1].value_sum - 4.0) < 1e-9
    assert last[2].n_events == 1
    assert abs(last[2].value_sum - 3.0) < 1e-9
    # u1 appeared in both micro-batches -> an intermediate n_events=2
    # row proves state carried across batches, not per-batch resets
    assert {r.n_events for r in rows if r.user_id == 1} == {2, 3}


def test_stream_static_join_enriches_every_batch(spark, stream_dir, tmp_path):
    from end_to_end_etl_pipeline_spark.streaming import stream_static_join

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id bigint, tier string"
    )
    stream = read_stream_files(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    enriched = stream_static_join(stream, dim, ["user_id"])
    q = (enriched.writeStream.format("memory").queryName("enriched")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ssj"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.table("enriched")
    batch = spark.read.schema(SCHEMA).json(stream_dir).join(
        F.broadcast(dim), ["user_id"], "left"
    )
    assert out.count() == batch.count() == 7
    got = {(r.event_id, r.ts, r.tier) for r in out.collect()}
    expect = {(r.event_id, r.ts, r.tier) for r in batch.collect()}
    assert got == expect
    assert {r.tier for r in out.collect()} == {"gold", "silver"}


def test_stream_static_join_rejects_right_outer(spark, stream_dir):
    from end_to_end_etl_pipeline_spark.streaming import stream_static_join

    dim = spark.createDataFrame([(1, "gold")], "user_id bigint, tier string")
    stream = read_stream_files(spark, stream_dir, SCHEMA)
    with pytest.raises(ValueError, match="preserve the stream side"):
        stream_static_join(stream, dim, ["user_id"], how="right")


def test_stream_stream_join_attribution(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.streaming import stream_stream_join

    vd, pd_ = str(tmp_path / "views"), str(tmp_path / "purch")
    _write_batch(vd, "v.json", [
        {"view_id": 1, "vts": "2026-01-01T00:00:00Z", "user_id": 1},
        {"view_id": 2, "vts": "2026-01-01T00:50:00Z", "user_id": 1},
        {"view_id": 3, "vts": "2026-01-01T00:00:00Z", "user_id": 2},
    ])
    _write_batch(pd_, "p.json", [
        # 00:55 purchase: within 1h of BOTH u1 views -> 2 matches
        {"purchase_id": 10, "pts": "2026-01-01T00:55:00Z", "user_id": 1},
        # 02:00 purchase: >1h after u2's only view -> no match
        {"purchase_id": 11, "pts": "2026-01-01T02:00:00Z", "user_id": 2},
    ])
    views = read_stream_files(spark, vd, "view_id bigint, vts timestamp, user_id bigint")
    purch = read_stream_files(spark, pd_, "purchase_id bigint, pts timestamp, user_id bigint")
    joined = stream_stream_join(
        views, purch, ["user_id"], "vts", "pts",
        watermark="2 hours", max_delay_seconds=3600,
    )
    q = (joined.writeStream.format("memory").queryName("attrib")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ssj2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.view_id, r.purchase_id) for r in spark.table("attrib").collect()}
    assert got == {(1, 10), (2, 10)}


def test_stream_stream_left_outer_emits_null_after_eviction(spark, tmp_path):
    """leftOuter stream-stream join: an unmatched LEFT row emits its
    NULL-padded result only once the watermark proves no match can
    still arrive (state eviction), while rows still inside the state
    window emit nothing — the semantics axis the inner-join test
    can't see. Two pinned-mtime batches: data, then a far-future
    spacer that advances the watermark past the unmatched view's
    eviction bound; the spacer's own rows stay in live state and must
    NOT emit."""
    import os

    from end_to_end_etl_pipeline_spark.streaming import (
        read_stream_files,
        stream_stream_join,
    )

    vd, pd_ = str(tmp_path / "views"), str(tmp_path / "purch")
    _write_batch(vd, "a.json", [
        {"view_id": 1, "vts": "2026-01-01T00:00:00Z", "user_id": 1},
        {"view_id": 2, "vts": "2026-01-01T00:10:00Z", "user_id": 2},  # no match
    ])
    _write_batch(pd_, "a.json", [
        {"purchase_id": 10, "pts": "2026-01-01T00:30:00Z", "user_id": 1},
    ])
    _write_batch(vd, "b.json", [
        {"view_id": 9, "vts": "2026-01-01T12:00:00Z", "user_id": 9},  # spacer
    ])
    _write_batch(pd_, "b.json", [
        {"purchase_id": 80, "pts": "2026-01-01T12:00:00Z", "user_id": 8},
    ])
    for d in (vd, pd_):
        os.utime(os.path.join(d, "a.json"), (1_000_000, 1_000_000))
        os.utime(os.path.join(d, "b.json"), (2_000_000, 2_000_000))

    views = read_stream_files(
        spark, vd, "view_id bigint, vts timestamp, user_id bigint",
        max_files_per_trigger=1,
    )
    purch = read_stream_files(
        spark, pd_, "purchase_id bigint, pts timestamp, user_id bigint",
        max_files_per_trigger=1,
    )
    joined = stream_stream_join(
        views, purch, ["user_id"], "vts", "pts",
        watermark="2 hours", max_delay_seconds=3600, how="leftOuter",
    )
    q = (joined.writeStream.format("memory").queryName("attrib_outer")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck_ssj_outer"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.view_id, r.purchase_id) for r in
           spark.table("attrib_outer").collect()}
    # view 2: evicted by the spacer-advanced watermark -> NULL row;
    # view 9 (spacer): still inside live state -> absent
    assert got == {(1, 10), (2, None)}


def test_windowed_counts_drops_late_events_in_append(spark, tmp_path):
    """Watermark contract: once the watermark has advanced past a
    window, later-arriving events for it are DROPPED, and the window
    emits exactly once (append mode) with only on-time rows."""
    src = str(tmp_path / "late_src")
    ck = str(tmp_path / "ck_late")
    out = str(tmp_path / "late_out")

    def run():
        # parquet sink: append-mode + restartable from the checkpoint
        # (the memory sink refuses recovery), so the watermark survives
        # between the two availableNow runs
        stream = read_stream_files(spark, src, SCHEMA, max_files_per_trigger=1)
        agg = windowed_counts(stream, "ts", window="1 hour", watermark="2 hours",
                              group_cols=["event_type"])
        q = (agg.writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(str(r.window_start), r.event_type): r.n
                for r in spark.read.parquet(out).collect()}

    # run 1: on-time event at 00:05 plus one at 05:00 -> watermark
    # (persisted in the checkpoint) ends at 03:00
    _write_batch(src, "f1.json", [
        {"event_id": 1, "ts": "2026-01-01T00:05:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T05:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
    ])
    run()
    # run 2: a 00:10 replay is 3h behind the restored watermark ->
    # dropped; 09:00 advances the watermark to 07:00, finalizing the
    # 05:00 and 06:00 windows
    _write_batch(src, "f2.json", [
        {"event_id": 3, "ts": "2026-01-01T00:10:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 4, "ts": "2026-01-01T06:10:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 5, "ts": "2026-01-01T09:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
    ])
    got2 = run()
    # the 00:00 window holds ONLY the on-time event - the late replay
    # never reached state; 05:00/06:00 emitted on finalization
    assert got2[("2026-01-01 00:00:00", "view")] == 1
    assert got2[("2026-01-01 05:00:00", "view")] == 1
    assert got2[("2026-01-01 06:00:00", "view")] == 1
    # 09:00's own window is not yet finalized, so it must not appear
    assert ("2026-01-01 09:00:00", "view") not in got2


def test_foreach_batch_agg_maintenance_matches_batch(spark, stream_dir, tmp_path):
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_agg_maintenance,
    )

    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stream = read_stream_files(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_agg_maintenance(
        stream,
        catalog,
        "gold.user_value_state",
        keys=["user_id"],
        sum_cols=["value"],
        checkpoint_dir=str(tmp_path / "ck_ivm"),
    )
    q.awaitTermination(120)
    got = {
        r.user_id: (r.n, r["sum_value"])
        for r in catalog.read("gold.user_value_state").collect()
    }
    full = {
        r.user_id: (r.n, r["sum_value"])
        for r in spark.read.schema(SCHEMA)
        .json(stream_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == full
    # one manifest version per non-empty micro-batch: time travel works
    assert len(catalog._versions("gold.user_value_state")) >= 2


def test_agg_maintenance_skips_replayed_batch(spark, tmp_path):
    """foreachBatch is at-least-once: a crash after the state commit
    but before the checkpoint's batch commit replays that batch with
    the same batch_id on restart. The _batch_id rider inside the
    atomically-committed state must detect it and not double-count."""
    from end_to_end_etl_pipeline_spark.streaming.jobs import apply_agg_batch

    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    b0 = spark.createDataFrame([(1, 10.0), (2, 5.0)], "user_id long, value double")
    b1 = spark.createDataFrame([(1, 1.0), (3, 2.0)], "user_id long, value double")

    assert apply_agg_batch(catalog, "g.s", ["user_id"], ["value"], b0, 0)
    assert apply_agg_batch(catalog, "g.s", ["user_id"], ["value"], b1, 1)
    want = sorted(
        (r.user_id, r.n, r["sum_value"])
        for r in catalog.read("g.s").drop("_batch_id").collect()
    )
    # replay of batch 1 (same id) must be skipped, state unchanged
    assert not apply_agg_batch(catalog, "g.s", ["user_id"], ["value"], b1, 1)
    got = sorted(
        (r.user_id, r.n, r["sum_value"])
        for r in catalog.read("g.s").drop("_batch_id").collect()
    )
    assert got == want
    # a genuinely new batch still applies
    assert apply_agg_batch(catalog, "g.s", ["user_id"], ["value"], b0, 2)
    assert {r.user_id: r.n for r in catalog.read("g.s").collect()} == {1: 3, 2: 2, 3: 1}


def test_foreach_batch_dedup_ingest_spans_triggers(spark, tmp_path):
    """Streaming corpus dedup: a doc arriving in a LATER micro-batch
    that near-dups an EARLIER batch's survivor must be rejected — the
    store spans triggers, which per-trigger dropDuplicates cannot.
    A replayed file (at-least-once) must not duplicate signatures."""
    from end_to_end_etl_pipeline_spark.streaming import foreach_batch_dedup_ingest

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    other = "entirely different text about catalyst and tungsten internals " * 4
    d = str(tmp_path / "docs_in")
    _write_batch(d, "b1.json", [
        {"doc_id": 1, "text": base + "x"},
        {"doc_id": 2, "text": other},
    ])
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    ckpt = str(tmp_path / "ckpt_dedup")
    stream = read_stream_files(spark, d, "doc_id bigint, text string", fmt="json")
    q = foreach_batch_dedup_ingest(stream, cat, "corpus.sigs", "text", ckpt)
    q.awaitTermination(120)
    assert sorted(r.doc_id for r in cat.read("corpus.sigs").collect()) == [1, 2]

    # second trigger: near-dup of batch-1 survivor + one fresh doc
    _write_batch(d, "b2.json", [
        {"doc_id": 10, "text": base + "y"},   # dup of doc 1 → rejected
        {"doc_id": 11, "text": other[::-1]},  # fresh
    ])
    q2 = foreach_batch_dedup_ingest(stream, cat, "corpus.sigs", "text", ckpt)
    q2.awaitTermination(120)
    assert sorted(r.doc_id for r in cat.read("corpus.sigs").collect()) == [1, 2, 11]

    # replay: re-ingesting batch 2's docs directly (simulating an
    # at-least-once redelivery) appends nothing — each doc rejects
    # against its own stored signature
    from end_to_end_etl_pipeline_spark.operators.dedup_store import MinHashDedupStore

    store = MinHashDedupStore(cat, "corpus.sigs")
    replay = spark.createDataFrame(
        [(11, other[::-1])], "doc_id bigint, text string"
    )
    acc, rej = store.ingest(replay, "text")
    assert acc.count() == 0
    [r] = rej.collect()
    assert r.dup_of == 11 and r.est_jaccard == 1.0
    assert sorted(r.doc_id for r in cat.read("corpus.sigs").collect()) == [1, 2, 11]


def test_foreach_batch_cms_maintenance_matches_batch_sketch(
    spark, stream_dir, tmp_path
):
    """The streamed grid (merged per micro-batch) must equal one
    sketch built over all the data at once, and estimates from it
    must never undercount the true frequencies."""
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_cms_maintenance,
    )

    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stream = read_stream_files(spark, stream_dir, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_cms_maintenance(
        stream,
        catalog,
        "gold.user_cms",
        key_col="user_id",
        checkpoint_dir=str(tmp_path / "ck_cms"),
        depth=3,
        width=16,
    )
    q.awaitTermination(120)
    grid = catalog.read("gold.user_cms").drop("_batch_id")
    all_rows = spark.read.schema(SCHEMA).json(stream_dir)
    want = cms_build(all_rows, "user_id", depth=3, width=16)
    as_map = lambda df: {(r.row, r.bucket): r.cnt for r in df.collect()}
    assert as_map(grid) == as_map(want)

    truth = {
        r.user_id: r.n
        for r in all_rows.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    keys = spark.createDataFrame([(k,) for k in truth], "user_id long")
    est = {
        r.user_id: r.cms_est
        for r in cms_estimate(grid, keys, "user_id", depth=3, width=16).collect()
    }
    for k, t in truth.items():
        assert est[k] >= t


def test_cms_maintenance_skips_replayed_batch(spark, tmp_path):
    from end_to_end_etl_pipeline_spark.streaming.jobs import apply_cms_batch

    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    b0 = spark.createDataFrame([(1,), (2,), (1,)], "user_id long")
    b1 = spark.createDataFrame([(1,), (3,)], "user_id long")
    assert apply_cms_batch(catalog, "g.cms", "user_id", b0, 0, depth=2, width=8)
    assert apply_cms_batch(catalog, "g.cms", "user_id", b1, 1, depth=2, width=8)
    snap = {
        (r.row, r.bucket): r.cnt
        for r in catalog.read("g.cms").drop("_batch_id").collect()
    }
    # at-least-once replay of batch 1: must be skipped, state unchanged
    assert not apply_cms_batch(catalog, "g.cms", "user_id", b1, 1, depth=2, width=8)
    again = {
        (r.row, r.bucket): r.cnt
        for r in catalog.read("g.cms").drop("_batch_id").collect()
    }
    assert again == snap


def test_foreach_batch_scd2_history_and_replay_convergence(spark, tmp_path):
    """Two micro-batches where a tracked attribute changes: the
    bucketed dimension must hold both history legs with correct
    validity stamps, and re-applying the second batch (at-least-once
    replay) must leave the state byte-identical (zero new legs)."""
    from end_to_end_etl_pipeline_spark.streaming.jobs import foreach_batch_scd2

    d = str(tmp_path / "cdc")
    schema = "cust_id bigint, tier string, changed_at timestamp"
    _write_batch(d, "b1.json", [
        {"cust_id": 1, "tier": "bronze", "changed_at": "2026-01-01T00:00:00Z"},
        {"cust_id": 2, "tier": "gold", "changed_at": "2026-01-01T00:00:00Z"},
    ])
    _write_batch(d, "b2.json", [
        # two versions of cust 1 in ONE batch: latest (silver) wins
        {"cust_id": 1, "tier": "copper", "changed_at": "2026-01-02T11:00:00Z"},
        {"cust_id": 1, "tier": "silver", "changed_at": "2026-01-02T12:00:00Z"},
        {"cust_id": 2, "tier": "gold", "changed_at": "2026-01-02T12:00:00Z"},
    ])
    catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stream = read_stream_files(spark, d, schema, max_files_per_trigger=1)
    q = foreach_batch_scd2(
        stream, catalog, "dim.cust", ["cust_id"], ["tier"],
        as_of_col="changed_at",
        checkpoint_dir=str(tmp_path / "ck_scd2"), n_buckets=4,
    )
    q.awaitTermination(120)

    rows = sorted(
        (r.cust_id, r.tier, str(r.effective_from), r.is_current)
        for r in catalog.read("dim.cust").collect()
    )
    # cust 1: bronze (expired) -> silver (current); cust 2: one leg
    assert [r[:2] + (r[3],) for r in rows] == [
        (1, "bronze", False), (1, "silver", True), (2, "gold", True),
    ]

    # at-least-once replay of batch 2: recomputed as_of is identical,
    # tracked hash-diff sees no change, state stays byte-identical
    before = sorted(map(tuple, catalog.read("dim.cust").collect()))
    b2 = spark.read.schema(schema).json(os.path.join(d, "b2.json"))
    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key
    from end_to_end_etl_pipeline_spark.sinks.manifest import BucketedSCD2
    latest = dedup_by_key(
        b2, ["cust_id"], order_by=[F.col("changed_at").desc(), "cust_id"]
    )
    BucketedSCD2(catalog, n_buckets=4).apply(
        latest.drop("changed_at"), "dim.cust", ["cust_id"], ["tier"],
        as_of=b2.agg(F.max("changed_at")).first()[0],
    )
    after = sorted(map(tuple, catalog.read("dim.cust").collect()))
    assert after == before


def test_foreach_batch_scd2_equal_timestamp_tie_is_content_deterministic(
    spark, tmp_path
):
    """Two CDC rows for the SAME key with EQUAL event timestamps must
    pick the same winner no matter the batch's row order: the
    tie-break is on tracked-column VALUES (the partition keys are
    constant within a window partition and cannot break a tie).
    Replay convergence depends on this — a nondeterministic winner
    would emit a spurious history leg on at-least-once redelivery."""
    from end_to_end_etl_pipeline_spark.streaming.jobs import foreach_batch_scd2

    rows = [
        {"cust_id": 1, "tier": "silver", "changed_at": "2026-01-01T00:00:00Z"},
        {"cust_id": 1, "tier": "bronze", "changed_at": "2026-01-01T00:00:00Z"},
    ]
    schema = "cust_id bigint, tier string, changed_at timestamp"
    winners = []
    for tag, ordering in (("fwd", rows), ("rev", rows[::-1])):
        d = str(tmp_path / f"cdc_{tag}")
        _write_batch(d, "b1.json", ordering)
        catalog = ManifestCatalog(spark, f"file://{tmp_path}/lake_{tag}")
        stream = read_stream_files(spark, d, schema, max_files_per_trigger=1)
        q = foreach_batch_scd2(
            stream, catalog, "dim.cust", ["cust_id"], ["tier"],
            as_of_col="changed_at",
            checkpoint_dir=str(tmp_path / f"ck_{tag}"), n_buckets=4,
        )
        q.awaitTermination(120)
        got = catalog.read("dim.cust").collect()
        assert len(got) == 1
        winners.append(got[0].tier)
    assert winners[0] == winners[1]


def test_foreach_batch_ann_ingest_appends_and_replay_guard(spark, tmp_path):
    """Two streamed micro-batches of embeddings must land in the
    IVFADC store exactly like two direct appends (frozen quantizer),
    and a replayed batch id must be skipped — the manifest's
    ann_last_batch_id marker rides the same commit as the data dirs."""
    import json as _json

    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
        write_ivfpq_store,
    )
    from end_to_end_etl_pipeline_spark.operators.pq import pq_train
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_ann_ingest,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
    )
    dim = len(emb.first().embedding)
    cb = pq_train(emb, "vec_id", "embedding", num_subspaces=8, num_centroids=8)
    base = emb.filter(F.col("vec_id") < 60)
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    write_ivfpq_store(cat, base, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)

    d = str(tmp_path / "feed")
    os.makedirs(d)
    for fname, lo, hi in (("b1.json", 60, 90), ("b2.json", 90, 120)):
        rows = [
            {"vec_id": r.vec_id, "embedding": [float(x) for x in r.embedding]}
            for r in emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            ).collect()
        ]
        with open(os.path.join(d, fname), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))

    stream = read_stream_files(
        spark, d, "vec_id bigint, embedding array<double>",
        max_files_per_trigger=1,
    )
    q = foreach_batch_ann_ingest(
        stream, cat, "ann.pq", checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)

    got = {r.vec_id: (r.cell, tuple(r.pq_codes)) for r in cat.read("ann.pq").collect()}
    assert set(got) == set(range(120))  # both batches landed, once each

    # the streamed rows carry the routed (nearest-centroid) cells —
    # identical to a direct append of the same rows
    direct = ManifestCatalog(spark, f"file://{tmp_path}/direct")
    write_ivfpq_store(direct, base, "vec_id", "embedding", "label", cb,
                      "ann.pq", dim=dim)
    direct.replace_atomic(cat.read("ann.pq__centroids"), "ann.pq__centroids")
    append_ivfpq_store(
        direct,
        emb.filter(F.col("vec_id") >= 60).select("vec_id", "embedding"),
        "ann.pq",
    )
    want = {r.vec_id: (r.cell, tuple(r.pq_codes)) for r in direct.read("ann.pq").collect()}
    assert got == want

    # at-least-once replay: batch id 1 (the last applied) is refused
    m_before = cat.latest_manifest("ann.pq")
    assert m_before["ann_last_batch_id"] == 1
    applied = append_ivfpq_store(
        cat,
        emb.filter(F.col("vec_id") >= 90).select("vec_id", "embedding"),
        "ann.pq", batch_id=1,
    )
    assert applied is False
    assert cat.latest_manifest("ann.pq")["version"] == m_before["version"]


def test_foreach_batch_text_index_ingest_appends_and_replay_guard(spark, tmp_path):
    """Two streamed document micro-batches must fold into the inverted
    index exactly like direct appends (stats combine, postings land in
    term buckets), and a replayed batch id must be refused."""
    import json as _json

    from end_to_end_etl_pipeline_spark.operators.text_index import (
        append_text_index,
        text_index_search,
        write_text_index,
    )
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_text_index_ingest,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 90)
    )
    base = docs.filter(F.col("doc_id") < 30)
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    write_text_index(cat, base, "doc_id", "text", "idx.t", n_buckets=8)

    d = str(tmp_path / "feed")
    os.makedirs(d)
    for fname, lo, hi in (("b1.json", 30, 60), ("b2.json", 60, 90)):
        rows = [
            {"doc_id": r.doc_id, "text": r.text}
            for r in docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).collect()
        ]
        with open(os.path.join(d, fname), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))

    stream = read_stream_files(
        spark, d, "doc_id bigint, text string", max_files_per_trigger=1
    )
    q = foreach_batch_text_index_ingest(
        stream, cat, "idx.t", checkpoint_dir=str(tmp_path / "ck"),
        # small-files policy under streaming: every trigger appends a
        # dir per touched term bucket; compact whenever the worst
        # bucket exceeds one dir
        auto_compact_max_dirs=1,
    )
    q.awaitTermination(120)

    # the policy ran: post-stream, no bucket is fragmented, and the
    # compaction preserved stats + replay marker (asserted below via
    # manifest equality and search results)
    mfrag = cat.latest_manifest("idx.t")
    assert all(len(ds) <= 1 for ds in mfrag["bucket_dirs"].values())

    # streamed result == one-shot index over all 90 docs
    once = ManifestCatalog(spark, f"file://{tmp_path}/once")
    write_text_index(once, docs, "doc_id", "text", "idx.t", n_buckets=8)
    mc, mo = cat.latest_manifest("idx.t"), once.latest_manifest("idx.t")
    assert (mc["ti_n_docs"], mc["ti_sum_dl"]) == (mo["ti_n_docs"], mo["ti_sum_dl"])
    queries = spark.createDataFrame(
        [(0, "dup"), (0, "batch")], "query_id bigint, word string"
    )
    got, _ = text_index_search(cat, "idx.t", queries, k=5)
    want, _ = text_index_search(once, "idx.t", queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # replay guard: last applied batch id (1) refused, stats untouched
    m = cat.latest_manifest("idx.t")
    assert m["text_last_batch_id"] == 1
    assert append_text_index(
        cat, docs.filter(F.col("doc_id") >= 60), "doc_id", "text",
        "idx.t", batch_id=1,
    ) is False
    assert cat.latest_manifest("idx.t") == m


def test_foreach_batch_bitmap_uniques_exact_and_replay(spark, tmp_path):
    """Streamed per-day bitmap state must count EXACTLY the distinct
    users per day across micro-batches (recurring users never double-
    count), and a replayed batch id must be skipped."""
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        apply_bitmap_batch,
        foreach_batch_bitmap_uniques,
    )

    d = str(tmp_path / "bm_in")
    _write_batch(d, "b1.json", [
        {"event_id": 1, "ts": "2026-01-01T01:00:00Z", "user_id": 0, "event_type": "view", "value": 1.0},
        {"event_id": 2, "ts": "2026-01-01T02:00:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
        {"event_id": 3, "ts": "2026-01-01T03:00:00Z", "user_id": 0, "event_type": "view", "value": 1.0},
    ])
    _write_batch(d, "b2.json", [
        {"event_id": 4, "ts": "2026-01-01T04:00:00Z", "user_id": 0, "event_type": "view", "value": 1.0},
        {"event_id": 5, "ts": "2026-01-01T05:00:00Z", "user_id": 2, "event_type": "view", "value": 1.0},
        {"event_id": 6, "ts": "2026-01-02T01:00:00Z", "user_id": 7, "event_type": "view", "value": 1.0},
    ])
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lake")
    stream = read_stream_files(spark, d, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_bitmap_uniques(
        stream, cat, "g.bm", "user_id", "ts",
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)

    dau = {
        str(r.day): r.dau
        for r in cat.read("g.bm").drop("_batch_id")
        .groupBy("day").agg(F.sum(F.bitmap_count("bm")).alias("dau"))
        .collect()
    }
    # day 1: users {0,1,2} despite 0 appearing 3x across batches
    assert dau == {"2026-01-01": 3, "2026-01-02": 1}

    # replay of batch 1 (already applied): refused, state unchanged
    before = sorted(map(tuple, cat.read("g.bm").collect()))
    b2 = spark.read.schema(SCHEMA).json(os.path.join(d, "b2.json"))
    assert apply_bitmap_batch(cat, "g.bm", "user_id", "ts", b2, 1) is False
    assert sorted(map(tuple, cat.read("g.bm").collect())) == before


def test_file_source_batching_contract(spark, tmp_path):
    """The driver-gated streaming queries (late-data, stream-stream
    join, stateful sessions) all assume: maxFilesPerTrigger=1 is
    honored under Trigger.AvailableNow (one file per micro-batch, in
    (modTime, path) order), and the watermark used by batch N is the
    one computed from data through batch N-1. If a Spark upgrade
    changes any of that, fail HERE with a readable message instead of
    as a cryptic oracle hash mismatch in the driver window."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    root = tmp_path / "batching"
    landing = root / "landing"
    T0 = 1_700_000_000_000  # ms epoch, arbitrary fixed
    for i, mtime in enumerate((1_000_000, 2_000_000, 3_000_000)):
        pdf = pd.DataFrame({"k": [i], "ts": [pd.Timestamp((T0 + i * 3_600_000) * 10**6)]})
        before = set(os.listdir(landing)) if landing.is_dir() else set()
        spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(
            f"file://{landing}"
        )
        for f in set(os.listdir(landing)) - before:
            if not f.startswith(("_", ".")):
                os.utime(landing / f, (mtime, mtime))

    stream = (
        spark.readStream.schema("k long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"file://{landing}")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", f"file://{root}/out")
        .outputMode("append")
        .option("checkpointLocation", f"file://{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) == 3, (
        "maxFilesPerTrigger=1 no longer yields one file per micro-batch "
        f"under AvailableNow: {[(p['batchId'], p['numInputRows']) for p in q.recentProgress]}"
    )
    assert all(p["numInputRows"] == 1 for p in data_batches)
    # watermark lags one batch: zero for the first data batch, then
    # strictly advancing as each prior batch's max event time lands
    wms = [p["eventTime"].get("watermark") for p in data_batches]
    assert wms[0] == "1970-01-01T00:00:00.000Z", wms
    assert wms[1] < wms[2], wms
    # append mode + final watermark: the first two windows finalized
    out = spark.read.parquet(f"file://{root}/out")
    assert out.count() == 2


def test_index_ingest_bridges_survive_midstream_crash(spark, tmp_path):
    """Mid-stream CRASH-RESTART for the lexical and dedup ingest
    bridges — the pytest twins of the driver-gated
    ``streaming_ann_ingest_restart``. Each run 1 performs the
    bridge's real store commit for micro-batch 1 and then dies
    BEFORE the checkpoint's batch commit (an injected failure after
    the append returns — exactly the at-least-once window); run 2
    restarts the SHIPPED bridge from the same checkpoint, so
    Structured Streaming replays batch 1 with the same id. The
    text-index bridge must refuse the replay via its CAS-riding
    ``text_last_batch_id`` marker; the dedup bridge has no marker and
    must converge STRUCTURALLY (replayed docs meet their own
    signatures at estimated Jaccard 1.0 and are rejected). Both final
    stores must equal a one-shot build over the union."""
    import json as _json

    from pyspark.errors import StreamingQueryException

    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )
    from end_to_end_etl_pipeline_spark.operators.text_index import (
        append_text_index,
        text_index_search,
        write_text_index,
    )
    from end_to_end_etl_pipeline_spark.streaming.jobs import (
        foreach_batch_dedup_ingest,
        foreach_batch_text_index_ingest,
        read_stream_files,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 120)
    )
    base = docs.filter(F.col("doc_id") < 30)
    d = str(tmp_path / "feed")
    os.makedirs(d)
    for fname, lo, hi in (
        ("b1.json", 30, 60), ("b2.json", 60, 90), ("b3.json", 90, 120)
    ):
        rows = [
            {"doc_id": r.doc_id, "text": r.text}
            for r in docs.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).collect()
        ]
        with open(os.path.join(d, fname), "w") as f:
            f.write("\n".join(_json.dumps(r) for r in rows))

    def crash_run(ckpt: str, apply_fn) -> None:
        def _sabotaged(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            apply_fn(batch_df, batch_id)
            if batch_id == 1:
                raise RuntimeError("injected-crash-after-commit")

        q = (
            read_stream_files(
                spark, d, "doc_id bigint, text string",
                max_files_per_trigger=1,
            )
            .writeStream.foreachBatch(_sabotaged)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="injected-crash"):
            q.awaitTermination(120)

    # --- lexical index: marker-guarded replay -------------------------
    cat = ManifestCatalog(spark, f"file://{tmp_path}/lex")
    write_text_index(cat, base, "doc_id", "text", "idx.t", n_buckets=8)
    ck = str(tmp_path / "ck_lex")
    crash_run(ck, lambda b, i: append_text_index(
        cat, b, "doc_id", "text", "idx.t", batch_id=i))
    assert cat.latest_manifest("idx.t")["text_last_batch_id"] == 1
    q = foreach_batch_text_index_ingest(
        read_stream_files(
            spark, d, "doc_id bigint, text string", max_files_per_trigger=1
        ),
        cat, "idx.t", checkpoint_dir=ck,
    )
    q.awaitTermination(120)
    m = cat.latest_manifest("idx.t")
    assert m["text_last_batch_id"] == 2
    once = ManifestCatalog(spark, f"file://{tmp_path}/lex_once")
    write_text_index(once, docs, "doc_id", "text", "idx.t", n_buckets=8)
    mo = once.latest_manifest("idx.t")
    assert (m["ti_n_docs"], m["ti_sum_dl"]) == (mo["ti_n_docs"], mo["ti_sum_dl"])
    queries = spark.createDataFrame(
        [(0, "dup"), (1, "batch")], "query_id bigint, word string"
    )
    got, _ = text_index_search(cat, "idx.t", queries, k=5)
    want, _ = text_index_search(once, "idx.t", queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # --- dedup store: structural replay convergence -------------------
    dcat = ManifestCatalog(spark, f"file://{tmp_path}/ded")
    store = MinHashDedupStore(dcat, "dd.sigs")
    store.ingest(base, "text")
    ck2 = str(tmp_path / "ck_ded")
    crash_run(ck2, lambda b, i: store.ingest(b, "text"))
    q = foreach_batch_dedup_ingest(
        read_stream_files(
            spark, d, "doc_id bigint, text string", max_files_per_trigger=1
        ),
        dcat, "dd.sigs", "text", checkpoint_dir=ck2,
    )
    q.awaitTermination(120)
    ref_cat = ManifestCatalog(spark, f"file://{tmp_path}/ded_once")
    ref = MinHashDedupStore(ref_cat, "dd.sigs")
    ref.ingest(base, "text")
    for lo, hi in ((30, 60), (60, 90), (90, 120)):
        ref.ingest(
            docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
            "text",
        )
    got_ids = sorted(
        r.doc_id for r in dcat.read("dd.sigs").select("doc_id").collect()
    )
    want_ids = sorted(
        r.doc_id for r in ref_cat.read("dd.sigs").select("doc_id").collect()
    )
    assert got_ids == want_ids  # replayed batch added NO duplicate rows
    assert len(got_ids) == len(set(got_ids))

"""Structured Streaming surface: file-source streams into the
stateful operators (sessions, stream-stream joins) and the
foreachBatch lakehouse bridges (aggregate maintenance, SCD2, ANN
ingest), run to completion with the availableNow trigger and compared
against batch equivalents; plus the file-source batching and
watermark contracts the registered streaming queries rely on."""

import json
import os

import pytest
from pyspark.sql import functions as F

from end_to_end_etl_pipeline_spark.sinks.manifest import ManifestCatalog

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
    stream = spark.readStream.schema(SCHEMA).json(d)
    sessions = sessionize(stream, "user_id", "ts")
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
    views = spark.readStream.schema(
        "view_id bigint, vts timestamp, user_id bigint"
    ).json(vd)
    purch = spark.readStream.schema(
        "purchase_id bigint, pts timestamp, user_id bigint"
    ).json(pd_)
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
        agg = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count("*").alias("n"))
        )
        q = (agg.writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(str(r.win.start), r.event_type): r.n
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
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(stream_dir)
    )
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


def test_foreach_batch_scd2_history_and_replay_convergence(spark, tmp_path):
    """Two micro-batches where a tracked attribute changes: the
    dimension must hold both history legs with correct
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
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(d)
    )
    q = foreach_batch_scd2(
        stream, catalog, "dim.cust", ["cust_id"], ["tier"],
        as_of_col="changed_at",
        checkpoint_dir=str(tmp_path / "ck_scd2"),
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
    from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine
    latest = dedup_by_key(
        b2, ["cust_id"], order_by=[F.col("changed_at").desc(), "cust_id"]
    )
    SCDEngine(catalog).apply_scd2(
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
        stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(d)
    )
        q = foreach_batch_scd2(
            stream, catalog, "dim.cust", ["cust_id"], ["tier"],
            as_of_col="changed_at",
            checkpoint_dir=str(tmp_path / f"ck_{tag}"),
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

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(d)
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
    """Mid-stream CRASH-RESTART for the dedup store fed by a plain
    ``foreachBatch`` ingest — the pytest twin of the registered
    ``streaming_ann_ingest_restart`` query. Run 1 performs the store's
    real commit for micro-batch 1 and then dies BEFORE the
    checkpoint's batch commit (an injected failure after the ingest
    returns — exactly the at-least-once window); run 2 restarts from
    the same checkpoint, so Structured Streaming replays batch 1 with
    the same id. ``MinHashDedupStore`` has no replay marker and must
    converge STRUCTURALLY (replayed docs meet their own signatures at
    estimated Jaccard 1.0 and are rejected): the final store must
    equal a one-shot build over the union."""
    import json as _json

    from pyspark.errors import StreamingQueryException

    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
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

    def ingest(ckpt: str, apply_fn, crash: bool) -> None:
        def _apply(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            apply_fn(batch_df, batch_id)
            if crash and batch_id == 1:
                raise RuntimeError("injected-crash-after-commit")

        q = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .json(d)
            .writeStream.foreachBatch(_apply)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        if not crash:
            q.awaitTermination(120)
            return
        with pytest.raises(StreamingQueryException, match="injected-crash"):
            q.awaitTermination(120)

    dcat = ManifestCatalog(spark, f"file://{tmp_path}/ded")
    store = MinHashDedupStore(dcat, "dd.sigs")
    store.ingest(base, "text")
    ck2 = str(tmp_path / "ck_ded")
    ingest(ck2, lambda b, i: store.ingest(b, "text"), crash=True)
    ingest(ck2, lambda b, i: store.ingest(b, "text"), crash=False)
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

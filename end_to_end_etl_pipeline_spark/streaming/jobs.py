"""Structured Streaming surface.

The reference has NO streaming code — its architecture diagram shows
a streaming icon and the README claims "incremental where required"
(SURVEY.md §2.9), but incrementality is batch SCD2. This module is
the honest Spark-native version of that promise: the same engine
operators driven by ``readStream``/``writeStream``.

Design stance for scale:

* File-source streams with **explicit schemas** (same rule as batch
  scans — no inference over an unbounded directory).
* **Watermarks bound state.** Every stateful op (windowed agg,
  dedup) declares how late data may arrive; Spark evicts state past
  the watermark, so state size tracks the lateness budget, not the
  stream length.
* **foreachBatch bridges to the lakehouse.** Each micro-batch is a
  normal DataFrame handed to the same SCD merge + manifest-commit
  machinery as batch loads — one code path for semantics, streaming
  only changes the trigger. This mirrors what the reference's Delta
  MERGE-per-load would become under ``availableNow``/continuous
  triggers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_stream_files(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S1/S2 streaming twin: incremental file-source scan with an
    explicit schema. ``maxFilesPerTrigger`` caps micro-batch size so
    a backlog replay can't produce one giant batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.format(fmt).load(path)


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Tumbling-window counts with a lateness watermark — the
    canonical streaming aggregation. State per (window, group) is one
    count; windows older than the watermark are finalized and
    evicted."""
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *group_cols)
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n",
        )
    )


def stream_dedup(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on the KEYS alone: first arrival per key
    wins, including re-deliveries that were re-stamped with a
    different event time (the at-least-once norm); key state drops
    once the watermark passes (bounded memory — the streaming twin of
    ``operators/dedup.dedup_by_key``). Plain
    ``dropDuplicates([*keys, ts])`` would keep a re-stamped replay."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_static_join(
    stream: DataFrame,
    static_dim: DataFrame,
    keys: Sequence[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of ``stream``
    joins against the (batch) ``static_dim`` — the standard pattern
    for stamping events with dimension attributes in flight.

    The static side is re-evaluated per micro-batch (so a dimension
    backed by a catalog table picks up new versions between
    triggers), and ``broadcast_dim=True`` pins a broadcast-hash
    plan: the stream side never shuffles, which is the property that
    keeps per-trigger latency flat as the stream scales. Stateless —
    no watermark needed.

    ``how`` must be stream-side-preserving (``inner``/``left``/
    ``left_semi``/``left_anti``): Spark cannot emit unmatched static
    rows without scanning the unbounded stream.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(
            f"stream-static join must preserve the stream side, got how={how!r}"
        )
    dim = F.broadcast(static_dim) if broadcast_dim else static_dim
    return stream.join(dim, list(keys), how)


def foreach_batch_scd1(
    stream_df: DataFrame,
    catalog,
    table: str,
    keys: Sequence[str],
    dedup_order_by,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous upsert: each micro-batch is deterministically
    deduped to one row per key and SCD1-merged into the catalog table
    — identical semantics to a batch ``apply_scd1`` per trigger, with
    exactly-once table state via the checkpoint + atomic manifest
    commit pair.

    Returns the started ``StreamingQuery`` (caller awaits)."""
    from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine

    engine = SCDEngine(catalog)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        engine.apply_scd1(
            batch_df, table, keys, dedup_order_by=dedup_order_by
        )

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def running_profile(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str | None = None,
    watermark: str = "2 hours",
    state_ttl_minutes: int | None = None,
) -> DataFrame:
    """Per-key running profile (event count, first/last seen,
    optional value sum) via ``transformWithStateInPandas`` — the
    Spark 4.x typed-state successor to ``applyInPandasWithState``
    (:func:`sessionize` keeps the older API as the portability path).

    What the new API buys at scale: named state variables with
    per-state TTL (``state_ttl_minutes`` evicts profiles for keys
    gone quiet without a watermark dance — unbounded key spaces stay
    bounded), and an operator contract (init/handleInputRows/close)
    that composes with value/list/map state and timers instead of one
    tuple per key. Emits one updated profile row per key per
    micro-batch (Update mode); state is one fixed-width tuple per
    key. Arrow-batched: each group's rows arrive as pandas frames,
    aggregated vectorized — no per-row Python.

    Runtime note: executing this operator needs the ``protobuf``
    package (the transformWithState Python worker speaks protobuf to
    the JVM state server). Plan construction and schema analysis do
    not — environments without protobuf can still build and inspect
    the query (the e2e test skips itself there).

    Emits (key, n_events, first_seen, last_seen[, value_sum]).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor

    key_type = events.schema[key_col].dataType.simpleString()
    has_val = value_col is not None
    out_schema = (
        f"{key_col} {key_type}, n_events bigint, "
        "first_seen timestamp, last_seen timestamp"
        + (", value_sum double" if has_val else "")
    )
    ttl_ms = state_ttl_minutes * 60 * 1000 if state_ttl_minutes else None

    class _Profile(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "profile",
                "n bigint, first_ms bigint, last_ms bigint, vsum double",
                ttlDurationMs=ttl_ms,
            )

        def handleInputRows(self, key, rows, timer_values):
            prev = self._state.get() if self._state.exists() else None
            n, first_ms, last_ms, vsum = prev or (0, None, None, 0.0)
            for pdf in rows:
                ms = pdf[ts_col].astype("int64") // 1_000_000
                n += len(pdf)
                first_ms = ms.min() if first_ms is None else min(first_ms, ms.min())
                last_ms = ms.max() if last_ms is None else max(last_ms, ms.max())
                if has_val:
                    vsum += float(pdf[value_col].fillna(0.0).sum())
            self._state.update((int(n), int(first_ms), int(last_ms), float(vsum)))
            out = {
                key_col: [key[0]],
                "n_events": [int(n)],
                "first_seen": [pd.to_datetime(first_ms, unit="ms")],
                "last_seen": [pd.to_datetime(last_ms, unit="ms")],
            }
            if has_val:
                out["value_sum"] = [float(vsum)]
            yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .transformWithStateInPandas(
            _Profile(), out_schema, "Update", "EventTime"
        )
    )


def sessionize(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    Arrow-batched ``applyInPandasWithState`` — the escape hatch for
    stream semantics the built-in operators can't express (built-in
    ``session_window`` covers plain gap windows; this shape is where
    custom per-key state logic plugs in).

    Per user, consecutive events ≤ ``gap_minutes`` apart form a
    session; a longer gap closes it. Closed sessions emit immediately
    (in-batch gaps) or via event-time timeout once the watermark
    passes the open session's deadline — so state per key is one
    open session, bounded by the watermark like every stateful op.

    Emits (user, session_start, session_end, n_events).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = gap_minutes * 60 * 1000
    user_type = events.schema[user_col].dataType.simpleString()
    out_schema = (
        f"{user_col} {user_type}, session_start timestamp, "
        "session_end timestamp, n_events bigint"
    )
    state_schema = "start_ms bigint, last_ms bigint, n bigint"

    def _emit(user, sessions):
        import pandas as pd

        return pd.DataFrame(
            {
                user_col: [user] * len(sessions),
                "session_start": [pd.to_datetime(s, unit="ms") for s, _e, _n in sessions],
                "session_end": [pd.to_datetime(e, unit="ms") for _s, e, _n in sessions],
                "n_events": [n for _s, _e, n in sessions],
            }
        )

    def fn(key, pdfs, state: GroupState):
        user = key[0]
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield _emit(user, [(start_ms, last_ms, n)])
            return
        ts = []
        for pdf in pdfs:
            ts.extend((pdf[ts_col].astype("int64") // 1_000_000).tolist())
        ts.sort()
        start_ms, last_ms, n = state.get if state.exists else (None, None, 0)
        closed = []
        for t in ts:
            if start_ms is None:
                start_ms, last_ms, n = t, t, 1
            elif t - last_ms > gap_ms:
                closed.append((start_ms, last_ms, n))
                start_ms, last_ms, n = t, t, 1
            else:
                last_ms, n = max(last_ms, t), n + 1
        state.update((start_ms, last_ms, n))
        state.setTimeoutTimestamp(last_ms + gap_ms)
        if closed:
            yield _emit(user, closed)

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(user_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_time: str,
    right_time: str,
    watermark: str = "1 hour",
    max_delay_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream equi-join with an event-time band: a left row
    matches right rows of the same key with ``right_time`` in
    ``[left_time, left_time + max_delay]`` — the attribution shape
    (impression→conversion, order→shipment).

    Both sides are unbounded, so Spark must buffer state; the
    watermark plus the two-sided time condition is what BOUNDS it:
    a buffered left row is evictable once the right watermark passes
    ``left_time + max_delay``, so state size tracks
    (rate × (watermark + band)), not stream length. Without the band
    the state grows forever — the join condition is load-bearing for
    memory, not just semantics.

    Column names must be disjoint apart from ``keys`` (pre-alias).
    ``how``: inner joins emit as matches arrive; outer variants emit
    NULL-padded rows only after watermark expiry.
    """
    lw = left.withWatermark(left_time, watermark)
    rw = right.withWatermark(right_time, watermark)
    cond = None
    for k in keys:
        c = lw[k] == rw[k]
        cond = c if cond is None else cond & c
    lt, rt = lw[left_time], rw[right_time]
    cond = (
        cond
        & (rt >= lt)
        & (rt <= lt + F.expr(f"INTERVAL {max_delay_seconds} SECONDS"))
    )
    joined = lw.join(rw, cond, how)
    # drop the right-side duplicate key columns
    return joined.drop(*[rw[k] for k in keys])


def foreach_batch_agg_maintenance(
    stream_df: DataFrame,
    catalog,
    table: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming materialized view: keep a grouped sum/count state
    table current by merging each micro-batch as an insert-only CDC
    delta (``operators/incremental.apply_agg_delta``) — the stream
    analogue of the batch IVM path, and what ``outputMode("update")``
    cannot give you: the full state lives in an atomically-committed,
    batch-readable catalog table, not in the sink's opaque state
    store.

    Per trigger: one change-proportional aggregation over the batch +
    one key join against the (groups-sized, not corpus-sized) state,
    then an atomic manifest commit. foreachBatch is at-least-once and
    additive deltas are NOT idempotent (unlike the SCD1 bridge's
    keyed upsert), so the state table carries the last applied
    ``_batch_id`` inside the same atomic commit — a replayed batch
    after a crash-between-commit-and-checkpoint is detected and
    skipped instead of double-counted.

    Returns the started ``StreamingQuery`` (caller awaits)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_agg_batch(catalog, table, keys, sum_cols, batch_df, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_agg_batch(
    catalog,
    table: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    batch_df: DataFrame,
    batch_id: int,
) -> bool:
    """One micro-batch of :func:`foreach_batch_agg_maintenance`,
    exposed for direct replay testing. Returns False when the batch
    was skipped (already applied — the at-least-once replay case)."""
    from end_to_end_etl_pipeline_spark.operators.incremental import (
        apply_agg_delta,
        grouped_agg_state,
    )

    if batch_df.isEmpty():
        return False
    delta = batch_df.withColumn("_change_type", F.lit("insert"))
    if catalog.exists(table):
        stored = catalog.read(table)
        first = stored.select("_batch_id").first()
        if first is not None and first["_batch_id"] >= batch_id:
            return False  # at-least-once replay of an applied batch
        state = stored.drop("_batch_id")
    else:
        state = grouped_agg_state(batch_df.limit(0), keys, sum_cols)
    catalog.replace_atomic(
        apply_agg_delta(state, delta, keys, sum_cols).withColumn(
            "_batch_id", F.lit(batch_id).cast("long")
        ),
        table,
    )
    return True


def foreach_batch_dedup_ingest(
    stream_df: DataFrame,
    catalog,
    table: str,
    text_col: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    available_now: bool = True,
    auto_compact_max_dirs: int | None = None,
):
    """Continuous corpus dedup: every micro-batch of documents is
    near-dup-checked against the persisted MinHash signature store
    (``operators/dedup_store.MinHashDedupStore``) and only survivors'
    signatures are appended — the streaming form of incremental
    corpus curation, where "have we seen this before?" spans every
    batch ever ingested, not just the current trigger (which is all
    ``dropDuplicates`` + watermark can bound).

    At-least-once safety is structural rather than batch-id-tracked:
    a replayed batch's documents find their OWN previous signatures
    in the store, estimate Jaccard 1.0 against them, and are rejected
    — the store converges to the same state, so crash-replays don't
    duplicate signatures (unlike additive agg maintenance, which
    needs the explicit ``_batch_id`` guard).

    ``auto_compact_max_dirs``: as in
    :func:`foreach_batch_ann_ingest` — each trigger appends one
    signature dir, so when set, the trigger ends with
    ``catalog.maybe_optimize(table, ...)`` and per-ingest store scans
    stay bounded. Returns the started ``StreamingQuery`` (caller
    awaits)."""
    from end_to_end_etl_pipeline_spark.operators.dedup_store import (
        MinHashDedupStore,
    )

    store = MinHashDedupStore(catalog, table, id_col=id_col, threshold=threshold)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.ingest(batch_df, text_col)
        if auto_compact_max_dirs is not None:
            catalog.maybe_optimize(table, max_dirs=auto_compact_max_dirs)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_cms_maintenance(
    stream_df: DataFrame,
    catalog,
    table: str,
    key_col: str,
    checkpoint_dir: str,
    depth: int = 4,
    width: int = 256,
    available_now: bool = True,
):
    """Streaming heavy-hitter state: keep a count-min sketch
    (``operators/sketches``) current over an unbounded key stream.
    Each micro-batch builds its own depth × width sketch (one
    map-side-partial agg over the batch) and merges bucket-wise into
    the persisted grid — the state is depth × width integers FOREVER,
    regardless of stream length or key cardinality, which is the whole
    reason to sketch: exact streaming ``groupBy(key).count()`` state
    grows with distinct keys and eventually cannot fit anywhere.

    Like additive agg maintenance (and unlike the dedup-store bridge),
    bucket increments are NOT idempotent under at-least-once replay,
    so the committed grid carries the last applied ``_batch_id``; a
    replayed batch is detected and skipped.

    Returns the started ``StreamingQuery`` (caller awaits). Query the
    sketch any time with ``operators/sketches.cms_estimate`` over
    ``catalog.read(table).drop('_batch_id')``."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_cms_batch(
            catalog, table, key_col, batch_df, batch_id, depth=depth, width=width
        )

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_cms_batch(
    catalog,
    table: str,
    key_col: str,
    batch_df: DataFrame,
    batch_id: int,
    depth: int = 4,
    width: int = 256,
) -> bool:
    """One micro-batch of :func:`foreach_batch_cms_maintenance`,
    exposed for direct replay testing. Returns False when the batch
    was skipped (empty, or already applied under at-least-once
    replay)."""
    from end_to_end_etl_pipeline_spark.operators.sketches import (
        cms_build,
        cms_merge,
    )

    if batch_df.isEmpty():
        return False
    delta = cms_build(batch_df, key_col, depth=depth, width=width)
    if catalog.exists(table):
        stored = catalog.read(table)
        first = stored.select("_batch_id").first()
        if first is not None and first["_batch_id"] >= batch_id:
            return False
        merged = cms_merge(stored.drop("_batch_id"), delta)
    else:
        merged = delta
    catalog.replace_atomic(
        merged.withColumn("_batch_id", F.lit(batch_id).cast("long")), table
    )
    return True


def foreach_batch_scd2(
    stream_df: DataFrame,
    catalog,
    table: str,
    keys: Sequence[str],
    tracked: Sequence[str],
    as_of_col: str,
    checkpoint_dir: str,
    n_buckets: int = 64,
    available_now: bool = True,
):
    """Streaming dimension history: each micro-batch SCD2-merges into
    a bucketed catalog table (``sinks/manifest.BucketedSCD2`` — only
    buckets containing changed keys rewrite, the rest re-point), so a
    slowly-changing dimension stays current AND fully historized
    under a continuous CDC feed. The effective-from timestamp is the
    batch's max ``as_of_col`` — derived from batch CONTENT, so an
    at-least-once replay of the same batch recomputes the same
    timestamp, finds every tracked column unchanged (hash-diff), and
    emits zero new legs: replay-convergent without a batch-id guard,
    like the dedup-store bridge and unlike additive aggregates.

    Returns the started ``StreamingQuery`` (caller awaits)."""
    from end_to_end_etl_pipeline_spark.operators.dedup import dedup_by_key
    from end_to_end_etl_pipeline_spark.sinks.manifest import BucketedSCD2

    engine = BucketedSCD2(catalog, n_buckets=n_buckets)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        as_of = batch_df.agg(F.max(as_of_col)).first()[0]
        # a CDC batch may carry several versions of one key: the
        # latest change (by event time) wins; equal-timestamp ties
        # break on the tracked column VALUES (the partition keys are
        # constant within a window partition, so they can't break a
        # tie) — same batch content always picks the same winner,
        # which the replay-convergence contract above depends on
        latest = dedup_by_key(
            batch_df,
            keys,
            order_by=[F.col(as_of_col).desc(), *[F.col(c) for c in tracked]],
        )
        engine.apply(latest.drop(as_of_col), table, keys, tracked, as_of=as_of)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_ann_ingest(
    stream_df: DataFrame,
    catalog,
    table: str,
    checkpoint_dir: str,
    cell_col: str | None = None,
    available_now: bool = True,
    auto_compact_max_dirs: int | None = None,
):
    """Continuous ANN-index maintenance: every micro-batch of new
    embeddings is folded into the persisted IVFADC store
    (``operators/ivf_store.append_ivfpq_store``) with the quantizer
    FROZEN — batch rows are PQ-encoded with the manifest's stored
    codebook and routed to cells by the in-plan
    nearest-stored-centroid projection (or ``cell_col`` when the feed
    carries its own assignment), then CAS-appended into the cell
    bucket dirs. Queries against the store see each batch as soon as
    its manifest commit lands; untouched cells never pay for appends.

    At-least-once safety: appends are ADDITIVE (a replayed batch
    would double rows), so the bridge passes the micro-batch id and
    ``append_ivfpq_store`` skips batches at or below the manifest's
    ``ann_last_batch_id`` marker — the marker rides the SAME manifest
    commit as the data dirs, so there is no window where data landed
    but the marker didn't (same contract as the agg/CMS ``_batch_id``
    guards, enforced at the storage layer instead of a state column).

    The store must exist (``write_ivfpq_store``) before the stream
    starts — the codebook and centroids are model parameters the
    stream consumes, not state it creates.

    ``auto_compact_max_dirs``: every micro-batch appends one dir per
    touched cell bucket, so a long-running stream fragments the store
    toward one-dir-per-batch probes; when set, each trigger ends with
    ``catalog.maybe_optimize(table, max_dirs=...)`` — a rewrite runs
    only once the WORST cell exceeds the threshold (optimize
    preserves the identity-bucketed cell layout and custom manifest
    metadata, pytest-proven), so probe-time read amplification stays
    bounded forever. Returns the started ``StreamingQuery`` (caller
    awaits)."""
    from end_to_end_etl_pipeline_spark.operators.ivf_store import (
        append_ivfpq_store,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_ivfpq_store(
            catalog, batch_df, table, cell_col=cell_col, batch_id=batch_id
        )
        if auto_compact_max_dirs is not None:
            catalog.maybe_optimize(table, max_dirs=auto_compact_max_dirs)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_text_index_ingest(
    stream_df: DataFrame,
    catalog,
    table: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    auto_compact_max_dirs: int | None = None,
):
    """Continuous lexical-index maintenance: every micro-batch of
    documents folds into the persisted inverted index
    (``operators/text_index.append_text_index``) — new postings
    CAS-append into their terms' hash buckets and the one-row corpus
    stats combine exactly, so BM25 queries see each batch as soon as
    its manifest commit lands. Postings appends are ADDITIVE, so the
    bridge passes the micro-batch id and the append is skipped when
    the manifest's ``text_last_batch_id`` marker says it was already
    applied (the marker rides the SAME commit as the posting dirs —
    no data-without-marker window; same contract as the ANN bridge).

    The index must exist (``write_text_index``) before the stream
    starts. ``auto_compact_max_dirs``: as in
    :func:`foreach_batch_ann_ingest` — bound posting-bucket
    fragmentation by compacting once the worst term bucket exceeds
    the threshold. Returns the started ``StreamingQuery`` (caller
    awaits)."""
    from end_to_end_etl_pipeline_spark.operators.text_index import (
        append_text_index,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        append_text_index(
            catalog, batch_df, id_col, text_col, table, batch_id=batch_id
        )
        if auto_compact_max_dirs is not None:
            catalog.maybe_optimize(table, max_dirs=auto_compact_max_dirs)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_bitmap_uniques(
    stream_df: DataFrame,
    catalog,
    table: str,
    key_col: str,
    ts_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Streaming EXACT distinct counting: keep per-(day, bucket)
    bitmaps of seen keys current over an unbounded event stream — the
    exact counterpart of the count-min/HLL bridges for id spaces
    dense enough to bitmap. Each micro-batch builds its own bitmaps
    (one map-side-partial ``bitmap_construct_agg``) and ORs them into
    the persisted state; exact DAU at any time is
    ``groupBy(day).sum(bitmap_count(bm))`` over
    ``catalog.read(table).drop('_batch_id')``. State is 4 KB per
    (day, bucket) FOREVER, regardless of how many times a user
    recurs — the property exact ``dropDuplicates`` streaming state
    (one row per distinct key) cannot offer.

    Bitmap ORs ARE idempotent, but a replayed batch may interleave
    with later state only under exactly-once assumptions the
    foreachBatch sink doesn't give; the ``_batch_id`` guard (same as
    the agg/CMS bridges) keeps replays out regardless. Keys shift +1
    before bucketing (bitmap positions are 1-based; ids may be 0).

    Returns the started ``StreamingQuery`` (caller awaits)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_bitmap_batch(catalog, table, key_col, ts_col, batch_df, batch_id)

    writer = (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def apply_bitmap_batch(
    catalog,
    table: str,
    key_col: str,
    ts_col: str,
    batch_df: DataFrame,
    batch_id: int,
) -> bool:
    """One micro-batch of :func:`foreach_batch_bitmap_uniques`,
    exposed for direct replay testing. Returns False when the batch
    was skipped (empty, or already applied under at-least-once
    replay)."""
    if batch_df.isEmpty():
        return False
    ev = batch_df.select(
        F.to_date(ts_col).alias("day"),
        (F.col(key_col) + 1).alias("__uid"),
    )
    delta = ev.groupBy(
        "day", F.bitmap_bucket_number("__uid").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("__uid")).alias("bm"))
    if catalog.exists(table):
        stored = catalog.read(table)
        first = stored.select("_batch_id").first()
        if first is not None and first["_batch_id"] >= batch_id:
            return False
        merged = (
            stored.drop("_batch_id")
            .unionByName(delta)
            .groupBy("day", "bucket")
            .agg(F.bitmap_or_agg("bm").alias("bm"))
        )
    else:
        merged = delta
    catalog.replace_atomic(
        merged.withColumn("_batch_id", F.lit(batch_id).cast("long")), table
    )
    return True

"""Structured Streaming surface.

The reference has NO streaming code — its architecture diagram shows
a streaming icon and the README claims "incremental where required"
(SURVEY.md §2.9), but incrementality is batch SCD2. This module
holds the streaming operators the registered streaming queries use
(each query builds its own ``spark.readStream`` source with an
explicit schema):

* **Stateful operators** — ``sessionize`` (event-time session
  state) and ``stream_stream_join`` (a time-bounded interval join).
  Both declare a watermark, so Spark evicts state past it and state
  size tracks the lateness budget, not the stream length.
* **foreachBatch bridges to the lakehouse** —
  ``foreach_batch_agg_maintenance``, ``foreach_batch_scd2`` and
  ``foreach_batch_ann_ingest``. Each micro-batch is a normal
  DataFrame handed to the same SCD merge + manifest-commit machinery
  as batch loads — one code path for semantics, streaming
  only changes the trigger. This mirrors what the reference's Delta
  MERGE-per-load would become under ``availableNow``/continuous
  triggers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sessionize(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    Arrow-batched ``applyInPandasWithState`` — the escape hatch for
    stream semantics the built-in operators can't express (built-in
    ``session_window`` covers plain gap windows; this shape is where
    custom per-key state logic plugs in).

    Per user, consecutive events ≤ 30 minutes apart form a
    session; a longer gap closes it. Closed sessions emit immediately
    (in-batch gaps) or via event-time timeout once the watermark
    passes the open session's deadline — so state per key is one
    open session, bounded by the watermark like every stateful op.

    Emits (user, session_start, session_end, n_events).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_ms = 30 * 60 * 1000
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
) -> DataFrame:
    """Stream-stream inner equi-join with an event-time band: a left row
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
    Matches emit as they arrive.
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
    joined = lw.join(rw, cond, "inner")
    # drop the right-side duplicate key columns
    return joined.drop(*[rw[k] for k in keys])


def foreach_batch_agg_maintenance(
    stream_df: DataFrame,
    catalog,
    table: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    checkpoint_dir: str,
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

    Runs with ``availableNow``; returns the started ``StreamingQuery``
    (caller awaits)."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_agg_batch(catalog, table, keys, sum_cols, batch_df, batch_id)

    return _start_available_now(stream_df, _apply, checkpoint_dir)


def _start_available_now(stream_df: DataFrame, apply_fn, checkpoint_dir: str):
    """Start a ``foreachBatch(apply_fn)`` append stream that drains the
    input available now, then stops."""
    return (
        stream_df.writeStream.foreachBatch(apply_fn)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


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


def foreach_batch_scd2(
    stream_df: DataFrame,
    catalog,
    table: str,
    keys: Sequence[str],
    tracked: Sequence[str],
    as_of_col: str,
    checkpoint_dir: str,
):
    """Streaming dimension history: each micro-batch SCD2-merges into
    a catalog table through ``operators/scd.SCDEngine.apply_scd2``,
    so a slowly-changing dimension stays current AND fully historized
    under a continuous CDC feed.
    The effective-from timestamp is the batch's max ``as_of_col`` —
    derived from batch CONTENT, so an at-least-once replay of the
    same batch recomputes the same timestamp, finds every tracked
    column unchanged (hash-diff), and emits zero new legs:
    replay-convergent without a batch-id guard, like the dedup-store
    bridge and unlike additive aggregates.

    Runs with ``availableNow``; returns the started ``StreamingQuery``
    (caller awaits)."""
    from end_to_end_etl_pipeline_spark.operators.scd import SCDEngine

    engine = SCDEngine(catalog)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        as_of = batch_df.agg(F.max(as_of_col)).first()[0]
        # a CDC batch may carry several versions of one key: the
        # latest change (by event time) wins; equal-timestamp ties
        # break on the tracked column VALUES (the partition keys are
        # constant within a window partition, so they can't break a
        # tie) — same batch content always picks the same winner,
        # which the replay-convergence contract above depends on. The
        # merge runs this dedup in its own shuffle
        engine.apply_scd2(
            batch_df, table, keys, tracked, as_of=as_of,
            order_by=[F.col(as_of_col).desc(), *[F.col(c) for c in tracked]],
            drop=[as_of_col],
        )

    return _start_available_now(stream_df, _apply, checkpoint_dir)


def foreach_batch_ann_ingest(
    stream_df: DataFrame,
    catalog,
    table: str,
    checkpoint_dir: str,
    cell_col: str | None = None,
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
    bounded forever. Runs with ``availableNow``; returns the started
    ``StreamingQuery`` (caller awaits)."""
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

    return _start_available_now(stream_df, _apply, checkpoint_dir)

"""Structured Streaming variants of the engine's operators (extension,
SURVEY §7.4 — the reference has no streaming at all, SURVEY §2.11).

Patterns used:
- file-source ``readStream`` with an explicit schema (streaming sources
  cannot infer),
- ``withWatermark`` + ``dropDuplicates`` for exactly-once keyed dedup with
  bounded state — the state store evicts keys older than the watermark, so
  the job runs forever on an unbounded stream,
- windowed aggregation with late-data handling for the streaming profiler,
- ``trigger(availableNow=True)`` + memory sink for deterministic testing
  on the driver's parquet testdata.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Sink directories created by run_to_parquet_df this process. They must
# outlive the call (the returned frame reads the parquet lazily), so
# they are reaped at interpreter exit instead — without this, repeated
# bench/correctness runs leak one /tmp dir per drained stream.
_SINK_DIRS: list[str] = []


def cleanup_stream_sinks() -> None:
    """Remove every sink dir created by run_to_parquet_df. Safe to call
    eagerly once all frames returned by it have been materialized;
    also registered via atexit as the backstop."""
    while _SINK_DIRS:
        shutil.rmtree(_SINK_DIRS.pop(), ignore_errors=True)


atexit.register(cleanup_stream_sinks)


def read_events_stream(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory."""
    return spark.readStream.schema(schema).parquet(path)


def suggest_state_partitions(
    spark: SparkSession,
    plan_bytes: int | None,
    bytes_per_partition: int = 4 << 20,
    min_partitions: int = 4,
) -> int:
    """Scale-aware ``spark.sql.shuffle.partitions`` for STATEFUL
    streaming queries (VERDICT r10 task 4 — replaces the pinned 8 in
    the sjoin drain).

    Stateful operators pay a FLAT per-state-partition cost every
    micro-batch: a stream-stream join commits four state stores per
    shuffle partition per side per batch, so at small volume fewer
    partitions win, while past the crossover more partitions win
    because the per-key state work parallelizes (the sessionizer A/B:
    32→8→4 state partitions = 3.6→6.6→11.5 s at sf1). Measured A/B for
    the interval-join drain on this box (sf0.1 ≈ 2 MB plan bytes,
    sf1 ≈ 23 MB; best-of-3 drains, steady calibrations, round 11 —
    full table in PLANS.md):

    ========  ====  ====  ====  ====  ====
    fixed →     4     6     8    16    32
    sf0.1     3.0   3.3   8.8   9.8   6.8
    sf1       2.4   2.6   2.4   3.7   6.5
    ========  ====  ====  ====  ====  ====

    The suggestion lands 4 at sf0.1 (the optimum) and 6 at sf1 (within
    noise of the 4/8 optima); 32 — the session default at gate scale —
    costs 2-3x at both.

    ``plan_bytes`` is the Catalyst-estimated size of the batch twin of
    the stream input (``partitioning.plan_size_bytes`` — parquet footer
    stats, no job); pass ``None`` when unknown and the session default
    stays untouched (returns the current setting). The default divisor
    (4 MB of footer bytes per state partition) lands the gate scales on
    their measured optima; at cluster scale the linear growth in
    ``plan_bytes`` dominates and the suggestion tracks state volume,
    which is the property that matters at 100 TB."""
    if plan_bytes is None:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    return max(min_partitions, -(-int(plan_bytes) // bytes_per_partition))


def dedup_stream(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
    within_watermark: bool = False,
) -> DataFrame:
    """Watermarked exact dedup: keeps the first arrival per key.

    ``within_watermark=True`` uses ``dropDuplicatesWithinWatermark``
    (Spark 3.5+): state per key is evicted once the watermark passes its
    first-seen event time, so memory stays bounded even when the dedup
    key does NOT include the event-time column — the right choice for
    unbounded key domains (e.g. event ids forever). Plain
    ``dropDuplicates`` keeps such state forever."""
    wm = events.withWatermark(ts_col, watermark)
    if within_watermark:
        return wm.dropDuplicatesWithinWatermark(key_cols)
    return wm.dropDuplicates(key_cols)


def profile_stream(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming per-window profile: row count, null count, min/max/avg —
    the streaming analogue of the batch profiler's single aggregation
    pass. Late rows within the watermark update their window; older rows
    are dropped."""
    v = F.col(value_col)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(v.isNull().cast("long")).alias("n_null"),
            F.min(v).alias("v_min"),
            F.max(v).alias("v_max"),
            F.avg(v).alias("v_avg"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_rows", "n_null", "v_min", "v_max", "v_avg",
        )
    )


def sliding_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Keyed SLIDING-window aggregation — the rate/trend monitor shape
    (``window(ts, window, slide)``): each event lands in
    ``window/slide`` overlapping windows, all maintained incrementally
    by the streaming aggregation state store and evicted once the
    watermark passes the window end. Works identically on batch frames
    (Spark expands the same window buckets). Tumbling windows are the
    ``slide == window`` special case (see ``profile_stream``); the
    overlap is what the built-in operator gives that a GROUP BY
    date_trunc cannot."""
    v = F.col(value_col)
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window(F.col(ts_col), window, slide).alias("w"), F.col(key_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(v).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


# The public output schema of sessionize_stream. Since r10 the state fn
# itself emits epoch-microsecond bigints (per-group pandas datetime
# conversion was most of the sf1 steady cost at 15k state groups) and
# the timestamps are reconstituted JVM-side, so this is the POST-
# projection contract, not the applyInPandasWithState outputStructType.
SESSION_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint, "
    "session_start timestamp, session_end timestamp"
)
# state carried between micro-batches: last event time (epoch micros) and
# the running session ordinal for the user
SESSION_STATE_SCHEMA = "last_us bigint, session_id bigint"


def sessionize_stream(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    evict_after_minutes: int | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: assign
    session ids per user (a new session starts after a ``gap_minutes``
    quiet period) and emit one row per session seen in the batch.

    This is the ``applyInPandasWithState`` pattern for semantics Spark's
    built-in streaming operators can't express: arbitrary per-key state
    (last event time + session ordinal) carried across micro-batches,
    Arrow-batched per group. State is a 2-tuple per user.

    State EVICTION (round 10): per-tuple state is small, but with no
    timeout the KEY set grows forever — on an unbounded user domain
    (the 100 TB reality) the state store eventually holds every user id
    ever seen. ``evict_after_minutes`` (must be ≥ ``gap_minutes``) sets
    an EventTimeTimeout: a user idle that long in event time (tracked
    against the stream's ``watermark``) has their state dropped.
    Because the eviction horizon is at least the session gap, an
    evicted user's next event would have started a NEW session anyway —
    the only semantic difference is that the per-user session ORDINAL
    restarts at 1 after eviction (an ordinal epoch). Pipelines needing
    a globally unique session key under eviction should key on
    ``(user_id, session_start)`` rather than the ordinal. Default None
    keeps state forever — exact ordinals, the correctness-gate
    configuration."""
    import numpy as np
    import pandas as pd

    if evict_after_minutes is not None and evict_after_minutes < gap_minutes:
        raise ValueError(
            f"evict_after_minutes ({evict_after_minutes}) must be >= "
            f"gap_minutes ({gap_minutes}): evicting inside the session gap "
            f"would split live sessions, not just restart ordinals"
        )
    gap_us = gap_minutes * 60 * 1_000_000
    evict_ms = (evict_after_minutes or 0) * 60 * 1000
    empty = pd.DataFrame(
        {c: pd.Series(dtype=np.int64)
         for c in ("user_id", "session_id", "n_events", "start_us", "end_us")}
    )

    def fn(key, pdfs, state):
        if evict_ms and state.hasTimedOut:
            # idle past the horizon in event time: drop the state tuple
            for _ in pdfs:  # exhaust the (empty) iterator per the contract
                pass
            state.remove()
            yield empty
            return
        last_us, sid = state.get if state.exists else (None, 0)
        (uid,) = key
        # timestamps arrive as epoch-microsecond int64 — the caller
        # projects unix_micros(ts) JVM-side, so no per-group pandas
        # datetime decode happens here (r10: with ~1 session/event and
        # 15k state groups at sf1, four per-group pd.to_datetime calls
        # WERE most of the steady cost)
        parts = [pdf["_us"].to_numpy() for pdf in pdfs]
        us = np.concatenate(parts) if parts else np.empty(0, np.int64)
        if us.size == 0:
            state.update((last_us, sid))
            yield empty
            return
        us.sort()
        # vectorized gaps-and-islands: a session break before event i iff
        # the gap from the previous event (carried state for i=0) exceeds
        # gap_us — the per-event Python loop this replaces was the batch's
        # O(events) hot path at 1M+ rows
        if last_us is not None:
            prev = np.concatenate(([last_us], us[:-1]))
            brk = us - prev > gap_us
        else:
            brk = np.concatenate(([True], us[1:] - us[:-1] > gap_us))
        # session id = carried ordinal + running count of breaks; an
        # unbroken index 0 CONTINUES session `sid` but still starts this
        # batch's first emission island (the stateful contract re-emits a
        # continued session with its batch-local events, like the
        # per-event loop this replaces did)
        sess = sid + np.cumsum(brk)
        starts = np.flatnonzero(np.concatenate(([True], brk[1:])))
        ends = np.append(starts[1:], us.size) - 1
        out = pd.DataFrame(
            {
                "user_id": np.full(starts.size, int(uid), dtype=np.int64),
                "session_id": sess[starts],
                "n_events": ends - starts + 1,
                "start_us": us[starts],
                "end_us": us[ends],
            }
        )
        state.update((int(us[-1]), int(sess[-1])))
        if evict_ms:
            # fire when the watermark passes (last event + horizon); the
            # timestamp must sit strictly above the current watermark
            # (late per-user data could otherwise set one in the past)
            state.setTimeoutTimestamp(
                max(int(us[-1]) // 1000 + evict_ms,
                    state.getCurrentWatermarkMs() + 1)
            )
        yield out

    # Project to the two columns the state fn reads BEFORE the state
    # shuffle — as epoch-microsecond int64, so the grouped Arrow transfer
    # ships plain longs and the per-group Python stays datetime-free in
    # BOTH directions (unix_micros truncates to µs exactly like the old
    # per-group astype("datetime64[us]")). The timestamps are
    # reconstituted JVM-side below (timestamp_micros, codegen) where the
    # cost is one vectorized pass, not 2×15k pandas conversions.
    if evict_ms:
        # EventTimeTimeout requires the watermarked event-time column to
        # be visible to the state operator, so eviction mode keeps ts in
        # the projection (one extra Arrow column) next to the int64 the
        # fn actually reads
        src = events.select(
            user_col, F.col(ts_col), F.unix_micros(F.col(ts_col)).alias("_us")
        ).withWatermark(ts_col, watermark)
    else:
        src = events.select(user_col, F.unix_micros(F.col(ts_col)).alias("_us"))
    raw = (
        src
        .groupBy(user_col)
        .applyInPandasWithState(
            fn,
            outputStructType=(
                "user_id bigint, session_id bigint, n_events bigint, "
                "start_us bigint, end_us bigint"
            ),
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout" if evict_ms else "NoTimeout",
        )
    )
    return raw.select(
        "user_id", "session_id", "n_events",
        F.timestamp_micros("start_us").alias("session_start"),
        F.timestamp_micros("end_us").alias("session_end"),
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    upper: str,
    lower: str = "0 seconds",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join (round 10) — the
    enrichment/attribution shape (clicks joined to the impressions they
    follow within a bound): ``right.right_ts ∈ [left.left_ts + lower,
    left.left_ts + upper]`` per key. Both sides carry watermarks, so
    Spark buffers join state only inside watermark + interval bounds —
    bounded state on unbounded streams, the property that makes this
    viable at 100 TB/day (each side shuffles once on its key; matching
    is local to the key partition).

    Works identically on BATCH frames (the watermark is a no-op there).
    Callers must give the two sides DISTINCT column names (rename before
    calling) — required for streaming self-joins, where same-lineage
    attribute references are ambiguous."""
    overlap = set(left.columns) & set(right.columns)
    if overlap:
        raise ValueError(
            f"interval_join_stream requires distinct column names on the "
            f"two sides; shared: {sorted(overlap)}"
        )
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts) + F.expr(f"interval {lower}"))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"interval {upper}"))
    )
    return l.join(r, cond, how)


def sessionize_native(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark: str | None = None,
) -> DataFrame:
    """Built-in ``session_window`` sessionization — the pure-JVM
    alternative to ``sessionize_stream``. Works on BATCH frames too
    (pass ``watermark`` for streams; required there for state eviction).

    Emits (user, session_start, session_end, n_events) per gap-delimited
    session entirely inside whole-stage codegen — no Python, no
    per-group state function. What it CANNOT express is the per-user
    session ORDINAL carried across micro-batches (``session_id``), which
    is why the stateful ``applyInPandasWithState`` operator exists; for
    batch frames the ordinal is recovered here with a per-user
    ``row_number`` over session starts."""
    src = events.withWatermark(ts_col, watermark) if watermark else events
    agg = (
        src.groupBy(
            F.col(user_col),
            F.session_window(F.col(ts_col), f"{gap_minutes} minutes").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("w.start").alias("session_start"),
            # session_window's end is exclusive (last event + gap);
            # subtract nothing here — callers wanting the last EVENT time
            # should use sessionize_stream, which tracks it exactly.
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    if watermark is None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(user_col).orderBy("session_start")
        agg = agg.withColumn("session_id", F.row_number().over(w))
    return agg


def run_to_memory(stream_df: DataFrame, name: str | None = None) -> DataFrame:
    """Drain a (bounded) stream with availableNow into a memory sink and
    return the materialized result as a batch DataFrame — the test/driver
    harness for the streaming operators above."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def run_to_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    name: str | None = None,
):
    """Production sink: append-mode parquet with a checkpoint location
    (exactly-once via the file-sink commit log + state checkpointing).
    Returns the started StreamingQuery; caller owns the lifecycle."""
    return (
        stream_df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .queryName(name or f"pq_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )


def run_to_parquet_df(stream_df: DataFrame, name: str | None = None) -> DataFrame:
    """Drain a (bounded) stream through the PRODUCTION file sink — append
    parquet + checkpoint commit log — and return the result read back as
    a batch frame. Prefer this over ``run_to_memory`` whenever the
    output is row-proportional to the input: the memory sink collects
    every output row onto the driver (~5 s of the sf1 sessionize row was
    that collect), while the file sink keeps rows distributed end to end
    — the same shape a real job runs.

    Every call gets a FRESH sink+checkpoint directory (``name`` is a
    label prefix, not an identity): reusing a checkpoint against a
    different input would replay/skip batches from the old commit log
    and mix old committed files into the read-back. The checkpoint is
    deleted once the drain completes; the output directory must outlive
    this call (the returned frame reads it lazily), so it is tracked in
    ``_SINK_DIRS`` and reaped at interpreter exit (or eagerly via
    ``cleanup_stream_sinks()``) — callers wanting a durable or
    self-managed sink should use ``run_to_parquet`` directly."""
    tag = f"{name or 'sink'}_{uuid.uuid4().hex[:8]}"
    base = f"/tmp/dataforge_stream_{tag}"
    # registered BEFORE the drain so a failed/interrupted query's dirs
    # (out + the not-yet-removed checkpoint) are still reaped at exit
    _SINK_DIRS.append(base)
    q = run_to_parquet(stream_df, f"{base}/out", f"{base}/ckpt")
    q.awaitTermination()
    shutil.rmtree(f"{base}/ckpt", ignore_errors=True)
    return stream_df.sparkSession.read.schema(stream_df.schema).parquet(
        f"{base}/out"
    )


def run_aggregate_to_memory(stream_df: DataFrame, name: str | None = None) -> DataFrame:
    """Same as run_to_memory but for aggregate streams (complete mode)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def clean_stream(
    stream_df: DataFrame,
    operations: dict,
    output_path: str,
    checkpoint_path: str,
    bug_compat: bool = False,
):
    """Run the full JSON-config cleaning pipeline on a STREAM via
    ``foreachBatch``: each micro-batch flows through the same
    ``CleaningPipeline`` the batch engine uses, then appends to a
    parquet sink. Returns the started StreamingQuery (caller awaits).

    Semantics note (documented, not hidden): fitted statistics
    (means/medians/quantiles/encoders) are computed PER MICRO-BATCH —
    the streaming analogue of sklearn's partial_fit-less transformers.
    Pipelines needing corpus-global statistics should fit on a batch
    snapshot and apply the fitted parameters with the operators' replay
    surfaces (normalization params, binning edges, encoder maps)
    instead. Exactly-once: each micro-batch owns the partition directory
    ``batch_id=<id>`` under ``output_path`` and OVERWRITES it — a batch
    retried after a crash mid/post write replaces its own partial files
    instead of blindly appending, so the sink is idempotent (a plain
    checkpointed append would only be at-least-once). Readers of the sink
    see ``batch_id`` as a discovered partition column — useful lineage,
    and dropping it restores the batch pipeline's schema exactly.
    """
    from .pipeline import CleaningPipeline

    pipe = CleaningPipeline(bug_compat=bug_compat, collect_metrics=False)

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out, _ = pipe.run(batch_df, operations)
        out.write.mode("overwrite").parquet(
            os.path.join(output_path, f"batch_id={batch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(_one_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )

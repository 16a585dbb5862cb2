"""Structured Streaming operators — the streaming extension of the engine
(SURVEY.md §2.6: the reference is batch-only; its core aggregation A1 is an
associative/commutative monoid and therefore streams cleanly).

Patterns covered:
  * tumbling event-time windows with a watermark over the events stream,
    APPEND output: a window row is emitted exactly once, when the
    watermark passes its end — state is evicted as windows finalize, so
    state size is bounded by the watermark delay x key cardinality at any
    stream length. (Complete mode would retain every window ever seen and
    re-emit the full result each batch — a scale-killer on unbounded
    streams.)
  * the per-device profile aggregation running incrementally (same merge
    laws as operators/device_profile.py, maintained by the streaming
    state store)

For local verification the parquet table is replayed through readStream
with a memory sink and an availableNow trigger. Spark runs a final
no-data micro-batch after the replay (spark.sql.streaming.noDataMicroBatches,
on by default), which advances the watermark to max(event_time) - delay
and flushes every closed window — so the append-mode result is exactly
the batch aggregation restricted to windows with end <= watermark, which
is what the DuckDB oracle states (eviction at end == watermark is
INCLUSIVE; verified empirically). Windows still open at end-of-replay
(end > watermark) are correctly absent: on a real unbounded stream they
would emit later.

On a cluster the same code points at Kafka/object-store streams with a
real sink; nothing here is memory-sink-specific except _run_to_memory.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_QUERY_SEQ = 0

# State-store partition count for bounded replays. Streaming state
# partitioning is fixed by spark.sql.shuffle.partitions at the query's
# FIRST batch (baked into the checkpoint), and every micro-batch pays a
# per-partition store open/commit — with the batch default of 32 on a
# ~1M-row replay that fixed overhead dominates the actual work (measured
# 3-6x on stream_dedup/attribution/sessionize). Production sizes this to
# key cardinality x throughput; a bounded local replay sizes it small.
STREAM_SHUFFLE_PARTITIONS = 4  # 8 -> 4 in round 7: ~15% off per-query fixed cost, results identical (state partitioning is physical)


@contextmanager
def stream_partitions(spark: SparkSession, n: int = STREAM_SHUFFLE_PARTITIONS):
    """Temporarily pin spark.sql.shuffle.partitions for a stream start.
    Session-wide conf, so the replay harnesses (which run serially) wrap
    start..awaitTermination; restored in finally."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming frame to completion against the available input
    and return the materialized result (deterministic: single replay).
    Every operator routed through here is multi-batch-safe — state is
    carried by the engine (windows, dedup horizon, join buffers, group
    state), so the micro-batch slicing of the replay cannot change the
    result within each operator's stated watermark contract."""
    import shutil

    from ._replay import scratch_dir

    global _QUERY_SEQ
    _QUERY_SEQ += 1
    name = f"stream_out_{os.getpid()}_{_QUERY_SEQ}"
    spark = stream_df.sparkSession
    # explicit scratch checkpoint (RAM-backed when /dev/shm exists): the
    # memory sink's implicit temp checkpoint lands under java.io.tmpdir on
    # real disk, and the per-batch offset/state/commit fsyncs there are
    # pure harness overhead for a bounded replay (same rationale as
    # _replay.scratch_dir — durability is not required, the dir dies with
    # the call)
    ckpt = scratch_dir("mem_ckpt_")
    try:
        with stream_partitions(spark):
            q = (
                stream_df.writeStream.outputMode(output_mode)
                .format("memory")
                .queryName(name)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.table(name)
        # the DataFrame resolves the sink relation EAGERLY (touching the
        # schema pins the analyzed plan), so the temp view's name is no
        # longer needed. The sink's rows stay reachable through the
        # returned frame and become GC-able the moment the caller
        # releases it.
        _ = out.schema
        return out
    finally:
        # no stream_out_ view outlives its replay, also when the stream
        # fails after start(): a left view would pin its rows in driver
        # heap for the session's life, and nothing else reclaims it
        # (every replay names a fresh view)
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import _normalize_event_ts, table_schema

    # readStream requires a directory: stream the sf dir with a glob filter
    stream = (
        spark.readStream.schema(table_schema(spark, sf_dir, "events"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # same version-dependent ts normalization as the batch path: bigint
    # nanos on old Spark, timestamp_ntz on 4.1+ (withWatermark rejects NTZ)
    return _normalize_event_ts(stream)


def stream_window_counts(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a 30-minute
    watermark, APPEND output: each window emits once, when the watermark
    (max event time - 30 min, ms precision) passes its end, and its state
    is evicted — the scale-honest shape for unbounded streams. Count +
    exact-decimal value sum per window; window exposed as epoch-ms start
    for portability. ``events`` lets a harness inject a multi-batch
    replay; the emitted-window set is slicing-invariant for time-ordered
    replays (zero lateness)."""
    agg = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact bigint-cents accumulation (value is 2-decimal exact);
            # stays in codegen, unlike a wide-decimal sum — see
            # plans/relational.py module docstring for the full rationale
            F.expr(
                "cast(sum(cast(floor(value * 100 + 0.5) as bigint)) as double) / 100"
            ).alias("sum_value"),
        )
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.unix_millis(F.col("w.start")).alias("window_start_ms"),
        "event_type",
        "n_events",
        "sum_value",
    )


def stream_sliding_counts(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """Sliding 1-hour windows every 15 minutes with a 30-minute watermark,
    APPEND output — each event belongs to 4 overlapping windows, and each
    window still emits exactly once when the watermark passes its end
    (state per open window, evicted on finalization; the sliding factor
    multiplies state width by overlap count, not by stream length)."""
    agg = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.unix_millis(F.col("w.start")).alias("window_start_ms"),
        "event_type",
        "n_events",
    )


def stream_session_windows(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """Spark's NATIVE session windows (F.session_window, 30-minute gap) per
    user with a 30-minute watermark, APPEND output — the built-in sibling
    of the custom applyInPandasWithState sessionizer (streaming/
    sessionize.py). Engine semantics: an event's window is [t, t + gap);
    overlapping windows merge, so a session's end is last_event + gap and
    two events exactly gap apart do NOT merge (half-open boundary — the
    custom operator merges at <= gap; both conventions are stated in their
    oracles). A session emits once the watermark passes its end and its
    state is evicted — bounded by open sessions, not stream length.
    Output: (user_id, session_start_ms, session_end_ms, n_events), where
    session_end_ms = last event + gap per the engine's window shape."""
    agg = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        "user_id",
        F.unix_millis(F.col("w.start")).alias("session_start_ms"),
        F.unix_millis(F.col("w.end")).alias("session_end_ms"),
        "n_events",
    )


def stream_enriched_counts(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """Stream-STATIC join + windowed aggregation — the enrichment shape:
    the watermarked event stream joins the static customer dimension
    (broadcast — the engine re-evaluates the static side per micro-batch,
    so a dimension refresh lands without restarting the query), then
    tumbling 1-hour windows count events per (market segment, event type),
    APPEND output with the same finalize-once/evict semantics as
    stream_window_counts. State is bounded by open windows x (segment,
    type) cardinality; the join itself adds NO state (static side is not
    buffered stream state, unlike a stream-stream join).
    Output: (window_start_ms, mktsegment, event_type, n_events)."""
    from ..sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("mktsegment"),
    )
    agg = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .withWatermark("ts", "30 minutes")
        .join(F.broadcast(cust), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(agg, "append")
    return out.select(
        F.unix_millis(F.col("w.start")).alias("window_start_ms"),
        "mktsegment",
        "event_type",
        "n_events",
    )


def streaming_device_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 monoid streaming: per (user) device, incremental
    first/last/count/distinct-type maintained by the state store — the
    streaming shape of the reference's Combine.perKey(mergeDps). All
    aggregates are exact (collect_set for the small event_type domain), so
    the result is oracle-checkable.

    A global (un-windowed) keyed aggregation can only emit in complete or
    update mode — complete + memory sink here because the bounded replay
    wants the final table; production would use update mode into a
    changelog/upsert sink, keeping one state row per device either way."""
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_millis("ts")).alias("first_at"),
            F.max(F.unix_millis("ts")).alias("last_at"),
            F.count(F.lit(1)).alias("n_events"),
            F.size(F.collect_set("event_type")).alias("n_types"),
        )
    )
    return _run_to_memory(agg, "complete")


def stream_dedup_keys(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` over (user_id, event_type) — each key
    emits once on first arrival, and its dedup state is EVICTED once the
    watermark passes that event's time + delay, so state is bounded by the
    watermark horizon x key arrival rate, not by the stream length (plain
    streaming dropDuplicates would retain every key ever seen — unbounded).
    Exactness contract: duplicates separated by more than the watermark
    horizon can re-emit; within a bounded replay the result equals batch
    SELECT DISTINCT, which is what the oracle states. Only the key columns
    are projected so the surviving row per key is deterministic.

    ``events``/``watermark`` let a harness inject its own (multi-batch)
    replay stream and a horizon matched to that replay's time span — the
    batch-DISTINCT equality holds whenever duplicate arrivals for a key
    are separated by less than the horizon."""
    dedup = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .withWatermark("ts", watermark)
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(dedup, "append")


ATTRIBUTION_WINDOW_MIN = 60


def stream_click_attribution(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join — the classic attribution shape: each
    purchase joins every click by the same user in the preceding hour.
    Both sides carry watermarks, and the join's time-range predicate gives
    the engine the state-retention bound: buffered clicks are evicted once
    the click watermark passes ts + 1 hour, purchases as soon as their
    watermark passes — state is bounded by the interval x arrival rate,
    never the stream length. Inner interval joins emit in append mode as
    matches arrive.

    Output: (purchase_id, click_id, user_id, lag_ms) — deterministic (the
    full qualifying pair set), so the DuckDB oracle states the same join
    as batch SQL.

    ``events``/``watermark`` let a harness inject a multi-batch replay
    and a horizon matched to its disorder; the batch-join equality holds
    when cross-batch disorder stays inside the horizon (time-ordered
    replays trivially satisfy it)."""
    ev = events if events is not None else _events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("lag_ms"),
    )
    return _run_to_memory(joined, "append")


def stream_attribution_outer(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame | None = None,
    max_ts_ms: int | None = None,
    sealed: bool | None = None,
    join_type: str = "leftOuter",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join — attribution that also
    reports the UNCONVERTED purchases: every purchase emits, either once
    per qualifying click (as matches arrive) or exactly once with NULL
    click columns after the watermark proves no qualifying click can
    still arrive. The NULL-side emission is the capability the inner join
    (stream_click_attribution) never exercises: the engine holds each
    unmatched purchase in state until watermark > its join upper bound.

    A drained file source alone never delivers that final watermark for
    the trailing purchases, so this routes through the two-phase
    end-of-input sentinel protocol (streaming/_replay.py) with one
    far-future sentinel row PER SIDE — each side's watermark operator
    needs its own advancing event under the default min-watermark policy.

    Output: (purchase_id, click_id, user_id, lag_ms) with NULL
    click_id/lag_ms for unconverted purchases; equals the batch LEFT JOIN
    under any micro-batch slicing."""
    import os as _os

    from ..sources.tables import table_ts_max_ms
    from ._replay import make_replay_dirs, run_sealed, run_two_phase
    from .sessionize import SENTINEL_USER_ID

    if sealed is None:
        # self-built stream = single events.parquet file, no per-trigger
        # limits -> the one-query sealed protocol is valid; an injected
        # ``events`` (the multi-batch law tests) keeps the two-phase path
        sealed = events is None
    delay_s = 60
    if max_ts_ms is None:
        max_ts_ms = table_ts_max_ms(sf_dir, "events")
    sentinel_ms = (
        max_ts_ms + ATTRIBUTION_WINDOW_MIN * 60_000 + delay_s * 1000 + 3_600_000
    )
    # one scratch slot per join type and input: the result reads it lazily
    work, sentinel_dir, out_dir, ckpt_dir = make_replay_dirs(
        f"attr_{join_type.lower()}_", _os.path.abspath(sf_dir)
    )

    def write_sentinel() -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.table(
            {
                "event_id": pa.array([-1, -2], type=pa.int64()),
                "user_id": pa.array([SENTINEL_USER_ID] * 2, type=pa.int64()),
                "event_type": pa.array(["purchase", "click"]),
                "ts": pa.array([sentinel_ms * 1_000] * 2, type=pa.timestamp("us")),
            }
        )
        pq.write_table(tbl, _os.path.join(sentinel_dir, "sentinel.parquet"))

    sent = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp_ntz"
        )
        .parquet(sentinel_dir)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp_ltz").alias("ts"),
        )
    )
    ev = (
        (events if events is not None else _events_stream(spark, sf_dir))
        .select("event_id", "user_id", "event_type", "ts")
        .unionByName(sent)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", f"{delay_s} seconds")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", f"{delay_s} seconds")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_MIN} MINUTES")
        ),
        join_type,
    ).select(
        "purchase_id",
        "click_id",
        # coalesce covers fullOuter's unmatched-click rows (p_user NULL);
        # for leftOuter p_user is never NULL so this is the identity
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("lag_ms"),
    )
    runner = run_sealed if sealed else run_two_phase
    return runner(
        spark,
        joined,
        "purchase_id long, click_id long, user_id long, lag_ms long",
        work,
        out_dir,
        ckpt_dir,
        write_sentinel=write_sentinel,
        result_filter=F.col("user_id") != SENTINEL_USER_ID,
    )


def stream_attribution_full(
    spark: SparkSession,
    sf_dir: str,
    events: DataFrame | None = None,
    max_ts_ms: int | None = None,
    sealed: bool | None = None,
) -> DataFrame:
    """FULL OUTER stream-stream interval join — the last cell of the
    join-type matrix (inner: stream_click_attribution; left:
    stream_attribution_outer): unconverted purchases emit NULL click
    columns AND never-converting clicks emit NULL purchase columns, each
    exactly once, after the watermark proves no qualifying partner can
    still arrive. A buffered click's null-side deadline is its own join
    upper bound (c_ts + the attribution window), symmetric to the
    purchase side — state stays bounded by interval x arrival rate.
    Output: (purchase_id, click_id, user_id, lag_ms); equals the batch
    FULL OUTER join under any micro-batch slicing."""
    return stream_attribution_outer(
        spark,
        sf_dir,
        events=events,
        max_ts_ms=max_ts_ms,
        sealed=sealed,
        join_type="fullOuter",
    )

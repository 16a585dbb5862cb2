"""Custom stateful streaming operator — sessionization with
``applyInPandasWithState`` (the engine's user-extension surface for
stateful stream processing; SURVEY.md §2.6 lists Beam's stateful DoFn gap).

Per user, events are folded into sessions split on a 30-minute inactivity
gap. Emission is WATERMARK-DRIVEN (event-time timeout), the unbounded
production shape:

  * each batch's events merge into the per-user session interval list in
    state (interval-merge, so out-of-order arrivals within the watermark
    delay land correctly — batch boundaries are NOT session boundaries);
  * a session finalizes (emits + leaves state) only once the watermark
    passes ``session_end + gap`` — past that point no surviving event can
    extend it (an event t >= watermark has t - end > gap and would start a
    new session; events below the watermark are dropped by the engine);
  * ``GroupState`` timeouts re-invoke idle groups as the watermark
    advances, so sessions finalize without waiting for new data.

Bounded-replay determinism: once the replay's rows are all consumed, the
harness drops a far-future SENTINEL row into an initially-empty second
file source union'd into the stream; arriving strictly after the real
data, it pushes the final watermark past every real ``end + gap`` —
Flink's end-of-input +inf watermark, restated in Spark terms. The result
then equals batch sessionization exactly (the driver oracle cross-checks
it), for ANY micro-batch slicing — one batch or maxFilesPerTrigger=1
(tests/test_streaming_multibatch.py proves both).

Scale notes: state per user is the interval list inside the watermark
horizon (typically one open session: three longs), evicted on
finalization. No collect, no driver loops; the sentinel is one row.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_MS = 30 * 60 * 1000
SENTINEL_USER_ID = -1

OUTPUT_SCHEMA = (
    "user_id long, session_start_ms long, session_end_ms long, n_events long"
)
# unfinalized sessions, sorted by start: parallel arrays (interval list)
STATE_SCHEMA = "starts array<long>, ends array<long>, ns array<long>"


def _merge_points(
    sessions: list[tuple[int, int, int]], points, gap_ms: int
) -> list[tuple[int, int, int]]:
    """Fold new event timestamps into the session interval list. Each point
    becomes a (t, t, 1) interval; adjacent intervals merge while the gap
    between them is <= gap_ms — identical partitioning to sorting all
    points and splitting on gap > gap_ms, but incremental and order-safe."""
    merged: list[tuple[int, int, int]] = []
    for s in sorted(sessions + [(int(t), int(t), 1) for t in points]):
        if merged and s[0] - merged[-1][1] <= gap_ms:
            last = merged[-1]
            merged[-1] = (last[0], max(last[1], s[1]), last[2] + s[2])
        else:
            merged.append(s)
    return merged


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    gap = SESSION_GAP_MS
    if state.exists:
        starts, ends, ns = state.get
        sessions = list(zip(starts, ends, ns))
    else:
        sessions = []

    if not state.hasTimedOut:
        batches = [pdf["ts_ms"] for pdf in pdfs]
        if batches:
            sessions = _merge_points(
                sessions, pd.concat(batches).to_numpy(), gap
            )

    # finalize every session the watermark has passed: once wm > end + gap
    # no surviving event can land in or merge with it
    wm = state.getCurrentWatermarkMs()
    done = [s for s in sessions if s[1] + gap < wm]
    open_ = [s for s in sessions if s[1] + gap >= wm]

    if open_:
        state.update((
            [s[0] for s in open_],
            [s[1] for s in open_],
            [s[2] for s in open_],
        ))
        # re-invoke this group once the watermark passes the earliest
        # possible finalization point (must be strictly beyond current wm)
        state.setTimeoutTimestamp(max(min(s[1] for s in open_) + gap, wm) + 1)
    elif state.exists:
        state.remove()

    yield pd.DataFrame(
        [(user_id, s, e, n) for (s, e, n) in done],
        columns=["user_id", "session_start_ms", "session_end_ms", "n_events"],
    )


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Build the stateful sessionizer over a watermarked events stream with
    columns (user_id, ts_ms). Works for any micro-batch slicing."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _write_sentinel_file(d: str, sentinel_ts_ms: int) -> None:
    """Drop a one-row far-future parquet into directory ``d``. Its only
    purpose is to drive the final watermark past every real session's
    ``end + gap`` at end of replay — Spark's file source has no
    end-of-input watermark (Flink's bounded sources emit +inf), so the
    replay harness injects its own."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "user_id": pa.array([SENTINEL_USER_ID], type=pa.int64()),
            # micros, not nanos: TIMESTAMP(MICROS, adjusted=false) maps
            # straight onto Spark's timestamp_ntz reader
            "ts": pa.array([sentinel_ts_ms * 1_000], type=pa.timestamp("us")),
        }
    )
    pq.write_table(tbl, os.path.join(d, "sentinel.parquet"))


def sessionize_bounded(
    spark: SparkSession,
    ev: DataFrame,
    max_ts_ms: int,
    delay_ms: int = 60_000,
    sealed: bool = False,
    input_key: str = "",
) -> DataFrame:
    """Sessionize a bounded replay stream ``ev`` (columns user_id, ts —
    ANY micro-batch slicing) to completion; the result equals batch
    sessionization. The end-of-input protocol (two availableNow phases
    over one checkpoint with a far-future sentinel between them) lives in
    ``streaming/_replay.py`` — see that module for the full rationale.
    ``max_ts_ms`` is the replay's max event time (footer stats); a
    sentinel misplaced BELOW it would late-drop data, which is why it is
    derived, not hardcoded.

    ``sealed=True`` pre-seeds the sentinel and runs ONE availableNow
    query (_replay.run_sealed — half the fixed cost); only valid when
    ``ev`` has no per-trigger limits (the whole replay must land in the
    first micro-batch; a maxFilesPerTrigger stream would late-drop every
    file after the first). The multi-batch law tests keep sealed=False.

    ``input_key`` names the replayed input: the lazy result reads scratch
    files that the next call with the same key deletes (calls that pass
    none share one key)."""
    from ._replay import make_replay_dirs, run_sealed, run_two_phase

    sentinel_ms = max_ts_ms + SESSION_GAP_MS + delay_ms + 3_600_000
    work, sentinel_dir, out_dir, ckpt_dir = make_replay_dirs(
        "sessionize_run_", input_key
    )
    sent = (
        spark.readStream.schema("user_id long, ts timestamp_ntz")
        .parquet(sentinel_dir)
        .select("user_id", F.col("ts").cast("timestamp_ltz").alias("ts"))
    )
    ev = ev.select("user_id", "ts").unionByName(sent)
    # The sentinel row must flow THROUGH the watermark operator and into
    # the stateful op: a user_id filter here would be pushed below the
    # EventTimeWatermark node by the optimizer and the sentinel would never
    # advance the watermark. It forms its own group whose session can never
    # finalize (end + gap is past the final watermark by construction), so
    # it emits nothing; the output filter below is belt-and-braces. The
    # watermarked ts attribute stays in the projection — EventTimeTimeout
    # requires it to reach the stateful operator.
    events = ev.withWatermark("ts", f"{delay_ms // 1000} seconds").select(
        "user_id", "ts", F.unix_millis("ts").alias("ts_ms")
    )
    runner = run_sealed if sealed else run_two_phase
    return runner(
        spark,
        sessionize_stream(events),
        OUTPUT_SCHEMA,
        work,
        out_dir,
        ckpt_dir,
        write_sentinel=lambda: _write_sentinel_file(sentinel_dir, sentinel_ms),
        result_filter=F.col("user_id") != SENTINEL_USER_ID,
    )




def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer over the replayed events table and
    return the materialized sessions (equals batch sessionization)."""
    from ..sources.tables import table_ts_max_ms
    from .windowed import _events_stream

    # sealed: the stream built here is the single events.parquet file with
    # no per-trigger limits, so the one-query protocol is valid
    return sessionize_bounded(
        spark,
        _events_stream(spark, sf_dir),
        table_ts_max_ms(sf_dir, "events"),
        sealed=True,
        input_key=os.path.abspath(sf_dir),
    )

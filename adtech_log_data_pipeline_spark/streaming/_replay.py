"""Shared bounded-replay runner for watermark/timer-driven stateful
operators — the end-of-input protocol lives HERE, once:

  1. phase 1 (availableNow over a checkpointed parquet sink) drains every
     available real row and leaves the watermark at ``max_real - delay``;
  2. the caller-supplied sentinel writer drops one far-future row into an
     initially EMPTY file source the caller union'd into its stream, and
     phase 2 restarts from the same checkpoint — state and file offsets
     recover, the sentinel advances the watermark past every pending
     finalization point, and the trailing no-data micro-batch fires the
     remaining timers.

This is Flink's end-of-input +inf watermark restated with Spark
primitives; it makes the bounded result micro-batch-slicing-invariant.
Both stateful sessionizers (sessionize.py, spend.py) route through this
module so a protocol fix lands in one place.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def scratch_dir(prefix: str) -> str:
    """Scratch root for bounded-replay state/checkpoint/sink files —
    all harness-owned temporaries, so DURABILITY IS NOT REQUIRED
    and a RAM filesystem is the right medium: the two-phase protocol's
    cost is dominated by many small fsync-heavy state-store and
    checkpoint files. Prefers /dev/shm when present (override with
    $SPARK_GRAFT_STREAM_SCRATCH; any path works). Production streams
    point checkpointLocation at durable storage instead — this helper
    is only ever used for harness-owned temporaries."""
    base = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if base is None and os.path.isdir("/dev/shm"):
        base = "/dev/shm"
    return tempfile.mkdtemp(prefix=prefix, dir=base)


# (prefix, key) -> the scratch dir behind the last lazy result made for
# that slot; the next claim of the same slot deletes it first
_SCRATCH_SLOTS: dict[tuple[str, str], str] = {}


@atexit.register
def _drop_scratch_slots() -> None:
    for work in _SCRATCH_SLOTS.values():
        shutil.rmtree(work, ignore_errors=True)


def scratch_slot(prefix: str, key: str) -> str:
    """A fresh scratch dir (``scratch_dir(prefix)``) for a result that
    reads it lazily. It lives until the next call with the same
    ``prefix`` and ``key`` deletes it, so a long-lived session keeps at
    most one dir per slot; whatever is left goes at interpreter exit."""
    prev = _SCRATCH_SLOTS.pop((prefix, key), None)
    if prev is not None:
        shutil.rmtree(prev, ignore_errors=True)
    work = scratch_dir(prefix)
    _SCRATCH_SLOTS[(prefix, key)] = work
    return work


def make_replay_dirs(prefix: str, input_key: str) -> tuple[str, str, str, str]:
    """(work, sentinel_dir, out_dir, ckpt_dir) under one temp root, the
    ``scratch_slot`` of this replay kind and input: it backs the replay's
    lazy result until the next replay of the same kind and input."""
    work = scratch_slot(prefix, input_key)
    sentinel_dir = os.path.join(work, "sentinel")
    out_dir = os.path.join(work, "out")
    ckpt_dir = os.path.join(work, "ckpt")
    os.makedirs(sentinel_dir)
    os.makedirs(out_dir)
    return work, sentinel_dir, out_dir, ckpt_dir


def _run_phase(
    spark: SparkSession, stream: DataFrame, out_dir: str, ckpt_dir: str
) -> None:
    from .windowed import stream_partitions

    with stream_partitions(spark):
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def _lazy_result(
    spark: SparkSession,
    output_schema: str,
    out_dir: str,
    result_filter: F.Column | None,
) -> DataFrame:
    """Return the finished replay's sink as a LAZY parquet-backed frame;
    its scratch lives until the next replay of the same kind and input
    (see make_replay_dirs). Skipping the old collect()+createDataFrame
    materialization saves ~1s per replay on a 100k-row result, and a
    parquet read preserves NULL longs exactly on any session (the round-4
    NaN hazard only existed on the pandas round-trip — reading the files
    back involves no pandas). Production points the sink at durable
    storage and never hits this path."""
    result = spark.read.schema(output_schema).parquet(out_dir)
    if result_filter is not None:
        result = result.filter(result_filter)
    return result


def run_two_phase(
    spark: SparkSession,
    stream: DataFrame,
    output_schema: str,
    work: str,
    out_dir: str,
    ckpt_dir: str,
    write_sentinel: Callable[[], None],
    result_filter: F.Column | None = None,
) -> DataFrame:
    """Execute ``stream`` (already union'd with the caller's empty
    sentinel source and watermarked) to completion via the two-phase
    protocol, then return the sink as a lazy parquet-backed frame
    (scratch kept until the next replay of this kind and input — see
    make_replay_dirs). The parquet sink is checkpointed (exactly-once; a
    memory sink cannot recover across the phase-2 restart); production
    points the sink at durable storage and skips the scratch lifecycle
    entirely.

    This is the RESTART-PROVING variant (state and file offsets recover
    across a stop/start between the phases); the hot path for the
    declared queries is run_sealed below, which reaches the same final
    state without the second query start. The multi-batch tests drive
    THIS one so the recovery law stays pinned."""
    try:
        _run_phase(spark, stream, out_dir, ckpt_dir)
        write_sentinel()
        _run_phase(spark, stream, out_dir, ckpt_dir)
        return _lazy_result(spark, output_schema, out_dir, result_filter)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise


def run_sealed(
    spark: SparkSession,
    stream: DataFrame,
    output_schema: str,
    work: str,
    out_dir: str,
    ckpt_dir: str,
    write_sentinel: Callable[[], None],
    result_filter: F.Column | None = None,
) -> DataFrame:
    """Single-query bounded replay: seal the input by writing the
    sentinel BEFORE the (sole) availableNow run, halving the protocol's
    fixed cost (one stream start, one checkpoint lifecycle, no state-store
    recovery).

    Why this reaches the same final state as the two-phase protocol:
    watermarks only advance at micro-batch BOUNDARIES, and with no
    per-trigger limits configured every union'd file source contributes
    all its available files to the FIRST micro-batch — so no real row can
    be dropped as late relative to the sentinel (both are processed under
    the initial watermark), and the trailing no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches, on by default) advances the
    watermark past every finalization point exactly as phase 2 did. The
    restart-recovery property this variant no longer exercises is pinned
    separately by tests/test_streaming_multibatch.py via run_two_phase."""
    try:
        write_sentinel()
        _run_phase(spark, stream, out_dir, ckpt_dir)
        return _lazy_result(spark, output_schema, out_dir, result_filter)
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise

"""Streaming Count-Min sketch — foreachBatch maintenance of the bounded
frequency state (functions/sketch.py::cm_sketch_state) over the event
stream, the frequency twin of streaming/sketch_stream.py's KMV.

Exactly-once shape: CM counters merge ADDITIVELY (not idempotently —
contrast KMV's min-union), so a naively re-applied micro-batch would
double-count. Instead each batch writes its own partial sketch to
``state_dir/batch=<id>/`` with overwrite — a retried batch overwrites
its own partial, making the sink idempotent per batch id — and the
final state is the (row, bucket) sum across partials, which by the
additive-merge law (test-pinned in tests/test_sketch_expectations.py)
equals the batch sketch over the concatenated input under ANY slicing.

State is bounded: each partial is at most depth*width rows, and
stream_cm_sketch replays a bounded input into a fresh scratch state dir
that it deletes before returning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sketch import CM_DEPTH, CM_WIDTH, cm_sketch_state

STATE_SCHEMA = "row int, bucket int, cnt bigint"


def cm_partial_writer(state_dir: str, depth: int, width: int):
    """The foreachBatch sink: write THIS batch's partial sketch to
    batch=<id>/ with overwrite. Module-level so tests can drive the
    exactly-once mechanism directly: a Spark RETRY of batch N re-invokes
    this with the same batch_id and overwrites N's own partial — the
    merged state is unchanged (idempotent per batch id), which is the
    whole exactly-once story for an additive (non-idempotent-merge)
    sketch."""

    def write_partial(batch_df: DataFrame, batch_id: int) -> None:
        cm_sketch_state(batch_df, "user_id", depth, width).write.mode(
            "overwrite"
        ).parquet(os.path.join(state_dir, f"batch={batch_id}"))

    return write_partial


def merged_cm_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Sum the per-batch partials (every batch=<id> dir) into the final
    sketch state."""
    import glob

    parts = sorted(glob.glob(os.path.join(state_dir, "batch=*")))
    if not parts:
        return spark.createDataFrame([], STATE_SCHEMA)
    return (
        spark.read.schema(STATE_SCHEMA)
        .parquet(*parts)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def stream_cm_sketch(
    spark: SparkSession,
    sf_dir: str,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    events: DataFrame | None = None,
) -> DataFrame:
    """Maintain the user_id Count-Min sketch across micro-batches; return
    the merged final state (row, bucket, cnt), bit-identical to the batch
    cm_sketch_state over the same rows — the DuckDB oracle states the
    batch construction directly."""
    import shutil

    from ._replay import scratch_dir
    from .windowed import _events_stream, stream_partitions

    work = scratch_dir("cm_state_")
    state_dir = os.path.join(work, "state")
    ckpt = scratch_dir("cm_ckpt_")

    src = events if events is not None else _events_stream(spark, sf_dir)
    try:
        with stream_partitions(spark):
            q = (
                src.select("user_id")
                .writeStream.outputMode("append")
                .foreachBatch(cm_partial_writer(state_dir, depth, width))
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        # Row-based materialization — vanilla-session (Arrow-off) safe
        rows = merged_cm_state(spark, state_dir).collect()
        return spark.createDataFrame(rows, schema=STATE_SCHEMA)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)

"""Structured Streaming smoke: the parquet replay must produce exactly the
batch semantics (the driver's oracle cross-checks values; here we check
conservation + schema)."""

from pyspark.sql import functions as F

from adtech_log_data_pipeline_spark.sources.tables import load_table
from adtech_log_data_pipeline_spark.streaming import (
    stream_window_counts,
    streaming_device_activity,
)

SF = "/root/testdata/sf0.001"


def test_window_counts_emit_exactly_finalized_windows(spark):
    """Append mode: every window whose end <= watermark (max event time -
    30 min, inclusive) is emitted once; open windows are withheld."""
    out = stream_window_counts(spark, SF)
    ev = load_table(spark, SF, "events")
    wm_ms = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0] - 30 * 60 * 1000
    expected = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.unix_millis(F.col("w.end")) <= wm_ms)
    )
    assert out.count() == expected.count()
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == expected.agg(F.sum("n")).collect()[0][0]
    assert out.columns == ["window_start_ms", "event_type", "n_events", "sum_value"]


def test_streaming_device_activity_matches_batch_bounds(spark):
    out = {r["user_id"]: r for r in streaming_device_activity(spark, SF).collect()}
    batch = {
        r["user_id"]: r
        for r in load_table(spark, SF, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_millis("ts")).alias("first_at"),
            F.max(F.unix_millis("ts")).alias("last_at"),
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
        )
        .collect()
    }
    assert set(out) == set(batch)
    for uid, b in batch.items():
        s = out[uid]
        assert (s["first_at"], s["last_at"], s["n_events"], s["n_types"]) == (
            b["first_at"],
            b["last_at"],
            b["n_events"],
            b["n_types"],
        )


def test_stateful_sessionize_matches_batch(spark):
    from adtech_log_data_pipeline_spark.streaming import streaming_sessionize
    from pyspark.sql import functions as F

    out = streaming_sessionize(spark, SF)
    # sessions partition each user's events: totals must conserve
    total = out.agg(F.sum("n_events")).collect()[0][0]
    assert total == load_table(spark, SF, "events").count()
    rows = out.collect()
    assert all(r["session_start_ms"] <= r["session_end_ms"] for r in rows)
    # no session may contain an internal gap > 30 min: spot-check bounds
    per_user = out.groupBy("user_id").count().collect()
    assert all(r["count"] >= 1 for r in per_user)


def test_stream_dedup_equals_batch_distinct(spark):
    """Bounded replay: watermark-bounded streaming dedup == batch DISTINCT
    on the key columns."""
    from adtech_log_data_pipeline_spark.streaming import stream_dedup_keys

    out = stream_dedup_keys(spark, SF)
    ev = load_table(spark, SF, "events")
    expected = ev.select("user_id", "event_type").distinct()
    assert out.count() == expected.count()
    assert out.exceptAll(expected).count() == 0
    assert out.columns == ["user_id", "event_type"]


def test_stream_attribution_equals_batch_interval_join(spark):
    """Bounded replay: the watermarked stream-stream interval join equals
    the batch interval join."""
    from adtech_log_data_pipeline_spark.streaming import stream_click_attribution

    out = stream_click_attribution(spark, SF)
    ev = load_table(spark, SF, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    expected = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES")),
    )
    assert out.count() == expected.count()
    assert out.agg(F.sum("lag_ms")).collect()[0][0] == expected.select(
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("lag")
    ).agg(F.sum("lag")).collect()[0][0]


def test_merge_spend_conserves_counts_and_cents():
    """The spend interval-merge law: any fold order conserves the point
    count and the total cents, and sessions stay gap-separated."""
    from adtech_log_data_pipeline_spark.streaming.sessionize import SESSION_GAP_MS
    from adtech_log_data_pipeline_spark.streaming.spend import _merge_spend

    pts = [(0, 10), (1000, 20), (SESSION_GAP_MS + 2000, 5), (500, 7)]
    a = _merge_spend([], pts)
    # incremental fold in two chunks equals one-shot fold
    b = _merge_spend(_merge_spend([], pts[:2]), pts[2:])
    assert a == b
    assert sum(n for _, _, n, _ in a) == 4
    assert sum(c for _, _, _, c in a) == 42
    for (s1, e1, _, _), (s2, _, _, _) in zip(a, a[1:]):
        assert s2 - e1 > SESSION_GAP_MS


def test_spend_stream_routes_by_capability(spark):
    """The routing must put the matching stateful operator in the PLAN:
    FlatMapGroupsInPandasWithState when protobuf is absent (this env),
    TransformWithState* where it exists — asserted on the analyzed plan of
    the actually-built stream, not on the capability probe alone."""
    from pyspark.sql import functions as F

    from adtech_log_data_pipeline_spark.streaming.spend import (
        spend_sessions_stream,
        tws_available,
    )

    rate = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .select(
            F.col("value").alias("user_id"),
            F.col("timestamp").alias("ts"),
        )
        .withWatermark("ts", "1 minute")
        .select(
            "user_id",
            "ts",
            F.unix_millis("ts").alias("ts_ms"),
            F.lit(1).cast("bigint").alias("cents"),
        )
    )
    plan = spend_sessions_stream(rate)._jdf.queryExecution().analyzed().toString()
    if tws_available():
        assert "TransformWithState" in plan
    else:
        assert "FlatMapGroupsInPandasWithState" in plan
        assert "TransformWithState" not in plan


def test_tws_processor_logic_with_mock_handle():
    """Pin the _SpendSessions StatefulProcessor logic without the TWS
    runtime (no protobuf in this env): drive handleInputRows /
    handleExpiredTimer with a mock handle+state and assert merge,
    watermark finalization, timer hygiene (exactly one live timer), and
    state eviction."""
    from adtech_log_data_pipeline_spark.streaming.sessionize import SESSION_GAP_MS
    from adtech_log_data_pipeline_spark.streaming.spend import _SpendSessions

    import pandas as pd

    class FakeState:
        def __init__(self):
            self.rows: list | None = None

        def exists(self):
            return self.rows is not None

        def get(self):
            return iter(self.rows)

        def put(self, rows):
            self.rows = list(rows)

        def clear(self):
            self.rows = None

    class FakeHandle:
        def __init__(self, state):
            self._s = state
            self.timers: set[int] = set()

        def getListState(self, name, schema):
            return self._s

        def registerTimer(self, ts):
            self.timers.add(ts)

        def deleteTimer(self, ts):
            self.timers.discard(ts)

        def listTimers(self):
            return iter(list(self.timers))

    class FakeTimerValues:
        def __init__(self, wm):
            self._wm = wm

        def getCurrentWatermarkInMs(self):
            return self._wm

    state = FakeState()
    handle = FakeHandle(state)
    proc = _SpendSessions()
    proc.init(handle)

    # batch 1: two points in one session, watermark far behind -> no emit,
    # state holds the merged open session, exactly one timer registered
    rows = iter([pd.DataFrame({"ts_ms": [1000, 2000], "cents": [5, 7]})])
    out1 = pd.concat(list(proc.handleInputRows((42,), rows, FakeTimerValues(0))))
    assert len(out1) == 0
    assert state.rows == [(1000, 2000, 2, 12)]
    assert len(handle.timers) == 1

    # batch 2: a point one-gap-later merges (<= gap law); still open; the
    # OLD timer was deleted before the new registration
    t2 = 2000 + SESSION_GAP_MS
    rows = iter([pd.DataFrame({"ts_ms": [t2], "cents": [3]})])
    out2 = pd.concat(list(proc.handleInputRows((42,), rows, FakeTimerValues(0))))
    assert len(out2) == 0
    assert state.rows == [(1000, t2, 3, 15)]
    assert len(handle.timers) == 1

    # expired timer with the watermark past end+gap: session emits with
    # exact cents, state evicted, no timer re-armed
    wm = t2 + SESSION_GAP_MS + 1
    out3 = pd.concat(
        list(proc.handleExpiredTimer((42,), FakeTimerValues(wm), None))
    )
    assert out3.values.tolist() == [[42, 1000, t2, 3, 15]]
    assert state.rows is None
    assert len(handle.timers) == 0


def test_outer_attribution_nulls_survive_arrow_off(spark):
    """Round-4 driver regression: the replay runner materialized results
    via toPandas() -> createDataFrame(pdf), which turns NULL long columns
    into float64 NaN — fatal on a vanilla (Arrow-off) session where
    createDataFrame's row verifier rejects NaN for LongType. Pin the fix:
    with Arrow disabled, the LEFT OUTER join's NULL click_id/lag_ms rows
    must materialize as real NULLs."""
    from adtech_log_data_pipeline_spark.streaming import (
        stream_attribution_outer,
    )

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        out = stream_attribution_outer(spark, SF)
        rows = out.collect()
    finally:
        spark.conf.set(key, prior)
    unmatched = [r for r in rows if r["click_id"] is None]
    assert unmatched, "outer join must emit NULL-side rows"
    assert all(r["lag_ms"] is None for r in unmatched)
    matched = [r for r in rows if r["click_id"] is not None]
    assert all(isinstance(r["lag_ms"], int) for r in matched)


def test_scratch_dir_env_override(tmp_path, monkeypatch):
    """SPARK_GRAFT_STREAM_SCRATCH redirects bounded-replay scratch; the
    default prefers /dev/shm when present."""
    import os

    from adtech_log_data_pipeline_spark.streaming._replay import scratch_dir

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    d = scratch_dir("t_")
    assert d.startswith(str(tmp_path))
    os.rmdir(d)

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH")
    d = scratch_dir("t_")
    assert d.startswith("/dev/shm") == os.path.isdir("/dev/shm")
    os.rmdir(d)


def test_repeated_replays_keep_one_scratch_dir_per_key(spark, tmp_path, monkeypatch):
    """Each bounded replay's lazy result reads its scratch dir, so the dir
    outlives the call; the next replay of the same kind over the same
    input deletes it. Two calls each of three replay queries leave one
    dir per query, and the latest results stay readable."""
    import os

    from adtech_log_data_pipeline_spark.streaming import (
        stream_attribution_outer,
        streaming_sessionize,
        streaming_spend_sessions,
    )

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    replays = (streaming_sessionize, streaming_spend_sessions, stream_attribution_outer)
    first = [fn(spark, SF).count() for fn in replays]
    latest = [fn(spark, SF) for fn in replays]
    assert [out.count() for out in latest] == first
    assert len(os.listdir(tmp_path)) == len(replays)


def test_sealed_replay_equals_two_phase(spark):
    """The single-query sealed protocol (sentinel pre-seeded, one
    availableNow run) must produce exactly the two-phase protocol's
    result on a limit-free bounded stream."""
    from pyspark.sql import functions as F

    from adtech_log_data_pipeline_spark.sources.tables import (
        load_table,
        table_ts_max_ms,
    )
    from adtech_log_data_pipeline_spark.streaming.sessionize import (
        sessionize_bounded,
    )
    from adtech_log_data_pipeline_spark.streaming.windowed import _events_stream

    sf = "/root/testdata/sf0.001"
    max_ms = table_ts_max_ms(sf, "events")

    def run(sealed):
        out = sessionize_bounded(
            spark, _events_stream(spark, sf), max_ms, sealed=sealed
        )
        return {
            (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"])
            for r in out.collect()
        }

    a, b = run(True), run(False)
    assert a == b and len(a) > 0

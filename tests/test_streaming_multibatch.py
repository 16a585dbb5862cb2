"""Multi-batch replay: the streaming operators must produce batch-equal
results when the bounded input arrives as MANY micro-batches
(maxFilesPerTrigger=1 over a time-split directory), not just one.

This is the unbounded-stream shape: state crosses batch boundaries
(session intervals, dedup horizon, join buffers, window partials) and
emission is watermark-driven. Each test states the watermark contract it
relies on: the replay files are time-ordered (zero cross-batch lateness),
and where equality with a batch query is asserted the horizon is chosen
to cover the replay's disorder (dedup/join use a span-sized horizon).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from adtech_log_data_pipeline_spark.sources.tables import load_table
from adtech_log_data_pipeline_spark.streaming.sessionize import (
    SESSION_GAP_MS,
    sessionize_bounded,
)
from adtech_log_data_pipeline_spark.streaming.windowed import (
    stream_click_attribution,
    stream_dedup_keys,
    stream_enriched_counts,
    stream_sliding_counts,
    stream_window_counts,
)

SF = "/root/testdata/sf0.001"
N_FILES = 4


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    """Events split into N_FILES time-ordered parquet files with ascending
    mtimes, so maxFilesPerTrigger=1 yields N_FILES in-order micro-batches."""
    d = tmp_path_factory.mktemp("replay")
    ev = load_table(spark, SF, "events").orderBy("ts", "event_id").collect()
    schema = load_table(spark, SF, "events").schema
    chunk = (len(ev) + N_FILES - 1) // N_FILES
    for i in range(N_FILES):
        part = ev[i * chunk : (i + 1) * chunk]
        path = os.path.join(str(d), f"part-{i:02d}.parquet")
        spark.createDataFrame(part, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path + ".dir")
        # one file per batch: move the single part file up, bump mtime
        files = [
            f
            for f in os.listdir(path + ".dir")
            if f.endswith(".parquet") and not f.startswith(".")
        ]
        assert len(files) == 1
        os.rename(os.path.join(path + ".dir", files[0]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    return str(d)


def _multibatch_stream(spark, replay_dir):
    schema = load_table(spark, SF, "events").schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(replay_dir)
    )
    from adtech_log_data_pipeline_spark.sources.tables import _normalize_event_ts

    return _normalize_event_ts(s)


def _n_batches(spark, replay_dir):
    """The replay must actually arrive as multiple data micro-batches —
    otherwise these tests silently degrade to the single-batch case."""
    s = _multibatch_stream(spark, replay_dir)
    q = (
        s.writeStream.outputMode("append")
        .format("memory")
        .queryName("mb_probe")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sum(1 for p in q.recentProgress if p["numInputRows"] > 0)


def test_replay_is_actually_multibatch(spark, replay_dir):
    assert _n_batches(spark, replay_dir) == N_FILES


def test_sessionize_multibatch_equals_batch(spark, replay_dir):
    """Sessions split across micro-batch boundaries must still come out as
    ONE session (state carries the open interval; watermark finalizes)."""
    ev = load_table(spark, SF, "events")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0]
    out = sessionize_bounded(
        spark,
        _multibatch_stream(spark, replay_dir),
        max_ms,
    )
    got = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"], r["n_events"])
        for r in out.collect()
    }

    rows = ev.select("user_id", F.unix_millis("ts").alias("ms")).collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r["ms"])
    exp = set()
    for u, ts in by_user.items():
        start = end = None
        n = 0
        for t in sorted(ts):
            if start is None:
                start, end, n = t, t, 1
            elif t - end > SESSION_GAP_MS:
                exp.add((u, start, end, n))
                start, end, n = t, t, 1
            else:
                end, n = max(end, t), n + 1
        exp.add((u, start, end, n))
    assert got == exp


def test_dedup_multibatch_equals_distinct(spark, replay_dir):
    """With a horizon covering the replay span, streaming dedup equals
    batch DISTINCT even when duplicate keys arrive in different batches."""
    out = stream_dedup_keys(
        spark,
        SF,
        events=_multibatch_stream(spark, replay_dir),
        watermark="3650 days",
    )
    expected = (
        load_table(spark, SF, "events").select("user_id", "event_type").distinct()
    )
    assert out.count() == expected.count()
    assert out.exceptAll(expected).count() == 0


def test_attribution_multibatch_equals_batch_join(spark, replay_dir):
    """Interval-join pairs whose click and purchase arrive in different
    micro-batches must still match (join buffers cross batches)."""
    out = stream_click_attribution(
        spark,
        SF,
        events=_multibatch_stream(spark, replay_dir),
        watermark="3650 days",
    )
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


def test_sliding_counts_multibatch_equals_singlebatch(spark, replay_dir):
    """Sliding windows spanning batch boundaries accumulate across batches
    before finalizing — the emitted set is slicing-invariant for a
    time-ordered replay."""
    multi = stream_sliding_counts(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    single = stream_sliding_counts(spark, SF)
    assert multi.count() == single.count()
    assert multi.exceptAll(single).count() == 0


def test_enriched_counts_multibatch_equals_singlebatch(spark, replay_dir):
    """The stream-static join re-evaluates the static dimension per
    micro-batch; the emitted finalized-window set must still be
    slicing-invariant (join adds no stream state)."""
    multi = stream_enriched_counts(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    single = stream_enriched_counts(spark, SF)
    assert multi.count() == single.count()
    assert multi.exceptAll(single).count() == 0


def test_session_windows_multibatch_equals_singlebatch(spark, replay_dir):
    """Native session windows spanning batch boundaries merge in state
    before finalizing — the emitted set is slicing-invariant for a
    time-ordered replay."""
    from adtech_log_data_pipeline_spark.streaming import stream_session_windows

    multi = stream_session_windows(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    single = stream_session_windows(spark, SF)
    assert multi.count() == single.count()
    assert multi.exceptAll(single).count() == 0


def test_native_session_windows_agree_with_custom_sessionizer(spark):
    """The built-in F.session_window operator and the custom
    applyInPandasWithState sessionizer must describe the SAME sessions:
    every native finalized session, converted from its [start, last+gap)
    window shape back to (start, last_event), appears in the custom
    operator's full output with the same event count. (The native set is
    a subset: it emits only watermark-finalized sessions and splits at
    exactly-gap boundaries the custom operator merges.)"""
    from collections import defaultdict

    from adtech_log_data_pipeline_spark.streaming import (
        stream_session_windows,
        streaming_sessionize,
    )
    from adtech_log_data_pipeline_spark.streaming.sessionize import SESSION_GAP_MS

    # The subset property breaks (by design) for a user whose consecutive
    # events sit EXACTLY one gap apart — native splits there, custom
    # merges. Exclude such users explicitly rather than relying on the
    # fixture happening to contain none.
    by_user = defaultdict(list)
    for r in load_table(spark, SF, "events").select(
        "user_id", F.unix_millis("ts").alias("ms")
    ).collect():
        by_user[r["user_id"]].append(r["ms"])
    boundary_users = {
        u
        for u, ts in by_user.items()
        if any(b - a == SESSION_GAP_MS for a, b in zip(sorted(ts), sorted(ts)[1:]))
    }

    native = stream_session_windows(spark, SF).collect()
    custom = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"]): r["n_events"]
        for r in streaming_sessionize(spark, SF).collect()
    }
    checked = 0
    for r in native:
        if r["user_id"] in boundary_users:
            continue
        key = (
            r["user_id"],
            r["session_start_ms"],
            r["session_end_ms"] - SESSION_GAP_MS,
        )
        assert key in custom, f"native session {key} missing from custom output"
        assert custom[key] == r["n_events"]
        checked += 1
    assert checked > 0


def test_spend_sessions_multibatch_equals_batch(spark, replay_dir):
    """Purchase sessions split across micro-batch boundaries accumulate
    their spend in state before finalizing — the bounded result equals
    batch sessionization with exact cents sums (either stateful surface:
    transformWithStateInPandas where runnable, its applyInPandasWithState
    twin otherwise)."""
    from adtech_log_data_pipeline_spark.streaming.sessionize import SESSION_GAP_MS
    from adtech_log_data_pipeline_spark.streaming.spend import (
        spend_sessions_bounded,
    )

    ev = load_table(spark, SF, "events")
    purchases = _multibatch_stream(spark, replay_dir).filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "value")
    max_ms = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0]
    out = spend_sessions_bounded(spark, purchases, max_ms)
    got = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"]): (
            r["n_purchases"],
            r["spend_cents"],
        )
        for r in out.collect()
    }

    rows = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        F.expr("cast(floor(value * 100 + 0.5) as bigint)").alias("cents"),
    ).collect()
    from collections import defaultdict

    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ms"], r["cents"]))
    exp = {}
    for u, pts in by_user.items():
        start = end = None
        n = spend = 0
        for t, c in sorted(pts):
            if start is None:
                start, end, n, spend = t, t, 1, c
            elif t - end > SESSION_GAP_MS:
                exp[(u, start, end)] = (n, spend)
                start, end, n, spend = t, t, 1, c
            else:
                end, n, spend = max(end, t), n + 1, spend + c
        exp[(u, start, end)] = (n, spend)
    assert got == exp


def test_upsert_latest_multibatch_merges_across_batches(spark, replay_dir):
    """foreachBatch upsert over a 4-batch replay: keys updated in later
    batches must overwrite their earlier state rows (cumulative counts,
    latest event), and untouched keys must survive — final state equals
    the batch latest-per-user query."""
    from adtech_log_data_pipeline_spark.streaming import stream_upsert_latest

    out = stream_upsert_latest(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    got = {
        r["user_id"]: (r["last_ts_ms"], r["last_event_id"], r["n_events"])
        for r in out.collect()
    }
    ev = load_table(spark, SF, "events").select(
        "user_id", F.unix_millis("ts").alias("ms"), "event_id"
    )
    rows = ev.collect()
    from collections import defaultdict

    agg = defaultdict(lambda: (-1, -1, 0))
    for r in rows:
        last_ms, last_id, n = agg[r["user_id"]]
        cand = (r["ms"], r["event_id"])
        agg[r["user_id"]] = (
            *max((last_ms, last_id), cand),
            n + 1,
        )
    assert got == dict(agg)


def test_window_counts_multibatch_equals_singlebatch(spark, replay_dir):
    """The emitted finalized-window set is micro-batch-slicing-invariant
    for a time-ordered replay (windows straddling a batch boundary only
    finalize once the watermark passes their end)."""
    multi = stream_window_counts(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    single = stream_window_counts(spark, SF)
    assert multi.count() == single.count()
    assert multi.exceptAll(single).count() == 0


def test_attribution_outer_multibatch_equals_batch_left_join(spark, replay_dir):
    """LEFT OUTER interval join under multi-batch replay: matched pairs
    crossing batch boundaries still join, and every unconverted purchase
    emits EXACTLY ONE null-click row once the sentinel watermark proves no
    match can arrive — the full multiset equals the batch LEFT JOIN."""
    from adtech_log_data_pipeline_spark.streaming.windowed import (
        stream_attribution_outer,
    )

    ev = load_table(spark, SF, "events")
    max_ts_ms = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0]
    out = stream_attribution_outer(
        spark,
        SF,
        events=_multibatch_stream(spark, replay_dir),
        max_ts_ms=max_ts_ms,
    )
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
        "leftOuter",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("lag_ms"),
    )
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_kmv_sketch_multibatch_equals_batch(spark, replay_dir):
    """The foreachBatch KMV merge is idempotent/associative: a 4-batch
    replay must produce the EXACT batch-sketch state and estimates (no
    watermark contract needed — the merge is order-insensitive)."""
    from adtech_log_data_pipeline_spark.functions.sketch import kmv_distinct
    from adtech_log_data_pipeline_spark.streaming.sketch_stream import (
        stream_kmv_distinct,
    )

    out = stream_kmv_distinct(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    ).collect()
    expected = {
        tuple(r) for r in kmv_distinct(
            load_table(spark, SF, "events"), "user_id", ["event_type"]
        ).collect()
    }
    assert {tuple(r) for r in out} == expected


def test_quarantine_multibatch_equals_batch(spark, replay_dir):
    """Stateless map-only split: a 4-batch replay's quarantine table must
    equal the batch enforcement exactly (per-batch idempotent sinks)."""
    from adtech_log_data_pipeline_spark.functions.expectations import (
        enforce_expectations,
    )
    from adtech_log_data_pipeline_spark.streaming.quarantine import (
        EVENT_RULES,
        stream_quarantine,
    )

    out = stream_quarantine(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    ).collect()
    expected = enforce_expectations(
        load_table(spark, SF, "events"), EVENT_RULES, ["event_id"]
    ).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in expected}
    assert len(out) > 0


def test_top_users_multibatch_equals_batch(spark, replay_dir):
    """Additive count merge + applied-batch-id guard: a 4-batch replay's
    heavy-hitter report must equal the batch top-n exactly (counts are
    exact, tiebreak deterministic)."""
    from pyspark.sql.window import Window

    from adtech_log_data_pipeline_spark.streaming.topk_stream import (
        stream_top_users,
    )

    out = stream_top_users(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    ).collect()
    w = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
    expected = (
        load_table(spark, SF, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .select("rank", "user_id", F.col("cnt").alias("n_events"))
        .collect()
    )
    assert sorted(tuple(r) for r in out) == sorted(tuple(r) for r in expected)
    assert len(out) == 5


def test_top_users_redelivered_batch_is_skipped(spark, tmp_path):
    """The exactly-once guard: re-running a committed batch_id must NOT
    double-count (the failure mode KMV is algebraically immune to and an
    additive merge is not)."""
    from adtech_log_data_pipeline_spark.streaming.topk_stream import (
        STATE_SCHEMA,
        _merge_batch,
    )

    state = str(tmp_path / "state")
    merge = _merge_batch(state)
    b0 = spark.createDataFrame([(1,), (1,), (2,)], "user_id long")
    b1 = spark.createDataFrame([(1,), (3,)], "user_id long")
    merge(b0, 0)
    merge(b1, 1)
    merge(b1, 1)  # re-delivery of a committed batch
    merge(b0, 0)  # stale replay from an old offset
    counts = {
        r["user_id"]: r["cnt"]
        for r in spark.read.schema(STATE_SCHEMA).parquet(state).collect()
    }
    assert counts == {1: 3, 2: 1, 3: 1}


def test_drift_chi2_multibatch_equals_singlebatch(spark, replay_dir):
    """The drift monitor's single stateful agg accumulates per-window
    bucket counts across batch boundaries; the stateless baseline scoring
    cannot add state, so the emitted finalized-window set (counts AND
    chi2) is slicing-invariant for a time-ordered replay."""
    from adtech_log_data_pipeline_spark.streaming.drift import stream_drift_chi2

    multi = stream_drift_chi2(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    single = stream_drift_chi2(spark, SF)
    assert multi.count() == single.count()
    assert multi.exceptAll(single).count() == 0


def test_attribution_full_multibatch_equals_batch_full_join(spark, replay_dir):
    """FULL OUTER interval join under multi-batch replay: both null
    sides fire — unconverted purchases AND never-converting clicks each
    emit exactly one null-partner row — and the full multiset equals the
    batch FULL OUTER join."""
    from adtech_log_data_pipeline_spark.streaming.windowed import (
        stream_attribution_full,
    )

    ev = load_table(spark, SF, "events")
    max_ts_ms = ev.agg(F.max(F.unix_millis("ts"))).collect()[0][0]
    out = stream_attribution_full(
        spark,
        SF,
        events=_multibatch_stream(spark, replay_dir),
        max_ts_ms=max_ts_ms,
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    expected = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 60 MINUTES")),
        "fullOuter",
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        (F.unix_millis("p_ts") - F.unix_millis("c_ts")).alias("lag_ms"),
    )
    # both null sides must actually be exercised by the fixture
    assert expected.filter(F.col("click_id").isNull()).count() > 0
    assert expected.filter(F.col("purchase_id").isNull()).count() > 0
    assert out.exceptAll(expected).count() == 0
    assert expected.exceptAll(out).count() == 0


def test_cm_sketch_multibatch_equals_batch(spark, replay_dir):
    """Additive-merge exactly-once: a 4-batch replay's summed per-batch
    CM partials must equal the batch sketch over the full input."""
    from adtech_log_data_pipeline_spark.functions.sketch import cm_sketch_state
    from adtech_log_data_pipeline_spark.streaming.cm_stream import (
        stream_cm_sketch,
    )

    out = stream_cm_sketch(
        spark, SF, events=_multibatch_stream(spark, replay_dir)
    )
    expected = cm_sketch_state(load_table(spark, SF, "events"), "user_id")
    assert {tuple(r) for r in out.collect()} == {
        tuple(r) for r in expected.collect()
    }


def test_cm_partial_writer_batch_retry_is_exactly_once(spark, tmp_path):
    """The additive sketch's exactly-once mechanism, driven directly: a
    retried micro-batch (same batch_id re-invoked, as Spark does after a
    foreachBatch failure) overwrites its OWN partial, so the merged
    state equals the batch sketch — no double counting. A crash BETWEEN
    batches (partial 0 persisted, batch 1 re-run from scratch) is the
    same law."""
    from adtech_log_data_pipeline_spark.functions.sketch import cm_sketch_state
    from adtech_log_data_pipeline_spark.streaming.cm_stream import (
        cm_partial_writer,
        merged_cm_state,
    )

    state = str(tmp_path / "state")
    write = cm_partial_writer(state, 4, 512)
    b0 = spark.createDataFrame([(i % 7,) for i in range(40)], "user_id long")
    b1 = spark.createDataFrame([(i % 11,) for i in range(60)], "user_id long")
    write(b0, 0)
    write(b1, 1)
    write(b1, 1)  # retry of batch 1: overwrite, not append
    got = {tuple(r) for r in merged_cm_state(spark, state).collect()}
    expected = {
        tuple(r)
        for r in cm_sketch_state(b0.unionByName(b1), "user_id").collect()
    }
    assert got == expected


def test_join_view_multibatch_equals_closed_form(spark, replay_dir):
    """IVM over a 4-batch replay: the bilinear delta accumulation must
    converge to count(click) x count(purchase) per user — the closed
    form the oracle states — regardless of how the stream was sliced."""
    from adtech_log_data_pipeline_spark.streaming import stream_join_view

    out = {
        r["user_id"]: (r["n_clicks"], r["n_purchases"], r["n_pairs"])
        for r in stream_join_view(
            spark, SF, events=_multibatch_stream(spark, replay_dir)
        ).collect()
    }
    ev = load_table(spark, SF, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isin("click", "purchase")
    )
    from collections import defaultdict

    a = defaultdict(int)
    b = defaultdict(int)
    for r in ev.select("user_id", "event_type").collect():
        (a if r["event_type"] == "click" else b)[r["user_id"]] += 1
    expect = {
        u: (a[u], b[u], a[u] * b[u]) for u in set(a) | set(b)
    }
    assert out == expect


def test_join_view_batch_reapplication_is_exactly_once(spark, tmp_path):
    """Crash semantics: re-invoking the SAME batch id (the foreachBatch
    retry contract) must not double-count — the committed version makes
    the second application a no-op."""
    from adtech_log_data_pipeline_spark.streaming.joinview import (
        _apply_delta,
        _versions,
    )

    base = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(1, "click"), (1, "purchase"), (2, "click")],
        "user_id long, event_type string",
    )
    apply = _apply_delta(base)
    apply(batch, 0)
    first = {
        tuple(r)
        for r in spark.read.parquet(base + "/v=0").collect()
    }
    apply(batch, 0)  # retry of the same batch id
    assert _versions(base) == [0]
    second = {
        tuple(r)
        for r in spark.read.parquet(base + "/v=0").collect()
    }
    assert first == second == {(1, 1, 1, 1), (2, 1, 0, 0)}


def test_join_view_scratch_orphan_is_swept_and_ignored(spark, tmp_path):
    """A crash between the scratch write and the atomic rename leaves a
    .tmp orphan: the re-run must sweep it and commit the version once."""
    import os

    from adtech_log_data_pipeline_spark.streaming.joinview import (
        _apply_delta,
        _versions,
    )

    base = str(tmp_path / "state")
    b0 = spark.createDataFrame(
        [(1, "click")], "user_id long, event_type string"
    )
    b1 = spark.createDataFrame(
        [(1, "purchase")], "user_id long, event_type string"
    )
    apply = _apply_delta(base)
    apply(b0, 0)
    # simulate the crashed attempt of batch 1: scratch exists, no commit
    os.makedirs(os.path.join(base, "v=1.tmp", "garbage"))
    apply(b1, 1)
    assert _versions(base) == [0, 1]
    rows = {
        tuple(r)
        for r in spark.read.parquet(base + "/v=1").collect()
    }
    assert rows == {(1, 1, 1, 1)}
    assert not os.path.isdir(os.path.join(base, "v=1.tmp"))

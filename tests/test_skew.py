"""Salted distinct-count must equal the plain countDistinct on skewed and
uniform inputs alike."""

import pytest
from pyspark.sql import functions as F

from adtech_log_data_pipeline_spark.operators.skew import salted_count_distinct


def test_salted_equals_plain_on_skewed_data(spark):
    # one viral key holding 90% of rows + a long tail
    rows = [("viral", f"u{i % 137}") for i in range(2000)] + [
        (f"k{i % 7}", f"u{i % 23}") for i in range(200)
    ]
    df = spark.createDataFrame(rows, "bundle string, user string")
    plain = {
        r["bundle"]: r["n"]
        for r in df.groupBy("bundle").agg(F.countDistinct("user").alias("n")).collect()
    }
    salted = {
        r["bundle"]: r["n_distinct"]
        for r in salted_count_distinct(df, ["bundle"], ["user"], n_salts=8).collect()
    }
    assert salted == plain
    assert salted["viral"] == 137


def test_salted_multi_column_values(spark):
    rows = [("k", "a", i % 5) for i in range(100)] + [("k2", "b", 1)]
    df = spark.createDataFrame(rows, "key string, os string, uid int")
    out = {
        r["key"]: r["n_distinct"]
        for r in salted_count_distinct(df, ["key"], ["os", "uid"], n_salts=4).collect()
    }
    assert out == {"k": 5, "k2": 1}


def test_salted_join_equals_plain_join(spark):
    """salted_join == plain join (row multiset) for inner and left,
    including unmatched fact keys and duplicate dim rows."""
    from adtech_log_data_pipeline_spark.operators.skew import salted_join

    facts = spark.createDataFrame(
        # hot key 'a' dominates; 'c' has no dim match
        [("a", i) for i in range(200)] + [("b", 1), ("c", 2), ("b", 3)],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("a", "A1"), ("a", "A2"), ("b", "B")], "k string, label string"
    )
    for how in ("inner", "left"):
        got = salted_join(facts, dim, "k", n_salts=7, how=how)
        want = facts.join(dim, "k", how)
        assert got.exceptAll(want).count() == 0, how
        assert want.exceptAll(got).count() == 0, how

    import pytest

    with pytest.raises(ValueError):
        salted_join(facts, dim, "k", how="full")


def test_skew_report_ranks_hot_keys(spark):
    from adtech_log_data_pipeline_spark.operators.skew import skew_report

    rows = (
        [("hot", i) for i in range(60)]
        + [("warm", i) for i in range(30)]
        + [("a", 1), ("b", 1), ("c", 1), ("d", 1), ("e", 1), (None, 1)]
    )
    df = spark.createDataFrame(rows, "k string, v long")
    out = skew_report(df, ["k"], top_n=3).collect()
    assert [(r["rank"], r["key"], r["n_rows"]) for r in out] == [
        (1, "hot", 60),
        (2, "warm", 30),
        (3, "a", 1),
    ]
    # 95 non-null rows over 7 keys: hot carries 60*7/95 = 4.42x the mean
    hot = out[0]
    assert hot["share_ppm"] == 60 * 1000000 // 95
    assert hot["skew_vs_mean_r6"] == round(60 * 7 / 95, 6)
    # deterministic tiebreak at equal counts: key ascending
    assert out[2]["key"] == "a"


def test_skew_report_top_n_avoids_global_sort(spark):
    """The top-N must plan as TakeOrdered (per-partition heaps), not a
    full global Sort+Exchange of the key-count relation."""
    from adtech_log_data_pipeline_spark.operators.skew import skew_report
    from adtech_log_data_pipeline_spark.functions._cache import release_cached

    df = spark.range(0, 1000).selectExpr("cast(id % 97 as string) as k", "id as v")
    plan = skew_report(df, ["k"], top_n=5)._jdf.queryExecution().executedPlan().toString()
    release_cached()
    assert "TakeOrderedAndProject" in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """The session's AQE skew-join path (session.py turns it on) must
    actually FIRE on a skewed shuffle join: with thresholds lowered to
    unit-test scale, the hot key's partition gets split and the final
    adaptive plan marks the shuffle read as skewed — the runtime half of
    the engine's skew story (operators/skew.py salting is the manual
    half for post-AQE residual skew)."""
    from pyspark.sql import functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        hot = spark.range(200_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(10_000).select(
            (F.col("id") % 1000 + 1).alias("k"), F.col("id").alias("v")
        )
        fact = hot.unionByName(cold)
        dim = spark.range(1001).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("d")
        )
        j = fact.join(dim, "k")
        assert len(j.collect()) == 210_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def _zipf_valid_bid_logs(spark, n=120_000, n_bundles=1_000, n_devices=30_000):
    """Deterministic zipf-like bundle popularity over fully VALID bid-log
    rows: the A5 bundle-skew fixture SURVEY.md §4 names. The head rank
    carries 35% of all raw rows (a bot-scale hot app); the tail follows
    the log-uniform inverse-CDF (P(rank k) ~ ln((k+1)/k)/ln(N)). The head
    must be this hot because the level-1 aggregation dedups to distinct
    (device, bundle) pairs before the join — a mild zipf head gets
    diluted below AQE's skew factor by exactly that dedup (which is the
    engine's first line of defense; see the test docstring)."""
    return spark.range(n).selectExpr(
        "cast(id as string) as bid_id",
        "1 as exchange",
        "1 as bid_result",
        "5 as bid_price",
        "1000 + id as received_at",
        "2000 + id as processed_at",
        "'android' as device_os",
        "concat(substr(md5(cast(id % {d} as string)), 1, 8), '-',"
        " substr(md5(cast(id % {d} as string)), 9, 4), '-',"
        " substr(md5(cast(id % {d} as string)), 13, 4), '-',"
        " substr(md5(cast(id % {d} as string)), 17, 4), '-',"
        " substr(md5(cast(id % {d} as string)), 21, 12)) as device_ifa".format(
            d=n_devices
        ),
        "case when pmod(id * 2654435761, 1000003) / 1000003.0 < 0.35"
        " then 'app.0'"
        " else concat('app.', 1 + cast(exp("
        "((pmod(id * 2654435761, 1000003) / 1000003.0 - 0.35) / 0.65)"
        f" * ln({n_bundles})) as int)) end as app_bundle",
        "'USA' as geo_country",
        "'ca' as geo_region",
    )


def test_aqe_splits_hot_bundle_in_popularity_anti_join(spark):
    """The REAL A5 skew surface: suspicious_ids' popularity lookup is a
    bundle-keyed anti-join (operators/suspicious.py::score_devices). The engine
    broadcasts the popular set — skew-immune — but at web scale a popular
    set beyond broadcast capacity degrades to a shuffle join keyed by
    bundle, and a zipf-hot bundle then skews one partition >10x. This
    pins the RUNTIME safety net for exactly that regime and records two
    empirical constraints (this Spark build, measured here) that the
    SURVEY §8 scale notes state:

      * AQE's OptimizeSkewedJoin does NOT split LEFT ANTI / LEFT SEMI
        joins — the equivalent LEFT OUTER + is-popular-null filter (row-
        identical, asserted below) is the AQE-splittable formulation.
      * It also requires both join children to be plain
        ENSURE_REQUIREMENTS shuffles: a popularity aggregate flowing
        STRAIGHT into the join arrives pre-partitioned on bundle and the
        skew pattern never matches. The production shape — the popular
        set PRECOMPUTED and read back from storage (modeled with
        localCheckpoint) — is exactly the shape AQE can split.

    When manual salting (operators/skew.py) still beats AQE: AQE splits
    AFTER the map stage wrote the skewed shuffle files (reducer-side fix
    only), inside one join only, and not for anti/semi shapes it cannot
    rewrite; a deliberate salt spreads the hot key at map time and
    composes across stages. The engine's first defense remains that the
    level-1 aggregation key (os, uuid, bundle) is high-cardinality and
    hash-uniform even under bundle zipf — only the bundle-keyed JOIN
    ever skews, and only when the dim side cannot broadcast."""
    from pyspark.sql import functions as F

    from adtech_log_data_pipeline_spark.operators.validate import valid_bid_logs

    v = valid_bid_logs(_zipf_valid_bid_logs(spark, n=400_000, n_devices=100_000))
    # the operator's level-0/level-1 reduction (suspicious_ids_from_valid),
    # sans hold(): device-app relation with one row per (os, uuid, bundle)
    level1 = (
        v.groupBy("os", "uuid", F.col("app_bundle").alias("bundle"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    # measured data skew at the join key (recorded in SURVEY §8): rows per
    # bundle-hash partition — the shuffle sizes AQE sees. Observed at this
    # fixture: hot partition ~105k rows vs ~7k median (15x, >> factor 2).
    parts = (
        level1.groupBy(F.pmod(F.hash("bundle"), F.lit(32)).alias("p"))
        .count()
        .collect()
    )
    sizes = sorted((r["count"] for r in parts), reverse=True)
    med = sorted(sizes)[len(sizes) // 2]
    assert sizes[0] > 5 * med, sizes[:5]  # genuinely skewed at the join key

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    saved["spark.sql.shuffle.partitions"] = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # popular can't broadcast
    # enough reducers that the median partition is small vs the hot one
    # (skew detection compares against factor x MEDIAN partition size)
    conf.set("spark.sql.shuffle.partitions", "32")
    jsc = spark.sparkContext._jsc
    persisted_before = set(jsc.getPersistentRDDs().keySet().toArray())
    try:
        # the precomputed popular set, as read back from storage
        popular = (
            level1.groupBy("bundle")
            .agg(F.count(F.lit(1)).alias("user_count"))
            .filter(F.col("user_count") > 300)
            .select("bundle", F.lit(1).alias("is_pop"))
            .localCheckpoint()
        )
        shuffled = level1.join(popular, "bundle", "left_outer").filter(
            F.col("is_pop").isNull()
        )
        n_shuffled = len(shuffled.collect())  # same QueryExecution as the plan
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
        assert "skewed" in plan, plan[:2000]
        # row-identical to the engine's broadcast anti-join formulation
        n_broadcast = level1.join(
            F.broadcast(popular.select("bundle")), "bundle", "left_anti"
        ).count()
        assert n_shuffled == n_broadcast > 0
    finally:
        # the localCheckpoint is a persistent RDD no held frame covers
        rdds = jsc.getPersistentRDDs()
        for rdd_id in set(rdds.keySet().toArray()) - persisted_before:
            rdds.get(rdd_id).unpersist(True)
        for k, v2 in saved.items():
            if v2 is None:
                conf.unset(k)
            else:
                conf.set(k, v2)


def test_salted_anti_semi_join_equals_plain_on_zipf(spark):
    """Law: salted_anti_join == plain anti/semi join, row-multiset equal,
    on the A5 zipf fixture (hot bundle key); and the salted shuffle key
    (bundle, salt) measurably SPLITS the hot partition the plain
    bundle-keyed shuffle funnels into one reducer (numbers recorded in
    SURVEY §8)."""
    from pyspark.sql import functions as F

    from adtech_log_data_pipeline_spark.operators.skew import salted_anti_join
    from adtech_log_data_pipeline_spark.operators.validate import valid_bid_logs

    v = valid_bid_logs(_zipf_valid_bid_logs(spark, n=120_000, n_devices=30_000))
    level1 = v.groupBy("os", "uuid", F.col("app_bundle").alias("bundle")).agg(
        F.count(F.lit(1)).alias("n")
    )
    popular = (
        level1.groupBy("bundle")
        .agg(F.count(F.lit(1)).alias("user_count"))
        .filter(F.col("user_count") > 300)
        .select("bundle")
    )

    def key_multiset(df):
        rows = df.select("os", "uuid", "bundle", "n").collect()
        return sorted(map(tuple, rows))

    for how in ("left_anti", "left_semi"):
        plain = level1.join(popular, "bundle", how)
        salted = salted_anti_join(level1, popular, "bundle", n_salts=8, how=how)
        assert key_multiset(salted) == key_multiset(plain), how
    assert salted_anti_join(level1, popular, "bundle", how="left_anti").count() > 0

    # measured split: rows per shuffle partition keyed the plain way vs
    # the salted way — the hot bundle's mass must spread by ~n_salts
    n_parts = 32
    plain_sizes = sorted(
        (
            r["count"]
            for r in v.groupBy(
                F.pmod(F.hash("app_bundle"), F.lit(n_parts)).alias("p")
            )
            .count()
            .collect()
        ),
        reverse=True,
    )
    salt = F.pmod(F.hash(*[F.col(c) for c in v.columns]), F.lit(16))
    salted_sizes = sorted(
        (
            r["count"]
            for r in v.groupBy(
                F.pmod(F.hash("app_bundle", salt), F.lit(n_parts)).alias("p")
            )
            .count()
            .collect()
        ),
        reverse=True,
    )
    assert salted_sizes[0] * 3 < plain_sizes[0], (
        plain_sizes[:3],
        salted_sizes[:3],
    )


def test_salted_anti_join_rejects_other_hows(spark):
    import pytest

    from adtech_log_data_pipeline_spark.operators.skew import salted_anti_join

    df = spark.range(2).selectExpr("id as k")
    with pytest.raises(ValueError):
        salted_anti_join(df, df, "k", how="inner")


def test_routed_anti_join_rungs_and_equivalence(spark):
    """routed_anti_join picks the documented rung at each threshold and all
    three rungs return the identical row multiset (SURVEY §4 ladder)."""
    from adtech_log_data_pipeline_spark.operators.skew import (
        AntiJoinRouting,
        routed_anti_join,
    )

    facts = spark.createDataFrame(
        # hot key 'a': 120 rows vs ~1/key tail -> max/mean >> 8
        [("a", i) for i in range(120)]
        + [(f"k{i}", i) for i in range(30)],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("a",)] + [(f"k{i}",) for i in range(0, 30, 2)], "k string"
    )
    want = facts.join(dim, "k", "left_anti")

    # rung 1: dim fits the broadcast budget
    rep = {}
    got = routed_anti_join(facts, dim, "k", report=rep)
    assert rep["rung"] == "broadcast" and rep["n_keys"] == 16
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # rung 3: over budget + hot fact key -> salted
    tight = AntiJoinRouting(broadcast_max_keys=4, skew_factor=8.0, n_salts=5)
    rep = {}
    got = routed_anti_join(facts, dim, "k", routing=tight, report=rep)
    assert rep["rung"] == "salted" and rep["skew"] > 8.0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # rung 2: over budget, fact key NOT hot -> LEFT OUTER + null filter
    flat_facts = spark.createDataFrame(
        [(f"k{i % 40}", i) for i in range(200)], "k string, v int"
    )
    flat_want = flat_facts.join(dim, "k", "left_anti")
    rep = {}
    got = routed_anti_join(flat_facts, dim, "k", routing=tight, report=rep)
    assert rep["rung"] == "outer_null" and rep["skew"] < 8.0
    assert (
        got.exceptAll(flat_want).count() == 0
        and flat_want.exceptAll(got).count() == 0
    )
    assert got.columns == flat_facts.columns  # _hit marker dropped


def test_routed_anti_join_semi_and_composite_key(spark):
    """left_semi routing + composite (os, uuid) key — the J2 blacklist
    shape — on every rung; dim duplicates must not duplicate left rows."""
    from adtech_log_data_pipeline_spark.operators.skew import (
        AntiJoinRouting,
        routed_anti_join,
    )

    facts = spark.createDataFrame(
        [("ios", f"u{i % 9}", i) for i in range(90)]
        + [("android", "hot", i) for i in range(200)],
        "os string, uuid string, v int",
    )
    dim = spark.createDataFrame(
        # duplicate blacklist rows on purpose
        [("android", "hot"), ("android", "hot"), ("ios", "u3")],
        "os string, uuid string",
    )
    for how in ("left_anti", "left_semi"):
        want = facts.join(dim.distinct(), ["os", "uuid"], how)
        for routing in (
            AntiJoinRouting(),  # broadcast
            AntiJoinRouting(broadcast_max_keys=1, skew_factor=2.0),  # salted
            AntiJoinRouting(broadcast_max_keys=1, skew_factor=1e9),  # outer_null
        ):
            rep = {}
            got = routed_anti_join(
                facts, dim, ["os", "uuid"], how=how, routing=routing, report=rep
            )
            assert got.exceptAll(want).count() == 0, (how, rep)
            assert want.exceptAll(got).count() == 0, (how, rep)

    import pytest

    with pytest.raises(ValueError):
        routed_anti_join(facts, dim, ["os", "uuid"], how="inner")


def test_helper_columns_never_clobber_user_columns(spark):
    """Facts that already carry _hit/_salt columns pass through every
    rung and every salted operator unscathed (the helper names are
    generated collision-free)."""
    from adtech_log_data_pipeline_spark.operators.skew import (
        AntiJoinRouting,
        routed_anti_join,
        salted_anti_join,
        salted_count_distinct,
        salted_join,
    )

    facts = spark.createDataFrame(
        [(f"k{i % 10}", i, 7, 9) for i in range(80)],
        "k string, v int, _hit int, _salt int",
    )
    dim = spark.createDataFrame([("k1",), ("k4",)], "k string")
    want = facts.join(dim, "k", "left_anti")
    for routing in (
        AntiJoinRouting(),
        AntiJoinRouting(broadcast_max_keys=1, skew_factor=2.0),
        AntiJoinRouting(broadcast_max_keys=1, skew_factor=1e9),
    ):
        got = routed_anti_join(facts, dim, "k", routing=routing)
        assert got.columns == facts.columns, routing
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    got = salted_anti_join(facts, dim, "k")
    assert got.columns == facts.columns
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    jwant = facts.join(dim, "k", "inner")
    jgot = salted_join(facts, dim, "k")
    assert sorted(jgot.columns) == sorted(jwant.columns)
    assert jgot.exceptAll(jwant).count() == 0 and jwant.exceptAll(jgot).count() == 0

    # salted_count_distinct with a value column literally named _salt
    cwant = facts.groupBy("k").agg(F.countDistinct("_salt", "v").alias("n"))
    cgot = salted_count_distinct(facts, ["k"], ["_salt", "v"], alias="n")
    assert cgot.exceptAll(cwant).count() == 0 and cwant.exceptAll(cgot).count() == 0


def test_routed_anti_join_sees_rewritten_lookup(spark, tmp_path):
    """An in-place rewrite of the lookup's source files within a session
    is seen by the next routed join: the probe reports the NEW key count
    and the join reflects the rewritten key set."""
    import time

    from adtech_log_data_pipeline_spark.operators.skew import routed_anti_join

    facts = spark.createDataFrame(
        [(f"k{i % 20}", i) for i in range(100)], "k string, v int"
    )
    d = str(tmp_path / "dim.parquet")
    spark.createDataFrame(
        [(f"k{i}",) for i in range(4)], "k string"
    ).coalesce(1).write.mode("overwrite").parquet(d)

    rep1, rep2 = {}, {}
    a = routed_anti_join(facts, spark.read.parquet(d), "k", report=rep1)
    n_a = a.count()
    assert rep1["n_keys"] == 4

    time.sleep(0.05)  # ensure a distinct mtime_ns on coarse filesystems
    spark.createDataFrame(
        [(f"k{i}",) for i in range(9)], "k string"
    ).coalesce(1).write.mode("overwrite").parquet(d)
    # drop Spark's own file-listing cache so the new files are visible
    spark.catalog.refreshByPath(d)

    b = routed_anti_join(facts, spark.read.parquet(d), "k", report=rep2)
    assert rep2["n_keys"] == 9
    assert b.count() < n_a  # more keys removed more facts


def test_hygienic_drops_stale_stream_tables(spark):
    """No memory-sink temp view outlives its streaming replay
    (_run_to_memory drops its own view eagerly — the 1 GiB-session
    residue class found in round 12), the RESULT stays consumable
    after the drop, and fixture temp views (region/nation/...) are
    untouched."""
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES

    out = QUERIES["stream_window_counts"](spark, "/root/testdata/sf0.001")
    names = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    assert not any(n.startswith("stream_out_") for n in names), names
    assert out.count() > 0  # the sink relation survives the view drop

    QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001").count()
    names = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    assert "lineitem" in names  # fixture views untouched


def test_interleaved_streaming_queries_keep_results(spark):
    """Two declared streaming queries interleaved in one session must
    not destroy each other's results (round-12 verdict #7): build A,
    build B (whose hygiene pass runs between), then consume BOTH. Each
    replay drops its own sink view before it returns, so the second
    build has nothing of the first's to touch."""
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = QUERIES["stream_window_counts"](spark, sf)
    b = QUERIES["stream_sliding_counts"](spark, sf)
    assert a.count() > 0
    assert b.count() > 0


def test_failed_replay_leaves_no_stream_view(spark, tmp_path):
    """A replay whose stream fails after start() drops its memory-sink
    view too: the drop is on every exit path of _run_to_memory, so no
    sweep between queries is needed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from adtech_log_data_pipeline_spark.streaming.windowed import (
        _events_stream,
        _run_to_memory,
    )

    pq.write_table(
        pa.table({"user_id": [1, 2], "ts": pa.array([0, 1_000_000], pa.timestamp("us"))}),
        tmp_path / "events.parquet",
    )
    stream = _events_stream(spark, str(tmp_path)).withColumn(
        "boom", F.raise_error(F.lit("replay fails after start"))
    )
    with pytest.raises(Exception, match="replay fails after start"):
        _run_to_memory(stream, "append")
    names = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    assert not any(n.startswith("stream_out_") for n in names), names

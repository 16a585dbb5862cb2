"""End-to-end job tests — both pipelines chained through real sinks
(the reference's golden E2E layer, judge __Test07-09 shape: N bid logs ->
known profile/suspicious cardinalities -> predictions)."""

import pytest

from adtech_log_data_pipeline_spark.jobs import run_bidlog_job, run_prediction_job
from adtech_log_data_pipeline_spark.operators import SuspiciousThresholds
from adtech_log_data_pipeline_spark.sources.protowire import (
    DEVICE_ID,
    OS_TO_NAME,
    decode_b64_proto,
    encode_b64_proto,
)
from tests.conftest import bid_log, bid_logs_df


def uuid_n(n, c="1"):
    return f"{n:07d}0-1111-2222-3333-44444444444{c}"


@pytest.fixture(scope="module")
def logs(spark):
    rows = []
    # 3 quiet devices, 1 chatty device (12 bids > default BID_T=10), 1 invalid row
    for d in range(3):
        rows += [
            bid_log(device_ifa=uuid_n(d), bid_id=f"d{d}-{i}", app_bundle=f"app.{i%2}")
            for i in range(3)
        ]
    rows += [bid_log(device_ifa=uuid_n(7), bid_id=f"x{i}") for i in range(12)]
    rows.append(bid_log(device_ifa="garbage"))
    return bid_logs_df(spark, rows)


def test_bidlog_job_end_to_end(spark, logs, tmp_path):
    res = run_bidlog_job(spark, logs, output_dir=str(tmp_path))
    assert res.device_profiles.count() == 4
    assert res.suspicious.count() == 1  # only the chatty device
    bundles = {r["bundle"] for r in res.app_profiles.collect()}
    assert bundles == {"app.0", "app.1", "com.app.one"}
    # sinks landed
    assert spark.read.parquet(str(tmp_path / "device_profiles")).count() == 4


def test_prediction_job_end_to_end(spark, logs, tmp_path):
    res = run_bidlog_job(spark, logs)
    iapp = spark.createDataFrame(
        [("app.0", 5, 100)], "bundle string, num_purchasers long, total_amount long"
    )
    preds = run_prediction_job(
        spark, res.device_profiles, res.suspicious, iapp, output_dir=str(tmp_path)
    )
    rows = preds.collect()
    # uuids end char8='0' by construction -> all non-suspicious sampled
    assert len(rows) == 3
    assert all(0 <= r["prediction"] <= 9 for r in rows)
    json_lines = spark.read.text(str(tmp_path / "predictions_json")).count()
    assert json_lines == 3


def test_bidlog_job_reruns_on_unchanged_file_backed_input(spark, logs, tmp_path):
    """Two BidLogJob runs over the same TFRecord shards in one session:
    the second run's skew-router probe must hold its own plan, never a
    frame whose plan carries the first run's Observation
    (DUPLICATED_METRICS_NAME)."""
    from adtech_log_data_pipeline_spark.sources.protowire import (
        BID_LOG,
        BID_LOG_SQL_SCHEMA,
        bidlog_to_row,
        encode_wire_proto,
        row_to_bidlog,
    )
    from adtech_log_data_pipeline_spark.sources.tfrecord import (
        read_tfrecord_proto,
        write_tfrecord_partitioned,
    )

    shards = str(tmp_path / "shards")
    write_tfrecord_partitioned(encode_wire_proto(logs, BID_LOG, row_to_bidlog), shards)
    for run in ("a", "b"):
        decoded = read_tfrecord_proto(
            spark, f"{shards}/*.tfrecord.gz", BID_LOG, BID_LOG_SQL_SCHEMA, bidlog_to_row
        )
        res = run_bidlog_job(spark, decoded, output_dir=str(tmp_path / run))
        assert res.metrics["n_input"] == 22 and res.metrics["n_valid"] == 21
        assert spark.read.parquet(str(tmp_path / run / "suspicious")).count() == 1


def test_jobs_release_their_cached_frames(spark, logs, tmp_path):
    """Each job persists its shared intermediates only for its own run: a
    long-lived session is left with the registry and the persistent RDDs
    it had before, and the returned frames still evaluate."""
    from adtech_log_data_pipeline_spark.functions import _cache

    def footprint():
        return len(_cache._HELD), spark.sparkContext._jsc.getPersistentRDDs().size()

    before = footprint()
    res = run_bidlog_job(spark, logs, output_dir=str(tmp_path / "bidlog"))
    iapp = spark.createDataFrame(
        [("app.0", 5, 100)], "bundle string, num_purchasers long, total_amount long"
    )
    preds = run_prediction_job(
        spark,
        spark.read.parquet(str(tmp_path / "bidlog" / "device_profiles")),
        spark.read.parquet(str(tmp_path / "bidlog" / "suspicious")),
        iapp,
        output_dir=str(tmp_path / "prediction"),
    )
    assert footprint() == before
    assert res.device_profiles.count() == 4 and res.suspicious.count() == 1
    assert preds.count() == 3


def test_repeated_cli_path_jobs_keep_the_session_bounded(spark, tmp_path):
    """BidLogJob + PredictionJob three times over the CLI input path in
    one session: no module-level container of the skew router grows, the
    cache registry ends where it started, and no persistent RDD the jobs
    made survives them. RDD ids, not the count: RDDs that earlier tests
    leaked may be cleaned up by the JVM while this test runs.

    After the first run Janino compiles no whole-stage-codegen class:
    the session's class cache holds the jobs' ~130 classes and their
    names carry no stage id. At Spark's default 100 entries each run
    evicted what the next one needed and recompiled ~125. Nor do the
    load_table schema cache and the validity-predicate memo grow after
    the first run: the same entries and the same Column serve runs 2
    and 3."""
    from adtech_log_data_pipeline_spark.functions import _cache
    from adtech_log_data_pipeline_spark.operators import skew, validate
    from adtech_log_data_pipeline_spark.sources import tables
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs, load_iapp

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    sf = "/root/testdata/sf0.001"

    def footprint():
        containers = {
            name: len(v)
            for name, v in vars(skew).items()
            if not name.startswith("__") and isinstance(v, (dict, list, set))
        }
        return containers, len(_cache._HELD)

    def rdd_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def memos():
        return tables._SCHEMAS[spark].copy(), validate._VALID[1]

    before, before_rdds = footprint(), rdd_ids()
    for run in range(3):
        compiled = compiles.getCount()
        bid, pred = str(tmp_path / f"b{run}"), str(tmp_path / f"p{run}")
        run_bidlog_job(spark, load_bid_logs(spark, sf), output_dir=bid)
        run_prediction_job(
            spark,
            spark.read.parquet(f"{bid}/device_profiles"),
            spark.read.parquet(f"{bid}/suspicious"),
            load_iapp(spark, sf),
            output_dir=pred,
        )
        assert footprint() == before, run
        assert rdd_ids() <= before_rdds, run
        if run == 0:
            first_memos = memos()
        else:
            assert compiles.getCount() == compiled, run
            schemas, predicate = memos()
            assert schemas == first_memos[0], run
            assert predicate is first_memos[1], run


def _write_b64(df, path):
    from adtech_log_data_pipeline_spark.jobs.bidlog_job import _device_id

    encode_b64_proto(df, DEVICE_ID, _device_id).write.mode("overwrite").text(path)


def _read_b64(spark, path):
    # a lambda pickles by value; Python workers cannot import this module
    to_row = lambda msg: {"os": OS_TO_NAME[msg["os"]], "uuid": msg["uuid"]}
    return decode_b64_proto(spark.read.text(path), DEVICE_ID, "os string, uuid string", to_row)


def test_b64_codec_roundtrip_drops_malformed(spark, tmp_path):
    df = spark.createDataFrame([("ANDROID", "U1"), ("IOS", "U2")], "os string, uuid string")
    path = str(tmp_path / "b64")
    _write_b64(df, path)
    # append malformed line artifacts (the reference's empty-line case, F7)
    with open(f"{path}/part-malformed.txt", "w") as f:
        f.write("!!!not-base64!!!\n")
        f.write("aGVsbG8=\n")  # valid base64, not a valid DeviceId
        f.write("\n")  # empty line: the default instance
    back = _read_b64(spark, path)
    assert {(r["os"], r["uuid"]) for r in back.collect()} == {("ANDROID", "U1"), ("IOS", "U2")}


def test_bidlog_job_b64_sink_is_the_suspicious_sink_as_device_id_lines(spark, tmp_path):
    """--b64-outputs writes the reference's S4 format: one Base64
    DeviceId protobuf line per suspicious ID (IOUtils.encodeB64AndWrite),
    decodable by any protobuf reader, holding exactly the parquet
    suspicious sink's (os, uuid) set."""
    import base64

    from adtech_log_data_pipeline_spark.plans.queries import QUERY_THRESHOLDS
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs
    from adtech_log_data_pipeline_spark.sources.protowire import decode_message

    out = str(tmp_path)
    run_bidlog_job(
        spark,
        load_bid_logs(spark, "/root/testdata/sf0.01"),
        output_dir=out,
        thresholds=QUERY_THRESHOLDS,
        b64_outputs=True,
    )
    lines = [r["value"] for r in spark.read.text(f"{out}/suspicious_b64").collect()]
    decoded = [decode_message(base64.b64decode(line), DEVICE_ID) for line in lines]
    got = [(OS_TO_NAME[m["os"]], m["uuid"]) for m in decoded]
    want = {
        (r["os"], r["uuid"]) for r in spark.read.parquet(f"{out}/suspicious").collect()
    }
    assert len(got) == len(set(got)) == len(want) > 0
    assert set(got) == want


def test_export_job_cli_end_to_end(spark, tmp_path):
    """--job export writes split-partitioned shards + manifest via the CLI
    dispatch (reference Main.java job-dispatch parity for the sink side)."""
    import os

    from adtech_log_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "shards_out")
    rc = main(
        ["--job", "export", "--sf-dir", "/root/testdata/sf0.001", "--output", out]
    )
    assert rc == 0
    assert os.path.isdir(os.path.join(out, "shards"))
    back = spark.read.parquet(os.path.join(out, "shards"))
    assert back.count() > 0
    assert set(r["split"] for r in back.select("split").distinct().collect()) <= {
        "train",
        "val",
        "test",
    }


def test_bidlog_and_prediction_cli_report_sink_counts(spark, tmp_path, capsys):
    """--job bidlog then --job prediction over the default --sf-dir: the
    summary lines report the row counts of the sinks just written."""
    import re

    from adtech_log_data_pipeline_spark.__main__ import main

    bid, pred = str(tmp_path / "b"), str(tmp_path / "p")
    # thresholds loose enough that some devices survive to the predictions
    loose = ["--threshold-geo", "30", "--threshold-bid", "1000"]
    assert main(["--job", "bidlog", "--output", bid, *loose]) == 0
    assert main(["--job", "prediction", "--profiles", bid, "--output", pred]) == 0
    out = capsys.readouterr().out
    rows = lambda d, sink: spark.read.parquet(f"{d}/{sink}").count()
    m = re.search(
        r"(\d+) device profiles, (\d+) app profiles, (\d+) suspicious", out
    )
    assert m and tuple(map(int, m.groups())) == (
        rows(bid, "device_profiles"),
        rows(bid, "app_profiles"),
        rows(bid, "suspicious"),
    )
    m = re.search(r"prediction job done: (\d+) predictions", out)
    assert m and int(m.group(1)) == rows(pred, "predictions") > 0


def test_b64_codec_long_payload_single_line(spark, tmp_path):
    """A record whose Base64 line runs past 76 characters (where MIME
    encoders break lines) still lands as ONE text line and round-trips."""
    long_uuid = "U" * 300
    df = spark.createDataFrame([("IOS", long_uuid)], "os string, uuid string")
    path = str(tmp_path / "b64long")
    _write_b64(df, path)
    lines = spark.read.text(path).collect()
    assert len(lines) == 1 and len(lines[0]["value"]) > 76
    assert "\r" not in lines[0]["value"]
    back = _read_b64(spark, path).collect()
    assert [(r["os"], r["uuid"]) for r in back] == [("IOS", long_uuid)]


def test_bigquery_sink_routing(spark, tmp_path):
    """S6 sink seam (jobs2/PredictionJob.java:128-137): route to the
    bigquery DataSource when present AND a table is named; parquet+JSON
    fallback otherwise. No live BigQuery anywhere — the connector is
    absent in this container, and the available path is injected."""
    from adtech_log_data_pipeline_spark.jobs.prediction_job import (
        bigquery_available,
        sink_predictions,
    )

    preds = spark.createDataFrame(
        [("android", "AD-1", 3, 0.5)],
        "os string, uuid string, prediction int, score double",
    )
    # this container has no spark-bigquery connector on the classpath
    assert bigquery_available(spark) is False

    out = tmp_path / "sink"
    assert sink_predictions(preds, str(out), bq_table="proj.ds.t") == "parquet"
    assert (out / "predictions").exists()

    written = []
    chosen = sink_predictions(
        preds,
        str(tmp_path / "both"),
        bq_table="proj.ds.t",
        _bq_write=lambda df, table: written.append((df.count(), table)),
    )
    assert chosen == "bigquery+parquet"
    assert written == [(1, "proj.ds.t")]
    # the BQ route is additive: local artifacts still land when asked for
    assert (tmp_path / "both" / "predictions").exists()

    # BQ only (no output_dir) -> nothing local, routed to bigquery alone
    assert (
        sink_predictions(preds, None, bq_table="proj.ds.t", _bq_write=lambda *a: None)
        == "bigquery"
    )

    # no table named -> parquet regardless of availability
    assert (
        sink_predictions(preds, str(tmp_path / "p2"), _bq_write=lambda *a: None)
        == "parquet"
    )


def test_bidlog_job_observed_metrics(spark, tmp_path):
    """The validation counters ride the device-profiles write as an
    Observation — no second scan — and must equal the filter's truth."""
    from tests.conftest import bid_log, bid_logs_df

    rows = [bid_log(device_ifa=f"abcdefab-1234-5678-9abc-def01234567{i}")
            for i in range(4)]
    rows.append(bid_log(app_bundle=""))  # invalid: blank bundle
    rows.append(bid_log(exchange=0))     # invalid: exchange 0
    from adtech_log_data_pipeline_spark.jobs import run_bidlog_job

    res = run_bidlog_job(
        spark, bid_logs_df(spark, rows), output_dir=str(tmp_path / "out")
    )
    assert res.metrics["n_input"] == 6
    assert res.metrics["n_valid"] == 4
    assert res.metrics["n_dropped"] == 2


def test_pq_index_job_cli_end_to_end(spark, tmp_path):
    """--job pq-index persists the PQ/IVF-PQ artifact via the CLI
    dispatch; the loaded index reproduces the fresh ivfpq_topk relation
    (the nightly-build shape the gated PQ queries consume)."""
    import os

    from adtech_log_data_pipeline_spark.__main__ import main
    from adtech_log_data_pipeline_spark.functions.similarity import (
        ivfpq_topk,
        load_pq_index,
    )
    from adtech_log_data_pipeline_spark.sources.tables import load_table

    out = str(tmp_path / "pq_index")
    rc = main(
        [
            "--job", "pq-index",
            "--input", "/root/testdata/sf0.001/embeddings.parquet",
            "--output", out,
        ]
    )
    assert rc == 0
    for part in ("codebook", "codes", "ivf_seeds", "ivf_assign"):
        assert os.path.isdir(os.path.join(out, part)), part
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = emb.filter(emb.vec_id < 3).select(
        emb.vec_id.alias("query_id"), emb.embedding.alias("qvec")
    )
    idx = load_pq_index(spark, out)
    art = ivfpq_topk(emb, q, k=3, index=idx).collect()
    fresh = ivfpq_topk(emb, q, k=3).collect()
    assert sorted(map(tuple, art)) == sorted(map(tuple, fresh)) and len(art) > 0


def test_index_compact_and_vacuum_cli(spark, tmp_path):
    """CLI wiring: --job index-compact dispatches on the manifest's
    family (graph -> sum-merge) and --job index-vacuum reclaims
    orphans; the compacted index answers identically."""
    import os

    from adtech_log_data_pipeline_spark.__main__ import main
    from adtech_log_data_pipeline_spark.functions._index_commit import (
        read_index_manifest,
    )
    from adtech_log_data_pipeline_spark.functions.graph import (
        copurchase_edges,
        load_graph_edges,
    )

    idx = str(tmp_path / "gidx")
    sf = "/root/testdata/sf0.001"
    li_path = os.path.join(sf, "lineitem.parquet")
    assert main(["--job", "graph-index", "--input", li_path, "--output", idx]) in (0, None)
    assert (
        main(
            ["--job", "graph-index-append", "--input", li_path,
             "--against", idx, "--output", idx]
        )
        in (0, None)
    )
    assert (
        main(["--job", "index-compact", "--against", idx, "--output", idx])
        in (0, None)
    )
    man = read_index_manifest(idx)
    assert man["relations"]["edges"] == [man["version"]]
    # doubled input (same lineitem twice) == 2x weights, sum-merged
    li = spark.read.parquet(li_path)
    want = {
        (r["p1"], r["p2"]): 2 * r["w"] for r in copurchase_edges(li).collect()
    }
    got = {
        (r["p1"], r["p2"]): r["w"]
        for r in load_graph_edges(spark, idx).collect()
    }
    assert got == want
    assert (
        main(["--job", "index-vacuum", "--against", idx, "--output", idx])
        in (0, None)
    )


def test_job_sinks_match_the_oracle(spark, tmp_path):
    """The job path against the DuckDB oracle: BidLogJob then PredictionJob
    over sf0.01 with the declared thresholds, each sink hash-compared with
    the board query that declares the same output."""
    import duckdb

    from adtech_log_data_pipeline_spark.operators import (
        flatten_app_profiles,
        flatten_device_profiles,
    )
    from adtech_log_data_pipeline_spark.plans.oracles import ORACLES
    from adtech_log_data_pipeline_spark.plans.queries import QUERY_THRESHOLDS
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs, load_iapp
    from tools.compare import value_hash

    # sf0.01: the smallest scale whose sample+blacklist funnel leaves
    # predictions (sf0.001 keeps 0 rows, so the last sink would prove nothing)
    sf = "/root/testdata/sf0.01"
    out = str(tmp_path)
    run_bidlog_job(spark, load_bid_logs(spark, sf), out, QUERY_THRESHOLDS)
    read = lambda name: spark.read.parquet(f"{out}/{name}")
    run_prediction_job(
        spark,
        read("device_profiles"),
        read("suspicious"),
        load_iapp(spark, sf),
        output_dir=out,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
    sinks = {
        "device_profiles_flat": flatten_device_profiles(read("device_profiles")),
        "app_profiles_flat": flatten_app_profiles(read("app_profiles")),
        "suspicious_ids": read("suspicious"),
        "predictions": read("predictions"),
    }
    for name, df in sinks.items():
        got = df.toPandas()
        want = con.execute(ORACLES[name]).fetchdf()
        assert sorted(got.columns) == sorted(want.columns), name
        assert len(got) == len(want) > 0, name
        assert value_hash(got) == value_hash(want), name

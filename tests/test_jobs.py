"""End-to-end job tests — both pipelines chained through real sinks
(the reference's golden E2E layer, judge __Test07-09 shape: N bid logs ->
known profile/suspicious cardinalities -> predictions)."""

import pytest

from adtech_log_data_pipeline_spark.jobs import run_bidlog_job, run_prediction_job
from adtech_log_data_pipeline_spark.operators import SuspiciousThresholds
from adtech_log_data_pipeline_spark.sources.codecs import (
    read_b64_json,
    write_b64_text,
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
    evicted what the next one needed and recompiled ~125."""
    from adtech_log_data_pipeline_spark.functions import _cache
    from adtech_log_data_pipeline_spark.operators import skew
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
        if run > 0:
            assert compiles.getCount() == compiled, run


def test_b64_codec_roundtrip_drops_malformed(spark, tmp_path):
    df = spark.createDataFrame([("ANDROID", "U1"), ("IOS", "U2")], "os string, uuid string")
    path = str(tmp_path / "b64")
    write_b64_text(df, path)
    # append a malformed line artifact (the reference's empty-line case, F7)
    with open(f"{path}/part-malformed.txt", "w") as f:
        f.write("!!!not-base64!!!\n")
        f.write("aGVsbG8=\n")  # valid base64, not valid JSON
    back = read_b64_json(spark, path, "os string, uuid string")
    assert {(r["os"], r["uuid"]) for r in back.collect()} == {("ANDROID", "U1"), ("IOS", "U2")}


def test_jsonl_roundtrip_and_malformed_modes(spark, tmp_path):
    """read_jsonl is the read side of write_json_text: round-trip equality,
    DROPMALFORMED silently drops corrupt lines, PERMISSIVE quarantines
    them in _corrupt_record, FAILFAST raises."""
    from adtech_log_data_pipeline_spark.sources.codecs import (
        read_jsonl,
        write_json_text,
    )

    df = spark.createDataFrame(
        [("ANDROID", "U1", 3), ("IOS", "U2", 5)], "os string, uuid string, n long"
    )
    path = str(tmp_path / "jsonl")
    write_json_text(df, path)
    with open(f"{path}/part-malformed.txt", "w") as f:
        f.write('{"os": "IOS", "uuid": "U3", "n": }\n')  # broken JSON
        f.write("not json at all\n")

    schema = "os string, uuid string, n long"
    dropped = read_jsonl(spark, path, schema)  # DROPMALFORMED default
    assert {(r["os"], r["uuid"], r["n"]) for r in dropped.collect()} == {
        ("ANDROID", "U1", 3),
        ("IOS", "U2", 5),
    }

    # Spark disallows querying ONLY _corrupt_record from the raw scan
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN); its
    # documented workaround is caching the parsed frame first
    perm = read_jsonl(spark, path, schema, mode="PERMISSIVE").cache()
    assert perm.count() == 4
    corrupt = perm.filter("_corrupt_record IS NOT NULL")
    assert corrupt.count() == 2
    assert "not json at all" in {
        r["_corrupt_record"] for r in corrupt.collect()
    }

    perm.unpersist()
    with pytest.raises(Exception):
        read_jsonl(spark, path, schema, mode="FAILFAST").collect()


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


def test_read_jsonl_fuzzed_garbage_lines(spark, tmp_path):
    """Totality of the JSONL postures over garbage input: DROPMALFORMED
    keeps exactly the valid rows, PERMISSIVE quarantines every bad line
    with its raw text, FAILFAST raises — for lines that are invalid JSON,
    wrong-typed, truncated, or raw bytes."""
    import pytest

    lines = [
        '{"id": 1, "v": "ok"}',
        "{not json",
        '{"id": "not-an-int", "v": "x"}',
        '{"id": 3',
        "\x00\x01garbage\xff",
        '{"id": 2, "v": "also ok"}',
    ]
    p = tmp_path / "fuzz.jsonl"
    p.write_text("\n".join(lines), encoding="utf-8", errors="ignore")
    from adtech_log_data_pipeline_spark.sources.codecs import read_jsonl

    schema = "id long, v string"
    kept = read_jsonl(spark, str(p), schema, mode="DROPMALFORMED").collect()
    assert sorted((r["id"], r["v"]) for r in kept) == [(1, "ok"), (2, "also ok")]

    perm = read_jsonl(spark, str(p), schema, mode="PERMISSIVE").cache()
    bad = perm.filter("_corrupt_record IS NOT NULL").count()
    assert bad == len(lines) - 2
    perm.unpersist()

    with pytest.raises(Exception):
        read_jsonl(spark, str(p), schema, mode="FAILFAST").collect()


def test_b64_codec_long_payload_single_line(spark, tmp_path):
    """Regression: Spark's base64() MIME-chunks at 76 chars with CRLF —
    a long record must still land as ONE text line and round-trip (it
    used to split into two malformed lines and vanish on read)."""
    long_text = "word " * 100
    df = spark.createDataFrame([(1, long_text)], "id long, t string")
    path = str(tmp_path / "b64long")
    write_b64_text(df, path)
    lines = spark.read.text(path).collect()
    assert len(lines) == 1
    assert "\r" not in lines[0]["value"]
    back = read_b64_json(spark, path, "id long, t string").collect()
    assert len(back) == 1 and back[0]["t"] == long_text


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

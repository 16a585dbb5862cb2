"""Maintenance/export audit queries (plans/audits.py): the oracle-gated
wrappers that run the file-writing jobs and report invariants from the
written files."""

SF = "/root/testdata/sf0.001"


def test_zorder_audit_invariants_and_rerun_stability(spark):
    from adtech_log_data_pipeline_spark.plans.audits import q_zorder_audit

    a = q_zorder_audit(spark, SF).collect()[0]
    assert a["n_rows"] > 0
    assert a["files_ok"] and a["z_disjoint"]
    assert 0 <= a["min_z"] <= a["max_z"]
    # the output is fully data-determined: a second run (new scratch dir,
    # new range-sample) reports identical values
    b = q_zorder_audit(spark, SF).collect()[0]
    assert a == b


def test_range_sort_audit_invariants(spark):
    from adtech_log_data_pipeline_spark.plans.audits import q_range_sort_audit

    r = q_range_sort_audit(spark, SF).collect()[0]
    assert r["n_rows"] > 0
    assert r["files_ok"] and r["ranges_disjoint"]
    assert r["min_ship_ms"] <= r["max_ship_ms"]


def test_snapshot_diff_orders_statuses(spark):
    from adtech_log_data_pipeline_spark.plans.audits import (
        q_snapshot_diff_orders,
    )

    rows = q_snapshot_diff_orders(spark, SF).collect()
    by_status: dict[str, list[int]] = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r["o_orderkey"])
    assert set(by_status) <= {"added", "removed", "changed"}
    # the deterministic snapshot derivations pin each status's membership
    assert all(k % 1000 == 3 and k % 997 != 5 for k in by_status["added"])
    assert all(k % 997 == 5 and k % 1000 != 3 for k in by_status["removed"])
    assert all(
        k % 11 == 0 and k % 1000 != 3 and k % 997 != 5
        for k in by_status["changed"]
    )
    assert by_status["changed"]  # the %11 bump always hits at any SF


def test_tfexample_roundtrip_matches_source(spark):
    from adtech_log_data_pipeline_spark.plans.audits import (
        TFEX_SLOT,
        q_tfexample_roundtrip,
    )
    from adtech_log_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    got = q_tfexample_roundtrip(spark, SF).collect()[0]
    src = (
        load_table(spark, SF, "documents")
        .filter(F.col("doc_id") % 5 == TFEX_SLOT)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("sid"),
            F.sum(F.length("text")).alias("stl"),
        )
        .collect()[0]
    )
    assert got["n_docs"] == src["n"] > 0
    assert got["sum_doc_id"] == src["sid"]
    assert got["sum_text_len"] == src["stl"]


def test_shard_manifest_covers_all_splits(spark):
    from adtech_log_data_pipeline_spark.plans.audits import q_shard_manifest

    rows = {r["split"]: r for r in q_shard_manifest(spark, SF).collect()}
    assert set(rows) == {"train", "val", "test"}
    # 80/10/10 split buckets: train strictly dominates
    assert rows["train"]["n_docs"] > rows["val"]["n_docs"]
    assert rows["train"]["n_docs"] > rows["test"]["n_docs"]
    assert all(r["n_tokens"] > 0 for r in rows.values())


def test_audit_queries_leave_no_cached_rdds(spark):
    """The audit wrappers persist nothing and must leave the session's
    cache registry empty (bench.py asserts zero leaked RDDs at exit)."""
    from adtech_log_data_pipeline_spark.functions._cache import release_cached
    from adtech_log_data_pipeline_spark.plans.audits import MAINTENANCE_QUERIES

    for fn in MAINTENANCE_QUERIES.values():
        fn(spark, SF).collect()
        release_cached()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_csv_roundtrip_survives_adversarial_text(spark, tmp_path):
    """The CSV interchange settings (quoteAll + quote-doubled escapes +
    multiLine read) must round-trip text containing every CSV hazard:
    embedded quotes, commas, newlines, CRLF, leading/trailing spaces,
    empty strings, and unicode."""
    rows = [
        (1, 'plain'),
        (2, 'comma, inside'),
        (3, 'double " quote'),
        (4, 'line\nbreak'),
        (5, 'crlf\r\nbreak'),
        (6, '  padded  '),
        (7, ''),
        (8, 'uniçødé ☃'),
        (9, '"fully quoted"'),
        (10, 'quote", then "comma, and\nnewline'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "csv")
    (
        df.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        # the WRITER trims field whitespace by default (the reader does
        # not) — row 6 pins that both directions preserve padding
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(out)
    )
    back = {
        r["doc_id"]: r["text"]
        for r in spark.read.schema("doc_id long, text string")
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
        .collect()
    }
    expect = dict(rows)
    # Spark's CSV writer emits empty string as empty quoted field; the
    # reader with an explicit schema returns it as NULL — a documented
    # CSV ambiguity, normalized here
    expect[7] = None
    assert back == expect


def test_partition_prune_audit_invariants(spark):
    from adtech_log_data_pipeline_spark.plans.audits import (
        q_partition_prune_audit,
    )

    r = q_partition_prune_audit(spark, SF).collect()[0]
    assert r["n_rows_day"] > 0
    # the two-sided proof: PartitionFilters pushed AND the probed day's
    # hive directory is a strict file subset
    assert r["scan_pruned"] is True


def test_schema_drift_audit_nulls_only_on_the_added_column(spark):
    """The mergeSchema contract: rows written before o_orderpriority
    existed surface NULL for it (and ONLY for it); counts + checksums
    reconcile with the base table."""
    from adtech_log_data_pipeline_spark.plans.audits import q_schema_drift_audit
    from adtech_log_data_pipeline_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = {r["col"]: r for r in q_schema_drift_audit(spark, SF).collect()}
    orders = load_table(spark, SF, "orders")
    n = orders.count()
    n_even = orders.filter(F.col("o_orderkey") % 2 == 0).count()
    assert out["o_orderkey"]["n_nulls"] == 0
    assert out["o_totalprice"]["n_nulls"] == 0
    assert out["o_orderpriority"]["n_nulls"] == n_even
    assert out["o_orderpriority"]["n_present"] == n - n_even
    assert out["o_orderkey"]["n_present"] == n


def test_tfrecord_parity_check_keeps_one_scratch_copy(spark, tmp_path, monkeypatch):
    """Each call writes a TFRecord copy of the whole corpus to scratch;
    a second call for the same input replaces the first call's copy
    instead of keeping both until interpreter exit. Each returned frame
    stays readable until the next call."""
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path))
    q = QUERIES["tfrecord_parity_check"]
    n_a = q(spark, SF).count()
    n_b = q(spark, SF).count()
    assert n_a == n_b > 0
    left = [p.name for p in tmp_path.iterdir() if p.name.startswith("tfrecord_parity_")]
    assert len(left) == 1, left

"""sources/tables.py::load_table keeps the parquet schema Spark inferred
for a path, per session, and reuses it while the file is unchanged: a
repeat load starts no schema-inference job, and a rewritten file is
inferred again."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq

from adtech_log_data_pipeline_spark.sources.tables import load_table


def _jobs_started(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    group = f"load_table_probe_{time.monotonic_ns()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_of_unchanged_table_starts_no_job(spark, tmp_path):
    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["AFRICA", "AMERICA"]}),
        tmp_path / "region.parquet",
    )
    first = load_table(spark, str(tmp_path), "region")
    assert _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "region")) == 0
    again = load_table(spark, str(tmp_path), "region")
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_table_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1).write.parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == ["k", "v"]

    time.sleep(0.05)  # a distinct mtime_ns on coarse filesystems
    spark.createDataFrame([(1, "a", 2.5)], "k int, v string, w double").coalesce(
        1
    ).write.mode("overwrite").parquet(path)
    # drop Spark's own file-listing cache so the new files are visible
    spark.catalog.refreshByPath(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["k", "v", "w"]
    assert [tuple(r) for r in df.collect()] == [(1, "a", 2.5)]

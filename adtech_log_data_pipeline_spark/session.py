"""SparkSession factory.

Local mode is a single JVM with N threads; on a real cluster the same
configs hold except memory sizing. Everything here is scale-hygiene:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for
the pandas-UDF path, UTC so timestamps hash identically against the
DuckDB oracle, and shuffle partitions sized to cores locally (the 200
default over-parallelizes small data and under-parallelizes 100 TB —
at cluster scale AQE coalescing makes the initial number less critical).

The whole-stage-codegen class cache is sized to the engine's working set.
Spark compiles each generated Java source with Janino and keeps the
classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries
(default 100). One BidLogJob + PredictionJob run uses ~130 distinct
classes and one pass of the perfbench ``query_mix`` ~150-180, so at the
default every warm pass evicted the classes the next one needed and
recompiled them all (~130 compiles, 1.0-1.4 s of a ~7 s perfbench
``bidlog_pipeline`` op on 4 cores). 1000 entries leave headroom over
both. Class names carry no ``codegenStageId``
(``useIdInClassName=false``): AQE numbers stages differently from one
run to the next, so with ids in the names the same plan yields a new
source text and misses the cache. With both settings a warm op of
either workload compiles nothing. What the cache retains (classes and
their Metaspace) stays bounded by ``maxEntries``; ``extra_conf`` can
override either setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "adtech_log_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults follow $SPARK_GRAFT_CPUS when set, else local[*].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode = driver-only: give the single JVM real headroom so
        # long sessions (bench runs 28 queries back-to-back) don't degrade
        # into GC thrash; override with SPARK_DRIVER_MEM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

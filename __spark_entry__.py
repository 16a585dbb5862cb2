"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``adtech_log_data_pipeline_spark`` (operators per
SURVEY.md §2; declared queries in plans/queries.py; oracle SQL in
plans/oracles.py).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: validated bid logs ->
    nested per-device profile aggregation (SURVEY.md §2 A1), flattened."""
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES

    return QUERIES["device_profiles_flat"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Concurrency contract: entries may be interleaved freely within a
    session (build A, build B, consume both). A streaming result names
    its memory-sink view by process id and sequence number and drops
    the view before it returns, so the result stays consumable and no
    other query's hygiene pass can reach it."""
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents (same column aliases)."""
    from adtech_log_data_pipeline_spark.plans.oracles import ORACLES

    return dict(ORACLES)

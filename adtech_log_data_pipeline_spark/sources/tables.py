"""Parquet table readers for the driver's synthetic star schema.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under a
scale-factor directory. Parquet is the engine's at-rest format: columnar,
predicate-pushdown- and column-pruning-friendly (the reference reads
opaque gzip TFRecord bytes and can do neither — see SURVEY.md §2.1 S1).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: per session: table path -> (file signature, the schema Spark inferred)
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, StructType]]] = (
    weakref.WeakKeyDictionary()
)


def _file_signature(path: str) -> tuple:
    """Size and ``st_mtime_ns`` of the file, or of every file under the
    directory (with its relative name)."""
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((st.st_size, st.st_mtime_ns),)
    sig = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            fp = os.path.join(root, f)
            st = os.stat(fp)
            sig.append((os.path.relpath(fp, path), st.st_size, st.st_mtime_ns))
    return tuple(sig)


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema Spark infers for one synthetic table. Inferring a
    parquet schema costs one Spark job, so the session keeps it per path
    while the file signature (size + mtime of every file) is unchanged;
    a rewritten file is inferred again and replaces the entry."""
    if name == "events":
        try:
            # no-op on Spark 4.1+, needed on older versions for the bigint
            # path; runtime conf (not builder-only) because the caller may
            # hand us a vanilla SparkSession
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    path = os.path.join(sf_dir, f"{name}.parquet")
    # a missing or non-local path goes to the reader uncached
    sig = _file_signature(path) if os.path.exists(path) else None
    known = _SCHEMAS.setdefault(spark, {})
    if sig is None or known.get(path, (None,))[0] != sig:
        schema = spark.read.parquet(path).schema
        if sig is None:
            return schema
        known[path] = (sig, schema)
    return known[path][1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Plain parquet scan with the session's
    kept schema (``table_schema``) — Catalyst handles pushdown/pruning,
    and Spark still lists the files on every call.

    ``events.ts`` is TIMESTAMP(NANOS) in the parquet file. How Spark
    surfaces that varies by version: <= 4.0 needs
    ``spark.sql.legacy.parquet.nanosAsLong`` and yields a nanosecond
    bigint; 4.1+ ignores that conf and yields ``timestamp_ntz`` (nanos
    truncated to micros). Normalize both to session-TZ TimestampType
    (``timestamp_ltz``) at this one chokepoint — the session TZ is pinned
    UTC (session.py), so the NTZ->LTZ cast preserves the epoch value and
    ``unix_millis(ts)`` matches DuckDB's ``epoch_ms`` downstream.
    """
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Coerce the ``ts`` column to TimestampType (LTZ) whatever the reader
    produced: nanosecond bigint (old Spark + nanosAsLong), timestamp_ntz
    (Spark 4.1+), or already-LTZ timestamp (future-proof no-op)."""
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dtype is not None and dtype != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return df


_ROW_COUNTS: dict[str, int] = {}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from the parquet footer metadata — no Spark job, no
    scan (the footer stores num_rows per file). Memoized per path; used by
    plan builders whose closure shape depends on the corpus size (e.g. LSH
    bit width), where a ``df.count()`` would cost a full-table job per
    query build. Matches ``count(*)`` exactly, so oracle formulas that
    derive from the count stay in lockstep."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if path not in _ROW_COUNTS:
        import pyarrow.dataset as pads

        # count_rows() answers from footer metadata (no data read) for
        # plain parquet; handles single files and directories alike
        _ROW_COUNTS[path] = pads.dataset(path, format="parquet").count_rows()
    return _ROW_COUNTS[path]


def table_ts_max_ms(sf_dir: str, name: str, col: str = "ts") -> int:
    """Max of a timestamp column in epoch-ms, answered from parquet footer
    statistics — no Spark job. Used by bounded-replay streaming harnesses
    to place their end-of-input sentinel past every real event."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    files = (
        [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        if os.path.isdir(path)
        else [path]
    )
    best = None
    for fp in files:
        pf = pq.ParquetFile(fp)
        idx = pf.schema_arrow.get_field_index(col)
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            if st is not None and st.has_min_max:
                best = st.max if best is None else max(best, st.max)
    if best is None:
        raise ValueError(f"no {col} statistics in {path}")
    import calendar

    # integer arithmetic — float .timestamp() can be off by 1 at ms scale
    return calendar.timegm(best.timetuple()) * 1000 + best.microsecond // 1000


def register_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register the synthetic tables as temp views for SQL-side plans."""
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)

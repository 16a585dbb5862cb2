"""The benchmark's workloads: one closed-loop client each, on one
long-lived SparkSession per run.

Every workload has the same surface:

* ``prepare()`` writes the seed's inputs under the run's work directory;
* ``op_pass()`` returns one pass of the op mix as ``(name, fn)`` pairs,
  where ``fn()`` runs one op and returns the input units it processed;
* ``warm_up()`` runs the untimed pass that set-up ends with;
* ``check()`` compares the outputs with the DuckDB oracle and returns a
  list of problems (empty when correct);
* ``layers()`` materialises growing prefixes of the op's lazy chain to
  the noop sink and returns the per-layer self times (traced run only).

Ops record spans through ``self.tracer`` (``None`` when untraced). The
program sees only the generated inputs; everything here calls the
package's public functions.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import DataFrame

from adtech_log_data_pipeline_spark.jobs import run_bidlog_job
from adtech_log_data_pipeline_spark.jobs.prediction_job import run_prediction_job
from adtech_log_data_pipeline_spark.operators.app_profile import (
    app_profiles,
    assert_unique_device_ids,
)
from adtech_log_data_pipeline_spark.operators.device_profile import (
    device_profiles,
    flatten_device_profiles,
)
from adtech_log_data_pipeline_spark.operators.features import feature_inputs
from adtech_log_data_pipeline_spark.operators.inference import predict
from adtech_log_data_pipeline_spark.operators.suspicious import suspicious_ids
from adtech_log_data_pipeline_spark.operators.validate import valid_bid_logs
from adtech_log_data_pipeline_spark.plans.oracles import ORACLES
from adtech_log_data_pipeline_spark.plans.queries import QUERIES, QUERY_THRESHOLDS
from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs, load_iapp
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

from .inputs import query_set, write_events
from .trace import maybe_span

# Input sizes: a tenth of testdata sf0.1's 100k events at the same
# per-user activity (inputs.EVENTS_PER_USER). A benchmark round is
# 4 + 22 x 2 runs in under an hour; at this size an op is still mostly
# the engine's fixed per-job cost, and a cold op costs 2-3 warm ones.
PIPELINE_EVENTS = 10_000
QUERY_EVENTS = 10_000
SMOKE_DIVISOR = 10
SMOKE_QUERIES = 3


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


def oracle_problems(name: str, got, con) -> list[str]:
    """Row count, column names and canonical value hash of the pandas
    frame ``got`` against ``ORACLES[name]`` on DuckDB."""
    from tools.compare import value_hash

    want = con.execute(ORACLES[name]).fetchdf()
    if len(got) != len(want):
        return [f"{name}: rows {len(got)} vs oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    if value_hash(got) != value_hash(want):
        return [f"{name}: value hash differs from the oracle"]
    return []


def duck(events_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM"
        f" '{os.path.join(events_dir, 'events.parquet')}'"
    )
    return con


class Workload:
    name = ""
    n_events = 0

    def __init__(self, spark, work: str, seed: int, smoke: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.tracer = None
        self.input_dir = os.path.join(work, "input")
        if smoke:
            self.n_events //= SMOKE_DIVISOR

    def prepare(self) -> None:
        write_events(self.input_dir, self.seed, self.n_events)

    def warm_up(self) -> None:
        """One untimed pass of the op mix."""
        for _, op in self.op_pass():
            op()

    def span(self, name: str, harvest: bool = False):
        return maybe_span(self.tracer, name, harvest)

    def out(self, *parts: str) -> str:
        return os.path.join(self.work, "out", *parts)


class BidlogPipeline(Workload):
    """BidLogJob with parquet sinks, then PredictionJob on the re-read
    device profiles and suspicious sinks, with parquet + JSON sinks."""

    name = "bidlog_pipeline"
    n_events = PIPELINE_EVENTS

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.observed: list[dict] = []

    def op_pass(self):
        return [("pipeline", self._op)]

    def _op(self) -> int:
        spark, d = self.spark, self.input_dir
        with self.span("sources.bidlogs.load_bid_logs"):
            logs = load_bid_logs(spark, d)
        with self.span("jobs.bidlog_job", harvest=True):
            res = run_bidlog_job(
                spark, logs, output_dir=self.out("bidlog"), thresholds=QUERY_THRESHOLDS
            )
        self.observed.append(res.metrics)
        with self.span("jobs.prediction_job", harvest=True):
            run_prediction_job(
                spark,
                spark.read.parquet(self.out("bidlog", "device_profiles")),
                spark.read.parquet(self.out("bidlog", "suspicious")),
                load_iapp(spark, d),
                output_dir=self.out("prediction"),
            )
        return self.n_events

    def check(self) -> list[str]:
        spark, con = self.spark, duck(self.input_dir)
        read = lambda *p: spark.read.parquet(self.out(*p))
        problems = oracle_problems(
            "device_profiles_flat",
            flatten_device_profiles(read("bidlog", "device_profiles")).toPandas(),
            con,
        )
        problems += oracle_problems(
            "suspicious_ids", read("bidlog", "suspicious").toPandas(), con
        )
        problems += oracle_problems(
            "predictions", read("prediction", "predictions").toPandas(), con
        )
        n_valid = int(
            con.execute(
                f"SELECT sum(n_logs) FROM ({ORACLES['bidlog_validation']})"
            ).fetchone()[0]
        )
        want = {"n_input": self.n_events, "n_valid": n_valid}
        for i, m in enumerate(self.observed):
            got = {k: m.get(k) for k in want}
            if got != want:
                problems.append(f"op {i}: Observation counts {got} vs oracle {want}")
        return problems

    def layers(self) -> dict[str, float]:
        spark, d = self.spark, self.input_dir
        logs = load_bid_logs(spark, d)
        valid = valid_bid_logs(logs)
        dp = device_profiles(valid)
        aps = app_profiles(dp)
        susp = suspicious_ids(dp, aps, QUERY_THRESHOLDS)
        iapp = load_iapp(spark, d)
        dp_sink = spark.read.parquet(self.out("bidlog", "device_profiles"))
        susp_sink = spark.read.parquet(self.out("bidlog", "suspicious"))
        feats = feature_inputs(dp_sink, susp_sink, iapp)
        t = {
            "load": timed(lambda: noop(logs)),
            "valid": timed(lambda: noop(valid)),
            "dp": timed(lambda: noop(dp)),
            "aps": timed(lambda: noop(aps)),
            "susp": timed(lambda: noop(susp)),
            "iapp": timed(lambda: noop(iapp)),
            "feats": timed(lambda: noop(feats)),
            "preds": timed(lambda: noop(predict(feats))),
            "tripwire": timed(lambda: assert_unique_device_ids(dp_sink)),
        }
        tr = self.tracer
        bid_job = statistics.median(s.seconds for s in tr.named("jobs.bidlog_job"))
        pred_job = statistics.median(
            s.seconds for s in tr.named("jobs.prediction_job")
        )
        passes = statistics.median(
            s.counters["input_records"] / self.n_events
            for s in tr.named("jobs.bidlog_job")
        )
        return {
            "sources.bidlogs.load_s": t["load"],
            "operators.validate.self_s": t["valid"] - t["load"],
            "operators.device_profile.self_s": t["dp"] - t["valid"],
            "operators.app_profile.self_s": t["aps"] - t["dp"],
            "operators.suspicious.self_s": t["susp"] - t["aps"],
            "operators.features.self_s": t["feats"] - t["iapp"],
            "operators.inference.self_s": t["preds"] - t["feats"],
            "jobs.bidlog_job_s": bid_job,
            "jobs.prediction_job_s": pred_job,
            # each job's wall minus the noop materialisations of the
            # frames it writes (and of the prediction job's tripwire)
            "jobs.sink_s": (bid_job - t["dp"] - t["aps"] - t["susp"])
            + (pred_job - t["tripwire"] - t["preds"]),
            "jobs.input_passes": passes,
        }


def query_module(name: str) -> str:
    """The registry module that declares query ``name``."""
    from adtech_log_data_pipeline_spark.plans.audits import MAINTENANCE_QUERIES
    from adtech_log_data_pipeline_spark.plans.northstar import NORTHSTAR_QUERIES
    from adtech_log_data_pipeline_spark.plans.relational import RELATIONAL_SQL

    if name in RELATIONAL_SQL:
        return "relational"
    if name in NORTHSTAR_QUERIES:
        return "northstar"
    if name in MAINTENANCE_QUERIES:
        return "audits"
    return "parity"


class QueryMix(Workload):
    """Declared queries from the registry, each run to the noop sink."""

    name = "query_mix"
    n_events = QUERY_EVENTS

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.queries = query_set(self.seed, SMOKE_QUERIES if self.smoke else None)

    def op_pass(self):
        return [(n, lambda n=n: self._op(n)) for n in self.queries]

    def _op(self, name: str) -> int:
        if self.tracer is not None:
            from adtech_log_data_pipeline_spark.functions._hygiene import (
                trim_status_store,
            )

            # the trim the query's own hygiene wrapper makes first, taken
            # out here so that it gets a span of its own
            with self.span("functions._hygiene.trim_status_store"):
                trim_status_store(self.spark)
        with self.span("plans.build"):
            df = QUERIES[name](self.spark, self.input_dir)
        with self.span(f"plans.{query_module(name)}.action"):
            noop(df)
        return 1

    def check(self) -> list[str]:
        con = duck(self.input_dir)
        problems = []
        for name in self.queries:
            got = QUERIES[name](self.spark, self.input_dir).toPandas()
            problems += oracle_problems(name, got, con)
        return problems

    def layers(self) -> dict[str, float]:
        tr = self.tracer
        med = lambda spans: statistics.median(s.seconds for s in spans) if spans else 0.0
        out = {
            "plans.build_s": med(tr.named("plans.build")),
            "functions._hygiene.trim_s": med(
                tr.named("functions._hygiene.trim_status_store")
            ),
        }
        ops = tr.named("op")
        for module in ("relational", "northstar", "audits", "parity"):
            ids = {s.op for s in tr.named(f"plans.{module}.action")}
            out[f"plans.{module}.op_s"] = med([s for s in ops if s.op in ids])
        out.update(self._tfrecord_layers())
        return out

    def _tfrecord_layers(self) -> dict[str, float]:
        """The chain ``tfrecord_parity_check`` runs (bid logs -> wire
        protos -> gzip TFRecord shards -> decode -> validate -> device
        profiles), timed by prefixes over this run's events."""
        shards = self.out("shards")
        logs = load_bid_logs(self.spark, self.input_dir)
        encoded = encode_wire_proto(logs, BID_LOG, row_to_bidlog)
        t = {
            "load": timed(lambda: noop(logs)),
            "encode": timed(lambda: noop(encoded)),
            "write": timed(lambda: write_tfrecord_partitioned(encoded, shards)),
        }
        decoded = read_tfrecord_proto(
            self.spark,
            os.path.join(shards, "*.tfrecord.gz"),
            BID_LOG,
            BID_LOG_SQL_SCHEMA,
            bidlog_to_row,
        )
        valid = valid_bid_logs(decoded)
        t["read"] = timed(lambda: noop(decoded))
        t["valid"] = timed(lambda: noop(valid))
        t["dp"] = timed(lambda: noop(device_profiles(valid)))
        shard_bytes = sum(
            os.path.getsize(os.path.join(shards, f)) for f in os.listdir(shards)
        )
        return {
            "sources.bidlogs.load_s": t["load"],
            "sources.protowire.encode_s": t["encode"] - t["load"],
            "sources.tfrecord.write_s": t["write"] - t["encode"],
            "sources.tfrecord.read_decode_s": t["read"],
            "sources.tfrecord.shard_bytes_per_row": shard_bytes / self.n_events,
            "operators.validate.self_s": t["valid"] - t["read"],
            "operators.device_profile.self_s": t["dp"] - t["valid"],
        }


WORKLOADS = {w.name: w for w in (BidlogPipeline, QueryMix)}

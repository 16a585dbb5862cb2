"""Per-query profiler for the optimization rounds (guide §1).

For each named query: capture .explain("formatted") to a file, then time
N noop-sink executions (cache cleared between runs, same methodology as
bench.py::run_chunk) and report per-run seconds, the Spark job count
the execution spawned (scheduler-side cost signal local mode hides in
wall time), per run the time spent building the plan
(``QUERIES[name](...)``) and the jobs started before the action (0 when
building runs no Spark job), and per run the whole-stage-codegen
classes Janino compiled and the time that took (the codegen layer: a
warm run that hits Spark's class cache compiles 0). Jobs are labeled via
setJobDescription.

Usage:
    python tools/profile_query.py [--plans-dir plans/r13] [--suffix before]
        [--runs 2] [--no-time] [--sf-dir DIR] query [query ...]

Prints one JSON line per query:
    {"query": name, "runs": [sec, ...], "best": sec, "n_jobs_last_run": J,
     "build_s": [sec, ...], "n_jobs_build": [n, ...],
     "codegen_compiles": [n, ...], "codegen_compile_ms": [ms, ...],
     "plan_file": path}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans-dir", default=os.path.join(REPO, "plans", "r13"))
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from adtech_log_data_pipeline_spark.functions._cache import release_cached
    from adtech_log_data_pipeline_spark.functions._hygiene import trim_status_store
    from adtech_log_data_pipeline_spark.plans.queries import QUERIES
    from adtech_log_data_pipeline_spark.session import get_spark

    spark = get_spark("profile")
    sc = spark.sparkContext
    # warm like bench.py::run_chunk so numbers are comparable
    spark.read.parquet(os.path.join(args.sf_dir, "lineitem.parquet")).count()
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs

    load_bid_logs(spark, args.sf_dir).count()
    spark.range(0, 64, 1, 64).mapInPandas(lambda it: it, "id long").count()

    os.makedirs(args.plans_dir, exist_ok=True)

    def _drain() -> None:
        # the listener writes the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _n_jobs() -> int:
        # AppStatusStore job count — survives job-group-less submission
        # (statusTracker.getJobIdsForGroup only sees grouped jobs). The
        # inter-query hygiene trims this store, so only the within-query
        # delta is meaningful, and the baseline is read after a trim.
        try:
            _drain()
            return sc._jsc.sc().statusStore().jobsList(None).size()
        except Exception:
            return -1

    # JVM-wide codegen counters, read as deltas around each timed run:
    # classes compiled (CodegenMetrics) and total compile nanoseconds
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def _codegen() -> tuple[int, int]:
        return compiled.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime()

    for name in args.queries:
        if name not in QUERIES:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        out: dict = {"query": name}
        if not args.no_plan:
            import contextlib
            import io

            df = QUERIES[name](spark, args.sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
            pf = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(pf, "w", encoding="utf-8") as fh:
                fh.write(plan)
            out["plan_file"] = os.path.relpath(pf, REPO)
            release_cached()
            spark.catalog.clearCache()
        if not args.no_time:
            runs, builds, build_jobs, compiles, compile_ms = [], [], [], [], []
            jobs0 = jobs1 = 0
            for i in range(args.runs):
                sc.setJobDescription(f"profile:{name}:run{i}")
                # the trim the query's hygiene wrapper makes first, made
                # here before the baseline count: the wrapper's own trim
                # then finds nothing completed that jobs0 counted
                _drain()
                trim_status_store(spark)
                jobs0 = _n_jobs()
                n0, ns0 = _codegen()
                t0 = time.time()
                df = QUERIES[name](spark, args.sf_dir)
                t_build = time.time() - t0
                build_jobs.append(_n_jobs() - jobs0)
                t1 = time.time()
                df.write.format("noop").mode("overwrite").save()
                builds.append(round(t_build, 3))
                runs.append(round(t_build + time.time() - t1, 3))
                n1, ns1 = _codegen()
                compiles.append(n1 - n0)
                compile_ms.append(round((ns1 - ns0) / 1e6, 1))
                jobs1 = _n_jobs()
                release_cached()
                spark.catalog.clearCache()
                sc.setJobDescription(None)
            out["runs"] = runs
            out["best"] = min(runs)
            out["n_jobs_last_run"] = jobs1 - jobs0
            out["build_s"] = builds
            out["n_jobs_build"] = build_jobs
            out["codegen_compiles"] = compiles
            out["codegen_compile_ms"] = compile_ms
        print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()

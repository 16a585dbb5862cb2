"""The benchmark behind perfbench/run.py (see its docstring and NOTES.md):
set-up, the timed closed loop, the memory metrics, the traced run and the
output check."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the JVM heap: it fits the 15 GB host next to the Python workers and stays
# above plans/queries.py::_gc_small_heap's 4 GiB cut, so the declared
# queries make no forced GC of their own
HEAP = "5g"
WORKLOADS = ("bidlog_pipeline", "query_mix")
# every timed window has at least this many ops, so that one slow op
# (a late JIT or codegen compile) cannot set the median
MIN_OPS = 2
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    # read after the window in every run; per-layer because neither
    # repeats from run to run within an end-to-end bound (see NOTES.md)
    "peak_rss_mb": "MB",
    "retained_heap_mb": "MB",
    "sources.bidlogs.load_s": "s",
    "sources.protowire.encode_s": "s",
    "sources.tfrecord.write_s": "s",
    "sources.tfrecord.read_decode_s": "s",
    "sources._wirevec.decode_rows_per_s": "1/s",
    "sources.tfrecord.shard_bytes_per_row": "B",
    "operators.validate.self_s": "s",
    "operators.device_profile.self_s": "s",
    "operators.app_profile.self_s": "s",
    "operators.suspicious.self_s": "s",
    "operators.features.self_s": "s",
    "operators.inference.self_s": "s",
    "jobs.bidlog_job_s": "s",
    "jobs.prediction_job_s": "s",
    "jobs.sink_s": "s",
    "jobs.input_passes": "ratio",
    "plans.build_s": "s",
    "plans.relational.op_s": "s",
    "plans.northstar.op_s": "s",
    "plans.audits.op_s": "s",
    "plans.parity.op_s": "s",
    "functions._hygiene.trim_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if it has gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def run_window(workload, seconds: float, tracer=None):
    """Closed loop over whole passes of the op mix until ``seconds`` have
    passed and ``MIN_OPS`` ops have run. With a ``tracer``, passes
    alternate untraced and traced, starting untraced, and the window also
    waits for one traced pass. Returns (untraced latencies, traced
    latencies, attempted, failed, units, wall)."""
    lat: tuple[list, list] = ([], [])
    attempted = failed = units = passes = 0
    t0 = time.perf_counter()
    while True:
        traced = tracer is not None and passes % 2 == 1
        workload.tracer = tracer if traced else None
        for name, op in workload.op_pass():
            attempted += 1
            if traced:
                tracer.op += 1
            t = time.perf_counter()
            try:
                with tracer.span("op", harvest=True) if traced else nullcontext():
                    n = op()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            lat[traced].append(time.perf_counter() - t)
            print(
                f"perfbench: op {name} {lat[traced][-1]:.3f}s"
                + (" traced" if traced else ""),
                file=sys.stderr,
            )
            units += n
        passes += 1
        if (
            time.perf_counter() - t0 >= seconds
            and attempted >= MIN_OPS
            and (tracer is None or passes >= 2)
        ):
            workload.tracer = tracer
            return (*lat, attempted, failed, units, time.perf_counter() - t0)


def memory_mb(spark) -> tuple[float, float]:
    """(peak RSS of the JVM and its Python workers, JVM heap in use after
    two full GCs), in MB."""
    jvm = spark._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    retained = heap.getHeapMemoryUsage().getUsed() / (1 << 20)
    pid = jvm.java.lang.ProcessHandle.current().pid()
    return hwm_mb(pid) + sum(hwm_mb(p) for p in descendants(pid)), retained


def decode_rate(spark, input_dir: str) -> float:
    """Rows per second of ``_wirevec.decode_bidlog_rows`` called directly on
    a fixed set of payloads (the wire encoding of the seed's bid logs, at
    most 20k)."""
    from adtech_log_data_pipeline_spark.sources._wirevec import (
        decode_bidlog_rows,
        encode_bidlog_rows,
    )
    from adtech_log_data_pipeline_spark.sources.bidlogs import load_bid_logs

    payloads = encode_bidlog_rows(
        load_bid_logs(spark, input_dir).limit(20_000).toPandas()
    )
    rates = []
    t_end = time.perf_counter() + 1.0
    while time.perf_counter() < t_end or len(rates) < 3:
        t = time.perf_counter()
        decode_bidlog_rows(payloads)
        rates.append(len(payloads) / (time.perf_counter() - t))
    return statistics.median(rates)


def per_layer(workload, tracer, plain: list, traced: list) -> dict:
    out = {name: 0.0 for name in PER_LAYER}
    op_counters = [s.counters for s in tracer.named("op")]
    for name in op_counters[0]:
        if name in out:
            out[name] = statistics.median(c[name] for c in op_counters)
    out.update(workload.layers())
    out["sources._wirevec.decode_rows_per_s"] = decode_rate(
        workload.spark, workload.input_dir
    )
    out["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
    tracer.write(
        os.path.join(
            ROOT, ".perfbench_traces", f"{workload.name}-seed{workload.seed}.jsonl"
        )
    )
    return out


def start_spark(work: str):
    from adtech_log_data_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no JVM perf-data file in the host's /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
            f" -Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None, t_start: float) -> int:
    """Run one benchmark; ``t_start`` is the monotonic clock at process
    start, where ``setup_s`` begins."""
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    try:
        import adtech_log_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not in this checkout: {e}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        TMPDIR=tmp,
        SPARK_GRAFT_STREAM_SCRATCH=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_DRIVER_MEM=HEAP,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    steal0, total0 = cpu_times()
    spark = None
    try:
        spark = start_spark(work)
        t_session = time.monotonic() - t_start
        from .harvest import Harvester
        from .trace import Tracer
        from .workloads import WORKLOADS as CLASSES

        workload = CLASSES[args.workload](spark, work, args.seed, args.smoke)
        workload.prepare()
        t_inputs = time.monotonic() - t_start
        workload.warm_up()
        setup_s = time.monotonic() - t_start
        print(
            f"perfbench: set-up {setup_s:.1f}s (session {t_session:.1f}s,"
            f" inputs {t_inputs - t_session:.1f}s, warm-up {setup_s - t_inputs:.1f}s)",
            file=sys.stderr,
        )

        tracer = Tracer(Harvester(spark)) if args.trace else None
        lat, traced, attempted, failed, units, wall = run_window(
            workload, args.seconds, tracer
        )
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(lat),
                "throughput_per_s": units / wall,
            }
            units_of = END_TO_END
        else:
            peak_mb, retained_mb = memory_mb(spark)
            metrics = per_layer(workload, tracer, lat, traced)
            metrics["peak_rss_mb"] = peak_mb
            metrics["retained_heap_mb"] = retained_mb
            units_of = PER_LAYER
        problems = workload.check()
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = cpu_times()
    steal_pct = 100 * (steal1 - steal0) / max(1, total1 - total0)
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    print(
        f"# host: steal_pct={steal_pct:.2f} load1={load1:.2f} heap={HEAP}"
        f" cores={len(os.sched_getaffinity(0))} ops={attempted}"
        f" workload={args.workload} seed={args.seed}"
    )
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units_of[k]} for k in units_of},
    }
    print(json.dumps(result))
    return 0


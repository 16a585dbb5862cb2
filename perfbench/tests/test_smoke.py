"""Tests of the benchmark itself. Run from the root of a checkout:

    python -m pytest perfbench/tests -q

The smoke tests run every workload end to end at a tenth of its input
size (``--smoke``), untraced and traced, so each starts a SparkSession;
together they take a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.bench import END_TO_END, PER_LAYER, WORKLOADS  # noqa: E402
from perfbench.inputs import query_pool, query_set, write_events  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_benchmark_json_names_the_metrics_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER


def test_same_seed_same_events_and_other_seed_same_shape(tmp_path):
    a = pq.read_table(write_events(str(tmp_path / "a"), 7, 2000) + "/events.parquet")
    b = pq.read_table(write_events(str(tmp_path / "b"), 7, 2000) + "/events.parquet")
    c = pq.read_table(write_events(str(tmp_path / "c"), 8, 2000) + "/events.parquet")
    assert a.equals(b)
    assert not a.equals(c)
    assert a.schema == c.schema and a.num_rows == c.num_rows
    assert a.column("user_id").to_pandas().nunique() == pytest.approx(
        c.column("user_id").to_pandas().nunique(), rel=0.1
    )


def test_query_pool_comes_from_the_registry_and_reads_only_events():
    from adtech_log_data_pipeline_spark.plans.queries import _ORDER

    pool = query_pool()
    assert pool == [n for n in _ORDER if n in set(pool)]
    assert {"device_profiles_flat", "suspicious_ids", "feature_inputs"} <= set(pool)
    assert "pricing_summary" not in pool  # reads lineitem
    assert query_set(1) == query_set(1)
    assert sorted(query_set(1)) == sorted(query_set(2))
    assert len(query_set(1, 3)) == 3


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run_prints_every_metric_and_checks_out(workload, trace):
    proc = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
        "--trace", trace, "--smoke",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = PER_LAYER if trace == "1" else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(
        str(tmp_path), "--workload", "query_mix", "--seed", "1",
        "--seconds", "1", "--trace", "0",
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout

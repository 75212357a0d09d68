"""Tiny-input runs of every workload, untraced and traced, through the
command the benchmark is run with; plus the checks of the result format
and of BENCHMARK.json that need no Spark. The workload runs start Spark and take about a minute each."""
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.metrics import E2E, PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd, *args, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)


def test_benchmark_json_matches_the_runner():
    b = _bench()
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, "--workload", "hot", "--seed", "1", "--seconds",
             "1", "--trace", "0", timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_workload_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--scale", "0.05")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0, lines[-2]
    assert res["attempted"] > 0
    table = PER_LAYER if trace else E2E
    assert {k: v["unit"] for k, v in res["metrics"].items()} == table
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert abs(m["trace.layer_sum_pct"] - 100.0) <= 1.0
        assert m["serve.method_ms"] > 0 and m["build.encode_s"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())

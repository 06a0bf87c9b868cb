"""Tiny-scale end-to-end runs of every workload (a JVM start each, so
this module takes a few minutes rather than seconds), plus the
agreement of BENCHMARK.json with the metric list the runs print."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.metrics import END_TO_END, HIGHER, PER_LAYER
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_benchmark_json_matches_metric_lists():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["bound"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(PER_LAYER)
    assert {m["name"] for m in spec["per_layer"] if m["better"] == "higher"} == HIGHER
    assert {m["better"] for m in spec["end_to_end"]} == {"lower"}
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    trace = 1 if workload in ("lp_ingest", "sql_registry") else 0
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    names = [n for n, *_ in (PER_LAYER if trace else END_TO_END)]
    assert list(out["metrics"]) == names
    for m in out["metrics"].values():
        assert isinstance(m["value"], float)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())


def test_refuses_without_the_product(tmp_path):
    p = _run("lp_ingest", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""

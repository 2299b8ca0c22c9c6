"""Smoke test of the benchmark at toy size: every workload runs, traced and
untraced, passes its output checks and prints every metric BENCHMARK.json
names, with its unit.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import QUERY_IDS, WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)

# per-layer metrics that must be measured (non-zero) on each workload
APPLIES = {
    "tree_small": ["manifest.walk_s", "manifest.tasks", "plan.plan_s", "exec.stage_s", "exec.executed"],
    "tree_bulk": ["manifest.walk_s", "plan.plan_s", "plan.bin_imbalance", "exec.stage_s", "exec.straggler_ratio"],
    "tree_resync": ["manifest.walk_s", "plan.plan_s", "exec.skipped", "sync.sync_s", "sync.jobs", "cli.main_s", "cli.metrics_s"],
    "query_mix": [f"query.{q}.{m}" for q in QUERY_IDS for m in ("build_s", "exec_s", "jobs")],
}


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_benchmark_names_known_workloads():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_prints_every_metric(workload, trace):
    p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-4000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    values = {k: v["value"] for k, v in out["metrics"].items()}
    assert all(isinstance(v, (int, float)) for v in values.values())
    if trace:
        assert all(values[k] > 0 for k in APPLIES[workload]), {k: values[k] for k in APPLIES[workload]}
    else:
        assert all(v > 0 for v in values.values()), values


def test_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = run(str(tmp_path), "--workload", "tree_bulk", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""

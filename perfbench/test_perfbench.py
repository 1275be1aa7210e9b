"""Self-test of the benchmark: a one-pass smoke run of every workload at
sf0.001, untraced and traced, started from outside the repository.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
UNATTRIBUTED = ("query", "plans.plan", "exec.action")


def smoke(workload: str, trace: int, cwd: str) -> tuple[dict, list[str], str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace),
         "--sf", "0.001", "--passes", "1"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    record_path = next(ln.split(" ", 1)[1] for ln in lines if ln.startswith("record "))
    return json.loads(lines[-1]), lines, record_path


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke(workload: str, trace: int, tmp_path) -> None:
    result, lines, record_path = smoke(workload, trace, str(tmp_path))
    with open(record_path) as f:
        record = json.load(f)
    assert result["correct"], record["errors"]
    assert result["failed"] == 0 and record["failed_frac"] == 0
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in declared} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for m in declared:
        assert any(ln.startswith(f"{m['name']} ") and ln.split()[2] == m["unit"]
                   for ln in lines), m["name"]
    if trace:
        check_spans(record_path[: -len(".json")] + ".spans.jsonl")
        check_unattributed(record["executions"])


def check_spans(path: str) -> None:
    """Each execution's span self times plus its unattributed driver
    time add up to its wall time."""
    by_exec: dict[str, list[dict]] = defaultdict(list)
    with open(path) as f:
        for line in f:
            span = json.loads(line)
            by_exec[span["exec_id"]].append(span)
    assert by_exec
    for exec_id, spans in by_exec.items():
        root = next(s for s in spans if s["parent"] is None)
        wall = root["end"] - root["start"]
        attributed = sum(s["self_s"] for s in spans if s["name"] not in UNATTRIBUTED)
        unattributed = sum(s["self_s"] for s in spans if s["name"] in UNATTRIBUTED)
        assert attributed + unattributed == pytest.approx(wall, abs=1e-6), exec_id
        assert all(s["self_s"] >= -1e-6 for s in spans), exec_id


def check_unattributed(executions: list[dict]) -> None:
    """Each execution's unattributed driver time, from its span tree,
    against wall time minus build, Catalyst phases and the union of the
    action's jobs as read from the status store."""
    assert executions
    for rec in executions:
        direct = (rec["wall_s"] - rec["registry.build_s"] - rec["action_job_wall_s"]
                  - sum(rec[f"plans.{p}_s"] for p in ("analysis", "optimization", "planning")))
        assert rec["driver.unattributed_s"] == pytest.approx(direct, abs=0.005), rec["exec_id"]
        assert rec["min_self_s"] >= -1e-6, rec["exec_id"]

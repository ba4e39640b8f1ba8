"""Smoke test of the benchmark at tiny input sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs each workload untraced and traced, checks that every metric named in
BENCHMARK.json is printed with its unit, that the outputs pass their gates,
and that span self times add up to the root span.  Takes about four minutes
on a 4-core box (each run starts its own Spark JVM).
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_prints_every_metric(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
        return
    with open(os.path.join(ROOT, ".perfbench_work",
                           f"trace-{workload}-seed1.json")) as f:
        rec = json.load(f)
    self_total = sum(s.get("self_s", 0) for s in rec["spans"].values())
    assert abs(self_total - rec["root_s"]) <= 0.05 * rec["root_s"]
    assert rec["root_s"] <= rec["end_to_end"]["wall_s"] * 1.05


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "build", 0)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout

"""bench_profile.py end to end, as a subprocess on sf0.001: per-leaf times,
stage rows read from the event log, the scaled copy and plan dumps."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


def _profile(tmp_path, *args) -> dict:
    # TMPDIR keeps the scaled copy and the event log inside tmp_path
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF, SPARK_GRAFT_NO_WARMUP="1",
               SPARK_GRAFT_CPUS="2", TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench_profile.py"), *args],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_profile_reports_times_and_stages(tmp_path):
    out = _profile(tmp_path, "q5_nation_revenue")
    assert out["nproc"] >= 1 and "calib_s" in out
    leaf = out["leaves"]["q5_nation_revenue"]
    assert {"build_s", "run1_s", "run2_s"} <= set(leaf)
    rows = [r for group in leaf["stages"].values() for r in group]
    assert list(leaf["stages"]) == ["q5_nation_revenue"]
    assert rows and any(r["run_ms"] > 0 and r["tasks"] >= 1 for r in rows)
    assert all(r["off_cpu_ms"] == r["run_ms"] - r["cpu_ms"] for r in rows)


def test_profile_scales_input_and_dumps_plans(tmp_path):
    plans = tmp_path / "plans"
    out = _profile(tmp_path, "--scale", "2", "--plans", str(plans),
                   "q1_pricing_summary")
    scaled = out["sf_dir"]
    assert scaled.startswith(str(tmp_path / "sf_scaled_x2"))
    rows = pq.read_table(os.path.join(scaled, "lineitem.parquet"),
                         columns=["l_orderkey"]).num_rows
    src = pq.read_metadata(os.path.join(SF, "lineitem.parquet")).num_rows
    assert rows == 2 * src
    plan = (plans / "q1_pricing_summary.txt").read_text()
    assert "== Physical Plan ==" in plan
    assert out["leaves"]["q1_pricing_summary"]["stages"]

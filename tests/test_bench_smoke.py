"""Smoke test of bench.py: the whole harness at its smallest sizes, in a
subprocess, checking the output contract (one compact JSON line last, one
scaling protocol, the detail file beside it)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.01"


def _keys(obj) -> set[str]:
    if isinstance(obj, dict):
        return set(obj) | {k for v in obj.values() for k in _keys(v)}
    if isinstance(obj, list):
        return {k for v in obj for k in _keys(v)}
    return set()


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} missing")
def test_bench_runs_one_scaling_protocol(tmp_path):
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS")}
    env.update({
        # the Python workers start in the child's cwd: give them the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_SF_DIR": SF_DIR,
        "SPARK_GRAFT_BENCH_TURNS": "1000",
        "SPARK_GRAFT_BENCH_CATALOG": "0",
        "SPARK_GRAFT_BENCH_DEDUP": "0",
        "SPARK_GRAFT_BENCH_SCALING_ROUNDS": "1",
    })
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")], cwd=tmp_path,
        env=env, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]

    line = proc.stdout.strip().splitlines()[-1]
    assert len(line) < 1536
    compact = json.loads(line)
    scaling = compact["scaling"]
    assert 0 < scaling["efficiency_raw"] < 2
    assert {"nproc", "steal_pct", "busy_pct"} <= set(scaling["host_gauge"])
    assert "efficiency" not in scaling

    with open(tmp_path / compact["detail_file"]) as f:
        detail = json.load(f)
    keys = _keys(detail)
    assert not [k for k in keys
                if any(w in k for w in ("equalized", "ballast", "probe"))]
    assert "efficiency" not in keys and "efficiency_raw" in keys
    assert len(detail["scaling"]["runs_low_sec"]) == 1
    assert len(detail["scaling"]["runs_high_sec"]) == 2

"""bench.py's output contract: one compact JSON line on stdout plus the
BENCH_DETAIL.json sidecar, run end to end on two small queries."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from rivulus_spark.workload import DRIVER_SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.path.join(os.path.dirname(DRIVER_SF_DIR), "sf0.001")
CONTRACT_KEYS = {"metric", "value", "unit", "sf", "n_queries", "queries",
                 "detail"}


def test_bench_prints_contract_line_and_sidecar(tmp_path):
    # run a copy so the sidecar lands in tmp_path, not in the checkout;
    # its JVM runs beside the test session's, so keep its heap small
    shutil.copy(os.path.join(ROOT, "bench.py"), tmp_path / "bench.py")
    env = dict(os.environ,
               PYTHONPATH=ROOT,
               SPARK_GRAFT_SF_DIR=SF_DIR,
               RIVULUS_BENCH_REPS="1",
               RIVULUS_BENCH_QUERIES="select_project,agg_q1",
               RIVULUS_DRIVER_MEM="2g")
    out = subprocess.run([sys.executable, str(tmp_path / "bench.py")],
                         cwd=tmp_path, env=env, capture_output=True,
                         text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]

    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == CONTRACT_KEYS
    assert line["n_queries"] == 2
    assert line["sf"] == 0.001
    assert set(line["queries"]) == {"select_project", "agg_q1"}
    assert all(t >= 0 for t in line["queries"].values())

    with open(tmp_path / line["detail"]) as f:
        detail = json.load(f)
    assert set(detail["queries"]) == {"select_project", "agg_q1"}
    assert set(detail["spread"]) == {"select_project", "agg_q1"}
    assert all(t >= 0 for t in detail["queries"].values())

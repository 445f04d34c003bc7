#!/usr/bin/env python3
"""perfbench: a steady, oracle-checked benchmark of rivulus_spark.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 6 --trace 0

Workloads are the query mixes in perfbench/workloads.py, run at sf0.1
(the sibling ``sf0.1`` of ``rivulus_spark.workload.DRIVER_SF_DIR``, or
``$PERFBENCH_SF_DIR``). The seed permutes the query order of each pass.

This launcher fixes the environment and starts worker.py as one Spark
client process in its own process group:

- ``PYTHONPATH`` holds the repository root, so Python workers can
  import ``rivulus_spark``;
- ``SPARK_GRAFT_CPUS`` is the number of usable CPUs (``nproc``);
- ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the warehouse and ``java.io.tmpdir``
  point into a fresh ``.perfbench/run-<pid>`` directory, which is
  removed after the run, so a run removes exactly the temporary
  directories it created;
- the driver heap and shuffle partitions keep the library's defaults.

When the worker ends, every process left in its group is stopped and
waited for. The run's record and spans are kept in ``.perfbench/out``;
the last line printed is the result JSON, printed only on success.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 150  # plus up to 20 s to stop the tree: under 180 s
PR_SET_CHILD_SUBREAPER = 36

from probes import cal_probe, procs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _children() -> list[int]:
    me = os.getpid()
    return [pid for pid, (ppid, _, _) in procs().items() if ppid == me]


def _stop_all(pgid: int) -> None:
    """Stop the worker's process group and any orphan re-parented to
    this process, then reap them all."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            pass
        for pid in _children():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + grace
        while time.monotonic() < end:
            try:
                if os.waitpid(-1, os.WNOHANG) == (0, 0):
                    time.sleep(0.05)
            except ChildProcessError:
                return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("rivulus_spark/__init__.py", "tools/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2

    # orphans of the worker (the JVM, Python workers) re-parent here
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.makedirs(out_dir, exist_ok=True)
    tmp = os.path.join(run_dir, "tmp")
    # keep JVM temp files and perf-data files out of /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"

    env = {k: v for k, v in os.environ.items()
           if k not in ("RIVULUS_DRIVER_MEM", "RIVULUS_SHUFFLE_PARTITIONS")}
    env.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "RIVULUS_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "PYSPARK_SUBMIT_ARGS":
            f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        # the JVM spark-submit runs to build the driver command line
        "SPARK_LAUNCHER_OPTS": java_opts,
    })

    cal_s = cal_probe()
    t0 = time.time()
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", run_dir, "--t0", repr(t0), "--cal-s", repr(cal_s)]
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
    code, result = -1, None
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    finally:
        # also when this launcher is interrupted or terminated
        _stop_all(proc.pid)
        if code == 0:
            tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
            for name in ("record.json", "spans.json"):
                shutil.copy(os.path.join(run_dir, name),
                            os.path.join(out_dir, f"{tag}.{name}"))
            with open(os.path.join(run_dir, "result.json")) as f:
                result = json.load(f)
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker exited with {code}", file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

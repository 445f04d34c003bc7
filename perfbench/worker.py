"""One perfbench run: a single closed-loop client in one Spark process.

Started by run.py, which sets the environment (see there). The run is:

1. set-up: imports, ``get_spark()``, a first action, and one warm-up
   pass over the mix that collects every output to the driver;
2. the oracle check of those outputs against DuckDB (excluded from
   ``setup_s``);
3. the timed region: whole passes over the mix, each query run to a
   ``noop`` sink, until ``--seconds`` have passed and at least two
   passes ran. With ``--trace 1`` passes alternate untraced/traced in
   balanced pairs (U T T U ...) until the untraced ones add up to
   ``--seconds`` and number at least two;
4. leak accounting, then ``result.json``, ``record.json`` and
   ``spans.json`` in ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import tempfile
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from probes import Jvm, Spans, cpu_split, host_cpu, peak_rss_mb
from workloads import WORKLOADS

pc = time.perf_counter
PHASES = {"add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
          "latest_offset_ms": "latestOffset",
          "query_planning_ms": "queryPlanning",
          "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}


def _err(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:400]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    return statistics.fmean(xs) if xs else default


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event until ``take`` hands them
    over; events arrive on the listener bus, so ``Jvm.drain`` first."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        row = {"query": p.name, "batch": p.batchId,
               "input_rows": p.numInputRows,
               "durations_ms": dict(p.durationMs),
               "state_rows": sum(s.numRowsTotal for s in p.stateOperators)}
        with self._lock:
            self._events.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out


class Runner:
    def __init__(self, spark, jvm: Jvm, fns: dict, sf_dir: str):
        from rivulus_spark import cache

        self.spark, self.jvm, self.fns, self.sf_dir = spark, jvm, fns, sf_dir
        self.unpersist_all = cache.unpersist_all
        self.spans = Spans()
        self.progress = ProgressLog()
        self.run_span: int | None = None

    def warm_up(self, order: list[str]) -> dict[str, tuple | str]:
        """One pass that collects every output for the oracle check."""
        outputs: dict[str, tuple | str] = {}
        for name in order:
            try:
                df = self.fns[name](self.spark, self.sf_dir)
                outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failing query is reported, not fatal
                outputs[name] = _err(e)
            finally:
                self.unpersist_all()
        return outputs

    def plain_pass(self, order: list[str]) -> dict:
        execs = []
        p0 = pc()
        for name in order:
            row = {"query": name, "ok": False}
            a = pc()
            try:
                self.fns[name](self.spark, self.sf_dir) \
                    .write.format("noop").mode("overwrite").save()
                row["ok"] = True
            except Exception as e:  # counted in failed, the loop goes on
                row["error"] = _err(e)
            row["s"] = pc() - a
            self.unpersist_all()
            execs.append(row)
        return {"traced": False, "wall_s": pc() - p0, "execs": execs}

    def traced_pass(self, order: list[str]) -> dict:
        jvm = self.jvm
        self.spark.streams.addListener(self.progress)
        jvm.drain()
        self.progress.take()
        cpu0, jit0, gc0 = self.cpu(), jvm.jit_ms(), jvm.gc_ms()
        shuffle0 = jvm.shuffle_write_bytes()
        p0 = pc()
        span = self.spans.open("pass", self.run_span, p0)
        execs = [self._traced_query(name, span) for name in order]
        p1 = pc()
        self.spans.close(span, p1)
        jvm.drain()
        cpu1 = self.cpu()
        self.spark.streams.removeListener(self.progress)
        return {"traced": True, "wall_s": p1 - p0, "execs": execs,
                "cpu_s": {k: cpu1[k] - cpu0[k] for k in cpu0},
                "jit_ms": jvm.jit_ms() - jit0, "gc_ms": jvm.gc_ms() - gc0,
                "shuffle_write_mb":
                    (jvm.shuffle_write_bytes() - shuffle0) / 2**20}

    def _traced_query(self, name: str, parent: int) -> dict:
        jvm, spans = self.jvm, self.spans
        row = {"query": name, "ok": False, "build_s": 0.0, "plan_s": 0.0,
               "exec_s": 0.0}
        j0 = jvm.next_job_id()
        jvm.drain()
        x0 = jvm.next_execution_id()
        a = pc()
        span = spans.open("query", parent, a)
        try:
            df = self.fns[name](self.spark, self.sf_dir)
            b = pc()
            row["build_s"] = spans.add("build", span, a, b)
            j1 = jvm.next_job_id()
            row["build_jobs"] = j1 - j0
            c = pc()
            df._jdf.queryExecution().executedPlan()
            d = pc()
            row["plan_s"] = spans.add("plan", span, c, d)
            df.write.format("noop").mode("overwrite").save()
            e = pc()
            row["exec_s"] = spans.add("exec", span, d, e)
            row["exec_jobs"] = jvm.next_job_id() - j1
            row["ok"] = True
        except Exception as err:  # counted in failed, the loop goes on
            row["error"] = _err(err)
        row["s"] = row["build_s"] + row["exec_s"]
        jvm.drain()
        row["sql_executions"] = jvm.next_execution_id() - x0
        events = self.progress.take()
        row["batches"] = len(events)
        f = pc()
        row["persisted"] = self.unpersist_all()
        g = pc()
        row["unpersist_s"] = spans.add("unpersist", span, f, g)
        spans.close(span, g, ok=row["ok"], progress=events)
        row["events"] = events
        return row

    def cpu(self) -> dict[str, float]:
        return cpu_split(os.getpid(), self.jvm.pid)


def _tail(times: list[float]) -> float:
    """p75, linearly interpolated between order statistics: a run times
    8 to 26 executions, too few for a steady p90."""
    if len(times) < 2:
        return times[0] if times else 0.0
    return statistics.quantiles(times, n=4, method="inclusive")[-1]


def end_to_end(passes: list[dict], bad: set[str], setup_s: float) -> dict:
    execs = [e for p in passes for e in p["execs"]]
    good = [e for e in execs if e["ok"] and e["query"] not in bad]
    times = [e["s"] for e in execs if e["ok"]]
    per_pass = _mean([sum(e["ok"] and e["query"] not in bad
                          for e in p["execs"]) for p in passes])
    return {
        "setup_s": setup_s,
        "queries_per_s": per_pass / _median([p["wall_s"] for p in passes], 1),
        "query_s_p50": _median(times),
        "query_s_tail": _tail(times),
        "ok_frac": len(good) / max(1, len(execs)),
        "_samples": len(times),
        "_failed_frac": 1 - len(good) / max(1, len(execs)),
    }


def per_layer(traced: list[dict], plain: list[dict], names: list[str],
              run: dict) -> dict:
    tx = [e for p in traced for e in p["execs"]]
    events = [ev for e in tx for ev in e["events"]]

    def phase_per_pass(key):
        return _median([sum(ev["durations_ms"].get(key, 0)
                            for e in p["execs"] for ev in e["events"])
                        for p in traced])

    m = {
        "build.s_per_query": _mean([e["build_s"] for e in tx]),
        "build.jobs_per_query": _mean([e.get("build_jobs", 0) for e in tx]),
        "plan.s_per_query": _mean([e["plan_s"] for e in tx]),
        "exec.s_per_query": _mean([e["exec_s"] for e in tx]),
        "exec.jobs_per_query": _mean([e.get("exec_jobs", 0) for e in tx]),
        "exec.sql_executions_per_query":
            _mean([e["sql_executions"] for e in tx]),
        "exec.shuffle_write_mb_per_pass":
            _median([p["shuffle_write_mb"] for p in traced]),
        "cache.persisted_per_pass":
            _median([sum(e["persisted"] for e in p["execs"]) for p in traced]),
        "cache.unpersist_s":
            _median([sum(e["unpersist_s"] for e in p["execs"])
                     for p in traced]),
        "jvm.jit_ms_per_pass": _median([p["jit_ms"] for p in traced]),
        "jvm.gc_ms_per_pass": _median([p["gc_ms"] for p in traced]),
        "streaming.batches_per_pass":
            _median([sum(e["batches"] for e in p["execs"]) for p in traced]),
        "streaming.trigger_ms_p50":
            _median([ev["durations_ms"].get("triggerExecution", 0)
                     for ev in events]),
        "streaming.state_rows":
            _median([sum(e["events"][-1]["state_rows"]
                         for e in p["execs"] if e["events"])
                     for p in traced]),
    }
    for k in ("pyworker", "jvm", "driver"):
        m[f"cpu.{k}_s_per_pass"] = _median([p["cpu_s"][k] for p in traced])
    for metric, key in PHASES.items():
        m[f"streaming.{metric}"] = phase_per_pass(key)
    for name in names:
        m[f"query.{name}.s"] = _median(
            [e["s"] for p in plain for e in p["execs"]
             if e["query"] == name and e["ok"]])
    qps_plain = end_to_end(plain, set(), 0)["queries_per_s"]
    qps_traced = end_to_end(traced, set(), 0)["queries_per_s"]
    spanned = sum(e["build_s"] + e["plan_s"] + e["exec_s"] + e["unpersist_s"]
                  for e in tx)
    m.update({
        "trace.untraced_queries_per_s": qps_plain,
        "trace.overhead_frac": 1 - qps_traced / qps_plain,
        "trace.span_coverage": spanned / sum(p["wall_s"] for p in traced),
    })
    m.update(run)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True,
                    help="epoch time the launcher started this process")
    ap.add_argument("--cal-s", type=float, required=True)
    args = ap.parse_args()

    t_imp = time.time()
    from rivulus_spark import get_spark
    from rivulus_spark import workload as wl

    from check import check_outputs

    sf_dir = os.environ.get("PERFBENCH_SF_DIR") or os.path.join(
        os.path.dirname(wl.DRIVER_SF_DIR), "sf0.1")
    if not os.path.isdir(sf_dir):
        print(f"perfbench: no test data directory {sf_dir}", file=sys.stderr)
        return 2
    mix = WORKLOADS[args.workload]
    fns = {n: wl.QUERIES[n] for n in mix}
    nproc = len(os.sched_getaffinity(0))
    rng = random.Random(args.seed)

    def order() -> list[str]:
        return rng.sample(mix, len(mix))

    t_sess = time.time()
    spark = get_spark("perfbench")
    t_first = time.time()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    t_warm = time.time()
    jvm = Jvm(spark)
    runner = Runner(spark, jvm, fns, sf_dir)
    tables0 = len(spark.catalog.listTables())
    tmpdir = tempfile.gettempdir()

    outputs = runner.warm_up(order())
    t_check = time.time()
    problems = check_outputs(outputs, sf_dir, nproc)
    del outputs
    check_s = time.time() - t_check

    t_timed = time.time()
    setup_s = t_timed - args.t0 - check_s
    cpu0, host0, w0 = runner.cpu(), host_cpu(), pc()
    runner.run_span = runner.spans.open("run", None, w0)
    passes: list[dict] = []
    while True:
        if args.trace:
            # balanced pairs U T, T U, ... so JIT drift favours neither
            traced = (len(passes) % 4) in (1, 2)
            passes.append(runner.traced_pass(order()) if traced
                          else runner.plain_pass(order()))
            plain_s = sum(p["wall_s"] for p in passes if not p["traced"])
            if len(passes) % 4 == 0 and plain_s >= args.seconds:
                break
        else:
            passes.append(runner.plain_pass(order()))
            if len(passes) >= 2 and pc() - w0 >= args.seconds:
                break
    w1 = pc()
    runner.spans.close(runner.run_span, w1)
    host1, cpu1 = host_cpu(), runner.cpu()
    wall = w1 - w0
    own = sum(cpu1.values()) - sum(cpu0.values())
    host = {"host.cal_s": args.cal_s,
            "host.other_busy_cores": (host1[0] - host0[0] - own) / wall,
            "host.steal_cores": (host1[1] - host0[1]) / wall}
    leak = {"leak.tmp_dirs": sum(d.startswith("rivulus_")
                                 for d in os.listdir(tmpdir)),
            "leak.tables": len(spark.catalog.listTables()) - tables0}
    session = {"session.start_s": t_first - t_sess,
               "session.first_action_s": t_warm - t_first,
               "jvm.peak_rss_mb": peak_rss_mb(jvm.pid)}
    spark_conf = {k: spark.conf.get(k) for k in
                  ("spark.master", "spark.driver.memory",
                   "spark.sql.shuffle.partitions")}
    spark.stop()

    bad = set(problems)
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    e2e = end_to_end(plain, bad, setup_s)
    execs = [e for p in passes for e in p["execs"]]
    failed = sum(not e["ok"] or e["query"] in bad for e in execs)
    if args.trace:
        layers = per_layer(traced, plain, _all_queries(),
                           {**session, **leak, **host})
        metrics = _select(layers, "per_layer")
    else:
        layers = None
        metrics = _select(e2e, "end_to_end")

    result = {"correct": not problems and failed == 0,
              "attempted": len(execs), "failed": failed,
              "metrics": metrics}
    record = {
        "settings": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "sf_dir": sf_dir,
            "mix": list(mix), "nproc": nproc,
            "client": "one closed-loop client, noop sink",
            "env": {k: os.environ.get(k) for k in
                    ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS", "PYTHONPATH",
                     "TMPDIR", "RIVULUS_WAREHOUSE", "PYSPARK_SUBMIT_ARGS")},
            "spark": spark_conf, "python": sys.version.split()[0],
        },
        "times": {"import_s": t_sess - t_imp, "check_s": check_s,
                  "timed_region_s": wall, "passes": len(passes)},
        "oracle_mismatches": problems,
        "end_to_end": e2e, "per_layer": layers,
        "host": host, "leak": leak, "session": session,
        "passes": [{"traced": p["traced"], "wall_s": p["wall_s"],
                    "execs": [{k: e[k] for k in ("query", "ok", "s", "error")
                               if k in e} for e in p["execs"]]}
                   for p in passes],
    }
    with open(os.path.join(args.out, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    with open(os.path.join(args.out, "spans.json"), "w") as f:
        json.dump(runner.spans.rows, f)
    with open(os.path.join(args.out, "result.json"), "w") as f:
        json.dump(result, f)
    _report(args, e2e, layers, problems, record)
    return 0


def _benchmark_spec() -> dict:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _all_queries() -> list[str]:
    return [n for mix in WORKLOADS.values() for n in mix]


def _select(values: dict, kind: str) -> dict:
    """The metrics BENCHMARK.json lists under ``kind``, with units; a
    per-query metric of a query outside this workload's mix reads 0."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in _benchmark_spec()[kind]}


def _report(args, e2e: dict, layers: dict | None, problems: dict,
            record: dict) -> None:
    units = {m["name"]: m["unit"] for kind in ("end_to_end", "per_layer")
             for m in _benchmark_spec()[kind]}
    t = record["times"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{t['passes']} passes in {t['timed_region_s']:.2f} s, "
          f"{e2e['_samples']} timed executions, "
          f"failed_frac={e2e['_failed_frac']:.4f}")
    for name, value in e2e.items():
        if not name.startswith("_"):
            print(f"  {name:<34} {value:>12.4f} {units[name]}")
    for name, value in record["host"].items():
        print(f"  {name:<34} {value:>12.4f} {units[name]}")
    for name, value in (layers or {}).items():
        if name not in record["host"] and not (
                name.startswith("query.") and value == 0):
            print(f"  {name:<34} {value:>12.4f} {units.get(name, '')}")
    for name, diff in problems.items():
        print(f"  ORACLE MISMATCH {name}: " + " | ".join(diff))


if __name__ == "__main__":
    sys.exit(main())

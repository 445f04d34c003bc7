#!/usr/bin/env python
"""Benchmark: time every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE compact JSON line with the
keys metric, value (total seconds), unit, sf, n_queries, queries (the
15 slowest) and detail (the sidecar's file name). The sidecar,
BENCH_DETAIL.json next to this file, holds every query's time and its
min/max spread over the reps.

Protocol, per query: one warm run on the sibling sf0.001 directory, so
that compiling the query's generated code is not charged to its timed
runs; then the best of $RIVULUS_BENCH_REPS (default 3) runs at the
target scale. Every run writes to the noop sink: the whole plan
executes and nothing is collected to the driver. Intermediates that
operators persisted are released after each run. A query with no
completed run reads -1.0. $RIVULUS_BENCH_QUERIES (comma-separated
substrings) keeps only the queries whose names contain one of them.

Host contention, the CPU split and per-layer timings are measured by
perfbench/run.py; this script only times queries.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    reps = max(1, int(os.environ.get("RIVULUS_BENCH_REPS", "3")))
    only = [s.strip() for s in
            os.environ.get("RIVULUS_BENCH_QUERIES", "").split(",") if s.strip()]
    # swap only the final path segment; no warm run when the target
    # already is the sf0.001 data
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if (not os.path.isdir(warm_dir)
            or os.path.realpath(warm_dir) == os.path.realpath(sf_dir)):
        warm_dir = None

    from rivulus_spark import cache, get_spark
    from rivulus_spark.workload import QUERIES

    spark = get_spark("rivulus-bench")
    # one action so JVM start-up is not charged to the first query
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    for name, fn in QUERIES.items():
        if only and not any(s in name for s in only):
            continue
        if warm_dir is not None:
            try:
                _noop(fn(spark, warm_dir))
            except Exception:
                pass
            cache.unpersist_all()
        walls: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            try:
                _noop(fn(spark, sf_dir))
                walls.append(time.perf_counter() - t0)
            except Exception as e:
                print(f"bench: {name} rep FAILED: {e}", file=sys.stderr)
            cache.unpersist_all()
        timings[name] = round(min(walls), 3) if walls else -1.0
        spreads[name] = ([round(min(walls), 3), round(max(walls), 3)]
                         if walls else [])

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    head = {"metric": "workload_total_runtime", "value": total,
            "unit": "sec", "sf": sf, "n_queries": len(timings)}
    with open(os.path.join(HERE, "BENCH_DETAIL.json"), "w") as f:
        json.dump({**head, "queries": timings, "spread": spreads}, f,
                  indent=1, sort_keys=True)
    # the stdout line stays short (a 188-entry dict would not fit a
    # 2,000-character log tail): total plus the 15 slowest queries
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    print(json.dumps({**head, "value": round(total, 2),
                      "queries": {k: round(v, 2) for k, v in slowest},
                      "detail": "BENCH_DETAIL.json"},
                     separators=(",", ":")))
    # stop streams first: a live state-store maintenance thread races
    # spark.stop() and logs a spurious error
    for sq in spark.streams.active:
        try:
            sq.stop()
        except Exception:
            pass
    spark.stop()


if __name__ == "__main__":
    main()

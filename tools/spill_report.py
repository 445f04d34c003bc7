#!/usr/bin/env python
"""Per-query shuffle-spill report for the heaviest queries (VERDICT
r11 #7): run each query to completion with the noop sink (bench.py's
execution contract) and record memory/disk spill plus peak execution
memory from Spark's own stage metrics, so a spill regression is
visible from a committed artifact (SPILL_r12.json).

This is a dedicated tool rather than per-rep bench telemetry because
reading the stage metrics costs a REST/status-store crawl per query
(~0.5-1s of py4j/HTTP round trips) — dead time the timed bench loop
must not carry for 188 queries x N reps.

Metrics source: the app's own UI REST API (/api/v1/.../stages), the
documented public surface for StageData.memoryBytesSpilled /
diskBytesSpilled / peakExecutionMemory. The engine session normally
runs with the UI off (session.py); this tool builds on the same local
builder and engine configs (session.local_builder, session.configure)
with the UI turned on, so measured plans and checkpoint commits are
identical to bench's.

Usage:
  SPARK_GRAFT_SF_DIR=var/sf1 python tools/spill_report.py \
      --out SPILL_r12.json [--queries a,b,c]
Multiple runs with different --sf-dir append under distinct keys.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the heaviest non-streaming rows of the r11 driver bench (its
# top-15 minus stream_* whose cost is the micro-batch state store, not
# shuffle spill) — the set VERDICT r11 #7 asks to watch at sf1/sf10
DEFAULT_QUERIES = [
    "pipeline_curate", "pipeline_stats", "quality_classifier_filter",
    "containment_pairs", "bpe_encode_corpus", "dedup_incremental_cc",
    "split_repair_neardup", "dedup_clusters", "decontaminate_fuzzy",
    "dedup_star_clusters",
]


def rest_stages(port: int, app_id: str) -> list[dict]:
    url = (f"http://localhost:{port}/api/v1/applications/{app_id}"
           f"/stages?status=complete")
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_totals(stages: list[dict]) -> dict:
    return {
        "n_stages": len(stages),
        "memory_spilled_bytes": sum(s.get("memoryBytesSpilled", 0)
                                    for s in stages),
        "disk_spilled_bytes": sum(s.get("diskBytesSpilled", 0)
                                  for s in stages),
        "peak_execution_memory_max": max(
            (s.get("peakExecutionMemory", 0) for s in stages), default=0),
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0)
                                   for s in stages),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--out", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SPILL_r12.json"))
    ap.add_argument("--port", type=int, default=4050)
    args = ap.parse_args()

    from rivulus_spark import cache, session

    builder = (session.local_builder("rivulus-spill-report")
               .config("spark.ui.enabled", "true")
               .config("spark.ui.port", str(args.port))
               # keep every stage of the heaviest query resident so the
               # per-query delta is never broken by UI eviction
               .config("spark.ui.retainedStages", "20000"))
    spark = session.configure(builder).getOrCreate()
    app_id = spark.sparkContext.applicationId

    from rivulus_spark.workload import QUERIES

    names = [n for n in args.queries.split(",") if n]
    missing = [n for n in names if n not in QUERIES]
    assert not missing, f"unknown queries: {missing}"

    # JIT/first-use warm-up outside any measured delta
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    report: dict[str, dict] = {}
    # per-query attribution by NEW stage id (never delta-of-sums, so a
    # query's peak-memory max can't leak in from earlier queries)
    seen = {s["stageId"] for s in rest_stages(args.port, app_id)}
    for name in names:
        spark.sparkContext.setJobDescription(f"spill_report:{name}")
        t0 = time.perf_counter()
        QUERIES[name](spark, args.sf_dir).write.format("noop") \
            .mode("overwrite").save()
        wall = time.perf_counter() - t0
        cache.unpersist_all()
        stages = rest_stages(args.port, app_id)
        mine = [s for s in stages if s["stageId"] not in seen]
        seen.update(s["stageId"] for s in stages)
        report[name] = {"wall_sec": round(wall, 2), **stage_totals(mine)}
        print(name, json.dumps(report[name]), file=sys.stderr)

    out: dict = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            out = json.load(f)
    key = os.path.basename(os.path.normpath(args.sf_dir))
    out[key] = {"sf_dir": args.sf_dir,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
                "queries": report}
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({"written": args.out, "sf": key,
                      "n_queries": len(report)}))
    spark.stop()


if __name__ == "__main__":
    main()

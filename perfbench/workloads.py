"""Query mixes of the perfbench workloads.

Each name is a key of ``rivulus_spark.workload.QUERIES``; a pass runs
every query of the mix once, in an order drawn from the run's seed.
"""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # Reference-surface queries built through the LazyFrame facade:
    # fixed per-query driver overhead (build, planning, job launch)
    # dominates, operators do little.
    "relational": (
        "select_project", "filter_compound", "expr_arith", "limit_topk",
        "join_three", "agg_q1", "agg_q5", "window_rank",
        "left_join_missing", "distinct_op", "pivot_status", "semi_join",
        "union_op",
    ),
    # LLM-data curation, batch and streaming: MinHash LSH dedup
    # (cache.persist, shuffles, mapInPandas Python workers),
    # AvailableNow drains into a memory sink (windowed state) and a
    # file sink (quality and PII gates), and a sink round-trip through
    # sources/.
    "curation": (
        "dedup_minhash_lsh", "stream_events_hourly", "stream_curate_sink",
        "partitioned_sink_roundtrip",
    ),
}

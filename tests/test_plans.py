"""Physical-plan shape tests: the properties that make the workload
viable at 100 TB must be visible in the executed plan, not assumed —
filter/column pushdown into the parquet scan, broadcast dimension
joins, map-side partial aggregation, top-k instead of global sort, and
no Python stages in JVM-only operators."""

from __future__ import annotations

import pytest

from rivulus_spark.workload import QUERIES

SF = "/root/testdata/sf0.001"


def plan(spark, name: str) -> str:
    """The executed plan of a registered query at sf0.001. Whatever the
    query persisted is released afterwards: Spark's cache manager would
    otherwise substitute it into later plans over the same files."""
    from rivulus_spark import cache

    try:
        df = QUERIES[name](spark, SF)
        return df._jdf.queryExecution().executedPlan().toString()
    finally:
        cache.unpersist_all()


def test_filter_pushdown_reaches_scan(spark):
    p = plan(spark, "filter_compare")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in p


def test_column_pruning_reaches_scan(spark):
    # select_project touches 3 of customer's columns; the scan must not
    # read the rest (ReadSchema lists only what's projected)
    p = plan(spark, "select_project")
    readschema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "c_custkey" in readschema and "c_name" in readschema
    assert "c_acctbal" not in readschema and "c_address" not in readschema


def test_dimension_join_broadcasts(spark):
    assert "BroadcastHashJoin" in plan(spark, "join_inner")


def test_agg_has_mapside_partial(spark):
    # partial (map-side) then final aggregate around one exchange
    p = plan(spark, "agg_q1")
    assert p.count("HashAggregate") >= 2
    assert "partial" in p.lower() or p.count("HashAggregate") >= 2


def test_topk_avoids_global_sort(spark):
    assert "TakeOrderedAndProject" in plan(spark, "limit_topk")


@pytest.mark.parametrize("name", [
    "dedup_simhash", "dedup_exact", "text_quality", "knn_cosine",
    "multimodal_binary_stats", "quality_classifier_filter",
    "event_rate_anomalies", "corpus_datacard",
])
def test_jvm_only_operators_have_no_python_stage(spark, name):
    p = plan(spark, name)
    assert "EvalPython" not in p, f"{name} plan contains a Python stage"


def test_codegen_covers_core_query(spark):
    # executedPlan().toString() marks whole-stage-codegen spans "*(n)"
    assert plan(spark, "expr_arith").startswith("*(")


def test_range_join_is_equi_not_nested_loop(spark):
    # the banded rewrite must hash-join on (key, bucket) — a naive
    # inequality join would appear as BroadcastNestedLoopJoin
    p = plan(spark, "range_join_events")
    assert "NestedLoop" not in p
    assert "Join" in p


def test_ivf_broadcasts_centroids_and_probes(spark):
    p = plan(spark, "ann_ivf_topk")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_ivf_assignment_is_vectorized_map(spark):
    # the corpus->cell scoring pass must be the numpy mapInPandas sweep,
    # not a broadcast join with interpreted per-pair folds (VERDICT r1 #4)
    p = plan(spark, "ann_ivf_topk")
    assert "MapInPandas" in p


def test_blocked_cosine_never_broadcasts_packed_corpus(spark):
    # pair-id equi-join: no BroadcastExchange (the r1 BNLJ broadcast
    # every packed corpus vector to every executor), no nested loop,
    # matmul stage pre-partitioned by the shuffle-hash join
    p = plan(spark, "embedding_neardup")
    assert "BroadcastExchange" not in p
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert "ShuffledHashJoin" in p
    assert "MapInPandas" in p


def test_simhash_pairs_banded_is_equi_join(spark):
    p = plan(spark, "dedup_simhash_pairs")
    assert "NestedLoop" not in p and "CartesianProduct" not in p


def test_sql_entry_pushes_all_predicates(spark):
    p = plan(spark, "sql_entry_q6")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed


def test_heavy_hitters_uses_topk_merge(spark):
    assert "TakeOrderedAndProject" in plan(spark, "heavy_hitters")


def test_decontaminate_is_hashed_equi_join(spark):
    # shingle-hash equi-join: no nested loop / cartesian fan-out, and
    # the join key is the 60-bit hash, so no text crosses the shuffle
    p = plan(spark, "decontaminate")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "EvalPython" not in p


def test_decontaminate_bloom_probe_is_mapside_arrow(spark):
    # the Bloom probe must be an Arrow MapInPandas stage on the train
    # side (vectorized bit gather, no per-row Python), feeding a hashed
    # equi-join — never a cartesian/nested-loop, never row-at-a-time
    p = plan(spark, "decontaminate_bloom")
    assert "MapInPandas" in p
    assert "EvalPython" not in p  # no row-at-a-time Python UDF stage
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_bpe_encode_joins_folded_vocab_broadcast_jvm_only(spark):
    # the merge folds run over the distinct-word table, which then
    # broadcasts into the token-stream join — no Python anywhere
    p = plan(spark, "bpe_encode_corpus")
    assert "BroadcastHashJoin" in p
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p


def test_pca_moments_are_arrow_map_no_cartesian(spark):
    # the spectrum query collects the moment vector eagerly (its
    # final plan is a LocalTableScan), so assert on the pre-collect
    # moment stage: one MapInPandas pass + slot-keyed partial agg
    from rivulus_spark.operators import pca

    df = spark.read.parquet(SF + "/embeddings.parquet")
    p = (pca.moment_frame(df)._jdf.queryExecution().executedPlan()
         .toString())
    assert "MapInPandas" in p
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2  # partial + final slot sums


def test_repeated_spans_no_cartesian_single_gram_pass(spark):
    # r8 shape: grams come from ONE Arrow map-side pass (exactly one
    # MapInPandas stage — a second one would mean the unpersisted
    # stream is evaluated twice, the bug the window-mark rewrite
    # removed); repeat marking is the (h)-keyed window, islands are
    # doc-partitioned (blanket audit covers unpartitioned windows)
    p = plan(spark, "repeated_span_dedup")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "EvalPython" not in p
    assert p.count("MapInPandas") == 1, p.count("MapInPandas")


def test_source_similarity_is_hash_equi_join(spark):
    # the intersection self-join must be a hash equi-join on the
    # shingle hash (fan-out bounded by groups^2), all JVM
    p = plan(spark, "source_similarity_matrix")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "EvalPython" not in p and "MapInPandas" not in p


def test_sequence_packing_single_stream_shuffle(spark):
    # one hash exchange keys the per-stream running sum; no Python,
    # no nested loop, no global single-partition window
    p = plan(spark, "sequence_packing")
    assert "EvalPython" not in p and "CartesianProduct" not in p
    assert "Window" in p


def test_embedding_quantize_is_scan_only_projection(spark):
    # closed-form error: a parquet scan + projection — zero joins, zero
    # Python, and the only allowed exchange is partitioning.spread's
    # round-robin guard against under-split inputs (no hash/range
    # shuffle: nothing aggregates or joins)
    p = plan(spark, "embedding_quantize")
    for line in p.splitlines():
        if "Exchange" in line:
            assert "RoundRobinPartitioning" in line, line
    assert "Join" not in p and "EvalPython" not in p


def test_tfidf_terms_group_limit_no_text_shuffle(spark):
    p = plan(spark, "tfidf_terms")
    assert "EvalPython" not in p and "CartesianProduct" not in p


def test_partitioned_read_prunes_directories(spark):
    # the read side of the partitioned sink must prune lang=*/ dirs at
    # planning time (PartitionFilters), not filter rows post-scan; the
    # build's one job is the sink write, since the directory is read
    # back by its known schema, not by a schema-inference job
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs_before = dag.numTotalJobs()
    df = QUERIES["partitioned_sink_roundtrip"](spark, SF)
    assert dag.numTotalJobs() - jobs_before == 1
    p = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf and "lang" in pf[0]


def test_clean_operators_are_codegen_projections(spark):
    # PII scrub / gopher rules are regex projections: no shuffle, no
    # Python stage, whole plan is scan + project
    for name in ("pii_scrub", "gopher_quality"):
        p = plan(spark, name)
        assert "EvalPython" not in p, name
        assert "Exchange" not in p, name


def test_encode_docs_broadcasts_vocab(spark):
    # the vocab side must broadcast (bounded by max_size); the corpus
    # must never reach a sort-merge or nested-loop join
    p = plan(spark, "encode_docs")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "NestedLoop" not in p


def test_charlm_model_joins_broadcast(spark):
    # the alphabet²-bounded model must broadcast into the scoring join
    p = plan(spark, "charlm_quality")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "EvalPython" not in p


def test_window_ntile_has_no_unpartitioned_data_window(spark):
    # operators/rank.py is scale-adaptive. At toy file sizes it takes
    # the single-window path — permitted ONLY because the measured
    # input is below the small-input threshold (the policy the
    # operator gates on; asserted here). Forcing the distributed
    # strategy (small_input_bytes=0) must produce the two-pass plan
    # where every data window is partitioned by the range bucket (the
    # r2 scale flag).
    import os

    p = plan(spark, "window_ntile")
    win_lines = [l for l in p.splitlines() if "Window [" in l]
    assert win_lines, "expected a ranking window"
    if any("_rk_bucket" not in l for l in win_lines):
        # single-window strategy chosen: only legitimate under the
        # size gate
        assert os.path.getsize(f"{SF}/orders.parquet") <= 64 << 20

    from pyspark.sql import functions as F

    from rivulus_spark.operators import rank

    df = (spark.read.parquet(f"{SF}/orders.parquet")
          .select("o_totalprice", "o_orderkey"))
    big = rank.add_ntile_percent_rank(
        df, ["o_totalprice", "o_orderkey"], n=4, small_input_bytes=0)
    pb = big._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in pb.splitlines() if "Window [" in l]
    assert win_lines, "expected a within-bucket ranking window"
    for l in win_lines:
        assert "_rk_bucket" in l, f"unpartitioned window: {l}"
    # and the forced-distributed strategy stays exact
    got = {r.o_orderkey: (r.tile, r.pr) for r in big.collect()}
    from pyspark.sql import Window as W
    w = W.orderBy("o_totalprice", "o_orderkey")
    want = {r.o_orderkey: (r.tile, r.pr) for r in df.select(
        "o_orderkey", F.ntile(4).over(w).cast("long").alias("tile"),
        F.percent_rank().over(w).alias("pr")).collect()}
    assert got == want


@pytest.mark.parametrize("name", [
    # the bench heavy tail: every banded/bucketed candidate path must
    # stay an equi-join — a regression to all-pairs shows up as a
    # nested-loop or cartesian stage (VERDICT r2 next-round #6);
    # covers every batch query that took >2s at sf0.1
    "dedup_minhash_lsh", "dedup_minhash_estimate", "dedup_incremental",
    "embedding_neardup_lsh", "decontaminate_fuzzy",
    "pipeline_curate", "pipeline_curate_v2", "pipeline_stats",
    "dedup_survivors", "dedup_clusters", "cross_doc_line_dedup",
    "semantic_dedup", "semantic_dedup_2level",
    "neardup_rate_by_source", "split_leakage_neardup",
])
def test_heavy_tail_banded_paths_are_equi_joins(spark, name):
    p = plan(spark, name)
    assert "CartesianProduct" not in p, name
    assert "NestedLoop" not in p, name
    assert "EvalPython" not in p, name


@pytest.mark.parametrize("name", [
    "embedding_neardup_lsh", "embedding_neardup_clusters",
])
def test_lsh_band_stage_never_falls_back_to_interpreted(spark, name):
    """VERDICT r8 #1: the historical unrolled band expressions blew
    Janino's 64 KB method cap at 16 planes x 64 dims and SILENTLY ran
    interpreted. spark.sql.codegen.fallback=false turns that silent
    fallback into a hard failure, so executing the real query under it
    proves every generated stage in the plan actually compiles."""
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = QUERIES[name](spark, SF).collect()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert rows is not None


def _scope_names(cluster) -> list[str]:
    names = [cluster.name()]
    children = cluster.childClusters()
    for i in range(children.size()):
        names += _scope_names(children.apply(i))
    return names


def _stages_run(spark, df) -> list[int]:
    """Run ``df`` to a ``noop`` sink, release what it persisted and
    return the ids of the stages that ran tasks. Skipped stages (reused
    shuffles) ran none, and the status store may already have dropped
    stages that never ran."""
    from rivulus_spark import cache

    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().nextStageId()
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        cache.unpersist_all()
    sc.listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    return [sid for sid in range(first, sc.dagScheduler().nextStageId())
            if (info := tracker.getStageInfo(sid)) is not None
            and info.numCompletedTasks > 0]


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh", "decontaminate_fuzzy", "pipeline_curate",
    "pipeline_stats", "neardup_rate_by_source", "split_leakage_neardup",
])
def test_minhash_signature_pass_runs_in_one_stage(spark, name):
    """Every query through ``dedup.minhash_lsh_dedup`` computes its
    MinHash signatures (the Arrow ``mapInPandas`` pass) in exactly one
    stage that runs tasks: the band self-join's two sides share one
    reused shuffle of the band rows. A broadcast side would be a second
    exchange over a second signature pass, two such stages.

    Counted from the stages' RDD operation graphs, so a stage that reads
    a cache built over a Python lineage also holds a ``MapInPandas``
    scope without running Python. That is why
    ``dedup_minhash_estimate``, ``dedup_incremental`` and
    ``image_phash_neardup`` (which persist their Python output and read
    it in several stages) are not listed."""
    sc = spark.sparkContext._jsc.sc()
    ran = _stages_run(spark, QUERIES[name](spark, SF))
    python_stages = [
        sid for sid in ran
        if any("MapInPandas" in n for n in _scope_names(
            sc.statusStore().operationGraphForStage(sid).rootCluster()))]
    assert len(python_stages) == 1, python_stages


def test_minhash_verification_runs_in_few_stages(spark):
    """``dedup_minhash_lsh`` verifies its candidates with one join of
    (doc, pair) rows and one per-pair aggregate, so the whole query runs
    in at most 8 stages that run tasks, and building it persists
    nothing."""
    from rivulus_spark import cache

    before = list(cache._PERSISTED)
    df = QUERIES["dedup_minhash_lsh"](spark, SF)
    persisted = list(cache._PERSISTED)
    ran = _stages_run(spark, df)
    assert persisted == before
    assert len(ran) <= 8, ran


def test_kmeans_assignment_is_vectorized_map(spark):
    # Lloyd's assignment + partial-sum passes are Arrow mapInPandas
    # sweeps; nothing may fall back to a join of corpus × centroids
    p = plan(spark, "kmeans_cluster_sizes")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


def test_kmeans_assign_sizes_no_cartesian(spark):
    p = plan(spark, "kmeans_assign_sizes")
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "NestedLoop" not in p


@pytest.mark.parametrize("name,k", [
    ("heavy_hitters", 20), ("ngram_topk", 20), ("vocab_topk", 100),
])
def test_topk_rank_windows_are_group_limited(spark, name, k):
    # rank-then-filter top-k over corpus-cardinality count tables: the
    # optimizer (InferWindowGroupLimit) must insert a
    # TakeOrderedAndProject(limit=k) BELOW the rank window, so the one
    # unpartitioned window ranks <= k pre-limited rows — per-partition
    # heaps + one k-row merge, never the distinct-key table through a
    # single partition
    p = plan(spark, name)
    assert f"TakeOrderedAndProject(limit={k}" in p, p


def test_dsir_select_broadcasts_lam_and_is_group_limited(spark):
    # the 512-row log-ratio table must ride a broadcast join onto the
    # gram stream (never a shuffle of the stream by bucket), and the
    # rank window must be group-limited to k pre-limited rows
    p = plan(spark, "dsir_select")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject(limit=50" in p
    assert "EvalPython" not in p
    # the only nested-loop joins allowed are the 1-row totals riding
    # in as broadcast crossJoins (the pmi_collocations idiom)
    assert "CartesianProduct" not in p
    for line in p.splitlines():
        if "NestedLoop" in line:
            assert "BroadcastNestedLoopJoin" in line and "Cross" in line


@pytest.mark.parametrize("name", [
    "split_leakage_audit", "split_leakage_neardup",
    "tokenizer_fertility",
])
def test_r8_second_wave_debuts_are_jvm_only(spark, name):
    p = plan(spark, name)
    assert "EvalPython" not in p, name
    assert "CartesianProduct" not in p and "NestedLoop" not in p, name


def test_bm25_inverted_index_shape(spark):
    """BM25 scoring must be the inverted-index equi-join: query terms
    broadcast into the posting join, no corpus x query cartesian, no
    Python stage, and the final top-k group-limited."""
    p = plan(spark, "bm25_topk")
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert "BroadcastHashJoin" in p
    # the 1-row corpus-stats crossJoin is the only nested-loop allowed
    nl = [l for l in p.splitlines() if "NestedLoop" in l]
    assert all("Cross" in l for l in nl) and len(nl) <= 1
    assert "WindowGroupLimit" in p or "RunningWindowFunction" in p or \
        "row_number" in p


def test_char_entropy_is_jvm_only_partial_agg(spark):
    """The char explode must partial-aggregate map-side into
    alphabet-bounded (doc, char) counts — no Python stage, no window,
    no cartesian."""
    p = plan(spark, "char_entropy_quality")
    assert "EvalPython" not in p and "MapInPandas" not in p
    assert "CartesianProduct" not in p and "Window" not in p
    assert "partial_count" in p or "HashAggregate" in p


def test_orc_roundtrip_pushes_filter_into_scan(spark):
    # the ORC read-back must get the same pushdown treatment as parquet
    p = plan(spark, "orc_sink_roundtrip")
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "n_chars" in pushed[0]


def test_bucketed_join_shuffles_only_the_final_agg(spark):
    # both sides bucketed on the join key with equal counts: the
    # sort-merge join must read co-located buckets with NO exchange on
    # either input; the single remaining exchange belongs to the
    # group-by after the join
    p = plan(spark, "bucketed_join_agg")
    assert "SortMergeJoin" in p
    n_exchanges = sum(1 for l in p.splitlines()
                      if "Exchange" in l and "Reuse" not in l)
    assert n_exchanges == 1, p


def test_incremental_index_bucketed_scan_is_exchange_free(spark):
    """The dedup_incremental 100 TB claim, asserted in the plan: a
    band index written BUCKETED on bh (bucket count matching the join
    parallelism — the count is chosen at write time for the table's
    target scale) feeds the delta candidate join through its bucket
    layout: the index side has NO exchange, the single bh shuffle is
    the (delta-sized) new batch's. Output of the full operator must
    equal the in-query index path."""
    from rivulus_spark.operators import dedup
    from rivulus_spark.sources import bucketed

    corpus = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "an entirely unrelated corpus document about engines"),
        (2, "some more corpus text that stands alone fine"),
    ], "doc_id long, text string")
    delta = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy cat"),
        (11, "fresh never before seen ingest document text"),
    ], "doc_id long, text string")
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucketed.write_bucketed(dedup.minhash_band_index(corpus),
                            "t_inc_band_idx", ["bh"], n_buckets)
    idx = spark.table("t_inc_band_idx")
    # the candidate join subplan, in isolation (the full operator plan
    # string duplicates persisted subtrees, making exchange counts
    # meaningless there)
    from pyspark.sql import functions as F

    nb = dedup.band_hash_rows(dedup.minhash_signatures_arrow(delta))
    cross = (nb.alias("n")
             .join(idx.alias("o"), F.col("n.bh") == F.col("o.bh"))
             .select(F.col("n.id").alias("doc_new"),
                     F.col("o.id").alias("doc_match"))
             .distinct())
    # a toy-sized index broadcasts (also exchange-free, and what AQE
    # picks here); the bucket layout is the at-scale path — force the
    # shuffle-join planner to observe it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        p = cross._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in p, p
    bh_exchanges = [ln for ln in p.splitlines()
                    if "Exchange hashpartitioning(bh" in ln]
    assert len(bh_exchanges) == 1, p  # delta side only
    got = {(r.doc_new, r.doc_match, r.jacc, r.match_in)
           for r in dedup.minhash_lsh_dedup_incremental(
               delta, corpus, index=idx, threshold=0.5).collect()}
    want = {(r.doc_new, r.doc_match, r.jacc, r.match_in)
            for r in dedup.minhash_lsh_dedup_incremental(
                delta, corpus, threshold=0.5).collect()}
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# Blanket bounded-window audit (VERDICT r3 #7): every unpartitioned
# WindowExec in EVERY workload query's plan must be justified — either
# it ranks rows already limited by a TakeOrderedAndProject below it
# (the group-limit rewrite), or it runs over a k-row stratum aggregate
# (bounded key cardinality), or the operator chose it deliberately
# under its measured small-input gate. Any new query that sneaks a
# global window over corpus-sized data fails this audit.
# ---------------------------------------------------------------------------

def _bracket_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, ""
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = ""
            else:
                cur += ch
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(cur)
            else:
                cur += ch
        elif depth > 0:
            cur += ch
    return groups


def _content_start(line: str) -> int:
    i = 0
    while i < len(line) and line[i] in " :+-":
        i += 1
    return i


def _unpartitioned_windows(plan: str) -> list[tuple[int, str]]:
    """(line_index, line) of every Window node with no partition spec."""
    import re

    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        g = _bracket_groups(m.group(1))
        if len(g) >= 3:
            unpart = not g[1].strip()
        elif len(g) == 2:
            # second group is either an order spec (ASC/DESC) ->
            # unpartitioned, or a partition spec -> partitioned
            unpart = (not g[1].strip()
                      or " ASC" in g[1] or " DESC" in g[1])
        else:
            unpart = True
        if unpart:
            out.append((i, line))
    return out


def _subtree(plan: str, idx: int) -> str:
    lines = plan.splitlines()
    start = _content_start(lines[idx])
    sub = []
    for line in lines[idx + 1:]:
        if _content_start(line) <= start and line.strip():
            break
        sub.append(line)
    return "\n".join(sub)


# why each known unpartitioned window is bounded:
#   topk      — TakeOrderedAndProject(limit=k) feeds the rank window
#   krow:<col> — the window runs over a groupBy(<col>) aggregate whose
#               key cardinality is bounded (stratum table)
#   size_gated — operators/rank.py chose the single-window path only
#               because the measured input is under its 64 MB gate
_WINDOW_JUSTIFICATION = {
    "ngram_topk": "topk",
    "pmi_collocations": "topk",
    "dsir_select": "topk",
    "weighted_sample_tokens": "topk",
    "stream_weighted_sample": "topk",
    "source_term_divergence": "topk",
    "vocab_topk": "topk",
    "heavy_hitters": "topk",
    "encode_docs": "topk",
    "token_budget_mix": "krow:source|stratum",
    "temperature_mix": "krow:source|stratum",
    "window_ntile": "size_gated",
    "global_shuffle_layout": "size_gated",
    # r9: AUC's cumulative window runs over the groupBy(score)
    # aggregate — score is a 3-decimal-quantized ratio, so the key
    # domain is <= 1001 rows at any corpus size
    "classifier_auc": "krow:s",
    # r9: the coverage rank window runs over the groupBy(term)
    # aggregate — vocabulary-bounded (Heaps' law, the vocab_topk /
    # zipf_slope justification), then capped at max(sizes) rows
    "vocab_coverage_curve": "krow:term",
    # r9: the streaming AUC's window runs over the DRAINED state
    # table (a local scan of the memory sink) — bounded by the
    # streaming groupBy keyspace (<= 1001 quantized scores)
    "stream_score_auc": "state_table",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_every_unpartitioned_window_is_bounded(spark, name):
    import os

    from rivulus_spark import cache

    p = plan(spark, name)
    cache.unpersist_all()
    wins = _unpartitioned_windows(p)
    if not wins:
        return
    just = _WINDOW_JUSTIFICATION.get(name)
    assert just is not None, (
        f"{name}: unjustified unpartitioned window(s):\n"
        + "\n".join(l.strip()[:120] for _, l in wins))
    for i, line in wins:
        sub = _subtree(p, i)
        if just == "topk":
            assert "TakeOrderedAndProject" in sub, line.strip()[:120]
        elif just.startswith("krow:"):
            keys = just.split(":", 1)[1].split("|")
            assert any(f"keys=[{k}" in sub for k in keys), \
                line.strip()[:120]
        elif just == "state_table":
            assert "LocalTableScan" in sub, line.strip()[:120]
        elif just == "size_gated":
            total = sum(
                os.path.getsize(os.path.join(SF, f))
                for f in os.listdir(SF))
            assert total <= 64 << 20, (
                "size-gated window but input exceeds the gate")


def test_bpe_round_plan_is_partial_agg_plus_one_row_topk(spark):
    """One BPE merge round: the pair-count plan must partial-aggregate
    map-side (each partition collapses to its distinct pairs before
    the shuffle) and the global argmax must lower to
    TakeOrderedAndProject(limit=1) — never a global sort. The merge
    application itself is a codegen fold, so the round plan carries no
    Python stage."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import bpe

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    vocab = bpe.word_freqs(docs).select(
        "freq", F.regexp_extract_all(
            "word", F.lit("."), 0).alias("syms"))
    rnd = (bpe.pair_counts(vocab)
           .orderBy(F.desc("pair_count"), "lhs", "rhs").limit(1))
    p = rnd._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject(limit=1" in p, p
    assert p.count("HashAggregate") >= 2, p  # partial + final
    assert "EvalPython" not in p, p
    applied = vocab.withColumn("syms", bpe._apply_merge("syms", "a", "b"))
    pa = applied._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in pa, pa


def test_editdist_block_join_is_equi(spark):
    """PassJoin candidate generation (r10) must lower to an EQUI join
    on the (indexed_len, segment_index, substring_hash) signature key
    — a nested-loop over the short-doc table would be the O(n^2) plan
    the pigeonhole segments exist to avoid — with the hash-join
    physical form (no sort of the signature stream) and the
    thresholded levenshtein staying JVM codegen."""
    p = plan(spark, "editdist_neardup")
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "EvalPython" not in p, p
    assert "ShuffledHashJoin" in p, p


def test_lsh_verify_joins_are_hash_not_sort(spark):
    """r10: no join in the LSH chain may be SortMergeJoin — the
    former SMJ sorted pair-count rows CARRYING the vectors, and that
    sorter (not the sim eval) dominated the sf10 chain with unstable
    spill (74-700s across identical reps). The band self-join is
    pinned shuffle-hash; the verify re-joins broadcast the vector
    table under the 128 MB source gate (as here, at test scale) and
    fall back to shuffle-hash above it.

    r11 (ADVICE r10): the two verify probes must share ONE physical
    broadcast of the (id, vec, nrm) table — ReusedExchange in the
    final adaptive plan, which requires executing the query (AQE
    reuses at runtime) and an UNCACHED build side (a persisted plan
    is substituted back by the cache manager and its
    TableCacheQueryStage defeats the canonical match)."""
    p = plan(spark, "embedding_neardup_lsh")
    assert "SortMergeJoin" not in p, p
    assert p.count("ShuffledHashJoin") >= 1, p   # band self-join
    assert p.count("BroadcastHashJoin") >= 2, p  # gated verify joins
    assert "CartesianProduct" not in p, p
    df = QUERIES["embedding_neardup_lsh"](spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 2, final  # band + verify


def test_hybrid_fusion_merges_topk_tables(spark):
    """RRF's merge runs over two k-bounded top-k lists: the fused
    plan keeps the corpus work inside the retrievers (no corpus-
    sided cartesian) and the final rank window is q_id-partitioned
    (no unpartitioned corpus window — the blanket audit double-
    checks)."""
    p = plan(spark, "hybrid_rank_fusion")
    assert "CartesianProduct" not in p, p
    assert "EvalPython" not in p, p


def test_score_auc_single_bounded_shuffle(spark):
    """The AUC plan's only corpus-sized exchange feeds the map-side
    partial-aggregated groupBy(score); the window and final agg run
    on the score-bounded table (SinglePartition exchange of <= 1001
    rows)."""
    p = plan(spark, "classifier_auc")
    assert p.count("HashAggregate") >= 2, p   # partial + final counts
    assert "EvalPython" not in p, p


def test_spread_is_noop_on_well_split_source(spark, tmp_path):
    """The 100 TB safety property of partitioning.spread (VERDICT r9
    #7): on a source whose file metadata already yields >= target
    scan splits (many row groups), spread() must return the SAME
    frame — no repartition node, no accidental full-corpus shuffle —
    while a single-row-group file still gets the round-robin fix."""
    from pyspark.sql import functions as F

    from rivulus_spark import partitioning

    many = str(tmp_path / "many")
    # 64 separate files -> >= 64 scan splits, comfortably past the
    # local[32] default parallelism target
    spark.range(64000).withColumn("p", F.col("id") % 64) \
        .repartition(64, "p").write.parquet(many)
    df = spark.read.parquet(many)
    assert partitioning._estimated_scan_splits(df) >= 32
    out = partitioning.spread(df)
    assert out is df  # identity, not just equal plan: zero overhead

    one = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(one)
    small = spark.read.parquet(one)
    spread_small = partitioning.spread(small)
    assert spread_small is not small
    assert "Exchange" in spread_small._jdf.queryExecution() \
        .executedPlan().toString()


def test_lsh_verify_falls_back_to_shuffle_hash_above_gate(spark):
    """Above the 256 MB vector-source gate the LSH verify must NOT
    broadcast (a corpus-sized vector table cannot be a broadcast
    build side on a real cluster) — it pins shuffle_hash instead.
    The gate reads file metadata via partitioning.estimated_input_bytes,
    monkeypatched here to simulate a big source."""
    from rivulus_spark import partitioning
    from rivulus_spark.operators import similarity

    orig = partitioning.estimated_input_bytes
    partitioning.estimated_input_bytes = lambda df: 1 << 30
    try:
        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")
        out = similarity.cosine_neardup_pairs_lsh(
            emb, threshold=0.5, dim=64, n_planes=16, n_bands=4)
        p = out._jdf.queryExecution().executedPlan().toString()
    finally:
        partitioning.estimated_input_bytes = orig
    assert p.count("ShuffledHashJoin") >= 3, p   # band join + 2 verify
    assert "SortMergeJoin" not in p, p


def test_star_edge_plan_has_no_pair_join(spark):
    """The star-edge LSH chain (hot-bucket mode) must get candidates
    from a WINDOW min over one band-hash exchange — never a band
    self-join emitting occupancy² pair rows, never a cartesian path,
    and no candidate-side join AT ALL (the r11 min-agg + join-back
    form evaluated the Arrow signature pass twice because the agg
    side's partial aggregate broke exchange canonicalization; the
    only joins left in the plan are the verify probes). Asserted on
    the edge operator itself: the registered query's FINAL plan is
    the driver union-find's parallelized label RDD (CC executes
    eagerly under the gate), which would hide the chain."""
    from rivulus_spark import cache
    from rivulus_spark.operators import dedup

    docs = spark.read.parquet(SF + "/documents.parquet")
    star = dedup.minhash_lsh_dedup(docs, threshold=0.8, edge_mode="star")
    p = star._jdf.queryExecution().executedPlan().toString()
    cands = dedup.lsh_candidate_edges_star(
        dedup.minhash_signatures_arrow(docs, "text", "doc_id", 3,
                                       dedup.NUM_PERM))
    pc = cands._jdf.queryExecution().executedPlan().toString()
    cache.unpersist_all()
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p
    assert "Window" in pc, pc          # bucket min is a window...
    assert "Join" not in pc, pc        # ...not a join-back
    # and the signature pass (Arrow eval) appears ONCE in the
    # candidate chain — the double-evaluation regression this form
    # exists to prevent
    assert pc.count("ArrowEvalPython") <= 1, pc


def test_band_occupancy_plan_is_joinless(spark):
    """The occupancy histogram is telemetry: signature pass + two
    aggregations — any join in this plan is a bug."""
    p = plan(spark, "dedup_band_occupancy")
    assert "Join" not in p, p
    assert p.count("HashAggregate") >= 2, p


def test_steady_relational_pass_compiles_no_classes(spark):
    """A second pass of the relational mix finds every generated class
    in the codegen cache: Janino compiles nothing. At Spark's default of
    100 entries the mix evicts its own classes and recompiles them."""
    from perfbench.workloads import WORKLOADS

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        for name in WORKLOADS["relational"]:
            QUERIES[name](spark, SF).write.format("noop") \
                .mode("overwrite").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    assert run_pass() > 0
    assert run_pass() == 0


def test_relational_builds_stay_under_round_trip_budget(spark, monkeypatch):
    """Building the relational mix warm talks to the JVM at most 2,500
    times (3,618 before scans were reused per session, expressions
    built one Column per node and the LazyFrame carried its schema;
    about 1,960 after, plus about 490 deletions of the objects the
    build leaves behind). The count is exact, so a build regression
    fails here without any timing. py4j's finalizer thread sends object
    deletions asynchronously, so the window opens after garbage from
    earlier tests has been collected and sent, and closes after the
    build's own garbage has been; every thread's commands count."""
    import gc
    import threading

    from py4j.clientserver import JavaClient

    from perfbench.workloads import WORKLOADS

    client = spark.sparkContext._gateway._gateway_client

    def settle():
        # the finalizer thread sends queued deletions in order, so once
        # it reaches this marker every deletion queued before it is sent
        done = threading.Event()

        class Marker:
            def garbage_collect_object(self, target_id, enqueue=True):
                done.set()

        gc.collect()
        client.finalizer_deque.appendleft((Marker(), None))
        assert done.wait(60)

    names = WORKLOADS["relational"]
    for name in names:
        QUERIES[name](spark, SF)
    settle()
    sent = []
    send = JavaClient.send_command
    monkeypatch.setattr(JavaClient, "send_command",
                        lambda self, *a, **k: sent.append(1) or send(self, *a, **k))
    for name in names:
        QUERIES[name](spark, SF)
    settle()
    monkeypatch.undo()
    assert 0 < len(sent) <= 2_500, len(sent)

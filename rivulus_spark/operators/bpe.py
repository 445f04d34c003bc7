"""Distributed BPE merge training — the tokenizer-fit step of a
training-data pipeline, as an iterative algorithm on the WORD table,
never the corpus.

Reference scope: the reference engine (CleConor/rivulus) has no
tokenizer training; this extends the LLM-pipeline family
(``text.bpe_ish_tokens`` counts with a FIXED pattern; this op LEARNS
the merge table that such a tokenizer would use).

Scale design — why this survives 100 TB:

- **The corpus is touched exactly once.** :func:`word_freqs` is one
  partial-aggregated shuffle of ``(word, count)`` rows; by Heaps' law
  the distinct-word table is orders of magnitude smaller than the
  corpus (and it, not the corpus, is what BPE iterates on — the same
  collapse the classic Sennrich et al. 2016 implementation does with
  a driver-side dict, here kept distributed).
- **Each merge round is vocab-sized and fully JVM-side.** Pair
  counting is ``zip_with`` adjacent slices → explode → partial-agg
  (map-side combine collapses each partition to its distinct pairs);
  the global argmax is a 1-row ``TakeOrderedAndProject`` — no global
  sort, no window. Applying the winning merge is a codegen
  ``aggregate`` (fold) over each word's symbol array — the fold IS
  greedy left-to-right non-overlapping BPE merging, with no Python
  anywhere in the loop.
- **The only driver barrier is 1 row per round** (the winning pair) —
  the same justified k-row barrier as k-means centroids
  (``cluster.py``) and the CC convergence check (``dedup.py``).
- **Plan growth is truncated per round** via ``localCheckpoint`` on
  the vocab table, the lesson from the CC lineage fix
  (``dedup.py:593-676``): without it round ``k`` re-analyzes ``k``
  nested aggregates.

Determinism: ties on pair count break by lexicographically smallest
``(lhs, rhs)`` — binary UTF8 order, identical in Spark, DuckDB, and
Python for this corpus's ASCII tokens — so the merge table is exact
and the workload query carries a full VALUES oracle computed by an
independent single-threaded reference implementation
(``workload._bpe_train_oracle``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, IntegerType, StringType,
                               StructField, StructType)

from .text import tokens

MERGE_SCHEMA = StructType([
    StructField("merge_rank", IntegerType(), False),
    StructField("lhs", StringType(), False),
    StructField("rhs", StringType(), False),
    StructField("pair_count", LongType(), False),
])


def word_freqs(df: DataFrame, col: str = "text",
               min_len: int = 2) -> DataFrame:
    """ONE corpus pass: whitespace tokens (same ``text.tokens``
    contract as the counting queries) → ``(word, freq)``. Words
    shorter than ``min_len`` carry no pairs and are dropped before
    the shuffle."""
    w = df.select(F.explode(tokens(col)).alias("word"))
    return (w.filter(F.length("word") >= min_len)
             .groupBy("word").agg(F.count("*").alias("freq")))


def _adjacent_pairs(syms):
    """Struct array of adjacent symbol pairs: zip_with of the two
    off-by-one slices (length n-1 each)."""
    c = F.col(syms) if isinstance(syms, str) else syms
    return F.zip_with(
        F.slice(c, 1, F.size(c) - 1),
        F.slice(c, 2, F.size(c) - 1),
        lambda l, r: F.struct(l.alias("lhs"), r.alias("rhs")))


def _apply_merge(syms, lhs: str, rhs: str):
    """Greedy left-to-right non-overlapping merge of (lhs, rhs) as a
    codegen fold: seed the accumulator with the first symbol, then for
    each next symbol either fuse it into the accumulator's last
    element (when that element is exactly ``lhs`` and the incoming
    symbol is exactly ``rhs``) or append. Overlaps resolve leftmost
    ("aaa" + (a,a) → [aa, a]) because a fused element becomes
    ``lhs+rhs`` and no longer equals ``lhs`` (BPE symbols are atomic
    strings compared whole, so a second fuse cannot re-match)."""
    return _apply_merge_batch(syms, [(lhs, rhs)])


def _apply_merge_batch(syms, merges: list[tuple[str, str]]):
    """One greedy left-to-right pass applying a BATCH of merges whose
    {lhs, rhs, merged} strings are pairwise disjoint (opt r12): the
    when-chain conditions are then mutually exclusive at every (last,
    incoming) position, so the single pass fuses exactly the positions
    k sequential :func:`_apply_merge` passes would — symbol-disjoint
    merges can neither create nor consume each other's match sites.
    Callers are responsible for the disjointness/freshness contract
    (:func:`_plan_merge_batch` for training, :func:`apply_merges` for
    encoding); a single-element batch is byte-for-byte the classic
    single-merge fold."""
    c = F.col(syms) if isinstance(syms, str) else syms

    def step(acc, s):
        out = None
        for lhs, rhs in merges:
            cond = ((F.element_at(acc, -1) == F.lit(lhs))
                    & (s == F.lit(rhs)))
            fuse = F.concat(F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.lit(lhs + rhs)))
            out = (F.when(cond, fuse) if out is None
                   else out.when(cond, fuse))
        return out.otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(
        F.slice(c, 2, F.size(c) - 1),
        F.slice(c, 1, 1),
        step)


#: pairs collected per training round — the argmax plus enough
#: lookahead to plan a safe multi-merge batch (and to bound, via the
#: rank-M count, every pair the collect did NOT see)
_BATCH_TOP_M = 16


def _plan_merge_batch(rows, remaining: int, c_m: int,
                      prev_merged: set[str]) -> list:
    """Select the maximal PREFIX of one round's (count desc, lhs, rhs)
    pair ordering that can provably be applied in a single pass with
    results identical to sequential BPE rounds (the rule is checked
    against hand-worked sequential rounds by the batching, self-overlap
    and chained-merge fixtures of
    tests/test_operators.py::test_bpe_batched_round_equals_sequential).

    ``rows[i]`` joins the batch iff
    (a) its lhs/rhs share no string with any earlier member's
        {lhs, rhs, merged} — then applying the earlier members cannot
        change rows[i]'s count, and one combined pass equals the
        sequential passes;
    (b) its count STRICTLY exceeds B = max(rank-M count, every
        collected pair overlapping the batch's strings, every earlier
        SELF-overlapping member's own count) — after the earlier
        members are applied, any pair that changed or appeared is
        bounded by B (a new adjacency maps 1:1 to an old adjacency
        overlapping the applied symbols; a self-merge lhs==rhs leaves
        residual adjacencies bounded by its own count), so rows[i] is
        still the strict argmax at its sequential step — strictness
        also protects the (count, lhs, rhs) tie-break;
    (c) every member except the last has a FRESH merged string: not
        equal to any previous round's merged string (``prev_merged``)
        or an earlier member's. Initial symbols are single characters,
        so every multi-char symbol in the vocab is some previous
        merge's output — freshness is decidable on the driver, no scan
        needed. Fresh outputs guarantee created pairs had no prior
        count to stack on (the B bound assumes it).
    """
    first = rows[0]
    batch = [first]
    S = {first["lhs"], first["rhs"], first["lhs"] + first["rhs"]}

    def overlaps(r):
        return r["lhs"] in S or r["rhs"] in S

    for r in rows[1:]:
        if len(batch) >= remaining:
            break
        if overlaps(r):
            break
        b = max([c_m]
                + [q["pair_count"] for q in rows
                   if not any(q is m for m in batch) and overlaps(q)]
                + [q["pair_count"] for q in batch
                   if q["lhs"] == q["rhs"]])
        if not r["pair_count"] > b:
            break
        batch.append(r)
        S |= {r["lhs"], r["rhs"], r["lhs"] + r["rhs"]}
    # freshness shrink: truncate after the first non-fresh non-last
    # member (within-batch duplicates count as non-fresh)
    seen = set(prev_merged)
    for i, r in enumerate(batch[:-1]):
        m = r["lhs"] + r["rhs"]
        if m in seen:
            return batch[:i + 1]
        seen.add(m)
    return batch


def pair_counts(vocab: DataFrame) -> DataFrame:
    """One merge round's counting plan over a ``(freq, syms)`` vocab
    table: adjacent-pair explode → partial-aggregated sum. Map-side
    combine collapses each partition to its distinct pairs before the
    (pair)-keyed shuffle; the caller's global argmax is a 1-row
    ``TakeOrderedAndProject`` on top (plan-asserted in
    ``tests/test_plans.py``)."""
    return (vocab
            .filter(F.size("syms") >= 2)
            .select("freq", F.explode(_adjacent_pairs("syms")).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("freq").alias("pair_count")))


def train_merges(words: DataFrame, n_merges: int,
                 min_count: int = 1) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a ``(word, freq)`` table.

    Returns the merge table ``(merge_rank, lhs, rhs, pair_count)`` —
    at most ``n_merges`` rows; fewer if no remaining pair reaches
    ``min_count`` (then training has genuinely converged, not
    failed — unlike CC's round cap this early-out is a correct
    result, so it returns rather than raises).
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    # NOT run under driver_loop_conf (opt r11, second session): unlike
    # the GD/Lloyd/k-center rounds — k-row aggregates over a narrow
    # persisted table, where scoping AQE off measured faster at sf0.1
    # AND sf1 — a BPE merge round is a corpus-VOCAB-sized
    # explode-aggregate (pair_counts: every symbol pair of every vocab
    # word, grouped on pair strings) before the TakeOrdered(1): the
    # shape AQE's runtime partition sizing exists for. Factor-isolated
    # A/B at sf1 (interleaved, min-of-4): AQE off 4.91s, AQE ON 2.92s
    # (-41%); sf0.1 agrees (3.73 vs 2.66). The lazy checkpoints below
    # are the factor that carries entry #6's win; checkpoint eagerness
    # measured neutral (4.96 vs 4.91 at sf1).
    spark = words.sparkSession
    # regexp_extract_all('.') chars, not split on a zero-width
    # pattern: Spark's split(limit=-1) keeps the trailing empty
    # string a zero-width end-of-input match produces
    vocab = words.select(
        "freq",
        F.regexp_extract_all("word", F.lit("."), 0).alias("syms"))
    # LAZY localCheckpoint (opt r11): truncates the logical plan
    # identically (the returned frame is a LogicalRDD either way), but
    # materialization folds into the next round's counting job instead
    # of paying a dedicated job per round — one job round-trip saved
    # per merge (~70ms each locally; at cluster scale, one fewer
    # scheduling barrier per round). The blocks are still computed
    # exactly once: the first consumer materializes, later consumers
    # (the fold) read the checkpoint.
    vocab = vocab.localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    # multi-merge rounds (opt r12): collect the top-M pairs instead of
    # the argmax alone and apply the provably-safe PREFIX of them in
    # ONE fold pass (_plan_merge_batch) — one counting job (the
    # dominant per-round cost: vocab explode + pair shuffle + topk)
    # now advances several ranks when the leading pairs are
    # symbol-disjoint and strictly dominant. Merge table identical to
    # strictly sequential rounds by the planner's rule; measured on
    # English-like text the 8-merge table trains in ~5 rounds.
    rank = 1
    while rank <= n_merges:
        top = (pair_counts(vocab)
               .filter(F.col("pair_count") >= min_count)
               .orderBy(F.desc("pair_count"), "lhs", "rhs")
               .limit(_BATCH_TOP_M)  # TakeOrderedAndProject barrier
               .collect())
        if not top:
            break
        # pairs the collect did not see are bounded by the rank-M
        # count; when fewer than M pairs exist there are none
        c_m = (top[-1]["pair_count"] if len(top) == _BATCH_TOP_M else 0)
        batch = _plan_merge_batch(top, n_merges - rank + 1, c_m,
                                  {m[1] + m[2] for m in merges})
        for row in batch:
            merges.append((rank, row["lhs"], row["rhs"],
                           row["pair_count"]))
            rank += 1
        if rank <= n_merges:
            vocab = vocab.withColumn(
                "syms", _apply_merge_batch(
                    "syms", [(r["lhs"], r["rhs"]) for r in batch]))
            # truncate lineage so round k doesn't re-analyze k folds
            # (final round: the post-merge vocab is never read again,
            # so both the fold and its checkpoint job are skipped)
            vocab = vocab.localCheckpoint(eager=False)
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def train_merges_from_docs(df: DataFrame, n_merges: int,
                           col: str = "text",
                           min_count: int = 1) -> DataFrame:
    """End-to-end: corpus → word table → merge table."""
    return train_merges(word_freqs(df, col), n_merges,
                        min_count=min_count)


def corpus_word_table(df: DataFrame, col: str = "text") -> DataFrame:
    """``(word, freq)`` over ALL non-empty whitespace tokens — ONE
    corpus tokenize pass shared by training and encoding (opt r11).
    Training's word table is this filtered to ``length >= 2`` (the
    filter commutes with the per-word group-by, so frequencies are
    identical to :func:`word_freqs`); encoding's distinct-word vocab is
    the key set. A train+encode query that derives both from one
    persisted copy of this table saves a full corpus tokenize pass and
    a corpus-token distinct shuffle versus calling
    :func:`train_merges_from_docs` and :func:`encode_docs_with_merges`
    back to back."""
    w = (df.select(F.explode(tokens(col)).alias("word"))
         .filter(F.length("word") > 0))
    return w.groupBy("word").agg(F.count("*").alias("freq"))


def apply_merges(vocab: DataFrame, merges: list[tuple[str, str]],
                 syms_col: str = "syms",
                 checkpoint_every: int = 16) -> DataFrame:
    """Apply a learned merge list IN RANK ORDER to a symbol-array
    column — Sennrich-style encoding: merge ``rank 1`` everywhere,
    then rank 2, ... Each merge is the same greedy-leftmost codegen
    fold training uses (``_apply_merge``), so encode and train cannot
    disagree on merge semantics. Projection collapse would otherwise
    nest all k folds into ONE expression, whose analysis cost grows
    quadratically; a ``localCheckpoint`` every ``checkpoint_every``
    merges bounds the expression depth (the vocab table being
    checkpointed is Heaps-law small).

    Consecutive merges whose {lhs, rhs, merged} strings are pairwise
    disjoint — and whose merged strings are fresh (not an earlier
    merge's output; initial symbols are single chars, so that is the
    only possible collision) — fold in ONE pass (opt r12,
    :func:`_apply_merge_batch`): identical greedy result, fewer nested
    aggregates for Catalyst/codegen to chew."""
    out = vocab
    prev_ms: set[str] = set()
    applied = 0
    i = 0
    while i < len(merges):
        lhs, rhs = merges[i]
        batch = [(lhs, rhs)]
        S = {lhs, rhs, lhs + rhs}
        j = i + 1
        # extend only while every member-so-far has a fresh output
        # (the LAST member's output may collide — nothing follows it
        # within the pass)
        if lhs + rhs not in prev_ms:
            while j < len(merges):
                nl, nr = merges[j]
                m = nl + nr
                if (nl in S or nr in S or m in S or m in prev_ms):
                    break
                batch.append((nl, nr))
                S |= {nl, nr, m}
                j += 1
        for bl, br in batch:
            prev_ms.add(bl + br)
        out = out.withColumn(syms_col, _apply_merge_batch(syms_col, batch))
        was = applied
        applied += len(batch)
        if (applied // checkpoint_every > was // checkpoint_every
                and applied < len(merges)):
            out = out.localCheckpoint(eager=True)
        i = j
    return out


def tokenizer_fertility(df: DataFrame, merge_table: DataFrame,
                        group_col: str = "lang", col: str = "text",
                        id_col: str = "doc_id",
                        chars_col: str = "n_chars",
                        vocab_words: DataFrame | None = None) -> DataFrame:
    """Per-group tokenizer fertility audit: how many BPE pieces the
    trained tokenizer spends per whitespace token and how many source
    characters each piece covers, grouped by ``group_col`` (language,
    source, domain). THE multilingual-tokenizer acceptance check: a
    vocabulary trained lopsidedly makes under-represented languages
    pay 2-4x more pieces for the same text, which silently taxes their
    effective context length and training compute share.

    ``(group, n_docs, n_tokens, n_pieces, pieces_per_token,
    chars_per_piece)`` — ratios are single divisions of exact integer
    sums, floor-truncated to 6 decimals (cross-engine convention).

    Scale shape: :func:`encode_docs_with_merges`' Heaps-law collapse
    (merges apply to the distinct-word table, the token stream joins
    the vocab-sized lookup) plus one id-keyed metadata join and a
    group-by over the handful of group keys. No new heavy stage.
    ``vocab_words`` forwards to :func:`encode_docs_with_merges`."""
    enc = encode_docs_with_merges(df, merge_table, col, id_col,
                                  vocab_words=vocab_words)
    meta = df.select(F.col(id_col), F.col(group_col),
                     F.col(chars_col))
    j = enc.join(meta, id_col)
    ppt = (F.floor(F.sum("n_pieces").cast("double")
                   / F.sum("n_tokens") * 1_000_000) / 1_000_000)
    cpp = (F.floor(F.sum(chars_col).cast("double")
                   / F.sum("n_pieces") * 1_000_000) / 1_000_000)
    return (j.groupBy(group_col)
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum("n_pieces").cast("long").alias("n_pieces"),
                 ppt.alias("pieces_per_token"),
                 cpp.alias("chars_per_piece")))


def encode_docs_with_merges(df: DataFrame, merge_table: DataFrame,
                            col: str = "text",
                            id_col: str = "doc_id",
                            vocab_words: DataFrame | None = None
                            ) -> DataFrame:
    """Tokenize-and-encode the corpus with a trained merge table:
    ``(id, n_tokens, n_pieces)`` per document — the fit→encode loop
    closed (train_merges learns the table; this spends it).

    Scale shape mirrors training's Heaps-law collapse: the merges are
    applied to the DISTINCT-word table (vocab-sized, never the
    corpus), producing a ``(word, n_pieces)`` lookup the corpus token
    stream then hash-joins (AQE broadcasts it when it fits). The
    corpus is touched twice (distinct words + token stream), both
    scans JVM-only; the merge table itself is a k-row driver barrier,
    same as the k-means centroid collect.

    Documents with no tokens produce no row (explode semantics);
    the synthetic corpus has none.

    ``vocab_words``: optionally supply the corpus word table
    (:func:`corpus_word_table`, typically persisted by a caller that
    also trained on it) — its distinct ``word`` keys replace the
    internal corpus-token ``distinct`` pass, saving a tokenize scan
    plus a corpus-token shuffle in a train+encode composition."""
    merges = [(r["lhs"], r["rhs"]) for r in
              merge_table.orderBy("merge_rank").collect()]
    # drop empty-string split artifacts (trailing non-space whitespace
    # makes split emit ""): an empty word has syms=[] and the fold's
    # slice(c, 2, size-1) would crash the job with a negative length;
    # it also isn't a token under any tokenizer contract
    toks = (df.select(F.col(id_col).alias("id"),
                      F.explode(tokens(col)).alias("word"))
            .filter(F.length("word") > 0))
    words = (vocab_words.select("word") if vocab_words is not None
             else toks.select("word").distinct())
    vocab = words.withColumn(
        "syms", F.regexp_extract_all("word", F.lit("."), 0))
    pieces = (apply_merges(vocab, merges)
              .select("word", F.size("syms").cast("long")
                      .alias("__wp")))
    return (toks.join(pieces, "word")
            .groupBy("id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum("__wp").alias("n_pieces"))
            .select(F.col("id").alias(id_col), "n_tokens", "n_pieces"))

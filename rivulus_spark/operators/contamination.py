"""Train/eval contamination detection.

Decontamination of a training corpus against held-out evaluation sets:
flag every training document that shares at least one word n-gram with
any eval document — the GPT-3/PaLM-style n-gram-overlap
decontamination pass a training pipeline runs before every data
release. This is a superset operator (the reference engine at
/root/reference has no text surface; its expression set is
src/expressions/expr.rs's 12 binary ops) built for the 100 TB
training-data use case.

Scale shape: both corpora reduce to distinct ``(id, shingle-hash)``
rows (codegen posexplode + lead window, see dedup.shingle_rows), so the
join shuffles 16-byte (hash, id) rows keyed on the 60-bit shingle hash
— never document text. The eval side is typically millions of times
smaller than the training side; Spark's AQE converts the join to a
broadcast at runtime when it fits, making the pass one training-corpus
scan. Overlap counts are partial-aggregated map-side. A universally
common shingle ("in the of") fans out, which is why real
decontamination uses k >= 8 grams — rare by construction; k is a
parameter here because the synthetic corpus is tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import cache
from .dedup import shingle_rows, word_hash


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         k: int = 3, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """``(doc_id, n_shared_ngrams, n_eval_docs)`` for every training
    document sharing at least one k-gram shingle with the eval set:
    how many distinct shingles leak and how many eval documents they
    touch. Downstream policy (drop / quarantine / report) is the
    caller's; the report is the expensive distributed part."""
    tr = (shingle_rows(train, text_col, id_col, k)
          .select(F.col("id").alias("t_id"),
                  word_hash(F.col("s")).alias("h")))
    ev = (shingle_rows(eval_df, text_col, id_col, k)
          .select(F.col("id").alias("e_id"),
                  word_hash(F.col("s")).alias("h")))
    return (tr.join(ev, "h")
            .groupBy("t_id")
            .agg(F.countDistinct("h").alias("n_shared_ngrams"),
                 F.countDistinct("e_id").alias("n_eval_docs"))
            .select(F.col("t_id").alias(id_col),
                    "n_shared_ngrams", "n_eval_docs"))


def bloom_contamination_report(train: DataFrame, eval_df: DataFrame,
                               k: int = 3, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """:func:`contamination_report` with a Bloom prefilter on the
    training side — identical output (Bloom filters have no false
    negatives; the exact join removes the false positives), different
    cost shape at scale.

    When to use which: ``contamination_report`` relies on AQE
    broadcasting the eval shingle relation, which works while the eval
    set is small. A benchmark *suite* (every distinct shingle of every
    eval set a lab decontaminates against, 10^8-10^9 keys) is beyond
    exact-broadcast range; there the Bloom filter (~10 bits/key, built
    distributed — see operators.bloom) ships instead, the corpus
    shingle stream shrinks map-side by ~1/fpp, and the exact verify
    join shuffles only the remnant. The eval shingle table persists
    because it feeds both the filter build and the verify join."""
    from .bloom import bloom_build, bloom_dims, bloom_prefilter

    ev = cache.persist(
        shingle_rows(eval_df, text_col, id_col, k)
        .select(F.col("id").alias("e_id"),
                word_hash(F.col("s")).alias("h")))
    # row count (not distinct) upper-bounds the key count: oversizing
    # only lowers the false-positive rate, and it avoids a second
    # aggregation over the eval shingles
    m_bits, n_hash = bloom_dims(ev.count())
    bf = bloom_build(ev.select("h"), "h", m_bits, n_hash)
    tr = (shingle_rows(train, text_col, id_col, k)
          .select(F.col("id").alias("t_id"),
                  word_hash(F.col("s")).alias("h")))
    survivors = bloom_prefilter(tr, "h", bf)
    return report_from_suspects(survivors, ev, id_col)


def stream_bloom_suspects(docs: DataFrame, bf, k: int = 3,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Ingest-time half of streaming decontamination: screen a
    DOCUMENT STREAM against a pre-built eval-set Bloom filter, emitting
    the suspect ``(t_id, h)`` shingle-hash rows — a no-false-negative
    superset of the truly shared shingles (supersized by ~fpp of the
    stream's shingle volume), which the exact verify join at the sink
    reduces to the same report the batch pass produces.

    Every stage is STATELESS (two Arrow ``mapInPandas`` passes:
    shingle+hash, then the bit-gather probe of bloom_prefilter), so
    the same plan runs on a batch or a streaming DataFrame — this is
    the "screen the crawl as it lands" deployment where the 100 TB
    corpus never rests unscreened, and only suspect rows (true hits +
    fpp·batch) reach the sink-side shuffle. Shingling happens in the
    Arrow pass (_shingle_hash_rows_arrow): the window-based
    ``shingle_rows`` is not streaming-capable (non-time windows are
    unsupported on streams), and the interpreted array-transform
    alternative measured 7x slower at sf1. Per-doc shingles are
    distinct, matching shingle_rows' semantics; cross-batch
    duplicates are impossible for file-replay (a doc arrives once)
    and the report's countDistinct would absorb them anyway."""
    from .bloom import bloom_prefilter

    return bloom_prefilter(
        _shingle_hash_rows_arrow(docs, k, text_col, id_col), "h", bf)


def _shingle_hash_rows_arrow(docs: DataFrame, k: int, text_col: str,
                             id_col: str) -> DataFrame:
    """(t_id, h) distinct shingle-hash rows computed in ONE Arrow
    ``mapInPandas`` pass — the streaming-safe shingling stage of
    stream_bloom_suspects. The first cut used the interpreted
    array-transform form (dedup.shingles + explode): higher-order
    functions evaluate per element outside codegen, and it measured
    39.5s at sf1 (6.6x the sf0.1 point) with the transform as the
    dominant stage; this pass replicates the tokenization of
    minhash_signatures_arrow (ASCII-space trim, Java \\s split,
    md5-60-bit word_hash — the bit-parity argument is proven there
    and transitively by this query's plain-join oracle) at the Arrow
    pass's measured near-flat cost. Stateless, so it runs identically
    on batch and streaming frames."""
    import re

    ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java \s, NOT unicode \s

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids, hs = [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(txt, str):
                    continue
                toks = ws.split(txt.strip(" "))
                if len(toks) < k:
                    continue
                sh = {" ".join(toks[i:i + k])
                      for i in range(len(toks) - k + 1)}
                for s in sh:
                    ids.append(doc_id)
                    hs.append(int(hashlib.md5(
                        s.encode("utf-8")).hexdigest()[:15], 16))
            yield pd.DataFrame({"t_id": pd.array(ids, dtype="Int64"),
                                "h": pd.array(hs, dtype="Int64")})

    return docs.select(F.col(id_col), F.col(text_col)).mapInPandas(
        gen, schema="t_id long, h long")


def report_from_suspects(suspects: DataFrame, ev_shingles: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Exact-verify tail shared by the batch Bloom pass and the
    streaming drain: join suspect shingle rows to the eval shingle
    relation (removing every Bloom false positive) and aggregate the
    per-training-doc contamination report — identical output to
    :func:`contamination_report` because the suspects are a
    no-false-negative superset."""
    return (suspects.join(ev_shingles, "h")
            .groupBy("t_id")
            .agg(F.countDistinct("h").alias("n_shared_ngrams"),
                 F.countDistinct("e_id").alias("n_eval_docs"))
            .select(F.col("t_id").alias(id_col),
                    "n_shared_ngrams", "n_eval_docs"))


def overlap_severity(train: DataFrame, eval_df: DataFrame,
                     k: int = 3, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document contamination SEVERITY: for every training document
    sharing at least one k-gram shingle with the eval set, the fraction
    of its distinct shingles that leak — ``(doc_id, n_shingles,
    n_shared, overlap_frac)``. Where :func:`contamination_report`
    answers "which documents touch the eval set", this answers "how
    much of each document IS eval content": a doc quoting one common
    phrase scores ~0, a wholesale eval copy scores ~1 — the number a
    drop-vs-quarantine policy actually thresholds on (the
    GPT-3 appendix-C treatment removes only the contaminated *spans*
    when the fraction is low and the whole doc when it is high).
    ``overlap_frac`` floor-truncates to 3 decimals (the cross-engine
    convention).

    Scale shape: the training corpus reduces ONCE to distinct
    ``(t_id, h)`` shingle-hash rows (codegen lead-window shingling),
    persisted because two aggregations consume it: the per-doc
    denominator (keyed on t_id) and the eval-intersection numerator
    (semi-join keyed on the 60-bit hash — AQE broadcasts the
    deduplicated eval shingle set while it fits). Only contaminated
    docs reach the final |hits|-row join; shuffle rows are 16-byte
    (hash, id) pairs, never text."""
    tr = cache.persist(
        shingle_rows(train, text_col, id_col, k)
        .select(F.col("id").alias("t_id"),
                word_hash(F.col("s")).alias("h")))
    totals = tr.groupBy("t_id").agg(F.count("*").alias("n_shingles"))
    ev = (shingle_rows(eval_df, text_col, id_col, k)
          .select(word_hash(F.col("s")).alias("h")).distinct())
    # (t_id, h) is distinct by construction, so after the semi-join a
    # plain count IS the distinct shared-shingle count
    shared = (tr.join(ev, "h", "left_semi")
              .groupBy("t_id").agg(F.count("*").alias("n_shared")))
    return (shared.join(totals, "t_id")
            .select(F.col("t_id").alias(id_col), "n_shingles", "n_shared",
                    (F.floor(F.col("n_shared") * 1000
                             / F.col("n_shingles")) / 1000)
                    .alias("overlap_frac")))


def fuzzy_contamination(train: DataFrame, eval_df: DataFrame,
                        threshold: float = 0.8, k: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        band_widths: list[int] | None = None) -> DataFrame:
    """Near-duplicate (paraphrase-level) contamination: training
    documents whose Jaccard similarity to ANY eval document reaches
    ``threshold`` — catches lightly-edited eval leaks that exact
    n-gram overlap (contamination_report) under-weights. Output:
    ``(doc_id, n_eval_matches, max_jacc)`` per contaminated training
    doc. Ids must be unique across both frames.

    Built on the same MinHash+LSH machinery as dedup (signatures on
    the union, banded candidates, exact-Jaccard verification),
    restricted to cross-side pairs BELOW the verify (opt r11): the
    cross-side predicate is pushed into the chain as a
    ``cand_filter``, so same-side candidates — the train×train
    near-dups that dominate any real corpus's pair mass — are dropped
    BEFORE the verification join and aggregate instead of after
    them. Verification is per-pair independent, so the output
    is identical to post-filtering (parity-tested); the verify cost
    becomes ∝ cross-side candidates, never |train|×|train| near-dup
    incidence, and never |train| x |eval|. The restriction joins the
    candidates against the EVAL id set (a benchmark suite — small by
    nature, broadcastable at corpus scale; a pair is cross-side iff
    exactly one endpoint is an eval id). ``band_widths`` sizes the
    banding for large corpora (dedup.adaptive_minhash_bands over the
    UNION's row count — both sides share one signature table)."""
    from .dedup import minhash_lsh_dedup

    t = (train.select(F.col(id_col), F.col(text_col))
         .withColumn("__side", F.lit("t")))
    e = (eval_df.select(F.col(id_col), F.col(text_col))
         .withColumn("__side", F.lit("e")))
    both = t.unionByName(e)
    eids = eval_df.select(F.col(id_col).alias("__eid"))

    def _cross_side_only(cands):
        ea = eids.select(F.col("__eid").alias("__ea"))
        eb = eids.select(F.col("__eid").alias("__eb"))
        return (cands
                .join(ea, cands["doc_a"] == F.col("__ea"), "left")
                .join(eb, cands["doc_b"] == F.col("__eb"), "left")
                .filter(F.col("__ea").isNotNull()
                        != F.col("__eb").isNotNull())
                .select("doc_a", "doc_b"))

    pairs = minhash_lsh_dedup(both, threshold=threshold, k=k,
                              text_col=text_col, id_col=id_col,
                              band_widths=band_widths,
                              cand_filter=_cross_side_only)
    sides = both.select(F.col(id_col).alias("__id"), "__side")
    x = (pairs
         .join(sides.alias("sa"), pairs.doc_a == F.col("sa.__id"))
         .join(sides.alias("sb"), pairs.doc_b == F.col("sb.__id"))
         .filter(F.col("sa.__side") != F.col("sb.__side")))
    train_id = F.when(F.col("sa.__side") == "t",
                      F.col("doc_a")).otherwise(F.col("doc_b"))
    return (x.select(train_id.alias(id_col), "jacc")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_eval_matches"),
                 F.round(F.max("jacc"), 3).alias("max_jacc")))

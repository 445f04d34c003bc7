"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the point of this module — these run against ~100 TB of
documents on a real cluster):

- **exact**: group on a 128-bit MD5 fingerprint, not the document body —
  the shuffle carries (16-byte key, doc_id) pairs only, with map-side
  partial aggregation.
- **signatures (MinHash / SimHash) are computed as pure projections**
  using higher-order array functions (``aggregate`` over the shingle
  array) — no explode, no shuffle, whole-stage codegen. Cost is linear
  in corpus size and embarrassingly parallel.
- **candidate generation is LSH banding**: equal band-hash => candidate,
  i.e. a shuffle keyed on (band_idx, band_hash) whose output is ~the
  number of true near-dup pairs, instead of the O(n^2) cross join.
  With r=4 rows/band and b=32 bands, a pair at Jaccard 0.8 is missed
  with probability (1 - 0.8^4)^32 ~= 4e-8.
- **verification** joins candidates back to shingle sets and computes
  exact Jaccard, so the output has no false positives.

All hashes derive from MD5 (engine-portable) and all integer arithmetic
stays below 2^62 (Spark 4 ANSI mode raises on 64-bit overflow; the
word hash is 60-bit, reduced mod P=2^31-1 before affine permutations).

The reference engine has no dedup surface at all (SURVEY §2.6); these
are north-star operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import cache
from .text import tokens, word_hash

#: Mersenne prime modulus for MinHash permutations (fits in int32)
MINHASH_P = 2_147_483_647
NUM_PERM = 128
LSH_ROWS = 4  # rows per band
LSH_BANDS = NUM_PERM // LSH_ROWS  # 32 bands


def perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic affine permutation coefficients (a_i, b_i) for the
    i-th MinHash function; a_i in [1, P-1], b_i in [0, P-1]."""
    a = (i * 1_000_003 + 12_345) % MINHASH_P
    if a == 0:
        a = 1
    b = (i * 9_176_429 + 7) % MINHASH_P
    return a, b


# ----------------------------------------------------------------------
# shingling
# ----------------------------------------------------------------------

def shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-gram word shingles (space-joined) of a text column, as
    ``array<string>`` in first-occurrence order: per id, the same set as
    :func:`shingle_rows`. Pure projection; documents shorter than k
    tokens and null texts get an empty set.

    The token array is split once and cut into k off-by-one slices
    zipped together (:func:`text.gram_stream`'s form), so the lambda
    only joins each zipped gram. Indexing the token expression inside
    the lambda re-splits the text for every gram. The set is built over
    strings, not zipped structs: ``array_distinct`` and
    ``array_intersect`` over ``array<struct>`` take Spark's quadratic
    path."""
    t = tokens(col)
    n = F.greatest(F.size(t) - (k - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(t, i + 1, n).alias(f"t{i}") for i in range(k)])
    grams = F.transform(
        zipped, lambda g: F.concat_ws(" ", *[g[f"t{i}"] for i in range(k)]))
    return F.coalesce(F.array_distinct(grams),
                      F.array().cast("array<string>"))


def shingle_rows(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Distinct (id, s) k-gram shingle rows over the shared positional
    gram stream (text.gram_stream — codegen posexplode + lead window;
    the array-transform form evaluates interpreted per element, ~10x
    slower on corpus scans). Shuffles: one narrow (id)-keyed exchange
    for the window plus the partial-distinct — both carry ~20-byte
    rows."""
    from .text import gram_concat, gram_stream

    return (gram_stream(df, k, text_col, id_col)
            .select("id", gram_concat(k).alias("s"))
            .distinct())


# ----------------------------------------------------------------------
# exact dedup
# ----------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content: keeper id (min), copy count.
    Groups on the MD5 fingerprint so shuffle rows are tiny at scale."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def normalized_fingerprint(col: str | Column) -> Column:
    """Canonical content fingerprint for "fuzzy-exact" dedup (the
    RefinedWeb/CCNet normalization family): lowercase, strip
    non-alphanumerics to spaces, collapse whitespace runs, trim —
    then MD5. Catches the re-serialization duplicates exact hashing
    misses (case flips, punctuation/markup churn, whitespace reflow)
    at zero pair-computation cost — still ONE fingerprint group-by,
    no candidate join. Portable regex subset (character classes
    only), identical in Java regex and DuckDB RE2."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " "))
    return F.md5(norm)


def normalized_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """:func:`exact_duplicates` on the normalized fingerprint, keeping
    only groups the RAW fingerprint would have missed — each output
    row is a duplicate class that exists ONLY because of case/
    punctuation/whitespace churn: ``(keep_id, n_copies,
    n_raw_variants)``. Same 16-byte-shuffle scale shape as exact
    dedup (two fingerprints per doc instead of one)."""
    fps = df.select(
        F.col(id_col),
        normalized_fingerprint(text_col).alias("nfp"),
        F.md5(F.col(text_col)).alias("fp"))
    return (fps.groupBy("nfp")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies"),
                 F.countDistinct("fp").alias("n_raw_variants"))
            .filter(F.col("n_raw_variants") >= 2)
            .select("keep_id", "n_copies",
                    F.col("n_raw_variants").cast("long")
                    .alias("n_raw_variants")))


def exact_dup_edges(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Duplicate-pair edges (doc_a, doc_b) from exact content matches,
    as a CHAIN per fingerprint group (consecutive ids after an
    in-group sort), not a clique: a group of k copies emits k-1 edges
    instead of k·(k-1)/2, so edge volume stays linear in the duplicate
    count — at 100 TB a hot boilerplate string duplicated a million
    times would otherwise emit half a trillion pairs. Connected
    components over chain edges recovers exactly the clique's
    clusters (same components), which is why the downstream
    :func:`connected_components` output is unchanged.

    Plan shape: one MD5 projection, one hash shuffle on the 16-byte
    fingerprint, one window ``lag`` per group — no joins."""
    w = Window.partitionBy("fp").orderBy(id_col)
    return (df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))
            .select(F.lag(id_col).over(w).alias("doc_a"),
                    F.col(id_col).alias("doc_b"))
            .filter(F.col("doc_a").isNotNull()))


def containment_pairs(df: DataFrame, threshold: float = 0.5,
                      k: int = 3, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """ASYMMETRIC containment (Broder 1997's complement to
    resemblance): directed pairs ``(doc_id, container_id, n_inter,
    containment)`` where containment = |shingles(doc) ∩
    shingles(container)| / |shingles(doc)| >= ``threshold``. Jaccard
    systematically under-scores a SMALL doc living inside a big one
    (a quoted paragraph, a wrapped article, a chapter inside a book
    dump): the pair's Jaccard is tiny while the small doc is 100%
    redundant — containment is the score that catches it, and dedup
    policy drops the contained side, not the container. Both
    directions of a pair are evaluated; ``containment``
    floor-truncates to 3 decimals and the threshold applies to the
    floored value (engine-exact cut).

    Scale shape: same relational skeleton as
    :func:`ngram_jaccard_pairs` — distinct (id, shingle-hash) rows,
    candidates from ONE equi-join on the hash (volume ∝ shared-
    shingle incidence, pairs sharing nothing never materialize), the
    pair table joined to the two k-row size tables. Worst case (one
    universally-hot shingle) degenerates like every exact pair
    method; at corpus scale pre-filter candidates with
    minhash_lsh_dedup or the thinned winnow index."""
    rows = cache.persist(
        shingle_rows(df, text_col, id_col, k)
        .select("id", word_hash(F.col("s")).alias("h")))
    sizes = rows.groupBy("id").agg(F.count("*").alias("n"))
    inter = (rows.alias("a")
             .join(rows.alias("b"), (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("ia"),
                      F.col("b.id").alias("ib"))
             .agg(F.count("*").alias("n_inter")))
    sa = sizes.select(F.col("id").alias("ia"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("ib"), F.col("n").alias("nb"))
    scored = cache.persist(inter.join(sa, "ia").join(sb, "ib"))
    # multiply-first floor (r8 review): ONE rounding path, textually
    # identical to the SQL oracle and to the sibling ratio operators
    # (duplication_scores, overlap_severity) — the divide-first form
    # rounds twice and is the only expression whose order would not
    # match its oracle
    f3 = lambda n, d: F.floor(n * 1000 / d) / 1000  # noqa: E731
    fwd = scored.select(
        F.col("ia").alias(id_col), F.col("ib").alias("container_id"),
        "n_inter",
        f3(F.col("n_inter"), F.col("na")).alias("containment"))
    rev = scored.select(
        F.col("ib").alias(id_col), F.col("ia").alias("container_id"),
        "n_inter",
        f3(F.col("n_inter"), F.col("nb")).alias("containment"))
    return (fwd.unionByName(rev)
            .filter(F.col("containment") >= threshold))


def winnow_fingerprints(df: DataFrame, k: int = 3, w: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): from every window of ``w``
    consecutive k-gram hashes, select the RIGHTMOST MINIMAL hash;
    output the distinct selected ``(doc_id, pos, h)`` positions. The
    winnowing guarantee: any token run of length >= w+k-1 shared by
    two documents shares at least one selected fingerprint, at an
    expected density of only 2/(w+1) of the gram stream — the
    index-size/recall dial full shingle sets don't have (a plagiarism
    or overlap index at 100 TB stores ~2/(w+1) of the grams instead
    of all of them, with a provable detection floor instead of LSH's
    probabilistic one).

    The rightmost-min window selection is ONE bounded window function:
    each gram packs into ``h32 * 2^31 + (2^31-1-pos)`` (hash reduced
    to 32 bits — winnowing's guarantee needs only equality, and the
    pack must fit a signed 64-bit long under ANSI mode), so the
    trailing ``min`` over ``w`` rows IS the rightmost minimal gram
    (equal hashes leave the larger pos with the smaller packed key —
    exactly the MOSS tie rule), and unpacking the min recovers (pos,
    hash) exactly. Window ends run from w-1 (the first full window)
    plus the last gram of shorter documents (whole-doc window), so
    every doc with >= 1 gram yields >= 1 fingerprint.

    Scale shape: per-doc windows only — one (id)-keyed exchange for
    the gram stream (same as shingle_rows), one BOUNDED w-row frame,
    one distinct. No corpus-wide state, no joins, no Python; output
    volume is ~2/(w+1) of the gram stream by the winnowing density
    theorem."""
    from .text import gram_concat, gram_stream

    if w < 1:
        raise ValueError(f"window must be >= 1, got {w}")
    grams = (gram_stream(df, k, text_col, id_col)
             .select("id", "pos", gram_concat(k).alias("s")))
    h32 = word_hash(F.col("s")) % F.lit(4294967296)
    key = h32 * F.lit(2147483648) + (F.lit(2147483647) - F.col("pos"))
    frame = (Window.partitionBy("id").orderBy("pos")
             .rowsBetween(-(w - 1), 0))
    keyed = grams.select(
        "id", "pos",
        F.min(key).over(frame).alias("fp"),
        F.max("pos").over(Window.partitionBy("id")).alias("max_pos"))
    return (keyed
            .filter((F.col("pos") >= w - 1)
                    | (F.col("pos") == F.col("max_pos")))
            .select(F.col("id").alias(id_col),
                    (F.lit(2147483647)
                     - F.col("fp") % F.lit(2147483648)).alias("pos"),
                    F.expr("fp DIV 2147483648").alias("h"))
            .distinct())


def winnow_overlap_pairs(df: DataFrame, k: int = 3, w: int = 4,
                         min_shared: int = 2,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """The winnowing index put to its purpose (MOSS pairwise overlap):
    document pairs sharing at least ``min_shared`` distinct selected
    fingerprints — ``(doc_a, doc_b, n_shared)``, a < b. By the
    winnowing guarantee every shared token run of length >= w+k-1
    lands at least one shared fingerprint, so a pair with substantial
    overlap can't score 0; and because the index holds only ~2/(w+1)
    of the gram stream, the pair join touches ~(2/(w+1))² of the
    volume the full-shingle pair join (:func:`ngram_jaccard_pairs`)
    would — the dial that makes pairwise overlap affordable when full
    Jaccard isn't.

    Scale shape: per-doc winnowing (bounded window, no corpus state) →
    distinct (id, h) → ONE equi-join on the fingerprint hash → pair
    count with map-side partials. Fan-out on a universally-hot
    fingerprint is the same worst case as every shingle-keyed pair
    method; winnowing already thins it by the density factor, and
    ``min_shared`` cuts the single-boilerplate-hit tail. At true
    corpus scale cap candidates with minhash_lsh_dedup; this operator
    is the exact-overlap middle ground."""
    fps = (winnow_fingerprints(df, k, w, text_col, id_col)
           .select(F.col(id_col).alias("id"), "h").distinct())
    fps = cache.persist(fps)
    return (fps.alias("a")
            .join(fps.alias("b"), (F.col("a.h") == F.col("b.h"))
                  & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("doc_a"),
                     F.col("b.id").alias("doc_b"))
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def duplication_scores(df: DataFrame, k: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Per-document duplication score (the Dolma/RefinedWeb per-doc
    dup-fraction report): for every document with at least one k-gram
    shingle, the fraction of its DISTINCT shingles that also occur in
    at least one OTHER document — ``(doc_id, n_shingles, dup_shingles,
    dup_frac)``. Pair-level dedup (exact/MinHash) answers "which docs
    are near-copies of each other"; this answers "how much of THIS doc
    is boilerplate the corpus already has" — the per-doc signal
    quality-filter pipelines threshold on (a doc that is 95% repeated
    shingles is template spam even when no single other doc matches it
    end to end). ``dup_frac`` floor-truncates to 3 decimals.

    Scale shape: ONE distinct (id, shingle-hash) reduction of the
    corpus (codegen lead-window shingling), persisted for its two
    consumers: the corpus-wide shingle frequency table (keyed on the
    60-bit hash; (id, h) distinct per doc, so ``count(*)`` IS the
    doc-frequency) and the per-doc re-aggregation after the frequency
    join. Shuffle rows are 16-byte (hash, id/count) pairs throughout —
    never text, never pairs of documents — so cost is linear in
    distinct-shingle volume regardless of how duplicated the corpus
    is (the trap a pair-join formulation falls into at 100 TB)."""
    sh = cache.persist(
        shingle_rows(df, text_col, id_col, k)
        .select("id", word_hash(F.col("s")).alias("h")))
    freq = sh.groupBy("h").agg(F.count("*").alias("n_docs"))
    return (sh.join(freq, "h")
            .groupBy("id")
            .agg(F.count("*").alias("n_shingles"),
                 F.sum(F.when(F.col("n_docs") >= 2, 1)
                       .otherwise(0)).alias("dup_shingles"))
            .select(F.col("id").alias(id_col), "n_shingles",
                    "dup_shingles",
                    (F.floor(F.col("dup_shingles") * 1000
                             / F.col("n_shingles")) / 1000)
                    .alias("dup_frac")))


# ----------------------------------------------------------------------
# n-gram Jaccard (exact baseline; O(n^2) — use LSH at scale)
# ----------------------------------------------------------------------

def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(df: DataFrame, threshold: float, k: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """EXACT all-pairs k-gram Jaccard >= threshold (threshold > 0),
    computed relationally: a pair with Jaccard > 0 shares at least one
    shingle, so candidate pairs come from an equi-join of the distinct
    (id, shingle) rows on the shingle itself — a hash-partitioned
    shuffle proportional to shared-shingle volume — and
    |A∩B| = the join's per-pair row count, |A∪B| = |A| + |B| - |A∩B|.

    Versus the array-column cross-join formulation
    (``ngram_jaccard_pairs_brute``): no O(n^2) pair enumeration, no
    interpreted higher-order array intersections — every stage is
    codegen'd. Pairs sharing no shingle (Jaccard 0) never materialize,
    which is exactly why ``threshold`` must be positive. Worst case
    (every doc shares one hot shingle) degenerates to n^2 like any
    exact method — cap with minhash_lsh_dedup at corpus scale."""
    if threshold <= 0:
        raise ValueError("relational Jaccard requires threshold > 0; "
                         "use ngram_jaccard_pairs_brute for threshold <= 0")
    rows = cache.persist(shingle_rows(df, text_col, id_col, k))
    sizes = rows.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        rows.alias("ra")
        .join(rows.alias("rb"), (F.col("ra.s") == F.col("rb.s"))
              & (F.col("ra.id") < F.col("rb.id")))
        .groupBy(F.col("ra.id").alias("doc_a"), F.col("rb.id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    withn = (inter
             .join(sizes.alias("na"), inter.doc_a == F.col("na.id"))
             .join(sizes.alias("nb"), inter.doc_b == F.col("nb.id")))
    union = F.col("na.n") + F.col("nb.n") - F.col("n_inter")
    jacc = F.col("n_inter").cast("double") / union
    return (withn.select("doc_a", "doc_b", F.round(jacc, 3).alias("jacc"))
            .filter(F.col("jacc") >= threshold))


def ngram_jaccard_pairs_brute(df: DataFrame, threshold: float, k: int = 3,
                              text_col: str = "text",
                              id_col: str = "doc_id") -> DataFrame:
    """Array-column cross-join formulation of ``ngram_jaccard_pairs``
    (same output for threshold > 0; also emits Jaccard-0 pairs at
    threshold <= 0). Kept for small-input verification."""
    sh = df.select(F.col(id_col).alias("id"),
                   shingles(text_col, k).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
                F.round(jaccard(F.col("a.sh"), F.col("b.sh")), 3).alias("jacc"))
        .filter(F.col("jacc") >= threshold)
    )


# ----------------------------------------------------------------------
# MinHash + LSH
# ----------------------------------------------------------------------

def signatures_from_rows(rows: DataFrame,
                         num_perm: int = NUM_PERM) -> DataFrame:
    """MinHash signatures from distinct (id, s) shingle rows:
    (id, sig array<long> of length num_perm).

    Formulated as shingle rows -> groupBy(id) with num_perm min()
    aggregates: each shingle is hashed exactly once (the naive per-row
    array-aggregate formulation re-derives the MD5 of every shingle
    once per permutation and generates pathological codegen), and the
    shuffle benefits from map-side partial min combining — at scale the
    exchanged rows are one (id, 128 longs) tuple per doc per map
    partition, not one per shingle."""
    hs = rows.select("id", (word_hash(F.col("s")) % MINHASH_P).alias("h"))
    aggs = []
    for i in range(num_perm):
        a, b = perm_coeffs(i)
        aggs.append(F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_P)
                    .alias(f"m{i}"))
    sig = hs.groupBy("id").agg(*aggs)
    return sig.select("id", F.array(*[F.col(f"m{i}") for i in range(num_perm)])
                      .alias("sig"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perm: int = NUM_PERM) -> DataFrame:
    """MinHash signatures: (id, sig array<long> of length num_perm)."""
    return signatures_from_rows(shingle_rows(df, text_col, id_col, k),
                                num_perm)


def minhash_signatures_arrow(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 3,
                             num_perm: int = NUM_PERM) -> DataFrame:
    """(id, sig) MinHash signatures computed entirely map-side in one
    Arrow ``mapInPandas`` pass — NO shuffle, unlike the relational
    form whose shingle explode + distinct + 128-min group-by exchanges
    ~token-count rows twice. At corpus scale this is the difference
    between a map-only signature stage and two corpus-sized shuffles;
    locally it halves the MinHash family's wall time.

    Bit-exact parity with ``signatures_from_rows``: tokenization
    replicates Spark's ``split(trim(text), '\\s+')`` (ASCII-space trim,
    Java's ASCII ``\\s`` class, trailing empties kept), shingles are the
    same space-joined k-grams, hashes the same md5-derived 60-bit ints
    reduced mod P, permutations the same affine coeffs in exact int64
    arithmetic (min over a multiset equals min over its distinct set,
    so no dedup pass is needed). Docs with fewer than k tokens emit no
    row, like the relational group-by over zero shingle rows. Parity is
    asserted against the relational form in tests and transitively by
    the driver's SQL oracle."""
    import re

    a_coeffs = [perm_coeffs(i)[0] for i in range(num_perm)]
    b_coeffs = [perm_coeffs(i)[1] for i in range(num_perm)]
    ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java \s, NOT unicode \s

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        A = np.asarray(a_coeffs, dtype=np.int64)[:, None]
        B = np.asarray(b_coeffs, dtype=np.int64)[:, None]
        for pdf in batches:
            ids, sigs = [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(txt, str):
                    continue
                toks = ws.split(txt.strip(" "))
                if len(toks) < k:
                    continue
                sh = {" ".join(toks[i:i + k])
                      for i in range(len(toks) - k + 1)}
                h = np.fromiter(
                    (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15],
                         16) % MINHASH_P for s in sh),
                    dtype=np.int64, count=len(sh))[None, :]
                ids.append(doc_id)
                sigs.append(((A * h + B) % MINHASH_P).min(axis=1).tolist())
            if ids:
                # Nullable Int64: a null doc_id with non-null text
                # arrives from Arrow as float64 NaN; the relational
                # form keeps it as a null-id group row, so emit the
                # same here instead of crashing int64 conversion.
                # Object dtype for the list column — a bare ndarray of
                # lists trips Arrow's NumPyConverter.
                yield pd.DataFrame({
                    "id": pd.array(
                        [None if x is None
                         or (isinstance(x, float) and np.isnan(x))
                         else int(x) for x in ids], dtype="Int64"),
                    "sig": pd.Series(sigs, dtype="object"),
                })

    from ..partitioning import spread

    return (spread(df).select(F.col(id_col), F.col(text_col))
            .mapInPandas(gen, schema="id long, sig array<long>"))


def adaptive_minhash_bands(n_docs: int, num_perm: int = NUM_PERM,
                           threshold: float = 0.8,
                           base_rows: int = LSH_ROWS,
                           design_n: int = 50_000) -> list[int]:
    """Per-band row counts for the MinHash LSH banding, sized to the
    corpus — the MinHash twin of similarity.adaptive_lsh_params
    (r7 VERDICT item 4). Returns a width list for the ``band_widths``
    argument of the banding family; ``sum(widths) <= num_perm``.

    At or below ``design_n`` docs this is exactly the historical
    ``[base_rows] * (num_perm // base_rows)`` layout ([4]*32 at the
    128-perm default), so driver-scale behavior — including the
    brute-force recall oracle at sf0.01 — is bit-identical to the
    fixed banding. Above it, rows-per-band grows by one per decade of
    corpus, realized FRACTIONALLY by giving k of the bands one extra
    slot (the blending treatment the hyperplane side got in r7, so no
    parameter sawtooth between decades); the band count is then the
    most bands the ``num_perm`` slot budget affords, maximizing
    recall at the wider rows.

    Two measured effects at the third decade (r8 design measurement
    over an sf10 corpus, 500k docs):

    - The banding self-join's exploded volume is bands x n rows; the
      schedule's 32 -> 25 bands at sf10 cut the band stage 8.7 ->
      6.0s (21x6 measured 5.2s but costs 30x the miss rate — see
      below). THIS, not candidate blowup, is the measured win on this
      corpus: raw candidates under the fixed [4]*32 layout measured
      LINEAR in n (3,480 at 50k docs -> 33,589 at 500k, 9.65x on 10x
      rows), because 60-bit minhash slot values collide only for
      genuinely similar docs — there is no bucket-count analogue of
      the hyperplane side's 2^width occupancy to saturate.
    - Wider bands are still the structural guard the fixed layout
      lacks: a corpus WITH mass at moderate Jaccard (boilerplate
      families, template farms) collides band-wise at s^rows, so +1
      row per decade cuts that population's candidates ~s x per
      decade — the same candidates-stay-linear-by-design argument as
      the hyperplane schedule, just latent on this corpus.

    Recall is pinned at the verification ``threshold``: k is chosen
    so the MEAN per-band collision probability of a threshold pair
    equals t^(rows + frac) exactly (k/bands = (1-t^f)/(1-t)); the
    miss rate at t=0.8 stays <= 5e-5 through the third decade
    ([5]*25: (1-0.8^5)^25) vs 4.7e-8 for [4]*32 — expected lost
    pairs << 1 at the measured 25,600-pair sf10 output. Past ~5e6
    docs the slot budget binds ([6]*21 -> miss 1.7e-3) and recall
    decays slowly with corpus size — the standard LSH trade; the
    oracle stays in lockstep because workload._minhash_cand_ctes
    derives THE SAME widths from the shared row count.

    NOT used by minhash_band_index / the incremental dedup path: a
    persisted (id, bh) index must band identically across ingests, so
    its layout is pinned at build time ([4]*32) rather than drifting
    with corpus growth and orphaning the index."""
    import math

    if n_docs <= design_n:
        x = float(base_rows)
    else:
        x = base_rows + math.log10(n_docs / design_n)
    w = int(x)
    f = x - w
    # k/bands realizing the fractional rows at threshold t: mean
    # per-band collision t^w * (1 - (k/b)(1-t)) == t^(w+f)
    frac_extra = (1.0 - threshold ** f) / (1.0 - threshold)
    b = num_perm // w
    while b > 1 and w * b + round(b * frac_extra) > num_perm:
        b -= 1
    k = round(b * frac_extra)
    return [w + 1] * k + [w] * (b - k)


def _band_widths(rows_per_band: int, num_perm: int,
                 band_widths: list[int] | None) -> list[int]:
    """Resolve the banding layout: an explicit ``band_widths`` list
    (adaptive path) or the uniform ``num_perm // rows_per_band`` split
    (historical default, bit-identical hashes either way)."""
    if band_widths is not None:
        if any(w < 1 for w in band_widths) or not band_widths:
            raise ValueError(f"band_widths must be >= 1: {band_widths}")
        if sum(band_widths) > num_perm:
            raise ValueError(
                f"band_widths consume {sum(band_widths)} signature "
                f"slots but the signature has only {num_perm}")
        return list(band_widths)
    if num_perm % rows_per_band:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by rows_per_band "
            f"({rows_per_band})")
    return [rows_per_band] * (num_perm // rows_per_band)


def band_hash_rows(sigs: DataFrame, id_col: str = "id",
                   sig_col: str = "sig",
                   rows_per_band: int = LSH_ROWS,
                   num_perm: int = NUM_PERM,
                   band_widths: list[int] | None = None) -> DataFrame:
    """(id, bh) LSH band-hash rows of a signature table — the exploded
    banding projection shared by the self-join dedup
    (lsh_candidate_pairs) and the incremental index path
    (minhash_band_index): band b's hash is xxhash64 over the band
    index and its signature slots (consecutive; ``band_widths`` gives
    per-band slot counts for the adaptive layout, else uniform
    ``rows_per_band``). The band index is salted INTO the hash, so one
    equi-join column covers all bands. See lsh_candidate_pairs for why
    these hashes need not be engine-portable and why the array is
    built as one SQL string."""
    widths = _band_widths(rows_per_band, num_perm, band_widths)
    exprs, off = [], 0
    for b, w in enumerate(widths):
        slots = ", ".join(f"element_at(`{sig_col}`, {off + i + 1})"
                          for i in range(w))
        exprs.append(f"xxhash64({b}, {slots})")
        off += w
    bands = F.expr("array(" + ", ".join(exprs) + ")")
    return sigs.select(F.col(id_col).alias("id"),
                       F.explode(bands).alias("bh"))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str = "id",
                        sig_col: str = "sig",
                        rows_per_band: int = LSH_ROWS,
                        num_perm: int = NUM_PERM,
                        band_widths: list[int] | None = None) -> DataFrame:
    """LSH banding: docs sharing any full band are candidates; output is
    deduplicated candidate pairs (doc_a < doc_b).

    The self-join is pinned to a shuffled hash join, as is
    ``similarity.cosine_neardup_pairs_lsh``'s band self-join. Both sides
    are then the same hash-partitioning of the band rows on ``bh``,
    which Spark reuses, so the upstream (for :func:`minhash_lsh_dedup`
    the Arrow signature pass) runs once. Left to the planner, a band
    table under ``autoBroadcastJoinThreshold`` is broadcast on one side
    and shuffled on the other; a broadcast exchange and a shuffle
    exchange are never reused for each other, so the upstream would run
    once per side.

    ``num_perm`` must match the signature width the caller built
    (element_at slots past the array end would silently yield nulls —
    garbage shared band hashes — in non-ANSI mode).

    Band hashes are xxhash64 over the band's signature slots (band
    index salted in), built from plain element_at projections — fully
    codegen'd, no strings. Unlike the MD5 word/shingle hashes these
    never need to be engine-portable: a band-hash collision only adds
    a false CANDIDATE, which exact verification removes. The 32-band
    array is parsed as ONE SQL expression: composing it from ~200
    Columns through py4j measured ~0.5s of driver-side plan
    construction per call (the int literal salt and 1-based
    element_at slots type-match the historical F.lit/F.element_at
    form, so band hashes are unchanged)."""
    exploded = band_hash_rows(sigs, id_col, sig_col, rows_per_band,
                              num_perm, band_widths)
    # measured negative result (r8): prefiltering to colliding buckets
    # (groupBy(bh).count > 1 -> semi-join -> self-join the remainder)
    # to spare singleton rows the join read 8.5 -> 11.6s at sf10 — the
    # extra aggregation + semi-join shuffle costs more than the hash
    # join spends absorbing singletons. Keep the plain self-join.
    l, r = exploded.alias("l"), exploded.alias("r")
    return (
        l.hint("shuffle_hash")
        .join(r, (F.col("l.bh") == F.col("r.bh"))
              & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"))
        .distinct()
    )


def lsh_candidate_edges_star(sigs: DataFrame, id_col: str = "id",
                             sig_col: str = "sig",
                             rows_per_band: int = LSH_ROWS,
                             num_perm: int = NUM_PERM,
                             band_widths: list[int] | None = None
                             ) -> DataFrame:
    """Hot-bucket-safe LSH banding for CLUSTER consumers (VERDICT r10
    #3): per band bucket emit ``(bucket_min_id, member_id)`` STAR
    edges instead of all member pairs. The star graph has exactly the
    same connected components as the all-pairs graph (every member is
    linked to the bucket minimum, which chains them transitively), but
    O(occupancy) edges per bucket instead of O(occupancy²) — on a
    mass-duplicated corpus (a million boilerplate near-identical docs
    landing in one band bucket at 100 TB) the all-pairs form
    (:func:`lsh_candidate_pairs`) materializes ~occupancy² rows and is
    infeasible, while this stays linear in band rows.

    Plan shape: the bucket minimum is a WINDOW ``min`` partitioned on
    the band hash — ONE exchange of the band rows, then a narrow
    (bh, id) in-partition sort, no join at all. The former min-agg +
    equi-join-back form had a partial aggregate under the agg side's
    exchange, so the two exchanges did NOT canonicalize and the whole
    upstream (the Arrow signature pass included) evaluated TWICE —
    star candidates measured slower than the pair self-join on the
    same corpus (1.77s vs 1.16s warm at sf0.1) despite emitting fewer
    rows. Output ``(doc_a, doc_b)`` with doc_a < doc_b always (doc_a
    IS the bucket min), distinct across buckets.

    Use :func:`lsh_candidate_pairs` when the PAIR LIST is the
    contract (every near-dup pair must be emitted and verified);
    use this when the consumer is connected components / survivorship
    (``minhash_lsh_dedup(edge_mode="star")``)."""
    from pyspark.sql import Window

    exploded = band_hash_rows(sigs, id_col, sig_col, rows_per_band,
                              num_perm, band_widths)
    mid = F.min("id").over(Window.partitionBy("bh"))
    return (exploded.select(mid.alias("mid"), "id")
            .filter(F.col("id") != F.col("mid"))
            .select(F.col("mid").alias("doc_a"), F.col("id").alias("doc_b"))
            .distinct())


def band_bucket_occupancy(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 3,
                          num_perm: int = NUM_PERM,
                          rows_per_band: int = LSH_ROWS,
                          band_widths: list[int] | None = None
                          ) -> DataFrame:
    """Band-bucket occupancy histogram — the hot-bucket telemetry for
    the LSH chain (VERDICT r10 #3): one row per log2 occupancy class,
    with the bucket count, band-row mass, and the ALL-PAIRS volume
    those buckets would emit (``sum n·(n−1)/2``). A pipeline reads
    this BEFORE choosing ``edge_mode``: a heavy tail (large
    ``log2_occ`` rows with pair_volume >> n_rows) means the pair path
    would blow up and cluster consumers should take the star path.
    Cost: the signature pass plus one groupBy(bh) count and a
    ~60-row rollup — linear, no join at all."""
    sigs = minhash_signatures_arrow(df, text_col, id_col, k, num_perm)
    occ = (band_hash_rows(sigs, rows_per_band=rows_per_band,
                          num_perm=num_perm, band_widths=band_widths)
           .groupBy("bh").agg(F.count("*").alias("n")))
    # ceil(log2(n)) via integer BIT LENGTH of n-1 — exact on both
    # engines, where a float log2 can land one ulp above an integer
    # and ceil a power of two into the wrong class (the same exact-
    # integer-bins contract as dataset_drift_psi)
    log2_occ = (F.when(F.col("n") == 1, F.lit(0))
                .otherwise(F.length(F.bin(F.col("n") - 1))).cast("long"))
    return (occ.groupBy(log2_occ.alias("log2_occ"))
            .agg(F.count("*").alias("n_buckets"),
                 F.sum("n").alias("n_rows"),
                 F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("long"))
                 .alias("pair_volume"))
            .orderBy("log2_occ"))


def _verify_pairs(cands: DataFrame, df: DataFrame, text_col: str,
                  id_col: str, k: int) -> DataFrame:
    """Exact k-shingle Jaccard of candidate pairs: ``(doc_a, doc_b,
    jacc)``, jacc rounded to 3 decimals, one row per pair. Both sides
    of a pair must have shingles, as every doc with a MinHash signature
    has.

    One join: each pair explodes to a ``(doc_a, doc_b, doc)`` row per
    side, which joins ``df`` on the doc id; a group by pair then builds
    each side's shingle set and |A∩B| is ``size(array_intersect)``. A
    side's set is the union over every row carrying its id, as
    :func:`shingle_rows` gives. The sets are built in the aggregate,
    after the join, so only candidate docs are shingled."""
    sides = cands.select("doc_a", "doc_b", F.explode(
        F.array("doc_a", "doc_b")).alias("__doc"))
    texts = df.select(F.col(id_col).alias("__doc"),
                      F.col(text_col).alias("__text"))
    sh = shingles("__text", k)

    def side_set(side: str) -> Column:
        return F.array_distinct(F.flatten(F.collect_list(
            F.when(F.col("__doc") == F.col(side), sh))))

    sets = (sides.join(texts, "__doc")
            .groupBy("doc_a", "doc_b")
            .agg(side_set("doc_a").alias("__a"),
                 side_set("doc_b").alias("__b")))
    n_a, n_b = F.size("__a"), F.size("__b")
    n_inter = F.size(F.array_intersect("__a", "__b"))
    jacc = n_inter.cast("double") / (n_a + n_b - n_inter)
    return sets.select("doc_a", "doc_b", F.round(jacc, 3).alias("jacc"))


def minhash_lsh_dedup(df: DataFrame, threshold: float = 0.8, k: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id",
                      num_perm: int = NUM_PERM,
                      band_widths: list[int] | None = None,
                      edge_mode: str = "pairs",
                      cand_filter=None) -> DataFrame:
    """Near-duplicate pairs at Jaccard >= threshold via MinHash+LSH
    candidates, then exact-Jaccard verification (no false positives;
    false-negative probability ~4e-8 at threshold 0.8 under the
    default [4]*32 banding; pass ``band_widths`` from
    :func:`adaptive_minhash_bands` over the corpus row count to size
    the banding for large corpora — miss stays <= ~5e-5 through the
    third decade, see that function's derivation).

    Verification (:func:`_verify_pairs`) is one join: each candidate
    pair explodes to two ``(doc_a, doc_b, doc)`` rows, which join the
    input on the doc id, and a group by pair builds each side's exact
    shingle-string set. |A∩B| is ``size(array_intersect)`` and Jaccard
    = inter / (|A| + |B| - inter). The joined rows number
    2 * |candidates| (times any duplicate-id rows), proportional to the
    near-dups, never to the corpus; full shingle strings are compared,
    so the result is exact (no hash collisions involved).

    Stage shape (the 100 TB argument): signatures come from the
    map-only Arrow pass (``minhash_signatures_arrow`` — no shuffle);
    banding shuffles one band-hash row per doc and band; verification
    shuffles only the candidate docs' texts into the per-pair
    aggregate, and builds the shingle sets there, after the join — a
    set projected below the join would shingle the whole corpus.
    Nothing is persisted: the result is a plain lazy plan that leaves
    nothing in :mod:`rivulus_spark.cache` for the caller to release.

    ``edge_mode`` (VERDICT r10 #3): ``"pairs"`` (default) emits every
    verified near-dup PAIR — the pair contract, but ~occupancy² rows
    per band bucket, infeasible on a mass-duplicated corpus.
    ``"star"`` emits only verified (bucket-min, member) STAR edges
    (:func:`lsh_candidate_edges_star`) — O(occupancy) per bucket, for
    CLUSTER consumers (connected components / survivorship). Star
    caveat, by contract: the star CANDIDATE graph has identical
    connected components to the all-pairs graph, and after exact
    verification the components are identical whenever bucket
    co-members are mutually near-dup at the threshold (the duplicate-
    family case the mode exists for: mass boilerplate). On a corpus
    where a bucket mixes docs similar to a third doc but not to each
    other, a star edge can fail verification where some member-member
    pair would pass — cluster consumers needing the exact
    pair-verified components on such corpora must pay the pair path.
    Use :func:`band_bucket_occupancy` to see which regime a corpus is
    in before choosing.

    ``cand_filter`` (opt r11): an optional ``DataFrame -> DataFrame``
    restriction applied to the CANDIDATE pair table before it is
    verified. Exact-Jaccard verification is per-pair independent (a
    pair's jacc reads only its own two docs' shingle sets), so for any
    per-pair predicate P, ``filter(P) ∘ verify == verify ∘ filter(P)``
    — a consumer that post-filters the verified pairs (cross-side
    contamination, cross-split leakage) can pass the same predicate
    here and skip verifying the pairs it would discard: the exploded
    (doc, pair) rows, the text join and the per-pair aggregate all
    shrink to the surviving candidates. The filter must be a pure
    per-pair restriction on (doc_a, doc_b) — it must not add, rename,
    or reorder columns — and it composes with ``edge_mode="pairs"``
    only (star edges are CC proxies; filtering them changes the
    component structure, not just the reported subset)."""
    if edge_mode not in ("pairs", "star"):
        raise ValueError(f"edge_mode must be 'pairs' or 'star', got "
                         f"{edge_mode!r}")
    if cand_filter is not None and edge_mode != "pairs":
        raise ValueError("cand_filter requires edge_mode='pairs': star "
                         "edges are connected-component proxies, and a "
                         "pair-level restriction on them changes the "
                         "components, not just the reported pair subset")
    # The signature table is not persisted: both banding modes read it
    # through one exchange of the band rows hash-partitioned on the band
    # hash, which Spark reuses for every consumer, so the Arrow pass
    # runs once and its rows are materialized once, in shuffle files.
    # Reuse needs every consumer to be that same shuffle: the star
    # window partitions on the band hash by construction, and the pair
    # self-join is pinned to a shuffled hash join (a broadcast side
    # would be a second, unreusable exchange over a second Arrow pass).
    sigs = minhash_signatures_arrow(df, text_col, id_col, k, num_perm)
    gen = (lsh_candidate_pairs if edge_mode == "pairs"
           else lsh_candidate_edges_star)
    cands = gen(sigs, num_perm=num_perm, band_widths=band_widths)
    if cand_filter is not None:
        cands = cand_filter(cands)
    return (_verify_pairs(cands, df, text_col, id_col, k)
            .filter(F.col("jacc") >= threshold))


def minhash_band_index(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perm: int = NUM_PERM,
                       rows_per_band: int = LSH_ROWS) -> DataFrame:
    """(id, bh) MinHash band-hash index of a curated corpus — the
    persisted artifact incremental ingest dedups against
    (minhash_lsh_dedup_incremental). 32 longs per document instead of
    re-signing the corpus per ingest: at 100 TB this is built once,
    written as a table BUCKETED on ``bh`` (sources/bucketed.py), and
    every daily delta joins it with zero corpus-side shuffle — the
    shuffle-once-join-many trade the bucketed sinks exist for.

    Banding is deliberately FIXED (no adaptive_minhash_bands here): a
    persisted index must band identically across every ingest that
    probes it — a layout drifting with corpus growth would orphan the
    index. Re-layout is an explicit rebuild, not a silent drift."""
    sigs = minhash_signatures_arrow(df, text_col, id_col, k, num_perm)
    return band_hash_rows(sigs, rows_per_band=rows_per_band,
                          num_perm=num_perm)


def minhash_lsh_dedup_incremental(new_df: DataFrame, corpus_df: DataFrame,
                                  index: DataFrame | None = None,
                                  threshold: float = 0.8, k: int = 3,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  num_perm: int = NUM_PERM) -> DataFrame:
    """Near-duplicates of a NEW ingest batch against an existing
    corpus AND within the batch itself — the daily-ingest shape of
    minhash_lsh_dedup: per-ingest work is proportional to the DELTA,
    never the corpus.

    Output: (doc_new, doc_match, jacc, match_in) — one row per
    verified pair at exact Jaccard >= threshold; ``match_in`` is
    'corpus' for matches against the existing corpus and 'batch' for
    batch-internal pairs, where doc_match < doc_new (the earlier id
    wins, minhash_lsh_dedup's survivor orientation). Callers admit
    exactly the new docs with no output row (plus batch survivors).

    Scale shape: the batch is signed map-only
    (minhash_signatures_arrow, delta-sized); corpus candidates come
    from ONE equi-join of the delta's band rows against the (id, bh)
    band index — pass ``index`` (minhash_band_index output, built once
    and ideally bucketed on bh) so the corpus is never re-signed;
    batch-internal candidates are the standard banding self-join of
    the delta. Exact verification explodes shingles ONLY for docs in
    some candidate pair (semi-join pushed below the explode), so the
    corpus contributes index rows and the shingle rows of its
    candidate-matched docs — nothing else. Requires the id spaces of
    batch and corpus to be disjoint (shingle verification unions both
    sides keyed on id)."""
    # new_sigs is consumed exactly once (by new_bands, which IS
    # persisted) — persisting it as well only duplicated the
    # delta-sized signature materialization (opt r11, same reasoning
    # as minhash_lsh_dedup's signature table)
    new_sigs = minhash_signatures_arrow(
        new_df, text_col, id_col, k, num_perm)
    new_bands = cache.persist(band_hash_rows(new_sigs, num_perm=num_perm))
    idx = index if index is not None else minhash_band_index(
        corpus_df, text_col, id_col, k, num_perm)
    cross = (new_bands.alias("n")
             .join(idx.alias("o"), F.col("n.bh") == F.col("o.bh"))
             .select(F.col("n.id").alias("doc_new"),
                     F.col("o.id").alias("doc_match"))
             .distinct())
    selfp = (new_bands.alias("a")
             .join(new_bands.alias("b"), (F.col("a.bh") == F.col("b.bh"))
                   & (F.col("b.id") < F.col("a.id")))
             .select(F.col("a.id").alias("doc_new"),
                     F.col("b.id").alias("doc_match"))
             .distinct())
    cands = cache.persist(
        cross.withColumn("match_in", F.lit("corpus"))
        .unionByName(selfp.withColumn("match_in", F.lit("batch"))))
    new_side_ids = (cands.select(F.col("doc_new").alias(id_col))
                    .union(cands.filter(F.col("match_in") == "batch")
                           .select(F.col("doc_match").alias(id_col)))
                    .distinct())
    old_side_ids = (cands.filter(F.col("match_in") == "corpus")
                    .select(F.col("doc_match").alias(id_col)).distinct())
    rows = cache.persist(
        shingle_rows(new_df.join(new_side_ids, id_col, "semi"),
                     text_col, id_col, k)
        .unionByName(shingle_rows(
            corpus_df.join(old_side_ids, id_col, "semi"),
            text_col, id_col, k)))
    sizes = rows.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        cands
        .join(rows.alias("ra"), cands.doc_new == F.col("ra.id"))
        .join(rows.alias("rb"), (cands.doc_match == F.col("rb.id"))
              & (F.col("ra.s") == F.col("rb.s")))
        .groupBy("doc_new", "doc_match", "match_in")
        .agg(F.count("*").alias("n_inter"))
    )
    withn = (cands.join(inter, ["doc_new", "doc_match", "match_in"], "left")
             .na.fill({"n_inter": 0})
             .join(sizes.alias("na"), cands.doc_new == F.col("na.id"))
             .join(sizes.alias("nb"), cands.doc_match == F.col("nb.id")))
    union = F.col("na.n") + F.col("nb.n") - F.col("n_inter")
    jacc = F.when(union > 0,
                  F.col("n_inter").cast("double") / union).otherwise(F.lit(0.0))
    return (withn.select("doc_new", "doc_match",
                         F.round(jacc, 3).alias("jacc"), "match_in")
            .filter(F.col("jacc") >= threshold))


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------

def simhash32(col: str | Column) -> Column:
    """32-bit SimHash over occurrence-weighted word hashes, as a pure
    projection: per bit j, sum +-1 votes across tokens; bit j of the
    output is 1 iff the vote is >= 0. 32 bits keeps the value (and all
    intermediates) comfortably inside a signed 64-bit long under ANSI
    arithmetic."""
    hs = F.transform(tokens(col), lambda w: word_hash(w))

    def bit_vote(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == F.lit(1), F.lit(1)
        ).otherwise(F.lit(-1))

    bits = []
    for j in range(32):
        vote = F.aggregate(hs, F.lit(0).cast("long"), bit_vote(j))
        bits.append(F.when(vote >= 0, F.lit(2 ** j).cast("long")).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash_table(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  out_col: str = "simhash",
                  n_bits: int = 32) -> DataFrame:
    """(id, simhash) for every document — same result as projecting
    ``simhash32()`` but formulated as explode(tokens) -> groupBy(id)
    with n_bits codegen'd conditional-sum aggregates. Higher-order
    array folds are interpreted per element, so the projection form
    costs n_bits interpreted passes per document; this form stays
    inside whole-stage codegen with map-side partial aggregation and is
    ~10x faster on corpus-scale inputs (same trade as
    minhash_signatures).

    ``n_bits`` caps at 60 (word_hash is 60-bit). Width matters at
    scale: pigeonhole banding's bucket space is 2^(n_bits/(k+1)) per
    band, so a 32-bit hash at Hamming 3 gives only 256 buckets/band —
    occupancy (and candidate pairs) grow linearly (quadratically) with
    the corpus. 60 bits -> 32k buckets/band, 128x fewer collisions,
    and a more discriminative fingerprint.

    The per-bit votes are lane-packed (VERDICT r4): two 31-bit
    one-counts per 64-bit sum aggregate plus one shared count(*), so
    60 bits cost 31 aggregation slots instead of 60 conditional sums.
    The +-1 vote for bit j is recovered as 2*ones_j - n_tokens, and
    the sign test ``vote >= 0`` becomes ``2*ones_j >= n``. Lane
    overflow is impossible by construction: ones_j <= n_tokens, and a
    document is one Spark string (hard 2 GB cap) so n_tokens < 2^31;
    partial (map-side) aggregation sums the same lanes and inherits
    the bound."""
    from ..partitioning import spread

    if not 1 <= n_bits <= 60:
        raise ValueError(f"n_bits must be in [1, 60], got {n_bits}")
    w = (spread(df).select(F.col(id_col).alias("id"),
                           F.explode(tokens(text_col)).alias("tok"))
         .select("id", word_hash(F.col("tok")).alias("h")))
    # The wide expressions are built as SQL strings parsed JVM-side in
    # ONE call each (F.expr), not as per-term Column compositions:
    # 60 bits of Column algebra is ~400 py4j round-trips and measured
    # ~1.1s of driver-side PLAN CONSTRUCTION per call at any data
    # size — pure fixed cost that would also serialize every query
    # submission on a busy 1000-executor driver.
    lane_w = 31
    mask = (1 << lane_w) - 1
    n_groups = (n_bits + 1) // 2  # blocked pairs (2g, 2g+1)
    packed = []
    for g in range(n_groups):
        term = f"CAST(shiftright(h, {2 * g}) & 1 AS BIGINT)"
        if 2 * g + 1 < n_bits:
            term += (f" + shiftleft(CAST(shiftright(h, {2 * g + 1}) & 1 "
                     f"AS BIGINT), {lane_w})")
        packed.append(F.expr(f"sum({term}) AS p{g}"))
    v = w.groupBy("id").agg(F.expr("count(1) AS n"), *packed)
    terms = []
    for j in range(n_bits):
        g, lane = divmod(j, 2)
        ones = (f"(p{g} & {mask})" if lane == 0
                else f"(shiftright(p{g}, {lane_w}) & {mask})")
        terms.append(f"IF({ones} * 2 >= n, {2 ** j}, 0)")
    out = " + ".join(terms)
    return v.select("id", F.expr(f"CAST({out} AS BIGINT) AS {out_col}"))


def simhash_pairs(df: DataFrame, max_hamming: int = 3,
                  text_col: str = "text", id_col: str = "doc_id",
                  n_bits: int = 32) -> DataFrame:
    """Near-dup pairs whose n_bits-wide SimHashes differ in at most
    ``max_hamming`` bits — EXACT result via pigeonhole banding.

    The hash is split into ``max_hamming + 1`` near-equal-width bands
    (floor/floor+1 bits, so every band holds real bits); a pair within
    Hamming distance ``max_hamming`` has at most ``max_hamming``
    differing bits, which can dirty at most ``max_hamming`` bands, so at
    least one band matches exactly. Candidate generation is therefore an
    equi-join keyed on (band_idx, band_value) — a hash-partitioned
    shuffle whose output is ~the number of true near-dups — instead of
    the O(n^2) nested-loop all-pairs comparison. Verification (exact
    bit_count of the XOR, carried through the join) removes band-only
    collisions; groupBy(doc_a, doc_b) dedups pairs that agree on
    several bands. Same output contract as the brute-force formulation
    (``simhash_pairs_brute``), linear shuffle at corpus scale.

    The signature table (one 16-byte (id, hash) row per document —
    tiny relative to the corpus even at 100 TB) is persisted so the
    tokenize + n_bits-way vote aggregation runs once instead of once
    per self-join side."""
    s = cache.persist(simhash_table(df, text_col, id_col, out_col="sh",
                                    n_bits=n_bits))
    return hamming_neardup_pairs(s, id_col="id", hash_col="sh",
                                 max_hamming=max_hamming, n_bits=n_bits)


def hamming_neardup_pairs(sig: DataFrame, id_col: str = "id",
                          hash_col: str = "sh", max_hamming: int = 3,
                          n_bits: int = 32) -> DataFrame:
    """Hamming-ball self-join over ANY (id, n_bits-hash) table —
    EXACT pairs within ``max_hamming`` bits via pigeonhole banding,
    the machinery shared by text SimHash (:func:`simhash_pairs`) and
    the image perceptual hashes (multimodal.image_perceptual_hashes;
    VERDICT r10 #4). Output (doc_a, doc_b, hamming), doc_a < doc_b.

    Pigeonhole: split the hash into ``max_hamming + 1`` near-equal
    bands; a pair within the ball can dirty at most ``max_hamming``
    bands, so at least one band matches exactly — candidates are an
    equi-join on (band_idx, band_value), a hash-partitioned shuffle
    sized by true near-dups, never n². Exact ``bit_count`` of the
    XOR (carried through the join) removes band-only collisions.

    ``n_bits`` up to 64: band extraction is (hash >> start) & mask —
    the arithmetic shift's sign extension on a negative top-bit-set
    hash is masked back off, so int64-packed 64-bit hashes (two's
    complement) band correctly."""
    n_bands = max_hamming + 1
    if not 1 <= n_bits <= 64:
        raise ValueError(f"n_bits must be in [1, 64], got {n_bits}")
    if n_bands > n_bits:
        raise ValueError(
            f"pigeonhole banding needs max_hamming+1 <= n_bits bands "
            f"with >=1 bit each (got {n_bands} bands over {n_bits} "
            f"bits)")
    # distribute the remainder instead of ceiling every band: a
    # ceiling width can push a whole band past the top bit (e.g.
    # 9 bands x ceil(32/9)=4 bits reads bits 32-35 of a 32-bit hash),
    # making that band a constant-0 key whose self-join degenerates to
    # the O(n^2) cross product banding exists to avoid. With
    # floor/floor+1 widths every band holds real bits and the
    # pigeonhole guarantee is unchanged.
    base_w, rem = divmod(n_bits, n_bands)
    widths = [base_w + 1 if j < rem else base_w for j in range(n_bands)]
    starts = [sum(widths[:j]) for j in range(n_bands)]
    s = sig.select(F.col(id_col).alias("id"),
                   F.col(hash_col).alias("sh"))
    bands = F.array(*[
        F.struct(F.lit(j).alias("bi"),
                 F.shiftright(F.col("sh"), starts[j])
                 .bitwiseAND(F.lit((1 << widths[j]) - 1)).alias("bv"))
        for j in range(n_bands)
    ])
    e = s.select("id", "sh", F.explode(bands).alias("b"))
    e = e.select("id", "sh", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv"))
    l, r = e.alias("l"), e.alias("r")
    ham = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
    return (
        l.join(r, (F.col("l.bi") == F.col("r.bi"))
               & (F.col("l.bv") == F.col("r.bv"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"),
                ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .groupBy("doc_a", "doc_b")
        .agg(F.first("hamming").alias("hamming"))
    )


def connected_components(edges: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iters: int = 25,
                         driver_edge_gate: int = 1_000_000) -> DataFrame:
    """Connected components of the near-dup pair graph: (node, cluster)
    where cluster is the MINIMUM doc id reachable from the node —
    deterministic, so the transitive dedup clustering is
    oracle-checkable (a pair list only relates documents two at a
    time; survivorship policies need the full cluster).

    Min-label propagation with pointer jumping: every node starts
    labeled with itself; each round every node takes the min of its
    own and its neighbors' labels, then follows its label's label
    (labels are always node ids, so the indirection is a self-join) —
    the shortcut halves chain depth per round, giving O(log diameter)
    rounds instead of O(diameter); stop when a round changes nothing.

    Scale shape: every round is one equi-join of the label table to
    the symmetrized edge list plus a min-aggregation — all hash
    shuffles keyed on node id, sized by the PAIR graph (~true
    near-dups), never the corpus. Each round's label table is
    ``localCheckpoint``-ed: the pointer-jumping self-join references
    the previous round TWICE, so without lineage truncation the
    logical plan doubles per round and Catalyst analysis alone goes
    exponential (measured: 14s/round on an 8-node graph by round 2).
    Truncation keeps every round's plan O(1) — the same reason
    GraphFrames checkpoints its iterative algorithms. On a real
    cluster swap ``localCheckpoint`` for reliable ``checkpoint()`` to
    the cluster checkpoint dir if executor loss must be survivable;
    convergence is one count() on the changed-label set per round.

    Driver fast path (VERDICT r9 #4): the pair graph of a DEDUP-grade
    run is orders of magnitude smaller than the corpus (sf10
    measured: 11,141 edges from 1.3M vectors), yet every
    pointer-jumping round pays a fixed job + localCheckpoint
    materialization cost (~22s total at sf10 for that 11k-edge
    graph). Below ``driver_edge_gate`` UNDIRECTED edges — measured by
    one count() on the localCheckpoint the chain materializes
    anyway — the edges are collected and clustered with union-find on
    the driver (the repo's documented k-row-barrier pattern: the
    gate bounds the collect at ~16 bytes/edge, 1M edges ≈ 16 MB, and
    path-compressed union-find is near-linear), then the (node, min
    reachable id) labels are parallelized back. Identical output
    contract; pointer jumping remains the path for genuinely large
    pair graphs, where per-round fixed costs amortize. Set
    ``driver_edge_gate=0`` to force the distributed path."""
    if max_iters < 1:
        # the for/else non-convergence path below reports `changed`,
        # which only exists after a completed round — validate up
        # front so callers get the real error, not a NameError
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")
    # the edge lineage (often a whole near-dup pipeline) is consumed
    # once per round — localCheckpoint, NOT just persist: persist
    # caches the DATA but keeps the logical plan, so every round's
    # join re-ANALYZES the full upstream pipeline (banded LSH + verify
    # = a very large plan); measured at sf1 this pinned the driver at
    # 100% of one core for >10 min before any round finished. The
    # checkpoint truncates the edge lineage to an O(1) scan, same as
    # the per-round label tables below.
    #
    # Checkpoint the UNDIRECTED list, not the symmetrized one (opt
    # r11, guide §2.3/§5): the former union-of-two-selects evaluated
    # the whole upstream edge pipeline TWICE into the checkpoint (one
    # scan per union branch), and the driver path then collected both
    # edge directions (2x rows — ADVICE r10). Checkpointing the raw
    # edge projection runs the upstream once and halves the driver
    # collect; the distributed path builds the symmetrized view from
    # the in-memory checkpoint blocks (two cheap block scans, no
    # recomputation).
    # LAZY checkpoint: the gate count below is the first action, so
    # materialization fuses into it (one job, not an eager-checkpoint
    # job followed by a count job); every later consumer reads the
    # same blocks
    und = (edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
           .localCheckpoint(eager=False))
    # one cheap count — materializing the checkpoint blocks as it
    # runs — decides the path
    if driver_edge_gate > 0 and und.count() <= driver_edge_gate:
        return _cc_driver_union_find(und)
    sym = und.union(und.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # eager localCheckpoint: materializes AND truncates lineage, so
    # round k's plan never contains round k-1's (old checkpoint blocks
    # are freed by the ContextCleaner once the python ref drops)
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()
    for _round in range(max_iters):
        neigh_min = (sym.join(labels, sym.dst == labels.node)
                     .groupBy("src").agg(F.min("label").alias("nlabel")))
        # checkpointed: the pointer-jumping self-join consumes it
        # twice — materialized, the edge-join + min-agg runs once.
        # The round-START label rides along as ``old`` (opt r12): the
        # convergence test below then needs NO join back to ``labels``
        # — the former nxt⋈labels changed-count paid two (node)-keyed
        # exchanges per round for a comparison both operands of which
        # are already on the row (guide §2.4: remove shuffles
        # outright).
        stepped = (labels.join(neigh_min, labels.node == neigh_min.src,
                               "left")
                   .select("node",
                           F.least(F.col("label"),
                                   F.coalesce(F.col("nlabel"),
                                              F.col("label")))
                           .alias("label"),
                           F.col("label").alias("old"))
                   .localCheckpoint())
        # pointer jumping: label <- min(label, label(label)); the
        # self-join is why truncation matters — stepped appears twice.
        # LAZY checkpoint (guide §5): the convergence count below is
        # nxt's first action, so block materialization fuses into it —
        # one job per round instead of an eager-checkpoint job followed
        # by a count job; next round's joins read the same blocks.
        x, y = stepped.alias("x"), stepped.alias("y")
        nxt = (x.join(y, F.col("x.label") == F.col("y.node"), "left")
               .select(F.col("x.node").alias("node"),
                       F.least(F.col("x.label"),
                               F.coalesce(F.col("y.label"),
                                          F.col("x.label")))
                       .alias("label"),
                       F.col("x.old").alias("old"))
               .localCheckpoint(eager=False))
        changed = nxt.filter(F.col("label") != F.col("old")).count()
        labels = nxt.select("node", "label")
        # localCheckpoint carries the ORIGIN plan's ESTIMATED stats
        # into the new LogicalRDD, and Catalyst's join size estimation
        # MULTIPLIES child sizes — through this loop's self-join the
        # carried BigInt estimate SQUARES every round (bit length
        # doubles), and by round ~20 the driver burns 45s+/round of
        # BigInteger.multiply computing an astronomically large,
        # meaningless size (r6 jstack: driver pinned in
        # SizeInBytesOnlyStatsPlanVisitor.visitJoin via
        # LogicalRDD.rewriteStatsAndConstraints). Rebuilding the frame
        # over the checkpointed RDD resets leaf stats to defaults,
        # bounding the estimate's bit length; the RDD round-trip is
        # executor-parallel, touches only the label table, and runs
        # every 6th round (measured: rounds back to 0.1-0.3s flat
        # through round 24, reset cost 0.2s).
        if (_round + 1) % 6 == 0:
            labels = (labels.sparkSession
                      .createDataFrame(labels.rdd, labels.schema)
                      .localCheckpoint())
        if changed == 0:
            break
    else:
        # partial labels are WRONG clusters (nodes not yet reached by
        # their component's min id keep a higher label) — fail loudly
        # instead of returning them. Hit only on graphs with a giant
        # high-diameter component (measured r6: the threshold-0.4
        # embedding pair graph — one sparse 7.8k-node blob — was still
        # moving at round 25, while every dedup-grade graph of small
        # duplicate groups converges in a handful of rounds). Callers
        # clustering such graphs should raise max_iters or reconsider
        # the threshold: a giant component usually means the pair
        # threshold is a retrieval setting, not a dedup setting.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"rounds ({changed} labels still changing) — the pair "
            f"graph has a high-diameter component; raise max_iters or "
            f"use a stricter pair threshold")
    return labels.select("node", F.col("label").alias("cluster"))


def _cc_driver_union_find(und_edges: DataFrame) -> DataFrame:
    """connected_components' under-the-gate path: path-compressed
    union-find over the collected edge list, labels = min member id per
    root (the same deterministic contract as the distributed min-label
    propagation). Near-linear (inverse-Ackermann) in edges; the
    caller's gate bounds the collect.

    Driver-memory accounting (ADVICE r10, tightened opt r11): the
    caller now hands the UNDIRECTED edge checkpoint directly (it no
    longer materializes a symmetrized 2x frame at all), and it crosses
    as Arrow columns via ``toPandas`` (16 bytes/edge of numpy int64,
    not ~150+ bytes/edge of Row objects), so the wire+buffer cost at
    the 1M-edge gate is ~16 MB as documented. The union-find
    structures themselves are Python dicts over node ids — ~100
    bytes/entry, so up to ~2M nodes ≈ 200-400 MB of driver heap at the
    gate boundary; that is the real driver budget this gate implies,
    comparable to a large broadcast, and well inside the 48g driver
    this engine configures (session.py). Set driver_edge_gate lower on
    thin drivers."""
    und = und_edges.toPandas()
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for s, d in zip(und.iloc[:, 0].tolist(), und.iloc[:, 1].tolist()):
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rs] = rd
    root_min: dict = {}
    for n in parent:
        r = find(n)
        m = root_min.get(r)
        if m is None or n < m:
            root_min[r] = n
    out = [(n, root_min[find(n)]) for n in parent]
    # node ids keep whatever comparable type the edge list carried
    from pyspark.sql.types import StructField, StructType

    t = und_edges.schema[0].dataType
    schema = StructType([StructField("node", t, False),
                         StructField("cluster", t, False)])
    return und_edges.sparkSession.createDataFrame(out, schema=schema)


def connected_components_incremental(labels: DataFrame,
                                     new_edges: DataFrame,
                                     a_col: str = "doc_a",
                                     b_col: str = "doc_b",
                                     max_iters: int = 25,
                                     driver_edge_gate: int = 1_000_000
                                     ) -> DataFrame:
    """Cluster MAINTENANCE for daily ingest (VERDICT r10 #5): merge a
    delta's new edges into persisted ``(node, cluster)`` labels
    WITHOUT re-running connected components on the full graph — the
    operation a 100 TB dedup pipeline actually performs per ingest
    (the edge-level counterpart of ``minhash_lsh_dedup_incremental``,
    which produces exactly the delta edges this consumes).

    Contract: ``labels`` is :func:`connected_components` output
    (cluster = min member id); returns the full updated label table
    over old ∪ delta nodes, IDENTICAL to ``connected_components`` on
    the concatenated edge sets (oracle-checked by equality in the
    registered query). Requires delta node ids disjoint from old ids
    only in the usual sense that an id names the same document in
    both.

    Three delta-sized steps and one labels-sized map — never an
    iterative pass over the full graph:

    1. Resolve each delta endpoint to its REPRESENTATIVE: its old
       cluster label if present, else itself (one equi-join of the
       distinct delta endpoints against the label table; on a real
       deployment the persisted label table is BUCKETED on node —
       sources/bucketed.py — so this probe shuffles only the delta).
    2. Contract: delta edges become (rep_a, rep_b), drop rep_a ==
       rep_b (an edge inside an existing cluster changes nothing).
       Edges within old clusters are already contracted away, so the
       contracted graph is delta-sized plus touched-cluster reps.
    3. Run connected_components on the contracted graph (inherits the
       driver union-find under ``driver_edge_gate``). Old reps are
       min member ids of their clusters, so the min reachable rep IS
       the min member of the merged component — labels stay the
       deterministic min-id contract.
    4. Remap: one broadcast left-join of the old label table against
       the (rep -> merged label) table — touched clusters move,
       untouched clusters coalesce through unchanged; delta-new nodes
       take their contracted result directly. The full-table scan is
       the unavoidable minimum (the output contract is the full
       roster); there is no full-table SHUFFLE anywhere.
    """
    # checkpoint the delta ONCE (opt r11): its lineage (typically a
    # near-dup candidate chain) is otherwise re-evaluated by each of
    # the two endpoint scans below plus both contraction joins; the
    # delta is ingest-sized by contract, so the checkpoint is small.
    # LAZY: eager=True would spend a dedicated job per checkpoint
    # before any consumer runs — the first consumer materializes it
    # instead (two fewer serial jobs per ingest, same reuse after)
    ne = (new_edges.select(F.col(a_col), F.col(b_col))
          .localCheckpoint(eager=False))
    nodes = (ne.select(F.col(a_col).alias("node"))
             .union(ne.select(F.col(b_col).alias("node")))
             .distinct())
    lab = labels.select(F.col("node"), F.col("cluster"))
    # reps is consumed three times (two contraction joins + the
    # new-node tail) — checkpoint the delta-sized table instead of
    # re-running its label join per consumer
    reps = (nodes.join(lab, "node", "left")
            .select("node", F.coalesce("cluster", "node").alias("rep"))
            .localCheckpoint(eager=False))
    contracted = (ne
                  .join(reps.withColumnRenamed("node", a_col)
                        .withColumnRenamed("rep", "ra"), a_col)
                  .join(reps.withColumnRenamed("node", b_col)
                        .withColumnRenamed("rep", "rb"), b_col)
                  .filter(F.col("ra") != F.col("rb"))
                  .select("ra", "rb").distinct())
    merged = connected_components(contracted, "ra", "rb",
                                  max_iters=max_iters,
                                  driver_edge_gate=driver_edge_gate)
    remap = F.broadcast(merged.select(F.col("node").alias("rep"),
                                      F.col("cluster").alias("mc")))
    old_out = (lab.join(remap, lab.cluster == remap.rep, "left")
               .select("node", F.coalesce("mc", "cluster").alias("cluster")))
    # delta nodes absent from the old labels: rep == node; their merged
    # label comes straight from the contracted result (every such node
    # has a surviving contracted edge — its rep is unique to it); a
    # delta endpoint whose edges ALL landed inside one existing cluster
    # contracted away entirely, but such an endpoint is an old node and
    # already in old_out
    new_out = (reps.filter(F.col("rep") == F.col("node"))
               .join(lab.select("node"), "node", "left_anti")
               .join(remap, "rep", "left")
               .select("node",
                       F.coalesce("mc", F.col("node")).alias("cluster")))
    return old_out.unionByName(new_out)


def cluster_survivors(df: DataFrame, clusters: DataFrame,
                      id_col: str = "doc_id",
                      score_col: str = "n_chars") -> DataFrame:
    """Survivorship: one canonical row per duplicate cluster —
    ``(cluster, survivor_id, n_members)`` — winner = highest
    ``score_col``, ties broken by smallest id (deterministic, so the
    policy is oracle-checkable). Documents absent from the cluster
    table are singleton clusters of themselves (left join + coalesce),
    so the output IS the deduplicated corpus roster.

    Scale shape: one left equi-join of the corpus to the (tiny)
    cluster label table, then a single hash shuffle on cluster id for
    the window rank — the same cost as any per-key top-1; no
    correlated subquery, no second scan. Integer scores keep the
    ordering bit-identical across engines (float scores should be
    pre-rounded by the caller — see the workload float notes)."""
    lab = clusters.select(F.col("node").alias("__n"),
                          F.col("cluster").alias("__c"))
    j = (df.select(F.col(id_col), F.col(score_col))
         .join(lab, F.col(id_col) == F.col("__n"), "left")
         .select(id_col, score_col,
                 F.coalesce(F.col("__c"), F.col(id_col)).alias("cluster")))
    w = Window.partitionBy("cluster").orderBy(F.col(score_col).desc(),
                                              F.col(id_col).asc())
    return (j.select("cluster", F.col(id_col).alias("survivor_id"),
                     F.count("*").over(Window.partitionBy("cluster"))
                     .alias("n_members"),
                     F.row_number().over(w).alias("__rn"))
            .filter(F.col("__rn") == 1)
            .drop("__rn"))


def minhash_estimate_audit(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", k: int = 3,
                           num_perm: int = NUM_PERM,
                           band_widths: list[int] | None = None) -> DataFrame:
    """Estimator-quality audit for the MinHash index: for every LSH
    candidate pair, the signature-slot agreement estimate of Jaccard
    next to the exact value — ``(doc_a, doc_b, n_agree, est_jacc,
    jacc)``. This is the audit a pipeline runs before trusting the
    estimator on a full corpus (is est_jacc calibrated at my shingle
    sizes? how loose is it at the 0.8 decision boundary?), same role
    as ann_recall for the ANN index.

    ``est_jacc = n_agree / num_perm`` is emitted UNROUNDED: n/128 is
    a dyadic rational, exactly representable as a double, so both
    engines produce the identical bit pattern without the rounding
    step (whose half-way ties round differently across engines for
    values like 8/128 = 0.0625). ``jacc`` is the exact verified value
    with the family's usual round-to-3 contract.

    Scale shape: identical to minhash_lsh_dedup — map-only Arrow
    signatures, banded candidates, candidate-local exact verify — plus
    one zip_with/filter fold per candidate pair for the slot
    agreement (128 fixed slots, O(1) per pair)."""
    sigs = cache.persist(minhash_signatures_arrow(df, text_col, id_col,
                                                  k, num_perm))
    cands = lsh_candidate_pairs(sigs, num_perm=num_perm,
                                band_widths=band_widths)
    sa = sigs.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_agree = F.size(F.filter(
        F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
    return (_verify_pairs(cands, df, text_col, id_col, k)
            .join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    n_agree.cast("long").alias("n_agree"),
                    (n_agree.cast("double")
                     / F.lit(float(num_perm))).alias("est_jacc"),
                    "jacc"))


def simhash_pairs_brute(df: DataFrame, max_hamming: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        n_bits: int = 32) -> DataFrame:
    """Brute-force all-pairs SimHash comparison — the O(n^2) reference
    formulation of ``simhash_pairs`` (same output), kept for
    small-input verification."""
    s = simhash_table(df, text_col, id_col, out_col="sh", n_bits=n_bits)
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
                ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ----------------------------------------------------------------------
# repeated-substring spans (Lee et al. 2022-style substring dedup)
# ----------------------------------------------------------------------

def positioned_shingle_rows(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            k: int = 8) -> DataFrame:
    """(id, pos, h) — the k-gram shingle HASH starting at each token
    position. Same codegen posexplode + lead-window construction as
    :func:`shingle_rows`, but positions are kept (span detection needs
    them) and rows are NOT distinct-ed (a gram repeated within one doc
    is a repeat we must count)."""
    from ..partitioning import spread

    w = Window.partitionBy("id").orderBy("pos")
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"))
    parts = [F.col("tok")] + [F.lead("tok", i).over(w)
                              for i in range(1, k)]
    return (toks.select("id", "pos",
                        F.concat_ws(" ", *parts).alias("s"),
                        parts[-1].isNotNull().alias("__full"))
            .filter(F.col("__full"))
            .select("id", "pos", word_hash(F.col("s")).alias("h")))


def positioned_shingle_rows_arrow(df: DataFrame, text_col: str = "text",
                                  id_col: str = "doc_id",
                                  k: int = 8) -> DataFrame:
    """(id, pos, h) positioned k-gram hashes computed ENTIRELY
    map-side in one Arrow ``mapInPandas`` pass — no shuffle, unlike
    :func:`positioned_shingle_rows` whose per-doc ``lead`` window
    exchanges and sorts the full corpus TOKEN stream before a single
    gram exists (the dominant stage of repeated_spans at sf10; the
    same rewrite cut stream_decontaminate's screen 39.5→6.8s at sf1).

    Bit-exact parity with the relational form (same contract the
    MinHash Arrow pass proved): tokenization replicates
    ``split(trim(text), '\\s+')`` (ASCII-space strip, Java ``\\s``
    class, leading/trailing empties kept), grams are space-joined
    k-token windows at 0-based positions, hashes the md5-derived
    60-bit ints of :func:`text.word_hash`; docs with fewer than k
    tokens emit nothing, null text emits nothing. Positions are
    ``long`` (the relational posexplode emits int; consumers cast).

    PRECONDITION on null ids: at most one null-id row. A single
    null-id doc flows through as null-id gram rows on both forms, but
    with SEVERAL null-id docs the relational lead window merges them
    into one partition (grams leak across documents,
    order-nondeterministic) while this pass keeps rows independent —
    there is no meaningful parity to preserve there, and the
    repeated-span consumers document non-null ids anyway."""
    import re

    ws = re.compile("[ \\t\\n\\x0b\\f\\r]+")  # Java \s, NOT unicode \s

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, poss, hs = [], [], []
            for doc_id, txt in zip(pdf[id_col], pdf[text_col]):
                if not isinstance(txt, str):
                    continue
                toks = ws.split(txt.strip(" "))
                n = len(toks)
                if n < k:
                    continue
                did = (None if doc_id is None
                       or (isinstance(doc_id, float) and np.isnan(doc_id))
                       else int(doc_id))
                for p in range(n - k + 1):
                    s = " ".join(toks[p:p + k])
                    ids.append(did)
                    poss.append(p)
                    hs.append(int(
                        hashlib.md5(s.encode("utf-8")).hexdigest()[:15],
                        16))
            if ids:
                yield pd.DataFrame({
                    "id": pd.array(ids, dtype="Int64"),
                    "pos": np.asarray(poss, dtype=np.int64),
                    "h": np.asarray(hs, dtype=np.int64)})

    from ..partitioning import spread

    return (spread(df).select(F.col(id_col), F.col(text_col))
            .mapInPandas(gen, schema="id long, pos long, h long"))


def repeated_spans(df: DataFrame, k: int = 8, min_repeats: int = 2,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Merged token spans covered by a k-gram that occurs at least
    ``min_repeats`` times in the CORPUS (across or within documents)
    — the exact-substring dedup signal of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"),
    whose suffix-array pass this re-expresses relationally at the
    k-gram granularity Spark can shuffle. Output: ``(doc_id,
    span_start, span_end, n_repeated_grams)`` with ``span_end``
    inclusive and positions 0-based token indices; downstream policy
    (cut the span, drop the doc) is the caller's.

    Scale shape: position rows are 24-byte ``(h, id, pos)`` triples;
    repeat detection is one partial-aggregated count on the 60-bit
    hash (never gram text); the positions that survive the semi-join
    are proportional to REPEATED content, and the interval merge is
    two doc-partitioned windows over only those rows (classic
    island detection: a gram opens a new island iff it starts past
    the running max end of its predecessors). A corpus-hot gram
    ("click here to subscribe") fans its own occurrences out, which
    is the same incidence-proportional cost the cross-doc line
    dedup pays — never corpus x corpus.

    The k-gram relaxation vs a true suffix array: repeats SHORTER
    than k tokens are not flagged (by construction, same as the
    paper's 50-token threshold), and a repeat of length >= k is
    flagged over its full extent (every window inside it repeats).
    PRECONDITION: ``id_col`` effectively non-null (multiple null-id
    docs have no well-defined per-doc gram stream — see
    positioned_shingle_rows_arrow).

    r8: two structural fixes, measured together at sf10. (1) The
    position stream comes from the Arrow map-side pass
    (:func:`positioned_shingle_rows_arrow`) — the relational lead
    window form shuffled and sorted the full corpus TOKEN stream
    before the first gram existed; parity between the two forms is
    asserted in tests and by the unchanged SQL oracle. BEHAVIOR NOTE
    for consumers of the r7 surface (ADVICE r8): the Arrow pass WIDENED
    the public position columns — ``pos``/``span_start``/``span_end``
    are now ``long`` (Arrow int64), where the r7 lead-window form
    emitted ``int`` — and multiple null-id docs moved from silent
    per-row handling to the documented undefined-precondition case
    above; schema-matching or casting consumers must expect ``long``. (2) Repeat
    marking is ONE ``count() over (partition by h)`` window instead
    of a separate hot-hash aggregate joined back: the agg+join form
    evaluated the (unpersisted) gram stream TWICE — once into the
    partial agg, once into the join probe — which with a Python
    gram stage doubles the most expensive pass; the window form
    shuffles the 24-byte (h, id, pos) triples exactly once and
    counts within partition, no sort beyond the partition key, no
    second scan."""
    spans = positioned_shingle_rows_arrow(df, text_col, id_col, k)
    wh = Window.partitionBy("h")
    marked = (spans
              .withColumn("__n", F.count("*").over(wh))
              .filter(F.col("__n") >= min_repeats)
              .select("id", "pos", (F.col("pos") + (k - 1)).alias("end")))
    w = Window.partitionBy("id").orderBy("pos")
    prev_max_end = F.max("end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    islands = (marked
               .withColumn("new_island",
                           F.when(prev_max_end.isNull() |
                                  (F.col("pos") > prev_max_end + 1),
                                  1).otherwise(0))
               .withColumn("island", F.sum("new_island").over(w)))
    return (islands.groupBy("id", "island")
            .agg(F.min("pos").alias("span_start"),
                 F.max("end").alias("span_end"),
                 F.count("*").alias("n_repeated_grams"))
            .select(F.col("id").alias(id_col), "span_start",
                    "span_end", "n_repeated_grams"))


def cut_repeated_spans(df: DataFrame, k: int = 8, min_repeats: int = 2,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """The ACTION step of Lee et al. 2022's exact-substring dedup:
    keep the corpus-wide FIRST occurrence of every repeated k-gram and
    CUT every later occurrence's tokens, reassembling the surviving
    text. :func:`repeated_spans` is the audit (where is the repeated
    content); this applies the paper's all-but-one removal policy at
    the same k-gram granularity. Output: one row per document with
    ``n_tokens``, ``n_kept``, ``clean_text`` (kept tokens rejoined
    with single spaces — token-level cutting is inherently
    whitespace-normalizing) and ``clean_md5``.

    Policy, exactly: an occurrence (id, pos) of gram hash h is
    canonical iff it is first under ``ORDER BY id, pos`` within h;
    every non-canonical occurrence of a hash with >= ``min_repeats``
    total occurrences marks its k tokens for cutting. The
    first-occurrence document keeps its copy (unless covered by some
    OTHER hash's non-canonical occurrence). Deterministic and fully
    relational, so the SQL oracle replicates the whole policy.

    PRECONDITION: ``id_col`` non-null (the canonical rank orders by
    id; Spark sorts nulls first and DuckDB last, so a null id would
    un-pin the policy).

    Scale shape: detection is the repeated_spans single (h)-keyed
    shuffle — ONE window pass computes the occurrence count AND the
    canonical rank, 24-byte triples, no second scan. Cut coverage is
    an interval sweep, not a k-fan-out: cut occurrences union with
    the token stream of AFFECTED docs only (semi-join — untouched
    documents project straight through with their original text,
    cross_doc_line_dedup's incidence-bound reassembly shape) and one
    per-doc ``max(end)`` running window marks covered tokens. The
    reassembly group-and-sort is inherent to producing text output
    and proportional to affected docs, never the corpus."""
    from .text import tokens

    spans = positioned_shingle_rows_arrow(df, text_col, id_col, k)
    wh = Window.partitionBy("h")
    who = Window.partitionBy("h").orderBy("id", "pos")
    occ = (spans
           .withColumn("__n", F.count("*").over(wh))
           .withColumn("__rn", F.row_number().over(who))
           .filter((F.col("__n") >= min_repeats) & (F.col("__rn") >= 2))
           .select("id", "pos", (F.col("pos") + (k - 1)).alias("e")))
    occ = cache.persist(occ)
    affected = occ.select("id").distinct()

    toks = (df.join(affected.select(F.col("id").alias(id_col)),
                    id_col, "semi")
            .select(F.col(id_col).alias("id"),
                    F.posexplode(tokens(text_col)).alias("pos", "tok"))
            .select("id", F.col("pos").cast("long").alias("pos"), "tok"))
    # event sweep: occurrences (kind 0) sort before the token at the
    # same position (kind 1), so a gram starting AT pos covers it
    ev = (toks.select("id", "pos", F.lit(None).cast("long").alias("e"),
                      F.lit(1).alias("kind"), "tok")
          .unionByName(occ.select(
              "id", "pos", "e", F.lit(0).alias("kind"),
              F.lit(None).cast("string").alias("tok"))))
    wsweep = (Window.partitionBy("id").orderBy("pos", "kind")
              .rowsBetween(Window.unboundedPreceding, 0))
    tk = (ev.withColumn("cover", F.max("e").over(wsweep))
          .filter(F.col("kind") == 1))
    keep = F.col("cover").isNull() | (F.col("cover") < F.col("pos"))
    rebuilt = (tk.groupBy("id")
               .agg(F.count("*").alias("n_tokens"),
                    F.array_sort(F.collect_list(
                        F.when(keep, F.struct("pos", "tok"))))
                    .alias("kept"))
               .select(F.col("id").alias(id_col),
                       F.col("n_tokens").cast("long").alias("n_tokens"),
                       F.size("kept").cast("long").alias("n_kept"),
                       F.array_join(F.transform(F.col("kept"),
                                                lambda x: x["tok"]), " ")
                       .alias("clean_text")))
    untouched = (df.join(affected.select(F.col("id").alias(id_col)),
                         id_col, "anti")
                 .select(F.col(id_col),
                         F.size(tokens(text_col)).cast("long")
                         .alias("n_tokens"),
                         F.size(tokens(text_col)).cast("long")
                         .alias("n_kept"),
                         F.col(text_col).alias("clean_text")))
    return (rebuilt.unionByName(untouched)
            .withColumn("clean_md5", F.md5("clean_text")))


def group_jaccard_matrix(df: DataFrame, group_col: str = "source",
                         text_col: str = "text", k: int = 3,
                         id_col: str = "doc_id") -> DataFrame:
    """Exact pairwise Jaccard similarity between the k-gram shingle
    SETS of each group (source, snapshot, crawl) — the corpus-level
    overlap audit that decides which sources to merge, down-weight,
    or drop before any per-document dedup runs. Output:
    ``(group_a, group_b, n_common, jaccard)`` for every unordered
    group pair with at least one shared shingle; ``jaccard`` is
    floor-truncated to 6 decimals (cross-engine convention).

    Scale shape: documents collapse to DISTINCT ``(group, h)`` rows
    (partial-aggregated — each partition emits its distinct pairs
    before the 24-byte shuffle); the intersection is a self-join on
    the 60-bit hash whose fan-out per shingle is bounded by the
    GROUP count (≤ g² pairs per hash, g ~ tens), never the corpus;
    set sizes are one tiny aggregate broadcast back into the final
    k²-row join. Nothing document- or text-sized survives past the
    first projection."""
    # shingle per DOCUMENT (shingle_rows' lead-window must never cross
    # doc boundaries), then map doc -> group; the id-keyed join input
    # is already id-partitioned by the shingle window's exchange
    doc_sh = (shingle_rows(df, text_col, id_col, k)
              .select("id", word_hash(F.col("s")).alias("h")))
    groups = df.select(F.col(id_col).alias("id"),
                       F.col(group_col).alias("g"))
    sh = doc_sh.join(groups, "id").select("g", "h").distinct()
    sizes = sh.groupBy("g").agg(F.count("*").alias("n"))
    inter = (sh.alias("a")
             .join(sh.alias("b"),
                   (F.col("a.h") == F.col("b.h"))
                   & (F.col("a.g") < F.col("b.g")))
             .groupBy(F.col("a.g").alias("group_a"),
                      F.col("b.g").alias("group_b"))
             .agg(F.count("*").alias("n_common")))
    ja = (inter
          .join(sizes.select(F.col("g").alias("group_a"),
                             F.col("n").alias("na")), "group_a")
          .join(sizes.select(F.col("g").alias("group_b"),
                             F.col("n").alias("nb")), "group_b"))
    jacc = (F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")))
    return ja.select("group_a", "group_b", "n_common",
                     (F.floor(jacc * 1_000_000) / 1_000_000)
                     .alias("jaccard"))


def editdist_neardup_pairs(df: DataFrame, max_dist: int = 8,
                           max_len: int = 256,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """Bounded-edit-distance near-duplicate pairs over SHORT texts —
    the character-level complement to the token-shingle families
    (MinHash/SimHash need enough tokens to shingle; titles, queries,
    and one-line boilerplate don't have them, and there a 2-char typo
    IS a duplicate). Output ``(doc_a, doc_b, dist)`` with
    doc_a < doc_b and dist the exact Levenshtein distance
    (character-based, Spark semantics), pairs with dist <= max_dist
    only. Texts longer than ``max_len`` chars are out of scope by
    contract (edit distance is O(len²) per pair and means little on
    long docs — that's the shingle families' regime). Null text /
    null id rows are dropped (no pair semantics).

    Candidate generation is PASSJOIN pigeonhole segment signatures
    (Li, Deng, Feng, "PassJoin: a partition-based method for
    similarity joins", PVLDB 5(3), 2011 — a public algorithm,
    re-expressed as DataFrame ops), replacing r9's length-adjacent
    blocking whose candidates grew ∝ block² (measured ×100 candidates
    on ×10 docs, VERDICT r9 #2 — fatal on a corpus of billions of
    short titles/queries). Pigeonhole: split the SHORTER string of a
    pair into ``max_dist+1`` contiguous segments; any pair within
    distance ``max_dist`` must contain one segment EXACTLY, at a
    position shifted by at most the edits around it — so candidates
    come from an EQUI join on ``(indexed_len, segment_index,
    substring_hash)``, with volume ∝ docs actually sharing aligned
    substrings (true near-matches + boilerplate collisions), never
    block². The probe side extracts, per candidate indexed length
    ``l ∈ [len−max_dist, len]`` and segment ``i``, only substrings in
    the multi-match-aware position window ``|d| + |Δ−d| <= max_dist``
    (Δ = len−l, d = shift) — ≤ ``max_dist+1`` starts per (l, i), so
    signature fan-out is a CONSTANT ≤ (τ+1)·(τ+1)·(τ+1) tiny rows
    per doc (τ=8: ≤ ~500, typically far less after clamping), i.e.
    map-side linear in the corpus. Zero-length segments (strings
    shorter than ``max_dist+1``) degrade gracefully: an empty
    segment matches anywhere, which IS the correct semantics — a
    very short string is within distance τ of every length-compatible
    short string, and verification decides; one canonical probe row
    per (l, i) keeps that channel from fanning out.

    Matched pairs are deduplicated as bare ``(id, id)`` rows (16
    bytes through the distinct), texts re-joined by id (two
    candidate-sized equi joins, never corpus²), then verified with
    Spark's thresholded ``levenshtein(a, b, max_dist)`` (-1 past the
    bound, abandoning each DP row early) — the answer is therefore
    EXACTLY the brute-force "levenshtein <= max_dist over all
    id-ordered pairs" result, and the DuckDB oracle keeps its
    length-banded brute form unchanged. All JVM codegen — no Python.

    The r9 length-blocked form survives as
    :func:`editdist_neardup_pairs_blocked` — same contract, simpler
    plan, the right choice only when the corpus' per-length-block
    counts are known small."""
    if max_dist < 1:
        raise ValueError(
            f"editdist_neardup_pairs: max_dist must be >= 1, got "
            f"{max_dist} (0 is exact dedup — use exact_duplicates)")
    tau = max_dist
    k = max_dist + 1  # pigeonhole segment count
    base = (df.filter(F.col(text_col).isNotNull()
                      & F.col(id_col).isNotNull()
                      & (F.length(text_col) <= max_len))
            .select(F.col(id_col).cast("long").alias("id"),
                    F.col(text_col).alias("txt"),
                    F.length(text_col).alias("len")))

    def seg_len(l, i):
        # even partition of l into k segments, remainder spread over
        # the LAST (l % k) segments: lengths q or q+1, starts exact
        q = F.floor(l / k)
        return q + F.when(i >= (k - l % k), F.lit(1)).otherwise(F.lit(0))

    def seg_start(l, i):
        q = F.floor(l / k)
        return i * q + F.greatest(i - (k - l % k), F.lit(0))

    idx_i = F.sequence(F.lit(0), F.lit(k - 1))
    l_own = F.col("len")
    indexed = (base.select(
        F.col("id").alias("i_id"), F.col("len").alias("i_len"),
        F.explode(F.transform(idx_i, lambda i: F.struct(
            i.alias("i"),
            F.col("txt").substr(seg_start(l_own, i) + 1,
                                seg_len(l_own, i)).alias("seg"))))
        .alias("sg"))
        .select("i_id", "i_len",
                F.col("i_len").alias("l"), F.col("sg.i").alias("i"),
                F.xxhash64("sg.seg").alias("h")))

    lr = F.col("len")

    def probe_windows(l):
        # multi-match-aware substring starts for each segment of the
        # candidate indexed length l (l <= lr): the shift d of a
        # matching substring satisfies BOTH |d| + |delta - d| <= tau
        # (edits before + after the surviving segment) AND the
        # paper's per-segment bound d ∈ [-i, i] ∩ [Δ-(τ-i), Δ+(τ-i)]
        # (PassJoin Lemma 3 — some segment always matches inside it,
        # so intersecting keeps completeness and roughly halves the
        # probe fan-out: Σ_i min(2i, 2(τ-i), τ)+1 vs (τ+1)²); the
        # substring must also fit in [0, lr - sl]
        delta = lr - l
        return F.transform(idx_i, lambda i: F.struct(
            i.alias("i"), seg_len(l, i).alias("sl"),
            F.greatest(seg_start(l, i) - F.floor((tau - delta) / 2),
                       seg_start(l, i) - i,
                       seg_start(l, i) + delta - (tau - i),
                       F.lit(0)).alias("lo"),
            F.least(seg_start(l, i) + F.floor((delta + tau) / 2),
                    seg_start(l, i) + i,
                    seg_start(l, i) + delta + (tau - i),
                    lr - seg_len(l, i)).alias("hi")))

    probe_keys = F.flatten(F.transform(
        F.sequence(F.greatest(lr - tau, F.lit(0)), lr),
        lambda l: F.flatten(F.transform(
            probe_windows(l),
            lambda w: F.transform(
                # the window [lo, hi] never exceeds tau+1 starts
                # (|d| + |delta-d| <= tau bounds hi-lo by tau), so a
                # fixed 0..tau offset list filtered to <= hi covers it
                F.filter(
                    F.sequence(F.lit(0), F.lit(tau)),
                    lambda d: (w["lo"] + d <= w["hi"])
                    # empty segments hash identically at every start:
                    # one canonical row carries the wildcard channel
                    & ((w["sl"] > 0) | (d == 0))),
                lambda d: F.struct(l.alias("l"), w["i"].alias("i"),
                                   (w["lo"] + d).alias("pos"),
                                   w["sl"].alias("sl")))))))

    probe = (base.select(
        F.col("id").alias("p_id"), F.col("len").alias("p_len"),
        F.explode(probe_keys).alias("kx"),
        F.col("txt").alias("p_txt"))
        .select("p_id", "p_len", F.col("kx.l").alias("l"),
                F.col("kx.i").alias("i"),
                F.xxhash64(F.col("p_txt").substr(
                    F.col("kx.pos") + 1, F.col("kx.sl"))).alias("h")))

    orient = ((F.col("i_len") < F.col("p_len"))
              | ((F.col("i_len") == F.col("p_len"))
                 & (F.col("i_id") < F.col("p_id"))))
    # shuffle-hash hint: the signature join is a pure hash equi-join
    # on (l, i, h) with a many-signature probe side — SMJ would sort
    # the full probe table for nothing (measured sf1: join 17s -> 6s);
    # hash join is also the right physical choice at cluster scale
    # (both sides partition on the key, no broadcast assumption)
    cand = (indexed.hint("shuffle_hash").join(probe, ["l", "i", "h"])
            .filter(orient)
            .select(F.least("i_id", "p_id").alias("doc_a"),
                    F.greatest("i_id", "p_id").alias("doc_b"))
            .distinct())
    ta = base.select(F.col("id").alias("doc_a"), F.col("txt").alias("ta"))
    tb = base.select(F.col("id").alias("doc_b"), F.col("txt").alias("tb"))
    out = (cand.join(ta, "doc_a").join(tb, "doc_b")
           .select("doc_a", "doc_b",
                   F.levenshtein("ta", "tb", max_dist).alias("dist")))
    return (out.filter(F.col("dist") >= 0)
            .select("doc_a", "doc_b",
                    F.col("dist").cast("long").alias("dist")))


def editdist_neardup_pairs_blocked(df: DataFrame, max_dist: int = 8,
                                   max_len: int = 256, bucket: int = 16,
                                   id_col: str = "doc_id",
                                   text_col: str = "text") -> DataFrame:
    """r9's length-adjacent-block form of
    :func:`editdist_neardup_pairs` — identical contract and output
    (dist >= |len diff| makes the blocking answer-preserving), but
    candidates are ALL block-mate pairs, i.e. Σ block² — measured
    ×100 candidates on ×10 docs (~140k pairs at sf0.1, 14.2M at sf1).
    Kept as the simple, shuffle-light choice for corpora whose
    per-length-block counts are KNOWN small (and as the independent
    cross-check the PassJoin test suite compares against); the
    registered query uses the PassJoin form."""
    if bucket < max_dist:
        raise ValueError(
            f"editdist_neardup_pairs: bucket width {bucket} must be >= "
            f"max_dist {max_dist} or length-adjacent pairs straddle "
            "non-adjacent buckets and are silently missed")
    base = (df.filter(F.col(text_col).isNotNull()
                      & F.col(id_col).isNotNull()
                      & (F.length(text_col) <= max_len))
            .select(F.col(id_col).cast("long").alias("id"),
                    F.col(text_col).alias("txt"),
                    F.length(text_col).alias("len"),
                    F.floor(F.length(text_col) / bucket).alias("blk")))
    probe = base.select(
        "id", "txt", "len", "blk",
        F.explode(F.array(F.col("blk"), F.col("blk") + 1)).alias("key"))
    a, b = probe.alias("a"), base.alias("b")
    same = (F.col("a.key") == F.col("b.blk"))
    ordered = F.when(F.col("a.key") == F.col("a.blk"),
                     F.col("a.id") < F.col("b.id")).otherwise(F.lit(True))
    cand = (a.join(b, same & ordered
                   & (F.col("a.id") != F.col("b.id"))
                   & (F.abs(F.col("a.len") - F.col("b.len")) <= max_dist))
            .select(F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
                    F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
                    F.levenshtein(F.col("a.txt"), F.col("b.txt"),
                                  max_dist).alias("dist")))
    return (cand.filter(F.col("dist") >= 0)
            .select("doc_a", "doc_b", F.col("dist").cast("long").alias("dist")))

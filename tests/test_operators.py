"""Unit tests for the north-star operator modules (dedup / similarity /
text) over small in-memory fixtures — complements the DuckDB oracle
coverage in tests/test_oracle.py with targeted semantic checks."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rivulus_spark.operators import dedup, similarity, text


@pytest.fixture()
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (3, "completely different content about spark engines"),
        (4, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ----------------------------------------------------------------------
# text
# ----------------------------------------------------------------------

def test_token_count(docs):
    out = {r.doc_id: r.n for r in
           docs.select("doc_id", text.token_count("text").alias("n")).collect()}
    assert out[0] == 9 and out[4] == 1


def test_token_count_whitespace_corners(spark):
    """Pin token_count's Java-split semantics on the adversarial
    whitespace corners (empty/space-only text is ONE empty field;
    leading/trailing non-space whitespace - trim strips only 0x20 -
    adds an extra empty field under split's limit=-1). These are the
    corners any future reformulation of the count (see the measured
    negative results in token_count's docstring) must reproduce."""
    cases = {"": 1, " ": 1, "   ": 1, "a": 1, "a b": 2, " a  b ": 2,
             "\ta b\n": 4, "\n\n": 2, "a\tb\nc": 3, "\t": 2,
             "x \t y": 2, ".": 1, "1 23 x!": 3, "a ": 1, " a": 1}
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "id long, text string")
    got = {r.text: r.n for r in
           df.select("text", text.token_count("text").alias("n")).collect()}
    assert got == cases


def test_quality_features(docs):
    out = {r.doc_id: r for r in text.quality_features(docs).collect()}
    assert out[4].is_short is True
    assert out[0].n_tokens == 9
    # avg token len of doc 4 ("short") = 5.0
    assert out[4].avg_token_len == 5.0


def test_lang_id(spark):
    df = spark.createDataFrame([
        (0, "it is a truth universally acknowledged"),  # it, is, a -> en
        (1, "the quick brown fox"),                     # only 'the' -> other
        (2, "lorem ipsum dolor sit amet"),
    ], "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in text.lang_id(df).collect()}
    assert out == {0: "en", 1: "other", 2: "other"}


def test_fingerprint_exact_dups_collide(docs):
    out = {r.doc_id: r.fp_md5 for r in text.fingerprint(docs).collect()}
    assert out[0] == out[2]
    assert out[0] != out[1]


# ----------------------------------------------------------------------
# dedup
# ----------------------------------------------------------------------

def test_shingles(spark):
    df = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    got = df.select(dedup.shingles("text").alias("s")).first().s
    assert got == ["a b c", "b c d"]
    short = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    assert short.select(dedup.shingles("text").alias("s")).first().s == []


def test_shingles_match_shingle_rows(spark):
    """Per id, the ``shingles`` array is the set of ``shingle_rows``
    strings: over the sf0.001 documents plus a doc under k tokens, text
    starting with a tab, a null text and two rows sharing one id (whose
    set is the union of both rows')."""
    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    extra = spark.createDataFrame(
        [(-1, "a b"), (-2, "\ta b c d"), (-3, None),
         (-4, "x y z w"), (-4, "p q r x y z")],
        "doc_id long, text string")
    df = corpus.select("doc_id", "text").unionByName(extra)
    arrays = {}
    for r in df.select("doc_id", dedup.shingles("text").alias("s")).collect():
        assert len(r.s) == len(set(r.s))
        arrays.setdefault(r.doc_id, set()).update(r.s)
    rows = {}
    for r in dedup.shingle_rows(df).collect():
        rows.setdefault(r.id, set()).add(r.s)
    assert {i: s for i, s in arrays.items() if s} == rows
    assert arrays[-1] == arrays[-3] == set()
    assert " a b" in arrays[-2]
    assert arrays[-4] == {"x y z", "y z w", "p q r", "q r x", "r x y"}


def test_exact_duplicates(docs):
    out = sorted((r.keep_id, r.n_copies)
                 for r in dedup.exact_duplicates(docs).collect())
    assert (0, 2) in out                       # docs 0 and 2 collapse
    assert sum(n for _, n in out) == 5


def test_ngram_jaccard_pairs(docs):
    out = {(r.doc_a, r.doc_b): r.jacc
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 2)] == 1.0                  # exact dup
    assert 0.5 <= out[(0, 1)] < 1.0            # near dup


def test_ngram_jaccard_relational_matches_brute(docs):
    rel = {(r.doc_a, r.doc_b): r.jacc
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    brute = {(r.doc_a, r.doc_b): r.jacc
             for r in dedup.ngram_jaccard_pairs_brute(docs, threshold=0.1).collect()}
    assert rel == brute
    with pytest.raises(ValueError, match="threshold"):
        dedup.ngram_jaccard_pairs(docs, threshold=0.0)


def test_minhash_lsh_matches_bruteforce(docs):
    lsh = {(r.doc_a, r.doc_b): r.jacc
           for r in dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()}
    brute = {(r.doc_a, r.doc_b): r.jacc
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert lsh == brute


def test_minhash_incremental_matches_full_batch(spark):
    """r7 incremental dedup: delta-vs-(corpus index + delta self)
    emits EXACTLY the full-corpus minhash_lsh_dedup pairs that touch a
    delta doc, oriented new-first with the corpus/batch label —
    corpus-internal duplicates must NOT appear. Also pins the
    precomputed-index path (minhash_band_index) to the in-query one."""
    corpus = spark.createDataFrame([
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "an entirely unrelated corpus document about engines"),
        (2, "the quick brown fox jumps over the lazy dog"),   # corpus dup
        (3, "another unrelated piece of corpus text entirely"),
    ], "doc_id long, text string")
    delta = spark.createDataFrame([
        (10, "the quick brown fox jumps over the lazy cat"),  # ~0, ~2
        (11, "the quick brown fox jumps over the lazy cat"),  # dup of 10
        (12, "fresh never before seen ingest document text"),
    ], "doc_id long, text string")
    got = {(r.doc_new, r.doc_match): (r.jacc, r.match_in)
           for r in dedup.minhash_lsh_dedup_incremental(
               delta, corpus, threshold=0.5).collect()}
    full = {(r.doc_a, r.doc_b): r.jacc
            for r in dedup.minhash_lsh_dedup(
                corpus.union(delta), threshold=0.5).collect()}
    want = {}
    for (a, b), j in full.items():
        a_new, b_new = a >= 10, b >= 10
        if not (a_new or b_new):
            continue  # corpus-internal: incremental must not emit it
        if a_new and b_new:
            want[(max(a, b), min(a, b))] = (j, "batch")
        else:
            nw, old = (a, b) if a_new else (b, a)
            want[(nw, old)] = (j, "corpus")
    assert got == want
    assert (0, 2) not in got and (2, 0) not in got
    assert any(m == "corpus" for _, m in got.values())
    assert got[(11, 10)][1] == "batch"
    idx = dedup.minhash_band_index(corpus)
    via_index = {(r.doc_new, r.doc_match): (r.jacc, r.match_in)
                 for r in dedup.minhash_lsh_dedup_incremental(
                     delta, corpus, index=idx, threshold=0.5).collect()}
    assert via_index == got


def test_minhash_estimate_audit(docs):
    """The estimator audit covers exactly the LSH candidate pairs,
    est_jacc is the exact dyadic n_agree/num_perm (no rounding), and
    a pair of identical docs estimates 1.0 with all slots agreeing."""
    out = dedup.minhash_estimate_audit(docs).collect()
    cand_pairs = {(r.doc_a, r.doc_b) for r in dedup.lsh_candidate_pairs(
        dedup.minhash_signatures(docs)).collect()}
    assert {(r.doc_a, r.doc_b) for r in out} == cand_pairs
    for r in out:
        assert 0 <= r.n_agree <= dedup.NUM_PERM
        assert r.est_jacc == r.n_agree / dedup.NUM_PERM
        assert 0.0 <= r.jacc <= 1.0
    exact = {(r.doc_a, r.doc_b): r.jacc
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.01)
             .collect()}
    for r in out:
        # exact jacc in the audit equals the standalone exact operator
        if (r.doc_a, r.doc_b) in exact:
            assert r.jacc == exact[(r.doc_a, r.doc_b)]
        # identical texts -> full agreement
        if r.jacc == 1.0:
            assert r.n_agree == dedup.NUM_PERM and r.est_jacc == 1.0


def test_minhash_arrow_signatures_match_relational(spark, docs):
    """The map-only Arrow signature pass is bit-identical to the
    relational explode+distinct+group-by form, including Java-vs-
    Python whitespace trap cases: tabs/newlines split (Java \\s),
    NBSP does NOT (unicode \\s would), trim strips ASCII space only,
    and sub-k-token docs emit no row in either form."""
    tricky = spark.createDataFrame(
        [(100, "a\tb\nc d"),            # tabs/newlines are separators
         (101, "a b c d"),          # NBSP is NOT a separator
         (102, "  padded   doc   here "),
         (103, "only two"),              # < k tokens: no signature
         (104, None),
         (None, "null id with real text here")],  # null-id group row
        "doc_id long, text string")
    both = docs.union(tricky)
    rel = {r.id: r.sig for r in dedup.minhash_signatures(both).collect()}
    arrow = {r.id: r.sig for r in
             dedup.minhash_signatures_arrow(both).collect()}
    assert arrow == rel
    assert 103 not in arrow and 104 not in arrow
    assert None in arrow  # r4 ADVICE: NaN id crashed the arrow pass


def test_minhash_lsh_custom_num_perm(docs):
    """num_perm flows from signature building through banding (r1
    ADVICE: banding hardcoded 128 and read past shorter signatures)."""
    out = {(r.doc_a, r.doc_b): r.jacc
           for r in dedup.minhash_lsh_dedup(docs, threshold=0.5,
                                            num_perm=64).collect()}
    brute = {(r.doc_a, r.doc_b): r.jacc
             for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert out == brute  # tiny corpus: banding at 64 perms finds all pairs
    with pytest.raises(ValueError, match="divisible"):
        dedup.lsh_candidate_pairs(
            dedup.minhash_signatures(docs, num_perm=64),
            num_perm=64, rows_per_band=5)


def test_adaptive_minhash_bands_schedule():
    """r8 adaptive banding: at or below the design corpus the layout
    is bit-identical to the historical [4]*32 (so the sf0.01
    brute-force recall oracle and every driver-scale artifact are
    unchanged); above it rows-per-band grows one per decade with
    blended fractional widths, bands shrink to fit the 128-slot
    budget, and widths within a layout differ by at most one."""
    assert dedup.adaptive_minhash_bands(500) == [4] * 32
    assert dedup.adaptive_minhash_bands(50_000) == [4] * 32
    assert dedup.adaptive_minhash_bands(500_000) == [5] * 25
    assert dedup.adaptive_minhash_bands(5_000_000) == [6] * 21
    prev_max = 4
    for n in [120_000, 500_000, 1_700_000, 5_000_000, 10**8, 10**9]:
        w = dedup.adaptive_minhash_bands(n)
        assert sum(w) <= dedup.NUM_PERM
        assert max(w) - min(w) <= 1  # blended: adjacent widths only
        assert w == sorted(w, reverse=True)  # wide bands lead
        assert max(w) >= prev_max  # monotone in corpus size
        prev_max = max(w)


def test_minhash_lsh_adaptive_widths_match_bruteforce(docs):
    """The adaptive layout for a third-decade corpus ([5]*25) must
    still recall every true pair of the toy fixture (near-dups are
    high-Jaccard; per-band collision 0.8^5 over 25 bands misses at
    ~5e-5) — the recall contract adaptive_minhash_bands pins at the
    threshold. Also guards the banding validators."""
    widths = dedup.adaptive_minhash_bands(500_000)
    lsh = {(r.doc_a, r.doc_b): r.jacc
           for r in dedup.minhash_lsh_dedup(
               docs, threshold=0.5, band_widths=widths).collect()}
    brute = {(r.doc_a, r.doc_b): r.jacc
             for r in dedup.ngram_jaccard_pairs(docs,
                                                threshold=0.5).collect()}
    assert lsh == brute
    sigs = dedup.minhash_signatures(docs)
    with pytest.raises(ValueError, match="slots"):
        dedup.lsh_candidate_pairs(sigs, band_widths=[5] * 26)
    with pytest.raises(ValueError, match=">= 1"):
        dedup.lsh_candidate_pairs(sigs, band_widths=[4, 0])


def test_simhash_near_for_near_dups(docs):
    pairs = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_pairs(docs, max_hamming=8).collect()}
    assert pairs[(0, 2)] == 0                  # identical text, identical hash
    assert (0, 1) in pairs                     # near-dup within 8 bits


@pytest.mark.parametrize("max_hamming,n_bits", [(1, 32), (3, 32), (8, 32),
                                                (3, 60), (8, 60)])
def test_simhash_banded_matches_brute(docs, max_hamming, n_bits):
    banded = {(r.doc_a, r.doc_b): r.hamming
              for r in dedup.simhash_pairs(
                  docs, max_hamming=max_hamming, n_bits=n_bits).collect()}
    brute = {(r.doc_a, r.doc_b): r.hamming
             for r in dedup.simhash_pairs_brute(
                 docs, max_hamming=max_hamming, n_bits=n_bits).collect()}
    assert banded == brute


def test_simhash_width_monotone(docs):
    """A 60-bit fingerprint is strictly more discriminative: every
    pair within Hamming k at 60 bits is within k at its 32-bit prefix
    (the low 32 bits are the same votes), so the 60-bit pair set at a
    fixed threshold is a subset of the 32-bit one."""
    p60 = {(r.doc_a, r.doc_b) for r in
           dedup.simhash_pairs(docs, max_hamming=3, n_bits=60).collect()}
    p32 = {(r.doc_a, r.doc_b) for r in
           dedup.simhash_pairs(docs, max_hamming=3, n_bits=32).collect()}
    assert p60 <= p32


# ----------------------------------------------------------------------
# similarity
# ----------------------------------------------------------------------

@pytest.fixture()
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),     # close to 0
        (2, [0.0, 1.0, 0.0]),     # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),    # opposite of 0
        (4, [0.5, 0.5, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_dot_and_norm(spark):
    df = spark.createDataFrame([(1,)], "x long").select(
        similarity.dot(F.array(F.lit(1.0), F.lit(2.0)),
                       F.array(F.lit(3.0), F.lit(4.0))).alias("d"),
        similarity.l2_norm(F.array(F.lit(3.0), F.lit(4.0))).alias("n"))
    r = df.first()
    assert r.d == 11.0 and r.n == 5.0


def test_dot_unrolled_bit_identical_to_fold(spark):
    """The unrolled SQL dot is bit-identical to the dot() fold on
    nonzero sums (same left-to-right summation; verified via the raw
    IEEE bit pattern, which `==` would hide — +0.0 == -0.0). The one
    documented divergence is signed zero: the fold's 0.0 seed maps a
    leading -0.0 product to +0.0. The docstring also records the form
    as measured SLOWER on verify volumes (r6 bisect), so it is not
    used in hot paths."""
    import random
    import struct

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)],
             [rng.uniform(-1, 1) for _ in range(16)])
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>")
    out = df.select(
        similarity.dot(F.col("a"), F.col("b")).alias("fold"),
        similarity.dot_unrolled("a", "b", 16).alias("unrolled")).collect()
    for r in out:
        assert (struct.pack("<d", r.fold)
                == struct.pack("<d", r.unrolled))  # bit parity
    # the signed-zero corner: fold's 0.0 seed normalizes -0.0
    z = spark.createDataFrame(
        [(1, [-0.0], [1.0])], "id long, a array<double>, b array<double>"
    ).select(similarity.dot(F.col("a"), F.col("b")).alias("fold"),
             similarity.dot_unrolled("a", "b", 1).alias("unrolled")).first()
    assert struct.pack("<d", z.fold) == struct.pack("<d", 0.0)
    assert struct.pack("<d", z.unrolled) == struct.pack("<d", -0.0)
    assert z.fold == z.unrolled  # == hides it


def test_knn_cosine_ordering(vecs):
    out = similarity.knn_cosine(vecs, vecs.filter(F.col("vec_id") == 0), k=4)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.n_id for r in rows] == [1, 4, 2, 3]
    assert rows[0].sim == pytest.approx(0.9 / math.hypot(0.9, 0.1), abs=1e-6)
    assert rows[-1].sim == -1.0


def test_neardup_pairs_symmetric_free(vecs):
    out = {(r.id_a, r.id_b) for r in
           similarity.cosine_neardup_pairs(vecs, threshold=0.9).collect()}
    assert (0, 1) in out
    assert all(a < b for a, b in out)


def test_blocked_neardup_matches_fold(vecs):
    """Blocked numpy path == pure-JVM fold path, including complete
    pair coverage (threshold -1 keeps every one of the n*(n-1)/2
    pairs, exercising same-block and both cross-block orientations)."""
    ref = {(r.id_a, r.id_b): r.sim for r in
           similarity.cosine_neardup_pairs(vecs, threshold=-1.0).collect()}
    got = {(r.id_a, r.id_b): r.sim for r in
           similarity.cosine_neardup_pairs_blocked(
               vecs, threshold=-1.0, n_blocks=3).collect()}
    assert len(ref) == 10
    assert got == ref


def test_neardup_lsh_subset_of_exact(vecs):
    """LSH-banded near-dup pairs are a subset of the exact all-pairs
    result carrying identical sims (no false positives; misses only
    pairs whose signatures share no band)."""
    exact = {(r.id_a, r.id_b): r.sim for r in
             similarity.cosine_neardup_pairs(vecs, threshold=0.5).collect()}
    lsh = similarity.cosine_neardup_pairs_lsh(
        vecs, threshold=0.5, dim=3, n_planes=8, n_bands=4).collect()
    assert len(lsh) > 0
    for r in lsh:
        assert exact[(r.id_a, r.id_b)] == r.sim


def test_adaptive_lsh_params_holds_mean_occupancy():
    """r7 blended widths: mean per-band bucket occupancy stays pinned
    near the target for EVERY corpus size (the integer width rule let
    it sawtooth 2x between width steps — the 12.98x sf10 curve point);
    bands grow to hold the design recall but stay capped."""
    import math

    target = 8
    for n in [200, 1_000, 10_000, 123_456, 1_000_000, 10 ** 9]:
        n_planes, bands = similarity.adaptive_lsh_params(n)
        widths = similarity.band_widths(n_planes, bands)
        assert sum(widths) == n_planes
        assert 4 <= bands <= 16
        assert all(4 <= w <= 15 for w in widths)
        assert max(widths) - min(widths) <= 1  # remainder distribution
        occ = sum(n / 2 ** w for w in widths) / bands
        if min(widths) > 4 and max(widths) < 15:
            # away from the width floor/cap the blend holds the mean
            # occupancy within k-rounding of the target (+-1/8)
            assert 0.8 * target <= occ <= 1.25 * target, (n, occ)
        else:
            assert occ <= 1.25 * target or max(widths) == 15
    # small corpora stay at the historical base design point
    assert similarity.adaptive_lsh_params(100) == (16, 4)
    # smoothness across width steps: doubling the corpus (which under
    # the integer rule flipped occupancy 2x at each power-of-2
    # boundary) now keeps mean occupancy inside the k-rounding band —
    # candidate volume scales linearly with n, no sawtooth
    occs = []
    for n in [6_000, 12_000, 24_000, 48_000, 96_000]:
        n_planes, bands = similarity.adaptive_lsh_params(n)
        widths = similarity.band_widths(n_planes, bands)
        occs.append(sum(n / 2 ** w for w in widths) / bands)
    assert max(occs) / min(occs) < 1.35, occs


def test_lsh_numpy_band_path_matches_codegen(vecs):
    """The production Arrow band stage buckets BIT-identically to the
    unrolled JVM-expression reference (_bands_array_expr — the r9
    retired codegen path, kept for exactly this cross-check): same
    planes, same blended-width bit layout, same sequential-fold sign
    decisions, at a dim where the expression form still compiles."""
    widths = similarity.band_widths(8, 4)
    src = vecs.select(F.col("vec_id").alias("id"),
                      F.col("embedding").cast("array<double>").alias("vec"))
    want = sorted(
        (r.id, r.b.bi, r.b.bv) for r in src.select(
            "id", F.explode(similarity._bands_array_expr(
                "vec", 3, widths)).alias("b")).collect())
    got = sorted((r.id, r.bi, r.bv) for r in
                 similarity._band_rows_numpy(src, 3, widths).collect())
    assert got == want and len(want) > 0


def test_adaptive_ann_params_and_probe_masks():
    """Bits track corpus size with bounded occupancy; the radius comes
    from the multiprobe recall model (r8): at the design similarity a
    neighbor is reached through the Hamming ball with >= target
    probability, and the ball never exceeds the mask budget. The
    general-radius probe set has exactly sum C(b, i) distinct masks
    (the old hand-rolled set silently capped at 2-bit flips)."""
    import math

    prev = 0
    for n in [100, 1_000, 100_000, 10 ** 9]:
        bits, radius = similarity.adaptive_ann_params(n)
        assert (n >> bits) <= 16 or bits == 15
        n_masks = sum(math.comb(bits, i) for i in range(radius + 1))
        assert n_masks <= 600
        assert (similarity._hamming_le(
                    bits, math.acos(0.85) / math.pi, radius) >= 0.9
                or sum(math.comb(bits, i)
                       for i in range(radius + 2)) > 600)
        assert bits >= prev
        prev = bits
    # no parameter sawtooth at the 15-bit width cap: radius holds at 3
    b15, r15 = similarity.adaptive_ann_params(2_000_000)
    assert (b15, r15) == (15, 3)
    m1 = similarity.probe_masks(8, 1)
    assert len(m1) == len(set(m1)) == 9 and m1[0] == 0
    m2 = similarity.probe_masks(8, 2)
    assert len(m2) == len(set(m2)) == 1 + 8 + 28
    m3 = similarity.probe_masks(8, 3)
    assert len(m3) == len(set(m3)) == 1 + 8 + 28 + 56
    assert set(m2) < set(m3)  # the ball only grows
    assert all(bin(m).count("1") <= 3 for m in m3)


def test_multiprobe_recall_model_holds_at_design_sim(spark):
    """Empirical check of the r8 recall-model claim that the measured
    curve could not validate (the testdata's exact top-5 sits at
    cos ~0.5, below the design point): plant 60 pairs at >= the 0.85
    design similarity among background noise, index with the exact
    adaptive_ann_params the 20k-row corpus tier would get (11 bits,
    radius 3), and require the Hamming-ball multiprobe to retrieve
    >= 85% of the planted partners (model: >= 0.9; margin for the
    finite per-pair sample). Deterministic inputs — no flaky seeds."""
    import math

    import numpy as np

    rng = np.random.RandomState(7)
    dim, n_pairs = 16, 60
    rows = []
    for i in range(n_pairs):
        a = rng.randn(dim)
        a /= np.linalg.norm(a)
        noise = rng.randn(dim) * 0.22  # cos(a, a+noise) ~ 0.9
        b = a + noise
        b /= np.linalg.norm(b)
        if float(a @ b) < 0.85:  # keep every pair at/above design sim
            b = a + noise * 0.5
            b /= np.linalg.norm(b)
        rows.append((2 * i, [float(x) for x in a]))
        rows.append((2 * i + 1, [float(x) for x in b]))
    for j in range(400):  # background
        v = rng.randn(dim)
        v /= np.linalg.norm(v)
        rows.append((1000 + j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    bits, radius = similarity.adaptive_ann_params(20_000)
    assert bits == 11 and radius >= 3  # the 600-mask budget tier
    queries = df.filter((F.col("vec_id") < 2 * n_pairs)
                        & (F.col("vec_id") % 2 == 0))
    got = similarity.ann_cosine_lsh_multiprobe(
        df, queries, k=5, dim=dim, n_planes=bits, radius=radius)
    hits = {(r.q_id, r.n_id) for r in got.collect()}
    found = sum((2 * i, 2 * i + 1) in hits for i in range(n_pairs))
    # the planted partner is the true nearest neighbor; missing it
    # means the Hamming ball failed to reach the partner's bucket
    assert found >= math.floor(0.85 * n_pairs), \
        f"design-sim recall {found}/{n_pairs} below the model's 0.9"


def test_adaptive_ivf_params():
    """stride ~ sqrt(n) keeps nlist near sqrt(n); nprobe scales with
    nlist so the probed corpus fraction is pinned (r8 — the fixed
    (64, 2) let recall decay linearly with corpus growth)."""
    import math

    for n in [500, 20_000, 200_000, 2_000_000]:
        stride, nprobe = similarity.adaptive_ivf_params(n)
        nlist = n // stride
        assert abs(stride - math.isqrt(n)) <= 16
        assert nprobe >= 2
        # probed fraction ~ nprobe/nlist stays in a fixed band
        assert nprobe / max(nlist, 1) <= 0.30


def test_ann_multiprobe_supersets_exact_bucket(vecs):
    """Radius-0 multiprobe equals the exact-bucket ANN; radius 1 can
    only add candidates, and every returned sim is the exact cosine."""
    base = {(r.q_id, r.n_id): r.sim for r in
            similarity.ann_cosine_lsh(
                vecs, vecs.filter(F.col("vec_id") < 2), k=5, dim=3,
                n_planes=4).collect()}
    r0 = {(r.q_id, r.n_id): r.sim for r in
          similarity.ann_cosine_lsh_multiprobe(
              vecs, vecs.filter(F.col("vec_id") < 2), k=5, dim=3,
              n_planes=4, radius=0).collect()}
    assert r0 == base
    r1 = similarity.ann_cosine_lsh_multiprobe(
        vecs, vecs.filter(F.col("vec_id") < 2), k=5, dim=3,
        n_planes=4, radius=1).collect()
    exact = {(r.id_a, r.id_b): r.sim for r in
             similarity.cosine_neardup_pairs(vecs, threshold=-1.0).collect()}
    assert len(r1) >= len(r0)
    for r in r1:
        key = (min(r.q_id, r.n_id), max(r.q_id, r.n_id))
        assert exact[key] == r.sim


def test_ann_lsh_subset_of_exact(vecs):
    """ANN results are exact cosines, ranked within buckets — every
    returned neighbor must carry the same sim the exact path computes."""
    exact = {(r.q_id, r.n_id): r.sim for r in
             similarity.knn_cosine(vecs, vecs, k=4).collect()}
    ann = similarity.ann_cosine_lsh(vecs, vecs, k=4, dim=3, n_planes=4)
    for r in ann.collect():
        assert exact[(r.q_id, r.n_id)] == r.sim


# ----------------------------------------------------------------------
# skew-aware aggregation
# ----------------------------------------------------------------------

def test_salted_agg_matches_direct(spark):
    from rivulus_spark.operators import skew

    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    got = {r.o_custkey: (r.n_orders, round(r.total_spend, 6))
           for r in skew.salted_agg(
               orders, ["o_custkey"],
               {"n_orders": ("count", "*"),
                "total_spend": ("sum", "o_totalprice")}).collect()}
    ref = {r.o_custkey: (r.n, round(r.t, 6))
           for r in orders.groupBy("o_custkey")
           .agg(F.count("*").alias("n"), F.sum("o_totalprice").alias("t"))
           .collect()}
    assert got.keys() == ref.keys()
    for k in ref:
        assert got[k][0] == ref[k][0]
        assert abs(got[k][1] - ref[k][1]) < 1e-4


def test_salted_agg_rejects_unknown_op(spark):
    from rivulus_spark.operators import skew

    df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    with pytest.raises(ValueError, match="op must be"):
        skew.salted_agg(df, ["k"], {"a": ("avg", "v")})


def test_bpe_token_count(spark):
    df = spark.createDataFrame([(0, "don't stop 123 now!!"), (1, "")],
                               "doc_id long, text string")
    out = {r.doc_id: r.n for r in df.select(
        "doc_id", text.bpe_token_count("text").alias("n")).collect()}
    assert out == {0: 8, 1: 0}


# ----------------------------------------------------------------------
# curation pipeline
# ----------------------------------------------------------------------

def test_curate_corpus_rules(spark):
    from rivulus_spark.operators import pipeline

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, base + " lambda mu"),          # survives
        (1, base + " lambda mu"),          # exact dup of 0 -> dropped
        (2, base + " lambda nu"),          # near dup of 0 -> dropped (larger id)
        (3, "tiny doc"),                   # fails quality -> dropped
        (4, " ".join(f"w{i}" for i in range(30))),  # distinct -> survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pipeline.curate_corpus(df, min_tokens=10, near_threshold=0.5)
    kept = {r.doc_id: r for r in out.collect()}
    assert set(kept) == {0, 4}
    assert kept[0].n_tokens == 12
    stats = pipeline.corpus_stats(out).first()
    assert stats.n_docs == 2
    assert stats.total_tokens == 12 + 30


# ----------------------------------------------------------------------
# as-of join
# ----------------------------------------------------------------------

def test_asof_join_backward(spark):
    from rivulus_spark.operators import asof

    trades = spark.createDataFrame(
        [(1, 10, "t10"), (1, 20, "t20"), (1, 5, "t5"), (2, 7, "t7")],
        "user long, ts long, tag string")
    quotes = spark.createDataFrame(
        [(1, 8, 1.0), (1, 20, 2.0), (1, 15, 3.0), (3, 1, 9.0)],
        "user long, ts long, px double")
    out = {(r.user, r.ts): r.px for r in
           asof.asof_join(trades, quotes, on="ts", by=["user"]).collect()}
    assert out[(1, 5)] is None          # no quote at or before 5
    assert out[(1, 10)] == 1.0          # quote@8
    assert out[(1, 20)] == 2.0          # tie: quote@20 matches (<=)
    assert out[(2, 7)] is None          # user 2 has no quotes
    # left extra columns survive
    rows = asof.asof_join(trades, quotes, on="ts", by=["user"]).collect()
    assert {r.tag for r in rows} == {"t10", "t20", "t5", "t7"}


def test_range_join_banded_matches_bruteforce(spark):
    """The band-bucketed equi-join must return exactly the pairs a
    naive inequality join would, across bucket boundaries and negative
    offsets."""
    import itertools
    import random

    from rivulus_spark.operators import asof

    rng = random.Random(7)
    lrows = [(i, rng.choice([1, 2]), rng.randrange(0, 200)) for i in range(30)]
    rrows = [(j, rng.choice([1, 2, 3]), rng.randrange(0, 200)) for j in range(40)]
    left = spark.createDataFrame(lrows, "lid long, user long, ts long")
    right = spark.createDataFrame(rrows, "rid long, user long, ts long")

    lower, upper = -25, 10
    got = {(r.lid, r.rid) for r in
           asof.range_join(left, right, by=["user"], left_on="ts",
                           right_on="ts", lower=lower, upper=upper).collect()}
    want = {(lid, rid)
            for (lid, lu, lts), (rid, ru, rts)
            in itertools.product(lrows, rrows)
            if lu == ru and lts + lower <= rts <= lts + upper}
    assert got == want


def test_range_join_renames_collisions(spark):
    from rivulus_spark.operators import asof

    left = spark.createDataFrame([(0, 1, 100)], "lid long, user long, ts long")
    right = spark.createDataFrame([(9, 1, 105)], "rid long, user long, ts long")
    out = asof.range_join(left, right, by=["user"], left_on="ts",
                          right_on="ts", lower=0, upper=10)
    assert set(out.columns) == {"lid", "user", "ts", "rid", "ts_right"}
    row = out.first()
    assert (row.ts, row.ts_right, row.rid) == (100, 105, 9)


def test_ivf_assign_cells_nearest(spark, vecs):
    cents = vecs.filter(F.col("vec_id").isin(0, 2))
    out = {r.id: r.cell for r in
           similarity.ivf_assign_cells(vecs, cents).collect()}
    assert out[0] == 0 and out[1] == 0       # (0.9,0.1,0) nearest to x-axis
    assert out[2] == 2                       # y-axis vector to y centroid
    assert out[3] == 2                       # (-1,0,0): cos -1 vs 0 -> cell 2
    assert out[4] in (0, 2)                  # diagonal ties at cos 0.707...


def test_ivf_topk_subset_of_exact(spark, vecs):
    """Within probed cells the ranking must agree with exact knn."""
    qs = vecs.filter(F.col("vec_id") == 0)
    ivf = similarity.ivf_ann_topk(vecs, qs, k=3, stride=2, nprobe=2).collect()
    exact = {(r.q_id, r.n_id): r.sim
             for r in similarity.knn_cosine(vecs, qs, k=4).collect()}
    assert len(ivf) > 0
    for r in ivf:
        assert exact[(r.q_id, r.n_id)] == r.sim


def test_asof_join_rejects_collisions(spark):
    from rivulus_spark.operators import asof

    l = spark.createDataFrame([(1, 1, 2.0)], "user long, ts long, px double")
    r = spark.createDataFrame([(1, 1, 3.0)], "user long, ts long, px double")
    with pytest.raises(ValueError, match="collide"):
        asof.asof_join(l, r, on="ts", by=["user"])


def test_eq_null_safe(spark):
    from rivulus_spark import LazyFrame, col, lit

    lf = LazyFrame.from_dataframe(spark, {"x": [1, None, 3],
                                          "y": [1, None, 4]})
    out = lf.select(col("x").eq_null_safe(col("y")).alias("e")).collect()
    assert [r.e for r in out] == [True, True, False]
    # plain eq keeps SQL three-valued logic: null == null -> null
    out2 = lf.select((col("x") == col("y")).alias("e")).collect()
    assert [r.e for r in out2] == [True, None, False]


# ----------------------------------------------------------------------
# sketches
# ----------------------------------------------------------------------

def test_exact_quantiles_interpolation(spark):
    from rivulus_spark.operators import sketch

    df = spark.createDataFrame([(float(v),) for v in range(1, 11)], "x double")
    row = sketch.exact_quantiles(df, "x", [0.5, 0.9]).first()
    assert row.p05 == 5.5          # PERCENTILE_CONT midpoint
    assert row.p09 == 9.1          # 1 + 0.9*9 = 9.1

def test_heavy_hitters_exact(spark):
    from rivulus_spark.operators import sketch

    vals = [1] * 5 + [2] * 3 + [3] * 3 + [4]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    out = [(r.value, r.n, r.rank) for r in
           sketch.heavy_hitters(df, "k", 3).orderBy("rank").collect()]
    assert out == [(1, 5, 1), (2, 3, 2), (3, 3, 3)]  # tie broken by value

def test_approx_distinct_close(spark):
    from rivulus_spark.operators import sketch

    df = spark.range(0, 10_000).selectExpr("id % 100 AS a", "id AS b")
    row = sketch.approx_distinct(df, ["a", "b"], rsd=0.02).first()
    assert abs(row.approx_distinct_a - 100) <= 5
    assert abs(row.approx_distinct_b - 10_000) <= 600

def test_column_profile_shape(spark):
    from rivulus_spark.operators import sketch

    df = spark.createDataFrame([(1, "x"), (2, None), (3, "z")],
                               "a long, s string")
    out = {r.column: r for r in sketch.column_profile(df, ["a", "s"]).collect()}
    assert out["a"].n_non_null == 3 and out["s"].n_non_null == 2
    assert out["a"].min_str == "1" and out["a"].max_str == "3"


def test_punct_and_stopword_ratio(spark):
    df = spark.createDataFrame(
        [(0, "the cat, the hat!"),       # 2 punct/14 nonspace; 2 stop/4 toks
         (1, "no stops here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in text.quality_features(df).collect()}
    assert out[0].punct_ratio == pytest.approx(0.142, abs=1e-9)  # floor(2/14*1000)/1000
    assert out[0].stopword_ratio == 0.5
    assert out[1].stopword_ratio == 0.0


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame(
        [(0, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
         (1, "a b")],                                 # shorter than window
        "doc_id long, text string")
    out = text.chunk_documents(df, max_tokens=4, overlap=1)
    rows = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_chunk_tokens)
            for r in out.collect()}
    # doc 0: stride 3, starts 0,3,6 (last start <= n-overlap-1 = 8)
    assert rows[(0, 0)] == ("t0 t1 t2 t3", 4)
    assert rows[(0, 1)] == ("t3 t4 t5 t6", 4)
    assert rows[(0, 2)] == ("t6 t7 t8 t9", 4)
    assert (0, 3) not in rows
    assert rows[(1, 0)] == ("a b", 2)
    with pytest.raises(ValueError, match="overlap"):
        text.chunk_documents(df, max_tokens=4, overlap=4)


# ----------------------------------------------------------------------
# k-means clustering
# ----------------------------------------------------------------------

def test_kmeans_recovers_separated_clusters(spark):
    from rivulus_spark.operators import cluster

    # two tight clusters on orthogonal axes + deliberately bad init
    # (both init centroids inside cluster one); Lloyd must move one
    # centroid across to the y-cluster within a few iterations
    rows = [(i, [10.0 + (i % 3) * 0.1, 0.1 * (i % 2), 0.0])
            for i in range(10)]
    rows += [(100 + i, [0.1 * (i % 2), 8.0 + (i % 3) * 0.1, 0.0])
             for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = df.filter(F.col("vec_id").isin(0, 100))
    cents = cluster.kmeans_train(df, init, dim=3, n_iters=3)
    got = {r.cid: r.cvec for r in cents.collect()}
    assert len(got) == 2
    # one centroid per cluster: x-dominant and y-dominant
    dominant = sorted(("x" if v[0] > v[1] else "y") for v in got.values())
    assert dominant == ["x", "y"]
    sizes = {r.cell: r.n_members
             for r in cluster.kmeans_cluster_sizes(df, init, dim=3,
                                                   n_iters=3).collect()}
    assert sorted(sizes.values()) == [10, 10]


def test_kmeans_empty_cell_keeps_centroid(spark):
    from rivulus_spark.operators import cluster

    # every point is nearest init centroid 0; centroid 1 must survive
    # untouched instead of vanishing or going NaN
    rows = [(i, [5.0, 0.0]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = spark.createDataFrame([(0, [1.0, 0.0]), (1, [-1.0, 0.0])],
                                 "vec_id long, embedding array<double>")
    cents = {r.cid: r.cvec for r in
             cluster.kmeans_train(df, init, dim=2, n_iters=2).collect()}
    assert len(cents) == 2
    assert cents[1] == [-1.0, 0.0]
    assert cents[0] == [5.0, 0.0]


# ----------------------------------------------------------------------
# deterministic sampling
# ----------------------------------------------------------------------

def test_hash_sample_deterministic_and_partition_invariant(spark):
    from rivulus_spark.operators import sample

    df = spark.range(0, 2000, 1, 8).withColumnRenamed("id", "k")
    a = {r.k for r in sample.hash_sample(df, 0.3, "k").collect()}
    b = {r.k for r in
         sample.hash_sample(df.repartition(3), 0.3, "k").collect()}
    assert a == b                      # partitioning-invariant
    assert 0.2 < len(a) / 2000 < 0.4   # near the nominal rate
    c = {r.k for r in sample.hash_sample(df, 0.3, "k", seed="s2").collect()}
    assert c != a                      # independent redraw per seed


def test_stratified_rates_respected(spark):
    from rivulus_spark.operators import sample

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = sample.stratified_hash_sample(df, "g", {"a": 1.0}, "k",
                                        default_rate=0.0)
    got = {r.g for r in out.collect()}
    assert got == {"a"}
    assert out.count() == 1000
    with pytest.raises(ValueError, match="rate"):
        sample.hash_sample(df, 1.5, "k")


def test_token_budget_waterfill_properties(spark):
    from rivulus_spark.operators import sample

    rows = [(0, "tiny", 10), (1, "small", 100), (2, "big", 10_000),
            (3, "huge", 50_000)]
    df = spark.createDataFrame(rows, "id long, src string, toks long")
    plan = {r.stratum: r for r in
            sample.token_budget_plan(df, "src", "toks",
                                     budget=1_000).collect()}
    # small strata contribute everything; the rest split the remainder
    assert plan["tiny"].alloc_tokens == 10
    assert plan["small"].alloc_tokens == 100
    assert plan["big"].alloc_tokens == plan["huge"].alloc_tokens == 445
    total = sum(r.alloc_tokens for r in plan.values())
    assert 1_000 - 2 <= total <= 1_000          # floor slack only
    # budget >= total mass: keep the whole corpus
    full = {r.stratum: r for r in
            sample.token_budget_plan(df, "src", "toks",
                                     budget=10**9).collect()}
    assert all(r.alloc_tokens == r.avail_tokens and r.rate == 1.0
               for r in full.values())


def test_dataset_diff_statuses_and_carry(spark):
    """Per-doc snapshot diff: added/removed/changed/unchanged are
    classified from the fingerprint full-outer join; carry columns
    come from the NEW side, falling back to the old side for removed
    docs. Composite fingerprints (Column arg) flag a metadata-only
    change the text fingerprint misses."""
    from rivulus_spark.operators import snapshot

    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, "c", "s2")],
        "doc_id long, text string, source string")
    new = spark.createDataFrame(
        [(2, "b2", "s1"), (3, "c", "s9"), (4, "d", "s3")],
        "doc_id long, text string, source string")
    d = {r.doc_id: (r.status, r.source) for r in
         snapshot.dataset_diff(old, new, carry_cols=["source"]).collect()}
    assert d == {1: ("removed", "s1"), 2: ("changed", "s1"),
                 3: ("unchanged", "s9"), 4: ("added", "s3")}
    comp = {r.doc_id: r.status for r in snapshot.dataset_diff(
        old, new,
        fingerprint=F.concat_ws("|", "text", "source")).collect()}
    assert comp[3] == "changed"  # source flip caught by composite fp
    rep = {(r.source, r.status): r.n_docs for r in
           snapshot.diff_report(old, new, by=["source"]).collect()}
    assert rep[("s1", "removed")] == 1 and rep[("s3", "added")] == 1


def _winnow_reference(text: str, k: int, w: int) -> set:
    """Independent plain-winnowing reference (Schleimer et al. 2003,
    Fig. 5 semantics): every window of w consecutive k-gram hashes
    selects its rightmost minimal hash; short docs (< w grams) winnow
    their single whole-doc window."""
    import hashlib
    import re

    toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
    grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 2**32
          for g in grams]
    if not hs:
        return set()
    sel = set()
    ends = range(w - 1, len(hs)) if len(hs) >= w else [len(hs) - 1]
    for e in ends:
        lo = max(0, e - w + 1)
        window = hs[lo:e + 1]
        m = min(window)
        # rightmost occurrence of the min
        pos = lo + max(i for i, h in enumerate(window) if h == m)
        sel.add((pos, m))
    return sel


def test_winnow_fingerprints_matches_reference(spark):
    """The relational winnower (packed-key bounded-window min) must
    equal the textbook sequential algorithm exactly — positions,
    hashes, tie handling (repeated grams), and the short-doc
    whole-window case — over a mixed corpus including pathological
    repetition."""
    docs = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "a b a b a b a b a b"),        # equal-hash ties everywhere
        (2, "x y z"),                       # exactly one gram (< w)
        (3, "p q r s"),                     # two grams (< w)
        (4, "one two three four five six seven eight nine ten"),
        (5, "a a a a a a a a"),             # single repeated gram
    ]
    from rivulus_spark.operators import dedup

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in dedup.winnow_fingerprints(df, k=3, w=4).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.h))
    exp = {i: _winnow_reference(t, 3, 4) for i, t in docs}
    exp = {i: s for i, s in exp.items() if s}
    assert got == exp
    # density sanity on the long doc: far fewer picks than grams
    assert 1 <= len(got[0]) <= len(docs[0][1].split()) - 2


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing THEOREM: two docs sharing a token run of length
    >= w+k-1 share at least one selected (hash) fingerprint."""
    from rivulus_spark.operators import dedup

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = w+k-1
    df = spark.createDataFrame([
        (0, "intro words here " + shared + " trailing stuff"),
        (1, shared + " completely different ending tokens"),
    ], "doc_id long, text string")
    by_doc = {}
    for r in dedup.winnow_fingerprints(df, k=3, w=4).collect():
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    assert by_doc[0] & by_doc[1]


def test_containment_pairs_asymmetric(spark):
    """Containment catches what Jaccard under-scores: a small doc
    fully inside a big one scores 1.0 in its direction and only
    |A∩B|/|B| in the container's; the threshold applies to the
    floored value per direction."""
    from rivulus_spark.operators import dedup

    docs = spark.createDataFrame([
        (0, "a b c d e f"),   # shingles {abc,bcd,cde,def}
        (1, "a b c d"),       # {abc,bcd} — fully inside doc 0
        (2, "x y z w"),       # disjoint
    ], "doc_id long, text string")
    got = {(r.doc_id, r.container_id): (r.n_inter, r.containment)
           for r in dedup.containment_pairs(docs, threshold=0.5,
                                            k=3).collect()}
    assert got == {(1, 0): (2, 1.0), (0, 1): (2, 0.5)}
    tight = {(r.doc_id, r.container_id) for r in
             dedup.containment_pairs(docs, threshold=0.6, k=3).collect()}
    assert tight == {(1, 0)}   # the container direction falls below


def test_centroid_drift_hand_vectors(spark):
    """Per-label centroid cosine: identical mean directions score 1.0,
    a vanished label reports null cos with its n_old/n_new counts."""
    from rivulus_spark.operators import similarity

    old = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [1.0, 1.0])],
        "label int, embedding array<double>")
    new = spark.createDataFrame(
        [(0, [1.0, 1.0])],                  # mean dir equals old's
        "label int, embedding array<double>")
    got = {r.label: r for r in
           similarity.centroid_drift(old, new).collect()}
    a = got[0]
    assert (a.n_old, a.n_new, a.centroid_cos) == (2, 1, 1.0)
    b = got[1]                               # vanished label
    assert (b.n_old, b.n_new, b.centroid_cos) == (1, 0, None)


def test_winnow_overlap_pairs_guarantee_and_threshold(spark):
    """Pairs sharing a >= w+k-1 token run must surface; min_shared
    thresholds the single-boilerplate-hit tail; shared counts equal
    the intersection of the docs' reference fingerprint hash sets."""
    from rivulus_spark.operators import dedup

    run = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [(0, "start padding words " + run),
            (1, run + " other trailing content here"),
            (2, "totally unrelated text about nothing shared")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.n_shared for r in
           dedup.winnow_overlap_pairs(df, k=3, w=4,
                                      min_shared=1).collect()}
    assert (0, 1) in got and not any(2 in p for p in got)
    ref = {i: {h for _, h in _winnow_reference(t, 3, 4)}
           for i, t in docs}
    assert got[(0, 1)] == len(ref[0] & ref[1])
    # raising min_shared above the intersection drops the pair
    none = dedup.winnow_overlap_pairs(
        df, k=3, w=4, min_shared=got[(0, 1)] + 1).collect()
    assert none == []


def test_duplication_scores_hand_corpus(spark):
    """Per-doc dup fraction: a shingle shared by two docs marks both
    (corpus-wide doc-frequency >= 2), unique shingles don't, and docs
    shorter than k tokens vanish (no shingles, no row)."""
    from rivulus_spark.operators import dedup

    docs = spark.createDataFrame([
        (0, "a b c d"),        # shingles {a b c, b c d}
        (1, "a b c e"),        # {a b c, b c e} — shares 'a b c' with 0
        (2, "x y z w q"),      # 3 unique shingles
        (3, "a b"),            # too short: no row
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in
           dedup.duplication_scores(docs, k=3).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0].n_shingles, got[0].dup_shingles, got[0].dup_frac) \
        == (2, 1, 0.5)
    assert (got[1].n_shingles, got[1].dup_shingles, got[1].dup_frac) \
        == (2, 1, 0.5)
    assert (got[2].n_shingles, got[2].dup_shingles, got[2].dup_frac) \
        == (3, 0, 0.0)


def test_overlap_severity_hand_corpus(spark):
    """Severity = leaked-shingle fraction per train doc: a one-shingle
    graze scores 0.5 on a 2-shingle doc, a wholesale eval copy scores
    1.0, an untouched doc emits no row."""
    from rivulus_spark.operators import contamination

    train = spark.createDataFrame([
        (0, "a b c d"),        # {a b c, b c d} — shares 'b c d'
        (1, "p q r s t"),      # disjoint from eval
        (2, "b c d e"),        # exact eval copy
    ], "doc_id long, text string")
    ev = spark.createDataFrame([(100, "b c d e")],
                               "doc_id long, text string")
    got = {r.doc_id: r for r in
           contamination.overlap_severity(train, ev, k=3).collect()}
    assert set(got) == {0, 2}
    assert (got[0].n_shingles, got[0].n_shared, got[0].overlap_frac) \
        == (2, 1, 0.5)
    assert (got[2].n_shingles, got[2].n_shared, got[2].overlap_frac) \
        == (2, 2, 1.0)


def test_pmi_collocations_hand_corpus(spark):
    """Hand-checked PMI on one doc 'a a a a b': unigrams a:4 b:1
    (N=5), bigrams 'a a':3 'a b':1 (M=4); PMI('a b') = ln(.25/.16) >
    PMI('a a') = ln(.75/.64), both via the ln-sum form; min_count
    drops the singleton pair."""
    import math as m

    from rivulus_spark.operators import text as text_ops

    docs = spark.createDataFrame([(0, "a a a a b")],
                                 "doc_id long, text string")
    got = {r.bigram: r for r in text_ops.pmi_collocations(
        docs, k=10, min_count=1).collect()}
    assert set(got) == {"a a", "a b"}

    def pmi(cxy, cx, cy, n, mm):
        v = (m.log(cxy) - m.log(mm) - m.log(cx) - m.log(cy)
             + 2.0 * m.log(n))
        return m.floor(v * 1_000_000) / 1_000_000

    assert got["a a"].pair_count == 3
    assert got["a a"].pmi == pmi(3, 4, 4, 5, 4)
    assert got["a b"].pmi == pmi(1, 4, 1, 5, 4)
    assert got["a b"].rank == 1 and got["a a"].rank == 2  # higher PMI
    # min_count guard: the singleton 'a b' pair is cut
    only = text_ops.pmi_collocations(docs, k=10, min_count=2).collect()
    assert [r.bigram for r in only] == ["a a"]


def test_wordlm_score_hand_model(spark):
    """Hand-checked stupid backoff: seen transitions score
    c(prev w)/c(prev), unseen ones fall back to alpha·(c(w)+1)/(N+V)
    with the add-one floor covering OOV words; short docs emit no
    row."""
    import math as m

    import pytest as pt

    from rivulus_spark.operators import lm

    train = spark.createDataFrame([(0, "a b a c")],
                                  "doc_id long, text string")
    score = spark.createDataFrame([(1, "a b x"), (2, "solo")],
                                  "doc_id long, text string")
    # model: uni a2 b1 c1 (N=4, V=3); bigrams (a,b)(b,a)(a,c) all 1
    got = {r.doc_id: r for r in
           lm.wordlm_score(score, train_df=train).collect()}
    assert set(got) == {1}               # 'solo' has no transitions
    r = got[1]
    assert r.n_transitions == 2
    want = (m.log(1 / 2)                     # (a,b): 1 / c(a)=2
            + m.log(0.4 * (0 + 1) / (4 + 3))  # (b,x): OOV backoff
            ) / 2
    assert r.wordlm_logprob == pt.approx(want, rel=1e-12)
    # self-trained: every transition seen
    self_scored = {r.doc_id: r for r in
                   lm.wordlm_score(train).collect()}
    want0 = (m.log(1 / 2) + m.log(1 / 1) + m.log(1 / 2)) / 3
    assert self_scored[0].wordlm_logprob == pt.approx(want0, rel=1e-12)


def test_population_stability_empty_side_alarms(spark):
    """Regression (r8): an empty snapshot side — or a group that
    vanished from one release — must produce maximal-drift rows, not a
    DIVIDE_BY_ZERO crash (Spark 4 ANSI). Masses on the empty side are
    0 and eps drives the terms."""
    import math as m

    from rivulus_spark.operators import snapshot

    old = spark.createDataFrame([("A", 1), ("A", 5), ("B", 2)],
                                "source string, v long")
    # source B vanishes from the new release entirely
    new = spark.createDataFrame([("A", 1), ("A", 5)],
                                "source string, v long")
    got = {(r.source, r.bin): r for r in snapshot.population_stability(
        old, new, "v", group_col="source").collect()}
    b = got[("B", 1)]                    # v=2 -> bin 1
    assert (b.p_old, b.p_new) == (1.0, 0.0)
    assert b.psi_term == m.floor((1e-4 - 1.0) * m.log(1e-4 / 1.0)
                                 * 1e6) / 1e6
    assert all(r.psi_term == 0.0 for k, r in got.items() if k[0] == "A")
    # a completely empty new snapshot: every group alarms, none crash
    empty = spark.createDataFrame([], "source string, v long")
    rows = snapshot.population_stability(old, empty, "v",
                                         group_col="source").collect()
    assert rows and all(r.p_new == 0.0 and r.psi_term > 2 for r in rows)


def test_zipf_slope_perfect_law_and_degenerate(spark):
    """A source whose counts are exactly 12/r fits slope -1 (within
    one floor-3 ulp of the exact fit); a single-term source emits a
    null slope instead of an ANSI divide-by-zero."""
    from rivulus_spark.operators import stats

    # counts 12,6,4,3 = 12/r for r=1..4 — exact integer Zipf
    zipf_text = " ".join(["w1"] * 12 + ["w2"] * 6 + ["w3"] * 4
                         + ["w4"] * 3)
    docs = spark.createDataFrame(
        [("Z", zipf_text), ("D", "only only only")],
        "source string, text string")
    got = {r.source: r for r in stats.zipf_slope(docs, k=10).collect()}
    z = got["Z"]
    assert z.n_terms == 4
    assert -1.001 <= z.zipf_slope <= -1.0   # exact fit is -1; fp ulp
    d = got["D"]                            # one distinct term
    assert d.n_terms == 1 and d.zipf_slope is None


def test_vocabulary_diff_statuses(spark):
    """Hand-checked churn: added/vanished/grew/shrunk/stable classify
    by exact integer thresholds (ratio >= 1.5 / <= 2/3), added terms
    carry a null ratio (no ANSI divide), and sub-min_count terms on
    BOTH sides are cut."""
    from rivulus_spark.operators import snapshot

    old = spark.createDataFrame(
        [("a a a a a b gone gone gone gone gone same same same same same",)],
        "text string")
    new = spark.createDataFrame(
        [("a a a a a a a a c c c c c same same same same same",)],
        "text string")
    got = {r.term: r for r in
           snapshot.vocabulary_diff(old, new, min_count=5).collect()}
    assert set(got) == {"a", "gone", "c", "same"}   # b: max count 1
    assert (got["a"].status, got["a"].ratio) == ("grew", 1.6)
    assert (got["gone"].status, got["gone"].ratio) == ("vanished", 0.0)
    assert got["c"].status == "added" and got["c"].ratio is None
    assert (got["same"].status, got["same"].ratio) == ("stable", 1.0)


def test_source_term_divergence_hand_corpus(spark):
    """Hand-checked JS terms: masses are exact integer-count ratios, a
    bucket a source lacks still emits a row whose term is exactly
    q/2·ln2 (no eps), and sum(js_term) is 0 only for a source whose
    mix equals the corpus."""
    import math as m

    from rivulus_spark.operators import snapshot

    docs = spark.createDataFrame([
        ("A", "x x y"),
        ("B", "x z"),
    ], "source string, text string")
    got = {(r.source, r.bucket): r for r in
           snapshot.source_term_divergence(docs, v=10).collect()}
    # global: x3 y1 z1 (total 5) -> q = .6/.2/.2; no <other> bucket
    assert set(got) == {("A", "x"), ("A", "y"), ("A", "z"),
                        ("B", "x"), ("B", "y"), ("B", "z")}

    def js(n, p, q):
        mm = (p + q) / 2
        t = ((p * m.log(p / mm) / 2 if n > 0 else 0.0)
             + q * m.log(q / mm) / 2)
        return m.floor(t * 1_000_000) / 1_000_000

    f6 = lambda x: m.floor(x * 1_000_000) / 1_000_000  # noqa: E731
    a_x = got[("A", "x")]
    assert (a_x.p, a_x.q) == (f6(2 / 3), 0.6)
    assert a_x.js_term == js(2, 2 / 3, 0.6)
    a_z = got[("A", "z")]                 # absent bucket: p = 0
    assert (a_z.p, a_z.q) == (0.0, 0.2)
    assert a_z.js_term == js(0, 0.0, 0.2) == f6(0.2 * m.log(2) / 2)
    b_y = got[("B", "y")]
    assert b_y.js_term == js(0, 0.0, 0.2)
    assert got[("B", "x")].js_term == js(1, 0.5, 0.6)


def test_source_term_divergence_other_bucket(spark):
    """Tail terms past the top-v cut collapse into the space-
    containing tail sentinel (collision-proof: no whitespace-split
    token contains a space), and a
    source identical to the corpus (the only source) scores 0
    everywhere."""
    from rivulus_spark.operators import snapshot

    docs = spark.createDataFrame(
        [("A", "x x x y z")], "source string, text string")
    got = {r.bucket: r for r in
           snapshot.source_term_divergence(docs, v=1).collect()}
    # top-1 vocabulary = {x}; y and z collapse into the tail
    assert set(got) == {"x", "< other terms >"}
    assert got["< other terms >"].p == got["< other terms >"].q
    assert all(r.js_term == 0.0 for r in got.values())


def test_population_stability_hand_bins(spark):
    """Hand-checked PSI: integer bit-length binning (bin =
    bitlen(1+floor(x))-1, so 0->0, 1 and 2->1, 3..6->2, 7..14->3),
    eps smoothing only enters the term (reported masses stay raw),
    and a vanished bin scores the same PSI as a newly-appeared one of
    equal mass."""
    import math as m

    from rivulus_spark.operators import snapshot

    # bins: x=0 -> bin(1)='1' -> 0; x=1 -> '10' -> 1; x=2 -> '11' -> 1;
    # x=7 -> '1000' -> 3
    old = spark.createDataFrame([("A", 0), ("A", 1), ("B", 2), ("B", 7)],
                                "source string, v long")
    new = spark.createDataFrame([("A", 0), ("A", 7), ("B", 7), ("B", 7)],
                                "source string, v long")
    got = {(r.source, r.bin): r for r in snapshot.population_stability(
        old, new, "v", group_col="source").collect()}
    assert set(got) == {("A", 0), ("A", 1), ("A", 3), ("B", 1), ("B", 3)}

    def term(po, pn):
        po, pn = max(1e-4, po), max(1e-4, pn)
        return m.floor((pn - po) * m.log(pn / po) * 1e6) / 1e6

    a0 = got[("A", 0)]          # stable bin: 0.5 -> 0.5
    assert (a0.p_old, a0.p_new, a0.psi_term, a0.lo) == (0.5, 0.5, 0.0, 0.0)
    a1 = got[("A", 1)]          # vanished bin: raw mass 0.0, eps in term
    assert (a1.p_old, a1.p_new) == (0.5, 0.0)
    assert a1.psi_term == term(0.5, 0.0)
    a3 = got[("A", 3)]          # appeared bin — symmetric PSI term
    assert (a3.p_old, a3.p_new, a3.lo) == (0.0, 0.5, 7.0)
    assert a3.psi_term == a1.psi_term == term(0.0, 0.5)
    b3 = got[("B", 3)]          # grew 0.5 -> 1.0
    assert b3.psi_term == term(0.5, 1.0)
    # headline index: every group here is 'shifted' (> 0.25)
    assert sum(r.psi_term for k, r in got.items() if k[0] == "A") > 0.25


def test_population_stability_clamps_and_ungrouped(spark):
    """Negatives clamp to bin 0, huge values cap at n_bins-1 (lo =
    2^15-1), identical snapshots score zero PSI everywhere; the
    ungrouped form's window runs over one <=n_bins-row histogram.
    Non-finite and >2^63 features must BIN, not raise ANSI
    CAST_OVERFLOW (r8 review): NaN/+inf/1e19 land in the top bin,
    -inf in bin 0."""
    import math as m

    from rivulus_spark.operators import snapshot

    df = spark.createDataFrame([(-5.0,), (0.25,), (1e12,)], "v double")
    got = {r.bin: r for r in
           snapshot.population_stability(df, df, "v").collect()}
    assert set(got) == {0, 15}          # -5 and 0.25 clamp/floor to 0
    assert got[15].lo == 32767.0
    assert all(r.psi_term == 0.0 for r in got.values())
    assert got[0].p_old == got[0].p_new  # 2/3 floored identically

    ugly = spark.createDataFrame(
        [(float("nan"),), (float("inf",),), (-float("inf"),), (1e19,),
         (3.0,)], "v double")
    bins = {r.bin: (r.p_old, r.p_new) for r in
            snapshot.population_stability(ugly, ugly, "v").collect()}
    assert set(bins) == {0, 2, 15}      # -inf->0, 3->2, rest->top
    assert m.isclose(bins[15][0], 0.6)  # nan, inf, 1e19 all top-bin


def test_temperature_mix_matches_greedy_waterline(spark):
    """temperature_mix_plan's closed-form water level must equal an
    INDEPENDENT greedy waterline solver (iterate strata in exact
    avail/w exhaustion order; a stratum is capped iff the remaining
    budget over the remaining weight mass exceeds its ratio) on
    randomized instances, including the weight-step ratio inversions
    flooring introduces; endpoints reduce correctly (alpha=0 ==
    equal-share waterfill, alpha=1 == proportional)."""
    import math
    import random

    from rivulus_spark.operators import sample

    def greedy(avails, budget, alpha):
        ws = {s: (int(math.floor(math.sqrt(a))) if alpha == 0.5
                  else a if alpha == 1.0
                  else (1 if a > 0 else 0) if alpha == 0.0
                  else int(math.floor(a ** alpha)))
              for s, a in avails.items()}
        order = sorted(avails, key=lambda s: (
            avails[s] / ws[s] if ws[s] else -1.0, s))
        rem_b, rem_w = float(budget), sum(ws.values())
        alloc = {}
        for s in order:
            a, w = avails[s], ws[s]
            if w == 0 or (rem_w and a <= rem_b / rem_w * w):
                alloc[s] = a if w else 0
                rem_b -= alloc[s]
                rem_w -= w
            else:
                lam = rem_b / rem_w
                alloc[s] = min(a, int(math.floor(lam * w)))
        return alloc, ws

    rng = random.Random(11)
    for trial in range(6):
        k = rng.randint(2, 9)
        avails = {f"s{i}": rng.choice([0, rng.randint(1, 40),
                                       rng.randint(50, 5000),
                                       rng.randint(10_000, 10**6)])
                  for i in range(k)}
        budget = rng.randint(1, sum(avails.values()) + 100)
        alpha = rng.choice([0.0, 0.5, 1.0])
        rows = [(i, s, a) for i, (s, a) in enumerate(avails.items())]
        df = spark.createDataFrame(rows, "id long, src string, toks long")
        got = {r.stratum: r.alloc_tokens for r in
               sample.temperature_mix_plan(df, "src", "toks", budget,
                                           alpha=alpha).collect()}
        want, ws = greedy(avails, budget, alpha)
        assert got == want, (trial, alpha, budget, avails, ws, got, want)
        assert sum(got.values()) <= budget or budget >= sum(avails.values())
    with pytest.raises(ValueError, match="alpha"):
        sample.temperature_mix_plan(
            spark.createDataFrame([(1, "a", 5)], "id long, src string, toks long"),
            "src", "toks", 10, alpha=1.5)


def test_exact_dup_edges_chain_not_clique(spark):
    """A group of 3 identical texts emits 2 chain edges (not 3 clique
    edges); unique texts emit none; components are still recovered."""
    docs = spark.createDataFrame(
        [(1, "aa"), (4, "aa"), (2, "aa"), (7, "bb"), (9, "cc"), (11, "cc")],
        "doc_id long, text string")
    edges = sorted((r.doc_a, r.doc_b)
                   for r in dedup.exact_dup_edges(docs).collect())
    assert edges == [(1, 2), (2, 4), (9, 11)]
    got = {r.node: r.cluster
           for r in dedup.connected_components(
               dedup.exact_dup_edges(docs)).collect()}
    assert got == {1: 1, 2: 1, 4: 1, 9: 9, 11: 9}


def test_connected_components_transitive_chain(spark):
    """A chain a-b, b-c, plus a separate pair, clusters transitively to
    the minimum reachable id (what the pair list alone cannot say)."""
    edges = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 30)], "doc_a long, doc_b long")
    got = {r.node: r.cluster
           for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 5: 1, 9: 1, 20: 20, 30: 20}


def test_cluster_survivors_policy(spark):
    """Highest score wins inside a cluster (min-id tie-break); docs in
    no cluster survive as their own singleton."""
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5)],
        "doc_id long, n_chars long")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, cluster long")
    got = {r.cluster: (r.survivor_id, r.n_members)
           for r in dedup.cluster_survivors(docs, clusters).collect()}
    # 2 beats 1 (score) and 3 (tie -> min id); 7 is a singleton
    assert got == {1: (2, 3), 7: (7, 1)}


def test_connected_components_long_path_converges(spark):
    """A 12-node path needs multiple propagation rounds; the fixpoint
    must still label every node with the global minimum."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long")
    got = {r.node: r.cluster
           for r in dedup.connected_components(
               edges, driver_edge_gate=0).collect()}
    assert got == {i: 0 for i in range(12)}


def test_connected_components_many_rounds_with_stats_reset(spark):
    """r6 regression: a 120-node path needs well past 6 label rounds,
    exercising the periodic stats-reset rebuild (localCheckpoint
    otherwise carries join-MULTIPLIED size estimates whose BigInt bit
    length doubles per round — 45s/round by round 20). Labels must
    still reach the global fixpoint through the resets."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(119)], "doc_a long, doc_b long")
    got = {r.node: r.cluster
           for r in dedup.connected_components(edges, max_iters=60,
                                               driver_edge_gate=0)
           .collect()}
    assert got == {i: 0 for i in range(120)}


def test_connected_components_nonconvergence_raises(spark):
    """r6 guard: exiting the round cap with labels still moving must
    raise, not return partial (wrong) clusters — a 12-node path with
    max_iters=1 cannot reach the fixpoint."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iters=1, driver_edge_gate=0)
    # r7 (ADVICE): max_iters <= 0 must raise the documented error up
    # front, not a NameError from the unbound `changed` in for/else
    with pytest.raises(ValueError, match="max_iters"):
        dedup.connected_components(edges, max_iters=0)


def test_connected_components_driver_gate_parity(spark):
    """VERDICT r9 #4: the under-the-gate driver union-find path must
    produce EXACTLY the distributed pointer-jumping labels — checked
    on a seeded random graph mixing chains, stars, singleton pairs,
    and a cycle — and the default gate routes small graphs through
    it (same answer either way is the contract; parity IS the
    test)."""
    import random

    rng = random.Random(7)
    es = [(i, i + 1) for i in range(0, 40, 2)]          # 20 pairs
    es += [(100, 100 + j) for j in range(1, 8)]          # star
    es += [(200 + j, 200 + j + 1) for j in range(9)]     # chain
    es += [(300, 301), (301, 302), (302, 300)]           # cycle
    es += [(rng.randrange(400, 440), rng.randrange(400, 440))
           for _ in range(25)]                           # random blob
    es = [e for e in es if e[0] != e[1]]
    edges = spark.createDataFrame(es, "doc_a long, doc_b long")
    fast = {(r.node, r.cluster) for r in
            dedup.connected_components(edges).collect()}
    slow = {(r.node, r.cluster) for r in
            dedup.connected_components(
                edges, driver_edge_gate=0).collect()}
    assert fast == slow
    # labels really are the min reachable id on a known component
    lab = dict(fast)
    assert all(lab[300 + j] == 300 for j in range(3))


# ----------------------------------------------------------------------
# contamination / packing / tf-idf / quantization
# ----------------------------------------------------------------------

def test_contamination_report_overlap(spark):
    """Train docs sharing a 3-gram with any eval doc are flagged with
    distinct-shingle and distinct-eval-doc counts; clean docs absent."""
    from rivulus_spark.operators import contamination

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),      # shares 2 shingles w/ 100
         (2, "totally unrelated training text here"),
         (3, "quick brown fox runs away")],      # shares 1 shingle w/ 100
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "the quick brown fox sleeps"),
         (101, "quick brown fox sleeps too")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_shared_ngrams, r.n_eval_docs)
           for r in contamination.contamination_report(train, ev).collect()}
    # doc 1: "the quick brown" (ev 100) + "quick brown fox" (ev 100+101)
    # doc 3: "quick brown fox" (ev 100+101)
    assert got == {1: (2, 2), 3: (1, 2)}


def test_pack_context_windows_assignment(spark):
    """Docs land in the window where their first token falls; totals
    and fill fractions are integer-exact."""
    from rivulus_spark.operators import pack

    docs = spark.createDataFrame(
        [("a", 1, "w " * 6), ("a", 2, "w " * 3), ("a", 3, "w " * 4),
         ("b", 4, "w " * 2)],
        "source string, doc_id long, text string")
    out = {(r.part, r.window_id): (r.n_docs, r.total_tokens, r.fill_frac)
           for r in pack.pack_context_windows(docs, ctx_len=8).collect()}
    # stream a: cum-before = 0, 6, 9 -> windows 0, 0, 1
    assert out == {("a", 0): (2, 9, 1.125), ("a", 1): (1, 4, 0.5),
                   ("b", 0): (1, 2, 0.25)}


def test_top_distinctive_terms_ranking(spark):
    """tf desc first, then RARER term (lower corpus df) wins the tie,
    then lexicographic."""
    docs = spark.createDataFrame(
        [(1, "apple apple common zebra"),
         (2, "common plain words here"),
         (3, "common zebra plain fruit")],
        "doc_id long, text string")
    out = text.top_distinctive_terms(docs, k=2)
    got = {(r.doc_id, r.rank): r.term for r in out.collect()}
    # doc 1: apple tf=2 first; zebra (df=2) beats common (df=3)
    assert got[(1, 1)] == "apple" and got[(1, 2)] == "zebra"
    # doc 2: all tf=1 -> here/plain/words (df=1,2,1): here, words df=1 tie
    assert got[(2, 1)] == "here" and got[(2, 2)] == "words"


def test_quantize_int8_report(spark):
    """Scale is max|x|/127 pre-division form, extremes saturate, error
    is small and non-negative for a round-trippable vector; all-zero
    vectors are guarded (scale 0, error 0)."""
    from rivulus_spark.operators import quantize

    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: r for r in
           quantize.quantize_int8_report(df).collect()}
    r1 = got[1]
    assert r1.dim == 3 and r1.scale_q == 2.0
    # -2.0/2*127 = -127 saturates (floor(-127) = -127); 1.0 -> 63
    assert r1.n_sat == 1
    assert 0.0 <= r1.sq_err_q < 0.001
    r2 = got[2]
    assert r2.scale_q == 0.0 and r2.n_sat == 0 and r2.sq_err_q == 0.0


# ----------------------------------------------------------------------
# clean (PII / HTML / quality rules)
# ----------------------------------------------------------------------

def test_pii_scrub_and_counts(spark):
    from rivulus_spark.operators import clean

    df = spark.createDataFrame([
        (0, "mail me at jo.doe+x@corp.example.org or 192.168.1.10"),
        (1, "ssn 123-45-6789 phone 555 867 5309 done"),
        (2, "nothing sensitive here"),
    ], "doc_id long, text string")
    counts = {r.doc_id: r for r in clean.pii_counts(df).collect()}
    assert counts[0].n_email == 1 and counts[0].n_ipv4 == 1
    assert counts[1].n_ssn == 1 and counts[1].n_phone == 1
    assert counts[2].n_pii == 0
    scrubbed = {r.doc_id: r.t for r in
                df.select("doc_id",
                          clean.pii_scrub("text").alias("t")).collect()}
    assert scrubbed[0] == "mail me at <EMAIL> or <IP>"
    assert scrubbed[1] == "ssn <SSN> phone <PHONE> done"
    assert scrubbed[2] == "nothing sensitive here"


def test_strip_html_tags_entities_whitespace(spark):
    from rivulus_spark.operators import clean

    df = spark.createDataFrame(
        [(0, '<p>a &amp; b</p>\n\n  <a href="x">c&nbsp;d</a>')],
        "doc_id long, text string")
    out = df.select(clean.strip_html("text").alias("t")).head().t
    assert out == "a & b c d"


def test_gopher_flags(spark):
    from rivulus_spark.operators import clean

    good = "the cat and the dog have been seen with that mouse " * 6
    df = spark.createDataFrame([
        (0, good.strip()),          # passes everything
        (1, "x " * 60),             # mean word length 1 -> flag_mean_wl False
        (2, "### ## # " * 20),      # symbols + no alpha -> several flags False
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in clean.gopher_quality(df, min_words=30).collect()}
    assert out[0].gopher_pass is True
    assert out[1].flag_mean_wl is False and out[1].gopher_pass is False
    assert out[2].flag_symbols is False and out[2].flag_alpha is False


def test_assign_splits_deterministic_partition_invariant(spark):
    from rivulus_spark.operators import sample

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    splits = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.k: r.split for r in
         sample.assign_splits(df, splits, "k").collect()}
    b = {r.k: r.split for r in
         sample.assign_splits(df.repartition(13), splits, "k").collect()}
    assert a == b                       # partition invariant
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    frac_train = sum(1 for v in a.values() if v == "train") / n
    assert 0.75 < frac_train < 0.85     # close to requested rate
    with pytest.raises(ValueError):
        sample.assign_splits(df, {"train": 0.5}, "k")


def test_build_vocab_and_encode(spark):
    df = spark.createDataFrame([
        (0, "a b a c"),
        (1, "a b zz"),
    ], "doc_id long, text string")
    vocab = {r.token: (r.token_id, r["count"])
             for r in text.build_vocab(df).collect()}
    # a:3 -> id 1, b:2 -> id 2, c:1/zz:1 alphabetical -> c=3, zz=4
    assert vocab["a"] == (1, 3) and vocab["b"] == (2, 2)
    assert vocab["c"][0] == 3 and vocab["zz"][0] == 4
    enc = {r.doc_id: r for r in
           text.encode_docs(df, text.build_vocab(df, max_size=3)).collect()}
    assert enc[0].ids == "1 2 1 3" and enc[0].n_oov == 0
    assert enc[1].ids == "1 2 0" and enc[1].n_oov == 1  # zz cut by max_size


def test_quota_cap_deterministic(spark):
    from rivulus_spark.operators import sample

    df = spark.range(0, 300).select(
        (F.col("id") % 3).cast("string").alias("src"), F.col("id").alias("k"))
    a = {(r.src, r.k) for r in
         sample.quota_cap(df, "src", 10, "k").collect()}
    b = {(r.src, r.k) for r in
         sample.quota_cap(df.repartition(7), "src", 10, "k").collect()}
    assert a == b
    from collections import Counter
    assert all(v == 10 for v in Counter(s for s, _ in a).values())


def test_charlm_scores_gibberish_below_prose(spark):
    from rivulus_spark.operators import lm

    prose = "the cat sat on the mat and the dog sat on the log "
    rows = [(i, prose) for i in range(8)] + [(8, "xq zv qx vz jq qj xz zx")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.charlm_logprob for r in lm.charlm_score(df).collect()}
    prose_score = out[0]
    assert all(abs(out[i] - prose_score) < 1e-9 for i in range(8))
    assert out[8] < prose_score - 0.5  # gibberish is far less probable


def test_resample_daily_fills_gaps(spark):
    from rivulus_spark.operators import timeseries

    df = spark.createDataFrame([
        (1, "2024-01-01 10:00:00", 5.0),
        (1, "2024-01-03 10:00:00", 7.0),   # user 1 silent on the 2nd
        (2, "2024-01-02 10:00:00", 1.0),
    ], "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts"))
    out = timeseries.resample_daily(
        df, "ts", "user_id",
        aggs=[F.count("*").alias("n"), F.sum("value").alias("sv")],
        fills={"n": 0, "sv": 0.0})
    rows = {(r.user_id, str(r.day)): (r.n, r.sv) for r in out.collect()}
    assert len(rows) == 6  # 2 users x 3 days, dense
    assert rows[(1, "2024-01-02")] == (0, 0.0)
    assert rows[(2, "2024-01-02")] == (1, 1.0)
    assert rows[(2, "2024-01-03")] == (0, 0.0)


def test_curate_v2_dedups_after_scrub_and_respects_quota(spark):
    from rivulus_spark.operators import pipeline

    base = ("the cat and the dog have been seen with that mouse "
            "near the old mill by the river bank today again ") * 3
    rows = [
        # docs 0/1 differ ONLY in PII -> identical after scrub -> dedup
        (0, base + "mail a@x.com", "s0"),
        (1, base + "mail b@y.org", "s0"),
        # distinct content, same source
        (2, base + "something else entirely here", "s0"),
        (3, base + "another distinct ending words", "s1"),
        # junk: fails the word-length rule
        (4, "x " * 80, "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = pipeline.curate_v2(df, min_words=30, quota_n=10)
    ids = {r.doc_id for r in out.collect()}
    assert 4 not in ids                      # quality-gated
    assert not {0, 1} <= ids and ({0, 1} & ids)  # scrub-dedup kept one
    assert {2, 3} <= ids
    # quota really caps: with quota_n=1, at most one doc per (split, source)
    capped = pipeline.curate_v2(df, min_words=30, quota_n=1).collect()
    from collections import Counter
    cells = Counter((r.split, r.source) for r in capped)
    assert all(v == 1 for v in cells.values())


def test_c4_line_filter_drops_short_lines(spark):
    from rivulus_spark.operators import clean

    df = spark.createDataFrame([
        (0, "home about contact\nthis line has plenty of words in it\nok"),
        (1, "a\nb"),  # everything dropped
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in clean.c4_line_stats(df, min_words=5).collect()}
    assert out[0].n_lines == 3 and out[0].n_lines_kept == 1
    assert out[0].c4_text == "this line has plenty of words in it"  # nav + 'ok' dropped
    assert out[1].n_lines_kept == 0 and out[1].c4_text == ""


def test_fuzzy_contamination_flags_cross_side_neardups(spark):
    from rivulus_spark.operators import contamination

    base = "the quick brown fox jumps over the lazy dog near the old mill"
    train = spark.createDataFrame([
        (0, base + " today"),              # near-dup of eval 100
        (1, "completely different training content about spark engines"),
    ], "doc_id long, text string")
    ev = spark.createDataFrame([
        (100, base + " tonight"),
        (101, "unrelated evaluation prompt text entirely"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           contamination.fuzzy_contamination(train, ev,
                                             threshold=0.5).collect()}
    assert set(out) == {0}
    assert out[0].n_eval_matches == 1 and out[0].max_jacc >= 0.5


def test_minhash_lsh_dedup_cand_filter_prefilter_parity(spark):
    """The cand_filter contract (opt r11): for a per-pair predicate P,
    filtering the CANDIDATES before verification equals filtering the
    VERIFIED pairs after it — on a corpus whose near-dup pairs span
    both sides of P, so the pre-filter demonstrably drops pairs the
    unfiltered chain verifies."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import dedup

    base = "the quick brown fox jumps over the lazy dog near the old mill"
    alt = "pack my box with five dozen liquor jugs for the harvest fair"
    docs = spark.createDataFrame([
        (1, base + " today"), (2, base + " tonight"),   # low-id pair
        (3, base + " gently"),                          # chains with 1,2
        (10, alt + " again"), (11, alt + " anew"),      # high-id pair
        (5, "completely unrelated filler content about spark engines"),
    ], "doc_id long, text string")
    pred = (F.col("doc_a") < 4) != (F.col("doc_b") < 4)  # cross-group

    full = dedup.minhash_lsh_dedup(docs, threshold=0.5)
    post = sorted((r.doc_a, r.doc_b, r.jacc)
                  for r in full.filter(pred).collect())
    pre = sorted((r.doc_a, r.doc_b, r.jacc)
                 for r in dedup.minhash_lsh_dedup(
                     docs, threshold=0.5,
                     cand_filter=lambda c: c.filter(pred)).collect())
    assert pre == post
    # the unfiltered chain really does verify same-group pairs the
    # pre-filter skips — otherwise this test proves nothing
    assert len(full.collect()) > len(pre)

    with pytest.raises(ValueError, match="cand_filter"):
        dedup.minhash_lsh_dedup(docs, edge_mode="star",
                                cand_filter=lambda c: c)


def test_fuzzy_contamination_prefilter_skips_same_side_pairs(spark):
    """fuzzy_contamination's pushed-down cross-side restriction returns
    exactly the post-filtered report on a corpus dominated by
    train×train near-dups (the pair mass the pre-filter exists to skip
    verifying)."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import contamination, dedup

    boiler = "click here to subscribe to our newsletter and never miss"
    train = spark.createDataFrame(
        [(i, f"{boiler} issue number {i % 2}") for i in range(8)]
        + [(50, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string")
    ev = spark.createDataFrame([
        (100, "the secret benchmark answer is forty two indeed"),
        (101, "an unrelated evaluation prompt about gardening"),
    ], "doc_id long, text string")

    out = sorted((r.doc_id, r.n_eval_matches, r.max_jacc) for r in
                 contamination.fuzzy_contamination(
                     train, ev, threshold=0.5).collect())

    # reference: the unfiltered chain post-restricted to cross-side
    both = (train.withColumn("__side", F.lit("t"))
            .unionByName(ev.withColumn("__side", F.lit("e"))))
    pairs = dedup.minhash_lsh_dedup(both, threshold=0.5)
    sides = both.select(F.col("doc_id").alias("__id"), "__side")
    x = (pairs.join(sides.alias("sa"), pairs.doc_a == F.col("sa.__id"))
         .join(sides.alias("sb"), pairs.doc_b == F.col("sb.__id"))
         .filter(F.col("sa.__side") != F.col("sb.__side")))
    train_id = F.when(F.col("sa.__side") == "t",
                      F.col("doc_a")).otherwise(F.col("doc_b"))
    ref = sorted((r.doc_id, r.n_eval_matches, r.max_jacc) for r in
                 (x.select(train_id.alias("doc_id"), "jacc")
                  .groupBy("doc_id")
                  .agg(F.count("*").alias("n_eval_matches"),
                       F.round(F.max("jacc"), 3).alias("max_jacc"))
                  ).collect())
    assert out == ref
    assert [r[0] for r in out] == [50]  # the planted leak, none of the
    # boilerplate train×train near-dup mass


def test_split_expr_matches_assign_splits(spark):
    """split_expr over a bare id column re-derives exactly the split
    assign_splits attaches — the content-addressing property the
    q_split_leakage_neardup cand_filter pushdown rests on."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import sample

    splits = {"train": 0.9, "val": 0.05, "test": 0.05}
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    a = sample.assign_splits(df, splits, key_col="doc_id", seed="split1")
    b = df.select("doc_id", sample.split_expr(
        F.col("doc_id"), splits, "split1").alias("split"))
    assert (a.join(b, "doc_id")
            .filter(a.split != b.split).count()) == 0
    # all three splits actually occur at n=500 (non-degenerate check)
    assert a.select("split").distinct().count() == 3


def test_global_rank_matches_spark_window(spark):
    """Two-pass distributed rank == Spark's own global-window
    row_number/ntile/percent_rank, on a size not divisible by n (uneven
    ntile groups) and with duplicate leading-key values (ties broken by
    the unique second key)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rivulus_spark.operators import rank

    rows = [(i, (i * 37) % 50, f"r{i}") for i in range(103)]
    df = spark.createDataFrame(rows, "id long, v long, tag string")

    got = {r.id: (r.tile, r.pr) for r in rank.add_ntile_percent_rank(
        df, ["v", "id"], n=4, n_buckets=8).collect()}
    w = Window.orderBy("v", "id")
    want = {r.id: (r.tile, r.pr) for r in df.select(
        "id", F.ntile(4).over(w).cast("long").alias("tile"),
        F.percent_rank().over(w).alias("pr")).collect()}
    assert got == want


def test_global_row_number_single_row_and_nulls(spark):
    from rivulus_spark.operators import rank

    one = spark.createDataFrame([(7, 1.0)], "id long, v double")
    r = rank.add_ntile_percent_rank(one, ["v", "id"], n=4).head()
    assert (r.tile, r.pr) == (1, 0.0)

    # nulls sort first (Spark asc default); rank must still be total
    df = spark.createDataFrame([(1, None), (2, 5.0), (3, 1.0)],
                               "id long, v double")
    out = {r.id: r.rank for r in
           rank.global_row_number(df, ["v", "id"]).collect()}
    assert out == {1: 1, 3: 2, 2: 3}


def test_lexicon_score_escapes_regex_metacharacters(spark):
    from rivulus_spark.operators import clean

    df = spark.createDataFrame(
        [(0, "I code c++ daily and run a.out now"),
         (1, "about aXout and c plus plus")],
        "doc_id long, text string")
    out = {r.doc_id: r.n_lexicon_hits
           for r in clean.lexicon_score(df, ["c++", "a.out"]).collect()}
    # '.' must not match 'X'; 'c++' must compile and match literally
    assert out == {0: 2, 1: 0}


def test_strip_html_double_escaped_entities(spark):
    from rivulus_spark.operators import clean

    # the author wrote a literal "&lt;" (escaped as "&amp;lt;"): it
    # must decode to "&lt;", not double-decode to "<"
    df = spark.createDataFrame([(0, "a &amp;lt; b &amp; c")],
                               "doc_id long, text string")
    out = df.select(clean.strip_html("text").alias("t")).head().t
    assert out == "a &lt; b & c"


def test_charlm_supplied_model_unseen_bigram_uses_context_count(spark):
    """Contract: unseen bigram with a SEEN context scores
    log(1 / (c_ctx + V)) — the context count must survive the left
    join even though the full bigram is absent from the model."""
    import math

    from rivulus_spark.operators import lm

    train = spark.createDataFrame([(0, "abab")], "doc_id long, text string")
    model = lm.train_char_bigram(train)  # bigrams: ab(x2), ba(x1); V=2
    score = spark.createDataFrame([(1, "aa")], "doc_id long, text string")
    out = lm.charlm_score(score, model=model).head()
    # "aa" is unseen; context 'a' is seen with c_ctx=2 -> log(1/(2+2))
    assert out.n_bigrams == 1
    assert math.isclose(out.charlm_logprob, math.log(1.0 / 4.0),
                        rel_tol=1e-9)


def test_histogram_clamps_and_totals(spark):
    from rivulus_spark.operators import stats

    df = spark.createDataFrame(
        [(float(v),) for v in [-5, 0, 1, 9.9, 10, 25, 99]] + [(None,)],
        "x double")
    out = {r.bin: (r.bin_lo, r.bin_hi, r.n)
           for r in stats.histogram(df, "x", lo=0.0, hi=20.0,
                                    n_bins=2).collect()}
    # -5 clamps into bin 0; 25 and 99 clamp into bin 1; null dropped
    assert out[0] == (0.0, 10.0, 4) and out[1] == (10.0, 20.0, 3)
    assert sum(v[2] for v in out.values()) == 7


def test_percentile_clip_keeps_band(spark):
    from rivulus_spark.operators import stats

    df = spark.createDataFrame([(i, float(i)) for i in range(1, 101)],
                               "id long, x double")
    kept = sorted(r.id for r in
                  stats.percentile_clip(df, "x", 0.10, 0.90).collect())
    # exact interpolated percentiles of 1..100: p10=10.9, p90=90.1
    assert kept == list(range(11, 91))
    assert stats.percentile_clip(df, "x", 0.0, 1.0).count() == 100


def test_stats_and_rank_edge_cases(spark):
    from rivulus_spark.operators import rank, stats

    nulls = spark.createDataFrame([(1, None), (2, None)],
                                  "id long, x double")
    # no band exists over an all-null column -> empty, not a crash
    assert stats.percentile_clip(nulls, "x").count() == 0
    empty = spark.createDataFrame([], "id long, v double")
    assert rank.add_ntile_percent_rank(empty, ["v", "id"]).count() == 0
    with pytest.raises(ValueError):
        stats.histogram(nulls, "x", 5.0, 5.0)
    with pytest.raises(ValueError):
        stats.percentile_clip(nulls, "x", 0.9, 0.1)
    with pytest.raises(ValueError):
        rank.global_row_number(nulls, [])


def test_dedup_lines_keeps_first_occurrence_order(spark):
    from rivulus_spark.operators import clean

    df = spark.createDataFrame(
        [(0, "nav bar\nreal content here\nnav bar\nmore text\nnav bar")],
        "doc_id long, text string")
    r = clean.dedup_lines(df).head()
    assert r.n_lines == 5 and r.n_unique_lines == 3
    assert r.line_dedup_text == "nav bar\nreal content here\nmore text"


def test_group_percentile_clip_calibrates_per_group(spark):
    """Per-group bands: each group is clipped against ITS OWN
    percentiles — group B's values all sit far above group A's p95,
    yet B keeps its interior (a global band would drop every A-tail
    and B entirely or vice versa). All-null groups clip to empty."""
    from rivulus_spark.operators import stats

    rows = ([("a", float(v)) for v in range(1, 101)]
            + [("b", float(v)) for v in range(1001, 1101)]
            + [("c", None)])
    df = spark.createDataFrame(rows, "g string, x double")
    kept = stats.group_percentile_clip(df, "x", ["g"], 0.05, 0.95)
    agg = {r.g: (r.n, r.lo, r.hi) for r in
           kept.groupBy("g").agg(F.count("*").alias("n"),
                                 F.min("x").alias("lo"),
                                 F.max("x").alias("hi")).collect()}
    assert "c" not in agg
    for g, base in (("a", 0.0), ("b", 1000.0)):
        n, lo, hi = agg[g]
        # p05/p95 of 1..100 interpolate to 5.95/95.05 -> keep 6..95
        assert n == 90
        assert lo == base + 6 and hi == base + 95
    with pytest.raises(ValueError, match="group_cols"):
        stats.group_percentile_clip(df, "x", [], 0.05, 0.95)
    with pytest.raises(ValueError, match="p_lo"):
        stats.group_percentile_clip(df, "x", ["g"], 0.9, 0.1)


def test_semantic_dedup_within_cell_only(spark):
    """SemDeDup pairs: within-cell near-dups are emitted with their
    cell id; a near-identical pair STRADDLING a cell boundary is not
    compared (the method's documented recall trade) — pinned with a
    pair at cosine ~0.9996 split across the two cells."""
    from rivulus_spark.operators import cluster

    cents = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    vecs = spark.createDataFrame([
        (1, [1.0, 0.10]), (2, [1.0, 0.12]),     # cell 100 near-dups
        (3, [0.10, 1.0]), (4, [0.12, 1.0]),     # cell 101 near-dups
        (5, [0.71, 0.70]), (6, [0.70, 0.71]),   # ~0.9996 but split
    ], "vec_id long, embedding array<double>")
    out = {(r.id_a, r.id_b): (r.cell, r.sim) for r in
           cluster.semantic_dedup_pairs(vecs, cents,
                                        threshold=0.9).collect()}
    assert set(out) == {(1, 2), (3, 4)}
    assert out[(1, 2)][0] == 100 and out[(3, 4)][0] == 101
    assert all(s >= 0.99 for _, s in out.values())


def test_2level_assign_collapses_when_coarse_is_fine(spark, vecs):
    """With coarse == fine, the fine→coarse map is the identity
    (every centroid assigns to itself at cosine 1.0), each coarse
    group is the singleton {itself}, and the two-level result must
    equal the single-level assignment exactly."""
    cents = vecs.filter(F.col("vec_id").isin(0, 2))
    one = {r.id: r.cell for r in
           similarity.ivf_assign_cells(vecs, cents).collect()}
    two = {r.id: r.cell for r in
           similarity.ivf_assign_cells_2level(vecs, cents,
                                              cents).collect()}
    assert one == two


def test_2level_assign_routes_through_coarse_group(spark):
    """A vector whose true nearest FINE centroid sits in another
    coarse group is re-routed to its within-group best — the
    documented boundary error of every hierarchical quantizer, pinned
    here: fine 10/11 group under coarse 10, fine 20 under coarse 20;
    the query vector is closest to fine 11 overall but closer to
    coarse 20, so it must land in fine 20's cell."""
    from rivulus_spark.operators import similarity as sim

    fine = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0]), (11, [0.80, 0.60, 0.0]),
         (20, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>")
    coarse = fine.filter(F.col("vec_id").isin(10, 20))
    vecs = spark.createDataFrame(
        [(1, [0.55, 0.45, 0.65])],      # fine-best 11, coarse-best 20
        "vec_id long, embedding array<double>")
    out = {r.id: r.cell for r in
           sim.ivf_assign_cells_2level(vecs, fine, coarse).collect()}
    assert out[1] == 20
    # single-level ground truth differs — the trade is real
    one = {r.id: r.cell for r in
           sim.ivf_assign_cells(vecs, fine).collect()}
    assert one[1] == 11


def test_2level_requires_coarse_subset_of_fine(spark):
    """An arbitrary coarse set can leave a routable coarse group
    empty (worker KeyError in the old code) — the operator now
    validates the stride-multiple contract up front."""
    from rivulus_spark.operators import similarity as sim

    fine = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.9, 0.1])],
        "vec_id long, embedding array<double>")
    coarse = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    vecs = spark.createDataFrame([(7, [0.1, 1.0])],
                                 "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="subset of the fine"):
        sim.ivf_assign_cells_2level(vecs, fine, coarse)


def test_semantic_dedup_2level_matches_single_level_on_identity(spark):
    """semantic_dedup_pairs_2level with coarse == fine must emit the
    identical pair set as the single-level path (same cells → same
    within-cell sweep)."""
    from rivulus_spark.operators import cluster

    cents = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    vecs = spark.createDataFrame([
        (1, [1.0, 0.10]), (2, [1.0, 0.12]),
        (3, [0.10, 1.0]), (4, [0.12, 1.0]),
        (5, [0.71, 0.70]), (6, [0.70, 0.71]),
    ], "vec_id long, embedding array<double>")
    one = {(r.id_a, r.id_b, r.cell, r.sim) for r in
           cluster.semantic_dedup_pairs(vecs, cents,
                                        threshold=0.9).collect()}
    two = {(r.id_a, r.id_b, r.cell, r.sim) for r in
           cluster.semantic_dedup_pairs_2level(vecs, cents, cents,
                                               threshold=0.9).collect()}
    assert one == two and len(one) == 2


def test_cross_doc_line_dedup(spark):
    """r7 corpus-level boilerplate removal: lines in >= min_docs
    DISTINCT docs are stripped from all of them; surviving line order
    is the original document order; untouched docs pass through with
    their exact text; a doc made entirely of boilerplate survives as
    an empty-text row (not a dropped one)."""
    from rivulus_spark.operators import clean

    docs = spark.createDataFrame([
        (0, "FOOTER\nalpha beta\nFOOTER2"),
        (1, "FOOTER\ngamma delta\nFOOTER2"),
        (2, "FOOTER\nepsilon\nFOOTER2"),
        (3, "unique one\nunique two"),
        (4, "FOOTER\nFOOTER2"),
        (5, "z later line\nFOOTER\na earlier line"),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           clean.cross_doc_line_dedup(docs, min_docs=3).collect()}
    assert len(out) == 6
    assert (out[0].n_lines, out[0].n_kept) == (3, 1)
    assert out[0].clean_text == "alpha beta"
    assert out[3].n_kept == 2
    assert out[3].clean_text == "unique one\nunique two"  # untouched
    assert (out[4].n_lines, out[4].n_kept) == (2, 0)
    assert out[4].clean_text == ""  # fully-boilerplate doc kept as row
    # document order, not lexicographic: 'z' line stays before 'a' line
    assert out[5].clean_text == "z later line\na earlier line"
    # repeats within ONE doc don't make boilerplate (distinct-doc count)
    solo = spark.createDataFrame(
        [(0, "dup\ndup\ndup\nreal"), (1, "other")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in
         clean.cross_doc_line_dedup(solo, min_docs=3).collect()}
    assert r[0].n_kept == 4


def test_global_row_number_all_null_order_column(spark):
    """ADVICE r3: an entirely-null leading order column used to yield a
    null bounds array -> null bucket -> empty result. Every row must
    land in bucket 0 and still get a total rank."""
    from rivulus_spark.operators import rank

    df = spark.createDataFrame([(1, None), (2, None), (3, None)],
                               "id long, v double")
    out = {r.id: r.rank for r in
           rank.global_row_number(df, ["v", "id"]).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_range_join_exact_buckets_at_nanos_scale(spark):
    """Review r4: double-division bucketing shifts boundaries for
    int64 values >= 2^53 (unix nanos) and can silently drop
    qualifying pairs; integer floor-division bucketing is exact."""
    from rivulus_spark.operators import asof

    base = 1_700_000_000_000_000_000  # unix nanos, >> 2^53
    left = spark.createDataFrame([(1, base)], "k long, t long")
    right = spark.createDataFrame(
        [(1, base + off) for off in (0, 10, 99, 101)], "k long, t2 long")
    out = asof.range_join(left, right, ["k"], "t", "t2", 0, 100)
    assert sorted(r.t2 - base for r in out.collect()) == [0, 10, 99]


def test_charlm_duplicate_bigram_model_rows_no_fanout(spark):
    """Review r4: duplicate bigram rows in a supplied model (un-deduped
    shard union) must not fan out per-bigram rows."""
    from rivulus_spark.operators import lm

    model = spark.createDataFrame(
        [("ab", 2, 3), ("ab", 5, 3), ("ba", 1, 3)],
        "bigram string, c_bigram long, c_ctx long")
    score = spark.createDataFrame([(1, "aba")], "doc_id long, text string")
    out = lm.charlm_score(score, model=model).head()
    assert out.n_bigrams == 2


def test_expr_reflected_ops_and_bool_guard(spark):
    """Review r4: scalar-on-the-left arithmetic works (2 + col) and
    Python boolean contexts raise instead of silently dropping
    predicates (the pyspark.sql.Column contract)."""
    from rivulus_spark import LazyFrame, col, lit

    lf = LazyFrame.from_dataframe(spark, {"a": [1, 2], "b": [10, 20]})
    rows = (lf.select((2 + col("a")).alias("x"),
                      (100 - col("b")).alias("y"),
                      (3 * col("a")).alias("z"))
            .sort("x").collect())
    assert (rows[0].x, rows[0].y, rows[0].z) == (3, 90, 3)
    with pytest.raises(TypeError, match="bool"):
        bool(col("a") == lit(1))
    with pytest.raises(TypeError, match="bool"):
        (col("a") == lit(1)) and (col("b") == lit(2))


def test_quality_features_tolerates_empty_text(spark):
    """Review r4 (verified crash): empty/whitespace text has zero
    non-space chars — punct_ratio must emit null, not raise
    DIVIDE_BY_ZERO under ANSI mode and abort the corpus scan."""
    df = spark.createDataFrame([(0, ""), (1, "   "), (2, "hi there!")],
                               "doc_id long, text string")
    rows = {r.doc_id: r for r in text.quality_features(df).collect()}
    assert rows[0].punct_ratio is None and rows[1].punct_ratio is None
    assert rows[2].punct_ratio is not None


def test_pack_windows_rows_frame_with_duplicate_ids(spark):
    """Review r4 (verified): the default RANGE frame made duplicate
    (part, id) rows peers that each saw the full peer sum — window 0
    vanished. With a ROWS frame the prefix sum is true regardless."""
    from rivulus_spark.operators import pack

    df = spark.createDataFrame(
        [(1, "s", "a b c d"), (1, "s", "w x y z")],
        "doc_id long, source string, text string")
    out = {r.window_id: r.n_docs
           for r in pack.pack_context_windows(df, ctx_len=4).collect()}
    assert 0 in out  # first doc starts in window 0


def test_gopher_alpha_counts_words_not_runs(spark):
    """Review r4 (verified): 'a-b-c' is ONE word with alpha, not three
    alpha runs — junk where only 1/3 of words contain a letter must
    fail the 0.8 alpha-word rule."""
    from rivulus_spark.operators import clean

    junk = " ".join(["1234 #### a-b-c"] * 20)
    df = spark.createDataFrame([(0, junk)], "doc_id long, text string")
    r = clean.gopher_quality(df, min_words=10).head()
    assert r.flag_alpha is False


def test_dedup_family_tolerates_null_and_empty_text(spark):
    """Null text drops out of token-derived signatures (explode of a
    null array yields no rows); empty/whitespace text hashes the empty
    token consistently (the tokenizer's documented 1-empty-token
    contract, mirrored by the SQL oracles); real duplicates still
    pair. No operator crashes on degenerate documents."""
    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "one"),
         (4, "a b c d e"), (5, "a b c d e")],
        "doc_id long, text string")
    pairs = dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()
    assert [(r.doc_a, r.doc_b, r.jacc) for r in pairs] == [(4, 5, 1.0)]
    sh = {r.id: r.simhash for r in
          dedup.simhash_table(docs, n_bits=60).collect()}
    assert 0 not in sh                      # null text: no signature
    assert sh[1] == sh[2]                   # empty == whitespace
    assert sh[4] == sh[5]                   # real dups agree
    from rivulus_spark.operators import text as t
    counts = {r.doc_id: r.n for r in docs.select(
        "doc_id", t.token_count("text").alias("n")).collect()}
    assert counts[0] is None and counts[1] == 1 and counts[4] == 5


def test_global_row_number_distrusts_multiplying_lineage(spark, tmp_path):
    """Review r4: the small-file fast path must not single-partition a
    relation whose lineage can multiply rows (explode/join) — file
    bytes under-estimate such relations, so they take the distributed
    path regardless of source size."""
    from rivulus_spark.operators import rank

    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, [10.0, 30.0, 50.0]), (2, [20.0, 40.0])],
                          "id long, vs array<double>").write.parquet(p)
    df = spark.read.parquet(p).select(F.explode("vs").alias("v"))
    out = rank.global_row_number(df, ["v"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    from test_plans import _unpartitioned_windows

    data_windows = [l for _, l in _unpartitioned_windows(plan)
                    if "_rk_bucket" not in l]
    assert not data_windows, data_windows
    got = sorted((r.v, r.rank) for r in out.collect())
    assert got == [(10.0, 1), (20.0, 2), (30.0, 3), (40.0, 4), (50.0, 5)]


def test_ivf_assign_cells_empty_broadcast_raises(spark):
    """Review r4: the Broadcast centroid path must fail driver-side
    with the designed ValueError, not a worker-side IndexError."""
    from rivulus_spark.operators import similarity as sim

    emb = spark.createDataFrame([(1, [1.0, 0.0])],
                                "vec_id long, embedding array<double>")
    bc = spark.sparkContext.broadcast([])
    with pytest.raises(ValueError, match="empty"):
        sim.ivf_assign_cells(emb, bc)


def test_lsh_non_divisible_planes_no_phantom_bits(spark):
    """With n_planes=10, n_bands=4 the remainder distribution gives
    widths [3,3,2,2] (r7 blended layout) — the production Arrow band
    stage must realize the identical layout to the JVM-expression
    reference, and no band position past its width may carry bits."""
    rows = [(i, [float(i % 5) - 2.0, float(i % 3), 1.0]) for i in range(12)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    widths = similarity.band_widths(10, 4)
    assert widths == [3, 3, 2, 2]
    src = vecs.select(F.col("vec_id").alias("id"),
                      F.col("embedding").cast("array<double>").alias("vec"))
    want = sorted(
        (r.id, r.b.bi, r.b.bv) for r in src.select(
            "id", F.explode(similarity._bands_array_expr(
                "vec", 3, widths)).alias("b")).collect())
    got = sorted((r.id, r.bi, r.bv) for r in
                 similarity._band_rows_numpy(src, 3, widths).collect())
    assert got == want
    assert all(0 <= bv < (1 << 3) for _, bi, bv in got)
    # the packed-signature reference: band 3 of a 10-bit signature
    sig = vecs.select(
        similarity.hyperplane_signature(
            F.col("embedding").cast("array<double>"), 3, 10).alias("s"),
        "vec_id").collect()
    assert all(0 <= r.s < (1 << 10) for r in sig)


def test_charlm_inconsistent_supplied_model_no_fanout(spark):
    """ADVICE r3: a supplied model with conflicting c_ctx values for
    one context must not duplicate per-bigram rows through the context
    join — n_bigrams stays the true bigram count."""
    from rivulus_spark.operators import lm

    model = spark.createDataFrame(
        [("ab", 2, 3), ("ac", 1, 5)],  # ctx 'a' listed with c_ctx 3 AND 5
        "bigram string, c_bigram long, c_ctx long")
    score = spark.createDataFrame([(1, "aba")], "doc_id long, text string")
    out = lm.charlm_score(score, model=model).head()
    assert out.n_bigrams == 2  # "ab", "ba" — not inflated to 4


def test_sketch_audits_are_exact_observables(spark):
    """The audit variants emit only deterministic, oracle-matchable
    cells: exact distinct counts, min/max strings, and an in-bounds
    boolean (true on any sane input)."""
    from rivulus_spark.operators import sketch

    df = spark.range(1000).selectExpr("id", "id % 37 AS k",
                                      "CAST(id AS DOUBLE) / 4 AS v")
    out = {r.column: (r.n_exact, r.hll_within_bounds)
           for r in sketch.approx_distinct_audit(df, ["id", "k"]).collect()}
    assert out == {"id": (1000, True), "k": (37, True)}

    prof = {r.column: r for r in
            sketch.profile_audit(df, ["k", "v"]).collect()}
    assert prof["k"].n_non_null == 1000 and prof["k"].distinct_ok
    assert prof["k"].min_str == "0" and prof["k"].max_str == "36"
    assert prof["v"].min_str == "0.0" and prof["v"].max_str == "249.75"


def test_ivf_assign_cells_list_centroids_is_lazy(spark):
    """VERDICT r3 #5: composing a plan from pre-collected centroids
    must not trigger a Spark job; the DataFrame input stays as the
    documented eager convenience path."""
    from rivulus_spark.operators import similarity

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>")
    cents = [(10, [1.0, 0.0]), (20, [0.0, 1.0])]
    jobs_before = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()
    out = similarity.ivf_assign_cells(df, cents)
    assert spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs() \
        == jobs_before, "plan construction ran a Spark job"
    got = {r.id: r.cell for r in out.collect()}
    assert got == {1: 10, 2: 20, 3: 10}


def test_kmeans_train_pairs_accepts_pair_list_init(spark):
    from rivulus_spark.operators import cluster

    df = spark.createDataFrame(
        [(i, [float(i % 2), float(1 - i % 2)]) for i in range(20)],
        "vec_id long, embedding array<double>")
    init = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    pairs = cluster.kmeans_train_pairs(df, init, dim=2, n_iters=2)
    assert [c for c, _ in pairs] == [0, 1]
    # the two parity classes are linearly separable: centroids converge
    # onto the class means
    assert pairs[0][1] == [1.0, 0.0] and pairs[1][1] == [0.0, 1.0]


def test_bpe_train_merges_hand_checked(spark):
    """Classic Sennrich-style fixture, merges hand-computed: round 1
    ties (e,s) vs (s,t) at 9 and must break to the lexicographically
    smaller (e,s); round 3 ties (l,o) vs (o,w) at 7 -> (l,o)."""
    from rivulus_spark.operators import bpe

    corpus = " ".join(["low"] * 5 + ["lower"] * 2
                      + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
           for r in bpe.train_merges_from_docs(df, n_merges=4)
           .orderBy("merge_rank").collect()]
    assert got == [(1, "e", "s", 9), (2, "es", "t", 9),
                   (3, "l", "o", 7), (4, "lo", "w", 7)]


def test_bpe_merge_is_greedy_leftmost_nonoverlapping(spark):
    """'aaaa' x2: round 1 counts THREE (a,a) positions per word (6
    total) but greedy leftmost merging yields [aa, aa], so round 2
    sees exactly one (aa, aa) pair per word — the overlap contract
    the fold implements."""
    from rivulus_spark.operators import bpe

    words = spark.createDataFrame([("aaaa", 2)], "word string, freq long")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
           for r in bpe.train_merges(words, n_merges=3)
           .orderBy("merge_rank").collect()]
    # round 3: nothing left to merge -> early-converged 2-row table
    assert got == [(1, "a", "a", 6), (2, "aa", "aa", 2)]


def test_bpe_batched_round_equals_sequential(spark):
    """The multi-merge round planner (opt r12) must be invisible in
    the merge table. Three adversarial fixtures, each hand-checked
    against strictly sequential rounds:
    (a) two disjoint dominant pairs DO batch in one counting round and
        the table is still the sequential one;
    (b) a SELF-overlapping winner (c,c) blocks batching — its greedy
        residue creates (cc,c) at count 8, which outranks the
        would-be batch mate (a,a) at 5 (the case that falsifies a
        naive disjointness-only rule);
    (c) chained merges (rank k+1 consuming rank k's output) never
        batch and stay exact."""
    import rivulus_spark.operators.bpe as bpe

    # (a) batching fires: one counting round advances two ranks
    words = spark.createDataFrame(
        [("er", 30), ("in", 29), ("xq", 5)], "word string, freq long")
    calls = {"n": 0}
    real = bpe.pair_counts

    def spy(vocab):
        calls["n"] += 1
        return real(vocab)

    bpe.pair_counts, _saved = spy, real
    try:
        got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
               for r in bpe.train_merges(words, n_merges=2)
               .orderBy("merge_rank").collect()]
    finally:
        bpe.pair_counts = _saved
    assert got == [(1, "e", "r", 30), (2, "i", "n", 29)]
    assert calls["n"] == 1, f"expected ONE counting round, got {calls}"

    # (b) self-merge residue: sequential order is (c,c), (cc,c), (a,a)
    words = spark.createDataFrame(
        [("baab", 5), ("ccc", 8)], "word string, freq long")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
           for r in bpe.train_merges(words, n_merges=4)
           .orderBy("merge_rank").collect()]
    assert got == [(1, "c", "c", 16), (2, "cc", "c", 8),
                   (3, "a", "a", 5), (4, "aa", "b", 5)]

    # (c) chained merges (the hand-checked Sennrich fixture's shape)
    corpus = " ".join(["low"] * 5 + ["lower"] * 2
                      + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(0, corpus)], "doc_id long, text string")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
           for r in bpe.train_merges_from_docs(df, n_merges=6)
           .orderBy("merge_rank").collect()]
    assert got[:4] == [(1, "e", "s", 9), (2, "es", "t", 9),
                       (3, "l", "o", 7), (4, "lo", "w", 7)]


def test_bpe_apply_merges_batching_matches_sequential(spark):
    """apply_merges' one-pass grouping (opt r12) must encode exactly
    like rank-order sequential application, including when a later
    merge's output string collides with an earlier one's (freshness
    gate) and when merges chain."""
    from pyspark.sql import functions as F

    from rivulus_spark.operators import bpe

    vocab = spark.createDataFrame(
        [("abqab",), ("cdq",), ("abc",), ("aabbccdd",)], "word string") \
        .withColumn("syms", F.regexp_extract_all("word", F.lit("."), 0))
    cases = [
        [("a", "b"), ("c", "d")],                   # disjoint: batches
        [("a", "b"), ("ab", "q")],                  # chained: must not
        [("a", "b"), ("c", "d"), ("ab", "cd")],     # mixed
        [("b", "c"), ("a", "bc")],                  # left-chain trap
    ]
    for merges in cases:
        got = bpe.apply_merges(vocab, merges).select("word", "syms")
        exp = vocab
        for lhs, rhs in merges:
            exp = exp.withColumn(
                "syms", bpe._apply_merge("syms", lhs, rhs))
        exp = exp.select("word", "syms")
        assert (got.exceptAll(exp).count() == 0
                and exp.exceptAll(got).count() == 0), (
            merges,
            sorted(map(tuple, got.collect())),
            sorted(map(tuple, exp.collect())))


def test_bpe_word_collapsed_to_single_symbol_is_inert(spark):
    """A word fully fused into one symbol must survive later rounds
    (slice/aggregate on a 1-element array) and contribute no pairs."""
    from rivulus_spark.operators import bpe

    words = spark.createDataFrame([("ab", 10), ("abab", 1)],
                                  "word string, freq long")
    got = [(r.merge_rank, r.lhs, r.rhs, r.pair_count)
           for r in bpe.train_merges(words, n_merges=3)
           .orderBy("merge_rank").collect()]
    assert got == [(1, "a", "b", 12), (2, "ab", "ab", 1)]


# ----------------------------------------------------------------------
# bloom membership prefilter
# ----------------------------------------------------------------------

def test_bloom_prefilter_has_no_false_negatives(spark):
    """Every built key must survive the probe (the exactness of
    bloom-prefilter + verify-join rests entirely on this), and the
    filter must actually filter: at 10 bits/key the non-member pass
    rate should be far below 1 (we assert < 20% for slack)."""
    from rivulus_spark.operators.bloom import (bloom_build, bloom_dims,
                                               bloom_prefilter)

    members = spark.range(0, 500).select(
        (F.col("id") * 7919 + 13).alias("h"))
    m_bits, k = bloom_dims(500)
    bf = bloom_build(members, "h", m_bits, k)
    kept = bloom_prefilter(members, "h", bf)
    assert kept.count() == 500  # no false negatives, ever

    outsiders = spark.range(10_000, 14_000).select(F.col("id").alias("h"))
    n_fp = bloom_prefilter(outsiders, "h", bf).count()
    assert n_fp < 800, f"false-positive rate {n_fp/4000:.2%} is not a filter"


def test_bloom_build_driver_cap_fails_fast(spark):
    """An m_bits over the driver cap must raise BEFORE any job runs
    (r7 ADVICE/VERDICT: the 1.25 GB design-point collect is deliberate,
    but a runaway m_bits — e.g. a raw key count where a bit count was
    meant — should fail fast, not OOM the driver mid-collect). The
    error names the cap's module attribute so the message is
    actionable on a genuinely bigger driver."""
    from rivulus_spark.operators import bloom

    keys = spark.range(0, 10).select(F.col("id").alias("h"))
    too_big = bloom.MAX_DRIVER_FILTER_BYTES * 8 + 64
    with pytest.raises(ValueError, match="MAX_DRIVER_FILTER_BYTES"):
        bloom.bloom_build(keys, "h", too_big)


def test_bloom_contamination_matches_exact_report(docs, spark):
    """bloom_contamination_report must be row-identical to the plain
    contamination_report — the Bloom stage is a prefilter, never a
    semantic change."""
    from rivulus_spark.operators import contamination

    train = docs.filter(F.col("doc_id") != 2)
    ev = docs.filter(F.col("doc_id") == 2)
    exact = sorted(map(tuple, contamination.contamination_report(
        train, ev, k=3).collect()))
    bloom = sorted(map(tuple, contamination.bloom_contamination_report(
        train, ev, k=3).collect()))
    assert bloom == exact and len(bloom) > 0


# ----------------------------------------------------------------------
# deterministic global shuffle
# ----------------------------------------------------------------------

def test_global_shuffle_distributed_path_matches_reference(spark):
    """In-memory input has no file-size estimate, forcing the two-pass
    distributed rank — the 100 TB path. Its permutation must equal an
    independent Python replay of the spec (md5('seed|key') order),
    shards must be balanced to within one row, and a different seed
    must yield a different permutation."""
    import hashlib
    from collections import Counter

    from rivulus_spark.operators import sample

    df = spark.range(0, 257).select(F.col("id").alias("doc_id"))
    got = {r.doc_id: (r.shard_id, r.pos_in_shard)
           for r in sample.global_shuffle(df, "doc_id", n_shards=4,
                                          seed="s").collect()}
    order = sorted(range(257),
                   key=lambda i: (hashlib.md5(f"s|{i}".encode()).hexdigest(),
                                  i))
    ref = {doc: (rn % 4, rn // 4) for rn, doc in enumerate(order)}
    assert got == ref
    sizes = Counter(v[0] for v in got.values()).values()
    assert max(sizes) - min(sizes) <= 1
    reseeded = {r.doc_id: (r.shard_id, r.pos_in_shard)
                for r in sample.global_shuffle(df, "doc_id", n_shards=4,
                                               seed="t").collect()}
    assert reseeded != got and set(reseeded) == set(got)


def test_bpe_apply_merges_rank_order_and_overlap(spark):
    """Encode semantics: merges apply in rank order, greedy leftmost
    within each ('aaab' + (a,a) -> [aa,a,b], and the later (aa,b)
    merge finds no adjacent (aa,b) pair afterwards); single-symbol
    words are inert. checkpoint_every=1 exercises the lineage
    truncation between every merge."""
    from rivulus_spark.operators import bpe

    vocab = spark.createDataFrame([("aaab",), ("ab",), ("x",)],
                                  "word string").withColumn(
        "syms", F.regexp_extract_all("word", F.lit("."), 0))
    got = {r.word: list(r.syms)
           for r in bpe.apply_merges(vocab, [("a", "a"), ("a", "b")],
                                     checkpoint_every=1).collect()}
    assert got == {"aaab": ["aa", "ab"], "ab": ["ab"], "x": ["x"]}


def test_bpe_encode_docs_matches_reference(spark):
    """encode_docs_with_merges over a toy corpus equals a hand
    encode: train on the corpus, then per-doc token/piece counts."""
    from rivulus_spark.operators import bpe

    docs = spark.createDataFrame(
        [(0, "abab abab cd"), (1, "ab cd cd"), (2, "x")],
        "doc_id long, text string")
    merges = bpe.train_merges_from_docs(docs, n_merges=2)
    got = {(r.doc_id, r.n_tokens, r.n_pieces)
           for r in bpe.encode_docs_with_merges(docs, merges).collect()}
    # merges: (a,b) count 5 -> ab; then (c,d) count 3 beats (ab,ab)
    # count 2. encode: abab->[ab,ab], ab->[ab], cd->[cd], x->[x]
    assert got == {(0, 3, 5), (1, 3, 3), (2, 1, 1)}


# ----------------------------------------------------------------------
# logistic-regression quality classifier
# ----------------------------------------------------------------------

def test_logreg_fit_matches_numpy_reference(spark):
    """Distributed full-batch GD must track an independent numpy
    replica to ~1e-9 (the partial-sum drift budget the floored-6
    oracle relies on), and the fitted scores must separate a
    separable toy set."""
    import numpy as np

    from rivulus_spark.operators import classifier

    rows = [(float(i), float((i * 7) % 5), i >= 10) for i in range(20)]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y boolean")
    w, means, stds = classifier.logreg_fit(df, ["x1", "x2"], "y",
                                           n_iters=15, lr=1.0)

    X = np.array([[r[0], r[1]] for r in rows])
    y = np.array([1.0 if r[2] else 0.0 for r in rows])
    m, s = X.mean(0), X.std(0)
    Xs = (X - m) / s
    ref = np.zeros(3)
    for _ in range(15):
        p = 1 / (1 + np.exp(-(ref[0] + Xs @ ref[1:])))
        r = p - y
        ref[0] -= r.sum() / 20
        ref[1:] -= (Xs.T @ r) / 20
    assert abs(w["intercept"] - ref[0]) < 1e-9
    assert abs(w["x1"] - ref[1]) < 1e-9 and abs(w["x2"] - ref[2]) < 1e-9

    scored = classifier.logreg_score(df, ["x1", "x2"], w, list(m),
                                     list(s))
    got = {r.x1: r.score for r in scored.collect()}
    assert min(got[float(i)] for i in range(10, 20)) > \
        max(got[float(i)] for i in range(10))


def test_logreg_fit_constant_feature_and_empty_input(spark):
    """A zero-variance feature must not divide by zero (std
    coalesces to 1, weight stays 0 — the standardized column is
    identically 0); an empty input must raise, not return NaNs."""
    import pytest as _pytest

    from rivulus_spark.operators import classifier

    df = spark.createDataFrame(
        [(1.0, 5.0, True), (2.0, 5.0, False), (3.0, 5.0, True)],
        "x1 double, c double, y boolean")
    w, _, _ = classifier.logreg_fit(df, ["x1", "c"], "y", n_iters=3)
    assert w["c"] == 0.0 and all(map(math.isfinite, w.values()))

    with _pytest.raises(Exception):
        classifier.logreg_fit(df.filter("x1 > 99"), ["x1"], "y",
                              n_iters=1)


# ----------------------------------------------------------------------
# embedding PCA spectrum
# ----------------------------------------------------------------------

def test_pca_spectrum_matches_numpy_and_is_batch_invariant(spark):
    """Distributed moment accumulation must reproduce numpy's
    covariance spectrum regardless of partitioning (1 vs 8 partitions
    exercise different batch splits), and explained fractions must
    sum to ~1 over all components."""
    import numpy as np

    from rivulus_spark.operators import pca

    rng = np.random.default_rng(7)
    X = rng.normal(size=(300, 6)) @ np.diag([5, 3, 2, 1, 0.5, 0.1])
    rows = [(i, [float(v) for v in X[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ref = np.linalg.eigvalsh(np.cov(X, rowvar=False, bias=True))[::-1]
    for parts in (1, 8):
        got = (pca.pca_spectrum(df.repartition(parts), k=6)
               .orderBy("component").collect())
        for i, r in enumerate(got):
            assert abs(r.eigenvalue - np.floor(ref[i] * 1e6) / 1e6) < 1e-9
        assert abs(sum(r.explained_frac for r in got) - 1.0) < 1e-4


def test_repeated_spans_merge_adjacency_and_gap(spark):
    """Hand-checked island semantics: overlapping grams merge,
    back-to-back coverage merges, a 1-token unrepeated gap splits,
    intra-doc repeats count toward min_repeats."""
    docs = spark.createDataFrame([
        # docs 0 and 1 share tokens a b c d (one 3-gram window at 0-2
        # and 1-3 -> overlap-merged span 0..3 in both)
        (0, "a b c d x y z"),
        (1, "a b c d q r s"),
        # doc 2 repeats "p q r" twice within itself with a gap:
        # positions 0-2 and 4-6 -> two islands (token 3 unrepeated)
        (2, "p q r u p q r"),
    ], "doc_id long, text string")
    got = {(r.doc_id, r.span_start, r.span_end, r.n_repeated_grams)
           for r in dedup.repeated_spans(docs, k=3, min_repeats=2)
           .collect()}
    assert got == {(0, 0, 3, 2), (1, 0, 3, 2),
                   (2, 0, 2, 1), (2, 4, 6, 1)}


def test_positioned_shingle_arrow_matches_relational(spark):
    """Bit-parity of the r8 Arrow positioned-gram pass against the
    relational lead-window form on the awkward cases: leading/
    trailing whitespace (empty tokens kept), tabs/newlines (Java \\s
    class), intra-doc repeats (rows NOT distinct-ed), docs shorter
    than k, null text, and a SINGLE null doc id (several null-id
    docs are outside both forms' contract — the relational window
    would merge them into one pseudo-doc; documented precondition)."""
    docs = spark.createDataFrame([
        (0, "  a b c d e  "),            # leading/trailing spaces
        (1, "a\tb\nc d e"),              # java \s separators
        (2, "x y x y x y"),              # intra-doc repeated grams
        (3, "too short"),                # < k tokens: no rows
        (4, None),                       # null text: no rows
        (None, "p q r s t"),             # null id flows through
    ], "doc_id long, text string")
    rel = {(r.id, r.pos, r.h) for r in
           dedup.positioned_shingle_rows(docs, k=3).collect()}
    arw = {(r.id, r.pos, r.h) for r in
           dedup.positioned_shingle_rows_arrow(docs, k=3).collect()}
    assert rel == arw and len(arw) > 0


def test_pool_chunk_embeddings_ordered_mean(spark):
    """Hand-checked pooling: per-doc mean over chunks in ascending id
    order, 6-decimal rounding, singleton docs pass through."""
    chunks = spark.createDataFrame([
        (0, 0, [1.0, 0.0]), (1, 0, [0.0, 1.0]),    # doc 0: mean .5,.5
        (2, 1, [0.3, 0.9]),                         # doc 1: singleton
        (3, 2, [1.0, 1.0]), (4, 2, [0.0, 0.0]),
        (5, 2, [0.5, 0.2]),                         # doc 2: thirds
    ], "vec_id long, doc long, embedding array<double>")
    got = {r.doc_id: (r.n_chunks, r.pooled) for r in
           similarity.pool_chunk_embeddings(chunks, "doc", dim=2)
           .collect()}
    assert got[0] == (2, [0.5, 0.5])
    assert got[1] == (1, [0.3, 0.9])
    assert got[2] == (3, [0.5, 0.4])


def test_pool_chunk_fold_seeded_with_first_chunk(spark):
    """ADVICE r8: the fold seeds with the first chunk (list_reduce
    parity), so an all -0.0 component no longer flips to +0.0 in the
    SUM — and singleton docs still pass through via the empty-tail
    slice. The residual +0.0 print difference on an exactly-(-0.0)
    MEAN lives in Spark's round(), documented in the docstring."""
    import math

    chunks = spark.createDataFrame([
        (0, 1, [-0.0, 1.0]), (1, 1, [-0.0, 3.0]),
        (2, 2, [-0.0, -0.5]),                       # singleton
    ], "vec_id long, doc long, embedding array<double>")
    vs = F.transform(F.col("chunks"), lambda c: c["v"])
    raw = (chunks.groupBy("doc")
           .agg(F.array_sort(F.collect_list(
               F.struct(F.col("vec_id").alias("id"),
                        F.col("embedding").alias("v")))).alias("chunks"))
           .select("doc", F.aggregate(
               F.slice(vs, F.lit(2), F.size(vs) - 1), F.element_at(vs, 1),
               lambda a, x: F.zip_with(a, x, lambda p, q: p + q))
               .alias("s")))
    got = {r.doc: r.s for r in raw.collect()}
    # seeded fold: -0.0 + -0.0 stays -0.0 (zero seed gave +0.0)
    assert math.copysign(1.0, got[1][0]) == -1.0 and got[1][1] == 4.0
    # singleton: the seed IS the result, empty tail slice is legal
    assert math.copysign(1.0, got[2][0]) == -1.0 and got[2][1] == -0.5
    out = {r.doc_id: (r.n_chunks, r.pooled) for r in
           similarity.pool_chunk_embeddings(chunks, "doc", dim=2)
           .collect()}
    assert out[1] == (2, [0.0, 2.0]) and out[2] == (1, [0.0, -0.5])


def test_quantized_vec_codes_and_knn(spark):
    """int8 code rule (shared with quantize_int8_report): max element
    hits exactly ±127, others floor(x/scale*127), all-zero vectors
    stay all-zero; quantized knn ranks an exact duplicate first at
    sim_q 1.0."""
    from rivulus_spark.operators import quantize

    vecs = spark.createDataFrame([
        (0, [2.0, -1.0, 0.5]),
        (1, [0.0, 0.0, 0.0]),
    ], "vec_id long, embedding array<double>")
    got = {r.vec_id: r.q for r in
           vecs.select("vec_id",
                       quantize.quantized_vec("embedding").alias("q"))
           .collect()}
    # scale 2.0: [127, floor(-63.5)=-64, floor(31.75)=31]
    assert got[0] == [127.0, -64.0, 31.0]
    assert got[1] == [0.0, 0.0, 0.0]

    corpus = spark.createDataFrame([
        (10, [1.0, 0.0, 0.1]),
        (11, [2.0, 0.0, 0.2]),      # same direction as the query
        (12, [0.0, 1.0, 0.0]),
    ], "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(99, [1.0, 0.0, 0.1])],
                              "vec_id long, embedding array<double>")
    top = quantize.knn_cosine_quantized(corpus, q, k=3).collect()
    ranked = sorted(((r.rank, r.n_id, r.sim_q) for r in top))
    assert ranked[0][1] in (10, 11) and ranked[0][2] == 1.0
    assert ranked[2][1] == 12       # orthogonal vector ranks last


def test_repair_split_leakage_quarantines_whole_cluster(spark):
    """Hand-checked quarantine semantics: a cluster straddling
    train/val moves WHOLE into train (including the members already
    there — counted as unmoved); a single-split cluster stays; a
    singleton stays; summary counts balance."""
    from rivulus_spark.operators import sample

    assigned = spark.createDataFrame(
        [(1, "train"), (2, "val"), (3, "train"),
         (4, "val"), (5, "val"), (6, "test")],
        "doc_id long, split string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "node long, cluster long")
    got = {r.split: (r.n_before, r.n_after, r.n_moved_in, r.n_moved_out)
           for r in sample.repair_split_leakage(assigned,
                                                clusters).collect()}
    assert got == {"train": (2, 3, 1, 0),
                   "val": (3, 2, 0, 1),
                   "test": (1, 1, 0, 0)}


def test_cut_repeated_spans_keeps_first_occurrence(spark):
    """Hand-checked Lee et al. ACTION semantics: the corpus-wide
    first occurrence (ORDER BY id, pos) of each repeated gram
    survives; later occurrences are cut over their full k-token
    extent with overlaps merged by the interval sweep; intra-doc
    repeats cut the later copy; untouched docs pass through with
    their ORIGINAL text."""
    docs = spark.createDataFrame([
        (0, "a b c d x"),        # holds the canonical 'a b c'/'b c d'
        (1, "z a b c d"),        # later copies -> tokens 1..4 cut
        (2, "p q r p q r"),      # intra-doc: second 'p q r' cut
    ], "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_kept, r.clean_text)
           for r in dedup.cut_repeated_spans(docs, k=3, min_repeats=2)
           .collect()}
    assert got[0] == (5, 5, "a b c d x")
    assert got[1] == (5, 1, "z")
    assert got[2] == (6, 3, "p q r")
    # md5 observable matches the text it digests
    out = {r.doc_id: r.clean_md5 for r in
           dedup.cut_repeated_spans(docs, k=3, min_repeats=2).collect()}
    import hashlib
    assert out[1] == hashlib.md5(b"z").hexdigest()


def test_group_jaccard_matrix_hand_case(spark):
    """Exact group-set Jaccard on a hand corpus: group A = {g1,g2,g3}
    (two docs, one shared shingle set), group B = {g2,g3,g4}, so
    J = 2/4; shingles must NOT cross document boundaries (doc 2's
    tail + doc 3's head would fabricate grams)."""
    docs = spark.createDataFrame([
        (0, "A", "a b c d"),      # grams: abc, bcd
        (1, "A", "x y z"),        # gram: xyz
        (2, "B", "b c d"),        # gram: bcd
        (3, "B", "x y z w"),      # grams: xyz, yzw
    ], "doc_id long, source string, text string")
    got = [(r.group_a, r.group_b, r.n_common, r.jaccard)
           for r in dedup.group_jaccard_matrix(docs).collect()]
    # A = {abc, bcd, xyz}, B = {bcd, xyz, yzw} -> common 2, union 4
    assert got == [("A", "B", 2, 0.5)]


def test_new_operators_empty_and_short_inputs(spark):
    """Degenerate inputs must produce empty (not wrong, not crashed)
    results: an empty eval set for the bloom report, docs shorter
    than k for span detection, and a single group for the similarity
    matrix."""
    from rivulus_spark.operators import contamination

    docs = spark.createDataFrame(
        [(0, "A", "a b c"), (1, "A", "a b c")],
        "doc_id long, source string, text string")
    empty = docs.filter("doc_id < 0")

    rep = contamination.bloom_contamination_report(docs, empty, k=3)
    assert rep.count() == 0

    short = docs.select("doc_id", "text")  # 3 tokens < k=5
    assert dedup.repeated_spans(short, k=5, min_repeats=2).count() == 0

    # one group: no pairs
    assert dedup.group_jaccard_matrix(docs).count() == 0


def test_rate_anomalies_flags_burst_hour(spark):
    """A hand burst: type A has 1 event/hour for 11 hours plus one
    100-event hour -> only the burst hour flags; type B is constant
    -> sigma 0 rows never divide by zero, never flag."""
    import datetime

    from rivulus_spark.operators import stats as stats_ops

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for h in range(12):
        rows.append((eid, base + datetime.timedelta(hours=h), "A")); eid += 1
        rows.append((eid, base + datetime.timedelta(hours=h), "B")); eid += 1
    for i in range(99):
        rows.append((eid, base + datetime.timedelta(hours=5, minutes=i % 60,
                                                    seconds=i // 60), "A"))
        eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                                     "event_type string")
    got = [(r.event_type, r.hour, r.n_events)
           for r in stats_ops.rate_anomalies(df).collect()]
    assert got == [("A", "2026-01-01 05:00", 100)]


def test_datacard_hand_corpus(spark):
    """Hand-checked datasheet: duplicate share counts corpus-wide
    fingerprints (the cross-group mirror lands in BOTH groups'
    dup_frac), shorts and entropy are per group."""
    import math as m

    from rivulus_spark.operators import snapshot

    docs = spark.createDataFrame([
        (0, "A", "en", "x y z"),
        (1, "A", "fr", "same mirrored text here padding five"),
        (2, "B", "en", "same mirrored text here padding five"),
        (3, "B", "en", "p q r s"),
    ], "doc_id long, source string, lang string, text string")
    got = {r.source: r for r in snapshot.datacard(docs).collect()}
    assert got["A"].n_docs == 2 and got["B"].n_docs == 2
    assert got["A"].dup_frac == 0.5 and got["B"].dup_frac == 0.5
    assert got["A"].short_frac == 1.0  # all docs < 50 tokens
    # A: langs en/fr 1-1 -> entropy ln 2; B: en only -> 0
    assert got["A"].lang_entropy == m.floor(m.log(2) * 1000) / 1000
    assert got["B"].lang_entropy == 0.0
    assert got["A"].total_tokens == 9 and got["B"].total_tokens == 10


def test_bpe_encode_survives_trailing_whitespace(spark):
    """Regression (r7 review): text with trailing non-space whitespace
    ('ab\\n') makes split emit an empty token whose syms=[] crashed the
    fold with a negative slice length; empty split artifacts are now
    dropped and the token count matches the non-empty words."""
    from rivulus_spark.operators import bpe

    docs = spark.createDataFrame([(0, "ab ab\n"), (1, "\tcd cd")],
                                 "doc_id long, text string")
    merges = bpe.train_merges_from_docs(docs, n_merges=1)
    got = {(r.doc_id, r.n_tokens, r.n_pieces)
           for r in bpe.encode_docs_with_merges(docs, merges).collect()}
    # merge 1: (a,b) count 2 -> ab one piece; cd stays two chars
    assert got == {(0, 2, 2), (1, 2, 4)}


# ----------------------------------------------------------------------
# DSIR + split-leakage + tokenizer-fertility (r8 second wave)
# ----------------------------------------------------------------------

def test_dsir_weights_prefer_target_like_docs(spark):
    """An unlabeled document sharing the target domain's vocabulary
    must outweigh one that doesn't; target members themselves score
    highest; every weight is a 1e-6-floored double."""
    import math as m

    from rivulus_spark.operators import dsir

    df = spark.createDataFrame([
        (0, "alpha beta gamma delta alpha beta", "tgt"),
        (1, "alpha beta gamma epsilon beta gamma", "tgt"),
        (2, "alpha beta gamma zeta alpha gamma", "raw"),
        (3, "one two three four five six", "raw"),
    ], "doc_id long, text string, domain string")
    w = {r.id: r.wgt for r in
         dsir.dsir_weights(df, F.col("domain") == "tgt").collect()}
    assert set(w) == {0, 1, 2, 3}
    assert w[2] > w[3], "target-vocab doc must outrank unrelated doc"
    assert min(w[0], w[1]) > w[3]
    for v in w.values():
        assert v == m.floor(v * 1_000_000) / 1_000_000


def test_dsir_select_rank_and_carry(spark):
    from rivulus_spark.operators import dsir

    df = spark.createDataFrame([
        (0, "alpha beta gamma", "tgt", "s0"),
        (1, "alpha beta gamma", "raw", "s1"),
        (2, "unrelated words here", "raw", "s2"),
    ], "doc_id long, text string, domain string, source string")
    out = dsir.dsir_select(df, F.col("domain") == "tgt", k=2,
                           carry_cols=["source"]).collect()
    assert [r.rank for r in out] == [1, 2]
    assert {r.id for r in out} == {0, 1}  # identical text ties, id breaks
    assert out[0].source == "s0"


def test_split_leakage_pairs_hand_case(spark):
    from rivulus_spark.operators import sample

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (3, 4, 0.85), (5, 6, 1.0)],
        "doc_a long, doc_b long, jacc double")
    assigned = spark.createDataFrame(
        [(1, "train"), (2, "val"), (3, "train"), (4, "train"),
         (5, "test"), (6, "train")], "doc_id long, split string")
    out = {r.leak_pair: (r.n_pairs, r.max_jacc) for r in
           sample.split_leakage_pairs(pairs, assigned).collect()}
    # pair (3,4) is train-train: not a leak; the key is order-free
    assert out == {"train|val": (1, 0.9), "test|train": (1, 1.0)}


def test_split_leakage_audit_exact_dups_across_splits(spark):
    """Craft ids whose content-hash buckets land in different splits
    (computed with the same md5 derivation assign_splits uses), then
    verify a cross-split duplicate group is reported and a same-split
    one is not."""
    import hashlib

    from rivulus_spark.operators import sample

    def bucket(i: int) -> int:
        h = hashlib.md5(f"leak{i}".encode()).hexdigest()[:15]
        return int(h, 16) % 1_000_000

    train = [i for i in range(200) if bucket(i) < 900_000]
    evalv = [i for i in range(200) if bucket(i) >= 900_000]
    assert len(train) >= 3 and len(evalv) >= 1
    rows = [(train[0], "dup across"), (evalv[0], "dup across"),
            (train[1], "dup within"), (train[2], "dup within"),
            (train[3] if len(train) > 3 else train[0] + 0, "unique one")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = sample.split_leakage_audit(
        df, {"train": 0.9, "eval": 0.1}, key_col="doc_id", seed="leak")
    got = [(r.leak_pair, r.n_groups, r.n_docs) for r in out.collect()]
    assert got == [("eval|train", 1, 2)]


def test_tokenizer_fertility_matches_encode_aggregation(spark):
    """fertility(group) must equal the per-group aggregation of
    encode_docs_with_merges' per-doc counts, ratios floored at 1e-6."""
    import math as m

    from rivulus_spark.operators import bpe

    df = spark.createDataFrame([
        (0, "aa bb aa bb aa", "en", 14),
        (1, "aa aa aa cc", "en", 11),
        (2, "xx yy zz", "zh", 8),
    ], "doc_id long, text string, lang string, n_chars long")
    merges = bpe.train_merges_from_docs(df, n_merges=2)
    enc = {r.doc_id: (r.n_tokens, r.n_pieces) for r in
           bpe.encode_docs_with_merges(df, merges).collect()}
    fert = {r.lang: r for r in
            bpe.tokenizer_fertility(df, merges).collect()}
    for lang, ids in (("en", [0, 1]), ("zh", [2])):
        nt = sum(enc[i][0] for i in ids)
        np_ = sum(enc[i][1] for i in ids)
        nc = {0: 14, 1: 11, 2: 8}
        assert fert[lang].n_docs == len(ids)
        assert fert[lang].n_tokens == nt and fert[lang].n_pieces == np_
        assert fert[lang].pieces_per_token == m.floor(np_ / nt * 1e6) / 1e6
        assert fert[lang].chars_per_piece == \
            m.floor(sum(nc[i] for i in ids) / np_ * 1e6) / 1e6


def test_dsir_serving_paths_are_bit_equal(spark):
    """The three DSIR weight paths — batch (explode + broadcast join),
    row-local expression (map-free array literal), and foreachBatch
    serving (fitted lam + dsir_batch_scores) — must produce the SAME
    floored weight per document: the integer-lam contract is what
    lets the stream query share the batch oracle."""
    from rivulus_spark.operators import dsir

    df = spark.createDataFrame([
        (0, "alpha beta gamma delta alpha", "tgt"),
        (1, "alpha beta gamma epsilon", "tgt"),
        (2, "alpha beta zeta gamma", "raw"),
        (3, "one two three four five", "raw"),
        (4, "solo", "raw"),
    ], "doc_id long, text string, domain string")
    tgt = F.col("domain") == "tgt"
    batch = {r.id: (r.n_grams, r.wgt)
             for r in dsir.dsir_weights(df, tgt).collect()}
    lam_rows, default = dsir.dsir_model(df, tgt)
    expr = dsir.dsir_weight_expr(lam_rows, default)
    local = {r.doc_id: r.wgt
             for r in df.select("doc_id", expr.alias("wgt")).collect()}
    lam_df = spark.createDataFrame(
        [(b, int(l)) for b, l in lam_rows], "bkt long, lam_e9 long")
    served = {r.id: (r.n_grams, r.wgt)
              for r in dsir.dsir_batch_scores(df, lam_df).collect()}
    assert set(batch) == set(local) == set(served) == {0, 1, 2, 3, 4}
    for i in batch:
        assert batch[i][1] == local[i] == served[i][1], i
        assert batch[i][0] == served[i][0], i


def test_foreach_batch_drain_returns_typed_empty_on_no_input(spark, tmp_path):
    """run_available_now_foreach_batch must return a TYPED empty frame
    when the backlog is empty (the schema probe contract), not crash
    on an unknown schema."""
    import pyspark.sql.functions as SF

    from rivulus_spark.streaming import windows as sw

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, "a")], "id long, s string") \
        .write.parquet(src)
    stream = (spark.readStream
              .schema(spark.read.parquet(src).schema)
              .option("maxFilesPerTrigger", 1).parquet(src))

    def agg(bdf):
        return bdf.groupBy("s").agg(SF.count("*").alias("n"))

    out = sw.run_available_now_foreach_batch(stream, agg)
    assert [(r.s, r.n) for r in out.collect()] == [("a", 1)]
    assert out.columns == ["s", "n"]


def test_weighted_sample_determinism_exclusions_and_bias(spark):
    """A-Res weighted sampling: same seed = same rows in the same
    order; zero/negative weights never appear; a different seed
    re-draws; and under a 20:1 weight ratio the heavy rows must
    dominate the sample (pinned on the deterministic draw)."""
    from rivulus_spark.operators import sample

    rows = [(i, 1) for i in range(50)] + [(i, 20) for i in range(50, 100)]
    rows += [(100, 0), (101, -5)]
    df = spark.createDataFrame(rows, "k long, w long")
    a1 = [(r.k, r.rank) for r in
          sample.weighted_sample(df, 30, "w", "k", seed="a").collect()]
    a2 = [(r.k, r.rank) for r in
          sample.weighted_sample(df, 30, "w", "k", seed="a").collect()]
    assert a1 == a2 and len(a1) == 30
    ids = {k for k, _ in a1}
    assert 100 not in ids and 101 not in ids
    heavy = sum(1 for k in ids if k >= 50)
    assert heavy >= 20, f"20x-weighted rows under-sampled: {heavy}/30"
    b = {r.k for r in
         sample.weighted_sample(df, 30, "w", "k", seed="b").collect()}
    assert b != ids


def test_lang_mismatch_audit_hand_case(spark):
    """Labeled-en doc without markers and labeled-fr doc full of
    markers both count as mismatches; agreeing docs don't."""
    df = spark.createDataFrame([
        (0, "sA", "en", "the cat sat on a mat of it"),   # en, pred en
        (1, "sA", "en", "bonjour le monde ici"),          # en, pred other
        (2, "sA", "fr", "the a of and to is in it"),      # fr, pred en
        (3, "sB", "fr", "bonjour le monde encore"),       # fr, pred other
    ], "doc_id long, source string, lang string, text string")
    got = {r.source: r for r in text.lang_mismatch_audit(df).collect()}
    assert (got["sA"].n_docs, got["sA"].n_labeled_en,
            got["sA"].n_pred_en, got["sA"].n_mismatch) == (3, 2, 2, 2)
    assert (got["sB"].n_docs, got["sB"].n_mismatch) == (1, 0)


def test_dsir_null_target_flag_counts_as_not_target(spark):
    """A NULL target predicate (NULL domain) must count as not-target:
    weights stay finite, dsir_model collects clean integers, and the
    result equals the same corpus with the NULLs labeled 'raw'."""
    from rivulus_spark.operators import dsir

    rows = [(0, "alpha beta gamma", "tgt"),
            (1, "alpha beta delta", None),
            (2, "unrelated words here", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, domain string")
    df2 = df.na.fill({"domain": "raw"})
    tgt = F.col("domain") == "tgt"
    w_null = {r.id: r.wgt for r in dsir.dsir_weights(df, tgt).collect()}
    w_filled = {r.id: r.wgt for r in dsir.dsir_weights(df2, tgt).collect()}
    assert w_null == w_filled and len(w_null) == 3
    lam_rows, default = dsir.dsir_model(df, tgt)
    assert all(isinstance(l, int) for _, l in lam_rows)


def test_context_length_plan_hand_case(spark):
    """ctx=4 over one stream with token counts [3, 2, 4]: PAD layout
    needs ceil(3/4)+ceil(2/4)+ceil(4/4)=3 windows (12 slots, 9 tokens
    -> pad 3/12); CUT layout: before=[0,3,5]; doc2 spans tokens 3..4
    (crosses 4) and doc3 spans 5..8 (crosses 8), so frag_docs=2;
    stream total 9 -> ceil(9/4)=3 cut windows."""
    import math as m

    from rivulus_spark.operators import pack

    df = spark.createDataFrame([
        (0, "s", "aa bb cc"),      # 3 word tokens
        (1, "s", "dd ee"),         # 2
        (2, "s", "ff gg hh ii"),   # 4
    ], "doc_id long, source string, text string")
    r = pack.context_length_plan(df, ctx_lens=[4]).collect()[0]
    assert (r.ctx_len, r.n_docs, r.total_tokens) == (4, 3, 9)
    assert r.pad_windows == 3
    assert r.pad_frac == m.floor((1 - 9 / 12) * 1e6) / 1e6
    assert r.cut_windows == 3
    assert r.frag_docs == 2
    assert r.frag_frac == m.floor(2 / 3 * 1e6) / 1e6


def test_normalized_duplicates_hand_case(spark):
    """Case/punctuation/whitespace variants collapse to one class and
    report the raw-variant count; raw-identical copies alone (no
    churn) are NOT reported — that's dedup_exact's job."""
    df = spark.createDataFrame([
        (0, "Hello, World!"),
        (1, "hello world"),
        (2, "HELLO   world."),
        (3, "same text"),
        (4, "same text"),          # raw-identical pair: 1 raw variant
        (5, "unrelated content"),
    ], "doc_id long, text string")
    got = [(r.keep_id, r.n_copies, r.n_raw_variants) for r in
           dedup.normalized_duplicates(df).collect()]
    assert got == [(0, 3, 3)]


def test_bm25_topk_hand_checked(spark):
    """BM25 against a Python replica of the identical formula on a
    3-doc corpus: ranking, floor-6 scores, distinct-query-term
    dedup, and the no-overlap-no-rows contract."""
    from rivulus_spark.operators import retrieval

    docs = spark.createDataFrame([
        (1, "apple banana apple"),
        (2, "banana cherry"),
        (3, "durian"),
    ], "doc_id long, text string")
    queries = spark.createDataFrame(
        [(0, "apple cherry apple"),     # duplicate term scores once
         (9, "nothing matches here0")],
        "q_id long, q_text string")
    got = {(r.q_id, r.doc_id): (r.rank, r.score_q) for r in
           retrieval.bm25_topk(docs, queries, k=10).collect()}

    def score(terms_tf_df, dl, n=3, avgdl=2.0, k1=1.2, b=0.75):
        s = 0.0
        for tf, dft in terms_tf_df:  # ascending term order
            idf = math.log(1.0 + (n - dft + 0.5) / (dft + 0.5))
            s += idf * ((tf * (k1 + 1.0))
                        / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        return math.floor(s * 1_000_000) / 1_000_000

    # doc 1 matches only "apple" (tf 2, df 1); doc 2 only "cherry"
    assert got[(0, 1)] == (1, score([(2, 1)], 3.0))
    assert got[(0, 2)] == (2, score([(1, 1)], 2.0))
    assert (0, 3) not in got            # durian shares no term
    assert not any(q == 9 for q, _ in got)   # no overlap -> no rows


def test_char_entropy_hand_checked(spark):
    """Entropy formula replica: alternating chars = 1 bit, constant =
    0, all-distinct = ln(n)/ln(2); empty and null text restore as
    documented zero rows."""
    docs = spark.createDataFrame([
        (1, "abab"), (2, "aaaa"), (3, "abcd"), (4, ""), (5, None),
    ], "doc_id long, text string")
    got = {r.doc_id: (r.n_chars, r.n_unique_chars, r.entropy_q) for r in
           text.char_entropy(docs).collect()}

    def ent(counts):
        n = sum(counts)
        s = sum(c * math.log(c) for c in counts)
        return math.floor((math.log(n) - s / n) / math.log(2.0)
                          * 1_000_000) / 1_000_000

    assert got[1] == (4, 2, ent([2, 2]))
    assert got[1][2] == 1.0
    assert got[2] == (4, 1, 0.0)
    assert got[3] == (4, 4, ent([1, 1, 1, 1]))
    assert got[4] == (0, 0, 0.0)
    assert got[5] == (0, 0, 0.0)


def test_kcenter_select_greedy_order_and_ties(spark):
    """Gonzalez traversal on hand-placed 2-d points: farthest-first
    order, radius bookkeeping, lowest-id tie-break, early stop when
    every remaining point duplicates a center, and the designed
    errors on empty input / duplicate seed id."""
    from rivulus_spark.operators import cluster

    pts = spark.createDataFrame([
        (1, [0.0, 0.0]), (2, [10.0, 0.0]),
        (3, [0.0, 1.0]), (4, [10.0, 0.5]),
    ], "vec_id long, embedding array<double>")
    got = [(r.round, r.vec_id, r.radius_q) for r in
           cluster.kcenter_select(pts, k=4, dim=2).collect()]
    assert got == [(0, 1, 0.0), (1, 4, 100.25), (2, 3, 1.0),
                   (3, 2, 0.25)]

    ties = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [-1.0, 0.0])],
        "vec_id long, embedding array<double>")
    got = [(r.round, r.vec_id, r.radius_q) for r in
           cluster.kcenter_select(ties, k=3, dim=2).collect()]
    assert got == [(0, 1, 0.0), (1, 2, 1.0), (2, 3, 1.0)]

    dup = spark.createDataFrame(
        [(7, [0.0]), (7, [1.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="duplicate id"):
        cluster.kcenter_select(dup, k=2, dim=1)
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        cluster.kcenter_select(empty, k=2, dim=1)
    # all points coincide: round 1's best radius is 0 -> early stop
    same = spark.createDataFrame(
        [(1, [2.0, 2.0]), (2, [2.0, 2.0])],
        "vec_id long, embedding array<double>")
    got = [(r.round, r.vec_id) for r in
           cluster.kcenter_select(same, k=2, dim=2).collect()]
    assert got == [(0, 1)]


def test_score_auc_hand_checked(spark):
    """Mann-Whitney AUC replica on hand-placed scores: P=3 strict
    wins + 1 tie over 2x2 pairs -> (2*3+1)/8 = 0.875; degenerate
    one-class input yields NULL (SQL division), not a fabricated
    0.5."""
    from rivulus_spark.operators import classifier

    df = spark.createDataFrame(
        [(3.0, True), (2.0, True), (1.0, False), (2.0, False)],
        "s double, y boolean")
    row = classifier.score_auc(df, "s", "y").collect()[0]
    assert (row.n_pos, row.n_neg, row.auc_q) == (2, 2, 0.875)

    # perfect separation -> 1.0; inverted -> 0.0
    perfect = spark.createDataFrame(
        [(5.0, True), (4.0, True), (1.0, False)], "s double, y boolean")
    assert classifier.score_auc(perfect, "s", "y").collect()[0].auc_q == 1.0
    inv = spark.createDataFrame(
        [(1.0, True), (5.0, False)], "s double, y boolean")
    assert classifier.score_auc(inv, "s", "y").collect()[0].auc_q == 0.0

    onecls = spark.createDataFrame([(1.0, True)], "s double, y boolean")
    assert classifier.score_auc(onecls, "s", "y").collect()[0].auc_q is None


def test_score_auc_excludes_null_scores(spark):
    """ADVICE r9: NULL scores (the score ops' degenerate-input
    contract, e.g. punct_ratio on whitespace-only text) are excluded
    from the class counts and the rank pairs — the AUC over rows with
    a NULL-score row added is IDENTICAL to the AUC without it, and
    n_pos/n_neg do not inflate."""
    from rivulus_spark.operators import classifier

    clean = [(3.0, True), (2.0, True), (1.0, False), (2.0, False)]
    base = classifier.score_auc(
        spark.createDataFrame(clean, "s double, y boolean"),
        "s", "y").collect()[0]
    dirty = classifier.score_auc(
        spark.createDataFrame(clean + [(None, True), (None, False)],
                              "s double, y boolean"),
        "s", "y").collect()[0]
    assert (dirty.n_pos, dirty.n_neg, dirty.auc_q) == \
        (base.n_pos, base.n_neg, base.auc_q) == (2, 2, 0.875)


def test_vocab_coverage_hand_checked(spark):
    """Coverage prefix sums on a counted-by-hand corpus, including
    the saturation row past the true vocabulary and the (count DESC,
    term ASC) tie-break."""
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c")], "doc_id long, text string")
    got = {r.vocab_size: (r.covered_tokens, r.total_tokens, r.coverage_q)
           for r in text.vocab_coverage(docs, [1, 2, 10]).collect()}
    assert got[1] == (3, 6, 0.5)            # a: 3 of 6
    assert got[2] == (5, 6, math.floor(5 / 6 * 1_000_000) / 1_000_000)
    assert got[10] == (6, 6, 1.0)           # past vocab: saturates

    # tie between b and c at count 1 resolves by term asc
    ties = spark.createDataFrame([(1, "c b")], "doc_id long, text string")
    got = {r.vocab_size: r.covered_tokens
           for r in text.vocab_coverage(ties, [1]).collect()}
    assert got[1] == 1  # "b" ranks first

    with pytest.raises(ValueError, match="sizes"):
        text.vocab_coverage(docs, [])
    with pytest.raises(ValueError, match="sizes"):
        text.vocab_coverage(docs, [0])


def test_hard_negatives_label_mismatch_in_join(spark):
    """The nearest SAME-label vector never appears (and never eats a
    k slot): anchor's true nearest neighbor shares its label; top
    negative is the best OTHER-label vector."""
    from rivulus_spark.operators import similarity

    emb = spark.createDataFrame([
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.01]),   # same label, nearly identical
        (3, 1, [0.9, 0.3]),    # best cross-label
        (4, 1, [0.0, 1.0]),    # orthogonal cross-label
    ], "vec_id long, label long, embedding array<double>")
    got = [(r.n_id, r.n_label, r.rank) for r in
           similarity.hard_negatives(
               emb, emb.filter("vec_id = 1"), k=3).collect()]
    assert got == [(3, 1, 1), (4, 1, 2)]  # 2 never appears; k underfills
    sims = {r.n_id: r.sim for r in similarity.hard_negatives(
        emb, emb.filter("vec_id = 1"), k=3).collect()}
    assert sims[3] == round(0.9 / math.hypot(0.9, 0.3), 6)
    assert sims[4] == 0.0


def _py_lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                     prev + (ca != cb))
    return dp[len(b)]


def test_editdist_neardup_pairs(spark):
    """Both candidate generators (PassJoin segments and the r9
    length-block form) return exactly the brute-force pairs, each
    once: near-pairs, cross-bucket-boundary, and |len diff| >
    max_dist cases; long texts out of scope; null id/text dropped;
    bucket < max_dist is the blocked form's designed error."""
    from rivulus_spark.operators import dedup as dd

    docs = spark.createDataFrame([
        (1, "kitten"),            # len 6, blk 0
        (2, "sitting"),           # len 7, blk 0 -> dist 3
        (3, "kitten" + "x" * 24), # len 30, blk 1: cross-bucket vs 4
        (4, "kitten" + "x" * 26), # len 32, blk 2: dist 2 from 3
        (5, "z" * 300),           # past max_len: out of scope
        (6, None), (None, "kitten"),
    ], "doc_id long, text string")
    # brute force over the in-scope rows (1,2,3,4)
    import itertools
    rows = {1: "kitten", 2: "sitting", 3: "kitten" + "x" * 24,
            4: "kitten" + "x" * 26}
    want = sorted((a, b, _py_lev(rows[a], rows[b]))
                  for a, b in itertools.combinations(sorted(rows), 2)
                  if _py_lev(rows[a], rows[b]) <= 8)
    for form in (
            lambda d: dd.editdist_neardup_pairs(d, max_dist=8,
                                                max_len=256),
            lambda d: dd.editdist_neardup_pairs_blocked(
                d, max_dist=8, max_len=256, bucket=16)):
        got = sorted((r.doc_a, r.doc_b, r.dist)
                     for r in form(docs).collect())
        assert got == want
        assert (1, 2, 3) in got and (3, 4, 2) in got
        assert len(got) == len(set((a, b) for a, b, _ in got))

    with pytest.raises(ValueError, match="bucket width"):
        dd.editdist_neardup_pairs_blocked(docs, max_dist=8, bucket=4)
    with pytest.raises(ValueError, match="max_dist"):
        dd.editdist_neardup_pairs(docs, max_dist=0)


def test_editdist_passjoin_matches_brute_force_randomized(spark):
    """PassJoin candidate completeness on a seeded adversarial
    corpus: random base strings mutated with insert/delete/substitute
    typos at and past the tau boundary, strings SHORTER than the
    segment count (the zero-length-segment wildcard channel),
    equal-length pairs (orientation dedup), the empty string, and
    near-boundary length gaps — the pair set must equal the exact
    O(n²) brute force, for two different max_dist values."""
    import itertools
    import random

    from rivulus_spark.operators import dedup as dd

    rng = random.Random(20260816)
    alpha = "abcdef"

    def mutate(s, n):
        s = list(s)
        for _ in range(n):
            op = rng.choice("ids" if s else "i")
            j = rng.randrange(len(s) + 1 if op == "i" else len(s))
            if op == "i":
                s.insert(j, rng.choice(alpha))
            elif op == "d":
                del s[j]
            else:
                s[j] = rng.choice(alpha)
        return "".join(s)

    texts = ["", "a", "ab", "abc" * 5]
    for _ in range(12):
        base = "".join(rng.choice(alpha)
                       for _ in range(rng.randrange(0, 40)))
        texts.append(base)
        for n in (1, 3, 7, 9, 12):
            texts.append(mutate(base, n))
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for tau in (3, 8):
        want = sorted(
            (a, b, _py_lev(ta, tb))
            for (a, ta), (b, tb) in itertools.combinations(rows, 2)
            if _py_lev(ta, tb) <= tau)
        got = sorted((r.doc_a, r.doc_b, r.dist) for r in
                     dd.editdist_neardup_pairs(
                         docs, max_dist=tau, max_len=256).collect())
        assert got == want, f"tau={tau}: {len(got)} vs {len(want)}"


def test_editdist_passjoin_char_semantics_unicode(spark):
    """The PassJoin segments slice by CHARACTER (Spark substr), so
    multi-byte text keeps the operator's char-level Levenshtein
    contract: 'café' vs 'cafe' is one substitution, and the accented
    pair still blocks/verifies correctly (the REGISTERED query
    restricts to ASCII only for DuckDB byte-parity — the operator
    itself must stay char-correct)."""
    from rivulus_spark.operators import dedup as dd

    docs = spark.createDataFrame([
        (1, "café au lait"),
        (2, "cafe au lait"),     # dist 1 (é -> e)
        (3, "caffè au lait"),    # vs 1: insert f, è->é => dist 2
        (4, "naïve approach"),
        (5, "naive approach"),   # dist 1
    ], "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): r.dist for r in
           dd.editdist_neardup_pairs(docs, max_dist=3).collect()}
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert got[(4, 5)] == 1


def test_mmr_select_greedy_replica(spark):
    """MMR on hand-placed 2-d vectors vs a Python replica of the
    identical greedy (lam*rel - (1-lam)*maxsim, lowest-id ties):
    round 0 is the pure-relevance argmax; at diversity-leaning
    lam=0.3 a redundant near-copy of the first pick is deferred in
    favor of a diverse vector (at lam=0.7 relevance would keep the
    near-copy second — checked by hand)."""
    from rivulus_spark.operators import retrieval

    emb = spark.createDataFrame([
        (0, [1.0, 0.0]),           # query
        (1, [0.95, 0.05]),         # most relevant
        (2, [0.94, 0.05]),         # near-copy of 1: deferred
        (3, [0.6, 0.6]),           # diverse: promoted over 2
    ], "vec_id long, embedding array<double>")
    got = [(r.round, r.vec_id) for r in
           retrieval.mmr_select(emb, query_id=0, k=3, lam=0.3,
                                n_cands=3).collect()]
    assert got == [(0, 1), (1, 3), (2, 2)]

    # replica of round 0's score: lam * cosine(q, v1)
    import numpy as np
    q, v1 = np.array([1.0, 0.0]), np.array([0.95, 0.05])
    rel1 = float(v1 @ q) / (float(np.sqrt(v1 @ v1)) * 1.0)
    r0 = retrieval.mmr_select(emb, query_id=0, k=1, lam=0.7,
                              n_cands=3).collect()[0]
    assert r0.mmr_q == math.floor(0.7 * rel1 * 1_000_000) / 1_000_000

    with pytest.raises(ValueError, match="matched 0 rows"):
        retrieval.mmr_select(emb, query_id=99, k=2, n_cands=3)
    with pytest.raises(ValueError, match="n_cands"):
        retrieval.mmr_select(emb, query_id=0, k=5, n_cands=3)
    # relevance-leaning lam keeps the near-copy in slot 2
    got = [(r.round, r.vec_id) for r in
           retrieval.mmr_select(emb, query_id=0, k=3, lam=0.7,
                                n_cands=3).collect()]
    assert got == [(0, 1), (1, 2), (2, 3)]


def test_score_calibration_hand_checked(spark):
    """Reliability bins on hand-placed quantized scores: bin edges,
    the s=1.0 clamp into the top bin, exact integer mean recovery,
    and the gap arithmetic."""
    from rivulus_spark.operators import classifier

    df = spark.createDataFrame([
        (0.1, True), (0.15, False),     # bin 1: mean 0.125, rate 0.5
        (0.95, True), (1.0, True),      # 1.0 clamps into bin 9
    ], "s double, y boolean")
    got = {r.bin: (r.n, r.n_pos, r.mean_score_q, r.pos_rate_q, r.gap_q)
           for r in classifier.score_calibration(df, "s", "y").collect()}
    assert set(got) == {1, 9}
    m1 = math.floor(250 / (1000.0 * 2) * 1_000_000) / 1_000_000
    assert got[1] == (2, 1, m1,
                      0.5, math.floor(abs(0.5 - 250 / 2000.0)
                                      * 1_000_000) / 1_000_000)
    assert got[9][:2] == (2, 2)
    assert got[9][3] == 1.0

    with pytest.raises(ValueError, match="n_bins"):
        classifier.score_calibration(df, "s", "y", n_bins=0)


def test_score_calibration_dirty_input_contract(spark):
    """ADVICE r9: a NULL score contributes no row (no NULL-bin
    phantom), and an out-of-[0,1] score clamps into the edge bin it
    exceeds — greatest(.,0) below, least(.,n_bins-1) above — instead
    of minting a negative bin."""
    from rivulus_spark.operators import classifier

    df = spark.createDataFrame([
        (-0.2, False),   # below range: clamps into bin 0
        (0.05, True),    # genuine bin 0
        (1.7, True),     # above range: clamps into bin 9
        (None, True),    # dropped entirely
    ], "s double, y boolean")
    got = {r.bin: (r.n, r.n_pos)
           for r in classifier.score_calibration(df, "s", "y").collect()}
    assert set(got) == {0, 9}
    assert got[0] == (2, 1)
    assert got[9] == (1, 1)


def test_auc_counts_state_is_mergeable(spark):
    """The streaming-AUC contract: class counts accumulated in two
    independent chunks and merged (the state-store fold) flow through
    auc_from_score_counts to the SAME answer as one batch pass."""
    from rivulus_spark.operators import classifier

    rows = [(0.3, True), (0.2, True), (0.1, False), (0.2, False),
            (0.4, False), (0.3, True)]
    full = spark.createDataFrame(rows, "s double, y boolean")
    want = classifier.score_auc(full, "s", "y").collect()[0]

    a = spark.createDataFrame(rows[:3], "s double, y boolean")
    b = spark.createDataFrame(rows[3:], "s double, y boolean")
    from pyspark.sql import functions as SF
    merged = (classifier.score_class_counts(a, "s", "y")
              .unionByName(classifier.score_class_counts(b, "s", "y"))
              .groupBy("s").agg(SF.sum("pos").alias("pos"),
                                SF.sum("neg").alias("neg")))
    got = classifier.auc_from_score_counts(merged).collect()[0]
    assert (got.n_pos, got.n_neg, got.auc_q) == \
        (want.n_pos, want.n_neg, want.auc_q)


def test_rrf_fuse_hand_checked(spark):
    """RRF on two tiny rank lists: both-list docs sum two reciprocal
    terms, single-list docs get one, ordering is full-precision rrf
    then doc_id, and the output truncates at 6 decimals."""
    from rivulus_spark.operators import retrieval

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "q_id long, doc_id long, rank long")
    den = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2)], "q_id long, doc_id long, rank long")
    got = [(r.doc_id, r.rank, r.rrf_q) for r in
           retrieval.rrf_fuse(lex, den, k=10, c=60.0).collect()]

    def q(x):
        return math.floor(x * 1_000_000) / 1_000_000

    both = 1.0 / 61.0 + 1.0 / 62.0         # doc 11: rank 2 + rank 1
    assert got == [(11, 1, q(both)),
                   (10, 2, q(1.0 / 61.0)),
                   (12, 3, q(1.0 / 62.0))]


# ----------------------------------------------------------------------
# star-edge LSH banding (hot-bucket mode, VERDICT r10 #3)
# ----------------------------------------------------------------------

def test_star_edges_same_components_as_pairs_minhash(spark):
    """CC labels over verified STAR edges must equal CC labels over
    verified all-PAIRS edges on a corpus of duplicate families (the
    regime the mode exists for): same clusters, a fraction of the
    edges. Uses the real sf0.01 documents table."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    pairs = dedup.minhash_lsh_dedup(docs, threshold=0.8)
    star = dedup.minhash_lsh_dedup(docs, threshold=0.8, edge_mode="star")
    lab_p = {r.node: r.cluster for r in
             dedup.connected_components(pairs).collect()}
    lab_s = {r.node: r.cluster for r in
             dedup.connected_components(star).collect()}
    assert lab_p == lab_s and len(lab_p) > 0
    # and the star edge list is never larger than the pair list
    assert star.count() <= pairs.count()


def test_star_edges_same_components_as_pairs_cosine(spark):
    """Same parity for the hyperplane-LSH embedding side — on a
    duplicate-FAMILY corpus (clusters of near-identical vectors at a
    dedup-grade threshold), which is the star contract's stated
    regime. A retrieval-grade graph (low threshold, members similar
    to a hub but not to each other) is explicitly outside the
    contract: measured on sf0.01 embeddings at threshold 0.4 the pair
    path verifies 31 member-member edges where the star path keeps 2
    — that corpus must use edge_mode='pairs', which is why the mode
    is opt-in and the occupancy histogram exists."""
    import numpy as np

    from rivulus_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    rows = []
    for fam in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for c in range(4):
            v = base + rng.normal(scale=0.01, size=64)
            rows.append((fam * 10 + c, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 16-bit bands (65k buckets/band): star mode additionally needs
    # bucket PRECISION matched to the threshold — with 4-bit bands a
    # bucket mixes families, the bucket min comes from another family,
    # and the (min, member) edge fails verification where the
    # member-member pair would pass (measured: 22 of 80 nodes lost).
    # adaptive_lsh_params picks widths in this discriminative regime
    # for real corpus sizes; the caveat is documented on the operator.
    kw = dict(threshold=0.95, dim=64, n_planes=64, n_bands=4)
    pairs = sim.cosine_neardup_pairs_lsh(emb, **kw)
    star = sim.cosine_neardup_pairs_lsh(emb, edge_mode="star", **kw)
    lab_p = {r.node: r.cluster for r in dedup.connected_components(
        pairs, a_col="id_a", b_col="id_b").collect()}
    lab_s = {r.node: r.cluster for r in dedup.connected_components(
        star, a_col="id_a", b_col="id_b").collect()}
    assert lab_p == lab_s and len(lab_p) >= 60  # >= 3/4 of 80 members
    assert star.count() <= pairs.count()


def test_star_edges_hot_bucket_is_linear(spark):
    """A mass-duplicated corpus (N copies of one doc, all landing in
    the same band buckets): the star path emits exactly N-1 verified
    edges (one component), where the pair path would emit N(N-1)/2.
    N=512 keeps the quadratic reference tractable for the count
    assertion (measured at n=50,000: 49,999 edges, linear in n)."""
    n = 512
    txt = "breaking news boilerplate syndicated across every mirror site"
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(txt).alias("text"))
    star = dedup.minhash_lsh_dedup(docs, threshold=0.8, edge_mode="star")
    rows = star.collect()
    assert len(rows) == n - 1
    assert all(r.doc_a == 0 and r.jacc == 1.0 for r in rows)
    assert dedup.minhash_lsh_dedup(docs, threshold=0.8).count() \
        == n * (n - 1) // 2


def test_band_bucket_occupancy_hand_check(spark):
    """Occupancy histogram on a crafted corpus: 4 identical docs share
    every band bucket (occupancy 4 -> log2_occ 2, pair_volume 6 per
    bucket); 2 distinct docs occupy singleton buckets (log2_occ 0,
    pair_volume 0)."""
    rows = [(i, "four copies of this exact duplicated text") for i in range(4)]
    rows += [(10, "something else entirely on its own here"),
             (11, "and a third unrelated document body text")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    hist = {r.log2_occ: r for r in
            dedup.band_bucket_occupancy(docs).collect()}
    assert hist[2].n_rows == 4 * 32 and hist[2].pair_volume == 6 * 32
    assert hist[0].pair_volume == 0


def test_connected_components_incremental_equals_full(spark):
    """Incremental CC contract: merging a delta's edges into persisted
    labels equals full recompute on the concatenated edge sets.
    Covers: two old clusters merged through a new node, a new node
    attached to one cluster, a brand-new cluster, a redundant edge
    inside an existing cluster, and an untouched cluster."""
    def edges(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    old = edges([(1, 2), (2, 3), (10, 11), (20, 21)])
    delta = edges([(3, 30), (30, 11),   # merges {1,2,3} with {10,11}
                   (2, 50),             # attaches 50 to cluster 1
                   (40, 41),            # brand-new cluster
                   (21, 20)])           # redundant intra-cluster edge
    labels = dedup.connected_components(old)
    inc = {r.node: r.cluster for r in
           dedup.connected_components_incremental(labels, delta).collect()}
    full = {r.node: r.cluster for r in
            dedup.connected_components(old.unionByName(delta)).collect()}
    assert inc == full
    assert inc[30] == 1 and inc[11] == 1 and inc[50] == 1
    assert inc[40] == 40 and inc[41] == 40 and inc[20] == 20


def test_connected_components_incremental_distributed_path(spark):
    """Same contract with the driver union-find gated OFF — the
    contracted graph runs the pointer-jumping path."""
    def edges(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    old = edges([(1, 2), (5, 6)])
    delta = edges([(2, 5), (7, 8)])
    labels = dedup.connected_components(old)
    inc = {r.node: r.cluster for r in
           dedup.connected_components_incremental(
               labels, delta, driver_edge_gate=0).collect()}
    full = {r.node: r.cluster for r in
            dedup.connected_components(old.unionByName(delta)).collect()}
    assert inc == full and inc[6] == 1 and inc[8] == 7


def test_hamming_neardup_pairs_64bit_brute_parity(spark):
    """The generic Hamming-ball banding (shared by SimHash and the
    image perceptual hashes) must equal brute force on random 64-bit
    hashes INCLUDING negative (top-bit-set) values — the arithmetic
    shift's sign extension is masked off in band extraction."""
    import random

    rng = random.Random(11)
    base = [rng.getrandbits(64) for _ in range(40)]
    hashes = list(base)
    for h in base[:15]:                      # plant near-dups
        flips = rng.sample(range(64), rng.randint(1, 4))
        x = h
        for b in flips:
            x ^= 1 << b
        hashes.append(x)

    def signed(u):
        return u - (1 << 64) if u >= (1 << 63) else u

    rows = [(i, signed(u)) for i, u in enumerate(hashes)]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {(r.doc_a, r.doc_b, r.hamming) for r in
           dedup.hamming_neardup_pairs(df, id_col="id", hash_col="h",
                                       max_hamming=4, n_bits=64).collect()}
    want = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            d = bin(hashes[i] ^ hashes[j]).count("1")
            if d <= 4:
                want.add((i, j, d))
    assert got == want and len(want) >= 15

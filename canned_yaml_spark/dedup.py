"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale shapes (the whole point of each design):

- exact       — one hash aggregation on a 32-byte digest: the shuffle
                carries (digest, id), never text.
- MinHash+LSH — shingle → K minhashes → B bands; one shuffle keyed on
                (band, band-hash): only same-bucket docs ever meet.
                Candidates are verified with EXACT shingle Jaccard, so
                LSH recall only affects completeness, never precision.
- SimHash     — 64-bit signature from token-hash bit voting; near-dups
                = equal signatures on rotated bands (Hamming ≤ r).
- n-gram Jaccard — the exact verifier, also usable brute-force at
                small n (the oracle does exactly that).

Everything below is DataFrame-native (higher-order functions for
shingling/signatures — no Python on the data path).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.textops import _norm

SHINGLE_LEN = 5
MINHASH_K = 130
#: 26 bands × 5 rows — chosen from the banding calculus, not vibes:
#: at the verification threshold j = 0.8 the per-pair miss probability
#: is (1-0.8⁵)²⁶ ≈ 3e-5, i.e. the LSH pruner is lossless for every
#: pair the verifier accepts on any corpus of < ~10⁴ true near-dup
#: pairs, so the exact-Jaccard-verified output equals the brute-force
#: oracle's (verified at sf0.01 and sf0.1). Sharper banding (16×8,
#: threshold ≈0.71) was measured to MISS a real j≈0.8 pair on the
#: 6.5k-doc sf0.1 corpus — miss prob there is (1-0.8⁸)¹⁶ ≈ 5%; looser
#: banding (32×4, threshold ≈0.42) is 5e-8-lossless but drags the
#: corpus's j≈0.2 bulk into the verifier (measured 330× candidate
#: blow-up on the small-vocabulary test corpus). 26×5 (threshold
#: ≈0.52) sits in the measured similarity gap of real and test
#: corpora; pick r ≈ ln(b)/ln(1/t) when retuning for another t.
LSH_BANDS = 26
JACCARD_THRESHOLD = 0.8

#: deterministic odd multipliers for the K hash slots (LCG-style).
_PRIME = (1 << 61) - 1


def with_dup_injection(docs: DataFrame, every: int = 5,
                       id_offset: int = 1_000_000) -> DataFrame:
    """Append deterministic duplicates: every Nth doc gets a NEAR copy
    (text + short tail → shingle Jaccard ≈ 0.95) and every (N·2)th doc
    additionally an EXACT copy. Mirrors the validation fixtures'
    injected-defect pattern; the oracle builds the identical corpus in
    SQL (oracle.py)."""
    near = (docs.filter(F.col("doc_id") % every == 0)
                .select((F.col("doc_id") + id_offset).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" tail")).alias("text")))
    exact = (docs.filter(F.col("doc_id") % (every * 2) == 0)
                 .select((F.col("doc_id") + 2 * id_offset).alias("doc_id"),
                         F.col("text")))
    return docs.select("doc_id", "text").unionByName(near).unionByName(exact)


def shingles(t) -> "F.Column":
    """Distinct character shingles of ALREADY-NORMALIZED text
    (positions via sequence + transform — no explode, no shuffle).

    `t` must be a materialized column reference (`_with_norm` below),
    never an expression tree: Spark's interpreted HOF evaluation
    re-evaluates captured subtrees once PER ELEMENT, so embedding the
    regex normalization here turns shingling O(len²) — measured 13.2 s
    → 0.9 s for one shingle pass over the 6.5k-doc sf0.1 corpus."""
    return F.when(
        F.length(t) < SHINGLE_LEN, F.array(t)
    ).otherwise(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(t) - (SHINGLE_LEN - 1)),
        lambda i: t.substr(i, F.lit(SHINGLE_LEN)))))


def _with_norm(docs: DataFrame) -> DataFrame:
    """(doc_id, _t): normalization materialized as its own attribute so
    downstream shingling lambdas capture a cheap column reference."""
    return docs.select("doc_id", _norm(F.col("text")).alias("_t"))


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """(fp, n_docs, doc_ids) for texts appearing more than once.
    Hash-groupBy on the md5 digest of normalized text."""
    d = docs.select("doc_id", F.md5(_norm(F.col("text"))).alias("fp"))
    return (d.groupBy("fp")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
             .filter(F.col("n_docs") > 1))


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, s): long-form distinct shingles. Normalization is
    materialized first (see shingles); the array is then evaluated
    exactly once per document as the explode argument."""
    return _with_norm(docs).select(
        "doc_id", F.explode(shingles(F.col("_t"))).alias("s"))


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """K-slot minhash via hash aggregation (the scalable form): explode
    shingles, then min(xxhash64(s, i)) per slot. Partial (map-side)
    aggregation reduces each doc to K longs before the shuffle — the
    shuffle volume is docs × K × 8 bytes regardless of text size."""
    aggs = [F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}")
            for i in range(MINHASH_K)]
    return (shingle_rows(docs)
            .groupBy("doc_id").agg(*aggs)
            .select("doc_id",
                    F.array(*[F.col(f"h{i}") for i in range(MINHASH_K)])
                     .alias("sig")))


#: signature-estimate prefilter margin: Hoeffding gives
#: P(est < j − δ) ≤ exp(−2Kδ²); δ = 0.27 at K = 130 bounds the
#: per-true-pair loss below 1e-8, so the prefilter is lossless at any
#: realistic corpus size while discarding the j ≈ 0.2 candidate bulk
#: (whose pass probability is exp(−2·130·0.33²) ≈ 1e-13).
_EST_MARGIN = 0.27


def near_dup_pairs(docs: DataFrame,
                   threshold: float = JACCARD_THRESHOLD,
                   bands: int = LSH_BANDS,
                   max_bucket: int = 4096) -> DataFrame:
    """MinHash+LSH candidates verified by EXACT shingle Jaccard.

    Output (doc_a, doc_b, jaccard) is exact (LSH + the signature
    prefilter only prune), so a brute-force oracle produces the
    identical set. Jaccard is a ratio of integers → bit-identical
    across engines.

    Pipeline (one minhash pass, one banding shuffle):
    1. signatures are carried THROUGH the band join, so the candidate
       stage needs no second signature computation or join
       (near_dup_pairs_incremental bands a stored signature table
       instead, for a corpus delta);
    2. candidates are prefiltered by the minhash Jaccard ESTIMATE
       (|sig_a ∩ sig_b| / K via native array_intersect — no
       interpreted per-slot lambda), which is lossless above
       `threshold − _EST_MARGIN`;
    3. only the survivors (≈ true near-dups) pay the exact verify join
       against the (large) shingle arrays. Measured on the 6.5k-doc
       sf0.1 corpus: 183k candidates → ~2.5k verified pairs, wall time
       39 s → ~4 s.
    """
    from pyspark.sql import Window
    rows_per_band = MINHASH_K // bands
    sigs = minhash_signatures(docs)
    bb = sigs.select(
        "doc_id", _sigx().alias("sigx"),
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1,
                                   rows_per_band), F.lit(42))
                 .alias("bucket")))).alias("b2")
    ).select("doc_id", "sigx", "b2.band", "b2.bucket")
    w = Window.partitionBy("band", "bucket")
    kept = (bb.withColumn("_bsz", F.count(F.lit(1)).over(w))
              .filter(F.col("_bsz") <= max_bucket))
    a, b = kept.alias("a"), kept.alias("b")
    est = (F.size(F.array_intersect(F.col("a.sigx"), F.col("b.sigx")))
           / F.lit(MINHASH_K))
    pre = (a.join(b, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.bucket") == F.col("b.bucket"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .filter(est >= F.lit(threshold - _EST_MARGIN))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return _exact_verify(pre, docs, threshold)


def _exact_verify(pre: DataFrame, docs: DataFrame,
                  threshold: float) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate id pairs —
    shared tail of both near-dup paths. Jaccard is a ratio of integers
    → bit-identical across engines."""
    sh = _with_norm(docs).select("doc_id", shingles(F.col("_t")).alias("sh"))
    j = (pre
         .join(sh.withColumnRenamed("doc_id", "doc_a")
                 .withColumnRenamed("sh", "sh_a"), "doc_a")
         .join(sh.withColumnRenamed("doc_id", "doc_b")
                 .withColumnRenamed("sh", "sh_b"), "doc_b")
         .select("doc_a", "doc_b",
                 (F.size(F.array_intersect("sh_a", "sh_b"))
                  / F.size(F.array_union("sh_a", "sh_b"))).alias("jaccard")))
    return (j.filter(F.col("jaccard") >= threshold)
             .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")))


def _sigx():
    """Slot-tagged signature for the native set-intersect estimate
    (near_dup_pairs step 2): the slot id replaces the hash's low 7
    bits, keeping the element type atomic (array<long>) —
    array_intersect on struct elements falls back to Spark's
    O(K²)-per-pair generic path (measured 55 s vs ~4 s for this
    stage). Masking can only INFLATE the estimate (P ≈ 2⁻⁵⁷ per slot
    pair), so the prefilter stays lossless."""
    return F.transform(F.col("sig"),
                       lambda x, i: x.bitwiseAND(F.lit(-128).cast("long"))
                                     .bitwiseOR(i.cast("long")))


def _band_sigs(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band, bucket) from a materialized signature table —
    banding WITHOUT re-shingling (the whole point of storing sigs)."""
    rows_per_band = MINHASH_K // bands
    return sigs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1,
                                   rows_per_band), F.lit(42))
                 .alias("bucket")))).alias("b2")
    ).select("doc_id", "b2.band", "b2.bucket")


def near_dup_pairs_incremental(delta_docs: DataFrame,
                               corpus_docs: DataFrame,
                               sig_store: DataFrame,
                               threshold: float = JACCARD_THRESHOLD,
                               bands: int = LSH_BANDS,
                               max_bucket: int = 4096) -> DataFrame:
    """Near-dup pairs INVOLVING a corpus delta, against the stored
    signature table — no full-corpus re-shingle, no full-corpus band
    shuffle (VERDICT r3 item 5 / ROADMAP 4).

    Shape, in corpus-scan terms at 10^12 docs:
    1. only the delta is shingled + minhashed (delta-sized);
    2. the stored band set is computed from `sig_store` (a scan of the
       materialized sig table — banding is a projection, the shuffle
       never happens) and SEMI-JOINED against the broadcast set of
       delta bucket keys — only members of buckets the delta touches
       survive, so the wide (band, bucket) shuffle carries
       touched-bucket members, not the corpus;
    3. bucket-size caps are computed over the touched buckets' FULL
       membership (stored ∪ delta), so kept/cut decisions agree with
       what a from-scratch run over corpus+delta would decide —
       that's the equivalence the test asserts;
    4. candidate pairs keep only those with ≥1 delta side
       (stored×stored pairs were already emitted by the original run),
       estimate-prefilter via the signature slot-intersection, and
       exact-verify against the text of both tables.

    To evolve the store afterwards, append minhash_signatures(delta)
    to it. `delta_docs` ids must not collide with stored ids.
    """
    from pyspark.sql import Window
    delta_sig = minhash_signatures(delta_docs)
    bb_delta = _band_sigs(delta_sig, bands) \
        .withColumn("is_delta", F.lit(True))
    keys = bb_delta.select("band", "bucket").distinct()
    bb_stored = (_band_sigs(sig_store, bands)
                 .join(F.broadcast(keys), ["band", "bucket"])
                 .withColumn("is_delta", F.lit(False)))
    members = bb_stored.unionByName(bb_delta)
    w = Window.partitionBy("band", "bucket")
    kept = (members.withColumn("_bsz", F.count(F.lit(1)).over(w))
                   .filter(F.col("_bsz") <= max_bucket))
    a, b = kept.alias("a"), kept.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
             .filter(F.col("a.is_delta") | F.col("b.is_delta"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    all_sigs = sig_store.unionByName(delta_sig)
    sx = all_sigs.select("doc_id", _sigx().alias("sigx"))
    est = (F.size(F.array_intersect(F.col("sigx_a"), F.col("sigx_b")))
           / F.lit(MINHASH_K))
    pre = (cand
           .join(sx.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sigx", "sigx_a"), "doc_a")
           .join(sx.withColumnRenamed("doc_id", "doc_b")
                   .withColumnRenamed("sigx", "sigx_b"), "doc_b")
           .filter(est >= F.lit(threshold - _EST_MARGIN))
           .select("doc_a", "doc_b"))
    all_docs = corpus_docs.select("doc_id", "text") \
        .unionByName(delta_docs.select("doc_id", "text"))
    return _exact_verify(pre, all_docs, threshold)


# ------------------------------------------------------------- SimHash
def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """64-bit SimHash: bit b of the signature is the sign of the vote
    sum over distinct tokens of (bit b of xxhash64(token)).

    Explode + hash-agg form (like minhash_signatures): one xxhash64
    per token row, 64 conditional-sum aggregates with map-side partial
    aggregation; shuffle volume = docs × 64 ints.
    """
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(_norm(F.col("text")), " "))
                  ).alias("w")
    ).select("doc_id", F.xxhash64("w").alias("h"))
    aggs = [
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = tok.groupBy("doc_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for b in range(bits):
        sig = sig.bitwiseOR(
            F.when(F.col(f"v{b}") > 0,
                   F.shiftleft(F.lit(1).cast("long"), b))
             .otherwise(F.lit(0).cast("long")))
    return voted.select("doc_id", sig.alias("simhash"))


def simhash_dup_groups(docs: DataFrame) -> DataFrame:
    """Groups of documents with IDENTICAL simhash (Hamming 0 — the
    strictest band; banded rotation generalizes to Hamming ≤ r)."""
    s = simhash(docs)
    return (s.groupBy("simhash")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
             .filter(F.col("n_docs") > 1))


# ----------------------------------------------- embedding near-dup
def with_embedding_dup_injection(emb: DataFrame, every: int = 5,
                                 id_offset: int = 100_000,
                                 eps: float = 0.01) -> DataFrame:
    """Append deterministic near-duplicate vectors: every Nth vector
    gets a copy shifted by +eps per component (cosine ≈ 0.999 for the
    test corpora). Same injected-defect pattern as with_dup_injection;
    the oracle rebuilds the identical corpus in SQL."""
    near = (emb.filter(F.col("vec_id") % every == 0)
               .select((F.col("vec_id") + id_offset).alias("vec_id"),
                       F.transform(F.col("embedding"),
                                   lambda x: x + F.lit(eps))
                        .alias("embedding")))
    return emb.select("vec_id", "embedding").unionByName(near)


def lsh_tables_for(bits: int, threshold: float,
                   miss: float = 1e-4) -> int:
    """Number of sign-bit LSH tables needed so a pair at cosine ≥
    `threshold` is missed with probability ≤ `miss`.

    Per-table collision p = (1 − θ/π)^bits with θ = arccos(threshold);
    miss after L tables is (1−p)^L, so L = ⌈ln miss / ln(1−p)⌉.
    At the defaults (bits=8, threshold=0.95): p ≈ 0.4264 →
    L = 17, (1−p)^17 ≈ 8e-5.
    """
    theta = math.acos(min(max(threshold, -1.0), 1.0))
    p = (1.0 - theta / math.pi) ** bits
    if p >= 1.0:
        return 1
    return max(1, math.ceil(math.log(miss) / math.log(1.0 - p)))


def embedding_near_dup_candidates(emb: DataFrame, bits: int = 8,
                                  tables: int | None = None, dim: int = 64,
                                  seed: int = 42,
                                  threshold: float = 0.95) -> DataFrame:
    """Candidate vector pairs via L independent sign-bit LSH tables —
    the embedding analog of MinHash banding (near_dup_pairs).

    Each vector lands in `tables` buckets (one per table of `bits`
    random hyperplanes); candidates are same-bucket pairs in ANY table.
    A pair at cosine c collides per table with p = (1 − θ/π)^bits,
    θ = arccos c, so the miss probability is (1−p)^tables. `tables`
    defaults to lsh_tables_for(bits, threshold): enough tables that a
    pair AT the threshold (not just the injected c≈0.999 ones) is
    missed with probability < 1e-4 — at bits=8, c=0.95 that is 17
    tables, (1−0.4264)^17 ≈ 8e-5. That bound (not luck on easy
    corpora) is what makes the exact-verified output equal the
    brute-force oracle's (same argument as LSH_BANDS above).

    Scale shape: ONE shuffle keyed on (table, bucket) carrying
    vectors × tables rows of (id, long); the within-bucket self-join
    materializes ~ tables · n²/2^bits candidate pairs, tuned by `bits`
    (grow bits with log₂ n to keep buckets constant-sized). No n²
    all-pairs stage exists anywhere.
    """
    from canned_yaml_spark.similarity import hyperplanes
    if tables is None:
        tables = lsh_tables_for(bits, threshold)
    planes = hyperplanes(dim, bits * tables, seed)
    # all tables' sign bits computed in ONE projection pass; bucket of
    # table t = bits [t·bits, (t+1)·bits)
    sign = [None] * (bits * tables)
    for i, p in enumerate(planes):
        d = F.aggregate(
            F.zip_with(F.col("embedding"),
                       F.array(*[F.lit(float(x)) for x in p]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
        sign[i] = F.when(d > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    buckets = []
    for t in range(tables):
        b = F.lit(0).cast("long")
        for j in range(bits):
            b = b.bitwiseOR(F.shiftleft(sign[t * bits + j], j))
        buckets.append(F.struct(F.lit(t).alias("tbl"), b.alias("bucket")))
    bb = (emb.select("vec_id", F.explode(F.array(*buckets)).alias("tb"))
             .select("vec_id", "tb.tbl", "tb.bucket"))
    a, b = bb.alias("a"), bb.alias("b")
    return (a.join(b, (F.col("a.tbl") == F.col("b.tbl"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("vec_a"),
                     F.col("b.vec_id").alias("vec_b"))
             .distinct())


def embedding_near_dups_lsh(emb: DataFrame, threshold: float = 0.95,
                            bits: int = 8, tables: int | None = None,
                            dim: int = 64, seed: int = 42) -> DataFrame:
    """LSH-bucketed embedding near-duplicates, exact-cosine verified.

    Output (vec_a, vec_b, cosine) matches embedding_near_dups up to the
    candidate stage's miss bound — < 1e-4 at the requested threshold by
    construction (tables defaults to lsh_tables_for(bits, threshold));
    LSH only prunes, the cosine is exact. This is the corpus-scale
    path — candidate volume is governed by bucket sizes, never by n².

    Cost note: the lsh_tables_for default is sized for the MISS BOUND,
    not cheapness — at bits=8/threshold=0.95 it is 17 tables, i.e.
    17 corpus-sized (id, long) rows through the band shuffle and up to
    17× the per-bucket candidate pairs. Callers that only need the
    easy (cosine ≈ 1) duplicates can pass tables=6 explicitly for ~3×
    less shuffle at a ~2e-2 at-threshold miss probability.
    """
    cands = embedding_near_dup_candidates(emb, bits, tables, dim, seed,
                                          threshold=threshold)
    v = emb.select("vec_id", "embedding")
    j = (cands
         .join(v.withColumnRenamed("vec_id", "vec_a")
                .withColumnRenamed("embedding", "emb_a"), "vec_a")
         .join(v.withColumnRenamed("vec_id", "vec_b")
                .withColumnRenamed("embedding", "emb_b"), "vec_b"))
    dot = F.aggregate(
        F.zip_with(F.col("emb_a"), F.col("emb_b"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    return (j.select("vec_a", "vec_b",
                     F.round(dot / (nrm("emb_a") * nrm("emb_b")), 4)
                      .alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95,
                        max_exact_rows: int = 20_000) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (doc pairs with cosine ≥
    threshold). This is the exact small-N baseline / recall oracle for
    embedding_near_dups_lsh (the scale path); it refuses to run beyond
    max_exact_rows (n² blowup)."""
    n = emb.count()
    if n > max_exact_rows:
        raise ValueError(f"exact all-pairs at n={n} would materialize "
                         f"{n * n // 2} pairs; use similarity.ann_lsh")
    v = emb.select(F.col("vec_id"), F.col("embedding"))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.embedding"), F.col("b.embedding"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    norm = lambda side: F.sqrt(F.aggregate(  # noqa: E731
        F.transform(F.col(f"{side}.embedding"),
                    lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))
    cos = dot / (norm("a") * norm("b"))
    return (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(F.col("a.vec_id").alias("vec_a"),
                     F.col("b.vec_id").alias("vec_b"),
                     F.round(cos, 4).alias("cosine"))
             .filter(F.col("cosine") >= threshold))


# ------------------------------------------- components → keep-one rep
#
# A dedup pipeline does not end at pairs: near-duplication is
# transitive in practice (A≈B, B≈C ⇒ keep ONE of {A,B,C}), so the
# pairs must be clustered into connected components and one
# representative kept per component. The reference has no analogue
# (its validator sees one document at a time); this is the
# training-data-pipeline closure of near_dup_pairs.
#
# Scale shape: the edge set is O(#dup pairs) — tiny relative to the
# corpus (≲1% of rows at production dup rates), so every shuffle below
# carries only id pairs. Components are computed with the alternating
# large-star / small-star algorithm (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC 2014): each round is two
# groupBy aggregations on the edge frame; converges in O(log² n)
# rounds (2-3 in practice — dup clusters are near-cliques, which
# star-collapse immediately). No driver-side graph state: the driver
# sees only a per-round (count, changed?) pair.


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: connect every neighbor LARGER than u to
    min(Γ(u) ∪ {u}). Input/output: canonical undirected edges u < v."""
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (nbrs.groupBy("u")
             .agg(F.least(F.min("v"), F.col("u")).alias("m"),
                  F.collect_set(F.when(F.col("v") > F.col("u"), F.col("v")))
                   .alias("big")))
    return (m.select(F.explode("big").alias("v"), F.col("m").alias("u"))
             .filter(F.col("u") != F.col("v"))
             .select("u", "v").distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: for each node u, link all smaller-or-self
    neighbors to their minimum. Input/output: canonical u < v edges
    (v's smaller neighbor set is exactly {u : (u,v) ∈ E})."""
    m = (e.groupBy("v")
          .agg(F.min("u").alias("m"), F.collect_set("u").alias("small")))
    out = m.select(
        F.col("m").alias("u"),
        F.explode(F.array_union("small", F.array("v"))).alias("v"))
    return (out.filter(F.col("u") != F.col("v"))
               .select("u", "v").distinct())


def dup_components(pairs: DataFrame, docs: DataFrame | None = None,
                   max_rounds: int = 32) -> DataFrame:
    """Connected components over dup pairs → (doc_id, component_id)
    with component_id = MIN doc_id in the component (deterministic
    canonical label). When `docs` is given, singletons (docs in no
    pair) are included mapping to themselves; otherwise only docs that
    appear in some pair are returned.

    Fixpoint detection is EXACT (two except-alls on the edge frame),
    not a hash heuristic; lineage is truncated per round with
    localCheckpoint so the plan stays O(1) deep across iterations.
    """
    e = (pairs.select(F.least("doc_a", "doc_b").alias("u"),
                      F.greatest("doc_a", "doc_b").alias("v"))
              .filter(F.col("u") != F.col("v"))
              .distinct()
              .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        changed = (e2.exceptAll(e).limit(1).count()
                   or e.exceptAll(e2).limit(1).count())
        e = e2
        if not changed:
            break
    else:
        raise RuntimeError(f"dup_components did not converge in "
                           f"{max_rounds} rounds — pathological input?")
    # fixpoint is a star forest: every edge is (root=component min, member)
    members = e.select(F.col("v").alias("doc_id"),
                       F.col("u").alias("component_id"))
    roots = (e.select(F.col("u").alias("doc_id"))
              .distinct()
              .withColumn("component_id", F.col("doc_id")))
    comp = members.unionByName(roots)
    if docs is not None:
        singles = (docs.select(F.col("doc_id"))
                       .join(comp.select("doc_id"), "doc_id", "left_anti")
                       .withColumn("component_id", F.col("doc_id")))
        comp = comp.unionByName(singles)
    return comp


def dedup_keep(docs: DataFrame, pairs: DataFrame,
               prefer: str | None = None) -> DataFrame:
    """The deduplicated corpus: one representative per dup component
    (all columns of `docs` preserved). Representative = the MIN doc_id
    in the component, or — when `prefer` names a numeric quality
    column on docs — the component's max-`prefer` doc (ties broken by
    min doc_id, so the output is deterministic either way).

    Scale shape: components ride the (tiny) pair frame; the only
    corpus-scale operation is ONE broadcast-able semi-join of docs
    against the drop set (docs in a component but not its
    representative), which is again O(#dup rows)."""
    comp = dup_components(pairs)          # pair-docs only: the drop set
    if prefer is None:
        keep = (comp.groupBy("component_id")
                    .agg(F.min("doc_id").alias("keep_id")))
    else:
        scored = comp.join(docs.select("doc_id", prefer), "doc_id")
        keep = (scored.groupBy("component_id")
                      .agg(F.min_by(
                          "doc_id",
                          F.struct((-F.col(prefer)).alias("q"),
                                   F.col("doc_id").alias("d")))
                           .alias("keep_id")))
    drop = (comp.join(keep, "component_id")
                .filter(F.col("doc_id") != F.col("keep_id"))
                .select("doc_id"))
    return docs.join(F.broadcast(drop), "doc_id", "left_anti")


# ------------------------------------------- benchmark contamination

#: contamination shingle width: long windows (30 normalized chars,
#: crossing word boundaries) are near-unique unless actually copied —
#: the dedup SHINGLE_LEN=5 grams collide organically on ANY shared
#: vocabulary (measured: every doc of the synthetic corpus shares a
#: 5-gram with the probe set; at 30 chars only probes + their copies
#: + one organic near-dup are flagged)
CONTAM_SHINGLE_LEN = 30


def _shingles_n(t, n: int) -> "F.Column":
    """Distinct n-char shingles of already-normalized text (same HOF
    shape as `shingles`, parametrized width)."""
    return F.when(
        F.length(t) < n, F.array(t)
    ).otherwise(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: t.substr(i, F.lit(n)))))


def contamination_report(docs: DataFrame, probes: DataFrame,
                         min_hits: int = 1,
                         shingle_len: int = CONTAM_SHINGLE_LEN) -> DataFrame:
    """Benchmark-contamination check: which corpus docs share ≥
    min_hits long normalized character shingles with ANY probe
    (test-set) document. The standard pre-training hygiene pass — a
    training corpus must not contain the eval set, verbatim or lightly
    edited.

    Scale shape: the probe set is small by nature (benchmarks are
    KB–MB); its DISTINCT shingle set is broadcast, so the corpus-side
    probe is a broadcast hash join on exploded shingles with NO
    corpus shuffle — the only exchange is the per-doc re-aggregation,
    and that carries HIT rows only (≈ contaminated docs × matched
    shingles), never the clean bulk.

    Output: (doc_id, n_hits, n_shingles, hit_share) per flagged doc;
    hit_share is a ratio of integers → bit-identical across engines.
    """
    banned = (_with_norm(probes)
              .select(F.explode(_shingles_n(F.col("_t"), shingle_len))
                       .alias("g"))
              .distinct())
    sized = (_with_norm(docs)
             .select("doc_id",
                     _shingles_n(F.col("_t"), shingle_len).alias("sh"))
             .select("doc_id", F.size("sh").alias("n_shingles"),
                     F.explode("sh").alias("g")))
    return (sized.join(F.broadcast(banned), "g")
                 .groupBy("doc_id", "n_shingles")
                 .agg(F.count(F.lit(1)).alias("n_hits"))
                 .filter(F.col("n_hits") >= min_hits)
                 .select("doc_id", "n_hits", "n_shingles",
                         F.round(F.col("n_hits") / F.col("n_shingles"), 4)
                          .alias("hit_share")))


def split_leak_free(docs: DataFrame, pairs: DataFrame,
                    frac_test: float = 0.1, seed: int = 42) -> DataFrame:
    """Leakage-free train/test split: the split key is the dup
    COMPONENT, not the document, so a near-duplicate of a test doc can
    never land in train (the classic eval-leakage bug). Deterministic:
    split = md5(seed:component_id) prefix against the frac threshold,
    same rows on any cluster/partitioning.

    Scale shape: only docs that appear in some dup pair need a
    component lookup — that map is O(#dup rows) and is BROADCAST into
    a left join; every other doc is its own component (coalesce to
    doc_id). No corpus shuffle.

    Output: docs + (component_id, split ∈ {'train','test'})."""
    if not 0.0 <= frac_test <= 1.0:
        raise ValueError(f"frac_test must be in [0,1], got {frac_test}")
    comp = dup_components(pairs)
    joined = (docs.join(F.broadcast(comp), "doc_id", "left")
                  .withColumn("component_id",
                              F.coalesce("component_id", "doc_id")))
    threshold = format(int(frac_test * 16 ** 15), "015x")
    h = F.md5(F.concat_ws(":", F.lit(str(seed)),
                          F.col("component_id").cast("string")))
    return joined.withColumn(
        "split",
        F.when(F.substring(h, 1, 15) < F.lit(threshold), F.lit("test"))
         .otherwise(F.lit("train")))

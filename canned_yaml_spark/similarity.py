"""Similarity search over embedding columns.

Two paths (task brief):
- brute-force cosine top-k — the exact baseline: broadcast the (small)
  query set against the corpus; one scan, per-row dot products inside
  whole-stage codegen (F.zip_with/F.aggregate — no UDF), one window
  for the top-k cut.
- LSH-bucketed ANN — the scale path: random-hyperplane sign bits
  (seeded, deterministic) bucket the corpus; queries probe only their
  bucket (+ optional multi-probe neighbors). The corpus-side shuffle
  keys on the bucket id; at 10^12 vectors the bucket index is the only
  thing rebuilt on ingest, queries touch 1/2^bits of the data.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    queries: (q_id, q_vec array<float>) — small, broadcast. Output
    (q_id, vec_id, cosine, rank), ties broken by vec_id for
    determinism.
    """
    j = emb.crossJoin(F.broadcast(queries))
    cos = _dot(F.col("embedding"), F.col("q_vec")) / \
        (_norm(F.col("embedding")) * _norm(F.col("q_vec")))
    scored = j.select("q_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded numpy, driver-side)."""
    rng = np.random.RandomState(seed)
    return rng.randn(bits, dim).astype(float).tolist()


def _signed_margins(col: str, planes: list[list[float]]):
    """array<double> of signed projections v·plane_i (one per plane)."""
    return F.array(*[
        F.aggregate(
            F.zip_with(F.col(col),
                       F.array(*[F.lit(float(x)) for x in p]),
                       lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda acc, x: acc + x)
        for p in planes])


def _bucket_of(margins, bits: int):
    """long bucket id from an array of signed margins."""
    b = F.lit(0).cast("long")
    for j in range(bits):
        b = b.bitwiseOR(
            F.when(F.element_at(margins, j + 1) > 0,
                   F.shiftleft(F.lit(1).cast("long"), j))
             .otherwise(F.lit(0).cast("long")))
    return b


def ann_topk_lsh(emb: DataFrame, queries: DataFrame, k: int = 10,
                 bits: int = 8, dim: int = 64, seed: int = 42,
                 tables: int = 1, probes: int = 0) -> DataFrame:
    """Approximate top-k via multi-table, multi-probe sign-bit LSH.

    Corpus side: each vector lands in `tables` buckets (one per table
    of `bits` seeded hyperplanes), computed in ONE projection pass and
    exploded to (tbl, bucket) — the only corpus-side shuffle keys on
    the bucket id, so at 10^12 vectors the index build is a single
    pass + shuffle and queries touch ~tables·(1+probes)/2^bits of it.

    Query side (multi-probe, Lv et al. 2007's flip-set idea): besides
    its own bucket per table, each query probes the buckets reached by
    flipping the `probes` sign bits with the SMALLEST |margin| —
    exactly the bits most likely to disagree for a true neighbor near
    the hyperplane. probes=bits means all flip-1 neighbors. Everything
    is JVM-side higher-order functions; no UDFs.

    Returns (q_id, vec_id, cosine, rank) — cosine exact, recall < 1 by
    construction (measured: tools/bench_ann.py → BENCH/ANN.md).
    """
    if not 1 <= bits <= 52:
        raise ValueError(f"bits must be in [1, 52], got {bits}")
    if tables < 1 or probes < 0:
        raise ValueError(f"tables must be >=1 and probes >=0, got "
                         f"tables={tables} probes={probes}")
    probes = min(probes, bits)
    all_planes = hyperplanes(dim, bits * tables, seed)
    # ---- corpus: (vec_id, embedding) → explode (tbl, bucket)
    # The margins array is materialized as its own projection step so
    # the bits·tables dot products run ONCE per row — element_at over
    # an inline array expression would re-evaluate the whole projection
    # per bit (memory: spark-hof-footguns).
    c_entries = []
    q_entries = []
    with_m = emb.select("vec_id", "embedding",
                        _signed_margins("embedding", all_planes).alias("_m"))
    for t in range(tables):
        m_t = F.slice(F.col("_m"), t * bits + 1, bits)
        c_entries.append(F.struct(F.lit(t).alias("tbl"),
                                  _bucket_of(m_t, bits).alias("bucket")))
    corpus = (with_m.select("vec_id", "embedding",
                            F.explode(F.array(*c_entries)).alias("tb"))
                    .select("vec_id", "embedding", "tb.tbl", "tb.bucket"))

    # ---- queries: base bucket + flip-1 probes on smallest-|margin| bits
    q_with_m = queries.select(
        "q_id", "q_vec",
        _signed_margins("q_vec", all_planes).alias("_m"))
    for t in range(tables):
        m_t = F.slice(F.col("_m"), t * bits + 1, bits)
        base = _bucket_of(m_t, bits)
        if probes:
            # (|margin|, bit) sorted ascending → first `probes` bits
            flip_bits = F.transform(
                F.slice(F.array_sort(F.zip_with(
                    m_t, F.array(*[F.lit(j) for j in range(bits)]),
                    lambda m, j: F.struct(F.abs(m).alias("a"),
                                          j.alias("j")))),
                    1, probes),
                lambda s: s["j"])
            # shiftleft() takes only a literal bit count — look 2^j up
            # in a literal power array instead (exact for every
            # bits ≤ 52; no double round-trip)
            pow2 = F.array(*[F.lit(1 << jj).cast("long")
                             for jj in range(bits)])
            probe_arr = F.concat(
                F.array(base),
                F.transform(flip_bits,
                            lambda j: base.bitwiseXOR(
                                F.element_at(pow2, j.cast("int") + 1))))
        else:
            probe_arr = F.array(base)
        q_entries.append(F.transform(
            probe_arr, lambda b: F.struct(F.lit(t).alias("tbl"),
                                          b.alias("bucket"))))
    probes_df = (q_with_m.select(
                    "q_id", "q_vec",
                    F.explode(F.flatten(F.array(*q_entries))).alias("tb"))
                 .select("q_id", "q_vec", "tb.tbl", "tb.bucket"))

    j = corpus.join(F.broadcast(probes_df), ["tbl", "bucket"])
    # a (q, vec) pair can meet in several tables/probes — score once;
    # dedupe on the id pair only (comparing the float arrays too would
    # shuffle-compare full vectors for nothing)
    cand = (j.select("q_id", "q_vec", "vec_id", "embedding")
             .dropDuplicates(["q_id", "vec_id"]))
    cos = _dot(F.col("embedding"), F.col("q_vec")) / \
        (_norm(F.col("embedding")) * _norm(F.col("q_vec")))
    scored = cand.select("q_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int = 10) -> DataFrame:
    """(q_id, recall): |approx∩exact| / k per query."""
    e = exact.filter(F.col("rank") <= k).select("q_id", "vec_id")
    a = approx.filter(F.col("rank") <= k).select("q_id", "vec_id")
    hit = e.join(a, ["q_id", "vec_id"]).groupBy("q_id") \
        .agg(F.count(F.lit(1)).alias("n_hit"))
    base = e.groupBy("q_id").agg(F.count(F.lit(1)).alias("n"))
    return (base.join(hit, "q_id", "left")
                .select("q_id",
                        (F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n"))
                        .alias("recall")))


# --------------------------------------------------------- IVF path
def ivf_train(emb: DataFrame, n_cells: int = 256, iters: int = 5,
              sample_frac: float | None = None,
              seed: int = 11) -> list[list[float]]:
    """Deterministic k-means coarse quantizer (IVF cells) trained with
    Lloyd iterations expressed as DataFrame aggregations — no MLlib
    dependency, no per-row Python (ROADMAP 3).

    Init: cells seeded from the corpus itself — the n_cells vectors
    with the smallest xxhash64(vec_id, seed) (a deterministic uniform
    sample; no rand()). Each iteration: assign every vector to its
    nearest cell (argmin over a broadcast centroid array, computed
    with JVM HOFs), then recompute centroids as per-cell per-dimension
    means via ONE posexplode + groupBy agg — (cells × dim) rows come
    back to the driver, never the corpus.

    sample_frac: train on a deterministic hash-sample of the corpus
    (xxhash64(vec_id) mod) — at 10^12 vectors the quantizer needs
    ~10⁵-10⁶ training points, not the corpus. Assignment of the FULL
    corpus happens once at index time (ivf_assign).
    """
    t = emb.select("vec_id", "embedding")
    if sample_frac is not None:
        mod = max(1, int(round(1.0 / sample_frac)))
        t = t.filter(F.pmod(F.xxhash64("vec_id", F.lit(seed)), mod) == 0)
    t = t.cache()
    try:
        cents = [r.embedding for r in
                 t.withColumn("_h", F.xxhash64("vec_id", F.lit(seed)))
                  .orderBy("_h").limit(n_cells).collect()]
        # downstream (ivf_assign/ivf_topk) assumes the quantizer has
        # the requested geometry; a silent shortfall would mis-route
        # probes, and an empty training set would IndexError later
        # (ADVICE r4) — fail loudly instead
        if len(cents) < n_cells:
            raise ValueError(
                f"ivf_train: training set has {len(cents)} rows "
                f"(after sample_frac={sample_frac}), fewer than "
                f"n_cells={n_cells}; lower n_cells or raise the sample")
        for _ in range(iters):
            assigned = ivf_assign(t, cents).select("cell", "embedding")
            rows = (assigned
                    .select("cell", F.posexplode("embedding")
                            .alias("dim", "val"))
                    .groupBy("cell", "dim")
                    .agg(F.avg("val").alias("m"))
                    .collect())
            new = {}
            for r in rows:
                new.setdefault(r.cell, [0.0] * len(cents[0]))[r.dim] = r.m
            # empty cells keep their previous centroid (standard Lloyd)
            cents = [new.get(c, cents[c]) for c in range(len(cents))]
    finally:
        t.unpersist()
    return [list(map(float, c)) for c in cents]


def _cell_scores(vec_col, centroids: list[list[float]]):
    """array<struct<score,cell>>: v·cᵢ − ‖cᵢ‖²/2 for every cell — the
    argmax of this ranks cells by squared-L2 distance to v (‖v‖² is
    rank-invariant). ONE zip_with over a 2-D centroid literal + a
    per-cell fold, instead of n_cells separate aggregate subtrees
    (which blow past codegen's method-size limit at 256 cells)."""
    cent = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                     for c in centroids])
    halves = F.array(*[F.lit(sum(x * x for x in c) / 2.0)
                       for c in centroids])
    idx = F.array(*[F.lit(i) for i in range(len(centroids))])
    scores = F.zip_with(cent, halves,
                        lambda c, h: _dot(vec_col, c) - h)
    return F.zip_with(scores, idx,
                      lambda s, i: F.struct(s.alias("score"),
                                            i.alias("cell")))


def ivf_assign(emb: DataFrame, centroids: list[list[float]],
               col: str = "embedding") -> DataFrame:
    """Append `cell` = argmin‖v − cᵢ‖² over the literal centroid
    array (see _cell_scores)."""
    best = F.array_max(_cell_scores(F.col(col), centroids))
    return emb.withColumn("cell", best.getField("cell"))


def ivf_topk(emb_cells: DataFrame, queries: DataFrame,
             centroids: list[list[float]], k: int = 10,
             nprobe: int = 8,
             probe_margin: float | None = None) -> DataFrame:
    """IVF approximate top-k: probe up to `nprobe` nearest cells per
    query, exact cosine inside them.

    emb_cells: output of ivf_assign — at 10^12 vectors this is the
    stored index table, bucketed/partitioned BY cell so a probe reads
    only its cells' files. Queries pick their nprobe cells the same
    argmax way (broadcast centroids), explode to (cell, q) pairs, and
    join on cell — the only shuffle keys on the cell id. cand_frac ≈
    nprobe/n_cells at balanced cells, tunable per query set.

    probe_margin (ROADMAP r5: probe cells by margin, not rank — the
    IVF analogue of multi_probe_topk's low-|margin| bit flips): when
    set, a non-best cell is probed only if its score is within
    `probe_margin` of the best cell's score, with `nprobe` as the hard
    cap. _cell_scores returns v·cᵢ − ‖cᵢ‖²/2, so a score gap of m
    equals a squared-L2 gap of 2m: a query deep inside its Voronoi
    cell probes 1 cell, a boundary query probes several — average
    cand_frac drops at equal recall because extra reads are spent only
    where the quantizer is actually ambiguous (BENCH/ANN.md IVF
    sweep). None keeps the fixed-rank behavior.
    """
    scored_cells = _cell_scores(F.col("q_vec"), centroids)
    top = F.slice(F.reverse(F.array_sort(scored_cells)), 1, nprobe)
    if probe_margin is None:
        probes = (queries.select(
            "q_id", "q_vec",
            F.explode(F.transform(
                top, lambda s: s.getField("cell"))).alias("cell")))
    else:
        # materialize the sorted slice ONCE per query row, then filter
        # by gap-to-best; posexplode (not a HOF lambda capturing the
        # array) keeps the sort from re-evaluating per element
        probes = (queries
                  .select("q_id", "q_vec", top.alias("_top"))
                  .select("q_id", "q_vec",
                          F.element_at("_top", 1).getField("score")
                           .alias("_best"),
                          F.posexplode("_top").alias("_pos", "_s"))
                  .filter((F.col("_pos") == 0)
                          | (F.col("_s").getField("score")
                             >= F.col("_best") - float(probe_margin)))
                  .select("q_id", "q_vec",
                          F.col("_s").getField("cell").alias("cell")))
    j = emb_cells.join(F.broadcast(probes), "cell")
    cos = _dot(F.col("embedding"), F.col("q_vec")) / \
        (_norm(F.col("embedding")) * _norm(F.col("q_vec")))
    scored = j.select("q_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def synth_clustered_embeddings(spark, n: int, dim: int = 64,
                               n_clusters: int = 1024, noise: float = 0.35,
                               seed: int = 7, partitions: int = 32) -> DataFrame:
    """Deterministic clustered corpus for ANN recall measurement:
    vector k = centroid[k mod n_clusters] + noise·h(k), where h is a
    counter-based hash (pure function of (k, j) — executors regenerate
    any row identically on retry, like every fixture in this repo).
    Cluster structure makes top-k neighbors non-degenerate, which a
    uniform random corpus in 64-d is not.
    """
    import pandas as pd

    rng = np.random.RandomState(seed)
    cent = rng.randn(n_clusters, dim)

    def gen(batches):
        for pdf in batches:
            k = pdf["id"].to_numpy(dtype=np.int64)
            j = np.arange(dim, dtype=np.float64)
            # shader-style counter hash in [-0.5, 0.5), vectorized
            h = np.sin(k[:, None] * 12.9898 + j[None, :] * 78.233) \
                * 43758.5453
            h = h - np.floor(h) - 0.5
            v = cent[k % n_clusters] + noise * h
            yield pd.DataFrame({
                "vec_id": k,
                "embedding": [row.astype(np.float32).tolist() for row in v]})

    return (spark.range(0, n, 1, partitions)
                 .mapInPandas(gen, "vec_id long, embedding array<float>"))

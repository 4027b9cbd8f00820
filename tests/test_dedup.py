"""Dedup operators: exact, MinHash+LSH, SimHash, embedding near-dup."""

import pyspark.sql.functions as F
import pytest

from canned_yaml_spark import dedup, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def docs2(spark, docs):
    d = dedup.with_dup_injection(docs).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_exact_dup_groups(spark, docs, docs2):
    n = docs.count()
    groups = dedup.exact_dup_groups(docs2).collect()
    # exact clones: every 10th doc_id
    n_exact = len([k for k in range(0, n) if k % 10 == 0])
    # ...minus docs whose normalized text collides organically is
    # possible; at minimum every injected exact pair forms a group
    assert len(groups) >= n_exact > 0
    for g in groups:
        assert g.n_docs >= 2


def test_shingles_deterministic(spark):
    df = spark.createDataFrame([(1, "abcdefg"), (2, "ab")],
                               "doc_id long, text string")
    rows = {r.doc_id: r.sh for r in
            df.select("doc_id",
                      dedup.shingles(F.col("text")).alias("sh")).collect()}
    assert rows[1] == ["abcde", "bcdef", "cdefg"]
    assert rows[2] == ["ab"]          # short text → whole text


def test_near_dup_pairs_catch_injected(spark, docs, docs2):
    pairs = dedup.near_dup_pairs(docs2).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    n = docs.count()
    # every near clone (doc+tail) must pair with its source
    for k in range(0, n, 5):
        assert (k, k + 1_000_000) in got, f"missed near clone of {k}"
    # every exact clone must pair with its source at jaccard 1.0
    j = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    for k in range(0, n, 10):
        assert j.get((k, k + 2_000_000)) == 1.0
    assert all(r.jaccard >= dedup.JACCARD_THRESHOLD for r in pairs)


def test_simhash_exact_clones_collide(spark, docs, docs2):
    groups = dedup.simhash_dup_groups(docs2).collect()
    members = set()
    for g in groups:
        members.update(g.doc_ids)
    n = docs.count()
    # exact clones have identical token sets → identical simhash
    for k in range(0, n, 10):
        assert k + 2_000_000 in members


def test_embedding_near_dups_self(spark, emb):
    # append an exact vector clone → cosine 1.0 pair must be found
    clone = emb.filter("vec_id = 0").select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    out = dedup.embedding_near_dups(emb.unionByName(clone), 0.999).collect()
    assert {(r.vec_a, r.vec_b) for r in out} == {(0, 10_000)}
    assert out[0].cosine == 1.0


def test_embedding_near_dups_refuses_quadratic(spark, emb):
    with pytest.raises(ValueError, match="all-pairs"):
        dedup.embedding_near_dups(emb, 0.9, max_exact_rows=10)


def test_ann_recall_reasonable(spark, emb):
    q = (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    exact = similarity.cosine_topk(emb, q, 10)
    # rank 1 of exact must be the query itself at cosine 1.0
    r1 = {r.q_id: r for r in exact.filter("rank = 1").collect()}
    for qid, r in r1.items():
        assert r.vec_id == qid and r.cosine == 1.0
    # with 0 hyperplane bits everything lands in one bucket → exact
    approx = similarity.ann_topk_lsh(emb, q, 10, bits=1)
    rec = similarity.recall_at_k(exact, approx)
    avg = rec.agg(F.avg("recall")).collect()[0][0]
    assert avg >= 0.4   # 1-bit LSH halves the corpus; self-bucket recall


def test_embedding_lsh_matches_exact(spark):
    # the scale path (LSH candidates + exact verify) must reproduce the
    # brute-force result on the injected corpus — recall 1.0 here
    from canned_yaml_spark import dedup
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e2 = dedup.with_embedding_dup_injection(emb)
    exact = {(r.vec_a, r.vec_b, r.cosine)
             for r in dedup.embedding_near_dups(e2, 0.95).collect()}
    lsh = {(r.vec_a, r.vec_b, r.cosine)
           for r in dedup.embedding_near_dups_lsh(e2, 0.95).collect()}
    assert len(exact) > 0          # injection produced real near-dups
    assert lsh == exact


def test_embedding_candidate_volume_bounded(spark):
    # candidate count must stay far below n^2/2 (the pruning claim)
    from canned_yaml_spark import dedup
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e2 = dedup.with_embedding_dup_injection(emb)
    n = e2.count()
    n_cand = dedup.embedding_near_dup_candidates(e2).count()
    assert n_cand < (n * (n - 1) // 2) * 0.25, (n_cand, n)


def test_near_dup_incremental_matches_full(spark, docs, docs2):
    # delta-dedup against the stored signature table must equal a full
    # re-dedup of corpus+delta RESTRICTED to pairs touching the delta;
    # the store is built as the near_dup_delta query builds it
    delta = docs2.join(docs.select("doc_id"), "doc_id", "left_anti")
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    assert delta_ids                            # injection produced a delta
    sig_corpus = dedup.minhash_signatures(docs)
    got = {(r.doc_a, r.doc_b, r.jaccard)
           for r in dedup.near_dup_pairs_incremental(
               delta, docs, sig_corpus).collect()}
    full = {(r.doc_a, r.doc_b, r.jaccard)
            for r in dedup.near_dup_pairs(docs2).collect()}
    want = {p for p in full if p[0] in delta_ids or p[1] in delta_ids}
    assert got == want and got                  # non-empty, exactly equal


def test_near_dup_bucket_cap_prunes(spark, docs, docs2):
    # max_bucket=1 keeps only singleton (band, bucket) buckets, so the
    # band self-join has no candidate left on either engine path; the
    # default cap still finds the injected clones
    assert dedup.near_dup_pairs(docs2, max_bucket=1).count() == 0
    got = {(r.doc_a, r.doc_b)
           for r in dedup.near_dup_pairs(docs2).collect()}
    assert {(0, 1_000_000), (0, 2_000_000)} <= got
    delta = docs2.join(docs.select("doc_id"), "doc_id", "left_anti")
    assert dedup.near_dup_pairs_incremental(
        delta, docs, dedup.minhash_signatures(docs),
        max_bucket=1).count() == 0


def test_ann_multiprobe_improves_recall(spark):
    # clustered corpus: multi-probe must recover near-boundary
    # neighbors that single-bucket probing loses
    # clusters must hold ≥ k members or exact top-10 includes
    # arbitrary cross-cluster vectors no bucketing scheme can find
    emb = similarity.synth_clustered_embeddings(spark, 5000,
                                                n_clusters=150,
                                                partitions=8).cache()
    q = (emb.filter(F.col("vec_id") % 250 == 0)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    exact = similarity.cosine_topk(emb, q, 10).cache()

    def avg_recall(**kw):
        approx = similarity.ann_topk_lsh(emb, q, 10, **kw)
        return (similarity.recall_at_k(exact, approx)
                .agg(F.avg("recall")).collect()[0][0])

    r0 = avg_recall(bits=10, tables=1, probes=0)
    r1 = avg_recall(bits=10, tables=1, probes=10)
    assert r1 > r0                  # flip-1 probing strictly helps here
    assert r1 >= 0.5                # single table + full flip-1
    r2 = avg_recall(bits=10, tables=4, probes=10)
    assert r2 >= max(r1, 0.85)      # tables × probes compound


def test_ivf_quantizer_recall(spark):
    # IVF coarse quantizer: train a deterministic k-means on the
    # clustered corpus, probe a handful of cells, and hold recall@10
    # against the exact baseline at a small candidate fraction
    emb = similarity.synth_clustered_embeddings(spark, 5000,
                                                n_clusters=150,
                                                partitions=8).cache()
    cents = similarity.ivf_train(emb, n_cells=64, iters=3)
    assert len(cents) == 64 and len(cents[0]) == 64
    # determinism: same corpus, same seed → identical quantizer
    again = similarity.ivf_train(emb, n_cells=64, iters=3)
    assert cents == again

    indexed = similarity.ivf_assign(emb, cents).cache()
    q = (emb.filter(F.col("vec_id") % 250 == 0)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    exact = similarity.cosine_topk(emb, q, 10)
    approx = similarity.ivf_topk(indexed, q, cents, 10, nprobe=8)
    rec = (similarity.recall_at_k(exact, approx)
           .agg(F.avg("recall")).first()[0])
    assert rec >= 0.9, rec
    # candidate volume: nprobe/n_cells of the corpus, not all of it
    probed = (indexed.join(
        similarity.ivf_topk(indexed, q, cents, 10**9, nprobe=8)
                  .select("q_id", "vec_id").distinct(),
        "vec_id").count())
    n_q = q.count()
    assert probed < emb.count() * n_q * 0.5
    emb.unpersist(); indexed.unpersist()


def test_ivf_margin_probing(spark):
    # probe_margin semantics (ROADMAP r5): a huge margin degenerates to
    # the fixed-rank nprobe plan, margin=0 to single-cell probing, and
    # an intermediate margin spends candidates only on boundary queries
    emb = similarity.synth_clustered_embeddings(spark, 4000,
                                                n_clusters=120,
                                                partitions=8).cache()
    cents = similarity.ivf_train(emb, n_cells=48, iters=3)
    indexed = similarity.ivf_assign(emb, cents).cache()
    q = (emb.filter(F.col("vec_id") % 200 == 0)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))

    def rows(df):
        return {(r.q_id, r.vec_id, r.cosine) for r in df.collect()}

    fixed = similarity.ivf_topk(indexed, q, cents, 10, nprobe=8)
    assert rows(similarity.ivf_topk(indexed, q, cents, 10, nprobe=8,
                                    probe_margin=1e18)) == rows(fixed)
    single = similarity.ivf_topk(indexed, q, cents, 10, nprobe=1)
    assert rows(similarity.ivf_topk(indexed, q, cents, 10, nprobe=8,
                                    probe_margin=0.0)) == rows(single)

    # candidate volume with a modest margin sits strictly between the
    # single-probe and full-rank plans, and recall does not regress
    # below the single-probe floor
    def cand_count(margin):
        big = similarity.ivf_topk(indexed, q, cents, 10**9, nprobe=8,
                                  probe_margin=margin)
        return big.count()

    c_single = cand_count(0.0)
    c_full = cand_count(1e18)
    c_mid = cand_count(2.0)
    assert c_single <= c_mid <= c_full
    exact = similarity.cosine_topk(emb, q, 10)
    rec_mid = (similarity.recall_at_k(
        exact, similarity.ivf_topk(indexed, q, cents, 10, nprobe=8,
                                   probe_margin=2.0))
        .agg(F.avg("recall")).first()[0])
    rec_single = (similarity.recall_at_k(exact, single)
                  .agg(F.avg("recall")).first()[0])
    assert rec_mid >= rec_single
    emb.unpersist(); indexed.unpersist()


def test_duckdb_xxh64_matches_spark(spark):
    """The oracle's XXH64-in-SQL restatement (oracle.xxh64_stages) must
    equal Spark's F.xxhash64 value-for-value over the documented domain
    (UTF-8 length < 32): every tail-path shape — 0..3 words, the
    4-byte step on/off, 0..3 tail bytes — plus multi-byte UTF-8."""
    import duckdb

    from canned_yaml_spark import oracle

    cases = ["", "a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg",
             "abcdefgh", "abcdefghi", "abcdefghijkl", "abcdefghijklmnop",
             "abcdefghijklmnopqrstuvwx", "x" * 25, "y" * 28, "z" * 31,
             "hello world", "tail", "naïve", "übermäßig", "日本語テスト"]
    cases = [c for c in cases if len(c.encode("utf-8")) < 32]

    got = {r.s: r.h for r in spark.createDataFrame(
        [(c,) for c in cases], "s string")
        .select("s", F.xxhash64("s").alias("h")).collect()}

    ctes, final = oracle.xxh64_stages("tbytes")
    lits = ", ".join("(" + repr(c) + ")" for c in cases)
    sql = f"""
WITH tok AS (SELECT * FROM (VALUES {lits}) t(w)),
tb AS (SELECT w, hex(encode(w)) AS hx,
              CAST(octet_length(encode(w)) AS BIGINT) AS n FROM tok),
tbytes AS (
  SELECT w, n,
         list_transform(range(0, n), i ->
           ((strpos('0123456789ABCDEF',
                    substring(hx, CAST(2*i+1 AS INT), 1)) - 1) * 16
            + strpos('0123456789ABCDEF',
                     substring(hx, CAST(2*i+2 AS INT), 1)) - 1
           )::HUGEINT) AS bs
  FROM tb),
{ctes}
SELECT w, h_final FROM {final}
"""
    for w, h in duckdb.sql(sql).fetchall():
        h = int(h)
        signed = h - (1 << 64) if h >= (1 << 63) else h
        assert signed == got[w], w


def test_simhash_oracle_domain_holds(spark, docs2):
    """The XXH64 SQL restatement skips the 32-byte stripe loop, so the
    simhash oracle is only valid while every corpus token is < 32 UTF-8
    bytes — pin that bound on the gate corpus."""
    from canned_yaml_spark.dedup import _norm

    max_len = (docs2
               .select(F.explode(F.array_distinct(
                   F.split(_norm(F.col("text")), " "))).alias("w"))
               .select(F.max(F.length(F.encode(F.col("w"), "utf-8")))
                       .alias("m"))
               .collect()[0].m)
    assert max_len < 32


def test_dup_components_hand_graph(spark):
    # chain, pair, triangle, 4-path — each must collapse to its min id
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22),
         (30, 31), (31, 32), (32, 33)],
        "doc_a long, doc_b long")
    got = {(r.doc_id, r.component_id)
           for r in dedup.dup_components(pairs).collect()}
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20),
            (30, 30), (31, 30), (32, 30), (33, 30)}
    assert got == want


def test_dup_components_long_chain_converges(spark):
    # a 64-node descending path is the star algorithm's adversarial
    # case (maximum diameter; ids anti-sorted so large-star must do
    # the work) — must converge within the round bound and label
    # everything with the min
    edges = [(i + 1, i) for i in range(63)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = dedup.dup_components(pairs).collect()
    assert len(got) == 64
    assert all(r.component_id == 0 for r in got)


def test_dup_components_singletons_included(spark):
    pairs = spark.createDataFrame([(5, 6)], "doc_a long, doc_b long")
    docs = spark.createDataFrame([(i,) for i in (5, 6, 9)],
                                 "doc_id long")
    got = {(r.doc_id, r.component_id)
           for r in dedup.dup_components(pairs, docs).collect()}
    assert got == {(5, 5), (6, 5), (9, 9)}


def test_dedup_keep_min_id_and_prefer(spark):
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "doc_a long, doc_b long")
    docs = spark.createDataFrame(
        [(i, f"t{i}", float(i % 7)) for i in (1, 2, 3, 10, 11, 99)],
        "doc_id long, text string, q double")
    kept = sorted(r.doc_id for r in dedup.dedup_keep(docs, pairs).collect())
    assert kept == [1, 10, 99]
    # prefer=q: component {1,2,3} has q 1,2,3 → 3; {10,11} q 3,4 → 11
    kept_q = sorted(
        r.doc_id for r in dedup.dedup_keep(docs, pairs, prefer="q").collect())
    assert kept_q == [3, 11, 99]
    # preferred rep keeps ALL doc columns intact
    row = (dedup.dedup_keep(docs, pairs, prefer="q")
           .filter(F.col("doc_id") == 3).collect()[0])
    assert row.text == "t3" and row.q == 3.0


def test_dedup_keep_transitive_over_corpus(spark, docs, docs2):
    # independent oracle: Python union-find over the collected pair
    # set (the corpus also has ORGANIC near-dups — e.g. docs 0/50/82 —
    # so injected families can merge; min-of-component is the spec)
    pairs = dedup.near_dup_pairs(docs2)
    rows = pairs.select("doc_a", "doc_b").collect()
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        ra, rb = find(r.doc_a), find(r.doc_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for x in list(parent):
        root = find(x)
        comp_min[root] = min(comp_min.get(root, x), x)
    pair_docs = set(parent)
    drop = {x for x in pair_docs if x != comp_min[find(x)]}
    all_ids = {r.doc_id for r in docs2.select("doc_id").collect()}
    expect = all_ids - drop

    kept = dedup.dedup_keep(docs2, pairs)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert kept_ids == expect
    # every injected clone (ids ≥ 1M) is connected to its original
    # (< 1M), so no clone can be a component min → none survives
    assert not {k for k in kept_ids if k >= 1_000_000}


def test_contamination_flags_probes_and_copies(spark, docs, docs2):
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    rep = dedup.contamination_report(docs2, probes).collect()
    flagged = {r.doc_id for r in rep}
    n = docs.count()
    # every probe, its near copy (+1M), and its exact copy (+2M,
    # %50 ⇒ %10) must be flagged
    for k in range(0, n, 50):
        assert {k, k + 1_000_000, k + 2_000_000} <= flagged
    # probes flag themselves verbatim
    shares = {r.doc_id: r.hit_share for r in rep}
    for k in range(0, n, 50):
        assert shares[k] == 1.0
        # copies share most-but-not-all windows (the near copy has
        # extra tail shingles) — still well above any sane threshold
        assert shares[k + 1_000_000] >= 0.9
    # long windows discriminate: the clean bulk is NOT flagged
    assert len(flagged) < 0.2 * docs2.count()


def test_contamination_clean_probe_set(spark, docs2):
    spark_ = docs2.sparkSession
    probes = spark_.createDataFrame(
        [(0, "entirely novel benchmark sentence nothing shares")],
        "doc_id long, text string")
    assert dedup.contamination_report(docs2, probes).count() == 0


def test_contamination_short_text_edge(spark):
    corpus = spark.createDataFrame(
        [(1, "tiny"), (2, "a much longer sentence that is its own text")],
        "doc_id long, text string")
    probes = spark.createDataFrame([(9, "tiny")], "doc_id long, text string")
    rep = dedup.contamination_report(corpus, probes).collect()
    # sub-window texts degrade to whole-text matching
    assert {r.doc_id for r in rep} == {1}
    assert rep[0].hit_share == 1.0


def test_split_leak_free_no_pair_straddles(spark, docs2):
    pairs = dedup.near_dup_pairs(docs2)
    split = dedup.split_leak_free(docs2, pairs, frac_test=0.3)
    lab = {r.doc_id: r.split for r in split.collect()}
    assert set(lab) == {r.doc_id for r in docs2.select("doc_id").collect()}
    for r in pairs.collect():
        assert lab[r.doc_a] == lab[r.doc_b], (r.doc_a, r.doc_b)
    n_test = sum(1 for s in lab.values() if s == "test")
    assert 0.1 < n_test / len(lab) < 0.5     # loose band: 650 docs
    # determinism under repartitioning
    lab2 = {r.doc_id: r.split
            for r in dedup.split_leak_free(docs2.repartition(11), pairs,
                                           frac_test=0.3).collect()}
    assert lab == lab2
    with pytest.raises(ValueError, match="frac_test"):
        dedup.split_leak_free(docs2, pairs, frac_test=-0.1)

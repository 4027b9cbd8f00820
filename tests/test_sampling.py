"""Deterministic sampling: stratified top-k, Bernoulli fraction,
token-budget prefix. The scale plans (two-phase salted top-k,
boundary-bucket budget walk) must equal their naive one-window forms
bit-for-bit, and every sample must be invariant to input partitioning."""

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from canned_yaml_spark import sampling

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    d = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
         .withColumn("stratum", (F.col("doc_id") % 3).cast("int"))
         .withColumn("w", F.length("text").cast("long"))
         .cache())
    d.count()
    return d


@pytest.fixture(scope="module")
def skewed(spark, docs):
    # one giant stratum (the case the two-phase plan exists for)
    d = docs.withColumn(
        "stratum",
        F.when(F.col("doc_id") % 10 == 0, F.col("doc_id") % 2 + 1)
         .otherwise(F.lit(0)).cast("int")).cache()
    d.count()
    return d


def stratified_sample_naive(df, stratum, k, key, seed=42):
    """One-window form (whole stratum on one reducer): the equality
    oracle for the two-phase plan."""
    w = (Window.partitionBy(stratum)
               .orderBy(sampling.sample_hash(key, seed), F.col(key)))
    return (df.withColumn("_r", F.row_number().over(w))
              .filter(F.col("_r") <= k).drop("_r"))


def budget_sample_naive(df, stratum, budget, weight, key, seed=42):
    """One-window form: the equality oracle for the boundary-bucket
    plan."""
    w = (Window.partitionBy(stratum)
               .orderBy(sampling.sample_hash(key, seed), F.col(key))
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.withColumn("_cum", F.sum(weight).over(w))
              .filter(F.col("_cum") <= budget).drop("_cum"))


def _rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_stratified_two_phase_equals_naive(spark, skewed):
    a = sampling.stratified_sample(skewed, "stratum", 25, "doc_id")
    b = stratified_sample_naive(skewed, "stratum", 25, "doc_id")
    assert _rows(a, "doc_id", "stratum") == _rows(b, "doc_id", "stratum")
    sizes = {r.stratum: r.n for r in
             a.groupBy("stratum").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 25 for n in sizes.values()) and sizes[0] == 25


def test_stratified_partitioning_invariant(spark, docs):
    a = sampling.stratified_sample(docs, "stratum", 10, "doc_id")
    b = sampling.stratified_sample(docs.repartition(17, "text"),
                                   "stratum", 10, "doc_id")
    assert _rows(a, "doc_id") == _rows(b, "doc_id")


def test_stratified_k_validation(spark, docs):
    with pytest.raises(ValueError, match="positive"):
        sampling.stratified_sample(docs, "stratum", 0, "doc_id")


def test_fraction_rate_determinism_and_nesting(spark, docs):
    n = docs.count()
    s25 = _rows(sampling.sample_fraction(docs, 0.25, "doc_id"), "doc_id")
    # rate within a loose binomial band
    assert 0.15 * n <= len(s25) <= 0.35 * n
    # determinism under repartitioning
    s25b = _rows(sampling.sample_fraction(docs.repartition(13), 0.25,
                                          "doc_id"), "doc_id")
    assert s25 == s25b
    # monotone thresholds nest: the 10% sample is inside the 25% one
    s10 = _rows(sampling.sample_fraction(docs, 0.10, "doc_id"), "doc_id")
    assert s10 <= s25
    # edges
    assert sampling.sample_fraction(docs, 1.0, "doc_id").count() == n
    assert sampling.sample_fraction(docs, 0.0, "doc_id").count() == 0
    with pytest.raises(ValueError, match="frac"):
        sampling.sample_fraction(docs, 1.5, "doc_id")


def test_budget_bucketed_equals_naive(spark, skewed):
    a = sampling.budget_sample(skewed, "stratum", 15_000, "w", "doc_id")
    b = budget_sample_naive(skewed, "stratum", 15_000, "w",
                                     "doc_id")
    assert _rows(a, "doc_id", "stratum", "w") == _rows(b, "doc_id",
                                                       "stratum", "w")


def test_budget_respected_and_maximal(spark, docs):
    budget = 10_000
    kept = sampling.budget_sample(docs, "stratum", budget, "w", "doc_id")
    totals = {r.stratum: r.t for r in
              kept.groupBy("stratum").agg(F.sum("w").alias("t")).collect()}
    assert all(t <= budget for t in totals.values())
    # maximal greedy prefix: the FIRST excluded row in hash order
    # would push its stratum past the budget
    kept_ids = _rows(kept, "doc_id")
    ordered = (docs.withColumn("_h", sampling.sample_hash("doc_id"))
                   .orderBy("stratum", "_h", "doc_id")
                   .select("doc_id", "stratum", "w").collect())
    by_stratum: dict[int, list] = {}
    for r in ordered:
        by_stratum.setdefault(r.stratum, []).append(r)
    for srows in by_stratum.values():
        cum = 0
        for r in srows:
            if (r.doc_id,) in kept_ids:
                cum += r.w
            else:
                assert cum + r.w > budget
                break
        assert cum <= budget


def test_budget_zero_weight_rows(spark):
    # zero-weight rows ride free inside the prefix, and a row at the
    # exact budget boundary is kept (cum == budget)
    df = spark.createDataFrame(
        [(1, 0, 5), (2, 0, 5), (3, 0, 0), (4, 0, 5), (5, 0, 5)],
        "doc_id long, stratum int, w long")
    a = sampling.budget_sample(df, "stratum", 10, "w", "doc_id")
    b = budget_sample_naive(df, "stratum", 10, "w", "doc_id")
    assert _rows(a, "doc_id") == _rows(b, "doc_id")
    assert a.agg(F.sum("w")).collect()[0][0] <= 10

"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus is rarely trained on whole: pipelines carve stratified
slices (per-language / per-codec quotas), Bernoulli subsets, and
token-budget mixes. All three operators below are DETERMINISTIC — the
"randomness" is a seeded content hash (md5 of seed:key), so the same
input yields the same sample on any cluster size, any partitioning,
any execution order, and the whole semantics is restatable in ANSI SQL
for the DuckDB oracle. No reference analogue (the reference validates
one document at a time, canner/src/validate.cpp:8-26); this is the
training-data-pipeline extension mandated by the build brief.

Scale shapes (the whole point of each design):

- stratified_sample — exact per-stratum top-k in hash order. A naive
  window per stratum puts an entire stratum on ONE reducer (strata are
  few and huge: codecs, languages). Two-phase instead: per
  (stratum, salt) local top-k — S-way parallel — then top-k over the
  ≤ strata·S·k survivors. Union of per-salt top-k is a superset of the
  global top-k, so the result is IDENTICAL to the naive window (pinned
  in tests/test_sampling.py); stage 2's input is bounded by construction.
- sample_fraction — stateless Bernoulli: a scan-side filter on the
  hash prefix, ZERO shuffles, trivially scale-free.
- budget_sample — greedy hash-order prefix per stratum until the
  cumulative weight (tokens/chars/bytes) reaches the budget. Exact
  WITHOUT a per-stratum global sort: bucket the hash space (4096
  buckets on the first 3 hex digits — order-compatible with the full
  hash), one aggregation for per-bucket weight sums, cumulative
  threshold on the tiny (strata × buckets) frame, then keep whole
  buckets below the boundary and run the row-level window ONLY inside
  each stratum's single boundary bucket (≈ 1/4096 of the stratum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: hash-space bucket count for budget_sample (first 3 hex digits)
N_HASH_BUCKETS = 4096


def sample_hash(key: str, seed: int = 42) -> F.Column:
    """Seeded content hash, identical in Spark and DuckDB:
    md5(utf8('<seed>:<key>')) as lowercase hex. Ordering by it is a
    deterministic shuffle of the key space."""
    return F.md5(F.concat_ws(":", F.lit(str(seed)),
                             F.col(key).cast("string")))


def stratified_sample(df: DataFrame, stratum: str, k: int, key: str,
                      seed: int = 42, salt_buckets: int = 64) -> DataFrame:
    """Exact, deterministic k-per-stratum sample: the k smallest
    (hash, key) rows of each stratum. Ties on the hash (2⁻⁶⁴-improbable)
    break on `key`, so the output is a function of the data alone.

    Two-phase for skew (see module docstring); identical to the
    one-window form by the superset property of per-salt top-k."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    h = sample_hash(key, seed)
    salt = F.pmod(F.xxhash64(F.col(key), F.lit(seed)),
                  F.lit(salt_buckets))
    base = df.withColumn("_h", h).withColumn("_salt", salt)
    w1 = (Window.partitionBy(stratum, "_salt")
                .orderBy(F.col("_h"), F.col(key)))
    local = (base.withColumn("_r", F.row_number().over(w1))
                 .filter(F.col("_r") <= k))
    w2 = Window.partitionBy(stratum).orderBy(F.col("_h"), F.col(key))
    return (local.withColumn("_r", F.row_number().over(w2))
                 .filter(F.col("_r") <= k)
                 .drop("_h", "_salt", "_r"))


def sample_fraction(df: DataFrame, frac: float, key: str,
                    seed: int = 42) -> DataFrame:
    """Deterministic Bernoulli(frac) sample: keep rows whose 60-bit
    hash prefix falls below frac·16¹⁵ (p quantized to 1/16¹⁵ ≈ 1e-18).
    Pure scan-side filter — no shuffle, no state; the SAME rows are
    kept on any cluster, which is what makes pipeline re-runs and
    incremental joins against a sample reproducible."""
    if not 0.0 <= frac <= 1.0:
        raise ValueError(f"frac must be in [0,1], got {frac}")
    if frac == 1.0:
        return df
    threshold = format(int(frac * 16 ** 15), "015x")
    return df.filter(
        F.substring(sample_hash(key, seed), 1, 15) < F.lit(threshold))


def _with_hash_bucket(df: DataFrame, key: str, seed: int) -> DataFrame:
    # first 3 hex digits as an int bucket 0..4095 — bucket order is a
    # prefix of full-hash order, which is what makes whole-bucket
    # keep/drop decisions consistent with the row-level hash order
    h = sample_hash(key, seed)
    return (df.withColumn("_h", h)
              .withColumn("_b", F.conv(F.substring("_h", 1, 3), 16, 10)
                                 .cast("int")))


def budget_sample(df: DataFrame, stratum: str, budget,
                  weight: str, key: str, seed: int = 42) -> DataFrame:
    """Greedy prefix per stratum: walk rows in (hash, key) order and
    keep while the cumulative `weight` stays ≤ budget (the kept set is
    the maximal hash-prefix whose total weight fits). Weights must be
    ≥ 0. Exact and deterministic; equal to the naive one-window form
    (pinned in pytest) with the boundary-bucket shape from the module
    docstring, so no stratum is ever globally sorted."""
    rows = _with_hash_bucket(df, key, seed)
    per_bucket = (rows.groupBy(stratum, "_b")
                      .agg(F.sum(weight).alias("_wb")))
    pre_w = (Window.partitionBy(stratum).orderBy("_b")
                   .rowsBetween(Window.unboundedPreceding, -1))
    classified = (per_bucket
                  .withColumn("_pre", F.coalesce(F.sum("_wb").over(pre_w),
                                                 F.lit(0)))
                  .withColumn(
                      "_class",
                      F.when(F.col("_pre") + F.col("_wb") <= budget,
                             F.lit("keep"))
                       .when(F.col("_pre") <= budget, F.lit("edge"))
                       .otherwise(F.lit("drop")))
                  .select(stratum, "_b", "_pre", "_class"))
    tagged = rows.join(F.broadcast(classified), [stratum, "_b"])
    kept_whole = tagged.filter(F.col("_class") == "keep")
    # each stratum has exactly one edge bucket → the window partitions
    # are single buckets, ~1/4096 of a stratum
    w_edge = (Window.partitionBy(stratum, "_b")
                    .orderBy(F.col("_h"), F.col(key))
                    .rowsBetween(Window.unboundedPreceding,
                                 Window.currentRow))
    kept_edge = (tagged.filter(F.col("_class") == "edge")
                       .withColumn("_cum",
                                   F.col("_pre")
                                   + F.sum(weight).over(w_edge))
                       .filter(F.col("_cum") <= budget)
                       .drop("_cum"))
    out_cols = df.columns
    return kept_whole.select(*out_cols).unionByName(
        kept_edge.select(*out_cols))


"""Distribution-drift checks: PSI (pure DataFrame) + KS (applyInPandas).

No reference analog (single-document validator); mandated by
BASELINE.json north_star: "KS/PSI distribution-drift checks on
per-partition dur_ms histograms".

Scale shape: the expensive part — bucketing 10^12 rows — is one scan
plus one hash aggregation on (part_id, bucket); everything after runs
on ≤ parts × buckets rows (tiny). The bucket→expected-fraction join is
a broadcast. The KS path ships a bounded reference sample (≤ ks_max_ref
values) to executors via closure and runs numpy per partition-group
through Arrow — no per-row Python.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.checks import CatDriftCheck, DriftCheck
from canned_yaml_spark.runner import partition_violations

_EPS = 1e-6


def bucketize(df: DataFrame, check: DriftCheck,
              part_col: str = "part_id") -> DataFrame:
    """(part_id, bucket, cnt): histogram of check.column per partition.
    Values are clamped into [lo, hi) buckets; NULLs excluded."""
    width = (check.hi - check.lo) / check.buckets
    b = F.least(
        F.greatest(
            F.floor((F.col(check.column) - F.lit(check.lo)) / F.lit(width)),
            F.lit(0)),
        F.lit(check.buckets - 1)).cast("int")
    return (df.filter(F.col(check.column).isNotNull())
              .select(F.col(part_col).alias("part_id"), b.alias("bucket"))
              .groupBy("part_id", "bucket")
              .agg(F.count(F.lit(1)).alias("cnt")))


def psi_per_partition(df: DataFrame, check: DriftCheck,
                      expected: DataFrame | None = None,
                      part_col: str = "part_id") -> DataFrame:
    """(part_id, psi): population stability index of each partition's
    histogram vs an expected distribution.

    ``expected``: (bucket, expected_frac) reference histogram
    (FIXTURES.md table 5). When None, the global distribution of the
    table itself is the reference — partitions are then compared
    against the all-partition blend, which flags localized shifts.

    psi = Σ_b (p_b − e_b) · ln((p_b + ε)/(e_b + ε)) over the FULL
    bucket grid (missing buckets count as 0 — a sparse fold would
    silently drop exactly the buckets that drifted to zero).

    Scale shape: ONE hash aggregation touches the 10^12 rows
    (bucketize's partial agg reduces each map task to ≤ parts×buckets
    rows before the exchange). Everything downstream — per-partition
    bucket maps, the expected blend, the PSI fold — runs on
    ≤ parts×buckets rows via map/aggregate higher-order functions:
    no crossJoin grid, no broadcast builds, no driver round-trips,
    so the whole check adds exactly two stage barriers.
    """
    joined = _hist_vs_expected(df, check, expected, part_col)
    psi = F.aggregate(
        F.sequence(F.lit(0), F.lit(check.buckets - 1)),
        F.lit(0.0),
        lambda acc, b: acc + _psi_term(b))
    return joined.select("part_id", psi.alias("psi"))


def _hist_vs_expected(df: DataFrame, check: DriftCheck,
                      expected: DataFrame | None,
                      part_col: str) -> DataFrame:
    """Shared front half of the histogram drift metrics (PSI, W1): one
    row per partition carrying (hist map, part_n, emap) — the partition's
    sparse bucket histogram joined against the broadcast expected
    distribution. Everything downstream of bucketize's single big agg
    runs on ≤ parts×buckets rows."""
    hist = bucketize(df, check, part_col)
    # per-partition sparse histogram as a map, folded in one agg
    per_part = (hist.groupBy("part_id")
                    .agg(F.map_from_entries(
                             F.collect_list(F.struct("bucket", "cnt")))
                          .alias("hist"),
                         F.sum("cnt").alias("part_n")))
    if expected is None:
        # global blend DERIVED FROM per_part (explode the ≤ parts
        # tiny maps back to rows): both subtrees then share the
        # identical part_id hash-agg exchange, which ReuseExchange
        # dedupes — the 10^12-row bucketize scan runs once with no
        # cache() (a cached hist was never unpersisted and leaked
        # across long-lived sessions; ADVICE r3).
        from pyspark.sql import Window
        g = (per_part
             .select(F.explode("hist"))
             .select(F.col("key").alias("bucket"),
                     F.col("value").alias("cnt"))
             .select("bucket",
                     F.sum("cnt").over(Window.partitionBy("bucket"))
                      .alias("bcnt"),
                     F.sum("cnt").over(Window.partitionBy()).alias("n"))
             .select("bucket", (F.col("bcnt") / F.col("n"))
                     .alias("expected_frac"))
             .distinct())
        exp_map = (g.groupBy()
                    .agg(F.map_from_entries(
                             F.collect_list(F.struct("bucket",
                                                     "expected_frac")))
                          .alias("emap")))
    else:
        exp_map = (expected.select(F.col("bucket").cast("int").alias("bucket"),
                                   F.col("expected_frac")
                                    .cast("double").alias("expected_frac"))
                           .groupBy()
                           .agg(F.map_from_entries(
                                    F.collect_list(F.struct("bucket",
                                                            "expected_frac")))
                                 .alias("emap")))

    return per_part.join(F.broadcast(exp_map))


def _psi_term(b):
    """One PSI summand for bucket `b` over (hist map, part_n, emap)."""
    p = F.coalesce(F.element_at(F.col("hist"), b.cast("int")), F.lit(0)) \
        / F.col("part_n")
    e = F.coalesce(F.element_at(F.col("emap"), b.cast("int")), F.lit(0.0))
    return (p - e) * F.log((p + F.lit(_EPS)) / (e + F.lit(_EPS)))


def psi_violations(df: DataFrame, check: DriftCheck,
                   expected: DataFrame | None = None,
                   part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions whose PSI exceeds check.psi_max."""
    return partition_violations(
        psi_per_partition(df, check, expected, part_col),
        F.col("psi") > check.psi_max, check.rule_id + ".psi", check.severity,
        F.concat(F.lit("PSI "), F.round(F.col("psi"), 4).cast("string"),
                 F.lit(f" > {check.psi_max} on {check.column}")))


# --------------------------------------------------- Wasserstein-1 (EMD)
def w1_per_partition(df: DataFrame, check: DriftCheck,
                     expected: DataFrame | None = None,
                     part_col: str = "part_id") -> DataFrame:
    """(part_id, w1): first Wasserstein (earth mover's) distance of each
    partition's bucketed ``check.column`` histogram vs the expected
    distribution, in the column's own units (ms for dur_ms).

    Over a shared bucket grid the transport metric collapses to the
    L1 distance between CDFs scaled by the bucket width:

        W1 = width · Σ_b |Σ_{b'≤b} (p_{b'} − e_{b'})|

    Why a third numeric-drift metric: PSI's log-ratio terms weight
    *relative* per-bucket changes, so a small mass shift smeared across
    many adjacent buckets (a slow drift of the whole distribution) stays
    under psi_max long after the mean has moved; KS sees only the single
    worst CDF gap. W1 integrates the full CDF gap and is linear in how
    FAR the mass moved — the natural alarm for "durations are gradually
    getting longer". Same scale shape as PSI: ONE big-data hash agg
    (bucketize), then a per-partition higher-order fold over
    ≤ parts×buckets rows; the expected histogram is a broadcast.
    """
    joined = _hist_vs_expected(df, check, expected, part_col)
    width = (check.hi - check.lo) / check.buckets
    # fold carries (cum = running Σ(p−e), tot = running Σ|cum|); the
    # final cum is 0 up to float noise (both sides sum to 1), so
    # including the last bucket's term is harmless and keeps the grid
    # identical to PSI's.
    w1 = F.aggregate(
        F.sequence(F.lit(0), F.lit(check.buckets - 1)),
        F.struct(F.lit(0.0).alias("cum"), F.lit(0.0).alias("tot")),
        lambda acc, b: F.struct(
            (acc["cum"] + _pe_diff(b)).alias("cum"),
            (acc["tot"] + F.abs(acc["cum"] + _pe_diff(b))).alias("tot")),
        lambda acc: acc["tot"] * F.lit(width))
    return joined.select("part_id", w1.alias("w1"))


def _pe_diff(b):
    """p_b − e_b for bucket `b` over (hist map, part_n, emap)."""
    p = F.coalesce(F.element_at(F.col("hist"), b.cast("int")), F.lit(0)) \
        / F.col("part_n")
    e = F.coalesce(F.element_at(F.col("emap"), b.cast("int")), F.lit(0.0))
    return p - e


def w1_violations(df: DataFrame, check: DriftCheck,
                  expected: DataFrame | None = None,
                  part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions whose W1 distance exceeds check.w1_max."""
    return partition_violations(
        w1_per_partition(df, check, expected, part_col),
        F.col("w1") > check.w1_max, check.rule_id + ".w1", check.severity,
        F.concat(F.lit("W1 "), F.round(F.col("w1"), 4).cast("string"),
                 F.lit(f" > {check.w1_max} on {check.column}")))


# ------------------------------------------------------------------- KS
def _ks_2samp(a: np.ndarray, b: np.ndarray) -> tuple[float, float]:
    """Two-sample Kolmogorov–Smirnov statistic + asymptotic p-value.

    scipy is not in the sandbox; this is the standard formulation
    (statistic = sup |ECDF_a − ECDF_b|, p ≈ Kolmogorov distribution
    asymptotic — the same approximation scipy uses in 'asymp' mode).
    """
    a = np.sort(a)
    b = np.sort(b)
    all_v = np.concatenate([a, b])
    cdf_a = np.searchsorted(a, all_v, side="right") / a.size
    cdf_b = np.searchsorted(b, all_v, side="right") / b.size
    d = float(np.max(np.abs(cdf_a - cdf_b)))
    en = math.sqrt(a.size * b.size / (a.size + b.size))
    t = (en + 0.12 + 0.11 / en) * d
    # Kolmogorov Q-function: the alternating series diverges as t→0,
    # so below t≈1.18 use the equivalent theta-function form (both are
    # the standard asymptotic kolmogorov() formulations).
    if t < 1e-9:
        p = 1.0
    elif t < 1.18:
        w = math.exp(-math.pi ** 2 / (8.0 * t * t))
        p = 1.0 - (math.sqrt(2.0 * math.pi) / t) * (w + w ** 9 + w ** 25)
    else:
        p = 2.0 * sum((-1) ** (k - 1) * math.exp(-2.0 * (k * t) ** 2)
                      for k in range(1, 101))
    return d, float(min(max(p, 0.0), 1.0))


def _ks_2samp_weighted(vals: np.ndarray, cnts: np.ndarray,
                       ref: np.ndarray) -> tuple[float, float, int]:
    """Exact two-sample KS of a weighted sample (distinct values +
    counts) vs a raw reference sample. Identical to _ks_2samp on the
    expanded sample — ECDF steps only occur at sample points."""
    order = np.argsort(vals)
    v = vals[order]
    cum = np.cumsum(cnts[order].astype(np.float64))
    n = cum[-1]
    r = np.sort(np.asarray(ref, dtype=np.float64))
    pts = np.concatenate([v, r])
    cdf_a = cum[np.searchsorted(v, pts, side="right") - 1] / n
    cdf_a[np.searchsorted(v, pts, side="right") == 0] = 0.0
    cdf_b = np.searchsorted(r, pts, side="right") / r.size
    d = float(np.max(np.abs(cdf_a - cdf_b)))
    en = math.sqrt(n * r.size / (n + r.size))
    t = (en + 0.12 + 0.11 / en) * d
    if t < 1e-9:
        p = 1.0
    elif t < 1.18:
        w = math.exp(-math.pi ** 2 / (8.0 * t * t))
        p = 1.0 - (math.sqrt(2.0 * math.pi) / t) * (w + w ** 9 + w ** 25)
    else:
        p = 2.0 * sum((-1) ** (k - 1) * math.exp(-2.0 * (k * t) ** 2)
                      for k in range(1, 101))
    return d, float(min(max(p, 0.0), 1.0)), int(n)


def ks_per_partition(df: DataFrame, check: DriftCheck,
                     reference: np.ndarray,
                     part_col: str = "part_id") -> DataFrame:
    """(part_id, ks_stat, p_value, n) — EXACT per-partition KS over the
    pre-aggregated (part_id, value, cnt) grid; numpy does the per-group
    statistic through applyInPandas (groups are ≤|distinct values| rows
    after the map-side combine, so the Python stage is tiny).

    Not all-codegen: a window-ECDF formulation with no Python stage was
    measured slower at every scale and core count tried — its
    window/cross-join stages cost more than the Python-stage spin-up
    they avoid (BENCH/REGRESSION.md q7).
    """
    ref = np.asarray(reference, dtype=np.float64)
    col = check.column

    def ks(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = pdf["_v"].to_numpy(dtype=np.float64)
        cnts = pdf["_c"].to_numpy(dtype=np.int64)
        if vals.size == 0:
            return pd.DataFrame({"part_id": [int(pdf["part_id"].iloc[0])],
                                 "ks_stat": [0.0], "p_value": [1.0],
                                 "n": [0]})
        d, p, n = _ks_2samp_weighted(vals, cnts, ref)
        return pd.DataFrame({"part_id": [int(pdf["part_id"].iloc[0])],
                             "ks_stat": [d], "p_value": [p], "n": [n]})

    hist = (df.filter(F.col(col).isNotNull())
              .select(F.col(part_col).alias("part_id"),
                      F.col(col).alias("_v"))
              .groupBy("part_id", "_v")
              .agg(F.count(F.lit(1)).alias("_c")))
    return (hist.groupBy("part_id")
                .applyInPandas(ks, "part_id int, ks_stat double, "
                                   "p_value double, n long"))


def ks_violations(df: DataFrame, check: DriftCheck, reference: np.ndarray,
                  part_col: str = "part_id") -> DataFrame:
    return partition_violations(
        ks_per_partition(df, check, reference, part_col),
        F.col("p_value") < check.ks_alpha, check.rule_id + ".ks",
        check.severity,
        F.concat(F.lit("KS stat "),
                 F.round(F.col("ks_stat"), 4).cast("string"),
                 F.lit(", p "), F.round(F.col("p_value"), 6).cast("string"),
                 F.lit(f" < alpha {check.ks_alpha} on {check.column}")))


# ------------------------------------------------------- chi-squared
def chi2_per_partition(df: DataFrame, check: CatDriftCheck,
                       part_col: str = "part_id") -> DataFrame:
    """(part_id, chi2, n_cats): Pearson chi-squared goodness-of-fit of
    each partition's categorical distribution of check.column vs the
    spec's expected fractions (checks.CatDriftCheck).

    chi2 = Σ_c (O_c − n·e_c)² / (n·e_c) over expected ∪ observed
    categories; observed-but-unexpected categories get the floor
    fraction _EPS (an unexpected codec is maximal drift by
    construction, so its term is meant to explode). NULLs are
    excluded — the null rate is x-completeness's job, same division
    of labor as x-frequency.

    Scale shape (the PSI shape): ONE hash aggregation on
    (part_id, category) touches the 10^12 rows — the partial agg
    reduces each map task to ≤ parts × cardinality rows before the
    exchange. Everything downstream (per-partition category maps, the
    expected literal map, the fold) runs on ≤ parts rows with
    higher-order functions: no crossJoin grid, no second scan, no
    driver round-trips. n_cats rides along so callers can derive
    dof = n_cats − 1 without re-reading the spec.
    """
    col = F.col(check.column)
    obs = (df.filter(col.isNotNull())
             .select(F.col(part_col).alias("part_id"), col.alias("cat"))
             .groupBy("part_id", "cat")
             .agg(F.count(F.lit(1)).alias("cnt")))
    per_part = (obs.groupBy("part_id")
                   .agg(F.map_from_entries(
                            F.collect_list(F.struct("cat", "cnt")))
                         .alias("omap"),
                        F.sum("cnt").alias("part_n")))
    # the expected distribution is a literal map — categorical
    # distributions are small by nature (that's what makes chi2 the
    # right test), so it compiles into the plan instead of becoming a
    # broadcast join
    emap = F.create_map(*[F.lit(x) for cat, frac in check.expected
                          for x in (cat, float(frac))])
    cats = F.array_union(
        F.array(*[F.lit(cat) for cat, _ in check.expected]),
        F.map_keys(F.col("omap")))

    def term(acc, c):
        o = F.coalesce(F.try_element_at(F.col("omap"), c), F.lit(0)) \
            .cast("double")
        e = F.coalesce(F.try_element_at(emap, c), F.lit(_EPS)) \
            * F.col("part_n")
        return acc + (o - e) * (o - e) / e

    chi2 = F.aggregate(cats, F.lit(0.0), term)
    return per_part.select("part_id", chi2.alias("chi2"),
                           F.size(cats).alias("n_cats"))


def chi2_violations(df: DataFrame, check: CatDriftCheck,
                    part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions whose chi2 exceeds check.chi2_max."""
    return partition_violations(
        chi2_per_partition(df, check, part_col),
        F.col("chi2") > check.chi2_max, check.rule_id, check.severity,
        F.concat(F.lit("chi2 "), F.round(F.col("chi2"), 4).cast("string"),
                 F.lit(f" > {check.chi2_max} on {check.column} (dof "),
                 (F.col("n_cats") - 1).cast("string"), F.lit(")")))

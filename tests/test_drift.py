"""PSI + KS drift checks: injected drift partition fires, clean don't."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from canned_yaml_spark import drift, fixtures
from canned_yaml_spark.derive import DRIFT_PART


@pytest.fixture(scope="module")
def clips_mid(spark):
    # drift needs statistical mass: 20k rows → ~312/partition
    # (metadata only: tiny payloads)
    df = fixtures.clips_df(spark, 20_000, inject=False, max_samples=4) \
        .select("dur_ms", "part_id").cache()
    df.count()
    return df


def test_psi_fires_only_on_drift_part(spark, clips_mid, suite):
    dc = suite.drift_checks[0]
    exp = fixtures.reference_hist_df(spark)
    psi = {r.part_id: r.psi for r in
           drift.psi_per_partition(clips_mid, dc, exp).collect()}
    assert len(psi) == 64
    assert psi[DRIFT_PART] > dc.psi_max
    clean = [v for p, v in psi.items() if p != DRIFT_PART]
    assert max(clean) < dc.psi_max
    v = drift.psi_violations(clips_mid, dc, exp).collect()
    assert {r.part_id for r in v} == {DRIFT_PART}
    assert all(r.severity == 1 for r in v)  # WARN per spec


def test_psi_self_reference_mode(spark, clips_mid, suite):
    # expected=None → global blend as reference; drift part must still
    # be the extreme
    dc = suite.drift_checks[0]
    psi = drift.psi_per_partition(clips_mid, dc, None).collect()
    top = max(psi, key=lambda r: r.psi)
    assert top.part_id == DRIFT_PART


def test_ks_fires_only_on_drift_part(spark, clips_mid, suite):
    dc = suite.drift_checks[0]
    ref = fixtures.reference_dur_sample()
    ks = {r.part_id: r for r in
          drift.ks_per_partition(clips_mid, dc, ref).collect()}
    assert ks[DRIFT_PART].p_value < dc.ks_alpha
    others = [r.p_value for p, r in ks.items() if p != DRIFT_PART]
    assert min(others) > dc.ks_alpha
    v = drift.ks_violations(clips_mid, dc, ref).collect()
    assert {r.part_id for r in v} == {DRIFT_PART}


def test_ks_statistic_math():
    # identical samples → D=0, p=1; disjoint → D=1, p~0
    a = np.arange(1000, dtype=float)
    d, p = drift._ks_2samp(a, a)
    assert d == 0.0 and p > 0.99
    d, p = drift._ks_2samp(a, a + 10_000)
    assert d == 1.0 and p < 1e-10


def test_bucketize_clamps_and_drops_nulls(spark, suite):
    dc = suite.drift_checks[0]
    df = spark.createDataFrame(
        [(0, -50), (0, 0), (0, 11999), (0, 999999), (0, None)],
        "part_id int, dur_ms int")
    rows = {(r.bucket): r.cnt for r in drift.bucketize(df, dc).collect()}
    assert rows.get(0) == 2          # -50 clamped + 0
    assert rows.get(19) == 2         # 11999 + clamp(999999)
    assert sum(rows.values()) == 4   # NULL dropped


def test_weighted_ks_equals_raw():
    # the pre-aggregated (value, count) form must reproduce the raw
    # statistic exactly — ECDF steps only occur at sample points
    import numpy as np

    rng = np.random.RandomState(7)
    for _ in range(50):
        a = rng.randint(200, 10000, size=rng.randint(1, 400)).astype(float)
        ref = rng.randint(200, 12000, size=777).astype(float)
        vals, cnts = np.unique(a, return_counts=True)
        d1, p1 = drift._ks_2samp(a, ref)
        d2, p2, n = drift._ks_2samp_weighted(vals, cnts, ref)
        assert abs(d1 - d2) < 1e-12 and abs(p1 - p2) < 1e-12 and n == a.size


def test_ks_per_partition_matches_raw_oracle(spark, clips_mid, suite):
    # the engine KS (pre-aggregated grid + applyInPandas) must equal the
    # raw two-sample statistic of each partition's values
    dc = suite.drift_checks[0]
    ref = fixtures.reference_dur_sample()
    got = {r.part_id: r for r in
           drift.ks_per_partition(clips_mid, dc, ref).collect()}
    vals: dict[int, list[float]] = {}
    for r in (clips_mid.filter(F.col(dc.column).isNotNull())
                       .select("part_id", dc.column).collect()):
        vals.setdefault(r.part_id, []).append(float(r[dc.column]))
    assert set(got) == set(vals)
    for pid, v in vals.items():
        d, p = drift._ks_2samp(np.asarray(v), np.asarray(ref, dtype=float))
        assert got[pid].n == len(v)
        assert abs(got[pid].ks_stat - d) < 1e-12
        assert abs(got[pid].p_value - p) < 1e-9


# --------------------------------------------------------------- chi2
def test_chi2_hand_computed(spark):
    # 2 partitions, known counts; expected {a: .5, b: .5}.
    # part 0: a=6, b=4, n=10 → chi2 = (6-5)²/5 + (4-5)²/5 = 0.4
    # part 1: a=5, b=5 → chi2 = 0
    from canned_yaml_spark.checks import CatDriftCheck
    rows = [(0, "a")] * 6 + [(0, "b")] * 4 + [(1, "a")] * 5 + [(1, "b")] * 5
    df = spark.createDataFrame(rows, "part_id int, codec string")
    cc = CatDriftCheck(rule_id="x-chi2.codec", column="codec",
                       expected=(("a", 0.5), ("b", 0.5)), chi2_max=3.0)
    rep = {r.part_id: r for r in
           drift.chi2_per_partition(df, cc).collect()}
    assert rep[0].chi2 == pytest.approx(0.4, abs=1e-9)
    assert rep[1].chi2 == pytest.approx(0.0, abs=1e-9)
    assert rep[0].n_cats == rep[1].n_cats == 2


def test_chi2_unexpected_category_explodes_and_nulls_excluded(spark):
    # a category missing from `expected` gets the 1e-6 floor → its
    # term is (1 - 11e-6)²/(11e-6) ≈ 9e4 ≫ any threshold; the NULL
    # row must not count toward part_n (n=11, not 12)
    from canned_yaml_spark.checks import CatDriftCheck
    rows = [(0, "a")] * 5 + [(0, "b")] * 5 + [(0, "zzz"), (0, None)]
    df = spark.createDataFrame(rows, "part_id int, codec string")
    cc = CatDriftCheck(rule_id="x-chi2.codec", column="codec",
                       expected=(("a", 0.5), ("b", 0.5)), chi2_max=11.34)
    r = drift.chi2_per_partition(df, cc).collect()[0]
    assert r.n_cats == 3
    n, eps = 11, 1e-6
    expect = ((5 - n * .5) ** 2 / (n * .5)) * 2 \
        + (1 - n * eps) ** 2 / (n * eps)
    assert r.chi2 == pytest.approx(expect, rel=1e-12)
    v = drift.chi2_violations(df, cc).collect()
    assert len(v) == 1 and v[0].clip_id is None
    assert v[0].rule_id == "x-chi2.codec" and "dof 2" in v[0].message


def test_chi2_spec_wiring_and_errors(spark, tmp_path):
    # spec → suite → job.all_violations end-to-end, plus located errors
    from canned_yaml_spark import job as jobmod
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError

    clips = fixtures.clips_df(spark, 2_000, max_samples=4)
    spec = {"type": "object",
            "x-chi2": {"column": "codec",
                       "expected": {"pcm_s16le": 0.70, "flac": 0.15,
                                    "opus": 0.10, "mp3": 0.05},
                       "chi2_max": 11.34, "severity": "WARN"}}
    suite = compile_spec(spec, clips.schema)
    assert len(suite.cat_drift_checks) == 1
    cc = suite.cat_drift_checks[0]
    assert cc.expected[0] == ("pcm_s16le", 0.70)
    viol = jobmod.all_violations(clips, suite)
    got = viol.filter(F.col("rule_id") == "x-chi2.codec")
    direct = drift.chi2_violations(clips, cc)
    assert got.count() == direct.count()

    with pytest.raises(SpecError, match=r"\$\.x-chi2\[0\]\.expected"):
        compile_spec({"type": "object",
                      "x-chi2": {"column": "codec",
                                 "expected": {"a": 0.5, "b": 0.4}}},
                     clips.schema)
    with pytest.raises(SpecError, match="fraction must be > 0"):
        compile_spec({"type": "object",
                      "x-chi2": {"column": "codec",
                                 "expected": {"a": 1.0, "b": 0.0}}},
                     clips.schema)
    with pytest.raises(SpecError, match="absent from table schema"):
        compile_spec({"type": "object",
                      "x-chi2": {"column": "nope",
                                 "expected": {"a": 1.0}}}, clips.schema)
    with pytest.raises(SpecError, match="chi2_max"):
        compile_spec({"type": "object",
                      "x-chi2": {"column": "codec",
                                 "expected": {"a": 1.0}, "chi2_max": -1}},
                     clips.schema)


# ------------------------------------------------------- Wasserstein-1
def test_w1_fires_only_on_drift_part(spark, clips_mid, suite):
    # the drifted partition's dur_ms mass sits far from the clean
    # reference — W1 measures THAT distance in ms, so it dwarfs the
    # clean partitions' sampling noise by orders of magnitude
    dc = suite.drift_checks[0]
    exp = fixtures.reference_hist_df(spark)
    w1 = {r.part_id: r.w1 for r in
          drift.w1_per_partition(clips_mid, dc, exp).collect()}
    assert len(w1) == 64
    clean = [v for p, v in w1.items() if p != DRIFT_PART]
    assert w1[DRIFT_PART] > 10 * max(clean)
    assert all(v >= 0 for v in w1.values())


def test_w1_matches_numpy_reference(spark, clips_mid, suite):
    # engine fold vs an independent numpy cumsum over the same
    # histograms — exact arithmetic restatement, not a separation bound
    dc = suite.drift_checks[0]
    exp = fixtures.reference_hist(dc.buckets, dc.lo, dc.hi)
    e = exp.sort_values("bucket")["expected_frac"].to_numpy()
    hist = drift.bucketize(clips_mid, dc).collect()
    parts = {}
    for r in hist:
        parts.setdefault(r.part_id, np.zeros(dc.buckets))[r.bucket] = r.cnt
    width = (dc.hi - dc.lo) / dc.buckets
    want = {p: float(np.abs(np.cumsum(h / h.sum() - e)).sum() * width)
            for p, h in parts.items()}
    got = {r.part_id: r.w1 for r in
           drift.w1_per_partition(clips_mid, dc,
                                  fixtures.reference_hist_df(spark))
                .collect()}
    assert got.keys() == want.keys()
    for p in want:
        assert got[p] == pytest.approx(want[p], abs=1e-9)


def test_w1_is_shift_distance(spark):
    # all mass in bucket 2 vs expected all in bucket 0 → W1 is exactly
    # the transport distance 2 buckets × 600 ms (the linearity PSI
    # lacks: PSI of ANY disjoint pair saturates identically)
    from canned_yaml_spark.checks import DriftCheck
    dc = DriftCheck(rule_id="t", column="dur_ms")
    df = spark.createDataFrame([(0, 1500.0)] * 4, "part_id int, dur_ms double")
    exp = spark.createDataFrame([(0, 1.0)] + [(b, 0.0) for b in range(1, 20)],
                                "bucket int, expected_frac double")
    (row,) = drift.w1_per_partition(df, dc, exp).collect()
    assert row.w1 == pytest.approx(1200.0)
    # matching distributions → 0 (self-reference blend on one partition)
    (zero,) = drift.w1_per_partition(df, dc, None).collect()
    assert zero.w1 == pytest.approx(0.0)


def test_w1_spec_wiring_and_errors(spark, clips_mid, suite):
    # w1_max knob: spec → DriftCheck → job.all_violations union;
    # unset → disabled (no .w1 rows from the stock suite)
    from canned_yaml_spark import job as jobmod
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError

    assert suite.drift_checks[0].w1_max is None       # stock spec: off
    spec = {"type": "object",
            "x-drift": {"column": "dur_ms", "buckets": 20, "lo": 0,
                        "hi": 12000, "psi_max": 0.25, "w1_max": 800,
                        "severity": "WARN"}}
    s2 = compile_spec(spec, clips_mid.schema)
    dc = s2.drift_checks[0]
    assert dc.w1_max == 800.0
    exp = fixtures.reference_hist_df(spark)
    v = drift.w1_violations(clips_mid, dc, exp).collect()
    assert {r.part_id for r in v} == {DRIFT_PART}
    assert all(r.rule_id == "x-drift.dur_ms.w1" for r in v)
    wired = (jobmod.all_violations(clips_mid.withColumn(
                 "clip_id", F.lit("x")), s2, expected_hist=exp)
             .filter(F.col("rule_id").endswith(".w1")))
    assert {r.part_id for r in wired.collect()} == {DRIFT_PART}

    with pytest.raises(SpecError, match="w1_max"):
        compile_spec({"type": "object",
                      "x-drift": {"column": "dur_ms", "w1_max": -5}},
                     clips_mid.schema)

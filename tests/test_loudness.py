"""BS.1770 loudness: filter design conformance, exact-filtering
equivalence, gating semantics, the Spark operator, and the x-loudness
spec rule."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from canned_yaml_spark import audio, loudness
from canned_yaml_spark.errors import SpecError


# ---- filter design -------------------------------------------------

def test_coeffs_match_bs1770_48k_table():
    # the standard publishes the 48 kHz cascade; our parametric design
    # must reproduce it (BS.1770-4, pre-filter + RLB tables)
    shelf, hp = loudness.k_weighting_coeffs(48000)
    ref_shelf_b = (1.53512485958697, -2.69169618940638, 1.19839281085285)
    ref_shelf_a = (1.0, -1.69065929318241, 0.73248077421585)
    ref_hp_b = (1.0, -2.0, 1.0)
    ref_hp_a = (1.0, -1.99004745483398, 0.99007225036621)
    for got, ref in ((shelf[0], ref_shelf_b), (shelf[1], ref_shelf_a),
                     (hp[0], ref_hp_b), (hp[1], ref_hp_a)):
        assert max(abs(g - r) for g, r in zip(got, ref)) < 1e-10


def _loop_biquad(x, b, a):
    """Textbook per-sample direct-form-I recursion — the independent
    reference the vectorized closed-form path must match."""
    y = np.zeros_like(x, dtype=np.float64)
    for i in range(len(x)):
        y[i] = b[0] * x[i]
        if i >= 1:
            y[i] += b[1] * x[i - 1] - a[1] * y[i - 1]
        if i >= 2:
            y[i] += b[2] * x[i - 2] - a[2] * y[i - 2]
    return y


@pytest.mark.parametrize("fs", [8000, 16000, 44100, 48000])
def test_kweight_matches_per_sample_recursion(fs):
    rng = np.random.default_rng(fs)
    x = rng.uniform(-1.0, 1.0, size=4096)
    shelf, hp = loudness.k_weighting_coeffs(fs)
    want = _loop_biquad(_loop_biquad(x, *shelf), *hp)
    got = loudness.k_weight(x[None, :], fs)[0]
    assert np.abs(got - want).max() < 1e-9


def test_kweight_batch_rows_independent():
    # matrix path == each row alone (no cross-row leakage through the
    # shared FFT)
    rng = np.random.default_rng(3)
    mat = rng.uniform(-1, 1, size=(5, 2000))
    whole = loudness.k_weight(mat, 16000)
    for i in range(5):
        assert np.allclose(whole[i], loudness.k_weight(mat[i:i+1], 16000)[0],
                           atol=1e-12)


# ---- integrated loudness -------------------------------------------

def _integrated(x_mat, fs):
    # what loudness_stats computes per group: K-weight once, then gate
    return loudness._integrated_from_weighted(loudness.k_weight(x_mat, fs),
                                              fs)


def _lra(x_mat, fs):
    return loudness._lra_from_weighted(loudness.k_weight(x_mat, fs), fs)


def _tone(fs, secs, f, amp):
    t = np.arange(int(secs * fs), dtype=np.float64) / fs
    return amp * np.sin(2 * np.pi * f * t)


def test_tone_loudness_matches_analytic_gain():
    # steady 997 Hz sine: LUFS = -0.691 + 10·log10(amp²/2) + |H(997)|²dB.
    # The -0.691 offset is calibrated to cancel the K-filter gain near
    # 1 kHz, so a full-scale 997 Hz sine reads ≈ -3.01 LUFS.
    for fs in (16000, 48000):
        x = _tone(fs, 2.0, 997.0, 0.5)
        lufs, nb, ng = _integrated(x[None, :], fs)
        expected = (-0.691 + 10 * math.log10(0.5 ** 2 / 2)
                    + loudness.k_weight_gain_db(fs, 997.0))
        assert lufs[0] == pytest.approx(expected, abs=0.01)
        assert nb[0] == ng[0] == 17          # 2 s -> (2-0.4)/0.1 + 1


def test_gating_discards_silence():
    # 1 s tone + 9 s silence: the relative gate keeps only the tone
    # blocks, so integrated loudness sits near the tone's own level —
    # an UNGATED mean-square would read ~10 dB lower
    fs = 16000
    x = np.zeros(10 * fs)
    x[:fs] = _tone(fs, 1.0, 997.0, 0.5)
    gated, _, ng = _integrated(x[None, :], fs)
    tone_only, _, _ = _integrated(_tone(fs, 1.0, 997.0, 0.5)[None, :], fs)
    ungated_db = -0.691 + 10 * math.log10(
        np.mean(loudness.k_weight(x[None, :], fs)[0] ** 2))
    assert gated[0] == pytest.approx(tone_only[0], abs=1.0)
    assert gated[0] > ungated_db + 5.0
    assert 0 < ng[0] < 15                    # only tone-ish blocks survive


def test_silence_and_short_clips_undefined():
    fs = 16000
    l_sil, nb, ng = _integrated(np.zeros((1, 2 * fs)), fs)
    assert math.isnan(l_sil[0]) and ng[0] == 0 and nb[0] > 0
    l_short, nb2, _ = _integrated(
        np.full((1, 1000), 0.3), fs)     # 62 ms < one 400 ms block
    assert math.isnan(l_short[0]) and nb2[0] == 0


def test_loudness_insensitive_to_sample_rate():
    # same tone, three rates: within a small design wobble (<0.1 LU)
    vals = []
    for fs in (8000, 16000, 48000):
        lufs, _, _ = _integrated(
            _tone(fs, 1.5, 997.0, 0.25)[None, :], fs)
        vals.append(lufs[0])
    assert max(vals) - min(vals) < 0.1


# ---- true peak -----------------------------------------------------

def test_true_peak_tone_passthrough():
    # in-band tone: true peak == amplitude (interpolation adds nothing)
    fs = 48000
    x = _tone(fs, 0.1, 1000.0, 0.9)
    tp = loudness.true_peak_batch(x[None, :])[0]
    assert 20 * math.log10(tp / 0.9) == pytest.approx(0.0, abs=0.01)


def test_true_peak_recovers_intersample_overs():
    # the classic case: sine at fs/4 with phase pi/4 samples at 0.707
    # of its continuous peak — a sample-peak check reads -3 dB wrong,
    # the 4x-oversampled measurement recovers the true level
    fs = 48000
    t = np.arange(int(0.1 * fs)) / fs
    x = 0.9 * np.sin(2 * np.pi * (fs / 4) * t + np.pi / 4)
    sample_peak = np.abs(x).max()
    tp = loudness.true_peak_batch(x[None, :])[0]
    assert sample_peak == pytest.approx(0.9 * math.sqrt(0.5), abs=1e-6)
    assert 20 * math.log10(tp / 0.9) == pytest.approx(0.0, abs=0.1)


def test_true_peak_batch_rows_independent():
    rng = np.random.default_rng(11)
    mat = rng.uniform(-1, 1, size=(4, 3000))
    whole = loudness.true_peak_batch(mat)
    for i in range(4):
        assert whole[i] == pytest.approx(
            loudness.true_peak_batch(mat[i:i+1])[0], abs=1e-12)


# ---- loudness range (Tech 3342) ------------------------------------

def _two_level(fs, secs, f, a1, a2, quantize=True):
    t = np.arange(int(secs * fs), dtype=np.float64) / fs
    amp = np.where(t < secs / 2, a1, a2)
    x = amp * np.sin(2 * np.pi * f * t)
    if quantize:         # the operator's int16 round trip
        x = np.clip(x * 32767.0, -32768, 32767).astype(
            "<i2").astype(np.float64) / 32768.0
    return x


@pytest.mark.parametrize("delta", [15.0, 6.0])
def test_lra_two_level_tone_equals_level_difference(delta):
    # 9 s split 4.5/4.5 at 1 s hop: blocks 0-1 sit fully in the loud
    # half, 5-6 fully in the quiet half, 2-4 straddle — so p10 lands on
    # pure-quiet and p95 on pure-loud values and LRA == the level
    # difference EXACTLY (the K-gain at 997 Hz cancels in the
    # difference); quantization adds < 0.05 LU
    fs = 8000
    a1 = 0.5
    x = _two_level(fs, 9.0, 997.0, a1, a1 / 10 ** (delta / 20))
    lra, cnt = _lra(x[None, :], fs)
    assert lra[0] == pytest.approx(delta, abs=0.05)
    assert cnt[0] == 7


def test_lra_constant_tone_is_zero():
    fs = 8000
    x = _tone(fs, 9.0, 997.0, 0.3)
    lra, cnt = _lra(x[None, :], fs)
    assert lra[0] == pytest.approx(0.0, abs=1e-3)
    assert cnt[0] == 7


def test_lra_undefined_and_degenerate_cases():
    fs = 8000
    x = _tone(fs, 9.0, 997.0, 0.3)
    # shorter than one 3 s short-term block: undefined
    lra, cnt = _lra(x[None, : 2 * fs], fs)
    assert math.isnan(lra[0]) and cnt[0] == 0
    # silence: every block under the -70 LKFS absolute gate
    lra, cnt = _lra(np.zeros((1, 9 * fs)), fs)
    assert math.isnan(lra[0]) and cnt[0] == 0
    # exactly one block: a single value has zero range
    lra, cnt = _lra(x[None, : 3 * fs], fs)
    assert lra[0] == 0.0 and cnt[0] == 1


def test_lra_relative_gate_saturates_extreme_swings():
    # Tech 3342's -20 LU relative gate discards blocks far below the
    # programme energy mean, so a 25 LU bimodal swing measures well
    # UNDER 25: the quiet half gates out entirely and only loud +
    # straddling blocks remain. Faithful standard behavior — an LRA
    # ceiling above ~20 LU can only be tripped by material whose quiet
    # end stays within the gate (pinned here so nobody "fixes" it)
    fs = 8000
    x = _two_level(fs, 9.0, 997.0, 0.7, 0.7 / 10 ** 1.25)
    lra, cnt = _lra(x[None, :], fs)
    assert cnt[0] == 5                       # the 2 pure-quiet blocks gated
    assert lra[0] < 15.0


def test_lra_matches_plain_loop_reference():
    # property: the vectorized masked-percentile path == a textbook
    # per-row loop (abs gate, rel gate off the energy mean, p95-p10)
    fs = 8000
    rng = np.random.default_rng(7)
    rows = []
    for _ in range(6):
        amps = rng.uniform(0.001, 0.9, size=12)      # 12 x 1 s segments
        t = np.arange(12 * fs, dtype=np.float64) / fs
        rows.append(np.repeat(amps, fs) * np.sin(2 * np.pi * 997.0 * t))
    mat = np.asarray(rows)
    got, _ = _lra(mat, fs)
    y = loudness.k_weight(mat, fs)
    blk, hop = 3 * fs, fs
    for i in range(mat.shape[0]):
        ls = []
        for s in range(0, y.shape[1] - blk + 1, hop):
            z = float(np.mean(y[i, s:s + blk] ** 2))
            ls.append(-0.691 + 10 * math.log10(z))
        kept = [l for l in ls if l > -70.0]
        mean_z = np.mean([10 ** ((l + 0.691) / 10) for l in kept])
        gate = -0.691 + 10 * math.log10(mean_z) - 20.0
        kept = [l for l in kept if l > gate]
        want = float(np.percentile(kept, 95) - np.percentile(kept, 10))
        assert got[i] == pytest.approx(want, abs=1e-9)


# ---- Spark operator ------------------------------------------------

def _clips_df(spark, rows):
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, codec string, "
              "part_id int")


def test_loudness_stats_operator(spark):
    fs = 16000
    loud = (32767 * _tone(fs, 1.0, 997.0, 0.9)).astype("<i2")
    quiet = (32767 * _tone(fs, 1.0, 997.0, 0.002)).astype("<i2")
    rows = [
        ("loud", bytearray(audio.encode(loud, "pcm_s16le")), fs,
         "pcm_s16le", 0),
        ("quiet", bytearray(audio.encode(quiet, "ulaw")), fs, "ulaw", 0),
        ("undec", bytearray(b"\x01"), fs, "pcm_s16le", 1),   # odd length
        ("nosr", bytearray(audio.encode(loud, "pcm_s16le")), None,
         "pcm_s16le", 1),
        ("empty", bytearray(b""), fs, "pcm_s16le", 2),
    ]
    out = {r["clip_id"]: r for r in
           loudness.loudness_stats(_clips_df(spark, rows)).collect()}
    exp_loud = (-0.691 + 10 * math.log10(0.9 ** 2 / 2)
                + loudness.k_weight_gain_db(fs, 997.0))
    assert out["loud"]["lufs"] == pytest.approx(exp_loud, abs=0.05)
    # µ-law granular quantization noise at a 65-count peak adds real
    # energy (~0.3 LU measured) — the bound reflects that physics
    exp_quiet = (-0.691 + 10 * math.log10(0.002 ** 2 / 2)
                 + loudness.k_weight_gain_db(fs, 997.0))
    assert out["quiet"]["lufs"] == pytest.approx(exp_quiet, abs=0.5)
    assert out["undec"]["n_samples"] is None
    assert out["undec"]["lufs"] is None
    assert out["nosr"]["n_samples"] == loud.size   # decodable, no sr
    assert out["nosr"]["lufs"] is None and out["nosr"]["n_blocks"] is None
    assert out["empty"]["n_samples"] == 0
    assert out["empty"]["n_blocks"] == 0 and out["empty"]["lufs"] is None
    # true peak rides along: loud tone peaks at 20·log10(0.9) dBTP
    assert out["loud"]["true_peak_dbtp"] == pytest.approx(
        20 * math.log10(0.9), abs=0.05)
    assert out["undec"]["true_peak_dbtp"] is None


def test_true_peak_ceiling_catches_intersample_overs(spark):
    # the rule's reason to exist: every stored sample of this clip is
    # 3 dB under the -1 dBTP ceiling, yet the reconstructed waveform
    # breaches it — a sample-peak check passes, x-loudness flags it
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.loudness import loudness_violations
    fs = 48000
    t = np.arange(fs) / fs
    over = (32767 * 0.98 * np.sin(2 * np.pi * (fs / 4) * t
                                  + np.pi / 4)).astype("<i2")
    safe = (32767 * 0.5 * np.sin(2 * np.pi * 1000.0 * t)).astype("<i2")
    assert np.abs(over).max() / 32767 < 0.71       # samples look quiet
    rows = [
        ("over", bytearray(audio.encode(over, "pcm_s16le")), fs,
         "pcm_s16le", 0),
        ("safe", bytearray(audio.encode(safe, "pcm_s16le")), fs,
         "pcm_s16le", 0),
    ]
    clips = _clips_df(spark, rows)
    suite = compile_spec({"type": "object", "properties": {"bytes": {
        "x-loudness": {"max_true_peak_dbtp": -1.0}}}}, clips.schema)
    [lc] = suite.loudness_checks
    got = loudness_violations(clips, lc).collect()
    assert [r["clip_id"] for r in got] == ["over"]
    assert "dBTP > -1.0" in got[0]["message"]


def test_lra_ceiling_flags_level_swings(spark):
    # a clip at a sane AVERAGE level but swinging 15 LU within itself
    # breaches max_lra_lu; the constant-level clip at the same
    # integrated loudness passes — the case no scalar-mean bound sees
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.loudness import loudness_violations
    fs = 8000
    swing = (32767 * _two_level(fs, 9.0, 997.0, 0.5, 0.5 / 10 ** 0.75,
                                quantize=False)).astype("<i2")
    flat = (32767 * _tone(fs, 9.0, 997.0, 0.3)).astype("<i2")
    short = (32767 * _tone(fs, 2.0, 997.0, 0.3)).astype("<i2")
    rows = [
        ("swing", bytearray(audio.encode(swing, "pcm_s16le")), fs,
         "pcm_s16le", 0),
        ("flat", bytearray(audio.encode(flat, "pcm_s16le")), fs,
         "pcm_s16le", 0),
        # LRA undefined (< one 3 s block): a ceiling must NOT fire
        ("short", bytearray(audio.encode(short, "pcm_s16le")), fs,
         "pcm_s16le", 1),
    ]
    clips = _clips_df(spark, rows)
    suite = compile_spec({"type": "object", "properties": {"bytes": {
        "x-loudness": {"max_lra_lu": 8.0}}}}, clips.schema)
    [lc] = suite.loudness_checks
    assert lc.max_lra_lu == 8.0
    got = loudness_violations(clips, lc).collect()
    assert [r["clip_id"] for r in got] == ["swing"]
    assert "loudness range 15.0 LU > 8.0" in got[0]["message"]


def test_loudness_stats_carries_lra(spark):
    fs = 8000
    swing = (32767 * _two_level(fs, 9.0, 997.0, 0.5, 0.5 / 10 ** 0.3,
                                quantize=False)).astype("<i2")
    rows = [("s", bytearray(audio.encode(swing, "pcm_s16le")), fs,
             "pcm_s16le", 0)]
    out = loudness.loudness_stats(_clips_df(spark, rows)).collect()
    assert out[0]["lra_lu"] == pytest.approx(6.0, abs=0.05)


def test_x_loudness_rule_through_job(spark):
    from canned_yaml_spark import job
    from canned_yaml_spark.compile import compile_spec
    fs = 16000
    mk = lambda amp: bytearray(
        audio.encode((32767 * _tone(fs, 1.0, 997.0, amp)).astype("<i2"),
                     "pcm_s16le"))
    rows = [
        ("ok", mk(0.08), fs, "pcm_s16le", 0),       # ≈ -25.6 LUFS
        ("hot", mk(0.9), fs, "pcm_s16le", 0),       # ≈ -4.6 > -10
        ("cold", mk(0.002), fs, "pcm_s16le", 1),    # ≈ -57 < -40
        ("dead", bytearray(audio.encode(
            np.zeros(fs, dtype=np.int16), "pcm_s16le")), fs,
         "pcm_s16le", 1),                           # undefined -> floor
        ("alien", mk(0.9), fs, "weird_codec", 2),   # unknown codec: skip
    ]
    clips = _clips_df(spark, rows)
    suite = compile_spec({"type": "object", "properties": {"bytes": {
        "x-loudness": {"min_lufs": -40, "max_lufs": -10,
                       "severity": "ERROR"}}}}, clips.schema)
    [lc] = suite.loudness_checks
    assert lc.rule_id == "x-loudness.bytes" and lc.sr_col == "sr_hz"
    got = {(r["clip_id"], r["message"].split(" LUFS")[0].rsplit(" ", 1)[0])
           for r in job.all_violations(clips, suite).collect()}
    ids = {c for c, _ in got}
    assert ids == {"hot", "cold", "dead"}
    msgs = {c: m for c, m in got}
    assert "integrated loudness" in msgs["hot"]


def test_x_loudness_spec_errors():
    from canned_yaml_spark.compile import compile_spec
    base = {"type": "object", "properties": {"bytes": {"x-loudness": None}}}

    def expect(xl, frag):
        base["properties"]["bytes"]["x-loudness"] = xl
        with pytest.raises(SpecError) as e:
            compile_spec(base)
        assert frag in str(e.value)
        assert "x-loudness" in str(e.value)     # located

    expect([], "must be a map")
    expect({}, "checks nothing")
    expect({"min_lufs": "loud"}, "must be a number")
    expect({"max_lra_lu": "wide"}, "must be a number")
    expect({"min_lufs": -10, "max_lufs": -20}, "min_lufs -10.0 > max_lufs")

"""ITU-R BS.1770-4 integrated loudness (LUFS) as a validation operator.

The reference engine bounds scalar columns (ranges/enums,
canner.cc:564-605); ``x-loudness`` is the payload-derived analogue a
speech/TTS training pipeline actually gates on: the bound is on a
MEASURED property of the audio bytes — gated integrated loudness per
BS.1770 — not on a stored metadata column. Too-quiet clips are
un-transcribable dead air; too-loud ones are clipped or level-war
material; corpora are loudness-normalized before training, so the
validator must speak the same unit the normalizer uses (LUFS), not
plain RMS dBFS (which audio_stats already covers — RMS counts
silence and hum, LUFS gates them out and frequency-weights what
remains).

Everything here is public knowledge: ITU-R BS.1770-4 defines the
K-weighting cascade (its 48 kHz coefficient table), the 400 ms / 75 %
overlap gating blocks, the -70 LKFS absolute gate, the -10 LU
relative gate and the -0.691 calibration offset; the parametric
filter design that reproduces the standard's table at 48 kHz and
generalizes it to any sample rate (prototype f0/G/Q constants +
bilinear transform) is published in B. De Man, "Evaluation of
implementations of the ITU-R BS.1770 loudness algorithm" (2018) and
its MIT-licensed companion code / pyloudnorm. tests/test_loudness.py
pins our design against the standard's published 48 kHz table to
1e-12.

No scipy in this sandbox, and a per-sample Python IIR loop is exactly
the anti-pattern this engine bans from hot paths — so the biquads are
applied EXACTLY, fully vectorized: a biquad's zero-state response is
``conv(x, h)`` where ``h`` is its impulse response, and for a
second-order section ``h`` has a CLOSED FORM (geometric pole
expansion — for complex-conjugate poles ``r·e^{±jθ}``,
``g[m] = r^m · sin((m+1)θ)/sin(θ)``). The kernel is truncated where
the tail bound ``(m+1)·r^m`` drops below 1e-13 — both K-weighting
stages have pole radius < 1, so that is a few thousand taps
independent of clip length — and applied with one batched rFFT per
equal-length clip group (the same matrix discipline as
audio.batch_stats). tests/test_loudness.py asserts this path agrees
with a plain per-sample recursion to < 1e-9 at int16 scale.
"""

from __future__ import annotations

import logging
import math
from functools import lru_cache
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.audio import _MAGIC, decode

_LOG = logging.getLogger("canned_yaml_spark.loudness")

# BS.1770 gating constants (§ "gating of the measurement").
BLOCK_S = 0.400           # gating block length
HOP_S = 0.100             # 75 % overlap -> 100 ms hop
ABS_GATE_LKFS = -70.0     # absolute threshold
REL_GATE_LU = -10.0       # relative threshold below ungated-mean loudness
_OFFSET = -0.691          # the standard's calibration constant

# K-weighting prototype (De Man 2018; reproduces the BS.1770-4 48 kHz
# table bit-for-bit — pinned in tests).
_SHELF_G = 3.999843853973347      # dB
_SHELF_F0 = 1681.974450955533     # Hz
_SHELF_Q = 0.7071752369554196
_SHELF_VB_EXP = 0.4996667741545416
_HP_F0 = 38.13547087602444        # Hz
_HP_Q = 0.5003270373238773


def k_weighting_coeffs(fs: int):
    """The two K-weighting biquads for sample rate ``fs``:
    ((b_shelf, a_shelf), (b_hp, a_hp)), each a 3-tuple with a[0]=1."""
    if fs <= 0:
        raise ValueError(f"sample rate must be positive, got {fs}")
    k = math.tan(math.pi * _SHELF_F0 / fs)
    vh = 10.0 ** (_SHELF_G / 20.0)
    vb = vh ** _SHELF_VB_EXP
    a0 = 1.0 + k / _SHELF_Q + k * k
    shelf = (
        ((vh + vb * k / _SHELF_Q + k * k) / a0,
         2.0 * (k * k - vh) / a0,
         (vh - vb * k / _SHELF_Q + k * k) / a0),
        (1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _SHELF_Q + k * k) / a0),
    )
    k = math.tan(math.pi * _HP_F0 / fs)
    a0 = 1.0 + k / _HP_Q + k * k
    hp = (
        (1.0, -2.0, 1.0),
        (1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _HP_Q + k * k) / a0),
    )
    return shelf, hp


def _ar_impulse(a1: float, a2: float, n: int) -> np.ndarray:
    """Closed-form impulse response of the recursive part
    y[m] = δ[m] − a1·y[m−1] − a2·y[m−2] (length n, float64)."""
    m = np.arange(n, dtype=np.float64)
    disc = a1 * a1 - 4.0 * a2
    if disc < -1e-12:                       # complex-conjugate poles
        r = math.sqrt(a2)
        th = math.acos(max(-1.0, min(1.0, -a1 / (2.0 * r))))
        return r ** m * (np.sin((m + 1.0) * th) / math.sin(th))
    if disc > 1e-12:                        # real distinct poles
        s = math.sqrt(disc)
        p1, p2 = (-a1 + s) / 2.0, (-a1 - s) / 2.0
        return (p1 ** (m + 1.0) - p2 ** (m + 1.0)) / (p1 - p2)
    p = -a1 / 2.0                           # (near-)repeated pole
    return (m + 1.0) * p ** m


def _pole_radius(a1: float, a2: float) -> float:
    disc = a1 * a1 - 4.0 * a2
    if disc <= 0.0:
        return math.sqrt(a2)
    s = math.sqrt(disc)
    return max(abs(-a1 + s), abs(-a1 - s)) / 2.0


def _tail_len(r: float, tol: float = 1e-13) -> int:
    """Smallest m with (m+1)·r^m < tol — the envelope bound on every
    closed form above, so truncating the kernel there caps the filter
    error at ~tol per tap, below float64 FFT roundoff."""
    if r <= 0.0:
        return 4
    if r >= 1.0:
        raise ValueError(f"unstable filter: pole radius {r} >= 1")
    m = 64
    while (m + 1.0) * r ** m >= tol:
        m *= 2
    return m


def _biquad_impulse(b, a, n: int) -> np.ndarray:
    g = _ar_impulse(a[1], a[2], n)
    h = b[0] * g
    h[1:] += b[1] * g[:-1]
    h[2:] += b[2] * g[:-2]
    return h


@lru_cache(maxsize=64)
def _k_kernel(fs: int) -> np.ndarray:
    """Truncated impulse response of the full K-weighting cascade at
    sample rate ``fs``. Length depends only on the pole radii (a few
    thousand taps), never on clip length."""
    shelf, hp = k_weighting_coeffs(fs)
    L = max(_tail_len(_pole_radius(shelf[1][1], shelf[1][2])),
            _tail_len(_pole_radius(hp[1][1], hp[1][2]))) + 4
    h1 = _biquad_impulse(shelf[0], shelf[1], L)
    h2 = _biquad_impulse(hp[0], hp[1], L)
    m = 1 << (2 * L - 2).bit_length()
    h = np.fft.irfft(np.fft.rfft(h1, m) * np.fft.rfft(h2, m), m)[:L]
    return h


def k_weight(x_mat: np.ndarray, fs: int) -> np.ndarray:
    """Zero-state K-weighting of a batch matrix (rows = equal-length
    clips, float64 full scale ±1). One batched rFFT convolution."""
    n = x_mat.shape[1]
    # y[:n] depends only on h[:n]: later kernel taps feed later outputs
    h = _k_kernel(fs)[:n]
    m = 1 << max(1, (n + h.size - 2)).bit_length()
    y = np.fft.irfft(np.fft.rfft(x_mat, m, axis=1) * np.fft.rfft(h, m),
                     m, axis=1)
    return y[:, :n]


def k_weight_gain_db(fs: int, f_hz: float) -> float:
    """Analytic |H(f)|² of the cascade in dB — the tests' independent
    expectation for pure tones (no filtering involved)."""
    w = 2.0 * math.pi * f_hz / fs
    g = 1.0 + 0.0j
    e1 = complex(math.cos(w), -math.sin(w))
    e2 = e1 * e1
    for b, a in k_weighting_coeffs(fs):
        g *= (b[0] + b[1] * e1 + b[2] * e2) / (a[0] + a[1] * e1 + a[2] * e2)
    return 20.0 * math.log10(abs(g))


def _block_z(y: np.ndarray, fs: int, blk_s: float, hop_s: float):
    """Mean-square energy per gating block (rows × n_blocks) of an
    already-K-weighted batch, via one cumsum — or None if the clips
    are shorter than one block."""
    blk = int(round(blk_s * fs))
    hop = int(round(hop_s * fs))
    n = y.shape[1]
    if n < blk:
        return None
    nb = (n - blk) // hop + 1
    c = np.zeros((y.shape[0], n + 1), dtype=np.float64)
    np.cumsum(y * y, axis=1, out=c[:, 1:])
    starts = np.arange(nb) * hop
    return (c[:, starts + blk] - c[:, starts]) / blk


def _rel_gated(z: np.ndarray, rel_gate_lu: float):
    """Apply the absolute (-70 LKFS) then relative (``rel_gate_lu``
    below the abs-gated energy mean) gates to a block-energy matrix.
    Returns (l_blk, m_rel): per-block loudness and the surviving
    mask."""
    rows = z.shape[0]
    with np.errstate(divide="ignore"):
        l_blk = _OFFSET + 10.0 * np.log10(z)
    m_abs = l_blk > ABS_GATE_LKFS
    cnt_abs = m_abs.sum(axis=1)
    sum_abs = np.where(m_abs, z, 0.0).sum(axis=1)
    mean_abs = np.divide(sum_abs, cnt_abs,
                         out=np.full(rows, np.nan), where=cnt_abs > 0)
    with np.errstate(invalid="ignore"):
        gamma = _OFFSET + 10.0 * np.log10(mean_abs) + rel_gate_lu
        m_rel = m_abs & (l_blk > gamma[:, None])    # NaN gamma -> all False
    return l_blk, m_rel


def _integrated_from_weighted(y: np.ndarray, fs: int):
    """BS.1770-4 gated integrated loudness per row of the K-weighted
    matrix y: (lufs, n_blocks, n_gated). lufs is NaN when undefined:
    the clip is shorter than one 400 ms gating block, or every block
    fell below the -70 LKFS absolute gate (silence)."""
    rows = y.shape[0]
    z = _block_z(y, fs, BLOCK_S, HOP_S)
    if z is None:
        return (np.full(rows, np.nan), np.zeros(rows, np.int64),
                np.zeros(rows, np.int64))
    _, m_rel = _rel_gated(z, REL_GATE_LU)
    cnt = m_rel.sum(axis=1)
    mean_z = np.divide(np.where(m_rel, z, 0.0).sum(axis=1), cnt,
                       out=np.full(rows, np.nan), where=cnt > 0)
    with np.errstate(invalid="ignore"):
        lufs = _OFFSET + 10.0 * np.log10(mean_z)
    return (lufs, np.full(rows, z.shape[1], np.int64),
            cnt.astype(np.int64))


# ---- loudness range (EBU R 128 / Tech 3342) -------------------------
#
# LRA bounds the DISTRIBUTION of short-term loudness, not its mean: a
# clip that whispers for half its length and shouts for the rest can
# sit exactly at an integrated-loudness target and still be unusable
# for training. Everything here is the published EBU algorithm:
# short-term loudness over 3 s blocks (hop 1 s — ≥ 2/3 overlap), the
# same -70 LKFS absolute gate as integrated loudness, a -20 LU (not
# -10) relative gate below the abs-gated energy mean, and
# LRA = p95 − p10 of the surviving short-term values (linear
# interpolation). Undefined (NaN) when the clip is shorter than one
# 3 s block or every block gates out; a single surviving block gives
# LRA = 0 by construction.

ST_BLOCK_S = 3.0          # short-term window
ST_HOP_S = 1.0            # 2/3 overlap
LRA_REL_GATE_LU = -20.0   # Tech 3342 relative threshold


def _lra_from_weighted(y: np.ndarray, fs: int):
    """EBU Tech 3342 loudness range per row of the K-weighted matrix
    y: (lra_lu, n_gated_st_blocks)."""
    rows = y.shape[0]
    z = _block_z(y, fs, ST_BLOCK_S, ST_HOP_S)
    if z is None:
        return np.full(rows, np.nan), np.zeros(rows, np.int64)
    l_blk, m_rel = _rel_gated(z, LRA_REL_GATE_LU)
    cnt = m_rel.sum(axis=1)
    l_gated = np.where(m_rel, l_blk, np.nan)
    lra = np.full(rows, np.nan)
    any_rows = cnt > 0
    if any_rows.any():
        p = np.nanpercentile(l_gated[any_rows], [10.0, 95.0], axis=1)
        lra[any_rows] = p[1] - p[0]
    return lra, cnt.astype(np.int64)


# ---- true peak (BS.1770-4 Annex 2: 4x oversampled peak) ------------
#
# A sample-peak check misses inter-sample overs: a sine at fs/4 with
# phase pi/4 samples at 0.707 of its continuous peak, so a clip can
# clip the DAC while every stored sample sits 3 dB under full scale.
# The standard measures peak on a 4x-oversampled signal. Interpolator:
# 4x zero-stuff + windowed-sinc low-pass (Kaiser beta 8.6, 16 taps per
# phase), applied polyphase — one shared forward rFFT per batch, four
# small per-phase kernels. Measured accuracy (pinned in tests): tone
# passthrough 0.002 dB, worst-case fs/4 inter-sample peak recovered
# within 0.06 dB.

_TP_PHASES = 4
_TP_TAPS = 16          # per phase


@lru_cache(maxsize=1)
def _tp_kernel() -> np.ndarray:
    L = _TP_PHASES * _TP_TAPS
    m = np.arange(L, dtype=np.float64)
    c = (L - 1) / 2.0
    return np.sinc((m - c) / _TP_PHASES) * np.kaiser(L, 8.6)


def true_peak_batch(x_mat: np.ndarray) -> np.ndarray:
    """Linear true peak (4x oversampled |max|) per row of a batch
    matrix (float64, full scale ±1)."""
    n = x_mat.shape[1]
    h = _tp_kernel()
    tp = np.abs(x_mat).max(axis=1)          # raw samples participate
    m = 1 << max(1, (n + _TP_TAPS - 2)).bit_length()
    xf = np.fft.rfft(x_mat, m, axis=1)
    for p in range(_TP_PHASES):
        hp = h[p::_TP_PHASES]
        y = np.fft.irfft(xf * np.fft.rfft(hp, m), m, axis=1)
        np.maximum(tp, np.abs(y[:, : n + hp.size - 1]).max(axis=1), out=tp)
    return tp


_LOUD_SCHEMA = ("clip_id string, part_id int, n_samples long, "
                "n_blocks long, n_gated_blocks long, lufs double, "
                "true_peak_dbtp double, lra_lu double")

#: per-chunk input budget for the batched filter pipeline (the padded
#: FFT working set is ~8-16x this; 16 MB keeps a task under ~256 MB)
_CHUNK_BYTES = 16 << 20


def loudness_stats(clips: DataFrame,
                   byte_col: str = "bytes", codec_col: str = "codec",
                   sr_col: str = "sr_hz", id_col: str = "clip_id",
                   part_col: str = "part_id",
                   decoder=None) -> DataFrame:
    """Per-clip BS.1770-4 integrated loudness + Annex-2 true peak:
    decode, K-weight, gate; 4x-oversampled peak alongside.

    The loudness analogue of payload.audio_stats, and the same plan
    shape: scan → ONE mapInPandas pass → done. No reference table, no
    join, embarrassingly parallel at any scale; inside each Arrow
    batch clips group by (length, sample rate) and the whole
    filter+gate pipeline runs as matrix numpy (the K-weighting kernel
    is cached per sample rate).

    Semantics: undecodable payloads surface as n_samples NULL (not
    dropped); rows with a NULL/non-positive sample rate keep NULL
    loudness columns (nothing to design a filter for); clips shorter
    than one 400 ms gating block, and all-silence clips (every block
    below the -70 LKFS absolute gate), have UNDEFINED integrated
    loudness — lufs NULL with n_blocks/n_gated_blocks recorded so
    callers can tell the three cases apart.
    """
    dec_fn = decoder or decode
    src = clips.select(
        F.col(id_col).alias("clip_id"),
        F.col(part_col).alias("part_id"),
        F.col(byte_col).alias("_bytes"),
        F.col(codec_col).alias("_codec"),
        F.col(sr_col).cast("int").alias("_sr"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = pdf["_bytes"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            # NULL srs arrive as NaN through Arrow; (nan > 0) is False
            srs = pdf["_sr"].astype("float64").to_numpy()
            ns = np.full(n, -1, dtype=np.int64)       # -1 = undecodable
            nb = np.full(n, -1, dtype=np.int64)       # -1 = no sr / undec
            ng = np.full(n, -1, dtype=np.int64)
            lufs = np.full(n, np.nan)
            tp = np.full(n, np.nan)
            lra = np.full(n, np.nan)
            groups: dict[tuple[int, int], list[int]] = {}
            for i in range(n):
                if payloads[i] is None:
                    continue
                d = dec_fn(payloads[i], codecs[i])
                if d is None:
                    continue
                ns[i] = d.size
                if not srs[i] > 0:                     # NaN or <= 0
                    continue
                payloads[i] = d                        # keep decoded pcm
                groups.setdefault((d.size, int(srs[i])), []).append(i)
            for (size, sr), idx in groups.items():
                if size == 0:
                    for i in idx:
                        nb[i] = 0
                        ng[i] = 0
                    continue
                # chunk the length group so the working set stays
                # bounded: the pipeline holds ~6 float64/complex128
                # matrices of the FFT-padded width at once, and an
                # unchunked 8k-row batch of 72k-sample clips peaks at
                # multiple GB PER TASK (x32 tasks = the 54 s lra_rule
                # pathology, guide §4.2/§5). Row-independent math →
                # chunking is bit-identical.
                step = max(1, _CHUNK_BYTES // (8 * size))
                for lo in range(0, len(idx), step):
                    part = idx[lo:lo + step]
                    mat = np.empty((len(part), size), dtype=np.float64)
                    for j, i in enumerate(part):
                        mat[j] = payloads[i]
                    mat /= 32768.0
                    y = k_weight(mat, sr)          # weighted ONCE, reused
                    lf, b, g = _integrated_from_weighted(y, sr)
                    lr, _ = _lra_from_weighted(y, sr)
                    ix = np.asarray(part)
                    lufs[ix] = lf
                    nb[ix] = b
                    ng[ix] = g
                    lra[ix] = lr
                    with np.errstate(divide="ignore"):
                        tp[ix] = 20.0 * np.log10(true_peak_batch(mat))
            yield pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "part_id": pdf["part_id"].astype("int32"),
                "n_samples": pd.array(
                    [None if v < 0 else int(v) for v in ns], dtype="Int64"),
                "n_blocks": pd.array(
                    [None if v < 0 else int(v) for v in nb], dtype="Int64"),
                "n_gated_blocks": pd.array(
                    [None if v < 0 else int(v) for v in ng], dtype="Int64"),
                "lufs": [None if math.isnan(v) else float(v) for v in lufs],
                # all-zero clips: -inf dBTP -> NULL (no peak to speak of)
                "true_peak_dbtp": [None if math.isnan(v) or math.isinf(v)
                                   else float(v) for v in tp],
                # NULL when undefined: clip < one 3 s short-term block,
                # or every block gated out
                "lra_lu": [None if math.isnan(v) else float(v)
                           for v in lra],
            })

    return src.mapInPandas(run, _LOUD_SCHEMA)


def loudness_violations(clips: DataFrame, check,
                        id_col: str = "clip_id",
                        part_col: str = "part_id") -> DataFrame:
    """Violation rows for clips breaching an x-loudness bound.

    Same contract family as payload.audio_stats_violations: unknown
    codecs skip (the enum/referential checks own those); undecodable
    payloads of KNOWN codecs violate; a clip with UNDEFINED integrated
    loudness (shorter than one gating block, or gated to silence)
    counts as below any min_lufs floor — dead air is exactly what a
    loudness floor exists to reject. Bounds are strict (> max, < min).
    Plan: scan → one Arrow pass → filter; exchange-free at any scale.
    """
    rule_id = check.rule_id
    severity = int(check.severity)
    src = clips.filter(F.col("codec").isin(*sorted(_MAGIC)))
    s = loudness_stats(src, byte_col=check.column, sr_col=check.sr_col,
                       id_col=id_col, part_col=part_col)
    msgs = [F.when(F.col("n_samples").isNull(),
                   F.lit("payload undecodable for loudness"))]
    if check.min_lufs is not None:
        msgs.append(F.when(
            F.col("n_samples").isNotNull()
            & (F.col("lufs").isNull()        # undefined: silence / too short
               | (F.col("lufs") < float(check.min_lufs))),
            F.concat(F.lit("integrated loudness "),
                     F.coalesce(F.round("lufs", 1).cast("string"),
                                F.lit("undefined")),
                     F.lit(f" LUFS < {check.min_lufs}"))))
    if check.max_lufs is not None:
        msgs.append(F.when(
            F.col("lufs") > float(check.max_lufs),
            F.concat(F.lit("integrated loudness "),
                     F.round("lufs", 1).cast("string"),
                     F.lit(f" LUFS > {check.max_lufs}"))))
    if check.max_true_peak_dbtp is not None:
        msgs.append(F.when(
            F.col("true_peak_dbtp") > float(check.max_true_peak_dbtp),
            F.concat(F.lit("true peak "),
                     F.round("true_peak_dbtp", 2).cast("string"),
                     F.lit(f" dBTP > {check.max_true_peak_dbtp}"))))
    if check.max_lra_lu is not None:
        # NULL (undefined: clip < 3 s or gated to nothing) never
        # violates a RANGE ceiling — unlike min_lufs, where undefined
        # means dead air and is the thing the floor exists to reject
        msgs.append(F.when(
            F.col("lra_lu") > float(check.max_lra_lu),
            F.concat(F.lit("loudness range "),
                     F.round("lra_lu", 1).cast("string"),
                     F.lit(f" LU > {check.max_lra_lu}"))))
    exploded = s.select(
        "clip_id", "part_id",
        F.explode(F.array_compact(F.array(*msgs))).alias("message"))
    return exploded.select(
        "clip_id", "part_id",
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        "message")

"""Acoustic fingerprinting + near-duplicate audio detection.

The text/embedding near-dup family (dedup.py) covers transcripts and
vectors; this module covers the AUDIO PAYLOAD itself: find clips that
are the same recording under a different encoding (lossy re-encode,
container change, level-preserving transcode) without ever comparing
raw bytes.

Scheme: Haitsma & Kalker's robust hash (ISMIR 2002) re-expressed
Spark-first. Per clip, one Arrow pass computes a sequence of 32-bit
sub-fingerprints — the sign of the band-energy difference along both
frequency and time:

    bit[t, m] = (E[t, m] − E[t, m+1]) − (E[t−1, m] − E[t−1, m+1]) > 0

over 33 log-spaced spectral bands of overlapping FFT frames. The signs
survive quantization/level changes (energies move, their ordering
mostly doesn't), so a lossy re-encode differs in a few % of bits.

Distributed shape (the part that must hold at 100 TB):
- fingerprinting is embarrassingly parallel: scan → ONE mapInPandas →
  (clip_id, array<long>); the FFT is ONE batched np.fft.rfft per
  equal-length group, not per clip.
- candidate generation is the SAME banded plan as MinHash-LSH
  (dedup.near_dup_pairs): posexplode sub-fingerprints → self-join on
  (frame_idx, subfp) — a frame-aligned exact 32-bit match. At a few %
  bit-error rate the chance that NO frame of a true dup matches
  exactly is (1−0.97³²)^frames ≈ 0 for ≥10 frames, while unrelated
  clips collide on a full 32-bit word at random ≈ 2⁻³². One shuffle,
  keyed on (frame_idx, subfp); hot buckets (e.g. digital silence) are
  capped on the join's own partitioning like dedup.near_dup_pairs.
- verification is pure JVM codegen: bit-error rate via
  zip_with + bit_count + aggregate over the two long arrays — no
  second Python crossing, no byte movement.

No oracle SQL is possible (DuckDB has no FFT) — the driver gate is
rows-only; correctness is pytest-pinned against injected ground truth
(recall AND precision = 1.0 on the chirp corpus, robustness across
every lossy codec in the registry).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.audio import decode

FP_FRAME = 256     #: samples per FFT frame
FP_HOP = 128       #: hop between frames (50% overlap)
FP_BANDS = 33      #: log-spaced energy bands → 32 sign bits per frame

#: fingerprint output schema — fp NULL = undecodable, [] = too short
_FP_SCHEMA = "clip_id string, fp array<bigint>"


def _band_matrix(frame: int, bands: int) -> np.ndarray:
    """(n_bins, bands) 0/1 pooling matrix with log-spaced band edges
    over FFT bins [1, frame/2] (bin 0 = DC is excluded: it carries
    offset, not pitch). Edges are forced strictly increasing so every
    band owns ≥1 bin."""
    n_bins = frame // 2 + 1
    edges = np.geomspace(1, n_bins - 1, bands + 1)
    e = np.round(edges).astype(np.int64)
    for i in range(1, len(e)):
        if e[i] <= e[i - 1]:
            e[i] = e[i - 1] + 1
    if e[-1] > n_bins:
        raise ValueError(f"frame {frame} too small for {bands} bands")
    B = np.zeros((n_bins, bands))
    for b in range(bands):
        B[e[b]:e[b + 1], b] = 1.0
    return B


def _batch_fingerprints(decs: list, frame: int, hop: int,
                        bands: int) -> list:
    """Sub-fingerprint sequences for a batch of decoded PCM arrays,
    vectorized like audio.batch_stats: equal-length clips stack into
    ONE (n_clips, n_samples) matrix per length group, frames come from
    a zero-copy sliding_window_view, and the FFT/pooling/sign math is
    one 3-D pipeline per group. Returns per-clip int64 lists (None for
    failed decodes, [] for clips shorter than two frames)."""
    n = len(decs)
    out: list = [None] * n
    # f32 window: halves the traffic of the largest temporary (the
    # windowed frames, 2·frame/hop floats per input sample) on a
    # memory-bandwidth-limited host (BENCH/MEMBW.md). numpy's pocketfft
    # still upcasts to f64 internally (no scipy in this sandbox —
    # dated probe in ROADMAP.md), so the transform itself is exact
    # f64 either way; 24-bit mantissas carry the 16-bit samples of a
    # 256-point frame without meaningful loss in the windowed product.
    window = (0.5 - 0.5 * np.cos(
        2.0 * np.pi * np.arange(frame) / (frame - 1))).astype(np.float32)
    B = _band_matrix(frame, bands)
    pow2 = (1 << np.arange(bands - 1, dtype=np.int64))

    groups: dict[int, list[int]] = {}
    for i, d in enumerate(decs):
        if d is None:
            continue
        if d.size < frame + hop:                 # < 2 frames: no bits
            out[i] = []
            continue
        groups.setdefault(d.size, []).append(i)
    for size, idx in groups.items():
        # chunk so the float64 frame/FFT temporaries stay ~100 MB per
        # task no matter how large the Arrow batch is (the windowed
        # frames alone are 2·8 B per input sample; an unchunked 10k-row
        # batch of 4k-sample clips would materialize >600 MB per core)
        step = max(1, 2_000_000 // size)
        for lo in range(0, len(idx), step):
            idx_c = idx[lo:lo + step]
            m = np.empty((len(idx_c), size), dtype=np.int16)
            for j, i in enumerate(idx_c):
                m[j] = decs[i]
            frames = np.lib.stride_tricks.sliding_window_view(
                m, frame, axis=1)[:, ::hop, :]   # (c, t, frame) view
            r = np.fft.rfft(frames * window, axis=2)
            spec = r.real ** 2 + r.imag ** 2     # no |.| sqrt round-trip
            E = spec @ B                         # (c, t, bands)
            d_freq = E[:, :, :-1] - E[:, :, 1:]  # (c, t, bands-1)
            bits = (d_freq[:, 1:, :] - d_freq[:, :-1, :]) > 0
            subfp = bits @ pow2                  # (c, t-1) int64
            for j, i in enumerate(idx_c):
                out[i] = subfp[j].tolist()
    return out


def fingerprint(clips: DataFrame,
                byte_col: str = "bytes", codec_col: str = "codec",
                id_col: str = "clip_id",
                frame: int = FP_FRAME, hop: int = FP_HOP,
                bands: int = FP_BANDS, decoder=None) -> DataFrame:
    """(clip_id, fp): the clip's acoustic fingerprint as an array of
    32-bit sub-fingerprints (one per frame transition), computed in a
    single Arrow pass. fp is NULL for undecodable payloads and [] for
    clips too short to frame. decoder as in payload.audio_stats."""
    dec_fn = decoder or decode
    src = clips.select(F.col(id_col).alias("clip_id"),
                       F.col(byte_col).alias("_bytes"),
                       F.col(codec_col).alias("_codec"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["_bytes"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            decs = [dec_fn(payloads[i], codecs[i])
                    if payloads[i] is not None else None
                    for i in range(len(pdf))]
            yield pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "fp": _batch_fingerprints(decs, frame, hop, bands)})

    return src.mapInPandas(run, _FP_SCHEMA)


def _ber(fp_a, fp_b) -> F.Column:
    """Bit-error rate between two sub-fingerprint arrays over their
    aligned prefix — pure codegen (zip_with + bit_count + aggregate),
    no Python. NULL when either side is empty."""
    mn = F.least(F.size(fp_a), F.size(fp_b))
    xor_bits = F.aggregate(
        F.zip_with(F.slice(fp_a, F.lit(1), mn),
                   F.slice(fp_b, F.lit(1), mn),
                   lambda x, y: F.bit_count(x.bitwiseXOR(y))
                                 .cast("long")),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return F.when(mn > 0, xor_bits / (32.0 * mn))


def near_dup_audio(clips: DataFrame,
                   ber_threshold: float = 0.15,
                   min_overlap: float = 0.8,
                   max_bucket: int = 1024,
                   byte_col: str = "bytes", codec_col: str = "codec",
                   id_col: str = "clip_id", decoder=None,
                   frame: int = FP_FRAME, hop: int = FP_HOP) -> DataFrame:
    """Near-duplicate AUDIO pairs (clip_a, clip_b, ber): same recording
    under different encodings. Exact w.r.t. its stated match rule —
    a pair is reported iff (a) at least one frame-aligned 32-bit
    sub-fingerprint matches exactly (the LSH probe), (b) the aligned
    bit-error rate is ≤ ber_threshold, and (c) the shorter fingerprint
    covers ≥ min_overlap of the longer (rules out prefix collisions).

    Plan: one Arrow fingerprint pass → posexplode → one shuffle keyed
    on (frame_idx, subfp) with a bucket cap on the join's own
    partitioning → JVM-only BER verify on the candidate ids. The
    fingerprint table (few hundred bytes per clip) is what shuffles —
    never payload bytes.
    """
    from pyspark.sql import Window
    fps = fingerprint(clips, byte_col=byte_col, codec_col=codec_col,
                      id_col=id_col, decoder=decoder,
                      frame=frame, hop=hop)
    # fp is carried THROUGH the band join (same choice as
    # dedup.near_dup_pairs carrying minhash signatures): the verify
    # stage then needs no joins back to the fingerprint table, so the
    # whole operator is ONE Arrow pass + one (frame_idx, subfp)-keyed
    # shuffle, and what shuffles is frames × fingerprint longs per
    # clip — never payload bytes.
    probes = (fps.filter(F.col("fp").isNotNull())
                 .select("clip_id", "fp",
                         F.posexplode("fp").alias("frame_idx", "subfp")))
    w = Window.partitionBy("frame_idx", "subfp")
    kept = (probes.withColumn("_bsz", F.count(F.lit(1)).over(w))
                  .filter(F.col("_bsz") <= max_bucket))
    a, b = kept.alias("a"), kept.alias("b")
    cand = (a.join(b, (F.col("a.frame_idx") == F.col("b.frame_idx"))
                   & (F.col("a.subfp") == F.col("b.subfp"))
                   & (F.col("a.clip_id") < F.col("b.clip_id")))
             .select(F.col("a.clip_id").alias("clip_a"),
                     F.col("b.clip_id").alias("clip_b"),
                     F.col("a.fp").alias("fp_a"),
                     F.col("b.fp").alias("fp_b"))
             .dropDuplicates(["clip_a", "clip_b"]))
    scored = (cand
              .withColumn("_ov", F.least(F.size("fp_a"), F.size("fp_b"))
                          / F.greatest(F.size("fp_a"), F.size("fp_b")))
              .withColumn("ber", _ber(F.col("fp_a"), F.col("fp_b"))))
    return (scored.filter((F.col("_ov") >= min_overlap)
                          & (F.col("ber") <= ber_threshold))
                  .select("clip_a", "clip_b", F.round("ber", 4).alias("ber")))


#: spectral_stats output schema
_SPEC_SCHEMA = ("clip_id string, n_frames int, centroid_hz double, "
                "bandwidth_hz double, rolloff95_hz double, "
                "flatness double, hf_ratio double")


def spectral_stats(clips: DataFrame,
                   byte_col: str = "bytes", codec_col: str = "codec",
                   sr_col: str = "sr_hz", id_col: str = "clip_id",
                   frame: int = FP_FRAME, hop: int = FP_HOP,
                   part_col: str | None = None,
                   decoder=None) -> DataFrame:
    """Per-clip spectral quality features, energy-weighted across
    frames: centroid and bandwidth (spectral mass center/spread, Hz),
    95% rolloff (Hz below which 95% of energy sits), flatness
    (geometric/arithmetic mean of the power spectrum — ≈1 noise-like,
    →0 tonal), and hf_ratio (energy share above 90% of Nyquist).

    These are the signals a corpus pipeline filters on: a clip whose
    rolloff sits far below Nyquist was band-limited upstream (e.g.
    8 kHz telephony upsampled and passed off as 16 kHz), flatness
    separates tones/hum from speech/noise, hf_ratio exposes aliasing.
    Same distributed shape as fingerprint(): one Arrow pass, batched
    FFT per length group, no join, no shuffle. NULL metrics for
    undecodable or too-short clips.
    """
    dec_fn = decoder or decode
    cols = [F.col(id_col).alias("clip_id"),
            F.col(sr_col).cast("int").alias("_sr"),
            F.col(byte_col).alias("_bytes"),
            F.col(codec_col).alias("_codec")]
    if part_col:       # carried through the pass — no join to re-attach
        cols.insert(1, F.col(part_col).alias("part_id"))
    src = clips.select(*cols)
    schema = _SPEC_SCHEMA if not part_col else _SPEC_SCHEMA.replace(
        "clip_id string,", "clip_id string, part_id int,")
    window = 0.5 - 0.5 * np.cos(
        2.0 * np.pi * np.arange(frame) / (frame - 1))
    n_bins = frame // 2 + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = pdf["_bytes"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            srs = pdf["_sr"].to_numpy()
            out = {k: np.full(n, np.nan) for k in
                   ("centroid", "bandwidth", "rolloff", "flatness",
                    "hf")}
            nf = np.zeros(n, dtype=np.int64)
            groups: dict[int, list[int]] = {}
            decs: list = [None] * n
            for i in range(n):
                if payloads[i] is None or pd.isna(srs[i]):
                    continue
                d = dec_fn(payloads[i], codecs[i])
                if d is None or d.size < frame:
                    continue
                decs[i] = d
                groups.setdefault(d.size, []).append(i)
            for size, idx_all in groups.items():
              # same chunking rationale as _batch_fingerprints: bound
              # the frame/FFT temporaries per task
              step = max(1, 2_000_000 // size)
              for lo in range(0, len(idx_all), step):
                idx = idx_all[lo:lo + step]
                m = np.empty((len(idx), size), dtype=np.int16)
                for j, i in enumerate(idx):
                    m[j] = decs[i]
                frames = np.lib.stride_tricks.sliding_window_view(
                    m, frame, axis=1)[:, ::hop, :]
                spec = np.abs(np.fft.rfft(frames * window, axis=2)) ** 2
                ix = np.asarray(idx)
                nf[ix] = spec.shape[1]
                # energy-weighted across frames == pool power first
                p = spec.sum(axis=1)                 # (clips, bins)
                tot = p.sum(axis=1)                  # (clips,)
                sr = np.array([srs[i] for i in idx], dtype=np.float64)
                freqs = np.arange(n_bins) / float(frame)  # × sr later
                with np.errstate(invalid="ignore", divide="ignore"):
                    cen = (p @ freqs) / tot
                    bw = np.sqrt(np.maximum(
                        (p @ freqs**2) / tot - cen**2, 0.0))
                    cum = np.cumsum(p, axis=1)
                    roll_bin = np.argmax(
                        cum >= 0.95 * tot[:, None], axis=1)
                    # flatness over bins 1..n-1 (DC excluded), on the
                    # frame-pooled spectrum, eps-guarded for exact-zero
                    # bins (silence)
                    q = np.maximum(p[:, 1:], 1e-12)
                    flat = np.exp(np.mean(np.log(q), axis=1)) \
                        / np.mean(q, axis=1)
                    hf_cut = int(np.floor(0.9 * (n_bins - 1)))
                    hf = p[:, hf_cut:].sum(axis=1) / tot
                ok = tot > 0
                out["centroid"][ix] = np.where(ok, cen * sr, np.nan)
                out["bandwidth"][ix] = np.where(ok, bw * sr, np.nan)
                out["rolloff"][ix] = np.where(
                    ok, roll_bin / float(frame) * sr, np.nan)
                out["flatness"][ix] = np.where(ok, flat, np.nan)
                out["hf"][ix] = np.where(ok, hf, np.nan)
            res = {"clip_id": pdf["clip_id"]}
            if part_col:
                res["part_id"] = pdf["part_id"].astype("int32")
            res.update({
                "n_frames": pd.array(
                    [int(v) if decs[i] is not None else None
                     for i, v in enumerate(nf)], dtype="Int32"),
                "centroid_hz": out["centroid"],
                "bandwidth_hz": out["bandwidth"],
                "rolloff95_hz": out["rolloff"],
                "flatness": out["flatness"],
                "hf_ratio": out["hf"]})
            yield pd.DataFrame(res)

    return src.mapInPandas(run, schema)


def near_dup_audio_incremental(delta_clips: DataFrame,
                               fp_store: DataFrame,
                               ber_threshold: float = 0.15,
                               min_overlap: float = 0.8,
                               max_bucket: int = 1024,
                               byte_col: str = "bytes",
                               codec_col: str = "codec",
                               id_col: str = "clip_id",
                               decoder=None) -> DataFrame:
    """Audio near-dup pairs INVOLVING a corpus delta, against a stored
    fingerprint table — the audio analogue of
    dedup.near_dup_pairs_incremental: no corpus payload is re-read and
    no corpus FFT re-runs when new clips arrive.

    fp_store: (clip_id, fp array<bigint>) as produced by
    fingerprint() — materialize it once (parquet, bucketed by clip_id
    if appends are frequent) and append fingerprint(delta) after each
    batch; at 10^12 clips it is ~0.03% the bytes of the audio itself.

    Shape, in corpus-scan terms:
    1. only the delta pays decode + FFT (delta-sized Arrow pass);
    2. the stored side's (frame_idx, subfp) probes are a PROJECTION of
       the fingerprint table (posexplode — no audio bytes, no FFT),
       semi-joined against the broadcast set of probe keys the delta
       touches, so the band shuffle carries touched-bucket members,
       not the corpus;
    3. bucket caps are computed over the touched buckets' FULL
       membership (stored ∪ delta), so kept/cut decisions agree with a
       from-scratch run over corpus+delta (the equivalence the test
       asserts);
    4. candidate pairs keep only those with ≥1 delta side
       (stored×stored pairs were already emitted by the original run);
       BER verify runs on the carried fp arrays, pure codegen.

    Delta ids must not collide with stored ids.
    """
    from pyspark.sql import Window
    delta_fps = fingerprint(delta_clips, byte_col=byte_col,
                            codec_col=codec_col, id_col=id_col,
                            decoder=decoder)

    def probes_of(fps, is_delta):
        return (fps.filter(F.col("fp").isNotNull())
                   .select("clip_id", "fp",
                           F.posexplode("fp").alias("frame_idx",
                                                    "subfp"))
                   .withColumn("is_delta", F.lit(is_delta)))

    p_delta = probes_of(delta_fps, True)
    keys = p_delta.select("frame_idx", "subfp").distinct()
    p_stored = (probes_of(fp_store, False)
                .join(F.broadcast(keys), ["frame_idx", "subfp"]))
    members = p_stored.unionByName(p_delta)
    w = Window.partitionBy("frame_idx", "subfp")
    kept = (members.withColumn("_bsz", F.count(F.lit(1)).over(w))
                   .filter(F.col("_bsz") <= max_bucket))
    a, b = kept.alias("a"), kept.alias("b")
    cand = (a.join(b, (F.col("a.frame_idx") == F.col("b.frame_idx"))
                   & (F.col("a.subfp") == F.col("b.subfp"))
                   & (F.col("a.clip_id") < F.col("b.clip_id")))
             .filter(F.col("a.is_delta") | F.col("b.is_delta"))
             .select(F.col("a.clip_id").alias("clip_a"),
                     F.col("b.clip_id").alias("clip_b"),
                     F.col("a.fp").alias("fp_a"),
                     F.col("b.fp").alias("fp_b"))
             .dropDuplicates(["clip_a", "clip_b"]))
    scored = (cand
              .withColumn("_ov", F.least(F.size("fp_a"), F.size("fp_b"))
                          / F.greatest(F.size("fp_a"), F.size("fp_b")))
              .withColumn("ber", _ber(F.col("fp_a"), F.col("fp_b"))))
    return (scored.filter((F.col("_ov") >= min_overlap)
                          & (F.col("ber") <= ber_threshold))
                  .select("clip_a", "clip_b",
                          F.round("ber", 4).alias("ber")))


def spectral_violations(clips: DataFrame, check,
                        id_col: str = "clip_id",
                        part_col: str = "part_id") -> DataFrame:
    """Violation rows for clips breaching a SpectralCheck (x-spectral):
    95%-rolloff floor and/or flatness cap. Same contract as
    x-audio-stats: unknown codecs skip (the enum check owns those),
    undecodable-or-too-short payloads of KNOWN codecs violate. Plan:
    scan → one Arrow FFT pass → threshold filter; exchange-free."""
    from canned_yaml_spark.audio import _MAGIC
    rule_id = check.rule_id
    severity = int(check.severity)
    src = clips.filter(F.col("codec").isin(*sorted(_MAGIC)))
    s = spectral_stats(src, byte_col=check.column, sr_col=check.sr_col,
                       id_col=id_col, part_col=part_col)
    msgs = [F.when(F.col("n_frames").isNull(),
                   F.lit("payload undecodable or too short for "
                         "spectral stats"))]
    if check.min_rolloff95_hz is not None:
        msgs.append(F.when(
            F.col("rolloff95_hz") < float(check.min_rolloff95_hz),
            F.concat(F.lit("rolloff95 "),
                     F.round("rolloff95_hz", 1).cast("string"),
                     F.lit(f" Hz < {check.min_rolloff95_hz} "
                           f"(band-limited/transcoded?)"))))
    if check.max_flatness is not None:
        msgs.append(F.when(
            F.col("flatness") > float(check.max_flatness),
            F.concat(F.lit("flatness "),
                     F.round("flatness", 4).cast("string"),
                     F.lit(f" > {check.max_flatness}"))))
    return (s.select(
        "clip_id", "part_id",
        F.explode(F.array_compact(F.array(*msgs))).alias("message"))
        .select("clip_id", "part_id",
                F.lit(rule_id).alias("rule_id"),
                F.lit(severity).alias("severity"), "message"))


# ------------------------------------------------------------ fixtures
def chirp_pcm(key: int, n_samples: int = 4000,
              sr_hz: int = 8000) -> np.ndarray:
    """Deterministic per-key chirp with temporal spectral structure
    (a stationary pure tone has near-constant band energies, which
    degenerates ANY temporal-difference fingerprint — real speech and
    music do not look like that). Frequency sweeps f0(k) → f0(k) +
    rate(k)·dur with an amplitude ripple; distinct keys give distinct
    band trajectories."""
    f0 = 300.0 + (key * 37) % 1500
    rate = 500.0 + (key * 61) % 900
    t = np.arange(n_samples, dtype=np.float64) / float(sr_hz)
    phase = 2.0 * np.pi * (f0 * t + 0.5 * rate * t * t)
    am = 0.7 + 0.3 * np.sin(2.0 * np.pi * 3.0 * t + key % 7)
    sig = am * (np.sin(phase) + 0.5 * np.sin(2 * phase)
                + 0.25 * np.sin(3 * phase))
    # broadband noise floor (hash-style, deterministic per key): a
    # narrowband-only signal leaves most bands at leakage level, where
    # codec quantization noise decides the difference signs — BER on a
    # lossy re-encode then approaches coin-flip. ~5% of full scale
    # keeps every band's energy signal-owned.
    i = np.arange(n_samples, dtype=np.float64)
    h = np.sin((i + key * 131.0) * 12.9898) * 43758.5453
    noise = 2.0 * (h - np.floor(h)) - 1.0
    return np.clip((sig * 0.55 + noise * 0.05) * 32767.0,
                   -32768, 32767).astype("<i2")


def chirp_corpus_df(spark, n_clips: int | None = None,
                    dup_every: int | None = 5, n_samples: int = 4000,
                    keys: DataFrame | None = None) -> DataFrame:
    """(clip_id, part_id, codec, bytes) chirp corpus with known audio
    near-dups: every key ≡ 0 (mod dup_every) is re-encoded under the
    next lossy codec in the registry (quantized — different bytes,
    same recording) as '<id>_dup'. Ground truth: exactly those pairs.
    keys: optional one-column ('k') DataFrame of clip keys (e.g. drawn
    from a driver table); defaults to range(n_clips). dup_every=None
    injects no dups at all (note k=0 satisfies k ≡ 0 mod ANYTHING, so
    "a huge dup_every" is not a no-dups spelling when 0 is a key)."""
    from canned_yaml_spark.audio import encode
    # Rotation pinned to the three QUANTIZED-STUB codecs, not derived
    # from the registry: this fixture's ground truth ("exactly the
    # injected pairs match") requires every dup to keep ≥1 exact
    # 32-bit probe frame and BER ≤ threshold. The stubs quantize
    # mantissa bits (BER ≤ 0.002 on chirps — guaranteed); the REAL
    # codecs measured on chirps: G.711 ~4% BER with some keys at ZERO
    # exact frames (probe miss), ADPCM up to 20% (a chirp sweeping to
    # Nyquist is the adversarial input for a one-tap predictor) — too
    # close to the 0.3 cross-key floor to be ground truth. Deriving
    # from _MAGIC silently broke recall when adpcm_ima/ulaw/alaw
    # joined the registry.
    lossy = ["flac", "mp3", "opus"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, parts, codecs, blobs = [], [], [], []
            for k in pdf["k"]:
                k = int(k)
                pcm = chirp_pcm(k, n_samples)
                ids.append(f"clip_{k:010d}")
                parts.append(k % 32)
                codecs.append("pcm_s16le")
                blobs.append(pcm.tobytes())
                if dup_every is not None and k % dup_every == 0:
                    c = lossy[(k // dup_every) % len(lossy)]
                    ids.append(f"clip_{k:010d}_dup")
                    parts.append(k % 32)
                    codecs.append(c)
                    blobs.append(encode(pcm, c))
            yield pd.DataFrame({
                "clip_id": ids,
                "part_id": pd.array(parts, dtype="int32"),
                "codec": codecs, "bytes": blobs})

    if keys is None:
        keys = spark.range(n_clips).select(F.col("id").alias("k"))
    return keys.mapInPandas(
        gen, "clip_id string, part_id int, codec string, bytes binary")


def bandlimit_probe_pcm(key: int, band_limited: bool,
                        n_samples: int = 4000, sr_hz: int = 8000,
                        cutoff_hz: float = 1000.0) -> np.ndarray:
    """Probe clip for the band-limit detector gate: the per-key chirp
    plus a STRONG deterministic broadband noise floor (25% of full
    scale — guarantees a clean clip's 95% rolloff sits near Nyquist),
    and, when band_limited, an exact FFT brickwall at cutoff_hz — the
    "telephony upsampled and passed off at a higher rate" pathology
    with zero interpolation images. Measured separation over the gate
    key range (k % 37 == 0, k < 20000): clean rolloff95 ≥ 3156 Hz,
    band-limited ≤ 1000 Hz (tests/test_audiofp.py pins the margins),
    so an x-spectral floor at 2000 Hz classifies with > 1.1 kHz margin
    on both sides."""
    x = chirp_pcm(key, n_samples, sr_hz).astype(np.float64)
    i = np.arange(n_samples, dtype=np.float64)
    h = np.sin((i + key * 977.0) * 78.233) * 12345.6789
    noise = (2.0 * (h - np.floor(h)) - 1.0) * (0.25 * 32767.0)
    y = x * 0.7 + noise
    if band_limited:
        spec = np.fft.rfft(y)
        f = np.fft.rfftfreq(n_samples, 1.0 / sr_hz)
        spec[f > cutoff_hz] = 0.0
        y = np.fft.irfft(spec, n_samples)
    return np.clip(y, -32768, 32767).astype("<i2")


def bandlimit_corpus_df(spark, keys: DataFrame, every: int = 3,
                        n_samples: int = 4000,
                        sr_hz: int = 8000) -> DataFrame:
    """(clip_id, part_id, sr_hz, codec, bytes) corpus for the band-limit
    detector: every key ≡ 0 (mod every) is band-limited, the rest are
    broadband — ground truth is pure key arithmetic, so the detector's
    verdict set has a closed-form oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, parts, blobs = [], [], []
            for k in pdf["k"]:
                k = int(k)
                pcm = bandlimit_probe_pcm(k, k % every == 0,
                                          n_samples, sr_hz)
                ids.append(f"clip_{k:010d}")
                parts.append(k % 32)
                blobs.append(pcm.tobytes())
            yield pd.DataFrame({
                "clip_id": ids,
                "part_id": pd.array(parts, dtype="int32"),
                "sr_hz": pd.array([sr_hz] * len(ids), dtype="int32"),
                "codec": ["pcm_s16le"] * len(ids),
                "bytes": blobs})

    return keys.mapInPandas(
        gen, "clip_id string, part_id int, sr_hz int, codec string, "
             "bytes binary")


# ------------------------------------------------------ log-mel / MFCC

def hz_to_mel(f) -> np.ndarray:
    """HTK mel scale: m = 2595·log10(1 + f/700)."""
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64)
                             / 700.0)


def mel_to_hz(m) -> np.ndarray:
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0)
                    - 1.0)


def mel_peak_hz(band: int, n_mels: int, sr_hz: int,
                f_min: float = 0.0) -> float:
    """Peak (center) frequency of triangular mel filter `band`
    (0-based) in a bank of n_mels filters spanning [f_min, sr/2] —
    the closed form the tone-band gate corpus injects at, and the
    point where the band's weight is exactly 1 while BOTH neighbors
    are exactly 0 (adjacent triangles meet at each other's peaks)."""
    lo, hi = hz_to_mel(f_min), hz_to_mel(sr_hz / 2.0)
    step = (hi - lo) / (n_mels + 1)
    return float(mel_to_hz(lo + (band + 1) * step))


def mel_filterbank(sr_hz: int, frame: int, n_mels: int,
                   f_min: float = 0.0) -> np.ndarray:
    """(n_mels, frame//2+1) triangular mel filterbank over the rFFT
    bins of `frame`-sample windows at sr_hz. Mel points are uniform
    from mel(f_min) to mel(sr/2); filter k rises over
    [m_{k-1}, m_k] and falls over [m_k, m_{k+1}]."""
    n_bins = frame // 2 + 1
    pts = mel_to_hz(np.linspace(hz_to_mel(f_min), hz_to_mel(sr_hz / 2.0),
                                n_mels + 2))
    freqs = np.arange(n_bins, dtype=np.float64) * sr_hz / frame
    lo = pts[:-2, None]
    mid = pts[1:-1, None]
    hi = pts[2:, None]
    up = (freqs[None, :] - lo) / (mid - lo)
    down = (hi - freqs[None, :]) / (hi - mid)
    return np.maximum(0.0, np.minimum(up, down))


def dct2_ortho(n_out: int, n_in: int) -> np.ndarray:
    """(n_out, n_in) orthonormal DCT-II matrix (the MFCC decorrelating
    transform): C[i,j] = s_i·sqrt(2/N)·cos(π·i·(2j+1)/(2N)),
    s_0 = 1/sqrt(2), s_{i>0} = 1."""
    j = np.arange(n_in, dtype=np.float64)
    i = np.arange(n_out, dtype=np.float64)[:, None]
    c = np.sqrt(2.0 / n_in) * np.cos(np.pi * i * (2.0 * j + 1.0)
                                     / (2.0 * n_in))
    c[0] /= np.sqrt(2.0)
    return c


#: mfcc_stats output — NULLs = undecodable or shorter than one frame
_MEL_SCHEMA = ("clip_id string, n_frames int, log_mel array<double>, "
               "mfcc array<double>, dominant_band int")


def mfcc_stats(clips: DataFrame, n_mels: int = 26, n_mfcc: int = 13,
               frame: int = 1024, hop: int = 512,
               byte_col: str = "bytes", codec_col: str = "codec",
               sr_col: str = "sr_hz", id_col: str = "clip_id",
               decoder=None) -> DataFrame:
    """Per-clip log-mel energies + MFCCs — THE classic ASR/speech
    feature (what a training pipeline clusters, dedups and filters
    speech on when embeddings are too expensive):

      log_mel        per-band mean over frames of log(mel energy)
      mfcc           orthonormal DCT-II of log_mel (first n_mfcc)
      dominant_band  argmax of the frame-POOLED linear mel energy
                     (energy-weighted, like spectral_stats pooling)

    Distributed shape: scan → ONE mapInPandas → small typed rows; the
    FFT is one batched np.fft.rfft per (length, sample-rate) group and
    the mel/DCT stages are two matmuls per group — no join, no
    shuffle, no per-row Python. The filterbank depends on the sample
    rate (mel geometry spans [0, sr/2]), so groups key on (size, sr)
    and each group builds its bank once. NULL metrics for undecodable
    or sub-frame clips; eps-guarded log for exact-zero bands."""
    dec_fn = decoder or decode
    src = clips.select(F.col(id_col).alias("clip_id"),
                       F.col(sr_col).cast("int").alias("_sr"),
                       F.col(byte_col).alias("_bytes"),
                       F.col(codec_col).alias("_codec"))
    window = 0.5 - 0.5 * np.cos(
        2.0 * np.pi * np.arange(frame) / (frame - 1))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        banks: dict[int, np.ndarray] = {}
        dct = dct2_ortho(n_mfcc, n_mels)
        for pdf in batches:
            n = len(pdf)
            payloads = pdf["_bytes"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            srs = pdf["_sr"].to_numpy()
            nf = np.zeros(n, dtype=np.int64)
            logm: list = [None] * n
            mf: list = [None] * n
            dom = np.full(n, -1, dtype=np.int64)
            groups: dict[tuple[int, int], list[int]] = {}
            decs: list = [None] * n
            for i in range(n):
                if payloads[i] is None or pd.isna(srs[i]):
                    continue
                d = dec_fn(payloads[i], codecs[i])
                if d is None or d.size < frame:
                    continue
                decs[i] = d
                groups.setdefault((d.size, int(srs[i])), []).append(i)
            for (size, sr), idx_all in groups.items():
                fb = banks.get(sr)
                if fb is None:
                    fb = banks[sr] = mel_filterbank(sr, frame, n_mels).T
                # bound the frame/FFT temporaries per task, same
                # rationale as _batch_fingerprints
                step = max(1, 2_000_000 // size)
                for lo in range(0, len(idx_all), step):
                    idx = idx_all[lo:lo + step]
                    m = np.empty((len(idx), size), dtype=np.int16)
                    for j, i in enumerate(idx):
                        m[j] = decs[i]
                    frames = np.lib.stride_tricks.sliding_window_view(
                        m, frame, axis=1)[:, ::hop, :]
                    spec = np.abs(
                        np.fft.rfft(frames * window, axis=2)) ** 2
                    mel_e = spec @ fb            # (clips, frames, mels)
                    pooled = mel_e.sum(axis=1)   # (clips, mels)
                    lg = np.log(np.maximum(mel_e, 1e-12)).mean(axis=1)
                    co = lg @ dct.T              # (clips, n_mfcc)
                    for j, i in enumerate(idx):
                        nf[i] = mel_e.shape[1]
                        logm[i] = lg[j]
                        mf[i] = co[j]
                        dom[i] = int(np.argmax(pooled[j]))
            yield pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "n_frames": pd.array(
                    [int(nf[i]) if logm[i] is not None else None
                     for i in range(n)], dtype="Int32"),
                "log_mel": logm,
                "mfcc": mf,
                "dominant_band": pd.array(
                    [int(dom[i]) if logm[i] is not None else None
                     for i in range(n)], dtype="Int32")})

    return src.mapInPandas(run, _MEL_SCHEMA)


def tone_band_pcm(key: int, band: int, n_mels: int,
                  sr_hz: int = 8000, n_samples: int = 4000) -> np.ndarray:
    """Probe clip for the mel gate: a pure tone AT the peak of mel
    filter `band` (where the band's weight is 1 and both neighbors'
    are 0) plus a 0.5%-FS deterministic noise floor. Ground truth for
    dominant_band is `band` by construction, with the margin set by
    the triangle geometry, not by any statistical separation."""
    f = mel_peak_hz(band, n_mels, sr_hz)
    t = np.arange(n_samples, dtype=np.float64) / float(sr_hz)
    sig = np.sin(2.0 * np.pi * f * t + (key % 17))
    i = np.arange(n_samples, dtype=np.float64)
    h = np.sin((i + key * 131.0) * 12.9898) * 43758.5453
    noise = 2.0 * (h - np.floor(h)) - 1.0
    return np.clip((0.6 * sig + 0.005 * noise) * 32767.0,
                   -32768, 32767).astype("<i2")


def tone_band_corpus_df(spark, keys: DataFrame, n_mels: int = 26,
                        sr_hz: int = 8000,
                        n_samples: int = 4000) -> DataFrame:
    """(clip_id, sr_hz, codec, bytes) corpus for the mel gate: key k
    carries a tone at the peak of band k % n_mels — the expected
    dominant_band is pure key arithmetic, so the full FFT → mel →
    argmax pipeline has a closed-form injected-truth oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for k in pdf["k"]:
                k = int(k)
                pcm = tone_band_pcm(k, k % n_mels, n_mels, sr_hz,
                                    n_samples)
                ids.append(f"clip_{k:010d}")
                blobs.append(pcm.tobytes())
            yield pd.DataFrame({
                "clip_id": ids,
                "sr_hz": pd.array([sr_hz] * len(ids), dtype="int32"),
                "codec": ["pcm_s16le"] * len(ids),
                "bytes": blobs})

    return keys.mapInPandas(
        gen, "clip_id string, sr_hz int, codec string, bytes binary")

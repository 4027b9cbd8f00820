"""Payload validation: decode audio bytes, assert SNR + transcript equality.

input_hint per-row invariant: decoded-PCM allclose (SNR ≥ 30 dB) +
transcript equality against the per-clip reference. This is the only
place the engine crosses the JVM→Python boundary on the data path, and
it does so through Arrow batches (mapInPandas) — never row-at-a-time
Python UDFs.

Scale shape: clips ⋈ clips_ref is a key-equi join on clip_id. At
10^12 rows both sides are large → with both tables bucketed by clip_id
at write time the shuffle disappears entirely (storage-side
co-location). Two further scale decisions (both measured, round 2):

- The transcript-equality half of the invariant is a pure column
  comparison, so it runs as its OWN JVM branch over a column-pruned
  scan (clip_id/part_id/transcript only — the parquet reader never
  touches `bytes` for it). Zero Python.
- The decode branch filters JVM-side BEFORE the Arrow boundary: rows
  whose codec has no decoder are skipped (same as the reference's
  unknown-codec behavior), and pcm_s16le rows that are byte-identical
  to the reference are proven SNR=+inf by equality alone. Only the
  residual (~lossy-codec fraction) of rows ever crosses into Python —
  at 10^12 rows the Arrow transfer, not the numpy math, is the
  payload check's bottleneck.
"""

from __future__ import annotations

import logging
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.audio import _MAGIC, batch_stats, decode, snr_db
from canned_yaml_spark.checks import PayloadCheck

_LOG = logging.getLogger(__name__)

_OUT_SCHEMA = ("clip_id string, part_id int, rule_id string, "
               "severity int, message string")

_EMPTY = np.zeros(0, dtype="<i2")


def _ref_pcm(raw, compressed: bool = False) -> np.ndarray | None:
    """Reference PCM from the stored ref-table bytes. Returns None when
    the STORED reference itself is malformed (odd byte length, or bad
    zlib for the compressed certified layout) — the caller surfaces
    that as a violation row. A validation engine has to survive garbage
    in its own reference table; np.frombuffer on an odd-length buffer
    would otherwise kill the whole Arrow task (found driving a
    corrupted ref row through the job boundary)."""
    if raw is None:
        return _EMPTY
    buf = bytes(raw)
    if compressed:
        try:
            buf = zlib.decompress(buf)
        except zlib.error:
            return None
    if len(buf) % 2:
        return None
    return np.frombuffer(buf, dtype="<i2")


def _transcript_mismatch(t: F.Column, tr: F.Column) -> F.Column:
    """NULL-aware inequality: one side NULL, or both set and different."""
    return (t.isNull() != tr.isNull()) | (t.isNotNull() & (t != tr))


def _batch_snr(decs: list, refs: list, snr: np.ndarray) -> None:
    """Vectorized SNR: group equal-length (ref, dec) pairs and compute
    power ratios as row-axis reductions over one matrix per length
    group. Rows whose decode failed or whose lengths mismatch keep
    snr=-inf (the caller's preset); bit-exact rows get +inf.

    The matrices stay in the samples' native int16 and the three
    power sums accumulate in int64 inside einsum (EXACT: products are
    ≤ 2³⁰, row sums ≤ L·2³⁰ — overflow needs L > 2³³ samples). This
    is the payload family's hottest loop at scale, and it is memory-
    bound: the previous float64 formulation moved ~3.5× these bytes
    per row (f64 copies of both matrices plus a materialized noise
    matrix) for identical results, since int16 → f64 products are
    exact too. p_noise comes from Σr² + Σd² − 2Σrd instead of a
    (r − d)² temporary — same exact integer value.
    """
    groups: dict[int, list[int]] = {}
    for i, d in enumerate(decs):
        if d is None or refs[i] is None:
            continue               # undecodable payload / malformed ref
        if d.size != refs[i].size:
            continue               # stays -inf: hard fail
        if d.size == 0:
            snr[i] = np.inf
            continue
        groups.setdefault(d.size, []).append(i)
    for size, idx in groups.items():
        r = np.empty((len(idx), size), dtype=np.int16)
        d = np.empty((len(idx), size), dtype=np.int16)
        for j, i in enumerate(idx):
            r[j] = refs[i]
            d[j] = decs[i]
        p_sig = np.einsum("ij,ij->i", r, r, dtype=np.int64)
        p_dec = np.einsum("ij,ij->i", d, d, dtype=np.int64)
        p_cross = np.einsum("ij,ij->i", r, d, dtype=np.int64)
        p_noise = p_sig + p_dec - 2 * p_cross
        with np.errstate(divide="ignore", invalid="ignore"):
            s = 10.0 * np.log10(p_sig / p_noise.astype(np.float64))
        # precedence matches audio.snr_db: p_noise==0 → +inf wins even
        # when p_sig==0 too (bit-exact all-zero signal is a pass)
        s = np.where(p_sig == 0, -np.inf, s)
        s = np.where(p_noise == 0, np.inf, s)
        snr[np.asarray(idx)] = s


def select_payload_plan(clips_ref: DataFrame) -> str:
    """Pick the physical strategy for the decode/SNR branch:
    "certified" (ingest-certified payload digest, any codec) or "eager"
    (single join carrying pcm_ref — the byte-exact reference plan).

    certified requires (codec_ref, enc_hash, enc_len) — written at
    ingest when the payload last PASSED validation — plus a PCM column
    (pcm_z compressed, or pcm_ref). It fast-paths EVERY codec whose
    label and bytes are unchanged since ingest, so the residual that
    needs reference bytes is only the damaged/tampered fraction, and
    with pcm_z that fetch moves compressed bytes. It wins on any
    layout: join 1 is narrow on the ref side, and join 2's ref side is
    either compressed (pcm_z) or no heavier than the single eager join
    would have been — while the Arrow/decode stage shrinks from the
    whole lossy-codec share to the damaged rows.

    A spec with `digest_fast_path: false` never reaches this choice:
    payload_violations pins eager for it whatever the ref table carries.
    """
    cols = set(clips_ref.columns)
    has_cert = ({"codec_ref", "enc_hash", "enc_len"} <= cols
                and ("pcm_z" in cols or "pcm_ref" in cols))
    return "certified" if has_cert else "eager"


def _transcript_join(clips: DataFrame, clips_ref: DataFrame, id_col: str,
                     part_col: str, t_col: F.Column,
                     tr_col: F.Column) -> DataFrame:
    """(clip_id, part_id, _t, _tr): each clip's transcript beside its
    reference, over scans pruned to narrow columns (bytes never read)."""
    return clips.select(
        F.col(id_col).alias("clip_id"),
        F.col(part_col).alias("part_id"),
        t_col.alias("_t"),
    ).join(
        clips_ref.select("clip_id", tr_col.alias("_tr")).hint("SHUFFLE_HASH"),
        "clip_id", "inner")


def payload_violations(clips: DataFrame, clips_ref: DataFrame,
                       check: PayloadCheck,
                       id_col: str = "clip_id",
                       part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows for payloads failing decode/SNR/transcript.

    clips_ref: (clip_id, pcm_ref binary — little-endian PCM16,
    transcript_ref string). Output has one row per failure mode per
    failed clip.

    Every clips ⋈ clips_ref join is SHUFFLE_HASH: hashing one side
    beats sorting 2× payload-sized rows, and a hash join needs only the
    distribution, so over tables bucketed by clip_id it runs with no
    exchange at all.

    Plan: certified when clips_ref carries codec_ref/enc_hash/enc_len
    (see select_payload_plan), else eager. The ingest certificate
    proves ANY unchanged payload — not just bit-exact pcm — so the
    Python decode/SNR stage runs over the damaged residual only, and
    the residual reference fetch moves zlib-compressed PCM when the
    ingest stored pcm_z. At 10^12 rows this is the production posture:
    the heavy work is proportional to what changed since the last
    validation, not to the lossy-codec share of the corpus. It trades
    byte-exactness for xxhash64+length equality against the STORED
    ingest digest — false-pass probability ≤ 2⁻⁶⁴ per pair on
    non-adversarial data; ingest a cryptographic digest instead if
    inputs are adversarial (ADVICE r4), or set `digest_fast_path:
    false` in the spec to pin the byte-exact eager plan. The selection
    is logged at INFO.
    """
    rule_id = check.rule_id
    severity = int(check.severity)
    snr_min = float(check.snr_db_min)
    byte_col = check.column
    # `digest_fast_path: false` in the spec pins byte-exact semantics
    plan = select_payload_plan(clips_ref) if check.allow_digest else "eager"
    _LOG.info("payload_violations rule=%s plan=%s", rule_id, plan)
    certified = plan == "certified"
    # residual ref bytes: prefer the compressed PCM copy when the
    # ingest wrote one — join 2 then moves zlib bytes, not raw PCM
    ref_is_z = certified and "pcm_z" in clips_ref.columns
    ref_pcm_col = "pcm_z" if ref_is_z else "pcm_ref"

    # ---- branch 1: transcript equality — pure JVM, bytes never read.
    t = _transcript_join(clips, clips_ref, id_col, part_col,
                         F.col("transcript"), F.col("transcript_ref"))
    t_viol = (t.filter(_transcript_mismatch(F.col("_t"), F.col("_tr")))
               .select("clip_id", "part_id",
                       F.lit(rule_id).alias("rule_id"),
                       F.lit(severity).alias("severity"),
                       F.lit("transcript differs from reference")
                        .alias("message")))

    # ---- branch 2: decode + SNR — JVM prefilter before Arrow.
    probe = clips.select(
        F.col(id_col).alias("clip_id"),
        F.col(part_col).alias("part_id"),
        F.col(byte_col).alias("_bytes"),
        F.col("codec").alias("_codec"),
    )
    if certified:
        # join 1 is NARROW on the ref side: the ingest certificate.
        # A payload fast-passes iff its codec label equals the codec it
        # was validated AS at ingest AND its bytes hash+length match the
        # bytes that passed — unchanged-since-validation implies the
        # SNR/transcript verdict is unchanged too, for ANY codec. The
        # codec_ref conjunct is load-bearing: a row whose bytes are
        # intact but whose codec column was tampered to another
        # decodable codec must fall through to the decode path (where
        # it fails exactly as the eager plan fails it). coalesce()
        # maps NULL certs to False and keeps the left==right
        # equalities out of the join keys: the optimizer extracts a
        # bare left==right predicate above a join into an extra join
        # key, which turns the clip_id distribution into a full
        # shuffle of payload-sized rows (measured 22 s → 61 s+ at
        # 38.4M rows, BENCH/PROFILE.md).
        joined = probe.join(
            clips_ref.select("clip_id", "codec_ref",
                             "enc_hash", "enc_len").hint("SHUFFLE_HASH"),
            "clip_id", "inner")
        fast_ok = F.col("_bytes").isNotNull() & F.coalesce(
            (F.col("_codec") == F.col("codec_ref"))
            & (F.xxhash64(F.col("_bytes")) == F.col("enc_hash"))
            & (F.length(F.col("_bytes")) == F.col("enc_len")),
            F.lit(False))
        # join 2 fetches reference PCM for the damaged residual only —
        # compressed (pcm_z) when the ingest stored it. Build side =
        # the residual (hint on it), which is tiny by construction:
        # only rows whose bytes or codec changed since they last
        # passed validation.
        need = (joined.filter(F.col("_codec").isin(*sorted(_MAGIC))
                              & ~fast_ok)
                      .drop("codec_ref", "enc_hash", "enc_len")
                      .hint("SHUFFLE_HASH")
                      .join(clips_ref.select(
                                "clip_id",
                                F.col(ref_pcm_col).alias("_pcm_ref")),
                            "clip_id", "inner"))
    else:
        joined = probe.join(
            # with both tables bucketed by clip_id at write time the
            # exchange disappears entirely
            clips_ref.select(
                F.col("clip_id"),
                F.col("pcm_ref").alias("_pcm_ref"),
            ).hint("SHUFFLE_HASH"),
            "clip_id", "inner",
        )
        # Rows that never need Python: unknown codec (reference
        # behavior — enum/referential checks own those), and the
        # identity-codec fast path, where bit-exact payload == SNR +inf
        # by definition. The filter runs inside the join's codegen
        # stage, so the Arrow transfer carries only the residual.
        fast_ok = (F.col("_codec") == F.lit("pcm_s16le")) & \
            F.col("_bytes").isNotNull() & \
            (F.col("_bytes") == F.col("_pcm_ref"))
        need = joined.filter(
            F.col("_codec").isin(*sorted(_MAGIC)) & ~fast_ok)

    def check_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ids = pdf["clip_id"].to_numpy()
            parts = pdf["part_id"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            payloads = pdf["_bytes"].to_numpy()
            raw_refs = pdf["_pcm_ref"].to_numpy()

            decs = [None] * n
            refs = [None] * n
            for i in range(n):
                decs[i] = (decode(payloads[i], codecs[i])
                           if payloads[i] is not None else None)
                refs[i] = _ref_pcm(raw_refs[i], compressed=ref_is_z)
            snr = np.full(n, -np.inf)
            _batch_snr(decs, refs, snr)

            out_id, out_part, out_msg = [], [], []
            bad = np.nonzero(~(snr >= snr_min))[0]
            for i in bad:
                if decs[i] is None:
                    out_msg.append(f"payload undecodable as {codecs[i]}")
                elif refs[i] is None:
                    out_msg.append(
                        "reference pcm malformed (odd length or bad "
                        "compression)")
                else:
                    out_msg.append(
                        f"SNR {snr[i]:.1f} dB < {snr_min:.1f} dB "
                        f"(decoded {decs[i].size} vs reference "
                        f"{refs[i].size} samples)")
                out_id.append(ids[i])
                out_part.append(parts[i])
            yield pd.DataFrame({
                "clip_id": out_id,
                "part_id": pd.array(out_part, dtype="int32"),
                "rule_id": rule_id,
                "severity": pd.array([severity] * len(out_id), dtype="int32"),
                "message": out_msg,
            })

    return need.mapInPandas(check_batches, _OUT_SCHEMA).unionByName(t_viol)


def transcript_distance(clips: DataFrame, clips_ref: DataFrame,
                        id_col: str = "clip_id",
                        part_col: str = "part_id",
                        ref_col: str = "transcript_ref") -> DataFrame:
    """Levenshtein distance between each clip's transcript and its
    reference — the ASR-tolerance generalization of the equality
    branch in payload_violations (reference analog: equal.cc's exact
    equality; a WER-style pipeline gates on dist ≤ k instead of
    dist = 0, tolerating transcription variance).

    Output: (clip_id, part_id, dist) with dist NULL when either side
    is NULL. Pure JVM — F.levenshtein is a codegen expression, the
    scans are pruned to three narrow columns per side, and the join is
    the same clip_id equi-join shape as the transcript branch, so it
    is exchange-free over clip_id-bucketed tables.
    """
    t = _transcript_join(clips, clips_ref, id_col, part_col,
                         F.col("transcript"), F.col(ref_col))
    return t.select("clip_id", "part_id",
                    F.levenshtein("_t", "_tr").alias("dist"))


def _word_lev(a: list[str], b: list[str]) -> int:
    """Word-level Levenshtein distance via a numpy DP whose inner loop
    is vectorized over the reference dimension: the sequential
    next[j-1]+1 dependency collapses into one minimum.accumulate scan
    (next[j] − j is the running prefix-min of the candidate costs −
    their index). One O(|b|) vector pass per probe word."""
    if not a:
        return len(b)
    if not b:
        return len(a)
    vocab: dict[str, int] = {}
    ac = [vocab.setdefault(w, len(vocab)) for w in a]
    bc = np.array([vocab.setdefault(w, len(vocab)) for w in b])
    m = bc.size
    idx = np.arange(1, m + 1)
    prev = np.arange(m + 1)
    for i, wa in enumerate(ac):
        tent = np.minimum(prev[1:] + 1, prev[:-1] + (bc != wa))
        g = np.minimum.accumulate(np.concatenate(([i + 1], tent - idx)))
        prev = g + np.arange(m + 1)
    return int(prev[m])


def wer(clips: DataFrame, clips_ref: DataFrame,
        id_col: str = "clip_id", part_col: str = "part_id",
        ref_col: str = "transcript_ref") -> DataFrame:
    """Word error rate — the ASR-standard metric: word-level edit
    distance between each clip's transcript and its reference, divided
    by the reference word count. Words are whitespace-separated tokens
    (runs collapse, leading/trailing ignored), case-sensitive.

    Output: (clip_id, part_id, n_ref_words, dist, wer); dist NULL when
    either side is NULL, wer additionally NULL for an empty reference.
    The join is the same pruned clip_id equi-join as
    transcript_distance (exchange-free over bucketed tables); the DP
    itself crosses into Python because word-level alignment is not a
    JVM expression (Spark's levenshtein is char-level and its chr()
    wraps at 256, so no word→char encoding is faithful JVM-side — the
    DuckDB oracle uses exactly that encoding, full-Unicode there).
    One Arrow batch pass, numpy-vectorized inner loop (_word_lev).
    """
    t = _transcript_join(clips, clips_ref, id_col, part_col,
                         F.col("transcript"), F.col(ref_col))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_out, d_out, w_out = [], [], []
            for tt, rr in zip(pdf["_t"], pdf["_tr"]):
                n_ref = None if rr is None else len(rr.split())
                if tt is None or rr is None:
                    d = w = None
                else:
                    d = _word_lev(tt.split(), rr.split())
                    w = round(d / n_ref, 4) if n_ref else None
                n_out.append(n_ref)
                d_out.append(d)
                w_out.append(w)
            yield pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "part_id": pdf["part_id"],
                "n_ref_words": pd.array(n_out, dtype="Int64"),
                "dist": pd.array(d_out, dtype="Int64"),
                "wer": pd.array(w_out, dtype="Float64")})

    return t.mapInPandas(
        run, "clip_id string, part_id int, n_ref_words bigint, "
             "dist bigint, wer double")


def transcript_violations(clips: DataFrame, clips_ref: DataFrame,
                          check, id_col: str = "clip_id",
                          part_col: str = "part_id") -> DataFrame:
    """Violation rows for an x-transcript check (TranscriptCheck):
    ASR-tolerance bounds vs the reference transcript — char edit
    distance > max_dist and/or word error rate > max_wer (both
    STRICT: a transcript exactly at the bound passes, same convention
    as every range rule). NULL on either side passes (`required` owns
    absence).

    Plan: one pruned 3-column clip_id equi-join feeds both branches
    (exchange-free over bucketed tables). The max_dist branch is pure
    JVM — F.levenshtein in codegen, no Python anywhere. The max_wer
    branch crosses into Arrow only for rows that are not byte-equal to
    their reference (identity fast-path: equal strings have WER 0 —
    the same prefilter discipline as the payload decode branch), and
    an empty reference leaves WER undefined → pass.

    ``check.normalize`` applies ASR-style text normalization
    (textops.normalize_transcript: lowercase, punctuation → space,
    collapse) to BOTH sides BEFORE any measurement — it runs as a
    pure Column expression inside the same codegen span as the join
    projection, so the Arrow branch sees already-normalized strings
    and the identity fast-path gets STRONGER (case/punct-only edits
    collapse to equality and never cross into Python).
    """
    rule_id, severity = check.rule_id, int(check.severity)
    t_col, tr_col = F.col(check.column), F.col(check.ref_col)
    if getattr(check, "normalize", False):
        from canned_yaml_spark.textops import normalize_transcript
        t_col = normalize_transcript(t_col)
        tr_col = normalize_transcript(tr_col)
    base = _transcript_join(clips, clips_ref, id_col, part_col,
                            t_col, tr_col) \
        .filter(F.col("_t").isNotNull() & F.col("_tr").isNotNull())

    parts = []
    if check.max_dist is not None:
        d = F.levenshtein("_t", "_tr")
        parts.append(
            base.filter(d > check.max_dist)
                .select("clip_id", "part_id",
                        F.lit(rule_id).alias("rule_id"),
                        F.lit(severity).alias("severity"),
                        F.format_string(
                            f"edit distance %d > {check.max_dist}",
                            d).alias("message")))
    if check.max_wer is not None:
        cand = base.filter(F.col("_t") != F.col("_tr"))
        max_wer = float(check.max_wer)

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                ids, ps, msgs = [], [], []
                for cid, p, tt, rr in zip(pdf["clip_id"], pdf["part_id"],
                                          pdf["_t"], pdf["_tr"]):
                    ref_words = rr.split()
                    if not ref_words:
                        continue                     # WER undefined → pass
                    w = _word_lev(tt.split(), ref_words) / len(ref_words)
                    if w > max_wer:
                        ids.append(cid)
                        ps.append(p)
                        msgs.append(f"WER {round(w, 4)} > {max_wer}")
                yield pd.DataFrame({
                    "clip_id": ids,
                    "part_id": pd.array(ps, dtype="int32"),
                    "rule_id": [rule_id] * len(ids),
                    "severity": pd.array([severity] * len(ids),
                                         dtype="int32"),
                    "message": msgs})

        parts.append(cand.mapInPandas(run, _OUT_SCHEMA))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: audio_stats output schema — one metrics row per input clip
_STATS_SCHEMA = ("clip_id string, part_id int, n_samples bigint, "
                 "peak int, dc_offset double, rms_db double, "
                 "clip_frac double, silence_frac double")


def audio_stats(clips: DataFrame,
                byte_col: str = "bytes", codec_col: str = "codec",
                id_col: str = "clip_id", part_col: str = "part_id",
                clip_thresh: int = 32000, silence_thresh: int = 16,
                decoder=None) -> DataFrame:
    """Per-clip audio quality metrics: sample count, peak |amplitude|,
    DC offset, RMS level in dBFS, clipping fraction (|s| ≥
    clip_thresh) and silence fraction (|s| ≤ silence_thresh).

    These are the audio analogues of textops.quality_score — the
    columns a training-data pipeline filters on before a clip is worth
    transcribing. One Arrow pass, no reference table, no join: the
    plan is scan → mapInPandas → done, embarrassingly parallel at any
    scale. The numpy math is exact-int64 length-grouped matrix
    reductions shared with the SNR path (audio.batch_stats).

    decoder: (bytes, codec) → PCM16 ndarray or None; defaults to the
    engine codec registry (audio.decode). Pass a custom one for other
    containers (e.g. multimodal.wav_pcm for RIFF/WAVE). Undecodable
    rows surface as n_samples NULL (not dropped) so callers can count
    them; empty-but-decodable clips are n_samples 0.
    """
    dec_fn = decoder or decode
    src = clips.select(
        F.col(id_col).alias("clip_id"),
        F.col(part_col).alias("part_id"),
        F.col(byte_col).alias("_bytes"),
        F.col(codec_col).alias("_codec"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            payloads = pdf["_bytes"].to_numpy()
            codecs = pdf["_codec"].to_numpy()
            decs = [None] * n
            for i in range(n):
                if payloads[i] is not None:
                    decs[i] = dec_fn(payloads[i], codecs[i])
            s = batch_stats(decs, clip_thresh, silence_thresh)
            ns = s["n_samples"]
            yield pd.DataFrame({
                "clip_id": pdf["clip_id"],
                "part_id": pdf["part_id"].astype("int32"),
                "n_samples": pd.array(
                    [None if v < 0 else int(v) for v in ns],
                    dtype="Int64"),
                "peak": pd.array(
                    [int(p) if v > 0 else None
                     for v, p in zip(ns, s["peak"])], dtype="Int32"),
                "dc_offset": s["dc_offset"],
                "rms_db": s["rms_db"],
                "clip_frac": s["clip_frac"],
                "silence_frac": s["silence_frac"],
            })

    return src.mapInPandas(run, _STATS_SCHEMA)


def audio_stats_violations(clips: DataFrame, check,
                           id_col: str = "clip_id",
                           part_col: str = "part_id") -> DataFrame:
    """Violation rows for clips breaching an AudioStatsCheck's
    quality thresholds (x-audio-stats): clipping fraction, silence
    fraction, RMS dBFS floor. One row per breached threshold per clip.

    Unknown codecs skip (the enum/referential checks own those — same
    contract as payload_violations); undecodable payloads of KNOWN
    codecs violate. An all-silence clip has no defined RMS level
    (rms_db NULL) and counts as below any min_rms_db floor. No
    reference table and no join: scan → Arrow pass → filter, so the
    plan is exchange-free at any scale.
    """
    rule_id = check.rule_id
    severity = int(check.severity)
    src = clips.filter(F.col("codec").isin(*sorted(_MAGIC)))
    s = audio_stats(src, byte_col=check.column, id_col=id_col,
                    part_col=part_col, clip_thresh=check.clip_thresh,
                    silence_thresh=check.silence_thresh)
    msgs = [F.when(F.col("n_samples").isNull(),
                   F.lit("payload undecodable for audio stats"))]
    if check.max_clip_frac is not None:
        msgs.append(F.when(
            F.col("clip_frac") > float(check.max_clip_frac),
            F.concat(F.lit("clipping fraction "),
                     F.round("clip_frac", 4).cast("string"),
                     F.lit(f" > {check.max_clip_frac}"))))
    if check.max_silence_frac is not None:
        msgs.append(F.when(
            F.col("silence_frac") > float(check.max_silence_frac),
            F.concat(F.lit("silence fraction "),
                     F.round("silence_frac", 4).cast("string"),
                     F.lit(f" > {check.max_silence_frac}"))))
    if check.min_rms_db is not None:
        msgs.append(F.when(
            F.col("n_samples").isNotNull()
            & (F.col("rms_db").isNull()           # silent clip: no level
               | (F.col("rms_db") < float(check.min_rms_db))),
            F.concat(F.lit("RMS "),
                     F.coalesce(F.round("rms_db", 1).cast("string"),
                                F.lit("-inf")),
                     F.lit(f" dBFS < {check.min_rms_db}"))))
    exploded = s.select(
        "clip_id", "part_id",
        F.explode(F.array_compact(F.array(*msgs))).alias("message"))
    return exploded.select(
        "clip_id", "part_id",
        F.lit(rule_id).alias("rule_id"),
        F.lit(severity).alias("severity"),
        "message")

"""Synthetic fixture tables (FIXTURES.md), generated *distributed*.

One row is a pure function of (seed-fixed constants, row index) — the
same integer arithmetic as derive.py — so any executor regenerates any
row identically on retry, and tests can compute golden expectations
instead of storing them. Generation runs through
``spark.range(n).mapInPandas`` (Arrow batches, numpy synth): at
local[32] all cores generate in parallel; on a cluster the same code
fans out across executors.

Injection plan (FIXTURES.md table 2): every 10th index carries exactly
one defect, cycling through 9 row-level rules; partition
``DRIFT_PART`` additionally gets a +5000 ms duration shift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from canned_yaml_spark import audio
from canned_yaml_spark.derive import (
    CODEC_DIM_ROWS, DRIFT_PART, DUR_MULT, INJECT_EVERY, N_PARTS,
    SAMPLE_RATES, WORDS,
)

#: row-level injected rules, cycled by (idx // 10) % 9
RULES = (
    "sr_range", "dur_range", "codec_enum", "codec_ref", "id_pattern",
    "id_dup", "transcript_null", "transcript_len", "bytes_corrupt",
)
N_RULES = len(RULES)

CLIPS_SCHEMA = ("clip_id string, bytes binary, sr_hz int, dur_ms int, "
                "codec string, transcript string, part_id int")
REF_SCHEMA = "clip_id string, pcm_ref binary, transcript_ref string"


def _base_fields(k: int) -> tuple[str, int, int, str, str, int]:
    """Clean (pre-injection) row for index k — same arithmetic family
    as derive.clips_select so both corpora behave alike."""
    r_codec = (k * 2654435761) % 1000
    r_sr = (k * 40503 + 17) % 5
    r_dur = (k * DUR_MULT + 1) % 9801
    r_word = (k * 7919) % len(WORDS)
    r_nw = (k * 104729) % 40 + 1
    clip_id = f"clip_{k:010d}"
    sr_hz = SAMPLE_RATES[r_sr]
    dur_ms = 200 + r_dur
    part_id = k % N_PARTS
    if part_id == DRIFT_PART:
        dur_ms += 5000
    codec = ("pcm_s16le" if r_codec < 700 else
             "flac" if r_codec < 850 else
             "opus" if r_codec < 950 else "mp3")
    transcript = (WORDS[r_word] + " ") * r_nw
    return clip_id, sr_hz, dur_ms, codec, transcript.rstrip(), part_id


def injected_rule(k: int) -> str | None:
    """Which rule (if any) row k violates — the computable golden plan."""
    if k % INJECT_EVERY != 0:
        return None
    return RULES[(k // INJECT_EVERY) % N_RULES]


def make_row(k: int, max_samples: int, inject: bool
             ) -> tuple[tuple, tuple]:
    """(clips row, clips_ref row) for index k."""
    clip_id, sr_hz, dur_ms, codec, transcript, part_id = _base_fields(k)
    pcm = audio.synth_pcm(k, sr_hz, dur_ms, max_samples)
    rule = injected_rule(k) if inject else None

    enc_codec = codec
    if rule == "codec_enum":
        codec = "wav"
    elif rule == "codec_ref":
        codec = "vorbis"
    data = audio.encode(pcm, enc_codec)

    if rule == "sr_range":
        sr_hz = 3000 if k % 20 == 0 else 96000
    elif rule == "dur_range":
        dur_ms = 0 if k % 20 == 0 else 86_400_000
    elif rule == "id_pattern":
        clip_id = f"CLIP-{k}"
    elif rule == "id_dup" and k > 0:
        clip_id = f"clip_{k - 1:010d}"
    elif rule == "transcript_null":
        transcript = None
    elif rule == "transcript_len":
        transcript = "" if k % 20 == 0 else "x" * 5000
    elif rule == "bytes_corrupt":
        data = data[: len(data) // 2]

    clips_row = (clip_id, bytearray(data), sr_hz, dur_ms, codec,
                 transcript, part_id)
    ref_row = (f"clip_{k:010d}", bytearray(pcm.astype("<i2").tobytes()),
               (WORDS[(k * 7919) % len(WORDS)] + " ")
               * ((k * 104729) % 40 + 1))
    ref_row = (ref_row[0], ref_row[1], ref_row[2].rstrip())
    return clips_row, ref_row


def _gen_clips(max_samples: int, inject: bool):
    cols = ["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
            "transcript", "part_id"]

    def gen(batches):
        for pdf in batches:
            rows = [make_row(int(k), max_samples, inject)[0]
                    for k in pdf["id"]]
            out = pd.DataFrame(rows, columns=cols)
            out["sr_hz"] = out["sr_hz"].astype("int32")
            out["dur_ms"] = out["dur_ms"].astype("int32")
            out["part_id"] = out["part_id"].astype("int32")
            yield out
    return gen


def _gen_ref(max_samples: int):
    def gen(batches):
        for pdf in batches:
            rows = [make_row(int(k), max_samples, False)[1]
                    for k in pdf["id"]]
            yield pd.DataFrame(rows, columns=["clip_id", "pcm_ref",
                                              "transcript_ref"])
    return gen


def _gen_ref_cert(max_samples: int):
    """Certified-ingest reference rows: alongside the raw PCM, the row
    carries the codec the payload was validated AS at ingest
    (codec_ref), the exact payload bytes that passed that validation
    (payload_ref — hashed to enc_hash/enc_len by the caller, never
    stored), and a losslessly-compressed copy of the PCM (pcm_z) so a
    residual byte-fetch moves compressed bytes through the bus."""
    import zlib

    def gen(batches):
        for pdf in batches:
            out = []
            for k in pdf["id"]:
                clips_row, ref_row = make_row(int(k), max_samples, False)
                out.append((ref_row[0], ref_row[1], ref_row[2],
                            clips_row[4], clips_row[1],
                            bytearray(zlib.compress(bytes(ref_row[1]), 1))))
            yield pd.DataFrame(out, columns=[
                "clip_id", "pcm_ref", "transcript_ref",
                "codec_ref", "payload_ref", "pcm_z"])
    return gen


def clips_df(spark: SparkSession, n_rows: int, *, inject: bool = True,
             max_samples: int = 2048, partitions: int | None = None,
             start: int = 0) -> DataFrame:
    """start: first row index — rows are pure functions of the index,
    so [0,n) equals the concatenation of chunked [start, start+k)
    generations (used to bound the build-time shuffle footprint)."""
    parts = partitions or max(8, min(64, n_rows // 10_000 or 8))
    return (spark.range(start, start + n_rows, numPartitions=parts)
            .mapInPandas(_gen_clips(max_samples, inject), CLIPS_SCHEMA))


def clips_ref_df(spark: SparkSession, n_rows: int, *,
                 max_samples: int = 2048,
                 partitions: int | None = None,
                 start: int = 0,
                 certified: bool = False) -> DataFrame:
    """certified=True models the production ingest posture: the ref row
    stores (codec_ref, enc_hash, enc_len) — the codec and xxhash64 +
    length of the payload bytes that passed validation at ingest — and
    pcm_z, a zlib copy of the reference PCM. payload_violations'
    certified plan then proves unchanged payloads by digest alone (any
    codec, not just pcm) and fetches compressed reference bytes for the
    damaged residual only. enc_hash is computed by Spark's own xxhash64
    so the probe-side comparison is definitionally the same function;
    the raw payload_ref bytes never cross a shuffle or reach storage."""
    from pyspark.sql import functions as F
    parts = partitions or max(8, min(64, n_rows // 10_000 or 8))
    rng = spark.range(start, start + n_rows, numPartitions=parts)
    if not certified:
        return rng.mapInPandas(_gen_ref(max_samples), REF_SCHEMA)
    cert_schema = (REF_SCHEMA + ", codec_ref string, "
                   "payload_ref binary, pcm_z binary")
    return (rng.mapInPandas(_gen_ref_cert(max_samples), cert_schema)
               .withColumn("enc_hash", F.xxhash64("payload_ref"))
               .withColumn("enc_len", F.length("payload_ref"))
               .drop("payload_ref"))


def codec_dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(CODEC_DIM_ROWS,
                                 "codec string, lossy boolean, max_sr_hz int")


def reference_hist(buckets: int = 20, lo: float = 0.0,
                   hi: float = 12000.0) -> pd.DataFrame:
    """FIXTURES.md table 5: expected dur_ms fractions of the *clean*
    generator (uniform over [200, 10001)), computed analytically."""
    width = (hi - lo) / buckets
    lo_d, hi_d = 200.0, 10001.0
    span = hi_d - lo_d
    rows = []
    for b in range(buckets):
        b_lo, b_hi = lo + b * width, lo + (b + 1) * width
        if b == buckets - 1:
            b_hi = float("inf")   # top bucket is clamped-open
        overlap = max(0.0, min(b_hi, hi_d) - max(b_lo, lo_d))
        rows.append((b, overlap / span))
    return pd.DataFrame(rows, columns=["bucket", "expected_frac"])


def reference_hist_df(spark: SparkSession, buckets: int = 20,
                      lo: float = 0.0, hi: float = 12000.0) -> DataFrame:
    return spark.createDataFrame(reference_hist(buckets, lo, hi))


def reference_dur_sample(n: int = 9801) -> np.ndarray:
    """Clean dur_ms distribution sample for the KS check: the full
    generator lattice 200 + (k·DUR_MULT + 1) mod 9801 (gcd(M, 9801)=1
    → covers every residue exactly once at n=9801)."""
    k = np.arange(n, dtype=np.int64)
    return (200 + (k * DUR_MULT + 1) % 9801).astype(np.float64)


# ---------------------------------------------------------- golden plan
def golden_rule_counts(n_rows: int) -> dict[str, int]:
    """Exact expected injected-defect counts for a clips table of
    n_rows (computable golden output, FIXTURES.md)."""
    counts = {r: 0 for r in RULES}
    for k in range(0, n_rows, INJECT_EVERY):
        counts[RULES[(k // INJECT_EVERY) % N_RULES]] += 1
    return counts


def bucketed_table(spark: SparkSession, df: DataFrame, name: str,
                   location: str, files_per_bucket: int = 1) -> DataFrame:
    """Write `df` as table `name` at `location`, bucketed and sorted by
    clip_id into 4 buckets — the storage posture of README's "Design
    for 100 TB". One file per bucket comes from repartitioning on the
    bucket key before the write; more come from a round-robin
    repartition into that many write tasks (a chunk-appended layout).
    """
    split = "4, clip_id" if files_per_bucket == 1 else str(files_per_bucket)
    df.createOrReplaceTempView(f"{name}_src")
    spark.sql(f"""
        CREATE TABLE {name} USING PARQUET
        CLUSTERED BY (clip_id) SORTED BY (clip_id) INTO 4 BUCKETS
        LOCATION '{location}'
        AS SELECT /*+ REPARTITION({split}) */ * FROM {name}_src""")
    spark.catalog.dropTempView(f"{name}_src")
    return spark.table(name)

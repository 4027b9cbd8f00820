"""Payload validation through mapInPandas (input_hint per-row invariant)."""

import pyspark.sql.functions as F

from canned_yaml_spark import payload
from canned_yaml_spark.fixtures import golden_rule_counts, injected_rule
from tests.conftest import N_SMALL


def test_payload_violations_match_plan(spark, clips, clips_ref, suite, golden):
    pc = suite.payload_checks[0]
    v = payload.payload_violations(clips, clips_ref, pc).cache()

    snr_fail = v.filter(F.col("message").startswith("SNR") |
                        F.col("message").startswith("payload")).count()
    # bytes_corrupt rows fail decode/SNR; id_dup rows join the OTHER
    # clip's reference → SNR mismatch (semantically: duplicate id,
    # wrong reference)
    assert snr_fail == golden["bytes_corrupt"] + golden["id_dup"]

    t_fail = v.filter(F.col("message").startswith("transcript")).count()
    assert t_fail == (golden["transcript_null"] + golden["transcript_len"]
                      + golden["id_dup"])


def test_payload_clean_passes(spark, suite):
    from canned_yaml_spark import fixtures
    pc = suite.payload_checks[0]
    clips = fixtures.clips_df(spark, 300, inject=False)
    ref = fixtures.clips_ref_df(spark, 300)
    assert payload.payload_violations(clips, ref, pc).count() == 0


def test_id_pattern_rows_drop_out_of_join(spark, clips, clips_ref, suite,
                                          golden):
    # CLIP-n ids have no reference row → inner join drops them; their
    # failure is owned by the pattern check, not the payload check
    pc = suite.payload_checks[0]
    joined = clips.join(clips_ref.select("clip_id"), "clip_id", "inner")
    assert joined.count() == N_SMALL - golden["id_pattern"]


def test_injection_plan_is_pure():
    g = golden_rule_counts(N_SMALL)
    assert sum(g.values()) == N_SMALL // 10
    assert injected_rule(0) == "sr_range"
    assert injected_rule(5) is None
    assert injected_rule(10) == "dur_range"


def test_certified_path_matches_eager(spark, clips, suite):
    # a ref table carrying the ingest certificate (codec_ref +
    # enc_hash/enc_len of the payload bytes that passed validation at
    # ingest, + compressed pcm_z) must produce the IDENTICAL violation
    # set: unchanged payloads of ANY codec fast-pass by digest, damaged
    # rows fall through to decode/SNR against the decompressed pcm_z
    from canned_yaml_spark import fixtures
    from tests.conftest import N_SMALL
    pc = suite.payload_checks[0]
    ref_plain = fixtures.clips_ref_df(spark, N_SMALL)
    ref_cert = fixtures.clips_ref_df(spark, N_SMALL, certified=True)
    assert payload.select_payload_plan(ref_cert) == "certified"
    # a ref table carrying only a PCM digest (no ingest certificate)
    # proves nothing about lossy payloads: it selects the eager plan
    ref_digest = (ref_plain
                  .withColumn("pcm_hash", F.xxhash64("pcm_ref"))
                  .withColumn("pcm_len", F.length("pcm_ref")))
    assert payload.select_payload_plan(ref_digest) == "eager"
    assert payload.select_payload_plan(ref_plain) == "eager"
    want = {(r.clip_id, r.rule_id, r.message)
            for r in payload.payload_violations(clips, ref_plain, pc)
            .collect()}
    got = {(r.clip_id, r.rule_id, r.message)
           for r in payload.payload_violations(clips, ref_cert, pc)
           .collect()}
    assert got == want and want

    # the certified plan must never read raw pcm_ref off storage: join
    # 1 scans the certificate columns, join 2 the compressed pcm_z —
    # assert it at the parquet scan (ReadSchema), where pruning counts
    import re
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        ref_cert.write.parquet(f"{td}/ref")
        ref_pq = spark.read.parquet(f"{td}/ref")
        plan = payload.payload_violations(clips, ref_pq, pc) \
            ._jdf.queryExecution().executedPlan().toString()
        schemas = re.findall(r"ReadSchema: struct<[^>\n]*", plan)
        ref_scans = [s for s in schemas if "enc_hash" in s or "pcm" in s]
        assert ref_scans
        assert all("pcm_ref" not in s for s in ref_scans)
        assert any("pcm_z" in s for s in ref_scans)


def test_certified_catches_codec_label_tamper(spark, suite):
    # bytes intact but the codec column flipped to ANOTHER decodable
    # codec post-ingest: the digest matches the bytes, so only the
    # codec_ref conjunct forces the row down the decode path — where it
    # must fail exactly as the eager plan fails it (decode under the
    # wrong codec → undecodable). A certified plan without the
    # codec_ref check would silently pass these rows.
    from canned_yaml_spark import fixtures
    pc = suite.payload_checks[0]
    clips = fixtures.clips_df(spark, 400, inject=False)
    tampered = clips.withColumn(
        "codec",
        F.when(F.col("clip_id").substr(-1, 1) == "7",
               F.lit("flac")).otherwise(F.col("codec")))
    ref_cert = fixtures.clips_ref_df(spark, 400, certified=True)
    want = sorted(
        (r.clip_id, r.message) for r in payload.payload_violations(
            tampered, fixtures.clips_ref_df(spark, 400), pc).collect())
    got = sorted(
        (r.clip_id, r.message) for r in payload.payload_violations(
            tampered, ref_cert, pc).collect())
    assert got == want
    # the tamper set is non-empty: every clean pcm row ending in 7 now
    # decodes as flac and fails magic
    assert any("undecodable" in m for _, m in got)


def test_spec_can_forbid_digest_fast_path(spark, clips, suite):
    # x-payload.digest_fast_path: false pins byte-exact semantics — no
    # digest plan may be auto-selected even over a certified ref table
    # (ADVICE r4: the fast path trades byte-exactness for a 2^-64
    # false-pass bound; the spec owns that trade, not the layout)
    from canned_yaml_spark import compile_spec, fixtures
    spec = {
        "type": "object",
        "properties": {
            "bytes": {"x-payload": {"snr_db_min": 30.0,
                                    "digest_fast_path": False}},
        },
    }
    pc = compile_spec(spec, clips.schema).payload_checks[0]
    assert pc.allow_digest is False
    ref_cert = fixtures.clips_ref_df(spark, 200, certified=True)
    plan = payload.payload_violations(
        clips.limit(200), ref_cert, pc) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "enc_hash" not in plan and "xxhash64" not in plan
    # default spec keeps the certified digest plan available
    assert suite.payload_checks[0].allow_digest is True


def test_ref_joins_exchange_free_on_bucketed_tables(spark, suite, codec_dim,
                                                   bucketed, tmp_path):
    # every clips <-> ref join is a shuffle-hash join: it needs only the
    # clip_id distribution, so over bucketed tables it plans no
    # exchange and no sort whether a bucket is one sorted file or
    # several; plain parquet shuffles each side once
    from canned_yaml_spark import fixtures
    from canned_yaml_spark import job as jobmod

    clips = fixtures.clips_df(spark, 300)
    ref = fixtures.clips_ref_df(spark, 300)
    pc = suite.payload_checks[0]
    layouts = {
        "single": (bucketed(clips, "pay_c1"), bucketed(ref, "pay_r1")),
        "multi": (bucketed(clips, "pay_c2", files_per_bucket=2),
                  bucketed(ref, "pay_r2", files_per_bucket=2)),
    }
    clips.write.parquet(str(tmp_path / "pay_c"))
    ref.write.parquet(str(tmp_path / "pay_r"))
    layouts["plain"] = (spark.read.parquet(str(tmp_path / "pay_c")),
                        spark.read.parquet(str(tmp_path / "pay_r")))

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    rows = {}
    for name, (c, r) in layouts.items():
        v = payload.payload_violations(c, r, pc)
        p = plan_of(v)
        assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p, p
        if name == "plain":
            assert "Exchange hashpartitioning(clip_id" in p, p
        else:
            assert "Exchange" not in p and "Sort [" not in p, p
        rows[name] = sorted(map(tuple, v.collect()))
        jp = plan_of(jobmod.all_violations(
            c, suite, dims={"codec_dim": codec_dim}, clips_ref=r))
        assert "SortMergeJoin" not in jp, jp
    assert rows["single"] == rows["multi"] == rows["plain"]
    assert rows["plain"]


def test_audio_stats_exact_values(spark):
    # hand-computable clips through the public operator: a known ramp,
    # a constant (pure DC), an empty clip, an undecodable payload, and
    # a clipping square wave
    import numpy as np
    ramp = np.arange(-4, 4, dtype="<i2")              # [-4..3]
    dc = np.full(10, 100, dtype="<i2")
    square = np.array([32767, -32768] * 5, dtype="<i2")
    rows = [
        ("ramp", 0, "pcm_s16le", bytearray(ramp.tobytes())),
        ("dc", 0, "pcm_s16le", bytearray(dc.tobytes())),
        ("empty", 1, "pcm_s16le", bytearray(b"")),
        ("bad", 1, "flac", bytearray(b"not flac at all")),
        ("square", 2, "pcm_s16le", bytearray(square.tobytes())),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, part_id int, codec string, bytes binary")
    out = {r.clip_id: r for r in payload.audio_stats(
        df, clip_thresh=32000, silence_thresh=4).collect()}

    r = out["ramp"]
    assert (r.n_samples, r.peak) == (8, 4)
    assert abs(r.dc_offset - ramp.mean()) < 1e-12
    assert abs(r.rms_db - 20 * __import__("math").log10(
        float(np.sqrt((ramp.astype("i8") ** 2).mean())) / 32768.0)) < 1e-9
    assert r.clip_frac == 0.0
    assert r.silence_frac == 1.0                      # every |s| <= 4

    d = out["dc"]
    assert (d.n_samples, d.peak, d.dc_offset) == (10, 100, 100.0)
    assert d.clip_frac == 0.0 and d.silence_frac == 0.0

    e = out["empty"]
    assert e.n_samples == 0
    assert e.peak is None and e.rms_db is None

    b = out["bad"]
    assert b.n_samples is None and b.rms_db is None

    s = out["square"]
    assert (s.n_samples, s.peak) == (10, 32768)
    assert s.clip_frac == 1.0 and s.silence_frac == 0.0
    assert abs(s.rms_db - 20 * __import__("math").log10(
        float(np.sqrt((square.astype("i8") ** 2).mean())) / 32768.0)) < 1e-9


def test_audio_stats_all_silence_rms_null(spark):
    import numpy as np
    z = np.zeros(16, dtype="<i2")
    df = spark.createDataFrame(
        [("z", 0, "pcm_s16le", bytearray(z.tobytes()))],
        "clip_id string, part_id int, codec string, bytes binary")
    r = payload.audio_stats(df).collect()[0]
    assert r.rms_db is None                # log of zero power: NULL, not -inf
    assert r.silence_frac == 1.0 and r.peak == 0 and r.dc_offset == 0.0


def test_transcript_distance_semantics(spark):
    clips = spark.createDataFrame(
        [("a", 0, "kitten"), ("b", 0, "sitting"), ("c", 1, None),
         ("d", 1, "exact")],
        "clip_id string, part_id int, transcript string")
    ref = spark.createDataFrame(
        [("a", "sitting"), ("b", "sitting"), ("c", "anything"),
         ("d", "exact"), ("orphan", "x")],
        "clip_id string, transcript_ref string")
    out = {r.clip_id: r.dist for r in
           payload.transcript_distance(clips, ref).collect()}
    assert out == {"a": 3, "b": 0, "c": None, "d": 0}  # orphan drops
    # pure JVM: no Arrow/Python nodes in the plan
    plan = (payload.transcript_distance(clips, ref)
            ._jdf.queryExecution().executedPlan().toString())
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_audio_stats_violations_spec_check(spark):
    # x-audio-stats as a first-class spec extension: crafted corpus
    # with one clean clip, one clipping, one silent, one undecodable,
    # one unknown-codec (skipped — enum's job)
    import numpy as np
    from canned_yaml_spark import compile_spec

    clean = (np.sin(np.arange(64) * 0.3) * 20000).astype("<i2")
    square = np.array([32700, -32700] * 32, dtype="<i2")
    silent = np.zeros(64, dtype="<i2")
    rows = [
        ("clean", 0, "pcm_s16le", bytearray(clean.tobytes())),
        ("clipper", 0, "pcm_s16le", bytearray(square.tobytes())),
        ("dead_air", 1, "pcm_s16le", bytearray(silent.tobytes())),
        ("broken", 1, "flac", bytearray(b"fLaCgarbage")),
        ("alien", 2, "vorbis", bytearray(b"whatever")),
    ]
    clips = spark.createDataFrame(
        rows, "clip_id string, part_id int, codec string, bytes binary")
    suite = compile_spec("""
type: object
properties:
  bytes:
    x-audio-stats:
      max_clip_frac: 0.05
      max_silence_frac: 0.5
      min_rms_db: -40.0
""")
    [ac] = suite.audio_checks
    assert ac.rule_id == "x-audio-stats.bytes" and ac.min_rms_db == -40.0
    out = payload.audio_stats_violations(clips, ac).collect()
    by_clip = {}
    for r in out:
        assert r.rule_id == "x-audio-stats.bytes"
        assert r.severity == 1               # default WARN
        by_clip.setdefault(r.clip_id, []).append(r.message)
    assert "clean" not in by_clip and "alien" not in by_clip
    assert any("clipping fraction" in m for m in by_clip["clipper"])
    msgs = by_clip["dead_air"]
    assert any("silence fraction" in m for m in msgs)
    assert any("RMS -inf dBFS" in m for m in msgs)
    assert by_clip["broken"] == ["payload undecodable for audio stats"]

    # wired through the job driver: same rows appear in all_violations
    from canned_yaml_spark import job as jobmod
    av = (jobmod.all_violations(clips, suite)
          .filter(F.col("rule_id") == "x-audio-stats.bytes"))
    assert av.count() == len(out)


def test_malformed_reference_pcm_violates_not_crashes(spark, suite):
    # a garbage row in the REFERENCE table (odd byte length — e.g. a
    # truncated object-store read) must surface as a violation, never
    # kill the Arrow task (np.frombuffer ValueError, found at the job
    # boundary). Same guard covers bad zlib in the certified layout.
    import numpy as np
    pc = suite.payload_checks[0]
    good = np.arange(16, dtype="<i2")
    clips = spark.createDataFrame(
        [("a", 0, "pcm_s16le", bytearray(good.tobytes()), "t"),
         ("b", 0, "pcm_s16le", bytearray(good.tobytes()), "t")],
        "clip_id string, part_id int, codec string, bytes binary, "
        "transcript string")
    ref = spark.createDataFrame(
        [("a", bytearray(good.tobytes()), "t"),        # clean
         ("b", bytearray(b"\x01\x02\x03"), "t")],      # odd length
        "clip_id string, pcm_ref binary, transcript_ref string")
    v = payload.payload_violations(clips, ref, pc).collect()
    msgs = {r.clip_id: r.message for r in v}
    assert "a" not in msgs
    assert "reference pcm malformed" in msgs["b"]


def test_payload_gate_closed_form(spark, clips, clips_ref, suite):
    """Pin the exact violation multiset the driver gate's oracle states
    (oracle.sql_payload_snr — ground truth by construction) AND the
    structural margins that make the statement safe."""
    from canned_yaml_spark import audio
    from canned_yaml_spark.fixtures import make_row

    pc = suite.payload_checks[0]
    got = sorted(
        tuple(r) for r in
        payload.payload_violations(clips, clips_ref, pc)
               .select("clip_id", "part_id", "rule_id", "severity")
               .collect())

    expected = []
    for k in range(0, N_SMALL, 10):
        rule = injected_rule(k)
        if rule in ("transcript_null", "transcript_len", "bytes_corrupt"):
            expected.append((f"clip_{k:010d}", k % 64,
                             pc.rule_id, int(pc.severity)))
        elif rule == "id_dup" and k > 0:
            # the injected row carries k's audio+transcript under k-1's
            # id → joins k-1's reference, fails BOTH branches (2 rows)
            row = (f"clip_{k - 1:010d}", k % 64,
                   pc.rule_id, int(pc.severity))
            expected += [row, row]
    assert got == sorted(expected)

    # margin 1: codec-label defects never reach the decode branch —
    # the engine only decodes codecs it knows (_MAGIC); "wav"/"vorbis"
    # rows are owned by the enum / x-ref checks
    assert "wav" not in audio._MAGIC and "vorbis" not in audio._MAGIC

    # margin 2: every id_dup row's SNR against the mis-joined reference
    # is far below the 30 dB threshold (size mismatch → -inf, or two
    # uncorrelated chirp signatures → ≪ 30 dB)
    dup_ks = [k for k in range(10, N_SMALL, 10)
              if injected_rule(k) == "id_dup"]
    assert dup_ks, "fixture must inject id_dup rows"
    import numpy as np
    for k in dup_ks:
        clips_row, _ = make_row(k, 2048, True)
        _, ref_row = make_row(k - 1, 2048, False)
        dec = audio.decode(bytes(clips_row[1]), clips_row[4])
        ref = np.frombuffer(bytes(ref_row[1]), dtype="<i2")
        assert audio.snr_db(ref, dec) < 10.0

    # margin 3: transcript defects always mismatch — the reference
    # transcript is never null/empty/5000-long
    for k in range(0, N_SMALL, 10):
        if injected_rule(k) in ("transcript_null", "transcript_len"):
            _, ref_row = make_row(k, 64, False)
            assert ref_row[2] and 1 <= len(ref_row[2]) <= 4096


def test_g711_gate_margins():
    """The G.711 driver gate's oracle (oracle.sql_g711_snr) states the
    injected ground truth; this pins the margins that make that
    statement safe, over the gate's own closed-form corpus family:
    intact companded clips sit 35-38 dB above reference (5+ dB above
    the 30 dB gate), the zeroed injection sits at ~0 dB (A-law has no true zero —
    its mid-riser decodes 0 to +8 — so the band is |SNR| < 0.1 dB),
    and truncation is a hard -inf (1
    byte/sample → half the samples → length mismatch)."""
    import numpy as np

    from canned_yaml_spark import audio
    from canned_yaml_spark.resample import mod_pcm

    intact, zeroed = [], []
    for k in range(0, 4100, 41):
        n = 600 + k % 997
        codec = "ulaw" if k % 2 == 0 else "alaw"
        ref = mod_pcm(k, n)
        enc = audio.encode(ref, codec)
        intact.append(audio.snr_db(ref, audio.decode(enc, codec)))
        z = audio.encode(np.zeros(n, dtype=np.int16), codec)
        zeroed.append(audio.snr_db(ref, audio.decode(z, codec)))
        assert audio.snr_db(
            ref, audio.decode(enc[: n // 2], codec)) == float("-inf")
    assert 33.0 <= min(intact) and max(intact) <= 40.0
    assert max(abs(s) for s in zeroed) < 0.1


def test_adpcm_gate_margins():
    """Safety margins for the ADPCM driver gate's oracle
    (oracle.sql_adpcm_snr), over the gate's own corpus family: intact
    triangle clips decode 60-66 dB above reference (band also pinned
    in tests/test_audio.py), the zeroed injection decodes to EXACT
    zeros (SNR exactly 0 dB — the encoder's predictor never moves off
    a zero signal), and truncating the container makes the header's
    sample count disagree with the body → decode refuses (None), a
    hard undecodable violation."""
    import numpy as np

    from canned_yaml_spark import audio
    from canned_yaml_spark.resample import tri_pcm

    for k in range(0, 4100, 47):
        n = 600 + k % 997
        ref = tri_pcm(k, n)
        enc = audio.encode(ref, "adpcm_ima")
        assert 60.0 <= audio.snr_db(
            ref, audio.decode(enc, "adpcm_ima")) <= 66.0
        z = audio.encode(np.zeros(n, dtype=np.int16), "adpcm_ima")
        assert audio.snr_db(ref, audio.decode(z, "adpcm_ima")) == 0.0
        assert audio.decode(enc[: len(enc) // 2], "adpcm_ima") is None


def _ref_word_lev(a, b):
    """Plain-loop reference DP (textbook recurrence)."""
    dp = list(range(len(b) + 1))
    for i, wa in enumerate(a, 1):
        new = [i]
        for j, wb in enumerate(b, 1):
            new.append(min(dp[j] + 1, new[j - 1] + 1,
                           dp[j - 1] + (wa != wb)))
        dp = new
    return dp[len(b)]


def test_word_lev_hand_cases():
    wl = payload._word_lev
    assert wl([], []) == 0
    assert wl(["a"], []) == 1
    assert wl([], ["a", "b"]) == 2
    assert wl(["the", "cat"], ["the", "cat"]) == 0
    assert wl(["the", "cat"], ["the", "hat"]) == 1
    assert wl(["the", "cat", "sat"], ["the", "sat"]) == 1
    assert wl(["a", "b", "c"], ["c", "b", "a"]) == 2
    # no shared words → distance is max length
    assert wl(["x", "y", "z"], ["p", "q"]) == 3


def test_word_lev_matches_reference_dp():
    import random
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(12)]
    for _ in range(200):
        a = [rng.choice(vocab) for _ in range(rng.randrange(0, 25))]
        b = [rng.choice(vocab) for _ in range(rng.randrange(0, 25))]
        assert payload._word_lev(a, b) == _ref_word_lev(a, b)


def test_wer_operator_semantics(spark):
    clips = spark.createDataFrame(
        [("c0", "the cat  sat", 0),        # double space collapses
         ("c1", None, 0),                  # NULL transcript
         ("c2", "a b c", 1),
         ("c3", "anything", 1)],
        "clip_id string, transcript string, part_id int")
    ref = spark.createDataFrame(
        [("c0", "the cat sat"), ("c1", "x"), ("c2", "a c"),
         ("c3", "")],                      # empty reference
        "clip_id string, transcript_ref string")
    rows = {r.clip_id: r for r in payload.wer(clips, ref).collect()}
    assert (rows["c0"].dist, rows["c0"].wer) == (0, 0.0)
    assert rows["c1"].dist is None and rows["c1"].wer is None
    assert rows["c1"].n_ref_words == 1
    assert (rows["c2"].n_ref_words, rows["c2"].dist, rows["c2"].wer) \
        == (2, 1, 0.5)
    # empty ref: dist defined (insert all), rate undefined
    assert rows["c3"].dist == 1 and rows["c3"].wer is None

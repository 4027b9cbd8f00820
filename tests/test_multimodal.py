"""Multimodal plumbing: binary columns + Arrow feature extraction.
Decoders are deterministic stubs (libs absent); the Spark-side schema,
batching and violation surfaces are real."""

import struct

import numpy as np
import pyspark.sql.functions as F
import pytest

from canned_yaml_spark import multimodal as mm


def encode_video(key: int, n_frames: int = 4, width: int = 4,
                 height: int = 4) -> bytes:
    """A VID1 stub container (the layout in multimodal's docstring)."""
    n = n_frames * width * height
    px = ((np.arange(n) * 11 + key * 17) % 256).astype(np.uint8)
    return (b"VID1" + struct.pack("<HHH", n_frames, width, height)
            + px.tobytes())


@pytest.fixture(scope="module")
def media(spark):
    rows = []
    for k in range(40):
        if k % 3 == 0:
            payload = mm.encode_image(k)
            kind = "image"
        elif k % 3 == 1:
            payload = encode_video(k)
            kind = "video"
        else:
            payload = b"GARBAGE" + bytes([k])
            kind = "unknown"
        if k == 9:          # corrupt container: truncated pixels
            payload = payload[:12]
        rows.append((f"m{k:04d}", k % 4, kind, bytearray(payload)))
    return spark.createDataFrame(
        rows, "media_id string, part_id int, true_kind string, media binary")


def test_meta_extraction(spark, media):
    out = {r.media_id: r for r in mm.extract_media_meta(media).collect()}
    assert len(out) == 40
    ok_img = out["m0000"]
    assert (ok_img.kind, ok_img.ok, ok_img.width, ok_img.height,
            ok_img.channels) == ("image", True, 8, 8, 3)
    ok_vid = out["m0001"]
    assert (ok_vid.kind, ok_vid.ok, ok_vid.n_frames) == ("video", True, 4)
    assert 0 <= ok_vid.mean_luma <= 255
    bad = out["m0009"]                       # truncated image
    assert not bad.ok and "undecodable" in bad.err
    garbage = out["m0002"]
    assert not garbage.ok and garbage.err == "unknown container magic"


def test_kind_detection_matches_truth(spark, media):
    j = (mm.extract_media_meta(media)
         .join(media.select("media_id", "true_kind"), "media_id"))
    assert j.filter((F.col("kind") != F.col("true_kind"))
                    & (F.col("media_id") != "m0009")).count() == 0


def test_frame_sampling(spark, media):
    frames = mm.frame_sample(media, every=2).collect()
    vids = [r for r in frames if r.media_id == "m0001"]
    assert [r.frame_idx for r in sorted(vids, key=lambda r: r.frame_idx)] \
        == [0, 2]
    assert all(len(r.frame) == 16 for r in vids)   # 4x4 frames


def test_jpeg_magic_routes_to_real_decoder():
    # JPEG is a real codec as of late r5 (jpeg.py): garbage after the
    # magic is cleanly undecodable, a real stream yields metadata
    meta, err = mm.decode_media(b"\xff\xd8\xff\xe0" + b"x" * 16)
    assert meta is None and err.startswith("undecodable")
    meta, err = mm.decode_media(mm.encode_jpeg(8))
    assert err is None and meta["width"] == mm.JPEG_W


def test_png_roundtrip_all_five_filters():
    # encode_png cycles filter type r % 5 per row, so a 5-row image
    # exercises None/Sub/Up/Average/Paeth; filtering is lossless, so
    # the decoded mean must equal the analytic png_pixel mean exactly
    import numpy as np
    for k in (0, 4, 12, 9999):
        meta, err = mm.decode_media(mm.encode_png(k))
        assert err is None
        assert (meta["width"], meta["height"], meta["channels"],
                meta["n_frames"]) == (mm.PNG_W, mm.PNG_H, 3, 1)
        want = mm.png_pixel(k, np.arange(mm.PNG_W * mm.PNG_H * 3)).mean()
        assert abs(meta["mean_luma"] - want) < 1e-9
    # gray + RGBA color types, and >5 rows (filter cycle repeats)
    for ch, w, h in ((1, 7, 10), (4, 3, 6), (3, 16, 16)):
        meta, err = mm.decode_media(mm.encode_png(77, w, h, ch))
        assert err is None, err
        want = mm.png_pixel(77, np.arange(w * h * ch)).mean()
        assert (meta["channels"], meta["width"], meta["height"]) == (ch, w, h)
        assert abs(meta["mean_luma"] - want) < 1e-9


def test_png_parser_rejects_malformed():
    good = mm.encode_png(5)
    # bad signature
    meta, err = mm.decode_media(b"\x89PNG\r\n" + b"x" * 16)
    assert meta is None and "signature" in err
    # truncation lands mid-IDAT → chunk overrun
    meta, err = mm.decode_media(good[: len(good) // 2])
    assert meta is None and "undecodable" in err
    # CRC corruption is detected (flip a byte inside IHDR data)
    bad = bytearray(good)
    bad[18] ^= 0xFF
    meta, err = mm.decode_media(bytes(bad))
    assert meta is None and "CRC mismatch" in err
    # interlaced images are declared unsupported, not mis-decoded
    ihdr = bytearray(good[16:29])              # IHDR data (13 bytes)
    ihdr[12] = 1                               # interlace = Adam7
    rebuilt = good[:8] + mm._png_chunk(b"IHDR", bytes(ihdr)) + good[33:]
    meta, err = mm.decode_media(rebuilt)
    assert meta is None and "unsupported PNG" in err
    # declared-vs-inflated size mismatch (extra scanline appended)
    stream_rows = (1 + mm.PNG_W * 3) * mm.PNG_H + 7
    idat = mm._png_chunk(b"IDAT", __import__("zlib").compress(
        b"\x00" * stream_rows))
    rebuilt = good[:8] + good[8:33] + idat + mm._png_chunk(b"IEND", b"")
    meta, err = mm.decode_media(rebuilt)
    assert meta is None and "inflated stream" in err


def test_wav_roundtrip_real_container():
    # encode_wav emits a spec-conformant RIFF/WAVE; the stdlib wave
    # module (an independent parser) must read it back identically
    import io
    import wave

    import numpy as np
    buf = mm.encode_wav(5)
    with wave.open(io.BytesIO(buf)) as w:
        assert (w.getnchannels(), w.getsampwidth(), w.getframerate()) \
            == (mm.WAV_CH, 2, mm.WAV_SR)
        assert w.getnframes() == mm.WAV_N
        pcm = np.frombuffer(w.readframes(mm.WAV_N), dtype="<i2")
    assert (pcm == mm.wav_sample(5, np.arange(mm.WAV_N))).all()
    # and our own walker agrees
    meta, err = mm.decode_media(buf)
    assert err is None
    assert (meta["channels"], meta["n_frames"]) == (mm.WAV_CH, mm.WAV_N)
    assert abs(meta["mean_luma"] - pcm.mean()) < 1e-9


def test_wav_g711_formats_decode():
    # real-world telephony WAVs: WAVE_FORMAT_MULAW (7) / _ALAW (6)
    # with 8-bit payloads decode through the audioop-cross-checked
    # G.711 codecs; other format tags stay rejected
    import struct

    from canned_yaml_spark import audio

    def g711_wav(code, payload, sr=8000):
        fmt = struct.pack("<HHIIHH", code, 1, sr, sr, 1, 8)
        chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
                  + b"data" + struct.pack("<I", len(payload)) + payload)
        if len(payload) % 2:
            chunks += b"\x00"
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) \
            + b"WAVE" + chunks

    pcm = ((np.arange(300) * 37) % 2048 - 1024).astype(np.int16)
    for code, enc, dec in ((7, audio.ulaw_encode, audio.ulaw_decode),
                           (6, audio.alaw_encode, audio.alaw_decode)):
        comp = enc(pcm).astype(np.uint8).tobytes()
        out, ch = mm.wav_pcm(g711_wav(code, comp))
        assert ch == 1
        assert np.array_equal(out, dec(np.frombuffer(comp, np.uint8)))
        meta, err = mm.decode_media(g711_wav(code, comp))
        assert err is None and meta["n_frames"] == 300
    m, e = mm.decode_media(g711_wav(3, b"\x00" * 10))
    assert m is None and "unsupported WAV" in e


def test_wav_walker_rejects_malformed():
    buf = mm.encode_wav(5)
    _, err = mm.decode_media(buf[: len(buf) // 2])      # truncated
    assert err and "undecodable" in err
    # PCM float format (format tag 3) is out of scope → undecodable
    bad_fmt = bytearray(buf)
    fmt_off = buf.index(b"fmt ") + 8
    bad_fmt[fmt_off] = 3
    _, err = mm.decode_media(bytes(bad_fmt))
    assert err and "unsupported WAV" in err


def test_media_corpus_meta_matches_python(spark):
    # the derived corpus decodes to exactly what the pure-python stub
    # computes (the DuckDB oracle re-derives the same analytically)
    from canned_yaml_spark import multimodal
    media = multimodal.media_corpus_df(spark, "/root/testdata/sf0.001")
    meta = {r.media_id: r for r in
            multimodal.extract_media_meta(media).collect()}
    assert len(meta) == 1500
    ok = [r for r in meta.values() if r.ok]
    bad = [r for r in meta.values() if not r.ok]
    assert len(bad) == 150                     # every 10th corrupted
    assert all(r.err is None for r in ok)
    for k in (1, 3, 7, 10, 23):
        mid, _, buf = multimodal.media_row(k)
        want, err = multimodal.decode_media(bytes(buf))
        got = meta[mid]
        if want is None:
            assert not got.ok and got.err
        else:
            assert got.width == want["width"]
            assert abs(got.mean_luma - want["mean_luma"]) < 1e-9


def test_wav_keys_where_selects_exactly_the_wav_rows(spark):
    # the exported key predicate and media_row's kind mapping must agree
    # on every key: under-selection would silently drop WAV rows from
    # the audio_stats query, over-selection would pay extra encodes
    keys = spark.range(256).withColumnRenamed("id", "o_orderkey")
    got = {r.o_orderkey for r in keys.filter(mm.WAV_KEYS_WHERE).collect()}
    want = {k for k in range(256)
            if bytes(mm.media_row(k)[2][:4]) == b"RIFF"}
    assert got == want and len(want) == 64


def test_bmp_roundtrip_real_container():
    # encode_bmp emits a spec-conformant 24-bpp bottom-up BMP; our
    # parser must recover the logical (top-down) pixel content
    import numpy as np
    meta, err = mm.decode_media(mm.encode_bmp(7))
    assert err is None
    assert (meta["width"], meta["height"], meta["channels"],
            meta["n_frames"]) == (mm.BMP_W, mm.BMP_H, 3, 1)
    want = mm.bmp_pixel(7, np.arange(mm.BMP_W * mm.BMP_H * 3)).mean()
    assert abs(meta["mean_luma"] - want) < 1e-9


def test_bmp_padding_bytes_excluded_from_mean():
    # width=1 → 3 pixel bytes/row, stride 4: fill the padding byte with
    # 255 — a parser that slices the stride wrong would average it in
    import struct
    h, stride = 2, 4
    rows = bytes([10, 20, 30, 255]) + bytes([40, 50, 60, 255])
    info = struct.pack("<IiiHHIIiiII", 40, 1, h, 1, 24, 0,
                       len(rows), 0, 0, 0, 0)
    buf = (b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
           + info + rows)
    meta, err = mm.decode_media(buf)
    assert err is None
    assert abs(meta["mean_luma"] - (10+20+30+40+50+60) / 6) < 1e-9
    # top-down variant (negative biHeight) must parse identically
    info_td = struct.pack("<IiiHHIIiiII", 40, 1, -h, 1, 24, 0,
                          len(rows), 0, 0, 0, 0)
    buf_td = (b"BM" + struct.pack("<IHHI", 14 + 40 + len(rows), 0, 0, 54)
              + info_td + rows)
    meta_td, err = mm.decode_media(buf_td)
    assert err is None and meta_td["height"] == h
    assert abs(meta_td["mean_luma"] - meta["mean_luma"]) < 1e-9


def test_bmp_parser_rejects_malformed():
    buf = mm.encode_bmp(3)
    _, err = mm.decode_media(buf[: len(buf) // 2])      # truncated
    assert err and "undecodable" in err
    bad_bpp = bytearray(buf)
    bad_bpp[28] = 8                                     # 8 bpp palette
    _, err = mm.decode_media(bytes(bad_bpp))
    assert err and "unsupported BMP" in err
    _, err = mm.decode_media(b"BM" + b"\x00" * 20)      # header torso
    assert err and "undecodable" in err


def test_y4m_roundtrip_real_container():
    import numpy as np
    meta, err = mm.decode_media(mm.encode_y4m(9))
    assert err is None
    assert (meta["width"], meta["height"], meta["channels"],
            meta["n_frames"]) == (mm.Y4M_W, mm.Y4M_H, 3, mm.Y4M_F)
    # mean_luma averages Y planes only: within each 24-byte C420 frame
    # offsets [0,16) are luma
    j = np.arange(mm.Y4M_F * mm.Y4M_FRAME)
    want = mm.y4m_byte(9, j[j % 24 < 16]).mean()
    assert abs(meta["mean_luma"] - want) < 1e-9


def test_y4m_colourspace_variants():
    import numpy as np
    meta, err = mm.decode_media(mm.encode_y4m(3, csp="mono"))
    assert err is None and meta["channels"] == 1
    j = np.arange(mm.Y4M_F * mm.Y4M_W * mm.Y4M_H)
    assert abs(meta["mean_luma"] - mm.y4m_byte(3, j).mean()) < 1e-9
    meta, err = mm.decode_media(mm.encode_y4m(3, csp="444"))
    assert err is None and meta["channels"] == 3
    # C420 needs even dimensions
    _, err = mm.decode_media(mm.encode_y4m(3, width=3, height=4))
    assert err and "even dimensions" in err


def test_y4m_parser_rejects_malformed():
    buf = mm.encode_y4m(5)
    _, err = mm.decode_media(buf[: len(buf) - 10])      # truncated frame
    assert err and "overruns buffer" in err
    _, err = mm.decode_media(b"YUV4MPEG2 W4 H4\n" + b"JUNK")
    assert err and "FRAME marker" in err
    _, err = mm.decode_media(b"YUV4MPEG2 W0 H4\nFRAME\n")
    assert err and "bad dimensions" in err


def test_y4m_frame_sample(spark):
    rows = [("v0", 0, bytearray(mm.encode_y4m(0))),
            ("v1", 1, bytearray(mm.encode_y4m(1)[:77]))]  # truncated
    df = spark.createDataFrame(rows,
                               "media_id string, part_id int, media binary")
    got = {(r.media_id, r.frame_idx): len(r.frame)
           for r in mm.frame_sample(df, every=2).collect()}
    # full stream samples frames 0 and 2 (24 planar bytes each);
    # the truncated stream has one complete frame -> only frame 0,
    # and frame 1's clipped tail is not sampled at every=2
    assert got == {("v0", 0): 24, ("v0", 2): 24, ("v1", 0): 24}


def test_gif_frame_sample(spark):
    # GIF frames sample as COMPOSED RGB rasters (LZW decode + identity
    # palette map): frame bytes must equal the generated indices
    # replicated across RGB; truncated GIFs contribute no rows
    rows = [("g0", 0, bytearray(mm.encode_gif(16))),
            ("g1", 1, bytearray(mm.encode_gif(48)[:60]))]  # truncated
    df = spark.createDataFrame(rows,
                               "media_id string, part_id int, media binary")
    got = {(r.media_id, r.frame_idx): bytes(r.frame)
           for r in mm.frame_sample(df, every=2).collect()}
    assert set(got) == {("g0", 0), ("g0", 2)}
    fsz = mm.GIF_W * mm.GIF_H
    for f in (0, 2):
        want = np.repeat(
            mm.gif_pixel(16, np.arange(f * fsz, (f + 1) * fsz,
                                       dtype=np.int64))
            .astype(np.uint8), 3)
        assert got[("g0", f)] == want.tobytes()


# ------------------------- perceptual hash (dHash) + image near-dup
def _gate_px(k, noise_at=None):
    px = mm.mix_pixel(
        k, np.arange(16 * 16 * 3, dtype=np.int64)).astype(np.uint8)
    if noise_at is not None:
        px = px.copy()
        px[noise_at] = (int(px[noise_at]) + 3) % 256
    return px


def test_dhash_container_invariant():
    # same pixels under BMP and PNG → identical hash (it sees pixels,
    # not bytes); different keys → far apart
    for k in (0, 7, 31):
        px = _gate_px(k)
        hb = mm.dhash64(
            mm.bmp_pixels(mm.encode_bmp(k, 16, 16,
                                                        pixels=px)))
        hp = mm.dhash64(
            mm.png_pixels(mm.encode_png(k, 16, 16,
                                                        pixels=px)))
        assert hb == hp


def test_dhash_static_gif_container_invariant():
    # a static GIF of the same pixels hashes identically to the BMP
    # (lossless palette path); animated GIFs stay out of image dedup
    from canned_yaml_spark import gif as G
    for k in (0, 9, 31):
        px = _gate_px(k).reshape(16, 16, 3)
        gray = px.astype(np.int64).sum(axis=2) // 3
        hb = mm.dhash64(mm.media_pixels(mm.encode_bmp(
            k, 16, 16, pixels=np.repeat(gray[:, :, None].astype(np.uint8),
                                        3, axis=2))))
        hg = mm.dhash64(mm.media_pixels(
            G.gif_encode(gray.astype(np.uint8))))
        assert hb == hg
    anim = G.gif_encode([_gate_px(1)[:256].reshape(16, 16)
                         for _ in range(2)])
    assert mm.media_pixels(anim) is None


def test_dhash_jpeg_lossy_reencode_pair():
    # the gate's k%5==2 family: a lossy baseline JPEG and a BMP storing
    # the JPEG's DECODED raster hash IDENTICALLY (decode determinism —
    # the ground truth needs no distortion bound), while both stay
    # avalanche-far from the key's base image and from other keys
    from canned_yaml_spark import jpeg as J

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    jh, bh = {}, {}
    for k in range(0, 40):
        gray = mm.mix_pixel(k + 1_000_000_000,
                            np.arange(256, dtype=np.int64)) \
            .astype(np.uint8).reshape(16, 16)
        jbuf = J.jpeg_encode(gray, quality=75)
        dec = J.jpeg_decode_strict(jbuf)
        assert not np.array_equal(dec, gray)      # genuinely lossy
        h_jd = mm.dhash64(mm.media_pixels(jbuf))
        h_jb = mm.dhash64(mm.media_pixels(mm.encode_bmp(
            k, 16, 16, pixels=np.repeat(dec[:, :, None], 3, axis=2))))
        assert ham(h_jb, h_jd) == 0, k
        jh[k] = h_jd
        bh[k] = mm.dhash64(_gate_px(k).reshape(16, 16, 3))
    pairs = [(a, b) for a in range(40) for b in range(40)]
    assert min(ham(jh[a], jh[b]) for a, b in pairs if a != b) > 8
    assert min(ham(jh[a], bh[b]) for a, b in pairs) > 8


def test_dhash_noise_and_cross_key_margins():
    # single-pixel perturbation flips ≤ 2 bits (block-local by
    # construction); distinct keys sit far above the match threshold
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    hashes = {}
    for k in range(0, 120):
        px = _gate_px(k).reshape(16, 16, 3)
        hashes[k] = mm.dhash64(px)
        noised = _gate_px(k, noise_at=(k * 37) % (16 * 16 * 3)) \
            .reshape(16, 16, 3)
        assert ham(hashes[k], mm.dhash64(noised)) <= 2
    cross = min(ham(hashes[a], hashes[b])
                for a in range(0, 40) for b in range(a + 1, 40))
    assert cross > 8                      # threshold is 4; 2× margin


def test_dhash_validation():
    import pytest
    with pytest.raises(ValueError):
        mm.dhash64(np.zeros((4, 4, 3), dtype=np.uint8))


def test_image_near_dups_exact_against_injection(spark):
    # corpus: BMP image per key; k%10==0 → SAME pixels re-encoded as
    # PNG; k%10==5 → one-pixel-noised BMP copy; expected pairs are
    # exactly the injections (recall AND precision)
    rows = []
    for k in range(60):
        px = _gate_px(k)
        rows.append((f"img_{k:03d}",
                     bytearray(mm.encode_bmp(k, 16, 16,
                                                     pixels=px))))
        if k % 10 == 0:
            rows.append((f"img_{k:03d}_dup", bytearray(
                mm.encode_png(k, 16, 16, pixels=px))))
        elif k % 10 == 5:
            noised = _gate_px(k, noise_at=(k * 37) % (16 * 16 * 3))
            rows.append((f"img_{k:03d}_dup", bytearray(
                mm.encode_bmp(k, 16, 16, pixels=noised))))
        elif k % 5 == 2:
            from canned_yaml_spark import jpeg as J
            gray = mm.mix_pixel(k + 1_000_000_000,
                                np.arange(256, dtype=np.int64)) \
                .astype(np.uint8).reshape(16, 16)
            jbuf = J.jpeg_encode(gray, quality=75)
            dec = J.jpeg_decode_strict(jbuf)
            rows.append((f"img_{k:03d}_jb", bytearray(mm.encode_bmp(
                k, 16, 16,
                pixels=np.repeat(dec[:, :, None], 3, axis=2)))))
            rows.append((f"img_{k:03d}_jd", bytearray(jbuf)))
    df = spark.createDataFrame(rows, "media_id string, media binary")
    got = {(r.media_id_a, r.media_id_b)
           for r in mm.image_near_dups(df).collect()}
    want = {(f"img_{k:03d}", f"img_{k:03d}_dup")
            for k in range(60) if k % 5 == 0} \
        | {(f"img_{k:03d}_jb", f"img_{k:03d}_jd")
           for k in range(60) if k % 5 == 2}
    assert got == want


def test_image_near_dups_verify_is_jvm(spark):
    rows = [("a", bytearray(mm.encode_bmp(1, 16, 16,
                                                  pixels=_gate_px(1))))]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    plan = mm.image_near_dups(df)._jdf.queryExecution() \
        .executedPlan().toString()
    # the hash pass is the ONLY Python anywhere (it appears under both
    # join inputs in the static plan; identical subtrees collapse to a
    # ReusedExchange at runtime — the audiofp band-join shape);
    # banding, join, and the hamming verify are pure JVM
    assert plan.count("MapInPandas run(") == plan.count("MapInPandas")
    assert "BatchEvalPython" not in plan
    assert "bit_count" in plan


def test_image_hashes_skip_rules(spark):
    rows = [
        ("small", bytearray(mm.encode_bmp(3))),         # 6×5 < grid
        ("wav", bytearray(mm.encode_wav(3))),           # not image
        ("corrupt", bytearray(
            mm.encode_bmp(3, 16, 16, pixels=_gate_px(3))[:20])),
        ("good", bytearray(mm.encode_bmp(3, 16, 16,
                                                 pixels=_gate_px(3)))),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    out = mm.image_hashes(df).collect()
    assert [r.media_id for r in out] == ["good"]


# ------------------------------------------------- x-media spec rule
def test_media_violations_semantics(spark):
    from canned_yaml_spark.compile import compile_spec
    rows = [
        # corrupt WAV — out of scope for kinds=[image]
        ("wav_bad", 0, bytearray(mm.encode_wav(1)[:20])),
        # corrupt BMP — undecodable image
        ("bmp_bad", 0, bytearray(mm.encode_bmp(2)[:20])),
        # healthy 5×5 PNG — width 5 < floor 6
        ("png_small", 1, bytearray(mm.encode_png(3))),
        # healthy 6×5 BMP — width 6 passes, height 5 < floor 6? no:
        # only min_width set here
        ("bmp_ok", 1, bytearray(mm.encode_bmp(4))),
        # healthy 8×8 stub image — passes
        ("img_ok", 2, bytearray(mm.encode_image(5))),
    ]
    df = spark.createDataFrame(rows,
                               "media_id string, part_id int, media binary")
    suite = compile_spec(
        {"type": "object", "properties": {"media": {"x-media": {
            "kinds": ["image"], "min_width": 6}}}}, df.schema)
    [mc] = suite.media_checks
    assert mc.kinds == ("image",) and int(mc.severity) == 1
    v = mm.media_violations(df, mc)
    got = sorted((r.clip_id, r.message) for r in v.collect())
    assert [c for c, _ in got] == ["bmp_bad", "png_small"]
    assert "undecodable media" in got[0][1]
    assert got[1][1] == "width 5 < minimum 6"


def test_media_rule_job_wiring(spark):
    from canned_yaml_spark import job
    from canned_yaml_spark.compile import compile_spec
    rows = [("m0", 0, bytearray(mm.encode_bmp(2)[:20])),
            ("m1", 0, bytearray(mm.encode_bmp(3)))]
    df = spark.createDataFrame(rows,
                               "clip_id string, part_id int, media binary")
    suite = compile_spec(
        {"type": "object", "properties": {"media": {"x-media": {
            "require_decodable": True, "severity": "ERROR"}}}}, df.schema)
    v = job.all_violations(df, suite)
    [r] = v.collect()
    assert r.clip_id == "m0" and r.severity == 2


def test_media_rule_spec_errors(spark):
    import pytest

    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError
    frame = spark.createDataFrame([], "media binary")

    def mk(frag):
        return compile_spec({"type": "object", "properties": {
            "media": {"x-media": frag}}}, frame.schema)

    for frag, loc in (
            ({"kinds": "image"}, "kinds"),
            ({"kinds": []}, "kinds"),
            ({"min_width": 0}, "min_width"),
            ({"min_height": -2}, "min_height"),
            ({"min_frames": 0}, "min_frames"),
            ({"require_decodable": False}, "checks nothing"),
    ):
        with pytest.raises(SpecError) as ei:
            mk(frag)
        assert loc in str(ei.value)


def test_media_min_frames_bound(spark):
    # min_frames gates the decoded frame count: a single-frame GIF
    # violates a 2-frame floor, the 4-frame animated corpus GIF and
    # the 4-frame Y4M pass; decodability violations still fire
    from canned_yaml_spark import gif as G
    from canned_yaml_spark.compile import compile_spec
    rows = [
        ("gif_static", 0, bytearray(G.gif_encode(
            np.zeros((4, 4), np.uint8)))),
        ("gif_anim", 0, bytearray(mm.encode_gif(16))),
        ("y4m_ok", 1, bytearray(mm.encode_y4m(3))),
        ("gif_bad", 1, bytearray(mm.encode_gif(48)[:40])),
    ]
    df = spark.createDataFrame(rows,
                               "media_id string, part_id int, media binary")
    suite = compile_spec(
        {"type": "object", "properties": {"media": {"x-media": {
            "min_frames": 2}}}}, df.schema)
    [mc] = suite.media_checks
    assert mc.min_frames == 2
    got = sorted((r.clip_id, r.message)
                 for r in mm.media_violations(df, mc).collect())
    assert [c for c, _ in got] == ["gif_bad", "gif_static"]
    assert got[1][1] == "n_frames 1 < minimum 2"


# ------------------------------------ video perceptual near-dup (Y4M)
_VW = _VH = 16
_VPLANE = _VW * _VH * 3 // 2              # C420 frame bytes
_VF = 4


def _vid_payload(k, y_noise=False, c_noise=False, frames=_VF):
    px = mm.mix_pixel(k, np.arange(frames * _VPLANE, dtype=np.int64)) \
        .astype(np.uint8).copy()
    for f in range(frames):
        base = f * _VPLANE
        if y_noise:                        # one Y-plane pixel per frame
            pos = base + (k * 37 + f * 11) % (_VW * _VH)
            px[pos] = (int(px[pos]) + 3) % 256
        if c_noise:                        # chroma-only perturbation
            pos = base + _VW * _VH + (k + f) % (_VPLANE - _VW * _VH)
            px[pos] = (int(px[pos]) + 7) % 256
    return px


def _vid(k, **kw):
    frames = kw.pop("frames", _VF)
    return mm.encode_y4m(k, frames, _VW, _VH,
                         payload=_vid_payload(k, frames=frames, **kw))


def test_y4m_y_planes_and_frame_hash():
    buf = _vid(3)
    planes = mm.y4m_y_planes(buf)
    assert planes.shape == (_VF, _VH, _VW)
    want = _vid_payload(3)[: _VW * _VH].reshape(_VH, _VW)
    assert np.array_equal(planes[0], want)
    # frame hash == image dhash of the same raster
    assert mm.dhash64(planes[0][:, :, None]) == \
        mm.dhash64(want[:, :, None])


def test_video_near_dups_exact_against_injection(spark):
    rows = []
    for k in range(40):
        rows.append((f"v{k:03d}", bytearray(_vid(k))))
        if k % 10 == 0:
            # chroma-only change: bytes differ, Y planes identical —
            # exactly what byte-level dedup misses and perceptual
            # dedup must catch
            rows.append((f"v{k:03d}_dup",
                         bytearray(_vid(k, c_noise=True))))
        elif k % 10 == 5:
            # one Y pixel per frame: every frame hamming ≤ 2
            rows.append((f"v{k:03d}_dup",
                         bytearray(_vid(k, y_noise=True))))
    # frame-count mismatch: same first 3 frames' content, one missing
    rows.append(("v000_short", bytearray(_vid(0, frames=3))))
    df = spark.createDataFrame(rows, "media_id string, media binary")
    got = {(r.media_id_a, r.media_id_b)
           for r in mm.video_near_dups(df).collect()}
    want = {(f"v{k:03d}", f"v{k:03d}_dup")
            for k in range(40) if k % 5 == 0}
    assert got == want


def test_video_near_dups_verify_is_jvm(spark):
    df = spark.createDataFrame([("a", bytearray(_vid(1)))],
                               "media_id string, media binary")
    plan = mm.video_near_dups(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("MapInPandas run(") == plan.count("MapInPandas")
    assert "BatchEvalPython" not in plan
    assert "bit_count" in plan and "forall" in plan.lower()


def test_video_hashes_skip_rules(spark):
    rows = [("tiny", bytearray(mm.encode_y4m(1))),       # 4×4 < grid
            ("bmp", bytearray(mm.encode_bmp(1))),        # wrong kind
            ("trunc", bytearray(_vid(1)[:50])),          # corrupt
            ("good", bytearray(_vid(1))), ("null", None)]
    df = spark.createDataFrame(rows, "media_id string, media binary")
    out = mm.video_hashes(df).collect()
    assert [r.media_id for r in out] == ["good"]
    assert out[0].n_frames == _VF and len(out[0].fp) == _VF


def test_ogg_giant_granule_reports_null_n_frames():
    # ADVICE r5: the container granule is u64 but META_SCHEMA's
    # n_frames is int32 — a ~13h 44.1kHz stream's claim must surface
    # as NULL (unknown), not crash the Arrow conversion.
    from canned_yaml_spark import ogg as O
    buf = O.ogg_encode([b"OpusHead" + b"\x01" * 8, b"payload"],
                       granules=[0, 2**31 + 5])
    meta = mm._decode_ogg(buf)
    assert meta["n_frames"] is None
    small = O.ogg_encode([b"OpusHead" + b"\x01" * 8, b"payload"],
                         granules=[0, 4800])
    assert mm._decode_ogg(small)["n_frames"] == 4800

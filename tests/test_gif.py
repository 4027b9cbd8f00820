"""GIF87a/89a codec (gif.py) — validated WITHOUT an independent GIF
implementation in the container: an LZW stream is derived by hand and
pinned byte-exact, lossless roundtrips cover static/animated/palette/
table-reset cases, interlace and sub-rectangle composition are fed
hand-built streams, and every single-byte corruption of an encoded
stream must decode to the same screen geometry or fail cleanly."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from canned_yaml_spark import gif as G
from canned_yaml_spark import multimodal as mm

#: the only exceptions malformed input may raise from the decoder
MALFORMED = (G.GifError, struct.error, IndexError)


def test_lzw_hand_derived_stream():
    # min_code 2 over [1, 1, 1]: Clear(4) w3, literal 1 w3, code 6
    # ((1,1), assigned mid-stream) w3, EOI(5) w3 — LSB-first packing:
    # 4 | 1<<3 | 6<<6 | 5<<9 = 0x8C 0x0B
    assert G.lzw_compress(np.array([1, 1, 1], np.uint8), 2) \
        == bytes([0x8C, 0x0B])
    assert G.lzw_decompress(bytes([0x8C, 0x0B]), 2, expect=3) \
        == bytes([1, 1, 1])


def test_lzw_roundtrip_and_table_reset():
    rng = np.random.default_rng(0)
    for n in (1, 7, 300, 5000, 70000):   # 70000 forces the 12-bit reset
        data = rng.integers(0, 256, n).astype(np.uint8)
        back = G.lzw_decompress(G.lzw_compress(data, 8), 8, expect=n)
        assert np.array_equal(np.frombuffer(back, np.uint8), data), n
    # KwKwK: 'ababab...' style repetition hits code == next-slot
    data = np.tile(np.array([7, 8], np.uint8), 50)
    back = G.lzw_decompress(G.lzw_compress(data, 8), 8, expect=100)
    assert np.array_equal(np.frombuffer(back, np.uint8), data)


def test_lzw_malformed():
    with pytest.raises(G.GifError):
        G.lzw_decompress(b"", 8)                       # no EOI
    with pytest.raises(G.GifError):
        G.lzw_decompress(bytes([0x8C, 0x0B]), 2, expect=2)  # too long
    with pytest.raises(G.GifError):
        G.lzw_decompress(b"\xff\xff\xff", 1)           # bad min size


def test_static_and_animated_lossless():
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, (8, 16)).astype(np.uint8)
    fr, _ = G.gif_frames(G.gif_encode(img))
    assert fr.shape == (1, 8, 16, 3)
    for c in range(3):                  # identity gray palette
        assert np.array_equal(fr[0, :, :, c], img)
    frames = [rng.integers(0, 256, (8, 16)).astype(np.uint8)
              for _ in range(4)]
    buf = G.gif_encode(frames)
    assert buf[:6] == b"GIF89a"
    fr, n = G.gif_frames(buf)
    assert n == 4
    for i in range(4):
        assert np.array_equal(fr[i, :, :, 0], frames[i])


def test_small_palette():
    pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [9, 8, 7]],
                   np.uint8)
    idx = np.random.default_rng(2).integers(0, 4, (6, 7)).astype(np.uint8)
    buf = G.gif_encode(idx, palette=pal)
    fr, _ = G.gif_frames(buf)
    assert np.array_equal(fr[0], pal[idx])
    # a 4-entry palette packs as a 4-entry GCT (size exp 2), not 256
    assert len(buf) < 120


def test_encoder_rejects():
    with pytest.raises(G.GifError):
        G.gif_encode(np.zeros((0, 4), np.uint8))
    with pytest.raises(G.GifError):
        G.gif_encode([np.zeros((4, 4), np.uint8),
                      np.zeros((4, 5), np.uint8)])     # mixed sizes
    with pytest.raises(G.GifError):
        G.gif_encode(np.full((2, 2), 5, np.uint8),
                     palette=np.zeros((4, 3), np.uint8))  # index > pal


def test_interlaced_stream_decodes():
    # hand-build: encoder never emits interlace, so feed the decoder a
    # stream whose rows are stored in the spec's 4-pass order
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (16, 8)).astype(np.uint8)
    h, w = img.shape
    order = np.concatenate([np.arange(s, h, st)
                            for s, st in ((0, 8), (4, 8), (2, 4), (1, 2))])
    out = bytearray(b"GIF87a") + struct.pack("<HH", w, h) \
        + bytes([0xF7, 0, 0]) + G.GRAY_PALETTE.tobytes()
    out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) \
        + bytes([0x40, 8])
    comp = G.lzw_compress(img[order], 8)
    for i in range(0, len(comp), 255):
        c = comp[i: i + 255]
        out += bytes([len(c)]) + c
    out += bytes([0, 0x3B])
    fr, n = G.gif_frames(bytes(out))
    assert n == 1 and np.array_equal(fr[0, :, :, 0], img)


def test_sub_rectangle_composition():
    rng = np.random.default_rng(4)
    base = rng.integers(0, 256, (8, 8)).astype(np.uint8)
    patch = rng.integers(0, 256, (4, 4)).astype(np.uint8)
    out = bytearray(b"GIF89a") + struct.pack("<HH", 8, 8) \
        + bytes([0xF7, 0, 0]) + G.GRAY_PALETTE.tobytes()
    for left, top, px in ((0, 0, base), (3, 2, patch)):
        fh, fw = px.shape
        out += bytes([0x2C]) + struct.pack("<HHHH", left, top, fw, fh) \
            + bytes([0x00, 8])
        comp = G.lzw_compress(px, 8)
        for i in range(0, len(comp), 255):
            c = comp[i: i + 255]
            out += bytes([len(c)]) + c
        out += bytes([0])
    out += bytes([0x3B])
    fr, n = G.gif_frames(bytes(out))
    want = base.copy()
    want[2:6, 3:7] = patch
    assert n == 2
    assert np.array_equal(fr[0, :, :, 0], base)
    assert np.array_equal(fr[1, :, :, 0], want)
    # out-of-bounds placement must be rejected, not clipped silently
    bad = bytes(out).replace(struct.pack("<HHHH", 3, 2, 4, 4),
                             struct.pack("<HHHH", 6, 2, 4, 4))
    with pytest.raises(MALFORMED):
        G.gif_frames(bad)


def test_corruption_sweep_never_crashes_or_misshapes():
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (8, 16)).astype(np.uint8)
              for _ in range(3)]
    buf = G.gif_encode(frames)
    good, _ = G.gif_frames(buf)
    for pos in range(13, len(buf) - 1, 2):
        c = bytearray(buf)
        c[pos] ^= 0x55
        try:
            dec, _ = G.gif_frames(bytes(c))
        except MALFORMED:
            continue
        assert dec.shape[1:] == good.shape[1:], pos


def test_decoder_rejects_malformed():
    buf = G.gif_encode(np.zeros((4, 4), np.uint8))
    for bad in (b"", b"GIF89a" + b"x" * 4, buf[: len(buf) // 2],
                buf[:-1]):                              # no trailer
        with pytest.raises(MALFORMED):
            G.gif_frames(bad)


def test_multimodal_corpus_slot():
    # k%32==16 rows are real animated GIFs whose metadata the oracle
    # restates analytically (lossless: decoded mean == generator mean)
    for k in (16, 48, 112, 144, 1000016):
        buf = mm.encode_gif(k)
        meta, err = mm.decode_media(buf)
        assert err is None
        exp = float(np.mean(mm.gif_pixel(
            k, np.arange(512, dtype=np.int64))))
        assert (meta["width"], meta["height"], meta["channels"],
                meta["n_frames"]) == (mm.GIF_W, mm.GIF_H, 3, mm.GIF_F)
        assert abs(meta["mean_luma"] - exp) < 1e-12
    mid, _, buf = mm.media_row(16)
    assert bytes(buf[:4]) == b"GIF8"
    meta, err = mm.decode_media(bytes(mm.media_row(80)[2]))  # corrupt
    assert meta is None and err

"""Baseline JPEG codec (jpeg.py, ITU-T T.81) — validated WITHOUT an
independent JPEG implementation in the container: the DCT matrix is
checked against its defining identity and cosine sum, a DC-only stream
is assembled by hand from the spec's canonical-code procedure, the
block-constant closed form is verified exhaustively over all 256
values, and every single-byte corruption of the entropy segment must
decode to the same pixels or fail cleanly."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from canned_yaml_spark import jpeg as J
from canned_yaml_spark import multimodal as mm

#: the only exceptions malformed input may raise from the decoder
#: (ValueError covers JpegError and the numpy broadcast error of a
#: truncated DQT)
MALFORMED = (ValueError, struct.error, IndexError)


def _structured(h: int = 40, w: int = 56) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    return ((np.sin(xx / 7.0) + np.cos(yy / 5.0)) * 60 + 128) \
        .clip(0, 255).astype(np.uint8)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    err = np.sqrt(np.mean((a.astype(float) - b.astype(float)) ** 2))
    return 20 * np.log10(255 / max(err, 1e-9))


def test_dct_matrix_identity_and_definition():
    T = J._T
    assert np.allclose(T @ T.T, np.eye(8), atol=1e-12)
    # direct cosine definition (T.81 A.3.3, orthonormal scaling)
    for u in range(8):
        cu = np.sqrt(1 / 8) if u == 0 else np.sqrt(2 / 8)
        for x in range(8):
            want = cu * np.cos((2 * x + 1) * u * np.pi / 16)
            assert abs(T[u, x] - want) < 1e-12


def test_gray_roundtrip_quality_monotone():
    img = _structured()
    last = 0.0
    for q, floor in ((25, 35.0), (50, 40.0), (75, 44.0), (95, 50.0)):
        dec = J.jpeg_decode_strict(J.jpeg_encode(img, quality=q))
        p = _psnr(dec, img)
        assert p > floor and p >= last - 0.5, (q, p)
        last = p


def test_color_444_and_420_gradient():
    h, w = 48, 64
    rgb = np.stack([np.linspace(20, 230, w)[None, :].repeat(h, 0),
                    np.linspace(40, 210, h)[:, None].repeat(w, 1),
                    np.full((h, w), 90.0)], axis=-1).astype(np.uint8)
    for sub, rmse_max in (("4:4:4", 2.0), ("4:2:0", 3.0)):
        dec = J.jpeg_decode_strict(J.jpeg_encode(rgb, quality=90,
                                          subsampling=sub))
        assert dec.shape == rgb.shape
        err = np.sqrt(np.mean((dec.astype(float) - rgb) ** 2))
        assert err < rmse_max, (sub, err)


def test_restart_intervals_are_pixel_exact():
    img = _structured()
    base = J.jpeg_decode_strict(J.jpeg_encode(img, quality=80))
    for ri in (1, 2, 3, 5, 100):
        buf = J.jpeg_encode(img, quality=80, restart_interval=ri)
        assert np.array_equal(J.jpeg_decode_strict(buf), base), ri
    rgb = np.dstack([img[:32, :32]] * 3)
    a = J.jpeg_decode_strict(J.jpeg_encode(rgb, quality=85,
                                    subsampling="4:2:0"))
    b = J.jpeg_decode_strict(J.jpeg_encode(rgb, quality=85,
                                    subsampling="4:2:0",
                                    restart_interval=2))
    assert np.array_equal(a, b)


def test_block_constant_closed_form_exhaustive():
    # every uint8 value through the REAL pipeline at the corpus
    # quality, vs both the python closed form and the oracle's SQL
    # restatement (3·round_half_away((v−128)/3) + 128, clamped)
    for v in range(256):
        img = np.full((8, 8), v, np.uint8)
        dec = J.jpeg_decode_strict(J.jpeg_encode(img, quality=mm.JPEG_Q))
        u = np.unique(dec)
        d = v - 128
        qdc = (1 if d >= 0 else -1) * np.floor(abs(d) / 3.0 + 0.5)
        sql = min(max(3 * int(qdc) + 128, 0), 255)
        assert len(u) == 1 and u[0] == sql \
            and u[0] == J.block_constant_decoded(v, mm.JPEG_Q), (v, u)


def test_hand_assembled_dc_only_stream():
    # one 8×8 constant block at 200, quality 33 (q₀ = 24, lossless for
    # this value): DC = 8·72 = 576, quantized 24, category 5, flat
    # canonical DC codes are 0000..1011 so code(5) = 0101; extras are
    # the 5 low bits of 24 = 11000; EOB is the first flat AC symbol =
    # 00000000; pad with 1s → 0101 1100 | 0000 0000 | 0111 1111
    # = 0x5C 0x00 0x7F
    ql = J.quant_tables(33)[0]
    dqt = bytes([0]) + bytes(int(ql.reshape(-1)[i]) for i in J._ZZ_FLAT)
    dht_dc = bytes([0x00]) + bytes([0, 0, 0, 12] + [0] * 12) \
        + bytes(range(12))
    ac_vals = [0x00, 0xF0] + [(r << 4) | s for r in range(16)
                              for s in range(1, 11)]
    dht_ac = bytes([0x10]) + bytes([0] * 7 + [162] + [0] * 8) \
        + bytes(ac_vals)
    sof = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 0, 63, 0])

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) \
            + body

    buf = (b"\xff\xd8" + seg(0xDB, dqt) + seg(0xC0, sof)
           + seg(0xC4, dht_dc) + seg(0xC4, dht_ac) + seg(0xDA, sos)
           + bytes([0x5C, 0x00, 0x7F]) + b"\xff\xd9")
    dec = J.jpeg_decode_strict(buf)
    assert dec.shape == (8, 8) and np.all(dec == 200)


def test_corruption_sweep_never_crashes_or_misshapes():
    img = _structured(24, 32)
    buf = J.jpeg_encode(img, quality=70, restart_interval=2)
    good = J.jpeg_decode_strict(buf)
    scan_at = buf.find(b"\xff\xda") + 10
    for pos in range(scan_at, len(buf) - 2, 3):
        c = bytearray(buf)
        c[pos] ^= 0x55
        try:
            dec = J.jpeg_decode_strict(bytes(c))
        except MALFORMED:
            continue
        assert dec.shape == good.shape, pos


def test_decoder_rejects_malformed():
    img = _structured(16, 16)
    buf = J.jpeg_encode(img)
    prog = buf.replace(b"\xff\xc0", b"\xff\xc2", 1)          # SOF2
    for bad in (buf[: len(buf) // 2], b"",                   # truncated
                b"\xff\xd8\xff\xe0nonsense", prog):
        with pytest.raises(MALFORMED):
            J.jpeg_decode_strict(bad)
    with pytest.raises(J.JpegError):
        J.jpeg_encode(np.zeros((0, 4), np.uint8))
    with pytest.raises(J.JpegError):
        J.jpeg_encode(np.zeros((4, 4), np.uint8), quality=0)
    with pytest.raises(J.JpegError):
        J.jpeg_encode(np.zeros((4, 4, 2), np.uint8))


def test_odd_dimensions_and_subsampled_edges():
    # non-multiple-of-8 (and odd, for 4:2:0) sizes roundtrip at the
    # declared dimensions
    img = _structured(19, 13)
    dec = J.jpeg_decode_strict(J.jpeg_encode(img, quality=90))
    assert dec.shape == (19, 13) and _psnr(dec, img) > 38
    rgb = np.dstack([img] * 3)
    dec = J.jpeg_decode_strict(J.jpeg_encode(rgb, quality=90,
                                      subsampling="4:2:0"))
    assert dec.shape == (19, 13, 3)


def test_multimodal_corpus_slot():
    # k%16==8 rows are real JPEGs whose metadata the oracle restates
    # in closed form; restart streams (k%3==0) must agree too
    for k in (8, 24, 40 + 16, 72, 104, 1000008):
        buf = mm.encode_jpeg(k)
        assert buf[:3] == b"\xff\xd8\xff"
        meta, err = mm.decode_media(buf)
        assert err is None
        exp = np.mean([J.block_constant_decoded(mm.jpeg_block_value(k, j),
                                                mm.JPEG_Q)
                       for j in range(6)])
        assert meta["width"] == mm.JPEG_W and meta["height"] == mm.JPEG_H
        assert meta["channels"] == 1 and meta["n_frames"] == 1
        assert abs(meta["mean_luma"] - exp) < 1e-12
    mid, _, buf = mm.media_row(8)
    assert bytes(buf[:3]) == b"\xff\xd8\xff"
    meta, err = mm.decode_media(bytes(mm.media_row(40)[2]))  # corrupt
    assert meta is None and err


def test_truncation_sweep_returns_none_everywhere():
    # a DQT cut mid-table once raised a numpy broadcast error: every
    # prefix must fail with a MALFORMED error (the media registry then
    # reports the payload undecodable). Sweep EVERY prefix length (the DQT lives early, so the cheap
    # dense sweep below 200 bytes covers it; sparse beyond).
    img = (np.arange(24 * 16, dtype=np.uint8).reshape(24, 16) * 7) % 256
    enc = J.jpeg_encode(img, quality=80)
    lengths = list(range(2, min(len(enc), 220))) + \
        list(range(220, len(enc), 97))
    for k in lengths:
        with pytest.raises(MALFORMED):
            J.jpeg_decode_strict(enc[:k])

"""Real baseline JPEG codec (ITU-T T.81) — pure numpy + stdlib.

The `\\xff\\xd8\\xff` slot in the media decoder registry
(multimodal._DECODERS) routed to a declared NotImplementedError stub
through round 5's midpoint, on the claim that DCT entropy coding needs
Pillow. Like FLAC (flac.py), the format is fully specified in public
documents (ITU-T T.81 / ISO 10918-1), so this module implements the
baseline sequential DCT process from the spec:

- markers: SOI, APP0/JFIF, DQT, SOF0, DHT, DRI, SOS, RSTn, EOI;
- 8×8 forward/inverse DCT as one orthonormal matrix congruence
  (T @ X @ T.T — vectorized over all blocks of a plane at once);
- quality-scaled Annex-K quantization tables (the libjpeg 5000/Q
  convention), carried in DQT as the spec requires;
- canonical Huffman coding. The ENCODER emits flat canonical tables
  (12 DC symbols at 4 bits, 162 AC symbols at 8 bits — valid tables
  that leave the all-ones codeword unused, as T.81 §C.2 requires);
  the DECODER builds its tables from the stream's own DHT segments
  with the spec's mincode/maxcode/valptr procedure, so it reads
  Annex-K-coded files from other encoders just as well;
- grayscale and YCbCr color, 4:4:4 and 4:2:0 subsampling (decoder
  handles any h/v factors in {1,2} generically), restart intervals,
  0xFF byte stuffing.

Rounding is pinned to half-up everywhere (floor(x + 0.5); quantization
rounds half-away-from-zero) so decoded values of analytically simple
inputs are CLOSED FORM: a per-8×8-block-constant image decodes to
exactly clip(round_half_up(round_half_away(8·(v−128)/q₀)·q₀/8) + 128)
per block — the invariant the driver gate's DuckDB oracle restates
(lossy coding and exact oracles are not in conflict if the test signal
is chosen to make the transform algebra collapse).

Scale posture: FDCT/quantization/dequantization/IDCT/color transforms
are whole-plane numpy expressions; only the entropy coder walks
symbols in Python (Huffman is a sequential variable-length code, same
status as FLAC's rice scan — and per decoded pixel it is a handful of
dict lookups). All of it runs inside Arrow batches via
multimodal.decode_media; nothing touches Spark rows one at a time.

Validation without an independent JPEG implementation in the
container: the DCT matrix is checked against its defining identity
(T @ T.T = I and the direct cosine sum), a DC-only stream is derived
by hand in tests, encode→decode PSNR is bounded on structured images,
per-block-constant images decode EXACTLY per the closed form above,
and every single-byte corruption of the entropy segment must either
decode to the same pixels or fail cleanly (no crashes, no wrong
silent sizes).
"""

from __future__ import annotations

import struct

import numpy as np


class JpegError(ValueError):
    """Malformed / unsupported / truncated stream (decode → None)."""


# ------------------------------------------------------- DCT algebra
def _dct_matrix() -> np.ndarray:
    u, x = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    t = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    t[0] /= np.sqrt(2.0)
    return t


_T = _dct_matrix()

#: zigzag scan order, generated from its defining diagonal walk
_ZIGZAG = np.array(
    [(y, s - y)
     for s in range(15)
     for y in (range(min(s, 7), max(0, s - 7) - 1, -1) if s % 2 == 0
               else range(max(0, s - 7), min(s, 7) + 1))],
    dtype=np.int64)
_ZZ_FLAT = _ZIGZAG[:, 0] * 8 + _ZIGZAG[:, 1]

#: Annex K base quantization tables (luminance / chrominance)
_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int64).reshape(8, 8)
_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int64).reshape(8, 8)


def quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Quality-scaled (luma, chroma) tables — the libjpeg convention:
    scale = 5000/Q below 50 else 200 − 2Q, q = clip((base·scale+50)/
    100, 1, 255). Exposed so the gate oracle can restate q₀."""
    if not 1 <= quality <= 100:
        raise JpegError(f"quality {quality} outside [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        q = (base * scale + 50) // 100
        out.append(np.clip(q, 1, 255).astype(np.int64))
    return out[0], out[1]


def _round_half_away(x: np.ndarray) -> np.ndarray:
    return np.sign(x) * np.floor(np.abs(x) + 0.5)


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(h, w) plane → (n_by, n_bx, 8, 8) blocks, edge-replicated to
    multiples of 8."""
    h, w = plane.shape
    ph, pw = (-h) % 8, (-w) % 8
    p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    hh, ww = p.shape
    return p.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3)


def _fdct_quant(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """All blocks of one plane → quantized int coefficients in one
    einsum congruence (level shift, FDCT, half-away quantization)."""
    s = blocks.astype(np.float64) - 128.0
    coef = np.einsum("ux,byxz,vz->byuv", _T, s.reshape(-1, 1, 8, 8)
                     .reshape(blocks.shape), _T)
    return _round_half_away(coef / q).astype(np.int64)


def _dequant_idct(coefs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Quantized coefficients → pixel blocks (dequant, IDCT, +128,
    half-up rounding, clamp) — one einsum over the plane."""
    s = np.einsum("ux,byuv,vz->byxz", _T, (coefs * q).astype(np.float64),
                  _T)
    return np.clip(np.floor(s + 128.0 + 0.5), 0, 255).astype(np.uint8)


# -------------------------------------------------- Huffman machinery
def _canonical_codes(bits: list[int], vals: list[int]
                     ) -> dict[int, tuple[int, int]]:
    """(BITS, HUFFVAL) → {symbol: (code, length)} per T.81 §C.2."""
    out: dict[int, tuple[int, int]] = {}
    code, i = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return out


#: encoder tables: flat canonical codes (valid per §C.2 — the all-ones
#: codeword stays unused; compression is a few % worse than Annex K,
#: which the DECODER nevertheless reads fine from any stream's DHT)
_DC_BITS = [0, 0, 0, 12] + [0] * 12
_DC_VALS = list(range(12))
_AC_BITS = [0] * 7 + [162] + [0] * 8
_AC_VALS = [0x00, 0xF0] + [(r << 4) | s
                           for r in range(16) for s in range(1, 11)]
_ENC_DC = _canonical_codes(_DC_BITS, _DC_VALS)
_ENC_AC = _canonical_codes(_AC_BITS, _AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, ln: int) -> None:
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.n += ln
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.buf)


def _mag_cat(v: int) -> tuple[int, int]:
    """DC/AC magnitude category + extra bits (negatives stored in
    one's complement per §F.1.2.1)."""
    s = abs(v).bit_length()
    return s, (v if v >= 0 else v + (1 << s) - 1)


def _encode_block(bw: _BitWriter, zz: np.ndarray, pred: int) -> int:
    dc = int(zz[0])
    s, extra = _mag_cat(dc - pred)
    code, ln = _ENC_DC[s]
    bw.put(code, ln)
    if s:
        bw.put(extra, s)
    nz = np.flatnonzero(zz[1:])
    prev = 0
    for idx in nz:
        run = int(idx) - prev
        prev = int(idx) + 1
        while run >= 16:
            c, l = _ENC_AC[0xF0]
            bw.put(c, l)
            run -= 16
        s, extra = _mag_cat(int(zz[1 + idx]))
        c, l = _ENC_AC[(run << 4) | s]
        bw.put(c, l)
        bw.put(extra, s)
    if prev < 63:
        c, l = _ENC_AC[0x00]                   # EOB
        bw.put(c, l)
    return dc


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    p = px.astype(np.float64)
    r, g, b = p[..., 0], p[..., 1], p[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.clip(np.floor(np.stack([y, cb, cr], axis=-1) + 0.5),
                   0, 255)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray
                  ) -> np.ndarray:
    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    r = yf + 1.402 * crf
    g = yf - 0.344136 * cbf - 0.714136 * crf
    b = yf + 1.772 * cbf
    return np.clip(np.floor(np.stack([r, g, b], axis=-1) + 0.5),
                   0, 255).astype(np.uint8)


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def jpeg_encode(px: np.ndarray, quality: int = 75,
                subsampling: str = "4:4:4",
                restart_interval: int = 0) -> bytes:
    """Grayscale (h, w) or RGB (h, w, 3) uint8 → baseline JPEG.
    `restart_interval` > 0 emits DRI + RSTn every that many MCUs
    (resets the DC predictors and byte-aligns, per §B.2.4.4/§F.1.2);
    0 keeps the scan as one entropy segment."""
    px = np.asarray(px, dtype=np.uint8)
    if px.ndim == 2:
        comps_px = [px.astype(np.float64)]
        sampling = [(1, 1)]
    elif px.ndim == 3 and px.shape[2] == 3:
        ycc = _rgb_to_ycbcr(px)
        if subsampling == "4:2:0":
            h, w = px.shape[:2]
            yp = ycc[..., 0]
            pads = ((0, h % 2), (0, w % 2))
            cb = np.pad(ycc[..., 1], pads, mode="edge")
            cr = np.pad(ycc[..., 2], pads, mode="edge")
            cb = cb.reshape(cb.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            cr = cr.reshape(cr.shape[0] // 2, 2, -1, 2).mean(axis=(1, 3))
            comps_px = [yp, np.floor(cb + 0.5), np.floor(cr + 0.5)]
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            comps_px = [ycc[..., 0], ycc[..., 1], ycc[..., 2]]
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise JpegError(f"unsupported subsampling {subsampling!r}")
    else:
        raise JpegError(f"expected (h,w) or (h,w,3) uint8, got "
                        f"{px.shape}")
    h, w = px.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("empty image")
    ql, qc = quant_tables(quality)
    qtabs = [ql] + ([qc] if len(comps_px) > 1 else [])

    # per-component quantized blocks
    comp_blocks = []
    for ci, plane in enumerate(comps_px):
        q = ql if ci == 0 else qc
        comp_blocks.append(_fdct_quant(_blocks(plane), q))

    # ---- headers
    out = bytearray(b"\xff\xd8")                        # SOI
    out += (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
            + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00")
    for ti, q in enumerate(qtabs):                      # DQT
        body = bytes([ti]) + bytes(int(q.reshape(-1)[i])
                                   for i in _ZZ_FLAT)
        out += b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body
    nc = len(comps_px)
    sof = struct.pack(">BHHB", 8, h, w, nc)             # SOF0
    for ci in range(nc):
        hv, vv = sampling[ci]
        sof += bytes([ci + 1, (hv << 4) | vv, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0x00, _DC_BITS, _DC_VALS)       # DHT ×4 (flat)
    out += _dht_segment(0x10, _AC_BITS, _AC_VALS)
    if nc > 1:
        out += _dht_segment(0x01, _DC_BITS, _DC_VALS)
        out += _dht_segment(0x11, _AC_BITS, _AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4,      # DRI
                                         restart_interval)
    sos = bytes([nc])                                   # SOS
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += bytes([0, 63, 0])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # ---- interleaved MCU scan
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    bw = _BitWriter()
    preds = [0] * nc
    since_rst = 0
    rst_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and since_rst == restart_interval:
                out += bw.flush().replace(b"\xff", b"\xff\x00")
                out += bytes([0xFF, 0xD0 + (rst_i & 7)])
                rst_i += 1
                bw = _BitWriter()
                preds = [0] * nc
                since_rst = 0
            since_rst += 1
            for ci in range(nc):
                hv, vv = sampling[ci]
                cb = comp_blocks[ci]
                for by in range(vv):
                    for bx in range(hv):
                        yy = min(my * vv + by, cb.shape[0] - 1)
                        xx = min(mx * hv + bx, cb.shape[1] - 1)
                        zz = cb[yy, xx].reshape(-1)[_ZZ_FLAT]
                        preds[ci] = _encode_block(bw, zz, preds[ci])
    out += bw.flush().replace(b"\xff", b"\xff\x00")     # byte stuffing
    out += b"\xff\xd9"                                  # EOI
    return bytes(out)


# ------------------------------------------------------------ decoder
class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def bit(self) -> int:
        if self.pos >= self.bits.size:
            raise JpegError("entropy data exhausted")
        b = int(self.bits[self.pos])
        self.pos += 1
        return b

    def take(self, n: int) -> int:
        if self.pos + n > self.bits.size:
            raise JpegError("entropy data exhausted")
        v = 0
        for _ in range(n):
            v = (v << 1) | int(self.bits[self.pos])
            self.pos += 1
        return v


class _HuffTable:
    """T.81 §F.2.2.3 DECODE: mincode/maxcode/valptr per code length."""

    def __init__(self, bits: list[int], vals: list[int]) -> None:
        self.min = [0] * 17
        self.max = [-1] * 17
        self.valptr = [0] * 17
        self.vals = vals
        code, i = 0, 0
        for ln in range(1, 17):
            if bits[ln - 1]:
                self.valptr[ln] = i
                self.min[ln] = code
                code += bits[ln - 1]
                i += bits[ln - 1]
                self.max[ln] = code - 1
            code <<= 1

    def decode(self, br: _BitReader) -> int:
        code = br.bit()
        for ln in range(1, 17):
            if self.max[ln] >= code:
                return self.vals[self.valptr[ln] + code - self.min[ln]]
            code = (code << 1) | br.bit()
        raise JpegError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(br: _BitReader, dc_t: _HuffTable, ac_t: _HuffTable,
                  pred: int) -> tuple[np.ndarray, int]:
    zz = np.zeros(64, dtype=np.int64)
    s = dc_t.decode(br)
    if s > 11:
        raise JpegError(f"bad DC category {s}")
    dc = pred + _extend(br.take(s), s)
    zz[0] = dc
    i = 1
    while i < 64:
        sym = ac_t.decode(br)
        if sym == 0x00:                        # EOB
            break
        if sym == 0xF0:                        # ZRL
            i += 16
            continue
        run, s = sym >> 4, sym & 0xF
        i += run
        if i > 63 or s == 0:
            raise JpegError("AC run overflows block")
        zz[i] = _extend(br.take(s), s)
        i += 1
    return zz, dc


def _scan_segments(buf: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from `pos`: de-stuffed byte chunks split at
    RST markers, plus the offset of the terminating marker."""
    segs, cur = [], bytearray()
    i = int(pos)
    n = len(buf)
    while i < n:
        b = buf[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            raise JpegError("truncated entropy data")
        m = buf[i + 1]
        if m == 0x00:                          # stuffed FF
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:                # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:                                  # a real marker: scan ends
            segs.append(bytes(cur))
            return segs, i
    raise JpegError("entropy data ran off the buffer")


def _parse(buf: bytes) -> dict:
    if len(buf) < 4 or buf[:2] != b"\xff\xd8":
        raise JpegError("missing SOI")
    st: dict = {"qt": {}, "dc": {}, "ac": {}, "ri": 0}
    i = 2
    while True:
        if i + 4 > len(buf):
            raise JpegError("truncated segment header")
        if buf[i] != 0xFF:
            raise JpegError(f"expected marker at {i}")
        m = buf[i + 1]
        if m == 0xD9:
            raise JpegError("EOI before SOS")
        ln = struct.unpack(">H", buf[i + 2: i + 4])[0]
        seg = buf[i + 4: i + 2 + ln]
        if len(seg) != ln - 2:
            raise JpegError("segment overruns buffer")
        if m == 0xDB:                          # DQT
            j = 0
            while j < len(seg):
                pq, tq = seg[j] >> 4, seg[j] & 0xF
                if pq != 0:
                    raise JpegError("16-bit DQT unsupported")
                tab = np.zeros(64, dtype=np.int64)
                tab[_ZZ_FLAT] = np.frombuffer(seg[j + 1: j + 65],
                                              dtype=np.uint8)
                st["qt"][tq] = tab.reshape(8, 8)
                j += 65
        elif m == 0xC4:                        # DHT
            j = 0
            while j < len(seg):
                tc, th = seg[j] >> 4, seg[j] & 0xF
                bits = list(seg[j + 1: j + 17])
                nv = sum(bits)
                vals = list(seg[j + 17: j + 17 + nv])
                if len(vals) != nv:
                    raise JpegError("truncated DHT")
                (st["dc"] if tc == 0 else st["ac"])[th] = \
                    _HuffTable(bits, vals)
                j += 17 + nv
        elif m == 0xC0:                        # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise JpegError("only 8-bit precision supported")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c: 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF,
                              "tq": tq})
            st.update(h=h, w=w, comps=comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"non-baseline SOF {m:02x} unsupported")
        elif m == 0xDD:                        # DRI
            st["ri"] = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:                        # SOS
            ns = seg[0]
            if "comps" not in st:
                raise JpegError("SOS before SOF")
            if ns != len(st["comps"]):
                raise JpegError("non-interleaved scans unsupported")
            for c in range(ns):
                cid, tt = seg[1 + 2 * c: 3 + 2 * c]
                comp = next((x for x in st["comps"] if x["id"] == cid),
                            None)
                if comp is None:
                    raise JpegError(f"SOS references unknown comp {cid}")
                comp["td"], comp["ta"] = tt >> 4, tt & 0xF
            ss, se, a = seg[1 + 2 * ns: 4 + 2 * ns]
            if (ss, se, a) != (0, 63, 0):
                raise JpegError("progressive scan parameters")
            st["scan_at"] = i + 2 + ln
            return st
        # APPn / COM / others: skip
        i += 2 + ln


def jpeg_decode_strict(buf: bytes) -> np.ndarray:
    """Baseline JPEG → (h, w) or (h, w, 3) uint8; raises JpegError."""
    buf = bytes(buf)
    st = _parse(buf)
    h, w, comps = st["h"], st["w"], st["comps"]
    if h == 0 or w == 0:
        raise JpegError("zero dimensions")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not all(1 <= c["h"] <= 2 and 1 <= c["v"] <= 2 for c in comps):
        raise JpegError("sampling factors outside {1,2}")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    segs, end = _scan_segments(buf, st["scan_at"])
    if buf[end: end + 2] != b"\xff\xd9":
        raise JpegError("scan not terminated by EOI")
    planes = []
    for c in comps:
        if c["tq"] not in st["qt"] or c["td"] not in st["dc"] \
                or c["ta"] not in st["ac"]:
            raise JpegError("scan references missing table")
        planes.append(np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64),
                               dtype=np.int64))

    ri = st["ri"]
    seg_i = 0
    br = _BitReader(segs[0])
    preds = [0] * len(comps)
    since_rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if ri and since_rst == ri:
                seg_i += 1
                if seg_i >= len(segs):
                    raise JpegError("missing restart segment")
                br = _BitReader(segs[seg_i])
                preds = [0] * len(comps)
                since_rst = 0
            for ci, c in enumerate(comps):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz, preds[ci] = _decode_block(
                            br, st["dc"][c["td"]], st["ac"][c["ta"]],
                            preds[ci])
                        blk = np.zeros(64, dtype=np.int64)
                        blk[_ZZ_FLAT] = zz
                        planes[ci][my * c["v"] + by,
                                   mx * c["h"] + bx] = blk
            since_rst += 1

    out_planes = []
    for ci, c in enumerate(comps):
        q = st["qt"][c["tq"]]
        blocks = planes[ci].reshape(planes[ci].shape[0],
                                    planes[ci].shape[1], 8, 8)
        pix = _dequant_idct(blocks, q)
        nby, nbx = pix.shape[:2]
        plane = pix.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        # upsample to full resolution, crop to (h, w)
        fy, fx = vmax // c["v"], hmax // c["h"]
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return out_planes[0]
    if len(out_planes) == 3:
        return _ycbcr_to_rgb(*out_planes)
    raise JpegError(f"{len(out_planes)}-component scans unsupported")


def block_constant_decoded(v: int, quality: int) -> int:
    """Closed-form decoded value of an 8×8 block whose input pixels
    all equal v (grayscale): only the DC coefficient survives the
    FDCT, so the whole lossy path collapses to quantization
    arithmetic — clip(round_half_up(round_half_away(8·(v−128)/q₀)·
    q₀/8 + 128)). The driver gate's DuckDB oracle restates exactly
    this function (see __spark_entry__._q_jpeg_meta)."""
    q0 = int(quant_tables(quality)[0][0, 0])
    dc = 8.0 * (v - 128)
    qdc = np.sign(dc) * np.floor(np.abs(dc) / q0 + 0.5)
    return int(np.clip(np.floor(qdc * q0 / 8.0 + 128.0 + 0.5), 0, 255))

"""Real GIF87a/89a codec (LZW) — pure numpy + stdlib.

Like FLAC (flac.py) and baseline JPEG (jpeg.py), the format is fully
specified in public documents (GIF89a specification, 1990; the LZW
variant it mandates) and needs no external library:

- header + Logical Screen Descriptor + Global Color Table;
- per frame: optional Graphic Control Extension, Image Descriptor
  (sub-rectangle placement honored), optional Local Color Table,
  interlaced or sequential row order (the 4-pass deinterlace is
  implemented, not rejected);
- variable-width LZW with the spec's Clear/EOI codes, code width
  growth at table-fill, 12-bit cap with mid-stream table reset, and
  the KwKwK (code == next unassigned slot) case;
- LSB-first bit packing into 255-byte data sub-blocks;
- unknown extensions (comment, application, plain text) are skipped
  by their own sub-block framing, as the spec requires.

GIF coding is LOSSLESS over palette indices, so the driver-gate
corpus needs no closed-form rounding argument at all: decoded pixels
equal the generated indices through an identity grayscale palette and
the DuckDB oracle restates the generator arithmetic directly (the
same discipline as BMP/PNG/Y4M — the decode path is load-bearing
because LZW, sub-block reassembly, and frame composition must all be
right for the means to agree).

Scale posture: palette mapping, deinterlacing, and frame composition
are whole-array numpy ops; only the LZW coder walks codes in Python
(a sequential variable-length code — same status as FLAC's rice scan
and JPEG's Huffman walk). Everything runs inside Arrow batches via
multimodal.decode_media; nothing touches Spark rows one at a time.

Validation without an independent GIF implementation in the
container: an LZW stream is derived by hand for a tiny image and
pinned byte-exact, lossless roundtrips cover static/animated/
interlaced/sub-rectangle/local-palette/table-reset cases, and every
single-byte corruption of the data stream must either decode to the
same pixels or fail cleanly.
"""

from __future__ import annotations

import struct

import numpy as np


class GifError(ValueError):
    """Malformed / unsupported / truncated stream (decode → None)."""


GRAY_PALETTE = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3,
                         axis=1)


# ------------------------------------------------------------ LZW core
def lzw_compress(indices: np.ndarray, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW over uint8 index values: emits Clear first,
    grows the code width when the next code would not fit, resets the
    table via Clear at the 4096-entry cap, ends with EOI. LSB-first
    bit packing (the GIF convention — opposite of TIFF's)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    data = bytes(bytearray(int(v) for v in np.asarray(indices).reshape(-1)))
    out = bytearray()
    acc = 0
    nbits = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    nxt = eoi + 1
    width = min_code_size + 1
    put(clear, width)
    w = b""
    for ch in data:
        wk = w + bytes([ch])
        if wk in table:
            w = wk
            continue
        put(table[w], width)
        table[wk] = nxt
        nxt += 1
        if nxt - 1 == (1 << width) and width < 12:
            width += 1
        elif nxt == (1 << 12) + 1:
            put(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            nxt = eoi + 1
            width = min_code_size + 1
        w = bytes([ch])
    if w:
        put(table[w], width)
    put(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def lzw_decompress(data: bytes, min_code_size: int,
                   expect: int | None = None) -> bytes:
    """Inverse of lzw_compress; raises GifError on any malformation.
    `expect` caps the output length (a decoder knows the frame size,
    so a stream coding more pixels than the descriptor declares is an
    error, not a buffer to grow)."""
    if not 2 <= min_code_size <= 11:
        raise GifError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise GifError("LZW stream truncated (no EOI)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                raise GifError(f"first code {code} not a literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):           # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise GifError(f"LZW code {code} beyond table "
                           f"({len(table)})")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        if expect is not None and len(out) > expect:
            raise GifError(f"LZW output exceeds declared {expect} px")
    if expect is not None and len(out) != expect:
        raise GifError(f"LZW decoded {len(out)} px, frame declares "
                       f"{expect}")
    return bytes(out)


# ------------------------------------------------------------- encoder
def _sub_blocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i: i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def gif_encode(frames, palette: np.ndarray | None = None,
               delay_cs: int = 4) -> bytes:
    """Index frames → GIF89a (GIF87a when a single undelayed frame).
    `frames`: one (h, w) uint8 array or a list of them (all the same
    size — full-frame animation); `palette`: (n ≤ 256, 3) uint8,
    default identity grayscale. Always writes a Global Color Table
    padded to a power of two, a per-frame Graphic Control Extension
    for animations, and real LZW data."""
    if isinstance(frames, np.ndarray) and frames.ndim == 2:
        frames = [frames]
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames or any(f.ndim != 2 for f in frames):
        raise GifError("frames must be one or more (h, w) uint8 arrays")
    h, w = frames[0].shape
    if h == 0 or w == 0 or any(f.shape != (h, w) for f in frames):
        raise GifError("all frames must share one non-empty (h, w)")
    pal = GRAY_PALETTE if palette is None else \
        np.asarray(palette, dtype=np.uint8)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 2 <= pal.shape[0] <= 256:
        raise GifError("palette must be (2..256, 3) uint8")
    if any(int(f.max()) >= pal.shape[0] for f in frames):
        raise GifError("frame index beyond palette")
    size_exp = max(1, int(np.ceil(np.log2(pal.shape[0]))))
    n_pal = 1 << size_exp
    gct = np.zeros((n_pal, 3), dtype=np.uint8)
    gct[: pal.shape[0]] = pal
    animated = len(frames) > 1
    min_code = max(2, size_exp)

    out = bytearray(b"GIF89a" if animated else b"GIF87a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | ((size_exp - 1) << 4) | (size_exp - 1), 0, 0])
    out += gct.tobytes()
    for f in frames:
        if animated:
            out += bytes([0x21, 0xF9, 0x04, 0x00])   # GCE, no disposal
            out += struct.pack("<H", delay_cs)
            out += bytes([0x00, 0x00])
        out += bytes([0x2C]) + struct.pack("<HHHH", 0, 0, w, h) \
            + bytes([0x00])                          # no LCT, sequential
        out += bytes([min_code])
        out += _sub_blocks(lzw_compress(f, min_code))
    out += bytes([0x3B])
    return bytes(out)


# ------------------------------------------------------------- decoder
_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(rows: np.ndarray) -> np.ndarray:
    h = rows.shape[0]
    order = np.concatenate([np.arange(start, h, step)
                            for start, step in _INTERLACE_PASSES])
    out = np.empty_like(rows)
    out[order] = rows
    return out


def _read_sub_blocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    n = len(buf)
    while True:
        if pos >= n:
            raise GifError("sub-blocks ran off the buffer")
        ln = buf[pos]
        pos += 1
        if ln == 0:
            return bytes(out), pos
        if pos + ln > n:
            raise GifError("sub-block overruns buffer")
        out += buf[pos: pos + ln]
        pos += ln


def gif_frames(buf: bytes) -> tuple[np.ndarray, int]:
    """(frames (n, h, w, 3) uint8 RGB, n_frames). Composes each image
    descriptor onto the running canvas at its declared sub-rectangle
    (disposal 'leave in place' — the only mode our encoder emits and
    the common default), snapshotting the canvas after every frame."""
    b = bytes(buf)
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise GifError("missing GIF signature")
    w, h = struct.unpack("<HH", b[6:10])
    if w == 0 or h == 0:
        raise GifError("zero logical screen size")
    packed, bg, _ = b[10], b[11], b[12]
    pos = 13
    gct = None
    if packed & 0x80:
        n_pal = 2 << (packed & 0x07)
        if pos + 3 * n_pal > len(b):
            raise GifError("global color table overruns buffer")
        gct = np.frombuffer(b, np.uint8, 3 * n_pal, pos).reshape(-1, 3)
        pos += 3 * n_pal
    canvas = np.zeros((h, w, 3), dtype=np.uint8)
    if gct is not None and bg < len(gct):
        canvas[:] = gct[bg]
    frames = []
    while True:
        if pos >= len(b):
            raise GifError("stream ended without trailer")
        block = b[pos]
        pos += 1
        if block == 0x3B:                       # trailer
            break
        if block == 0x21:                       # extension
            if pos >= len(b):
                raise GifError("truncated extension")
            pos += 1                            # label (GCE/comment/app)
            _, pos = _read_sub_blocks(b, pos)
            continue
        if block != 0x2C:
            raise GifError(f"unknown block 0x{block:02x}")
        if pos + 9 > len(b):
            raise GifError("truncated image descriptor")
        left, top, fw, fh = struct.unpack("<HHHH", b[pos: pos + 8])
        ipacked = b[pos + 8]
        pos += 9
        if fw == 0 or fh == 0 or left + fw > w or top + fh > h:
            raise GifError(f"frame {fw}x{fh}@({left},{top}) outside "
                           f"{w}x{h} screen")
        pal = gct
        if ipacked & 0x80:
            n_pal = 2 << (ipacked & 0x07)
            if pos + 3 * n_pal > len(b):
                raise GifError("local color table overruns buffer")
            pal = np.frombuffer(b, np.uint8, 3 * n_pal, pos) \
                .reshape(-1, 3)
            pos += 3 * n_pal
        if pal is None:
            raise GifError("frame has neither local nor global palette")
        if pos >= len(b):
            raise GifError("missing LZW min code size")
        min_code = b[pos]
        pos += 1
        data, pos = _read_sub_blocks(b, pos)
        idx = np.frombuffer(
            lzw_decompress(data, min_code, expect=fw * fh),
            dtype=np.uint8).reshape(fh, fw)
        if int(idx.max()) >= len(pal):
            raise GifError("pixel index beyond palette")
        if ipacked & 0x40:
            idx = _deinterlace(idx)
        canvas[top: top + fh, left: left + fw] = pal[idx]
        frames.append(canvas.copy())
    if not frames:
        raise GifError("stream contains no image data")
    return np.stack(frames), len(frames)



"""Generic multimodal columns: opaque binary payloads + typed metadata.

The audio path (audio.py/payload.py) is this engine's fully-worked
modality. This module generalizes the same plumbing — binary column,
Arrow batches through mapInPandas, bounded batch memory, violation
rows out — to image/video payloads. Decoders are REAL for eight public
container formats (below, all implemented from their specs in pure
numpy/stdlib); the synthetic IMG1/VID1 containers remain as
deterministic fakes exercising the declared-stub plumbing that a
format needing an external codec (H.264 sample decode) would slot into via
`_DECODERS`; every Spark-side piece (schema, partitioning, UDF
signature, batch shape) is identical either way.

Synthetic container format (deterministic, self-describing):
  b"IMG1" + width:uint16 + height:uint16 + channels:uint8 + raw pixels
  b"VID1" + n_frames:uint16 + width:uint16 + height:uint16 + raw frames

EIGHT real containers ride alongside the stubs, covering every
modality, each needing no external library:
- RIFF/WAVE (r4): spec-conformant writer (fmt chunk, a LIST chunk so
  parsers must actually walk, word-aligned data chunk) + a generic
  RIFF chunk walker, cross-checked against stdlib `wave`; accepts
  PCM16 and the real-world telephony variants WAVE_FORMAT_MULAW/ALAW
  (fmt 6/7), decoded through the audioop-cross-checked G.711 codecs.
- Windows BMP, 24 bpp uncompressed (r5): both headers validated;
  parser honors the pixel-data offset, 4-byte row stride, and
  bottom-up vs top-down row order.
- YUV4MPEG2 (r5): tagged plain-text stream header + FRAME markers
  with raw planar YUV, the layout ffmpeg/mjpegtools emit; C420/C444/
  Cmono supported, mean_luma over Y planes only.
- PNG (r5): chunk walk with CRC32 verification, zlib-inflated IDAT,
  and full reversal of all five scanline filters (None/Sub/Up/
  Average/Paeth) — the encoder cycles filter types per row so the
  decoder's unfiltering is actually load-bearing. stdlib zlib only.
- baseline JPEG (r5, jpeg.py): full ITU-T T.81 baseline DCT process —
  markers, quality-scaled Annex-K quantization, canonical Huffman
  entropy coding, 4:2:0/4:4:4, restart intervals — pure numpy/struct.
  The corpus uses per-8×8-block-constant grayscale payloads so the
  lossy pipeline collapses to closed-form quantization arithmetic the
  DuckDB oracle restates exactly (jpeg.block_constant_decoded).
- animated GIF (r5, gif.py): GIF87a/89a with real variable-width LZW,
  Global/Local Color Tables, sub-rectangle frame composition, 4-pass
  interlace. Lossless over palette indices, so the corpus oracle is
  the generator arithmetic itself.
- Ogg (r5, ogg.py): RFC 3533 page layer — lacing, packet reassembly
  across pages, granule rules, page-sequence continuity, and EVERY
  page CRC verified (bit rot anywhere in the stream is DETECTED; a
  full single-byte corruption sweep is pinned in tests). The codec
  payload (opus/vorbis) stays the declared external stub, so
  channels/mean_luma are NULL and n_frames is the container's own
  final-granule claim.
- ISO BMFF / MP4 (r5, mp4.py): the CONTAINER layer is fully real —
  box walk, tkhd dimensions, stts frame count, stco/stsz verified
  against mdat — which is how a pipeline treats video at scale
  (parse metadata, never transcode). Sample DECODE (H.264/H.265
  bitstream) genuinely needs an external codec and stays a declared
  stub: channels/mean_luma report NULL rather than a guess.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark import gif as _gif
from canned_yaml_spark import jpeg as _jpeg
from canned_yaml_spark import mp4 as _mp4
from canned_yaml_spark import ogg as _ogg

META_SCHEMA = ("media_id string, part_id int, kind string, ok boolean, "
               "width int, height int, channels int, n_frames int, "
               "mean_luma double, err string")


# --------------------------------------------------------- stub codecs
def encode_image(key: int, width: int = 8, height: int = 8,
                 channels: int = 3) -> bytes:
    """Deterministic fake image: gradient + key-dependent offset."""
    n = width * height * channels
    px = ((np.arange(n) * 7 + key * 13) % 256).astype(np.uint8)
    return b"IMG1" + struct.pack("<HHB", width, height, channels) + px.tobytes()


def _decode_image_stub(buf: bytes) -> dict:
    w, h, c = struct.unpack("<HHB", buf[4:9])
    px = np.frombuffer(buf[9:], dtype=np.uint8)
    if px.size != w * h * c:
        raise ValueError(f"pixel payload {px.size} != {w}x{h}x{c}")
    return {"width": w, "height": h, "channels": c, "n_frames": 1,
            "mean_luma": float(px.mean())}


def _decode_video_stub(buf: bytes) -> dict:
    f, w, h = struct.unpack("<HHH", buf[4:10])
    px = np.frombuffer(buf[10:], dtype=np.uint8)
    if px.size != f * w * h:
        raise ValueError(f"frame payload {px.size} != {f}x{w}x{h}")
    return {"width": w, "height": h, "channels": 1, "n_frames": f,
            "mean_luma": float(px.mean())}


# ------------------------------------------------- real codec: WAV/RIFF
#: WAV corpus constants (the DuckDB oracle restates the same formula)
WAV_N, WAV_SR, WAV_CH = 200, 16000, 1


def wav_sample(k: int, i):
    """Sample i of clip k — pure integer arithmetic, SQL-restatable."""
    return (i * 31 + k * 7) % 2048 - 1024


def encode_wav(key: int, n_samples: int = WAV_N, sr_hz: int = WAV_SR,
               channels: int = WAV_CH) -> bytes:
    """A real, spec-conformant RIFF/WAVE file: fmt chunk (PCM s16le),
    a LIST/INFO chunk (so decoders must walk chunks, not read fixed
    offsets), then the data chunk. Pure numpy/struct — no wave module,
    no external codec."""
    pcm = wav_sample(key, np.arange(n_samples * channels,
                                    dtype=np.int64)).astype("<i2")
    data = pcm.tobytes()
    block = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sr_hz, sr_hz * block,
                      block, 16)
    info = b"INFOISFT" + struct.pack("<I", 4) + b"cys\x00"
    chunks = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
              + b"LIST" + struct.pack("<I", len(info)) + info
              + b"data" + struct.pack("<I", len(data)) + data)
    if len(data) % 2:                      # RIFF chunks are word-aligned
        chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def wav_pcm(buf: bytes) -> tuple[np.ndarray, int]:
    """(PCM16 samples, channels) from a RIFF/WAVE buffer — the generic
    chunk walk shared by the metadata decoder and audio_stats. Raises
    ValueError on malformed containers."""
    if len(buf) < 12 or buf[8:12] != b"WAVE":
        raise ValueError("not a WAVE file")
    riff_size = struct.unpack("<I", buf[4:8])[0]
    if 8 + riff_size > len(buf):
        raise ValueError(f"RIFF declares {riff_size} bytes, "
                         f"buffer has {len(buf) - 8}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= 8 + riff_size:
        cid = buf[pos:pos + 4]
        sz = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        end = pos + 8 + sz
        if end > len(buf):
            raise ValueError(f"chunk {cid!r} overruns buffer")
        if cid == b"fmt ":
            fmt = buf[pos + 8:end]
        elif cid == b"data":
            data = buf[pos + 8:end]
        pos = end + (sz & 1)               # word alignment
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sr_hz, _, block, bits = \
        struct.unpack("<HHIIHH", fmt[:16])
    if audio_format == 1 and bits == 16:
        pcm = np.frombuffer(data, dtype="<i2")
    elif audio_format in (6, 7) and bits == 8:
        # WAVE_FORMAT_ALAW / _MULAW: real-world telephony WAVs carry
        # G.711 bytes; decode through the same audioop-cross-checked
        # codecs the payload family uses (audio.py)
        from canned_yaml_spark import audio as _audio
        g711 = np.frombuffer(data, dtype=np.uint8)
        pcm = (_audio.alaw_decode(g711) if audio_format == 6
               else _audio.ulaw_decode(g711))
    else:
        raise ValueError(f"unsupported WAV: format={audio_format} "
                         f"bits={bits}")
    if pcm.size % channels:
        raise ValueError("data chunk not a whole number of frames")
    del sr_hz                              # parsed + validated, callers don't need it
    return pcm, channels


def _decode_wav(buf: bytes) -> dict:
    """Generic RIFF walker (wav_pcm): validates the envelope, iterates
    chunks with word alignment, requires one fmt (PCM, 16-bit) and one
    data chunk. Metadata mapping for the audio kind: width = sample
    width in bytes, height = NULL (no spatial axis), n_frames =
    per-channel frames, mean_luma = mean sample value (mean amplitude)."""
    pcm, channels = wav_pcm(buf)
    return {"width": 2, "height": None, "channels": channels,
            "n_frames": pcm.size // channels,
            "mean_luma": float(pcm.mean())}


# ----------------------------------------------- real codec: BMP (DIB)
#: BMP corpus constants (the DuckDB oracle restates the same formula)
BMP_W, BMP_H = 6, 5


def bmp_pixel(k: int, j):
    """Byte j of image k's pixel data, in LOGICAL order (row-major,
    top-down, BGR interleaved) — pure integer arithmetic, SQL-restatable.
    j ranges over [0, BMP_W*BMP_H*3)."""
    return (j * 5 + k * 19) % 256


def encode_bmp(key: int, width: int = BMP_W, height: int = BMP_H,
               pixels: np.ndarray | None = None) -> bytes:
    """A real, spec-conformant Windows BMP: BITMAPFILEHEADER +
    BITMAPINFOHEADER, 24 bpp uncompressed, rows stored BOTTOM-UP with
    4-byte row padding — both quirks a parser must actually honor.
    Pure numpy/struct — no Pillow, no external codec."""
    px = (np.asarray(pixels, dtype=np.uint8).reshape(-1)
          if pixels is not None else
          bmp_pixel(key, np.arange(width * height * 3,
                                   dtype=np.int64)).astype(np.uint8))
    assert px.size == width * height * 3
    logical = px.reshape(height, width * 3)
    stride = (width * 3 + 3) & ~3
    rows = np.zeros((height, stride), dtype=np.uint8)
    rows[:, : width * 3] = logical[::-1]       # bottom-up storage order
    data = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                       len(data), 2835, 2835, 0, 0)
    offset = 14 + len(info)
    head = b"BM" + struct.pack("<IHHI", offset + len(data), 0, 0, offset)
    return head + info + data


def _decode_bmp(buf: bytes) -> dict:
    """Real BMP parser: validates both headers, honors the pixel-data
    offset, 4-byte row stride, and row order (positive biHeight =
    bottom-up, negative = top-down). 24 bpp uncompressed only — the
    corpus's shape, and the no-dependency subset. Metadata mapping:
    channels = 3, n_frames = 1, mean_luma = mean over all pixel bytes
    (order-invariant, so the oracle restates it analytically)."""
    if len(buf) < 54:
        raise ValueError("shorter than BMP headers")
    file_size, _, _, offset = struct.unpack("<IHHI", buf[2:14])
    if file_size > len(buf):
        raise ValueError(f"header declares {file_size} bytes, "
                         f"buffer has {len(buf)}")
    hdr_size = struct.unpack("<I", buf[14:18])[0]
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size}")
    width, height, planes, bpp, compression = \
        struct.unpack("<iiHHI", buf[18:34])
    if planes != 1 or bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP: planes={planes} bpp={bpp} "
                         f"compression={compression}")
    if width <= 0 or height == 0:
        raise ValueError(f"bad dimensions {width}x{height}")
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    if offset + h * stride > len(buf):
        raise ValueError("pixel data overruns buffer")
    rows = np.frombuffer(buf, dtype=np.uint8,
                         count=h * stride, offset=offset).reshape(h, stride)
    logical = rows[:, : width * 3] if top_down else rows[::-1, : width * 3]
    return {"width": width, "height": h, "channels": 3, "n_frames": 1,
            "mean_luma": float(logical.mean())}


def bmp_pixels(buf: bytes) -> np.ndarray:
    """Decoded BMP pixels as an (h, w, 3) uint8 array in logical
    (top-down, BGR) order — the raster form the perceptual-hash
    operators consume. Same validation as _decode_bmp."""
    meta = _decode_bmp(buf)                     # full header validation
    file_size, _, _, offset = struct.unpack("<IHHI", buf[2:14])
    width, height = struct.unpack("<ii", buf[18:26])
    top_down = height < 0
    h = abs(height)
    stride = (width * 3 + 3) & ~3
    rows = np.frombuffer(bytes(buf), dtype=np.uint8,
                         count=h * stride, offset=offset).reshape(h, stride)
    logical = rows[:, : width * 3] if top_down else rows[::-1, : width * 3]
    return logical.reshape(h, width, 3).copy()


# ----------------------------------------------------- real codec: PNG
#: PNG corpus constants (the DuckDB oracle restates the same formula);
#: height 5 so the encoder's per-row filter cycle r % 5 exercises ALL
#: five PNG filter types (None/Sub/Up/Average/Paeth) in every image
PNG_W, PNG_H = 5, 5

#: PNG file signature (PNG spec §5.2)
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_pixel(k: int, j):
    """Byte j of image k's pixel data in logical order (row-major RGB)
    — pure integer arithmetic, SQL-restatable. j in [0, PNG_W*PNG_H*3)."""
    return (j * 3 + k * 23) % 256


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """PaethPredictor (PNG spec §9.4) over int arrays."""
    p = a.astype(np.int32) + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def encode_png(key: int, width: int = PNG_W, height: int = PNG_H,
               channels: int = 3, pixels: np.ndarray | None = None) -> bytes:
    """A real, spec-conformant PNG: signature, IHDR/IDAT/IEND chunks
    with big-endian lengths and CRC32s, zlib-compressed scanlines.
    Row r is written with filter type r % 5, so a decoder must
    implement ALL five filters (None/Sub/Up/Average/Paeth) correctly
    to reconstruct the pixels — filtering is lossless, so the decoded
    bytes still equal png_pixel(key, j) and the oracle can restate the
    mean analytically. Pure numpy/struct/zlib — no Pillow."""
    color_type = {1: 0, 3: 2, 4: 6}[channels]    # gray / RGB / RGBA
    # pixels: optional explicit flat uint8 raster (logical order) —
    # re-encode arbitrary content (e.g. the image near-dup gate writes
    # the SAME pixels under both containers); default is the corpus
    # formula
    px = (np.asarray(pixels, dtype=np.uint8).reshape(-1)
          if pixels is not None else
          png_pixel(key, np.arange(width * height * channels,
                                   dtype=np.int64)).astype(np.uint8))
    assert px.size == width * height * channels
    raw = px.reshape(height, width * channels).astype(np.int32)
    bpp = channels                                # bit depth 8
    lines = []
    prior = np.zeros(width * channels, dtype=np.int32)
    for r in range(height):
        cur = raw[r]
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        up_left = np.concatenate([np.zeros(bpp, dtype=np.int32),
                                  prior[:-bpp]])
        ftype = r % 5
        if ftype == 0:
            filt = cur
        elif ftype == 1:
            filt = cur - left
        elif ftype == 2:
            filt = cur - prior
        elif ftype == 3:
            filt = cur - (left + prior) // 2
        else:
            filt = cur - _paeth(left, prior, up_left)
        lines.append(bytes([ftype]) + (filt % 256).astype(np.uint8).tobytes())
        prior = cur
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + _png_chunk(b"IEND", b""))


def _png_recon(buf: bytes) -> np.ndarray:
    """Real PNG parser → (h, w, channels) uint8 pixels: validates the
    signature, walks chunks verifying every CRC32, parses IHDR (bit
    depth 8; gray/RGB/RGBA; no interlace), inflates the concatenated
    IDAT stream, and reverses the per-row filter (all five types, PNG
    spec §9) to reconstruct pixels. Sub/Average/Paeth unfiltering is
    inherently sequential in x (each byte needs the reconstructed byte
    bpp to its left), so rows decode with a per-byte loop — fine for
    metadata extraction; a columnar raster pipeline would batch whole
    images per Arrow batch anyway."""
    if len(buf) < 8 or bytes(buf[:8]) != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, ihdr, idat, seen_end = 8, None, [], False
    while pos + 8 <= len(buf):
        ln = struct.unpack(">I", buf[pos:pos + 4])[0]
        ctype = bytes(buf[pos + 4:pos + 8])
        end = pos + 8 + ln
        if end + 4 > len(buf):
            raise ValueError(f"chunk {ctype!r} overruns buffer")
        data = bytes(buf[pos + 8:end])
        crc = struct.unpack(">I", buf[end:end + 4])[0]
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            seen_end = True
            break
        pos = end + 4
    if ihdr is None or not idat or not seen_end:
        raise ValueError("missing IHDR/IDAT/IEND chunk")
    w, h, depth, color_type, comp, filt, interlace = \
        struct.unpack(">IIBBBBB", ihdr)
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if depth != 8 or channels is None or comp != 0 or filt != 0 \
            or interlace != 0:
        raise ValueError(f"unsupported PNG: depth={depth} "
                         f"color_type={color_type} interlace={interlace}")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions {w}x{h}")
    stream = zlib.decompress(b"".join(idat))
    rowlen = w * channels
    if len(stream) != h * (1 + rowlen):
        raise ValueError(f"inflated stream {len(stream)} != "
                         f"{h}x(1+{rowlen})")
    sl = np.frombuffer(stream, dtype=np.uint8).reshape(h, 1 + rowlen)
    bpp = channels
    recon = np.zeros((h, rowlen), dtype=np.int32)
    prior = np.zeros(rowlen, dtype=np.int32)
    for r in range(h):
        ftype, frow = int(sl[r, 0]), sl[r, 1:].astype(np.int32)
        if ftype == 0:
            cur = frow
        elif ftype == 2:
            cur = (frow + prior) % 256
        elif ftype in (1, 3, 4):
            cur = np.empty(rowlen, dtype=np.int32)
            for x in range(rowlen):
                left = cur[x - bpp] if x >= bpp else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + prior[x]) // 2
                else:
                    ul = prior[x - bpp] if x >= bpp else 0
                    pred = int(_paeth(np.int32(left), np.int32(prior[x]),
                                      np.int32(ul)))
                cur[x] = (frow[x] + pred) % 256
        else:
            raise ValueError(f"bad filter type {ftype} on row {r}")
        recon[r] = cur
        prior = cur
    return recon.astype(np.uint8).reshape(h, int(w), channels)


def png_pixels(buf: bytes) -> np.ndarray:
    """Decoded PNG pixels as an (h, w, channels) uint8 array — full
    chunk/CRC/filter validation (shared reconstruction, _png_recon)."""
    return _png_recon(buf)


def _decode_png(buf: bytes) -> dict:
    """Metadata mapping for the media_meta surface (matches BMP):
    mean_luma = mean over all samples — order-invariant, so the oracle
    restates it analytically. Full validation via _png_recon."""
    px = _png_recon(buf)
    h, w, channels = px.shape
    return {"width": w, "height": h, "channels": channels,
            "n_frames": 1, "mean_luma": float(px.mean())}


# ------------------------------------------ real codec: Y4M (YUV4MPEG2)
#: Y4M corpus constants (the DuckDB oracle restates the same formula)
Y4M_F, Y4M_W, Y4M_H = 4, 4, 4
#: bytes per C420 frame at the corpus geometry: Y (w·h) + U + V (¼ each)
Y4M_FRAME = Y4M_W * Y4M_H * 3 // 2


def y4m_byte(k: int, j):
    """Byte j of stream k's CONCATENATED frame payloads (headers
    excluded) — pure integer arithmetic, SQL-restatable. Within each
    24-byte C420 frame, offsets [0,16) are the Y plane, [16,24) the
    chroma planes, so luma bytes are j % 24 < 16."""
    return (j * 11 + k * 17) % 256


def encode_y4m(key: int, n_frames: int = Y4M_F, width: int = Y4M_W,
               height: int = Y4M_H, csp: str = "420",
               payload: np.ndarray | None = None) -> bytes:
    """A real YUV4MPEG2 stream: tagged plain-text stream header, then
    per-frame `FRAME\\n` markers each followed by raw planar YUV —
    exactly the layout ffmpeg/mjpegtools emit. Pure numpy/struct."""
    plane = {"420": width * height * 3 // 2, "444": width * height * 3,
             "mono": width * height}[csp]
    head = (f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 "
            f"C{csp}\n").encode()
    # payload: optional explicit concatenated-frame bytes (the video
    # near-dup gate re-encodes perturbed content); default = formula
    px = (np.asarray(payload, dtype=np.uint8).reshape(-1)
          if payload is not None else
          y4m_byte(key, np.arange(n_frames * plane,
                                  dtype=np.int64)).astype(np.uint8))
    assert px.size == n_frames * plane
    out = [head]
    for f in range(n_frames):
        out.append(b"FRAME\n")
        out.append(px[f * plane:(f + 1) * plane].tobytes())
    return b"".join(out)


def _parse_y4m_header(buf: bytes) -> tuple[int, int, str, int]:
    """(width, height, colourspace, header_end) from the stream-header
    line; raises on malformed/missing tags."""
    nl = buf.find(b"\n")
    if nl < 0:
        raise ValueError("no stream-header newline")
    tags = buf[:nl].decode("ascii", "replace").split(" ")
    if tags[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    csp = "420jpeg"                        # spec default when no C tag
    for t in tags[1:]:
        if t.startswith("W"):
            w = int(t[1:])
        elif t.startswith("H"):
            h = int(t[1:])
        elif t.startswith("C"):
            csp = t[1:]
    if not w or not h or w <= 0 or h <= 0:
        raise ValueError(f"bad dimensions W={w} H={h}")
    return w, h, csp, nl + 1


def _y4m_frame_bytes(w: int, h: int, csp: str) -> tuple[int, int]:
    """(bytes per frame, channels) for the supported colourspaces."""
    if csp.startswith("420"):
        if (w | h) & 1:
            raise ValueError(f"C{csp} needs even dimensions, "
                             f"got {w}x{h}")
        return w * h * 3 // 2, 3
    if csp == "444":
        return w * h * 3, 3
    if csp == "mono":
        return w * h, 1
    raise ValueError(f"unsupported colourspace C{csp}")


def _decode_y4m(buf: bytes) -> dict:
    """Real Y4M parser: walks the stream header then every FRAME
    marker (allowing per-frame parameters after `FRAME`), slicing
    planar YUV by the colourspace's frame size. mean_luma is the mean
    over Y planes only — chroma planes carry colour, not luminance."""
    w, h, csp, pos = _parse_y4m_header(buf)
    fsz, channels = _y4m_frame_bytes(w, h, csp)
    n_frames, luma_sum = 0, 0
    while pos < len(buf):
        if buf[pos:pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        nl = buf.find(b"\n", pos)
        if nl < 0:
            raise ValueError("unterminated FRAME header")
        pos = nl + 1
        if pos + fsz > len(buf):
            raise ValueError("frame data overruns buffer")
        y = np.frombuffer(buf, dtype=np.uint8, count=w * h, offset=pos)
        luma_sum += int(y.sum(dtype=np.int64))
        n_frames += 1
        pos += fsz
    if n_frames == 0:
        raise ValueError("stream contains no frames")
    return {"width": w, "height": h, "channels": channels,
            "n_frames": n_frames,
            "mean_luma": luma_sum / (n_frames * w * h)}


def _decode_gif(buf: bytes) -> dict:
    """Real GIF87a/89a decode (gif.py): LZW, sub-block reassembly,
    palette mapping, frame composition. kind mapping: GIF is an image
    container even when animated (n_frames carries the frame count);
    mean_luma = mean over all composed RGB frames, so an identity
    grayscale palette makes it the mean of the coded indices — the
    quantity the oracle restates analytically (GifError is a
    ValueError, so decode_media's corrupt-container contract holds)."""
    frames, n = _gif.gif_frames(buf)
    return {"width": int(frames.shape[2]), "height": int(frames.shape[1]),
            "channels": 3, "n_frames": n,
            "mean_luma": float(frames.astype(np.float64).mean())}


def _decode_ogg(buf: bytes) -> dict:
    """Real Ogg page-layer parse (ogg.py, RFC 3533): capture pattern,
    lacing, page-sequence continuity, and EVERY page CRC verified —
    bit rot anywhere in the stream is detected. The codec payload
    (opus/vorbis) is the declared external stub, so channels and
    mean_luma report NULL; n_frames is the container's own final
    granule position (its sample-count claim)."""
    _, final_granule = _ogg.ogg_packets(buf)
    # granule is u64 in the container but n_frames is int32 in
    # META_SCHEMA: a legitimate ~13h 44.1kHz stream would break the
    # pandas->Arrow conversion and fail the task (ADVICE r5); report
    # NULL (unknown) instead for out-of-range claims
    g = int(final_granule)
    if not (-2**31 <= g < 2**31):
        g = None
    return {"width": None, "height": None, "channels": None,
            "n_frames": g, "mean_luma": None}


def _decode_mp4(buf: bytes) -> dict:
    """Real ISO BMFF box-layer parse (mp4.py): box walk, tkhd
    dimensions, stts frame count, stco/stsz-vs-mdat consistency.
    SAMPLE decode (H.264/H.265 bitstream) needs an external codec and
    stays a declared stub, so channels and mean_luma are honestly NULL
    — a parser that cannot know a value says so rather than guessing
    (Mp4Error is a ValueError → the corrupt-container contract)."""
    m = _mp4.mp4_meta(buf)
    return {"width": m["width"], "height": m["height"],
            "channels": None, "n_frames": m["n_frames"],
            "mean_luma": None}


def _decode_jpeg(buf: bytes) -> dict:
    """Real baseline JPEG decode (jpeg.py, ITU-T T.81): full marker
    parse, stream-defined Huffman tables, dequant + IDCT. Metadata
    mapping matches the other image kinds: mean_luma = mean over all
    decoded pixel values (gray plane, or all three RGB channels)."""
    px = _jpeg.jpeg_decode_strict(buf)
    channels = 1 if px.ndim == 2 else px.shape[2]
    return {"width": int(px.shape[1]), "height": int(px.shape[0]),
            "channels": channels, "n_frames": 1,
            "mean_luma": float(px.astype(np.float64).mean())}


#: magic → decoder; only formats needing external codecs (MP4) stay out
_DECODERS = {
    b"IMG1": _decode_image_stub,
    b"VID1": _decode_video_stub,
    b"RIFF": _decode_wav,                  # real container, real parser
    b"\x89PNG": _decode_png,               # real container, real parser
    b"\xff\xd8\xff": _decode_jpeg,         # real codec (jpeg.py, T.81)
    b"GIF8": _decode_gif,                  # real codec (gif.py, LZW)
    b"OggS": _decode_ogg,                  # real container (ogg.py, CRC)
    b"BM": _decode_bmp,                    # real container, real parser
    b"YUV4MPEG2": _decode_y4m,             # real container, real parser
}


def decode_media(buf: bytes | None) -> tuple[dict | None, str | None]:
    if buf is None:
        return None, "null payload"
    dec = None
    for magic, d in _DECODERS.items():
        if bytes(buf[: len(magic)]) == magic:
            dec = d
            break
    # ISO BMFF carries its brand at offset 4 (after the ftyp box
    # size), so it cannot live in the prefix-keyed registry
    if dec is None and len(buf) >= 12 and bytes(buf[4:8]) == b"ftyp":
        dec = _decode_mp4
    if dec is None:
        return None, "unknown container magic"
    try:
        return dec(bytes(buf)), None
    except NotImplementedError as e:
        return None, str(e)
    except Exception as e:  # corrupt container
        return None, f"undecodable: {e}"


# ----------------------------------------------------- derived corpus
#: corpus plan (pure arithmetic on o_orderkey, mirrored analytically by
#: the DuckDB oracle): k%4==1 → real WAV/RIFF audio, k%4==2 → real 6×5
#: 24-bpp BMP image, k%4==3 → real 4-frame 4×4 C420 Y4M video; the
#: k%4==0 slot splits — k%8==4 → real 5×5 RGB PNG (all five filters),
#: k%16==8 → real 24×16 grayscale baseline JPEG (per-8×8-block-constant
#: pixels, quality 33, so the lossy path has a closed-form oracle;
#: every third one adds restart intervals), k%32==16 → real 4-frame
#: 16×8 animated GIF (identity grayscale palette: the LOSSLESS LZW
#: path decodes to exactly the generated indices, so the oracle
#: restates the generator arithmetic directly), k%64==32 → real 12×10
#: 5-sample ISO BMFF/MP4 video (box layer parsed for REAL — tkhd/stts/
#: stsz/stco verified against mdat; sample DECODE is the declared
#: H.264 stub, so channels/mean_luma are honestly NULL), k%64==0 →
#: 8×8×3 IMG1 stub image; every 10th payload truncated to half
#: (undecodable). The IMG1 stub slot stays: it exercises the
#: declared-stub plumbing that codec-bound sample decode still needs.
IMG_W, IMG_H, IMG_C = 8, 8, 3
VID_F, VID_W, VID_H = 4, 4, 4
GIF_F, GIF_W, GIF_H = 4, 16, 8
MP4_F, MP4_W, MP4_H = 5, 12, 10


def ogg_final_granule(k: int) -> int:
    """Final granule position of corpus Ogg k — the value the oracle
    restates."""
    return 960 + 480 * (1 + k % 5)


def encode_ogg(k: int) -> bytes:
    """Deterministic 3-packet one-stream Ogg: packet sizes
    40+(k%50)/140/80 with granules 480/960/ogg_final_granule(k). The
    page layer (lacing, CRCs, flags) is fully real; packet contents
    are opaque codec bytes by design."""
    sizes = (40 + k % 50, 140, 80)
    pkts = [bytes(((np.arange(s, dtype=np.int64) * 23 + k * 11 + i)
                   % 256).astype(np.uint8))
            for i, s in enumerate(sizes)]
    return _ogg.ogg_encode(pkts, [480, 960, ogg_final_granule(k)])


def encode_mp4(k: int) -> bytes:
    """Deterministic 5-sample 12×10 MP4: sample i carries
    60 + (k + i) % 40 opaque bytes. The box layer is fully real;
    sample contents are opaque by design (no H.264 in sandbox)."""
    return _mp4.mp4_encode([60 + (k + i) % 40 for i in range(MP4_F)],
                           width=MP4_W, height=MP4_H)


def gif_pixel(k: int, j):
    """Coded index j (flat over frames×rows×cols) of corpus GIF k —
    the quantity the oracle's analytic mean starts from."""
    jj = np.asarray(j, dtype=np.int64)
    fsz = GIF_W * GIF_H
    return ((jj % fsz) * 13 + (jj // fsz) * 29 + k * 7) % 256


def encode_gif(k: int) -> bytes:
    """Deterministic 4-frame 16×8 animated GIF89a: frame f pixel i is
    (i·13 + f·29 + k·7) % 256 through the identity grayscale palette —
    lossless, so decoded RGB = replicated indices exactly."""
    j = np.arange(GIF_F * GIF_H * GIF_W, dtype=np.int64)
    px = gif_pixel(k, j).astype(np.uint8) \
        .reshape(GIF_F, GIF_H, GIF_W)
    return _gif.gif_encode([px[f] for f in range(GIF_F)])
#: quality 33 → q₀ = 24: chosen so BOTH rounding stages sit off their
#: knife edges for every uint8 block value — the quantizer argument is
#: d/3 (fractional parts {0, ⅓, ⅔}, never .5, and ≥⅙ from the
#: boundary, far beyond float-DCT error), and q₀ ≡ 0 (mod 8) keeps the
#: reconstruction 3·qdc + 128 integral so the +0.5 half-up floor never
#: ties. q₀ = 16 (quality 50) puts odd d EXACTLY on the .5 boundary,
#: where the einsum's ~1e-13 error flips the closed form.
JPEG_W, JPEG_H, JPEG_Q = 24, 16, 33


def jpeg_block_value(k: int, j: int) -> int:
    """Input value of 8×8 block j (row-major over the 2×3 block grid)
    of corpus JPEG k — the quantity the oracle's closed form starts
    from."""
    return (j * 37 + k * 29) % 256


def encode_jpeg(k: int) -> bytes:
    """Deterministic 24×16 grayscale baseline JPEG: each 8×8 block is
    constant at jpeg_block_value(k, j), so decoded pixels follow
    jpeg.block_constant_decoded exactly (only the DC coefficient
    survives the FDCT). k%3==0 streams carry DRI/RSTn markers —
    restarts are bit-exact no-ops on pixels but force the decoder's
    segment walk."""
    bh, bw_ = JPEG_H // 8, JPEG_W // 8
    vals = np.array([[jpeg_block_value(k, by * bw_ + bx)
                      for bx in range(bw_)] for by in range(bh)],
                    dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
    return _jpeg.jpeg_encode(img, quality=JPEG_Q,
                             restart_interval=2 if k % 3 == 0 else 0)


#: media_corpus_df keys_where predicate selecting exactly the keys
#: media_row encodes as RIFF/WAVE (k % 4 == 1 below)
WAV_KEYS_WHERE = "o_orderkey % 4 = 1"


def media_row(k: int) -> tuple[str, int, bytearray]:
    if k % 4 == 3:
        buf = encode_y4m(k)
    elif k % 4 == 1:                        # WAV_KEYS_WHERE
        buf = encode_wav(k)
    elif k % 4 == 2:
        buf = encode_bmp(k)
    elif k % 8 == 4:
        buf = encode_png(k)
    elif k % 16 == 8:
        buf = encode_jpeg(k)
    elif k % 32 == 16:
        buf = encode_gif(k)
    elif k % 64 == 32:
        buf = encode_mp4(k)
    elif k % 128 == 64:
        buf = encode_ogg(k)
    else:
        buf = encode_image(k, IMG_W, IMG_H, IMG_C)
    if k % 10 == 0:
        buf = buf[: len(buf) // 2]          # corrupt: half the container
    return (f"media_{k:010d}", k % 64, bytearray(buf))


def media_corpus_df(spark, sf_dir: str,
                    keys_where: str | None = None) -> DataFrame:
    """Deterministic media table derived from the sf dir's orders keys
    (same two-engine discipline as derive.clips_df: the DuckDB oracle
    recomputes every expected metadata value ANALYTICALLY from k, so
    agreement cross-checks the real decode path, not the generator).

    keys_where: optional SQL predicate on o_orderkey applied BEFORE
    the Python generation stage. Spark cannot push a post-generation
    filter through the opaque mapInPandas (guide §4.1), so a consumer
    that only wants one media kind — e.g. the RIFF/WAVE rows, k%4==1 —
    would otherwise pay the encode cost of the whole corpus (measured
    4x the rows for the audio_stats gate)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = orders.select("o_orderkey")
    if keys_where:
        keys = keys.filter(keys_where)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [media_row(int(k)) for k in pdf["o_orderkey"]]
            yield pd.DataFrame(rows, columns=["media_id", "part_id",
                                              "media"]) \
                .astype({"part_id": "int32"})

    return keys.mapInPandas(gen, "media_id string, part_id int, "
                                 "media binary")


# ------------------------------------------------------ Spark plumbing
def extract_media_meta(df: DataFrame, byte_col: str = "media",
                       id_col: str = "media_id",
                       part_col: str = "part_id") -> DataFrame:
    """Decode + feature-extract a binary media column through Arrow
    batches. Output: one metadata row per input row (ok=false + err
    for undecodable payloads). Batch memory is bounded by
    spark.sql.execution.arrow.maxRecordsPerBatch × payload size."""
    kind_expr = F.when(F.col(byte_col).substr(1, 4) == F.lit(b"IMG1"),
                       "image") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"VID1"), "video") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"YUV4"), "video") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"RIFF"), "audio") \
        .when(F.col(byte_col).substr(1, 2) == F.lit(b"BM"), "image") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"\x89PNG"), "image") \
        .when(F.col(byte_col).substr(1, 3) == F.lit(b"\xff\xd8\xff"),
              "image") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"GIF8"), "image") \
        .when(F.col(byte_col).substr(5, 4) == F.lit(b"ftyp"), "video") \
        .when(F.col(byte_col).substr(1, 4) == F.lit(b"OggS"), "audio") \
        .otherwise("unknown")
    src = df.select(F.col(id_col).alias("media_id"),
                    F.col(part_col).alias("part_id"),
                    kind_expr.alias("kind"),
                    F.col(byte_col).alias("_media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for i in range(len(pdf)):
                meta, err = decode_media(pdf["_media"].iat[i])
                row = {"media_id": pdf["media_id"].iat[i],
                       "part_id": int(pdf["part_id"].iat[i]),
                       "kind": pdf["kind"].iat[i],
                       "ok": err is None,
                       "width": None, "height": None, "channels": None,
                       "n_frames": None, "mean_luma": None, "err": err}
                if meta:
                    row.update(meta)
                out.append(row)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, META_SCHEMA)


def frame_sample(df: DataFrame, every: int = 2, byte_col: str = "media",
                 id_col: str = "media_id") -> DataFrame:
    """Sample every Nth frame of multi-frame payloads → one row per
    sampled frame (media_id, frame_idx, frame bytes). The explode
    happens Python-side per batch so only sampled frames cross back.
    Handles the VID1 stub container, real Y4M streams (frame = the raw
    planar YUV slice, clipped to available bytes — the oracle restates
    the clipping arithmetic), real animated GIFs (frame = the COMPOSED
    RGB raster after LZW decode + palette map + sub-rectangle
    placement, the training-usable form), and real MP4s (frame = the
    CODED sample demuxed via stsz/stco — extraction without
    transcoding, the 100 TB posture); undecodable payloads contribute
    no rows."""
    src = df.select(F.col(id_col).alias("media_id"),
                    F.col(byte_col).alias("_media")) \
            .filter((F.col(byte_col).substr(1, 4) == F.lit(b"VID1"))
                    | (F.col(byte_col).substr(1, 4) == F.lit(b"YUV4"))
                    | (F.col(byte_col).substr(1, 4) == F.lit(b"GIF8"))
                    | (F.col(byte_col).substr(5, 4) == F.lit(b"ftyp")))

    def y4m_slices(buf: bytes) -> tuple[int, list[bytes]]:
        """(declared n_frames, per-frame payload slices, clipped to the
        available bytes) — frame COUNT comes from walking the frames
        that fit, plus one clipped trailing frame if bytes remain."""
        w, h, csp, pos = _parse_y4m_header(buf)
        fsz, _ = _y4m_frame_bytes(w, h, csp)
        out = []
        while pos < len(buf) and buf[pos:pos + 5] == b"FRAME":
            nl = buf.find(b"\n", pos)
            if nl < 0:
                break
            out.append(bytes(buf[nl + 1:nl + 1 + fsz]))
            pos = nl + 1 + fsz
        return len(out), out

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for i in range(len(pdf)):
                buf = bytes(pdf["_media"].iat[i])
                if buf[:4] == b"YUV4":
                    try:
                        f, slices = y4m_slices(buf)
                    except ValueError:
                        continue           # headerless torso: no frames
                    for k in range(0, f, every):
                        ids.append(pdf["media_id"].iat[i])
                        idxs.append(k)
                        frames.append(slices[k])
                    continue
                if buf[:4] == b"GIF8":
                    try:
                        comp, f = _gif.gif_frames(buf)
                    except ValueError:
                        continue           # truncated: no frames
                    for k in range(0, f, every):
                        ids.append(pdf["media_id"].iat[i])
                        idxs.append(k)
                        frames.append(comp[k].tobytes())
                    continue
                if buf[4:8] == b"ftyp":
                    try:
                        samples = _mp4.mp4_samples(buf)
                    except (ValueError, struct.error):
                        # struct.error: consistent box sizes but
                        # short mvhd/mdhd/stts payloads (ADVICE r5)
                        continue           # structural lie: no frames
                    for k in range(0, len(samples), every):
                        ids.append(pdf["media_id"].iat[i])
                        idxs.append(k)
                        frames.append(samples[k])
                    continue
                try:
                    f, w, h = struct.unpack("<HHH", buf[4:10])
                except struct.error:
                    continue               # 5-9 byte VID1 stub payload
                body = buf[10:]
                fsz = w * h
                for k in range(0, f, every):
                    ids.append(pdf["media_id"].iat[i])
                    idxs.append(k)
                    frames.append(body[k * fsz:(k + 1) * fsz])
            yield pd.DataFrame({"media_id": ids,
                                "frame_idx": pd.array(idxs, dtype="int32"),
                                "frame": frames})

    return src.mapInPandas(run, "media_id string, frame_idx int, frame binary")


# ------------------------------ perceptual hash (dHash) + image near-dup
def media_pixels(buf: bytes | None) -> np.ndarray | None:
    """Decoded raster for the REAL image containers — (h, w, channels)
    uint8 for BMP/PNG/JPEG payloads, None for anything else (other
    kinds, corrupt containers). The perceptual-hash operators consume
    this; a JPEG raster is its DECODED pixels, so two encodes of the
    same source at different settings hash by what they look like,
    not what bytes they shipped."""
    if buf is None:
        return None
    b = bytes(buf)
    try:
        if b[:2] == b"BM":
            return bmp_pixels(b)
        if b[:4] == b"\x89PNG":
            return png_pixels(b)
        if b[:3] == b"\xff\xd8\xff":
            px = _jpeg.jpeg_decode_strict(b)  # JpegError is ValueError
            return px[:, :, None] if px.ndim == 2 else px
        if b[:4] == b"GIF8":
            frames, n = _gif.gif_frames(b)    # GifError is ValueError
            # static GIFs join the image-dedup family; animation is a
            # different identity (the video near-dup operator's turf)
            return frames[0] if n == 1 else None
    except ValueError:
        return None
    return None


def dhash64(px: np.ndarray) -> int:
    """64-bit difference hash (dHash) — the standard perceptual image
    fingerprint: integer grayscale (floor mean over channels), EXACT
    integer area-mean resize to an 8×9 grid (add.reduceat over
    floor-boundary blocks, floor-divided by block area — no float
    interpolation, so the hash is bit-deterministic across platforms),
    then bit r·8+c = 1 iff grid[r, c+1] > grid[r, c]. Returned as a
    SIGNED 64-bit int (Spark LongType). Invariant to container /
    lossless re-encode by construction (it sees pixels, not bytes);
    a single-pixel perturbation can flip at most 2 bits (its block's
    left and right comparisons)."""
    h, w, ch = px.shape
    if h < 8 or w < 9:
        raise ValueError(f"image {w}x{h} too small for an 8x9 dHash "
                         f"grid (need >= 9x8)")
    gray = px.astype(np.int64).sum(axis=2) // ch
    rb = (np.arange(9, dtype=np.int64) * h) // 8
    cb = (np.arange(10, dtype=np.int64) * w) // 9
    colsum = np.add.reduceat(gray, cb[:-1], axis=1)
    blocks = np.add.reduceat(colsum, rb[:-1], axis=0)
    areas = np.diff(rb)[:, None] * np.diff(cb)[None, :]
    grid = blocks // areas
    bits = (grid[:, 1:] > grid[:, :-1]).reshape(-1)
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


def image_hashes(df: DataFrame, byte_col: str = "media",
                 id_col: str = "media_id") -> DataFrame:
    """(media_id, dhash) for every decodable real-container image row.
    One Arrow pass (scan → mapInPandas), no join, no shuffle; rows
    that aren't BMP/PNG, fail decode, or are below the 9×8 grid floor
    contribute no rows (dedup skips what it cannot see — the media
    quality gates own those)."""
    src = df.select(F.col(id_col).alias("media_id"),
                    F.col(byte_col).alias("_media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for i in range(len(pdf)):
                px = media_pixels(pdf["_media"].iat[i])
                if px is None or px.shape[0] < 8 or px.shape[1] < 9:
                    continue
                ids.append(pdf["media_id"].iat[i])
                hs.append(dhash64(px))
            yield pd.DataFrame({
                "media_id": ids,
                "dhash": pd.array(hs, dtype="int64")})

    return src.mapInPandas(run, "media_id string, dhash long")


#: 64 dHash bits → max_hamming+1 disjoint bands (pigeonhole: a pair
#: within hamming ≤ k agrees EXACTLY on ≥ 1 of k+1 bands, so the band
#: join has NO false negatives — same guarantee style as the audio
#: fingerprint probe, but here it is exhaustive, not probabilistic)
def _dhash_bands(n_bands: int) -> list[tuple[int, int]]:
    base, extra = divmod(64, n_bands)
    out, off = [], 0
    for i in range(n_bands):
        width = base + (1 if i < extra else 0)
        out.append((off, width))
        off += width
    return out


def image_near_dups(df: DataFrame, max_hamming: int = 4,
                    byte_col: str = "media",
                    id_col: str = "media_id") -> DataFrame:
    """Perceptual near-duplicate image pairs (media_id_a < media_id_b):
    same picture under a different container, lossless re-encode, or
    small pixel perturbation. EXACT w.r.t. its stated rule — a pair is
    reported iff hamming(dhash_a, dhash_b) ≤ max_hamming — because the
    band split is a pigeonhole cover, not a probabilistic probe.

    Plan: one Arrow hash pass (a few bytes per image out), then
    EVERYTHING is JVM: posexplode over shiftrightunsigned band
    extraction, one shuffle keyed on (band, band_bits), pair dedupe,
    and a bit_count(xor) verify in codegen. Payload bytes never
    shuffle — the join moves 8-byte hashes, the same scale shape as
    the audio fingerprint and MinHash band joins."""
    if not 0 <= max_hamming <= 16:
        raise ValueError(f"max_hamming must be in [0, 16], "
                         f"got {max_hamming}")
    h = image_hashes(df, byte_col, id_col)
    bands = _dhash_bands(max_hamming + 1)
    band_cols = F.array(*[
        F.struct(F.lit(i).alias("b"),
                 (F.shiftrightunsigned("dhash", off)
                  .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                  ).alias("v"))
        for i, (off, width) in enumerate(bands)])
    e = h.select("media_id", "dhash",
                 F.explode(band_cols).alias("bb")) \
         .select("media_id", "dhash",
                 F.col("bb.b").alias("b"), F.col("bb.v").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    cand = (a.join(b, ["b", "v"])
             .filter(F.col("a.media_id") < F.col("b.media_id"))
             .select(F.col("a.media_id").alias("media_id_a"),
                     F.col("b.media_id").alias("media_id_b"),
                     F.col("a.dhash").alias("_ha"),
                     F.col("b.dhash").alias("_hb"))
             .distinct())
    return (cand.filter(
                F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
                <= max_hamming)
                .select("media_id_a", "media_id_b"))


#: image near-dup gate corpus: 16×16 RGB, pixel bytes from a Knuth
#: multiplicative mix so images of DIFFERENT keys are decorrelated
#: (unlike the linear bmp_pixel/png_pixel families, whose shared
#: gradient structure would alias under a difference hash — measured:
#: cross-key dHash distance on the linear family collapses to ~0)
IMGDUP_W = IMGDUP_H = 16


def mix_pixel(k: int, j):
    """Byte j of gate image k: a 32-bit multiply-xor-shift avalanche of
    (j, k). A single multiplicative hash of a LINEAR j,k combination is
    NOT enough here: changing k then shifts every pre-image by one
    constant, block means move coherently, and cross-key dHash distance
    collapses (measured min 6 of 64 bits — under the match threshold).
    This mix measures min 17 / mean 32 over 60 keys — coin-flip
    distance, the margin the near-dup ground truth needs."""
    m = (1 << 32) - 1
    v = (np.asarray(j, dtype=np.uint64) * np.uint64(2654435761)) & np.uint64(m)
    v = v ^ ((np.uint64(k) * np.uint64(40503)) & np.uint64(m))
    v = (v * np.uint64(2246822519)) & np.uint64(m)
    v = v ^ (v >> np.uint64(13))
    v = (v * np.uint64(2654435761)) & np.uint64(m)
    return ((v >> np.uint64(24)) & np.uint64(255)).astype(np.int64)


def media_violations(df: DataFrame, check,
                     id_col: str = "media_id",
                     part_col: str = "part_id") -> DataFrame:
    """Violation rows for an x-media check (MediaCheck): undecodable
    payloads of the scoped kinds and/or decoded geometry below the
    min_width/min_height floors. One Arrow pass (extract_media_meta) +
    JVM filters — no reference table, no join, exchange-free at any
    scale. Kind scoping happens on the container-magic kind column,
    so a truncated image still counts as an image (its magic
    survives); payloads of out-of-scope kinds are untouched."""
    meta = extract_media_meta(df, byte_col=check.column,
                              id_col=id_col, part_col=part_col)
    if check.kinds:
        meta = meta.filter(F.col("kind").isin(*check.kinds))
    rule_id = check.rule_id
    sev = int(check.severity)
    parts = []
    if check.require_decodable:
        parts.append(
            meta.filter(~F.col("ok"))
                .select(F.col("media_id").alias("clip_id"), "part_id",
                        F.lit(rule_id).alias("rule_id"),
                        F.lit(sev).alias("severity"),
                        F.concat(F.lit("undecodable media: "),
                                 F.col("err")).alias("message")))
    for bound, col in ((check.min_width, "width"),
                       (check.min_height, "height"),
                       (check.min_frames, "n_frames")):
        if bound is not None:
            parts.append(
                meta.filter(F.col("ok") & (F.col(col) < bound))
                    .select(F.col("media_id").alias("clip_id"), "part_id",
                            F.lit(rule_id).alias("rule_id"),
                            F.lit(sev).alias("severity"),
                            F.format_string(
                                f"{col} %d < minimum {bound}",
                                F.col(col)).alias("message")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def y4m_y_planes(buf: bytes) -> np.ndarray:
    """(n_frames, h, w) uint8 Y planes of a Y4M stream — the luminance
    rasters the video perceptual hash consumes. Same walk/validation
    as _decode_y4m."""
    b = bytes(buf)
    w, h, csp, pos = _parse_y4m_header(b)
    fsz, _ = _y4m_frame_bytes(w, h, csp)
    planes = []
    while pos < len(b):
        if b[pos:pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        nl = b.find(b"\n", pos)
        if nl < 0:
            raise ValueError("unterminated FRAME header")
        pos = nl + 1
        if pos + fsz > len(b):
            raise ValueError("frame data overruns buffer")
        planes.append(np.frombuffer(b, dtype=np.uint8, count=w * h,
                                    offset=pos).reshape(h, w))
        pos += fsz
    if not planes:
        raise ValueError("stream contains no frames")
    return np.stack(planes)


def video_hashes(df: DataFrame, byte_col: str = "media",
                 id_col: str = "media_id") -> DataFrame:
    """(media_id, n_frames, fp: array<long>) — per-frame dHash of each
    Y4M payload's Y planes (luminance is what perceptual video
    identity lives in; chroma subsampling/requantization shouldn't
    move the fingerprint). One Arrow pass, no join; undecodable or
    sub-grid (< 9×8) streams contribute no rows."""
    src = df.select(F.col(id_col).alias("media_id"),
                    F.col(byte_col).alias("_media"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, ns, fps = [], [], []
            for i in range(len(pdf)):
                buf = pdf["_media"].iat[i]
                if buf is None or bytes(buf[:4]) != b"YUV4":
                    continue
                try:
                    planes = y4m_y_planes(buf)
                except ValueError:
                    continue
                if planes.shape[1] < 8 or planes.shape[2] < 9:
                    continue
                ids.append(pdf["media_id"].iat[i])
                ns.append(planes.shape[0])
                fps.append([int(dhash64(p[:, :, None]))
                            for p in planes])
            # object dtype: Arrow's pandas converter rejects a numpy
            # object array of lists unless the column is a plain
            # python-object Series
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="object"),
                "n_frames": pd.array(ns, dtype="int32"),
                "fp": pd.Series(fps, dtype="object")})

    return src.mapInPandas(
        run, "media_id string, n_frames int, fp array<long>")


def video_near_dups(df: DataFrame, max_hamming: int = 4,
                    byte_col: str = "media",
                    id_col: str = "media_id") -> DataFrame:
    """Perceptual near-duplicate VIDEO pairs: same footage under
    re-encode or small per-frame perturbation. Match rule (exact, no
    false negatives): equal frame counts AND EVERY aligned frame's
    dHash within max_hamming. The probe is the frame-aligned band
    split of image_near_dups lifted to (frame_idx, band, bits): a
    matching pair's frame 0 alone guarantees a probe hit (pigeonhole
    over its max_hamming+1 bands), so candidate generation is
    lossless; the verify is a pure-JVM forall/zip_with/bit_count over
    the carried fp arrays — fingerprints shuffle (8 B × frames),
    payload bytes never."""
    if not 0 <= max_hamming <= 16:
        raise ValueError(f"max_hamming must be in [0, 16], "
                         f"got {max_hamming}")
    h = video_hashes(df, byte_col, id_col)
    bands = _dhash_bands(max_hamming + 1)
    f0 = F.element_at("fp", 1)              # frame 0 anchors the probe
    band_cols = F.array(*[
        F.struct(F.lit(i).alias("b"),
                 (F.shiftrightunsigned(f0, off)
                  .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                  ).alias("v"))
        for i, (off, width) in enumerate(bands)])
    e = h.select("media_id", "n_frames", "fp",
                 F.explode(band_cols).alias("bb")) \
         .select("media_id", "n_frames", "fp",
                 F.col("bb.b").alias("b"), F.col("bb.v").alias("v"))
    a, b = e.alias("a"), e.alias("b")
    cand = (a.join(b, ["b", "v"])
             .filter(F.col("a.media_id") < F.col("b.media_id"))
             .filter(F.col("a.n_frames") == F.col("b.n_frames"))
             .select(F.col("a.media_id").alias("media_id_a"),
                     F.col("b.media_id").alias("media_id_b"),
                     F.col("a.fp").alias("_fa"),
                     F.col("b.fp").alias("_fb"))
             .distinct())
    ok = F.forall(
        F.zip_with("_fa", "_fb",
                   lambda x, y: F.bit_count(x.bitwiseXOR(y))
                   <= F.lit(max_hamming)),
        lambda z: z)
    return cand.filter(ok).select("media_id_a", "media_id_b")

"""Multimodal (image/audio/video) columns as opaque binary + typed metadata.

Design for 100 TB: media bytes live in a ``binary`` column (or object-store
URIs resolved at scan time); all per-asset work is a row function run by
``operators/_rows.flat_map`` (Arrow-batched, so the JVM⇄Python boundary
is columnar).  The ops here are:

- ``sniff_metadata``   — REAL: container/codec detection + dimensions from
  magic bytes (PNG IHDR, JPEG SOF scan, GIF header, RIFF/WAV fmt chunk,
  ISO-BMFF/MP4 ftyp→moov walk, FLAC STREAMINFO, MP3/ADTS frame chains —
  the latter four delegate to ``operators/video.py`` / ``operators/
  audio.py``) in pure Python — no media libraries, fully deterministic;
  corrupt headers degrade to mime-only, never raise.
- ``decode_image`` — REAL decode for PNG (zlib
  inflate + scanline unfilter, 8-bit gray/RGB/±alpha), BMP (24/32-bit
  uncompressed), and baseline-DCT JPEG (SOF0/SOF1 Huffman: marker
  parse, canonical-Huffman entropy decode, dequantize, exact int64
  fixed-point IDCT — luma plane out; gray or interleaved YCbCr, any
  sampling ≤ 4, restart markers): grayscale raster + nearest-neighbor
  thumb.  Progressive JPEG (SOF2, T.81 Annex G — DC/AC successive
  approximation, spectral selection, EOB runs, restarts) is decoded by
  the same path, gray and interleaved color; 4:2:0 YCbCr → fixed-point
  RGB reconstruction is also real.  Undecodable payloads raise.
- ``decode_audio_stats`` — REAL WAV/PCM16 decode (stdlib ``struct``):
  per-asset sample stats without materializing waveforms into the plan.
- Video frames: ``operators/video.mp4_keyframe_slices`` does REAL
  ISO-BMFF container demux (stsc/stco/stsz offset math, stss keyframe
  slices).  Since round 8, ``operators/h264.py`` REALLY decodes the
  pixels of IDR INTRA keyframes (CAVLC entropy, I_PCM + Intra_16x16,
  §8.5 integer transforms, all §8.3.3/8.3.4 prediction modes) — the
  remaining stub is narrowed to inter (P/B) frames, CABAC streams and
  I_NxN spatial prediction (no ffmpeg).
- ``extract_features`` — content-derived features, library-free.

Partitioning: media rows are wildly skewed by payload size; repartition
the INPUT before calling an operator when one huge asset would pin a
core, or write assets bucketed by size-band so AQE sees even input
splits.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._rows import flat_map

# ---------------------------------------------------------------------------
# pure-Python magic-byte sniffing (REAL, deterministic, no codec libs)
# ---------------------------------------------------------------------------

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
JPEG_MAGIC = b"\xff\xd8\xff"
GIF_MAGICS = (b"GIF87a", b"GIF89a")
RIFF_MAGIC = b"RIFF"
_INT32_MAX = 2**31 - 1  # METADATA_SCHEMA's int columns

METADATA_SCHEMA = (
    "mime string, n_bytes long, width int, height int, "
    "sample_rate int, channels int, duration_ms long"
)


def sniff_bytes(b: bytes | None) -> dict:
    """Classify one payload and pull typed metadata out of its header.

    Returns dict with keys mime/n_bytes/width/height/sample_rate/channels/
    duration_ms (None where not applicable).  Malformed headers degrade to
    mime-only — never raises.
    """
    out = {
        "mime": "application/octet-stream",
        "n_bytes": 0 if b is None else len(b),
        "width": None,
        "height": None,
        "sample_rate": None,
        "channels": None,
        "duration_ms": None,
    }
    if not b:
        return out
    try:
        if b.startswith(PNG_MAGIC):
            out["mime"] = "image/png"
            # IHDR must be the first chunk: length@8, type@12, data@16;
            # dims above 2^31-1 are invalid PNG (and overflow the int
            # columns): a corrupt header, so mime-only
            if len(b) >= 24 and b[12:16] == b"IHDR":
                w, h = struct.unpack(">II", b[16:24])
                if max(w, h) <= _INT32_MAX:
                    out["width"], out["height"] = w, h
        elif b.startswith(JPEG_MAGIC):
            out["mime"] = "image/jpeg"
            # scan markers for a start-of-frame (SOF0/1/2) segment
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    break
                marker, seglen = b[i + 1], struct.unpack(">H", b[i + 2 : i + 4])[0]
                if marker in (0xC0, 0xC1, 0xC2):
                    out["height"], out["width"] = struct.unpack(
                        ">HH", b[i + 5 : i + 9]
                    )
                    break
                i += 2 + seglen
        elif b.startswith(GIF_MAGICS):
            out["mime"] = "image/gif"
            if len(b) >= 10:
                out["width"], out["height"] = struct.unpack("<HH", b[6:10])
        elif b.startswith(RIFF_MAGIC) and len(b) >= 12 and b[8:12] == b"WAVE":
            out["mime"] = "audio/wav"
            # walk chunks: [id:4][size:4][data:size]
            i, byte_rate, data_size = 12, None, None
            while i + 8 <= len(b):
                cid, csize = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
                if cid == b"fmt " and i + 24 <= len(b):
                    out["channels"] = struct.unpack("<H", b[i + 10 : i + 12])[0]
                    rate = struct.unpack("<I", b[i + 12 : i + 16])[0]
                    out["sample_rate"] = rate if rate <= _INT32_MAX else None
                    byte_rate = struct.unpack("<I", b[i + 16 : i + 20])[0]
                elif cid == b"data":
                    data_size = csize
                i += 8 + csize + (csize & 1)
            if byte_rate and data_size is not None:
                out["duration_ms"] = int(data_size * 1000 // byte_rate)
        elif len(b) >= 12 and b[4:8] == b"ftyp":
            # ISO-BMFF (MP4/MOV): delegate to the real container tier
            out["mime"] = "video/mp4"
            from occupation_wage_etl_spark.operators import video as _video

            meta = _video.parse_mp4(b)
            if meta["timescale"]:
                out["duration_ms"] = int(
                    meta["duration"] * 1000 // meta["timescale"]
                )
            for tr in meta["tracks"]:
                if tr["handler"] == "vide":
                    out["width"] = tr["width"] or None
                    out["height"] = tr["height"] or None
                    break
        elif b.startswith(b"%PDF-"):
            out["mime"] = "application/pdf"
            # page count from the Pages tree (header-level parse only;
            # content streams are NOT decoded here) — reported in the
            # width column's sibling fields stays None; duration N/A
        elif b.startswith((b"\x00\x00\x00\x01", b"\x00\x00\x01")) and (
            len(b) > 4
        ):
            # Annex B H.264 elementary stream: start code, then a NAL
            # header whose forbidden_zero_bit must be 0
            nal0 = b[4] if b.startswith(b"\x00\x00\x00\x01") else b[3]
            if not nal0 & 0x80 and (nal0 & 0x1F) in (1, 5, 6, 7, 8, 9):
                out["mime"] = "video/h264"
        elif b.startswith(b"fLaC"):
            out["mime"] = "audio/flac"
            from occupation_wage_etl_spark.operators import audio as _audio

            m = _audio.parse_flac_streaminfo(b)
            out["sample_rate"] = m["sample_rate"]
            out["channels"] = m["channels"]
            out["duration_ms"] = int(
                m["total_samples"] * 1000 // m["sample_rate"]
            )
        else:
            from occupation_wage_etl_spark.operators import audio as _audio

            kind = _audio.sniff_audio_container(b)
            if kind == "mp3":
                out["mime"] = "audio/mpeg"
                m = _audio.parse_mp3(b)
            elif kind == "adts":
                out["mime"] = "audio/aac"
                m = _audio.parse_adts(b)
            else:
                m = None
            if m is not None:
                out["sample_rate"] = m["sample_rate"]
                out["channels"] = m["channels"]
                out["duration_ms"] = int(
                    m["n_frames"] * m["samples_per_frame"] * 1000
                    // m["sample_rate"]
                )
    except (struct.error, IndexError, ValueError):
        pass  # truncated/corrupt header: keep what parsed before the cut
    return out


def sniff_metadata(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, mime, n_bytes, width, height, sample_rate, channels,
    duration_ms) per asset — ``flat_map`` over the binary column,
    header-only parsing (never decodes payloads)."""
    # sniff_bytes' keys are METADATA_SCHEMA's columns, in order
    return flat_map(
        df, [id_col, bin_col], f"{id_col} long, {METADATA_SCHEMA}",
        lambda rid, b: [(rid, *sniff_bytes(b).values())],
    )


# ---------------------------------------------------------------------------
# pure-stdlib image/audio codecs (REAL, deterministic)
# ---------------------------------------------------------------------------


def encode_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal 8-bit grayscale PNG encoder (stdlib zlib; filter 0 rows).

    ``pixels`` is row-major ``width*height`` bytes.  Deterministic for a
    given input (fixed compression level), so synthesized fixtures are
    reproducible cluster-wide.
    """
    if len(pixels) != width * height:
        raise ValueError("pixels must be width*height bytes")

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    idat = zlib.compress(raw, 6)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> samples/pixel


def _png_unfilter(raw: bytes, width: int, height: int, bpp: int) -> bytearray:
    """Reverse PNG scanline filters (types 0-4) -> raw sample bytes."""
    stride = width * bpp
    out = bytearray(stride * height)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        prev_row = out[(y - 1) * stride : y * stride] if y else bytes(stride)
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev_row[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev_row[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b_ = prev_row[i]
                c = prev_row[i - bpp] if i >= bpp else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b_ if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y * stride : (y + 1) * stride] = line
    return out


def decode_png_gray(b: bytes) -> tuple[int, int, bytes]:
    """Decode an 8-bit PNG (gray/RGB/±alpha, non-interlaced) to a
    grayscale raster.  Returns (width, height, pixels); color collapses
    via integer luma (r*299 + g*587 + b*114) // 1000."""
    if not b.startswith(PNG_MAGIC):
        raise ValueError("not a PNG")
    pos, width, height, colortype, idat = 8, None, None, None, []
    while pos + 8 <= len(b):
        clen, ctype = struct.unpack(">I4s", b[pos : pos + 8])
        data = b[pos + 8 : pos + 8 + clen]
        pos += 12 + clen  # len + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, colortype, _, _, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace:
                raise ValueError("only 8-bit non-interlaced PNG supported")
            if colortype not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG colortype {colortype}")
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    ch = _PNG_CHANNELS[colortype]
    samples = _png_unfilter(zlib.decompress(b"".join(idat)), width, height, ch)
    if ch == 1:
        return width, height, bytes(samples)
    gray = bytearray(width * height)
    for i in range(width * height):
        o = i * ch
        if ch == 2:  # gray + alpha
            gray[i] = samples[o]
        else:  # RGB / RGBA
            gray[i] = (
                samples[o] * 299 + samples[o + 1] * 587 + samples[o + 2] * 114
            ) // 1000
    return width, height, bytes(gray)


def decode_bmp_gray(b: bytes) -> tuple[int, int, bytes]:
    """Decode an uncompressed 24/32-bit BMP to a grayscale raster."""
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack("<I", b[10:14])[0]
    width, height_raw = struct.unpack("<ii", b[18:26])
    bits, compression = struct.unpack("<HI", b[28:34])
    if compression != 0 or bits not in (24, 32):
        raise ValueError("only uncompressed 24/32-bit BMP supported")
    height, flipped = abs(height_raw), height_raw > 0
    bpp = bits // 8
    stride = (width * bpp + 3) & ~3  # rows pad to 4 bytes
    gray = bytearray(width * height)
    for y in range(height):
        src_y = height - 1 - y if flipped else y  # BMP stores bottom-up
        row = data_off + src_y * stride
        for x in range(width):
            o = row + x * bpp
            bl, g, r = b[o], b[o + 1], b[o + 2]
            gray[y * width + x] = (r * 299 + g * 587 + bl * 114) // 1000
    return width, height, bytes(gray)


def _nearest_resample(
    pixels: bytes, width: int, height: int, tw: int, th: int
) -> bytes:
    """Nearest-neighbor grayscale resample (floor index map — the
    deterministic cross-engine-replayable choice)."""
    out = bytearray(tw * th)
    for y in range(th):
        sy = y * height // th
        row = sy * width
        for x in range(tw):
            out[y * tw + x] = pixels[row + x * width // tw]
    return bytes(out)


def decode_image_bytes(b: bytes) -> tuple[int, int, bytes]:
    """Dispatch on magic: PNG, BMP or baseline/progressive JPEG →
    (width, height, gray pixels)."""
    if b.startswith(PNG_MAGIC):
        return decode_png_gray(b)
    if b[:2] == b"BM":
        return decode_bmp_gray(b)
    if b.startswith(JPEG_MAGIC):
        return decode_jpeg_gray(b)
    raise ValueError(
        "undecodable image format (PNG/BMP/JPEG supported)"
    )


# ---------------------------------------------------------------------------
# decode / feature-extract operators
# ---------------------------------------------------------------------------

_STUB_MSG = (
    "payload is not decodable with the built-in codecs (PNG/BMP/"
    "baseline+progressive-JPEG images, WAV/PCM16 audio, H.264 IDR "
    "intra keyframes — I_PCM/Intra_16x16/Intra_4x4 CAVLC — via "
    "operators/h264.decode_avc_keyframes); INTER (P/B) video frames "
    "and CABAC streams require an ffmpeg-class codec — use "
    "operators/video.mp4_keyframe_slices for the real ISO-BMFF "
    "container demux, or swap the row function for a codec-library "
    "decoder"
)


def decode_image(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    thumb: int = 8,
) -> DataFrame:
    """(id, width, height, pixels array<int>) — decode to a ``thumb``²
    grayscale raster (width/height report the SOURCE dimensions).

    Stdlib PNG/BMP/JPEG decode + nearest-neighbor resample; undecodable
    payloads (video, garbage) raise — curate/filter by
    ``sniff_metadata`` mime first."""

    def _decode(rid, b):
        w, h, gray = decode_image_bytes(b or b"")
        px = (
            gray
            if (w, h) == (thumb, thumb)
            else _nearest_resample(gray, w, h, thumb, thumb)
        )
        return [(rid, w, h, list(px))]

    return flat_map(
        df, [id_col, bin_col],
        f"{id_col} long, width int, height int, pixels array<int>", _decode,
    )


def decode_audio_stats(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sample_rate, n_samples, peak, mean_abs) per WAV/PCM16 asset —
    REAL stdlib decode.  Emits stats, not waveforms: at 100 TB the
    decoded audio should never enter the shuffle unless a downstream op
    needs samples (then the same row function yields array<short> chunks).
    Non-WAV payloads raise (curate by mime first)."""
    schema = (
        f"{id_col} long, sample_rate int, n_samples long, "
        "peak int, mean_abs double"
    )

    def _stats(rid, b):
        b = b or b""
        if not (
            b.startswith(RIFF_MAGIC) and len(b) >= 12 and b[8:12] == b"WAVE"
        ):
            raise ValueError(_STUB_MSG)
        i, rate, bits, data = 12, None, None, None
        while i + 8 <= len(b):
            cid, csize = b[i : i + 4], struct.unpack("<I", b[i + 4 : i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(b):
                rate = struct.unpack("<I", b[i + 12 : i + 16])[0]
                bits = struct.unpack("<H", b[i + 22 : i + 24])[0]
            elif cid == b"data":
                data = b[i + 8 : i + 8 + csize]
            i += 8 + csize + (csize & 1)
        if rate is None or data is None or bits != 16:
            raise ValueError(_STUB_MSG)
        n = len(data) // 2
        samples = struct.unpack(f"<{n}h", data[: n * 2])
        return [(
            rid, rate, n, max((abs(s) for s in samples), default=0),
            sum(abs(s) for s in samples) / n if n else 0.0,
        )]

    return flat_map(df, [id_col, bin_col], schema, _stats)


def extract_features(
    df: DataFrame,
    dim: int = 8,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, feature array<double>) — content-derived feature vector.

    REAL plumbing + deterministic md5-derived features (each slot is a
    [0,1) double from 4 digest bytes); a real encoder drops into the same
    row function.  It has no library dependency and never raises.

    Keystream block k = md5 of the ASCII string ``HEX(payload) + ":" + k``
    (not md5 of raw bytes: DuckDB's md5 only hashes VARCHAR, and the
    correctness oracle replays this as ``md5(hex(b) || ':k')`` — uppercase
    hex on both sides)."""
    n_blocks = (dim * 4 + 15) // 16

    def _feat(rid, b):
        hx = (b or b"").hex().upper()
        raw = b"".join(
            hashlib.md5(f"{hx}:{k}".encode()).digest()
            for k in range(n_blocks)
        )
        return [(
            rid,
            [
                int.from_bytes(raw[i * 4 : i * 4 + 4], "big") / float(1 << 32)
                for i in range(dim)
            ],
        )]

    return flat_map(
        df, [id_col, bin_col], f"{id_col} long, feature array<double>", _feat
    )


# ---------------------------------------------------------------------------
# baseline-DCT JPEG codec (REAL, deterministic — numpy integer IDCT)
# ---------------------------------------------------------------------------
# Public-knowledge construction (ITU-T T.81 baseline process): marker
# parse → canonical-Huffman entropy decode → dequantize → IDCT.  The
# IDCT runs in EXACT int64 fixed point (cosine basis rounded once to
# 2^-20 at table-build time; per-pixel arithmetic is integer matmul +
# arithmetic shift — numpy integer ops, no BLAS), so decode is
# bit-identical on any platform AND replayable in closed form by the
# correctness oracle.  Scope: baseline/extended-sequential Huffman
# (SOF0/SOF1), grayscale or interleaved YCbCr with sampling factors
# ≤ 4, restart markers; the LUMA plane is the grayscale output (chroma
# blocks are entropy-decoded to advance the bitstream, never IDCT'd).
# Progressive (SOF2+) and arithmetic coding raise ValueError.

_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

_IDCT_SHIFT = 20
_IDCT_BASIS = None


def jpeg_idct_basis():
    """(64, 64) int64 fixed-point 2-D IDCT basis: row = natural
    coefficient index v*8+u, column = pixel index y*8+x, value =
    round(2^20 · C(u)C(v)/4 · cos((2x+1)uπ/16) · cos((2y+1)vπ/16)).

    pixel(y,x) = clip(((coef_row · basis + 2^19) >> 20) + 128, 0, 255)
    — every op after the one-time table build is exact int64, which is
    what lets the oracle replay decoded rasters in closed form."""
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import math

        import numpy as np

        b = np.empty((64, 64), dtype=np.float64)
        for u in range(8):
            cu = 0.5 ** 0.5 if u == 0 else 1.0
            for v in range(8):
                cv = 0.5 ** 0.5 if v == 0 else 1.0
                for y in range(8):
                    for x in range(8):
                        b[v * 8 + u, y * 8 + x] = (
                            cu
                            * cv
                            / 4.0
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
        _IDCT_BASIS = np.round(b * (1 << _IDCT_SHIFT)).astype(np.int64)
    return _IDCT_BASIS


def _huff_decode_table(counts: list[int], symbols: list[int]) -> dict:
    """Canonical Huffman (T.81 Annex C): (length, code) -> symbol."""
    table, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(counts[ln - 1]):
            table[(ln, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over one entropy-coded segment (byte
    stuffing already removed by the segment splitter)."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes) -> None:
        self.data, self.pos, self.bit = data, 0, 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy data")
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit, self.pos = 0, self.pos + 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _read_huff(rd: _JpegBitReader, table: dict) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | rd.read_bit()
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude -> signed value."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg_gray(b: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline or progressive JPEG to its grayscale (luma)
    raster.

    Returns (width, height, pixels) like the PNG/BMP decoders.  See
    the codec-section comment for scope; the IDCT is the exact int64
    fixed-point form (:func:`jpeg_idct_basis`).  Chroma components are
    entropy-decoded (the stream must be walked) but not reconstructed —
    :func:`decode_jpeg_rgb` is the color path."""
    width, height, hmax, vmax, comps, planes = _decode_jpeg(b, chroma=False)
    h0, v0 = comps[0]["h"], comps[0]["v"]
    yh = -(-height * v0 // vmax)
    yw = -(-width * h0 // hmax)
    return yw, yh, planes[0][:yh, :yw].tobytes()


# YCbCr -> RGB (JFIF / BT.601 full-range) in 2^20 fixed point: channel =
# clip(Y + floor((T + 2^19) / 2^20)) with T_r = RV·(Cr-128),
# T_g = -(GU·(Cb-128) + GV·(Cr-128)), T_b = BU·(Cb-128).  The constants
# are round(coef · 2^20) LITERALS so any engine can replay the exact
# integers (oracle: q234).
_YCC_RV = 1470104  # round(1.402    * 2^20)
_YCC_GU = 360853   # round(0.344136 * 2^20)
_YCC_GV = 748826   # round(0.714136 * 2^20)
_YCC_BU = 1858077  # round(1.772    * 2^20)


def decode_jpeg_rgb(b: bytes) -> tuple[int, int, bytes]:
    """Decode a baseline or progressive JPEG to an interleaved RGB
    raster (row-major
    R,G,B triples) — the color sibling of :func:`decode_jpeg_gray`.

    Chroma planes are reconstructed with the same exact int64 IDCT,
    upsampled by sample REPLICATION (floor index map — the
    deterministic choice, same convention as ``_nearest_resample``),
    and converted with the fixed-point JFIF matrix above.  Single-
    component (grayscale) JPEGs replicate luma into all channels."""
    import numpy as np

    width, height, hmax, vmax, comps, planes = _decode_jpeg(b, chroma=True)
    full = []
    for cm, pl in zip(comps, planes):
        ch = -(-height * cm["v"] // vmax)
        cw = -(-width * cm["h"] // hmax)
        pl = pl[:ch, :cw]
        yidx = (np.arange(height) * cm["v"]) // vmax
        xidx = (np.arange(width) * cm["h"]) // hmax
        full.append(pl[np.ix_(yidx, xidx)].astype(np.int64))
    if len(full) == 1:
        y8 = full[0].astype(np.uint8)
        return width, height, np.stack([y8, y8, y8], axis=-1).tobytes()
    if len(full) != 3:
        raise ValueError("unsupported JPEG component count")
    half = 1 << 19
    y, cb, cr = full[0], full[1] - 128, full[2] - 128
    r = y + ((_YCC_RV * cr + half) >> 20)
    g = y + ((-(_YCC_GU * cb + _YCC_GV * cr) + half) >> 20)
    bl = y + ((_YCC_BU * cb + half) >> 20)
    rgb = np.stack([r, g, bl], axis=-1)
    np.clip(rgb, 0, 255, out=rgb)
    return width, height, rgb.astype(np.uint8).tobytes()


def _decode_jpeg(b: bytes, chroma: bool):
    """Shared baseline-JPEG reconstruction: marker parse, entropy
    decode, dequantize, exact int64 IDCT.  Returns (width, height,
    hmax, vmax, comps, planes) with ``planes[i]`` the component's
    uncropped uint8 plane at ITS OWN sampling resolution; with
    ``chroma=False`` only component 0 is reconstructed (entropy
    decoding still walks every data unit) and the rest are None."""
    import numpy as np

    if not b.startswith(JPEG_MAGIC):
        raise ValueError("not a JPEG")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    width = height = None
    restart = 0
    pos = 2
    scan: list[tuple[int, int, int]] = []  # (comp idx, dc table, ac table)
    scan_start = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        data = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    vals = list(
                        struct.unpack(f">{64}H", data[i : i + 128])
                    )
                    i += 128
                else:
                    vals = list(data[i : i + 64])
                    i += 64
                nat = [0] * 64
                for k in range(64):
                    nat[_JPEG_ZIGZAG[k]] = vals[k]
                qt[tq] = nat
        elif marker in (0xC0, 0xC1):  # SOF0/1: baseline Huffman
            height, width = struct.unpack(">HH", data[1:5])
            nc = data[5]
            if len(data) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = [
                {
                    "id": data[6 + 3 * c],
                    "h": data[7 + 3 * c] >> 4,
                    "v": data[7 + 3 * c] & 15,
                    "tq": data[8 + 3 * c],
                }
                for c in range(nc)
            ]
        elif marker == 0xC2:  # SOF2: progressive Huffman (round 7)
            return _decode_jpeg_progressive(b, chroma)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline/extended-sequential/progressive Huffman "
                f"JPEG supported (SOF marker 0x{marker:02X})"
            )
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = list(data[i + 1 : i + 17])
                n = sum(counts)
                symbols = list(data[i + 17 : i + 17 + n])
                huff[(tc, th)] = _huff_decode_table(counts, symbols)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            restart = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:  # SOS
            ns = data[0]
            for c in range(ns):
                cid, tabs = data[1 + 2 * c], data[2 + 2 * c]
                idx = next(
                    i for i, cm in enumerate(comps) if cm["id"] == cid
                )
                scan.append((idx, tabs >> 4, tabs & 15))
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if width is None or scan_start is None:
        raise ValueError("truncated JPEG (no SOF/SOS)")

    # entropy-coded segments: un-stuff FF00, split at restart markers
    segs: list[bytearray] = []
    cur = bytearray()
    i = scan_start
    while i < len(b):
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        nxt = b[i + 1] if i + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(cur)
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(cur)

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.uint8)
        if (chroma or ci == 0)
        else None
        for ci, c in enumerate(comps)
    ]
    basis = jpeg_idct_basis()
    half = 1 << (_IDCT_SHIFT - 1)

    seg_i = 0
    rd = _JpegBitReader(bytes(segs[0]))
    preds = [0] * len(comps)
    for mcu in range(mcus_x * mcus_y):
        if restart and mcu and mcu % restart == 0:
            seg_i += 1
            if seg_i >= len(segs):
                raise ValueError(
                    "corrupt JPEG: missing restart segment"
                )
            rd = _JpegBitReader(bytes(segs[seg_i]))
            preds = [0] * len(comps)
        my, mx = divmod(mcu, mcus_x)
        for ci, tdc, tac in scan:
            cm = comps[ci]
            q = qt[cm["tq"]]
            for bv in range(cm["v"]):
                for bh in range(cm["h"]):
                    coef = np.zeros(64, dtype=np.int64)
                    s = _read_huff(rd, huff[(0, tdc)])
                    preds[ci] += _extend(rd.read_bits(s), s)
                    coef[0] = preds[ci] * q[0]
                    k = 1
                    while k < 64:
                        rs = _read_huff(rd, huff[(1, tac)])
                        r, size = rs >> 4, rs & 15
                        if size == 0:
                            if r != 15:
                                break  # EOB
                            k += 16
                            continue
                        k += r
                        if k > 63:
                            raise ValueError(
                                "corrupt JPEG: AC run past block end"
                            )
                        nat = _JPEG_ZIGZAG[k]
                        coef[nat] = _extend(rd.read_bits(size), size) * q[nat]
                        k += 1
                    if planes[ci] is not None:  # IDCT + place
                        pix = ((coef @ basis + half) >> _IDCT_SHIFT) + 128
                        np.clip(pix, 0, 255, out=pix)
                        ry = (my * cm["v"] + bv) * 8
                        rx = (mx * cm["h"] + bh) * 8
                        planes[ci][ry : ry + 8, rx : rx + 8] = pix.reshape(
                            8, 8
                        ).astype(np.uint8)
    return width, height, hmax, vmax, comps, planes


# ------------------------------------------- progressive JPEG (round 7)
# T.81 Annex G: spectral selection + successive approximation.  The
# stub is retired the same way round 6 retired the baseline stub —
# a full scan-script decoder over the existing bit-reader/Huffman/
# exact-IDCT infrastructure.  Coefficients accumulate in ZIGZAG index
# order across scans (that is how scans address them); dequantization
# happens once at reconstruction, because refinement bits operate on
# QUANTIZED values.


def _entropy_segments(b: bytes, start: int) -> tuple[list[bytes], int]:
    """Un-stuff FF00 and split at RSTn from ``start`` until the next
    real marker; returns (segments, position of that marker)."""
    segs: list[bytearray] = []
    cur = bytearray()
    i = start
    while i < len(b):
        c = b[i]
        if c != 0xFF:
            cur.append(c)
            i += 1
            continue
        nxt = b[i + 1] if i + 1 < len(b) else 0xD9
        if nxt == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= nxt <= 0xD7:
            segs.append(cur)
            cur = bytearray()
            i += 2
        else:
            break
    segs.append(cur)
    return [bytes(s) for s in segs], i


def _dc_first_scan(rd, table, pred: int, al: int) -> int:
    s = _read_huff(rd, table)
    return pred + _extend(rd.read_bits(s), s)


def _ac_first_scan(rd, table, coefz, ss, se, al, eobrun) -> int:
    """One block of an AC first scan (Ah=0); returns the new EOBRUN."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(rd, table)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rd.read_bits(r)
                return eobrun
            k += 16
        else:
            k += r
            if k > se:
                raise ValueError("corrupt JPEG: AC run past band end")
            coefz[k] = _extend(rd.read_bits(s), s) << al
            k += 1
    return 0


def _ac_refine_scan(rd, table, coefz, ss, se, al, eobrun) -> int:
    """One block of an AC refinement scan (Ah=Al+1): newly-significant
    coefficients arrive as ±2^Al, every nonzero-history coefficient
    passed over consumes one correction bit (T.81 G.1.2.3)."""
    p1, m1 = 1 << al, -1 << al

    def correct(k: int) -> None:
        if rd.read_bit() and (coefz[k] & p1) == 0:
            coefz[k] += p1 if coefz[k] > 0 else m1

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(rd, table)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.read_bits(r)
                    break
                # r == 15: skip 16 zero-history positions
            else:
                if s != 1:
                    raise ValueError(
                        "corrupt JPEG: refinement size must be 1"
                    )
                val = p1 if rd.read_bit() else m1
            while k <= se:
                if coefz[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if k > se:
                raise ValueError("corrupt JPEG: refine run past band end")
            if val:
                coefz[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coefz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg_progressive(b: bytes, chroma: bool):
    """Progressive-JPEG sibling of :func:`_decode_jpeg` (same return
    shape).  Walks EVERY scan, accumulating quantized coefficients per
    block; handles interleaved (multi-component, DC-only per spec) and
    non-interleaved scans, restart intervals (DC predictors and the
    EOB run reset per segment), and DHT redefinition between scans
    (each scan snapshots the tables in effect)."""
    import numpy as np

    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[dict] = []
    width = height = None
    restart = 0
    scans = []  # (scan comps, Ss, Se, Ah, Al, segments, tables, restart)
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = b[pos + 1]
        if marker == 0xD9:
            break
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        seglen = struct.unpack(">H", b[pos + 2 : pos + 4])[0]
        data = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq:
                    vals = list(struct.unpack(f">{64}H", data[i : i + 128]))
                    i += 128
                else:
                    vals = list(data[i : i + 64])
                    i += 64
                nat = [0] * 64
                for k in range(64):
                    nat[_JPEG_ZIGZAG[k]] = vals[k]
                qt[tq] = nat
        elif marker == 0xC2:
            height, width = struct.unpack(">HH", data[1:5])
            nc = data[5]
            comps = [
                {
                    "id": data[6 + 3 * c],
                    "h": data[7 + 3 * c] >> 4,
                    "v": data[7 + 3 * c] & 15,
                    "tq": data[8 + 3 * c],
                }
                for c in range(nc)
            ]
        elif marker == 0xC4:
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                counts = list(data[i + 1 : i + 17])
                n = sum(counts)
                huff[(tc, th)] = _huff_decode_table(
                    counts, list(data[i + 17 : i + 17 + n])
                )
                i += 17 + n
        elif marker == 0xDD:
            restart = struct.unpack(">H", data[:2])[0]
        elif marker == 0xDA:
            ns = data[0]
            sc = []
            for c in range(ns):
                cid, tabs = data[1 + 2 * c], data[2 + 2 * c]
                idx = next(
                    i for i, cm in enumerate(comps) if cm["id"] == cid
                )
                sc.append((idx, tabs >> 4, tabs & 15))
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ahal = data[3 + 2 * ns]
            segs, pos = _entropy_segments(b, pos + 2 + seglen)
            scans.append(
                (sc, ss, se, ahal >> 4, ahal & 15, segs, dict(huff), restart)
            )
            continue
        pos += 2 + seglen
    if width is None or not scans:
        raise ValueError("truncated JPEG (no SOF2/SOS)")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    # quantized coefficients in zigzag order, interleaved block grid
    store = [
        np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        for c in comps
    ]

    for sc, ss, se, ah, al, segs, tabs, rst in scans:
        seg_i, rd = 0, _JpegBitReader(segs[0])
        preds = [0] * len(comps)
        eobrun = 0
        if len(sc) > 1:
            # interleaved MCU walk — T.81 §A.2.3: a scan is interleaved
            # iff Ns > 1 (an Ns=1 scan is ALWAYS non-interleaved, even
            # when the frame has a single component with sampling
            # factors > 1); spec restricts AC scans to one component

            if ss != 0:
                raise ValueError("corrupt JPEG: interleaved AC scan")
            unit = 0
            for mcu in range(mcus_x * mcus_y):
                if rst and unit and unit % rst == 0:
                    seg_i += 1
                    if seg_i >= len(segs):
                        raise ValueError(
                            "corrupt JPEG: missing restart segment"
                        )
                    rd = _JpegBitReader(segs[seg_i])
                    preds = [0] * len(comps)
                unit += 1
                my, mx = divmod(mcu, mcus_x)
                for ci, tdc, _tac in sc:
                    cm = comps[ci]
                    for bv in range(cm["v"]):
                        for bh in range(cm["h"]):
                            blk = store[ci][
                                my * cm["v"] + bv, mx * cm["h"] + bh
                            ]
                            if ah == 0:
                                preds[ci] = _dc_first_scan(
                                    rd, tabs[(0, tdc)], preds[ci], al
                                )
                                blk[0] = preds[ci] << al
                            else:
                                if rd.read_bit():
                                    blk[0] |= 1 << al
        else:
            ci, tdc, tac = sc[0]
            cm = comps[ci]
            cx = -(-(width * cm["h"]) // hmax)
            cy = -(-(height * cm["v"]) // vmax)
            bw, bh_n = -(-cx // 8), -(-cy // 8)
            unit = 0
            for by in range(bh_n):
                for bx in range(bw):
                    if rst and unit and unit % rst == 0:
                        seg_i += 1
                        if seg_i >= len(segs):
                            raise ValueError(
                                "corrupt JPEG: missing restart segment"
                            )
                        rd = _JpegBitReader(segs[seg_i])
                        preds = [0] * len(comps)
                        eobrun = 0
                    unit += 1
                    blk = store[ci][by, bx]
                    if ss == 0:  # non-interleaved DC scan
                        if ah == 0:
                            preds[ci] = _dc_first_scan(
                                rd, tabs[(0, tdc)], preds[ci], al
                            )
                            blk[0] = preds[ci] << al
                        elif rd.read_bit():
                            blk[0] |= 1 << al
                    elif ah == 0:
                        eobrun = _ac_first_scan(
                            rd, tabs[(1, tac)], blk, ss, se, al, eobrun
                        )
                    else:
                        eobrun = _ac_refine_scan(
                            rd, tabs[(1, tac)], blk, ss, se, al, eobrun
                        )

    # reconstruction: dequantize (natural order) + exact int64 IDCT
    planes = [
        np.zeros((mcus_y * c["v"] * 8, mcus_x * c["h"] * 8), dtype=np.uint8)
        if (chroma or ci == 0)
        else None
        for ci, c in enumerate(comps)
    ]
    basis = jpeg_idct_basis()
    half = 1 << (_IDCT_SHIFT - 1)
    perm = np.asarray(_JPEG_ZIGZAG, dtype=np.int64)
    for ci, cm in enumerate(comps):
        if planes[ci] is None:
            continue
        qnat = np.asarray(qt[cm["tq"]], dtype=np.int64)
        grid = store[ci]
        for by in range(grid.shape[0]):
            for bx in range(grid.shape[1]):
                nat = np.zeros(64, dtype=np.int64)
                nat[perm] = grid[by, bx]
                nat *= qnat
                pix = ((nat @ basis + half) >> _IDCT_SHIFT) + 128
                np.clip(pix, 0, 255, out=pix)
                planes[ci][
                    by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8
                ] = pix.reshape(8, 8).astype(np.uint8)
    return width, height, hmax, vmax, comps, planes


# -------------------------------------------------- JPEG fixture encoder


class _JpegBitWriter:
    """MSB-first bit writer with T.81 byte stuffing (FF -> FF 00)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc, self.nacc = 0, 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.nacc = 0, 0

    def finish(self) -> bytes:
        if self.nacc:
            pad = 8 - self.nacc
            self.acc = (self.acc << pad) | ((1 << pad) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.nacc = 0, 0
        return bytes(self.out)


def _huff_spec_8bit(symbols: list[int]):
    """A flat canonical table: every symbol gets an 8-bit code (code i =
    i) — legal (prefix-free, all-ones code unused for < 255 symbols)
    and trivially auditable; the decoder handles arbitrary DHT."""
    counts = [0] * 16
    counts[7] = len(symbols)
    codes = {sym: (i, 8) for i, sym in enumerate(symbols)}
    return counts, codes


_JPEG_DC_SYMS = list(range(12))
_JPEG_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _emit_block(
    w: _JpegBitWriter,
    coef_nat: list[int],
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Huffman-encode one block of QUANTIZED natural-order coefficients;
    returns the new DC predictor."""
    dc = coef_nat[0]
    diff = dc - pred
    s = abs(diff).bit_length()
    code, ln = dc_codes[s]
    w.write(code, ln)
    if s:
        w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    run = 0
    for k in range(1, 64):
        v = coef_nat[_JPEG_ZIGZAG[k]]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            w.write(code, ln)
            run -= 16
        s = abs(v).bit_length()
        code, ln = ac_codes[(run << 4) | s]
        w.write(code, ln)
        w.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        w.write(code, ln)
    return dc


def _jpeg_headers(
    width: int,
    height: int,
    quant: int,
    comps: list[tuple[int, int, int]],
    sof_marker: bytes = b"\xff\xc0",
    ac_syms: list[int] | None = None,
) -> bytes:
    """SOI + DQT(flat ``quant``) + SOF0/SOF2 + DHT(dc 0, ac 0) for
    ``comps`` = [(id, h, v), ...] — all components share table 0."""
    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + struct.pack(">HB", 67, 0) + bytes([quant] * 64)
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, h, v in comps:
        sof += bytes([cid, (h << 4) | v, 0])
    out += sof_marker + struct.pack(">H", 2 + len(sof)) + sof
    for tc, syms in (
        (0, _JPEG_DC_SYMS),
        (1, ac_syms if ac_syms is not None else _JPEG_AC_SYMS),
    ):
        counts, _ = _huff_spec_8bit(syms)
        body = bytes([tc << 4]) + bytes(counts) + bytes(syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(body)) + body
    return bytes(out)


def _jpeg_sos(
    comps: list[int], ss: int = 0, se: int = 63, ahal: int = 0
) -> bytes:
    body = bytes([len(comps)])
    for cid in comps:
        body += bytes([cid, 0x00])
    body += bytes([ss, se, ahal])
    return b"\xff\xda" + struct.pack(">H", 2 + len(body)) + body


def encode_jpeg_gray_coeffs(
    width: int,
    height: int,
    blocks: list[list[int]],
    quant: int = 16,
    restart_interval: int = 0,
) -> bytes:
    """Synthesize a VALID single-component baseline JPEG directly from
    QUANTIZED natural-order coefficient blocks (raster order,
    ceil(w/8)·ceil(h/8) of them) — the fixture generator for the JPEG
    decode oracle: choosing the coefficients (instead of running a
    lossy float DCT) makes the decoded raster a closed-form integer
    function the oracle can replay, while the bitstream still exercises
    the REAL entropy layer (canonical Huffman, byte stuffing, optional
    restart markers)."""
    bx = -(-width // 8)
    by = -(-height // 8)
    if len(blocks) != bx * by:
        raise ValueError(f"need {bx * by} blocks, got {len(blocks)}")
    _, dc_codes = _huff_spec_8bit(_JPEG_DC_SYMS)
    _, ac_codes = _huff_spec_8bit(_JPEG_AC_SYMS)
    out = bytearray(_jpeg_headers(width, height, quant, [(1, 1, 1)]))
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += _jpeg_sos([1])
    w = _JpegBitWriter()
    pred = 0
    for i, blk in enumerate(blocks):
        if restart_interval and i and i % restart_interval == 0:
            out += w.finish()
            out += bytes([0xFF, 0xD0 + ((i // restart_interval - 1) % 8)])
            w = _JpegBitWriter()
            pred = 0
        pred = _emit_block(w, blk, pred, dc_codes, ac_codes)
    out += w.finish()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_ycbcr420_coeffs(
    width: int,
    height: int,
    y_blocks: list[list[int]],
    quant: int = 16,
    cb_blocks: list[list[int]] | None = None,
    cr_blocks: list[list[int]] | None = None,
) -> bytes:
    """3-component 4:2:0 baseline JPEG from quantized LUMA blocks and
    optional chroma blocks (one per MCU each; default all-zero = gray)
    — exercises the interleaved-MCU walk (4 Y + Cb + Cr data units per
    MCU) of the decoder.  ``y_blocks`` is raster order over the full
    luma plane; ``cb_blocks``/``cr_blocks`` raster order over MCUs."""
    mx = -(-width // 16)
    my = -(-height // 16)
    if len(y_blocks) != mx * 2 * my * 2:
        raise ValueError(f"need {mx * 2 * my * 2} luma blocks")
    zero = [0] * 64
    cb_blocks = cb_blocks if cb_blocks is not None else [zero] * (mx * my)
    cr_blocks = cr_blocks if cr_blocks is not None else [zero] * (mx * my)
    if len(cb_blocks) != mx * my or len(cr_blocks) != mx * my:
        raise ValueError(f"need {mx * my} chroma blocks per channel")
    _, dc_codes = _huff_spec_8bit(_JPEG_DC_SYMS)
    _, ac_codes = _huff_spec_8bit(_JPEG_AC_SYMS)
    out = bytearray(
        _jpeg_headers(
            width, height, quant, [(1, 2, 2), (2, 1, 1), (3, 1, 1)]
        )
    )
    out += _jpeg_sos([1, 2, 3])
    w = _JpegBitWriter()
    preds = [0, 0, 0]
    for m in range(mx * my):
        row, col = divmod(m, mx)
        for bv in range(2):
            for bh in range(2):
                blk = y_blocks[(row * 2 + bv) * (mx * 2) + col * 2 + bh]
                preds[0] = _emit_block(w, blk, preds[0], dc_codes, ac_codes)
        preds[1] = _emit_block(w, cb_blocks[m], preds[1], dc_codes, ac_codes)
        preds[2] = _emit_block(w, cr_blocks[m], preds[2], dc_codes, ac_codes)
    out += w.finish()
    out += b"\xff\xd9"
    return bytes(out)


def jpeg_rgb_stats(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-image RGB channel statistics off :func:`decode_jpeg_rgb`:
    (id, width, height, r_sum, g_sum, b_sum, r_min, r_max, g_min,
    g_max, b_min, b_max).  Channel reductions run vectorized in numpy
    inside the row function — the raster never leaves the executor, so
    the operator ships 11 longs per image regardless of resolution
    (the 100 TB shape: decode-and-reduce where the bytes live)."""
    schema = (
        f"{id_col} long, width int, height int, "
        "r_sum long, g_sum long, b_sum long, "
        "r_min long, r_max long, g_min long, g_max long, "
        "b_min long, b_max long"
    )

    def _stats(rid, payload):
        import numpy as np

        w, h, rgb = decode_jpeg_rgb(payload or b"")
        a = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
        lo, hi = a.min(axis=0).tolist(), a.max(axis=0).tolist()
        return [(
            rid, w, h, *a.sum(axis=0, dtype=np.int64).tolist(),
            lo[0], hi[0], lo[1], hi[1], lo[2], hi[2],
        )]

    return flat_map(df, [id_col, bin_col], schema, _stats)


# ------------------------------------- progressive JPEG fixture encoder
# The encoder side of T.81 Annex G, so the oracle fixtures can exercise
# the progressive decoder with CHOSEN quantized coefficients — same
# design as encode_jpeg_gray_coeffs (q217): decoded pixels stay a
# closed-form integer function while the bitstream runs the real
# multi-scan entropy layer (EOB runs, ZRL folding, successive-
# approximation sign/correction bits).

# Progressive AC tables need the EOB-run length symbols (r<<4 | 0 for
# r = 0..14) on top of the baseline set; ZRL (0xF0) is the r=15 member.
_JPEG_AC_SYMS_PROG = [r << 4 for r in range(16)] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]

# Fixed scan script — all four scan types: DC first (Al=1), two AC
# first bands (successive approximation on the low band), DC refine,
# AC refine.  (Ss, Se, Ah, Al) per T.81 B.2.3.
PROG_SCAN_SCRIPT = (
    (0, 0, 0, 1),
    (1, 5, 0, 1),
    (6, 63, 0, 0),
    (0, 0, 1, 0),
    (1, 5, 1, 0),
)


class _ProgState:
    """Per-scan EOB-run accumulator with the run-level buffered
    correction bits (T.81 G.1.2.3 encoder discipline)."""

    def __init__(self, w: _JpegBitWriter, ac_codes: dict) -> None:
        self.w = w
        self.ac = ac_codes
        self.eobrun = 0
        self.be: list[int] = []  # correction bits owned by the EOB run

    def emit_sym(self, sym: int) -> None:
        code, ln = self.ac[sym]
        self.w.write(code, ln)

    def emit_eobrun(self) -> None:
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_sym(nbits << 4)
            if nbits:
                self.w.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for bit in self.be:
            self.w.write(bit, 1)
        self.be = []


def _emit_ac_first(st: _ProgState, zig: list[int], ss: int, se: int,
                   al: int) -> None:
    r = 0
    for k in range(ss, se + 1):
        v = zig[k]
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        st.emit_eobrun()
        while r > 15:
            st.emit_sym(0xF0)
            r -= 16
        if v < 0:
            t = -t
        s = abs(t).bit_length()
        st.emit_sym((r << 4) | s)
        st.w.write(t if t >= 0 else t + (1 << s) - 1, s)
        r = 0
    if r > 0:
        st.eobrun += 1
        if st.eobrun == 0x7FFF:
            st.emit_eobrun()


def _emit_ac_refine(st: _ProgState, zig: list[int], ss: int, se: int,
                    al: int) -> None:
    absv = [abs(zig[k]) >> al for k in range(ss, se + 1)]
    eob = ss - 1
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    r = 0
    br: list[int] = []  # correction bits owned by the current block
    for k in range(ss, se + 1):
        t = absv[k - ss]
        if t == 0:
            r += 1
            continue
        if t > 1:  # history coefficient: one correction bit
            br.append(t & 1)
            continue
        # newly significant (t == 1)
        while r > 15 and k <= eob:
            st.emit_eobrun()
            st.emit_sym(0xF0)
            r -= 16
            for bit in br:
                st.w.write(bit, 1)
            br = []
        st.emit_eobrun()
        st.emit_sym((r << 4) | 1)
        st.w.write(1 if zig[k] > 0 else 0, 1)
        for bit in br:
            st.w.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        st.eobrun += 1
        st.be.extend(br)
        if st.eobrun == 0x7FFF:
            st.emit_eobrun()


def encode_jpeg_progressive_gray_coeffs(
    width: int,
    height: int,
    blocks: list[list[int]],
    quant: int = 16,
) -> bytes:
    """Synthesize a VALID single-component PROGRESSIVE JPEG (SOF2) from
    QUANTIZED natural-order coefficient blocks — the progressive twin
    of :func:`encode_jpeg_gray_coeffs`, using :data:`PROG_SCAN_SCRIPT`
    (five scans covering all four scan types).  Decoding it must yield
    bit-identical pixels to the baseline encoding of the same blocks —
    the q240 oracle property."""
    bx = -(-width // 8)
    by = -(-height // 8)
    if len(blocks) != bx * by:
        raise ValueError(f"need {bx * by} blocks, got {len(blocks)}")
    zigs = [
        [blk[_JPEG_ZIGZAG[k]] for k in range(64)] for blk in blocks
    ]
    _, dc_codes = _huff_spec_8bit(_JPEG_DC_SYMS)
    _, ac_codes = _huff_spec_8bit(_JPEG_AC_SYMS_PROG)
    out = bytearray(
        _jpeg_headers(
            width, height, quant, [(1, 1, 1)],
            sof_marker=b"\xff\xc2", ac_syms=_JPEG_AC_SYMS_PROG,
        )
    )
    for ss, se, ah, al in PROG_SCAN_SCRIPT:
        out += _jpeg_sos([1], ss, se, (ah << 4) | al)
        w = _JpegBitWriter()
        st = _ProgState(w, ac_codes)
        pred = 0
        for zig in zigs:
            if ss == 0 and ah == 0:  # DC first
                t = zig[0] >> al
                diff = t - pred
                pred = t
                s = abs(diff).bit_length()
                code, ln = dc_codes[s]
                w.write(code, ln)
                if s:
                    w.write(
                        diff if diff >= 0 else diff + (1 << s) - 1, s
                    )
            elif ss == 0:  # DC refine
                w.write((zig[0] >> al) & 1, 1)
            elif ah == 0:
                _emit_ac_first(st, zig, ss, se, al)
            else:
                _emit_ac_refine(st, zig, ss, se, al)
        st.emit_eobrun()
        out += w.finish()
    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive_ycbcr420_coeffs(
    width: int,
    height: int,
    y_blocks: list[list[int]],
    quant: int = 16,
    cb_blocks: list[list[int]] | None = None,
    cr_blocks: list[list[int]] | None = None,
) -> bytes:
    """3-component 4:2:0 PROGRESSIVE JPEG from quantized natural-order
    coefficient blocks — exercises the decoder's INTERLEAVED DC scans
    (per-MCU 4 Y + Cb + Cr with per-component predictors and DC
    successive approximation) and per-component NON-interleaved AC
    scans whose block order is the component's own grid raster, not
    the MCU walk.  ``width``/``height`` must be multiples of 16 (the
    fixture dodges the padded-grid asymmetry general images have; the
    decoder handles it per spec)."""
    if width % 16 or height % 16:
        raise ValueError("progressive 4:2:0 fixture needs 16-aligned dims")
    mx, my = width // 16, height // 16
    if len(y_blocks) != mx * 2 * my * 2:
        raise ValueError(f"need {mx * 2 * my * 2} luma blocks")
    zero = [0] * 64
    cb_blocks = cb_blocks if cb_blocks is not None else [zero] * (mx * my)
    cr_blocks = cr_blocks if cr_blocks is not None else [zero] * (mx * my)
    if len(cb_blocks) != mx * my or len(cr_blocks) != mx * my:
        raise ValueError(f"need {mx * my} chroma blocks per channel")

    def zig(blk: list[int]) -> list[int]:
        return [blk[_JPEG_ZIGZAG[k]] for k in range(64)]

    zy = [zig(b) for b in y_blocks]
    zcb = [zig(b) for b in cb_blocks]
    zcr = [zig(b) for b in cr_blocks]
    _, dc_codes = _huff_spec_8bit(_JPEG_DC_SYMS)
    _, ac_codes = _huff_spec_8bit(_JPEG_AC_SYMS_PROG)
    out = bytearray(
        _jpeg_headers(
            width, height, quant,
            [(1, 2, 2), (2, 1, 1), (3, 1, 1)],
            sof_marker=b"\xff\xc2", ac_syms=_JPEG_AC_SYMS_PROG,
        )
    )

    def emit_dc(w: _JpegBitWriter, zigb: list[int], pred: int,
                al: int) -> int:
        t = zigb[0] >> al
        diff = t - pred
        s = abs(diff).bit_length()
        code, ln = dc_codes[s]
        w.write(code, ln)
        if s:
            w.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        return t

    def mcu_walk(w: _JpegBitWriter, ah: int, al: int) -> None:
        preds = [0, 0, 0]
        for m in range(mx * my):
            row, col = divmod(m, mx)
            for bv in range(2):
                for bh in range(2):
                    zb = zy[(row * 2 + bv) * (mx * 2) + col * 2 + bh]
                    if ah == 0:
                        preds[0] = emit_dc(w, zb, preds[0], al)
                    else:
                        w.write((zb[0] >> al) & 1, 1)
            for ci, zb in ((1, zcb[m]), (2, zcr[m])):
                if ah == 0:
                    preds[ci] = emit_dc(w, zb, preds[ci], al)
                else:
                    w.write((zb[0] >> al) & 1, 1)

    # scan script: interleaved DC first (Al=1), Y spectral bands with
    # successive approximation, chroma full bands, interleaved DC
    # refine, Y low-band refine
    out += _jpeg_sos([1, 2, 3], 0, 0, (0 << 4) | 1)
    w = _JpegBitWriter()
    mcu_walk(w, 0, 1)
    out += w.finish()

    def ac_scan(cid: int, zigs: list[list[int]], ss: int, se: int,
                ah: int, al: int) -> bytes:
        buf = bytearray(_jpeg_sos([cid], ss, se, (ah << 4) | al))
        w = _JpegBitWriter()
        st = _ProgState(w, ac_codes)
        for zb in zigs:
            if ah == 0:
                _emit_ac_first(st, zb, ss, se, al)
            else:
                _emit_ac_refine(st, zb, ss, se, al)
        st.emit_eobrun()
        return bytes(buf) + w.finish()

    out += ac_scan(1, zy, 1, 5, 0, 1)
    out += ac_scan(1, zy, 6, 63, 0, 0)
    out += ac_scan(2, zcb, 1, 63, 0, 0)
    out += ac_scan(3, zcr, 1, 63, 0, 0)
    out += _jpeg_sos([1, 2, 3], 0, 0, (1 << 4) | 0)
    w = _JpegBitWriter()
    mcu_walk(w, 1, 0)
    out += w.finish()
    out += ac_scan(1, zy, 1, 5, 1, 0)
    out += b"\xff\xd9"
    return bytes(out)


def dhash64(pixels, grid: int = 9):
    """64-bit difference hash (dHash, the standard perceptual
    image-dedup fingerprint) from a ``grid``² grayscale raster: bit
    (r, c) = pixel[r][c] > pixel[r][c+1] over the first 8 rows × 8
    column comparisons, MSB-first.  Pure codegen Column expression —
    feed it :func:`decode_image` output (``thumb=grid``) and group/
    band on the hash for near-duplicate images; Hamming distance
    between hashes tracks perceptual similarity where exact byte
    hashes see nothing."""
    h = F.lit(0).cast("long")
    for r in range(8):
        for c in range(8):
            bit = (
                F.element_at(pixels, r * grid + c + 1)
                > F.element_at(pixels, r * grid + c + 2)
            ).cast("long")
            h = F.shiftleft(h, 1) + bit
    return h

"""Audio container metadata — the audio mirror of
``operators/video.py``'s container tier.

Pure public spec, pure stdlib, four formats: MPEG audio (MP3) frame
chains (ISO 11172-3 / 13818-3 headers: sync, version, layer,
bitrate/sample-rate indices, padding), ADTS (AAC) transport headers
(ISO 14496-3), FLAC STREAMINFO + metadata-block walk (RFC 9639 §8.2),
and ID3v2.3 text-frame extraction (TIT2/TPE1/TALB/TRCK).  The walkers
derive per-stream facts — frame count, sample rate, channel count,
bit depth, duration, per-frame byte sizes, CBR/VBR, tag text — from
headers alone.  Frame PAYLOAD decode (Huffman spectral data) needs a
codec and stays out of scope, exactly like H.264 slice data in the
video tier.

Scale shape: one Arrow-batched ``flat_map`` over the binary column,
zero shuffles; a 100 TB audio lake partitions by asset like every
other multimodal operator.

Reference parity: the reference pipeline (occupation-wage ETL) has no
media tier; this extends the engine's training-data catalog.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

# MPEG1 Layer III bitrate table (kbps, index 1..14; 0 = free, 15 = bad)
_MP3_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
# MPEG1 sample rates by 2-bit index (3 = reserved)
_MP3_RATES = (44100, 48000, 32000)
# ADTS sampling_frequency_index table (ISO 14496-3 §1.6.3.4)
_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
    16000, 12000, 11025, 8000, 7350,
)
_MP3_SAMPLES_PER_FRAME = 1152  # MPEG1 Layer III
_ADTS_SAMPLES_PER_FRAME = 1024


def _skip_id3v2(b: bytes) -> int:
    """Return the offset past an ID3v2 tag (syncsafe 28-bit size)."""
    if len(b) >= 10 and b[:3] == b"ID3":
        size = (
            (b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
            | (b[8] & 0x7F) << 7 | (b[9] & 0x7F)
        )
        return 10 + size
    return 0


def parse_mp3(b: bytes) -> dict:
    """Walk an MPEG1 Layer III frame chain (ID3v2 tolerated).

    Returns {sample_rate, channels, n_frames, frame_bytes (list),
    bitrates (kbps list), samples_per_frame}.  Raises ``ValueError``
    on a broken sync word, reserved index, or truncated frame.
    """
    pos = _skip_id3v2(b)
    frame_bytes: list[int] = []
    bitrates: list[int] = []
    sample_rate = channels = None
    while pos < len(b):
        if pos + 4 > len(b):
            raise ValueError("corrupt MP3: truncated frame header")
        h = struct.unpack_from(">I", b, pos)[0]
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError("corrupt MP3: lost sync")
        version = (h >> 19) & 3
        layer = (h >> 17) & 3
        if version != 3 or layer != 1:
            raise ValueError(
                "unsupported MPEG audio: only MPEG1 Layer III handled"
            )
        br_idx = (h >> 12) & 0xF
        sr_idx = (h >> 10) & 3
        padding = (h >> 9) & 1
        mode = (h >> 6) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("corrupt MP3: reserved bitrate/rate index")
        sr = _MP3_RATES[sr_idx]
        ch = 1 if mode == 3 else 2
        if sample_rate is None:
            sample_rate, channels = sr, ch
        elif (sr, ch) != (sample_rate, channels):
            raise ValueError("corrupt MP3: rate/mode changes mid-stream")
        flen = 144000 * _MP3_BITRATES[br_idx] // sr + padding
        if pos + flen > len(b):
            raise ValueError("corrupt MP3: frame extends past end")
        frame_bytes.append(flen)
        bitrates.append(_MP3_BITRATES[br_idx])
        pos += flen
    if not frame_bytes:
        raise ValueError("corrupt MP3: no frames")
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "n_frames": len(frame_bytes),
        "frame_bytes": frame_bytes,
        "bitrates": bitrates,
        "samples_per_frame": _MP3_SAMPLES_PER_FRAME,
    }


def parse_adts(b: bytes) -> dict:
    """Walk an ADTS (AAC transport) frame chain.

    Returns {sample_rate, channels, n_frames, frame_bytes,
    samples_per_frame, profile}.  Raises ``ValueError`` on broken
    sync, reserved frequency index, or truncated frame.
    """
    pos = 0
    frame_bytes: list[int] = []
    sample_rate = channels = profile = None
    while pos < len(b):
        if pos + 7 > len(b):
            raise ValueError("corrupt ADTS: truncated header")
        if b[pos] != 0xFF or (b[pos + 1] & 0xF6) != 0xF0:
            raise ValueError("corrupt ADTS: lost sync")
        prof = (b[pos + 2] >> 6) & 3
        sfi = (b[pos + 2] >> 2) & 0xF
        if sfi >= len(_ADTS_RATES):
            raise ValueError("corrupt ADTS: reserved frequency index")
        ch = ((b[pos + 2] & 1) << 2) | (b[pos + 3] >> 6)
        flen = (
            ((b[pos + 3] & 3) << 11) | (b[pos + 4] << 3) | (b[pos + 5] >> 5)
        )
        if flen < 7 or pos + flen > len(b):
            raise ValueError("corrupt ADTS: frame extends past end")
        sr = _ADTS_RATES[sfi]
        if sample_rate is None:
            sample_rate, channels, profile = sr, ch, prof
        elif (sr, ch) != (sample_rate, channels):
            raise ValueError("corrupt ADTS: rate/channels change mid-stream")
        frame_bytes.append(flen)
        pos += flen
    if not frame_bytes:
        raise ValueError("corrupt ADTS: no frames")
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "n_frames": len(frame_bytes),
        "frame_bytes": frame_bytes,
        "samples_per_frame": _ADTS_SAMPLES_PER_FRAME,
        "profile": profile,
    }


def sniff_audio_container(b: bytes) -> str | None:
    """'mp3' | 'adts' | None by magic inspection (ID3 tag counts as mp3)."""
    if len(b) >= 3 and b[:3] == b"ID3":
        return "mp3"
    if len(b) >= 2 and b[0] == 0xFF:
        if (b[1] & 0xF6) == 0xF0:
            return "adts"
        if (b[1] & 0xE0) == 0xE0:
            return "mp3"
    return None


def audio_frame_stats(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per asset with frame-chain facts: container, frame
    count, sample rate, channels, samples/frame, duration (ms, floor),
    total/min/max frame bytes, and ``is_cbr`` (every frame at the same
    coded size — for MP3 the same bitrate index, for ADTS the same
    aac_frame_length).  Scan-side ``flat_map``, zero shuffles."""
    schema = (
        f"{id_col} long, container string, n_frames long, "
        "sample_rate int, channels int, samples_per_frame int, "
        "duration_ms long, total_frame_bytes long, "
        "min_frame_bytes int, max_frame_bytes int, is_cbr boolean"
    )


    def _stats(rid, payload):
        raw = payload or b""
        kind = sniff_audio_container(raw)
        if kind is None:
            raise ValueError("corrupt audio: unknown container")
        meta = parse_mp3(raw) if kind == "mp3" else parse_adts(raw)
        fb = meta["frame_bytes"]
        spf = meta["samples_per_frame"]
        if kind == "mp3":
            cbr = len(set(meta["bitrates"])) == 1
        else:
            cbr = len(set(fb)) == 1
        return [(
            rid, kind, meta["n_frames"], meta["sample_rate"],
            meta["channels"], spf,
            meta["n_frames"] * spf * 1000 // meta["sample_rate"],
            sum(fb), min(fb), max(fb), cbr,
        )]

    return flat_map(df, [id_col, bin_col], schema, _stats)


# ------------------------------------------------------ fixture encoders


def encode_mp3_fixture(
    bitrate_indices: list[int],
    sr_idx: int = 0,
    paddings: list[int] | None = None,
    mode: int = 0,
    id3_bytes: int = 0,
) -> bytes:
    """MPEG1 Layer III frame chain with chosen header fields; payload
    is zero filler (the header walker never reads it).  ``id3_bytes``
    prepends a syncsafe ID3v2 tag of that body size."""
    out = bytearray()
    if id3_bytes:
        out += b"ID3\x03\x00\x00" + bytes(
            [
                (id3_bytes >> 21) & 0x7F, (id3_bytes >> 14) & 0x7F,
                (id3_bytes >> 7) & 0x7F, id3_bytes & 0x7F,
            ]
        )
        out += b"\x00" * id3_bytes
    paddings = paddings or [0] * len(bitrate_indices)
    sr = _MP3_RATES[sr_idx]
    for bi, pad in zip(bitrate_indices, paddings):
        h = (
            (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16)
            | (bi << 12) | (sr_idx << 10) | (pad << 9)
            | (mode << 6)
        )
        flen = 144000 * _MP3_BITRATES[bi] // sr + pad
        out += struct.pack(">I", h) + b"\x00" * (flen - 4)
    return bytes(out)


def encode_adts_fixture(
    payload_lens: list[int],
    profile: int = 1,
    sfi: int = 3,
    channels: int = 2,
) -> bytes:
    """ADTS frame chain (protection_absent=1, 7-byte headers) with
    chosen per-frame payload byte lengths."""
    out = bytearray()
    for pl in payload_lens:
        flen = 7 + pl
        hdr = bytearray(7)
        hdr[0] = 0xFF
        hdr[1] = 0xF1  # MPEG-4, layer 00, no CRC
        hdr[2] = (profile << 6) | (sfi << 2) | ((channels >> 2) & 1)
        hdr[3] = ((channels & 3) << 6) | ((flen >> 11) & 3)
        hdr[4] = (flen >> 3) & 0xFF
        hdr[5] = ((flen & 7) << 5) | 0x1F  # buffer fullness high bits
        hdr[6] = 0xFC  # fullness low + 1 raw block
        out += hdr + b"\x00" * pl
    return bytes(out)


# --------------------------------------------------- FLAC STREAMINFO


def parse_flac_streaminfo(b: bytes) -> dict:
    """Parse a FLAC stream's METADATA_BLOCK_STREAMINFO (the mandatory
    first block) plus the metadata block walk — sample rate (20 bits),
    channels, bits/sample, total samples (36 bits), block/frame size
    bounds and the unencoded-audio MD5 (RFC 9639 §8.2).  Pure stdlib
    bit unpacking; frame (audio) decode is codec territory and out of
    scope, same contract as the MP3/ADTS walkers."""
    if len(b) < 4 + 4 + 34 or b[:4] != b"fLaC":
        raise ValueError("corrupt FLAC: bad magic or too short")
    pos = 4
    n_blocks = 0
    info: dict | None = None
    while pos + 4 <= len(b):
        hdr = b[pos]
        btype = hdr & 0x7F
        blen = int.from_bytes(b[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(b):
            raise ValueError("corrupt FLAC: metadata block overruns")
        if n_blocks == 0 and btype != 0:
            raise ValueError("corrupt FLAC: first block not STREAMINFO")
        if btype == 0:
            if blen < 34:
                raise ValueError("corrupt FLAC: STREAMINFO too short")
            s = pos + 4
            packed = int.from_bytes(b[s + 10 : s + 18], "big")
            info = {
                "min_block_size": int.from_bytes(b[s : s + 2], "big"),
                "max_block_size": int.from_bytes(b[s + 2 : s + 4], "big"),
                "min_frame_size": int.from_bytes(b[s + 4 : s + 7], "big"),
                "max_frame_size": int.from_bytes(b[s + 7 : s + 10], "big"),
                "sample_rate": packed >> 44,
                "channels": ((packed >> 41) & 7) + 1,
                "bits_per_sample": ((packed >> 36) & 31) + 1,
                "total_samples": packed & ((1 << 36) - 1),
                "md5_hex": b[s + 18 : s + 34].hex(),
            }
        n_blocks += 1
        pos += 4 + blen
        if hdr & 0x80:  # last-metadata-block flag
            break
    if info is None:
        raise ValueError("corrupt FLAC: no STREAMINFO")
    info["n_metadata_blocks"] = n_blocks
    return info


def flac_streaminfo(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per FLAC asset with STREAMINFO facts + duration (ms,
    floor).  Scan-side ``flat_map``, zero shuffles."""
    schema = (
        f"{id_col} long, sample_rate int, channels int, "
        "bits_per_sample int, total_samples long, duration_ms long, "
        "min_block_size int, max_block_size int, min_frame_size int, "
        "max_frame_size int, n_metadata_blocks int, md5_hex string"
    )


    def _stats(rid, payload):
        m = parse_flac_streaminfo(payload or b"")
        return [(
            rid, m["sample_rate"], m["channels"], m["bits_per_sample"],
            m["total_samples"],
            m["total_samples"] * 1000 // m["sample_rate"],
            m["min_block_size"], m["max_block_size"],
            m["min_frame_size"], m["max_frame_size"],
            m["n_metadata_blocks"], m["md5_hex"],
        )]

    return flat_map(df, [id_col, bin_col], schema, _stats)


def encode_flac_fixture(
    sample_rate: int = 44100,
    channels: int = 2,
    bits_per_sample: int = 16,
    total_samples: int = 44100,
    min_block: int = 4096,
    max_block: int = 4096,
    min_frame: int = 1000,
    max_frame: int = 5000,
    md5: bytes = b"\x00" * 16,
    padding: int | None = None,
) -> bytes:
    """fLaC header + STREAMINFO (+ optional PADDING block)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits_per_sample - 1) << 36)
        | total_samples
    )
    si = (
        min_block.to_bytes(2, "big")
        + max_block.to_bytes(2, "big")
        + min_frame.to_bytes(3, "big")
        + max_frame.to_bytes(3, "big")
        + packed.to_bytes(8, "big")
        + md5
    )
    out = bytearray(b"fLaC")
    last_si = padding is None
    out += bytes([(0x80 if last_si else 0) | 0]) + len(si).to_bytes(3, "big") + si
    if padding is not None:
        out += bytes([0x80 | 1]) + padding.to_bytes(3, "big") + b"\x00" * padding
    return bytes(out)


# --------------------------------------------------- ID3v2.3 text frames


def parse_id3v2_frames(b: bytes) -> dict:
    """Extract ID3v2.3 text frames (ID3 informal standard §3/§4):
    returns {frames: {frame_id: text}, n_frames}.  Text frames carry an
    encoding byte (0 = ISO-8859-1, 1 = UTF-16 with BOM) + the value.
    Stops at padding (zero bytes); raises ``ValueError`` on structural
    corruption."""
    if len(b) < 10 or b[:3] != b"ID3":
        raise ValueError("corrupt ID3: bad magic")
    if b[3] != 3:
        raise ValueError(f"unsupported ID3 version 2.{b[3]} (only 2.3)")
    size = (
        (b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
        | (b[8] & 0x7F) << 7 | (b[9] & 0x7F)
    )
    if 10 + size > len(b):
        raise ValueError("corrupt ID3: declared tag size overruns buffer")
    end = 10 + size
    pos = 10
    frames: dict[str, str] = {}
    n = 0
    while pos + 10 <= end:
        if b[pos] == 0:  # padding
            break
        fid = b[pos : pos + 4]
        if not all(65 <= c <= 90 or 48 <= c <= 57 for c in fid):
            raise ValueError("corrupt ID3: bad frame id")
        flen = int.from_bytes(b[pos + 4 : pos + 8], "big")
        if pos + 10 + flen > end:
            raise ValueError("corrupt ID3: frame overruns tag")
        body = b[pos + 10 : pos + 10 + flen]
        if fid[0:1] == b"T" and body:
            enc, raw = body[0], body[1:]
            if enc == 0:
                text = raw.split(b"\x00")[0].decode("latin-1")
            elif enc == 1:
                text = raw.decode("utf-16").split("\x00")[0]
            else:
                raise ValueError("corrupt ID3: unknown text encoding")
            frames[fid.decode("ascii")] = text
        n += 1
        pos += 10 + flen
    return {"frames": frames, "n_frames": n}


def id3_tags(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per asset: (id, title, artist, album, track, n_frames)
    from the ID3v2.3 tag (TIT2/TPE1/TALB/TRCK text frames; NULL when a
    frame is absent).  Scan-side ``flat_map``, zero shuffles."""
    schema = (
        f"{id_col} long, title string, artist string, album string, "
        "track string, n_frames int"
    )


    def _tags(rid, payload):
        m = parse_id3v2_frames(payload or b"")
        f = m["frames"]
        return [(
            rid, f.get("TIT2"), f.get("TPE1"), f.get("TALB"),
            f.get("TRCK"), m["n_frames"],
        )]

    return flat_map(df, [id_col, bin_col], schema, _tags)


def encode_id3v2_fixture(frames: dict[str, str], padding: int = 0) -> bytes:
    """ID3v2.3 tag with ISO-8859-1 text frames (+ optional padding)."""
    body = bytearray()
    for fid, text in frames.items():
        payload = b"\x00" + text.encode("latin-1")
        body += (
            fid.encode("ascii")
            + len(payload).to_bytes(4, "big")
            + b"\x00\x00"
            + payload
        )
    body += b"\x00" * padding
    size = len(body)
    hdr = b"ID3\x03\x00\x00" + bytes(
        [
            (size >> 21) & 0x7F, (size >> 14) & 0x7F,
            (size >> 7) & 0x7F, size & 0x7F,
        ]
    )
    return hdr + bytes(body)

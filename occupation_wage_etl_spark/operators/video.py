"""ISO-BMFF (MP4) container demux — the METADATA tier of video support.

What a 100 TB curation pipeline actually needs from video payloads,
before (and usually instead of) any codec work, is container-level
fact extraction: which tracks exist, their codecs, durations, sample
counts, and WHERE the keyframes live — so sampling, dedup and routing
can run on byte offsets without ever invoking a decoder.  All of that
is pure public spec (ISO/IEC 14496-12 box grammar) and pure stdlib:

- :func:`parse_mp4` walks the box tree (size/type headers, 64-bit
  largesize, version-0/1 full boxes), reads ``ftyp``/``mvhd``/``tkhd``/
  ``mdhd``/``hdlr``/``stsd`` and reconstructs per-sample byte offsets
  from the ``stsc`` (sample→chunk) + ``stco``/``co64`` (chunk offset) +
  ``stsz`` (sample size) tables — the real demux math, not a stub.
- :func:`demux_mp4` is the Spark operator: one output row per TRACK,
  scan-side ``flat_map`` (Arrow-batched, no shuffle — metadata
  extraction stays where the bytes already are).
- :func:`mp4_keyframe_slices` fans out one row per SYNC SAMPLE
  (``stss``; absent ⇒ every sample is sync, per spec) with its byte
  offset, size, and the actual payload slice out of ``mdat`` — frame
  sampling at real keyframe offsets.  Pixel decode of H.264 intra
  keyframes lives in ``operators/h264.py``; inter frames and other
  codecs stay out of scope (COVERAGE.md records the decision); the
  container layer itself is fully real.
- :func:`encode_mp4_fixture` synthesizes a structurally valid
  single-``mdat`` MP4 from chosen parameters — the deterministic
  fixture generator for the oracle-paired registry queries (q232/q233),
  same pattern as the JPEG coefficient fixtures
  (``multimodal.encode_jpeg_gray_coeffs`` / q217).

Reference analogue: the reference pipeline has no video handling at
all (it is an OEWS/O*NET tabular ETL — ``pipeline/transform_data.py``);
this module is part of the engine's training-data extension surface.

Scale posture: payloads are opaque ``binary`` cells read once by the
scan; both operators are narrow per-row transforms (fan-out bounded by
keyframe count), so the plan shape is scan → flat_map with zero
exchanges — partitioning is whatever the source table already has.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

# Container boxes whose payload is a sequence of child boxes.
_CONTAINERS = {
    b"moov", b"trak", b"mdia", b"minf", b"stbl", b"edts", b"udta",
    b"mvex", b"moof", b"traf",
}


def _iter_boxes(b: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for each box in
    ``b[start:end]``; handles size==1 (64-bit largesize) and size==0
    (box extends to the end of the enclosing scope)."""
    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", b, pos)[0]
        btype = b[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("corrupt MP4: truncated largesize box")
            size = struct.unpack_from(">Q", b, pos + 8)[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("corrupt MP4: box overruns its container")
        yield btype, pos + hdr, pos + size
        pos += size


def _find(b: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _iter_boxes(b, start, end):
        if t == btype:
            return s, e
    return None


def _full_box(b: bytes, s: int) -> tuple[int, int]:
    """(version, flags) of a full box whose payload starts at ``s``."""
    vf = struct.unpack_from(">I", b, s)[0]
    return vf >> 24, vf & 0xFFFFFF


def _parse_stbl(b: bytes, s: int, e: int) -> dict:
    out: dict = {
        "codec": None,
        "sizes": [],
        "chunk_offsets": [],
        "stsc": [],
        "sync": None,
        "n_samples": 0,
    }
    for t, bs, be in _iter_boxes(b, s, e):
        if t == b"stsd":
            # version/flags + entry_count, then sample entries:
            # size(4) format(4) ... — the codec fourcc is the format
            n = struct.unpack_from(">I", b, bs + 4)[0]
            if n >= 1 and be - bs >= 16:
                es = bs + 8  # first sample entry
                esize = struct.unpack_from(">I", b, es)[0]
                fmt = b[es + 4 : es + 8]
                out["codec"] = fmt.decode("ascii", errors="replace")
                if fmt in (b"avc1", b"avc3") and esize >= 86:
                    # VisualSampleEntry: advisory dims at +32, child
                    # boxes (avcC, ...) after the 86-byte fixed part
                    out["entry_width"], out["entry_height"] = (
                        struct.unpack_from(">HH", b, es + 32)
                    )
                    for t2, cs, ce in _iter_boxes(
                        b, es + 86, min(es + esize, be)
                    ):
                        if t2 == b"avcC":
                            cfg = _parse_avcc(b, cs, ce)
                            if cfg is not None:
                                out["sps"] = cfg["sps"]
                                out["avcc"] = cfg
        elif t == b"stsz":
            fixed, count = struct.unpack_from(">II", b, bs + 4)
            out["n_samples"] = count
            if fixed:
                out["sizes"] = [fixed] * count
            else:
                out["sizes"] = list(
                    struct.unpack_from(f">{count}I", b, bs + 12)
                )
        elif t == b"stsc":
            n = struct.unpack_from(">I", b, bs + 4)[0]
            vals = struct.unpack_from(f">{3 * n}I", b, bs + 8)
            out["stsc"] = [
                (vals[3 * i], vals[3 * i + 1], vals[3 * i + 2])
                for i in range(n)
            ]
        elif t == b"stco":
            n = struct.unpack_from(">I", b, bs + 4)[0]
            out["chunk_offsets"] = list(
                struct.unpack_from(f">{n}I", b, bs + 8)
            )
        elif t == b"co64":
            n = struct.unpack_from(">I", b, bs + 4)[0]
            out["chunk_offsets"] = list(
                struct.unpack_from(f">{n}Q", b, bs + 8)
            )
        elif t == b"stss":
            n = struct.unpack_from(">I", b, bs + 4)[0]
            out["sync"] = list(struct.unpack_from(f">{n}I", b, bs + 8))
    return out


# --------------------------------------------- H.264 SPS (avcC) tier
#
# The avcC box (ISO 14496-15 §5.3.3.1) carries the H.264 parameter
# sets out-of-band; the SPS inside it is THE authoritative source of
# coded frame geometry (tkhd/sample-entry dims are advisory).  Pure
# public spec: ITU-T H.264 §7.3.2.1 (seq_parameter_set_rbsp) with
# §9.1 Exp-Golomb coding and §7.4.1 emulation prevention.  Frame
# PIXEL decode stays out of scope (no entropy decoder for slice
# data) — this tier stops at parameter sets, by design.

_HIGH_PROFILES = frozenset(
    {100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135}
)


class _BitReader:
    """MSB-first bit reader with Exp-Golomb (H.264 §9.1) over an
    EP-stripped RBSP; ``kind`` names the structure in corruption
    errors (``"SPS"`` for :func:`decode_sps`)."""

    def __init__(self, data: bytes, kind: str = "H.264") -> None:
        self.d, self.pos, self.kind = data, 0, kind

    def u(self, n: int) -> int:
        v = 0
        d, pos = self.d, self.pos
        for _ in range(n):
            byte = pos >> 3
            if byte >= len(d):
                raise ValueError(f"corrupt {self.kind}: bitstream overrun")
            v = (v << 1) | ((d[byte] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v

    def ue(self) -> int:
        z = 0
        while self.u(1) == 0:
            z += 1
            if z > 31:
                raise ValueError(f"corrupt {self.kind}: Exp-Golomb run")
        return (1 << z) - 1 + (self.u(z) if z else 0)

    def se(self) -> int:
        k = self.ue()
        return (k + 1) // 2 if k & 1 else -(k // 2)

    def vlc(self, tree: dict, what: str):
        node = tree
        for _ in range(32):
            nxt = node.get(str(self.u(1)))
            if nxt is None:
                raise ValueError(f"corrupt H.264: invalid {what} code")
            if isinstance(nxt, tuple):
                return nxt[1]
            node = nxt
        raise ValueError(f"corrupt H.264: runaway {what} code")

    def align(self) -> None:
        while self.pos & 7:
            if self.u(1):
                raise ValueError(
                    "corrupt H.264: nonzero pcm_alignment_zero_bit"
                )

    def bytes_(self, n: int) -> bytes:
        if self.pos & 7:
            raise ValueError("corrupt H.264: unaligned byte read")
        start = self.pos >> 3
        if start + n > len(self.d):
            raise ValueError("corrupt H.264: PCM sample overrun")
        self.pos += 8 * n
        return self.d[start : start + n]

    def more_rbsp_data(self) -> bool:
        """True iff bits remain before the rbsp_stop_one_bit."""
        i = len(self.d) - 1
        while i >= 0 and self.d[i] == 0:
            i -= 1
        if i < 0:
            return False
        last = self.d[i]
        stop = i * 8 + (7 - ((last & -last).bit_length() - 1))
        return self.pos < stop


class _BitWriter:
    """MSB-first bit writer with Exp-Golomb — the fixture encoders."""

    def __init__(self) -> None:
        self.bits: list[int] = []

    def u(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((value >> i) & 1)

    def ue(self, value: int) -> None:
        z = (value + 1).bit_length() - 1
        if z:
            self.u(0, z)
        self.u(value + 1, z + 1)

    def se(self, value: int) -> None:
        self.ue(2 * value - 1 if value > 0 else -2 * value)

    def code(self, bitstring: str) -> None:
        self.bits.extend(1 if c == "1" else 0 for c in bitstring)

    def align_zero(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def raw_bytes(self, b: bytes) -> None:
        for byte in b:
            self.u(byte, 8)

    def rbsp(self) -> bytes:
        bits = self.bits + [1]
        while len(bits) % 8:
            bits.append(0)
        out = bytearray()
        for i in range(0, len(bits), 8):
            v = 0
            for bit in bits[i : i + 8]:
                v = (v << 1) | bit
            out.append(v)
        return bytes(out)


def _ep_strip(nal: bytes) -> bytes:
    """Drop emulation_prevention_three_bytes: 00 00 03 → 00 00
    (H.264 §7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for byte in nal:
        if zeros >= 2 and byte == 3:
            zeros = 0
            continue
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def _ep_insert(rbsp: bytes) -> bytes:
    """Insert 03 after any 00 00 followed by a byte ≤ 3 (§7.4.1.1)."""
    out = bytearray()
    zeros = 0
    for byte in rbsp:
        if zeros >= 2 and byte <= 3:
            out.append(3)
            zeros = 0
        out.append(byte)
        zeros = zeros + 1 if byte == 0 else 0
    return bytes(out)


def decode_sps(nal: bytes) -> dict:
    """Decode seq_parameter_set_rbsp (H.264 §7.3.2.1) from an SPS NAL
    (header byte included).  Returns the geometry facts a catalog
    needs: profile/level, chroma format, bit depth, and the CODED
    width/height after frame cropping (§7.4.2.1.1 CropUnitX/Y).
    Raises ``ValueError`` on corruption; scaling lists are legal
    H.264 but out of the metadata tier's scope (explicit error)."""
    if not nal or (nal[0] & 0x1F) != 7:
        raise ValueError("corrupt SPS: not an SPS NAL unit")
    r = _BitReader(_ep_strip(nal[1:]), "SPS")
    profile_idc = r.u(8)
    constraint_flags = r.u(8)
    level_idc = r.u(8)
    sps_id = r.ue()
    chroma_format_idc = 1
    bit_depth_luma = bit_depth_chroma = 8
    if profile_idc in _HIGH_PROFILES:
        chroma_format_idc = r.ue()
        if chroma_format_idc > 3:
            raise ValueError("corrupt SPS: chroma_format_idc > 3")
        if chroma_format_idc == 3:
            r.u(1)  # separate_colour_plane_flag
        bit_depth_luma = r.ue() + 8
        bit_depth_chroma = r.ue() + 8
        r.u(1)  # qpprime_y_zero_transform_bypass_flag
        if r.u(1):
            raise ValueError("SPS scaling lists unsupported (metadata tier)")
    log2_max_frame_num = r.ue() + 4
    poc_type = r.ue()
    log2_max_poc_lsb = None
    if poc_type == 0:
        log2_max_poc_lsb = r.ue() + 4  # log2_max_pic_order_cnt_lsb_minus4
    elif poc_type == 1:
        r.u(1)  # delta_pic_order_always_zero_flag
        r.se()  # offset_for_non_ref_pic
        r.se()  # offset_for_top_to_bottom_field
        for _ in range(r.ue()):
            r.se()
    elif poc_type > 2:
        raise ValueError("corrupt SPS: pic_order_cnt_type > 2")
    max_num_ref_frames = r.ue()
    r.u(1)  # gaps_in_frame_num_value_allowed_flag
    w_mbs = r.ue() + 1
    h_units = r.ue() + 1
    frame_mbs_only = r.u(1)
    if not frame_mbs_only:
        r.u(1)  # mb_adaptive_frame_field_flag
    r.u(1)  # direct_8x8_inference_flag
    crop_l = crop_r = crop_t = crop_b = 0
    if r.u(1):  # frame_cropping_flag
        crop_l, crop_r, crop_t, crop_b = r.ue(), r.ue(), r.ue(), r.ue()
    vui_present = r.u(1)
    vui = _decode_vui(r) if vui_present else {}
    # §7.4.2.1.1: ChromaArrayType 0 → CropUnitX 1 / CropUnitY 2−fmof;
    # else SubWidthC / SubHeightC·(2−fmof)
    sub_w = {0: 1, 1: 2, 2: 2, 3: 1}[chroma_format_idc]
    sub_h = {0: 1, 1: 2, 2: 1, 3: 1}[chroma_format_idc]
    crop_x = sub_w if chroma_format_idc else 1
    crop_y = (sub_h if chroma_format_idc else 1) * (2 - frame_mbs_only)
    return {
        "profile_idc": profile_idc,
        "constraint_flags": constraint_flags,
        "level_idc": level_idc,
        "sps_id": sps_id,
        "chroma_format_idc": chroma_format_idc,
        "bit_depth_luma": bit_depth_luma,
        "bit_depth_chroma": bit_depth_chroma,
        "log2_max_frame_num": log2_max_frame_num,
        "pic_order_cnt_type": poc_type,
        "log2_max_poc_lsb": log2_max_poc_lsb,
        "max_num_ref_frames": max_num_ref_frames,
        "frame_mbs_only": frame_mbs_only,
        "coded_width": w_mbs * 16 - crop_x * (crop_l + crop_r),
        "coded_height": (2 - frame_mbs_only) * h_units * 16
        - crop_y * (crop_t + crop_b),
        "crop_left_px": crop_x * crop_l,
        "crop_top_px": crop_y * crop_t,
        "width_mbs": w_mbs,
        "height_mbs": h_units * (2 - frame_mbs_only),
        "vui_present": vui_present,
        **vui,
    }


# sample_aspect_ratio_idc 1..16 -> (sar_w, sar_h) (Table E-1)
_SAR_TABLE = (
    (1, 1), (12, 11), (10, 11), (16, 11), (40, 33), (24, 11),
    (20, 11), (32, 11), (80, 33), (18, 11), (15, 11), (64, 33),
    (160, 99), (4, 3), (3, 2), (2, 1),
)


def _decode_vui(r) -> dict:
    """VUI parameters (H.264 Annex E §E.1.1), through timing_info —
    the catalog-relevant prefix: sample aspect ratio, video signal
    type (full range + colour primaries), and the frame-rate clock
    (fps = time_scale / (2 * num_units_in_tick) for frame-coded
    streams).  Fields after timing_info (NAL HRD etc.) are not read —
    nothing in the SPS follows the VUI, so stopping early is safe."""
    out: dict = {}
    if r.u(1):  # aspect_ratio_info_present_flag
        idc = r.u(8)
        if idc == 255:  # Extended_SAR
            out["sar_width"] = r.u(16)
            out["sar_height"] = r.u(16)
        elif 1 <= idc <= 16:
            out["sar_width"], out["sar_height"] = _SAR_TABLE[idc - 1]
        # Annex E: reserved idc 17..254 "shall be interpreted as
        # unspecified" — leave sar_width/sar_height unset, don't raise.
    if r.u(1):  # overscan_info_present_flag
        r.u(1)
    if r.u(1):  # video_signal_type_present_flag
        out["video_format"] = r.u(3)
        out["video_full_range"] = r.u(1)
        if r.u(1):  # colour_description_present_flag
            out["colour_primaries"] = r.u(8)
            out["transfer_characteristics"] = r.u(8)
            out["matrix_coefficients"] = r.u(8)
    if r.u(1):  # chroma_loc_info_present_flag
        r.ue()
        r.ue()
    if r.u(1):  # timing_info_present_flag
        out["num_units_in_tick"] = r.u(32)
        out["time_scale"] = r.u(32)
        out["fixed_frame_rate"] = r.u(1)
    return out


def encode_sps(
    profile_idc: int = 66,
    constraint_flags: int = 0,
    level_idc: int = 30,
    sps_id: int = 0,
    chroma_format_idc: int = 1,
    bit_depth: int = 8,
    log2_max_frame_num: int = 4,
    pic_order_cnt_type: int = 0,
    log2_max_poc_lsb: int = 4,
    max_num_ref_frames: int = 1,
    width_mbs: int = 4,
    height_units: int = 3,
    frame_mbs_only: int = 1,
    crop: tuple[int, int, int, int] = (0, 0, 0, 0),
    vui: dict | None = None,
) -> bytes:
    """Encode a seq_parameter_set_rbsp NAL (header 0x67, emulation
    prevention applied) — the SPS fixture generator, exact inverse of
    :func:`decode_sps` for the field subset it emits.  ``vui`` plants
    Annex E fields: ``sar`` (idc int, or (w, h) for Extended_SAR),
    ``video_full_range``/``colour_primaries``/``transfer``/``matrix``,
    and ``num_units_in_tick``/``time_scale``/``fixed_frame_rate``."""
    w = _BitWriter()
    w.u(profile_idc, 8)
    w.u(constraint_flags, 8)
    w.u(level_idc, 8)
    w.ue(sps_id)
    if profile_idc in _HIGH_PROFILES:
        w.ue(chroma_format_idc)
        if chroma_format_idc == 3:
            w.u(0, 1)
        w.ue(bit_depth - 8)
        w.ue(bit_depth - 8)
        w.u(0, 1)  # qpprime_y_zero_transform_bypass_flag
        w.u(0, 1)  # seq_scaling_matrix_present_flag
    w.ue(log2_max_frame_num - 4)
    w.ue(pic_order_cnt_type)
    if pic_order_cnt_type == 0:
        w.ue(log2_max_poc_lsb - 4)
    w.ue(max_num_ref_frames)
    w.u(0, 1)  # gaps_in_frame_num_value_allowed_flag
    w.ue(width_mbs - 1)
    w.ue(height_units - 1)
    w.u(frame_mbs_only, 1)
    if not frame_mbs_only:
        w.u(0, 1)
    w.u(1, 1)  # direct_8x8_inference_flag
    if any(crop):
        w.u(1, 1)
        for c in crop:
            w.ue(c)
    else:
        w.u(0, 1)
    if not vui:
        w.u(0, 1)  # vui_parameters_present_flag
        return bytes([0x67]) + _ep_insert(w.rbsp())
    w.u(1, 1)
    sar = vui.get("sar")
    if sar is None:
        w.u(0, 1)
    else:
        w.u(1, 1)
        if isinstance(sar, tuple):
            w.u(255, 8)
            w.u(sar[0], 16)
            w.u(sar[1], 16)
        else:
            w.u(int(sar), 8)
    w.u(0, 1)  # overscan_info_present_flag
    if "video_full_range" in vui or "colour_primaries" in vui:
        w.u(1, 1)
        w.u(int(vui.get("video_format", 5)), 3)
        w.u(int(vui.get("video_full_range", 0)), 1)
        if "colour_primaries" in vui:
            w.u(1, 1)
            w.u(int(vui["colour_primaries"]), 8)
            w.u(int(vui.get("transfer", 2)), 8)
            w.u(int(vui.get("matrix", 2)), 8)
        else:
            w.u(0, 1)
    else:
        w.u(0, 1)
    w.u(0, 1)  # chroma_loc_info_present_flag
    if "num_units_in_tick" in vui:
        w.u(1, 1)
        w.u(int(vui["num_units_in_tick"]), 32)
        w.u(int(vui["time_scale"]), 32)
        w.u(int(vui.get("fixed_frame_rate", 1)), 1)
    else:
        w.u(0, 1)
    # remaining Annex E presence flags, all absent
    w.u(0, 1)  # nal_hrd_parameters_present_flag
    w.u(0, 1)  # vcl_hrd_parameters_present_flag
    w.u(0, 1)  # pic_struct_present_flag
    w.u(0, 1)  # bitstream_restriction_flag
    return bytes([0x67]) + _ep_insert(w.rbsp())


def _avcc_box(sps_nal: bytes, pps_nal: bytes | None = None) -> bytes:
    """AVCDecoderConfigurationRecord (ISO 14496-15 §5.3.3.1)."""
    if pps_nal is None:
        # minimal but well-formed PPS NAL (id 0 → sps 0, CAVLC)
        pps_nal = bytes([0x68, 0xCE, 0x38, 0x80])
    payload = (
        bytes([1, sps_nal[1], sps_nal[2], sps_nal[3], 0xFF, 0xE1])
        + struct.pack(">H", len(sps_nal))
        + sps_nal
        + bytes([1])
        + struct.pack(">H", len(pps_nal))
        + pps_nal
    )
    return _box(b"avcC", payload)


def _parse_avcc(b: bytes, s: int, e: int) -> dict | None:
    """Parse an avcC payload: decoded first SPS, plus the raw SPS/PPS
    NAL bytes and the NALU length-prefix size — everything the slice
    decoder (operators/h264.py) needs to decode the track's samples."""
    if e - s < 7:
        raise ValueError("corrupt avcC: too short")
    if b[s] != 1:
        raise ValueError("corrupt avcC: configurationVersion != 1")
    length_size = (b[s + 4] & 3) + 1
    n_sps = b[s + 5] & 0x1F
    pos = s + 6
    sps_nal = None
    for _ in range(n_sps):
        if pos + 2 > e:
            raise ValueError("corrupt avcC: SPS length overrun")
        ln = struct.unpack_from(">H", b, pos)[0]
        pos += 2
        if pos + ln > e:
            raise ValueError("corrupt avcC: SPS body overrun")
        if sps_nal is None:
            sps_nal = b[pos : pos + ln]
        pos += ln
    if sps_nal is None:
        return None
    pps_nal = None
    if pos < e:
        n_pps = b[pos]
        pos += 1
        for _ in range(n_pps):
            if pos + 2 > e:
                raise ValueError("corrupt avcC: PPS length overrun")
            ln = struct.unpack_from(">H", b, pos)[0]
            pos += 2
            if pos + ln > e:
                raise ValueError("corrupt avcC: PPS body overrun")
            if pps_nal is None:
                pps_nal = b[pos : pos + ln]
            pos += ln
    return {
        "sps": decode_sps(sps_nal),
        "sps_nal": sps_nal,
        "pps_nal": pps_nal,
        "length_size": length_size,
    }


def _sample_offsets(stbl: dict) -> list[int]:
    """Absolute byte offset of every sample, from the stsc/stco/stsz
    chain: expand the run-length stsc table over the chunk list, then
    walk each chunk's samples accumulating sizes — the demux math every
    real player runs."""
    sizes = stbl["sizes"]
    chunks = stbl["chunk_offsets"]
    stsc = stbl["stsc"]
    if not sizes or not chunks or not stsc:
        return []
    # samples-per-chunk for each chunk (stsc rows are (first_chunk,
    # samples_per_chunk, _) with first_chunk 1-based, last row running
    # to the final chunk)
    spc: list[int] = []
    for i, (first, per, _sdi) in enumerate(stsc):
        last = stsc[i + 1][0] - 1 if i + 1 < len(stsc) else len(chunks)
        spc.extend([per] * (last - first + 1))
    offsets: list[int] = []
    si = 0
    for ci, coff in enumerate(chunks):
        pos = coff
        for _ in range(spc[ci] if ci < len(spc) else 0):
            if si >= len(sizes):
                break
            offsets.append(pos)
            pos += sizes[si]
            si += 1
    if si != len(sizes):
        raise ValueError(
            "corrupt MP4: stsc/stco cover "
            f"{si} samples, stsz declares {len(sizes)}"
        )
    return offsets


def parse_mp4(b: bytes) -> dict:
    """Parse an ISO-BMFF container's metadata: brands, movie
    timescale/duration, and per-track (id, handler, codec, timescale,
    duration, width, height, sample sizes, sample offsets, sync-sample
    list).  Raises ``ValueError`` on structural corruption."""
    if len(b) < 16:
        raise ValueError("corrupt MP4: too short")
    out: dict = {
        "major_brand": None,
        "compatible": [],
        "timescale": None,
        "duration": None,
        "tracks": [],
    }
    moov = None
    for t, s, e in _iter_boxes(b, 0, len(b)):
        if t == b"ftyp":
            out["major_brand"] = b[s : s + 4].decode("ascii", "replace")
            out["compatible"] = [
                b[i : i + 4].decode("ascii", "replace")
                for i in range(s + 8, e, 4)
            ]
        elif t == b"moov":
            moov = (s, e)
    if moov is None:
        raise ValueError("corrupt MP4: no moov box")
    ms, me = moov
    for t, s, e in _iter_boxes(b, ms, me):
        if t == b"mvhd":
            v, _ = _full_box(b, s)
            if v == 1:
                out["timescale"] = struct.unpack_from(">I", b, s + 20)[0]
                out["duration"] = struct.unpack_from(">Q", b, s + 24)[0]
            else:
                out["timescale"], out["duration"] = struct.unpack_from(
                    ">II", b, s + 12
                )
        elif t == b"trak":
            out["tracks"].append(_parse_trak(b, s, e))
    return out


def _parse_trak(b: bytes, s: int, e: int) -> dict:
    tr: dict = {
        "track_id": None,
        "handler": None,
        "codec": None,
        "timescale": None,
        "duration": None,
        "width": 0,
        "height": 0,
    }
    stbl: dict = {}
    for t, bs, be in _iter_boxes(b, s, e):
        if t == b"tkhd":
            v, _ = _full_box(b, bs)
            if v == 1:
                tr["track_id"] = struct.unpack_from(">I", b, bs + 20)[0]
            else:
                tr["track_id"] = struct.unpack_from(">I", b, bs + 12)[0]
            # width/height are the LAST two 16.16 fields of the payload
            tr["width"] = struct.unpack_from(">I", b, be - 8)[0] >> 16
            tr["height"] = struct.unpack_from(">I", b, be - 4)[0] >> 16
        elif t == b"mdia":
            for t2, cs, ce in _iter_boxes(b, bs, be):
                if t2 == b"mdhd":
                    v, _ = _full_box(b, cs)
                    if v == 1:
                        tr["timescale"] = struct.unpack_from(
                            ">I", b, cs + 20
                        )[0]
                        tr["duration"] = struct.unpack_from(
                            ">Q", b, cs + 24
                        )[0]
                    else:
                        tr["timescale"], tr["duration"] = (
                            struct.unpack_from(">II", b, cs + 12)
                        )
                elif t2 == b"hdlr":
                    tr["handler"] = b[cs + 8 : cs + 12].decode(
                        "ascii", "replace"
                    )
                elif t2 == b"minf":
                    st = _find(b, cs, ce, b"stbl")
                    if st is not None:
                        stbl = _parse_stbl(b, st[0], st[1])
    tr["codec"] = stbl.get("codec")
    tr["entry_width"] = stbl.get("entry_width", 0)
    tr["entry_height"] = stbl.get("entry_height", 0)
    tr["sps"] = stbl.get("sps")
    tr["avcc"] = stbl.get("avcc")
    tr["sizes"] = stbl.get("sizes", [])
    tr["n_samples"] = stbl.get("n_samples", 0)
    tr["offsets"] = _sample_offsets(stbl) if stbl else []
    # stss absent => every sample is a sync sample (ISO 14496-12 §8.6.2)
    sync = stbl.get("sync")
    tr["sync"] = (
        sync
        if sync is not None
        else list(range(1, tr["n_samples"] + 1))
    )
    return tr


# ------------------------------------------------------------ operators


def demux_mp4(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per TRACK: (id, major_brand, movie_timescale,
    movie_duration, track_id, handler, codec, timescale, duration,
    n_samples, n_sync, total_sample_bytes, width, height).

    Scan-side ``flat_map`` — no shuffle; the fan-out is bounded by the
    track count (two or three in practice)."""
    schema = (
        f"{id_col} long, major_brand string, movie_timescale long, "
        "movie_duration long, track_id long, handler string, "
        "codec string, timescale long, duration long, n_samples long, "
        "n_sync long, total_sample_bytes long, width long, height long"
    )


    def _demux(rid, payload):
        meta = parse_mp4(payload or b"")
        return [
            (
                rid, meta["major_brand"], meta["timescale"],
                meta["duration"], tr["track_id"], tr["handler"],
                tr["codec"], tr["timescale"], tr["duration"],
                tr["n_samples"], len(tr["sync"]), sum(tr["sizes"]),
                tr["width"], tr["height"],
            )
            for tr in meta["tracks"]
        ]

    return flat_map(df, [id_col, bin_col], schema, _demux)


def mp4_keyframe_slices(
    df: DataFrame,
    every_nth: int = 1,
    max_frames: int = 16,
    bin_col: str = "content",
    id_col: str = "doc_id",
    handler: str = "vide",
) -> DataFrame:
    """One row per sampled SYNC sample of each ``handler`` track:
    (id, track_id, sample_idx [1-based], byte_offset, size, frame) —
    ``frame`` is the ACTUAL payload slice out of ``mdat`` at the
    stsc/stco/stsz-derived offset, so downstream stages (hashing,
    near-dup, external codec workers) operate on real frame bytes.
    ``every_nth`` strides the sync-sample list; ``max_frames`` bounds
    the per-track fan-out (the 100 TB cap — a pathological stss cannot
    explode one row into millions)."""
    schema = (
        f"{id_col} long, track_id long, sample_idx long, "
        "byte_offset long, size long, frame binary"
    )


    def _slices(rid, payload):
        raw = payload or b""
        for tr in parse_mp4(raw)["tracks"]:
            if tr["handler"] != handler:
                continue
            n_samples = len(tr["sizes"])
            for snum in tr["sync"][::every_nth][:max_frames]:
                if not 1 <= snum <= n_samples:
                    raise ValueError(
                        "corrupt MP4: stss sample number "
                        f"{snum} > sample count {n_samples}"
                    )
                off = tr["offsets"][snum - 1]
                size = tr["sizes"][snum - 1]
                if off + size > len(raw):
                    raise ValueError(
                        "corrupt MP4: sample extends past "
                        f"end of file ({off}+{size} > {len(raw)})"
                    )
                yield (
                    rid, tr["track_id"], snum, off, size,
                    raw[off : off + size],
                )

    return flat_map(df, [id_col, bin_col], schema, _slices)


def mp4_sps_params(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per AVC track whose ``stsd`` carries an avcC box: the
    SPS-derived BITSTREAM facts (profile/level, chroma format, bit
    depth, coded width/height after cropping) next to the container's
    advisory sample-entry dims — geometry from the stream itself, not
    the box metadata (the two legitimately disagree when an encoder
    writes display dims into tkhd/stsd).  Scan-side ``flat_map``,
    zero shuffles, same shape as :func:`demux_mp4`.

    Reference parity note: the reference pipeline has no media tier at
    all; this extends the engine's multimodal catalog (SURVEY.md
    training-data extensions) using only public specs (ISO 14496-15,
    ITU-T H.264 §7.3.2.1)."""
    schema = (
        f"{id_col} long, track_id long, codec string, "
        "entry_width int, entry_height int, "
        "profile_idc int, constraint_flags int, level_idc int, "
        "chroma_format_idc int, bit_depth_luma int, "
        "coded_width int, coded_height int, frame_mbs_only int, "
        "max_num_ref_frames int, log2_max_frame_num int, "
        "pic_order_cnt_type int"
    )


    def _sps(rid, payload):
        for tr in parse_mp4(payload or b"")["tracks"]:
            sps = tr.get("sps")
            if sps is None:
                continue
            yield (
                rid, tr["track_id"], tr["codec"],
                tr["entry_width"], tr["entry_height"],
                sps["profile_idc"], sps["constraint_flags"],
                sps["level_idc"], sps["chroma_format_idc"],
                sps["bit_depth_luma"], sps["coded_width"],
                sps["coded_height"], sps["frame_mbs_only"],
                sps["max_num_ref_frames"], sps["log2_max_frame_num"],
                sps["pic_order_cnt_type"],
            )

    return flat_map(df, [id_col, bin_col], schema, _sps)


def mp4_vui_params(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """One row per AVC track: the VUI (Annex E) catalog facts — sample
    aspect ratio, signal range/colour primaries, and the frame-rate
    clock as an exact rational (``fps_num``/``fps_den`` =
    time_scale / 2*num_units_in_tick for frame-coded streams; floats
    never enter the plan).  NULL columns when the SPS carries no VUI
    or omits a group — absence is data, not an error.  Scan-side
    ``flat_map``, zero shuffles (the q246 shape)."""
    schema = (
        f"{id_col} long, track_id long, sar_width int, sar_height int, "
        "video_full_range int, colour_primaries int, "
        "fps_num long, fps_den long, fixed_frame_rate int"
    )

    def _vui(rid, payload):
        for tr in parse_mp4(payload or b"")["tracks"]:
            sps = tr.get("sps")
            if sps is None:
                continue
            nuit = sps.get("num_units_in_tick")
            yield (
                rid,
                tr["track_id"],
                sps.get("sar_width"),
                sps.get("sar_height"),
                sps.get("video_full_range"),
                sps.get("colour_primaries"),
                sps.get("time_scale"),
                2 * nuit if nuit is not None else None,
                sps.get("fixed_frame_rate"),
            )

    return flat_map(df, [id_col, bin_col], schema, _vui)


# ------------------------------------------------------ fixture encoder


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", (version << 24) | flags) + payload)


_UNITY_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def encode_mp4_fixture(
    tracks: list[dict],
    movie_timescale: int = 1000,
) -> bytes:
    """Synthesize a structurally valid single-``mdat`` MP4 from chosen
    parameters — the oracle fixture generator (q217's pattern).  Each
    track dict: ``handler`` ('vide'/'soun'), ``codec`` (fourcc str),
    ``timescale``, ``sample_delta``, ``sizes`` (per-sample byte sizes),
    ``sync`` (1-based keyframe list, or None for no stss box = all
    sync), ``width``/``height`` (ints, video only).  Sample payload
    bytes are ``(doc-chosen) size`` copies of the track index — content
    is irrelevant to the container layer; callers wanting meaningful
    frame bytes pass them via ``payloads`` (list of bytes per sample).

    Every box size is a closed-form function of the parameters, so a
    DuckDB oracle can replay byte offsets exactly (q233)."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp42")
    movie_duration = max(
        (
            (len(t["sizes"]) * t["sample_delta"] * movie_timescale)
            // t["timescale"]
            for t in tracks
        ),
        default=0,
    )
    mvhd = _full(
        b"mvhd",
        0,
        0,
        struct.pack(">II", 0, 0)
        + struct.pack(">II", movie_timescale, movie_duration)
        + struct.pack(">IHH", 0x00010000, 0x0100, 0)
        + b"\0" * 8
        + _UNITY_MATRIX
        + b"\0" * 24
        + struct.pack(">I", len(tracks) + 1),
    )

    # Build each track's boxes with a PLACEHOLDER chunk offset, then
    # patch stco once the total header length is known (single mdat,
    # one chunk per track, track payloads concatenated in order).
    def trak_bytes(ti: int, t: dict, chunk_off: int) -> bytes:
        n = len(t["sizes"])
        duration = n * t["sample_delta"]
        tk_dur = (duration * movie_timescale) // t["timescale"]
        tkhd = _full(
            b"tkhd",
            0,
            7,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", ti + 1, 0)
            + struct.pack(">I", tk_dur)
            + b"\0" * 8
            + struct.pack(">HHHH", 0, 0, 0x0100 if t["handler"] == "soun" else 0, 0)
            + _UNITY_MATRIX
            + struct.pack(
                ">II",
                int(t.get("width", 0)) << 16,
                int(t.get("height", 0)) << 16,
            ),
        )
        mdhd = _full(
            b"mdhd",
            0,
            0,
            struct.pack(">II", 0, 0)
            + struct.pack(">II", t["timescale"], duration)
            + struct.pack(">HH", 0x55C4, 0),  # language 'und'
        )
        hdlr = _full(
            b"hdlr",
            0,
            0,
            struct.pack(">I", 0)
            + t["handler"].encode("ascii")
            + b"\0" * 12
            + b"SparkGraft\0",
        )
        sps_cfg = t.get("sps")
        if sps_cfg:
            # full VisualSampleEntry (ISO 14496-12 §12.1.3) + avcC child;
            # sps may be a config dict (encode_sps kwargs) or raw NAL
            # bytes; an optional "pps_nal" plants a specific PPS (the
            # h264 fixture path needs deblocking_filter_control_present)
            sps_nal = (
                sps_cfg
                if isinstance(sps_cfg, (bytes, bytearray))
                else encode_sps(**sps_cfg)
            )
            avcc = _avcc_box(bytes(sps_nal), t.get("pps_nal"))
            entry = (
                struct.pack(">I", 86 + len(avcc))
                + t["codec"].encode("ascii")
                + b"\0" * 6
                + struct.pack(">H", 1)  # data_reference_index
                + b"\0" * 16  # pre_defined/reserved
                + struct.pack(">HH", t.get("width", 0), t.get("height", 0))
                + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
                + b"\0" * 4
                + struct.pack(">H", 1)  # frame_count
                + b"\0" * 32  # compressorname
                + struct.pack(">Hh", 24, -1)  # depth, pre_defined
                + avcc
            )
        else:
            entry = (
                struct.pack(">I", 16)
                + t["codec"].encode("ascii")
                + b"\0" * 6
                + struct.pack(">H", 1)
            )
        stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        stts = _full(
            b"stts", 0, 0,
            struct.pack(">III", 1, n, t["sample_delta"]),
        )
        stsz = _full(
            b"stsz", 0, 0,
            struct.pack(">II", 0, n)
            + struct.pack(f">{n}I", *t["sizes"]),
        )
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
        stco = _full(b"stco", 0, 0, struct.pack(">II", 1, chunk_off))
        sync = t.get("sync")
        stss = (
            b""
            if sync is None
            else _full(
                b"stss", 0, 0,
                struct.pack(f">I{len(sync)}I", len(sync), *sync),
            )
        )
        stbl = _box(b"stbl", stsd + stts + stss + stsz + stsc + stco)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    # Two passes: sizes don't depend on the chunk offset value (stco is
    # fixed-width), so pass 1 with offset 0 measures, pass 2 patches.
    probe = b"".join(trak_bytes(i, t, 0) for i, t in enumerate(tracks))
    moov_size = 8 + len(mvhd) + len(probe)
    mdat_data_start = len(ftyp) + moov_size + 8
    offs = []
    pos = mdat_data_start
    for t in tracks:
        offs.append(pos)
        pos += sum(t["sizes"])
    traks = b"".join(
        trak_bytes(i, t, offs[i]) for i, t in enumerate(tracks)
    )
    moov = _box(b"moov", mvhd + traks)
    payload = bytearray()
    for ti, t in enumerate(tracks):
        pl = t.get("payloads")
        if pl is not None:
            for i, sz in enumerate(t["sizes"]):
                if len(pl[i]) != sz:
                    raise ValueError("payload size mismatch")
                payload += pl[i]
        else:
            for sz in t["sizes"]:
                payload += bytes([ti + 1]) * sz
    mdat = _box(b"mdat", bytes(payload))
    return ftyp + moov + mdat

"""ISO-BMFF container demux (operators/video.py): fixture-encoder ↔
parser roundtrips, the generalized stsc/stco sample-offset walk,
version-1 / largesize / co64 box forms, corruption contracts, and the
Spark operators (demux_mp4, mp4_keyframe_slices)."""

from __future__ import annotations

import struct

import pytest

from occupation_wage_etl_spark.operators import video as V


def _video_track(sizes, sync, width=64, height=48):
    return {
        "handler": "vide",
        "codec": "avc1",
        "timescale": 600,
        "sample_delta": 100,
        "sizes": sizes,
        "sync": sync,
        "width": width,
        "height": height,
    }


def test_roundtrip_single_video_track():
    data = V.encode_mp4_fixture([_video_track([20, 21, 22], [1, 3])])
    meta = V.parse_mp4(data)
    assert meta["major_brand"] == "isom"
    assert meta["compatible"] == ["isom", "mp42"]
    assert meta["timescale"] == 1000
    assert meta["duration"] == (3 * 100 * 1000) // 600
    (tr,) = meta["tracks"]
    assert tr["track_id"] == 1
    assert tr["handler"] == "vide"
    assert tr["codec"] == "avc1"
    assert (tr["timescale"], tr["duration"]) == (600, 300)
    assert (tr["width"], tr["height"]) == (64, 48)
    assert tr["sizes"] == [20, 21, 22]
    assert tr["sync"] == [1, 3]
    # single chunk: offsets are data_start + prefix sums of sizes
    d0 = tr["offsets"][0]
    assert tr["offsets"] == [d0, d0 + 20, d0 + 41]
    # the first sample's slice is inside mdat and has the right bytes
    assert data[d0 : d0 + 20] == bytes([1]) * 20


def test_roundtrip_two_tracks_audio_all_sync():
    data = V.encode_mp4_fixture(
        [
            _video_track([20, 20], [1]),
            {
                "handler": "soun",
                "codec": "mp4a",
                "timescale": 8000,
                "sample_delta": 1024,
                "sizes": [10, 11, 12],
                "sync": None,  # no stss box => every sample is sync
            },
        ]
    )
    meta = V.parse_mp4(data)
    vid, aud = meta["tracks"]
    assert (vid["track_id"], aud["track_id"]) == (1, 2)
    assert aud["handler"] == "soun"
    assert aud["codec"] == "mp4a"
    assert aud["sync"] == [1, 2, 3]
    # audio chunk starts where the video payload ends
    assert aud["offsets"][0] == vid["offsets"][0] + 40
    # movie duration is the max across tracks in movie timescale
    assert meta["duration"] == max(
        (2 * 100 * 1000) // 600, (3 * 1024 * 1000) // 8000
    )


def test_custom_payloads_slice_exactly():
    payloads = [bytes([7]) * 20, bytes([9]) * 25]
    data = V.encode_mp4_fixture(
        [dict(_video_track([20, 25], [2]), payloads=payloads)]
    )
    (tr,) = V.parse_mp4(data)["tracks"]
    off, sz = tr["offsets"][1], tr["sizes"][1]
    assert data[off : off + sz] == payloads[1]


def test_stsc_multi_chunk_walk():
    # stsc runs: chunks 1-2 hold 2 samples each, chunk 3 holds 1 ->
    # 5 samples over 3 chunks at hand-placed offsets
    stbl = {
        "sizes": [5, 6, 7, 8, 9],
        "chunk_offsets": [100, 200, 300],
        "stsc": [(1, 2, 1), (3, 1, 1)],
        "sync": None,
        "n_samples": 5,
    }
    assert V._sample_offsets(stbl) == [100, 105, 200, 207, 300]


def test_stsc_declared_count_mismatch_raises():
    stbl = {
        "sizes": [5, 6, 7],
        "chunk_offsets": [100],
        "stsc": [(1, 2, 1)],  # covers 2 samples, stsz declares 3
        "sync": None,
        "n_samples": 3,
    }
    with pytest.raises(ValueError, match="corrupt MP4"):
        V._sample_offsets(stbl)


def test_version1_boxes_and_co64():
    # hand-build moov with v1 mvhd/tkhd/mdhd and a co64 chunk table —
    # the 64-bit forms the fixture encoder doesn't emit
    mvhd = V._full(
        b"mvhd", 1, 0,
        struct.pack(">QQ", 0, 0) + struct.pack(">I", 90000)
        + struct.pack(">Q", 123456) + b"\0" * 80,
    )
    tkhd = V._full(
        b"tkhd", 1, 7,
        struct.pack(">QQ", 0, 0) + struct.pack(">I", 9)
        + b"\0" * 4 + struct.pack(">Q", 0) + b"\0" * 52
        + struct.pack(">II", 320 << 16, 200 << 16),
    )
    mdhd = V._full(
        b"mdhd", 1, 0,
        struct.pack(">QQ", 0, 0) + struct.pack(">I", 48000)
        + struct.pack(">Q", 4096) + struct.pack(">HH", 0x55C4, 0),
    )
    hdlr = V._full(
        b"hdlr", 0, 0,
        struct.pack(">I", 0) + b"vide" + b"\0" * 12 + b"X\0",
    )
    stsd = V._full(
        b"stsd", 0, 0,
        struct.pack(">I", 1)
        + struct.pack(">I", 16) + b"hvc1" + b"\0" * 6 + struct.pack(">H", 1),
    )
    stts = V._full(b"stts", 0, 0, struct.pack(">III", 1, 2, 2048))
    stsz = V._full(b"stsz", 0, 0, struct.pack(">IIII", 0, 2, 30, 31))
    stsc = V._full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 2, 1))
    co64 = V._full(b"co64", 0, 0, struct.pack(">IQ", 1, 1 << 33))
    stbl = V._box(b"stbl", stsd + stts + stsz + stsc + co64)
    minf = V._box(b"minf", stbl)
    mdia = V._box(b"mdia", mdhd + hdlr + minf)
    trak = V._box(b"trak", tkhd + mdia)
    moov = V._box(b"moov", mvhd + trak)
    ftyp = V._box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    meta = V.parse_mp4(ftyp + moov)
    assert (meta["timescale"], meta["duration"]) == (90000, 123456)
    (tr,) = meta["tracks"]
    assert tr["track_id"] == 9
    assert (tr["width"], tr["height"]) == (320, 200)
    assert (tr["timescale"], tr["duration"]) == (48000, 4096)
    assert tr["codec"] == "hvc1"
    assert tr["offsets"] == [1 << 33, (1 << 33) + 30]


def test_largesize_box_header():
    inner = V._box(b"free", b"x" * 4)
    big = struct.pack(">I", 1) + b"skip" + struct.pack(">Q", 16 + len(inner)) + inner
    got = list(V._iter_boxes(big, 0, len(big)))
    assert got[0][0] == b"skip"
    assert big[got[0][1] : got[0][2]] == inner


def test_corrupt_overrun_and_missing_moov_raise():
    data = V.encode_mp4_fixture([_video_track([20], [1])])
    # truncating mid-moov makes a child box overrun its container
    with pytest.raises(ValueError, match="corrupt MP4"):
        V.parse_mp4(data[: len(data) // 2])
    with pytest.raises(ValueError, match="no moov"):
        V.parse_mp4(V._box(b"ftyp", b"isom" + b"\0" * 4 + b"isom") + V._box(b"free", b""))


def test_demux_mp4_operator(spark):
    rows = [
        (1, V.encode_mp4_fixture([_video_track([20, 21, 22], [1, 3])])),
        (
            2,
            V.encode_mp4_fixture(
                [
                    _video_track([20, 20], [1]),
                    {
                        "handler": "soun",
                        "codec": "mp4a",
                        "timescale": 8000,
                        "sample_delta": 1024,
                        "sizes": [10, 11],
                        "sync": None,
                    },
                ]
            ),
        ),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {
        (r["doc_id"], r["track_id"]): r
        for r in V.demux_mp4(df).collect()
    }
    assert set(got) == {(1, 1), (2, 1), (2, 2)}
    assert got[(1, 1)]["n_samples"] == 3
    assert got[(1, 1)]["n_sync"] == 2
    assert got[(1, 1)]["total_sample_bytes"] == 63
    assert got[(2, 2)]["handler"] == "soun"
    assert got[(2, 2)]["n_sync"] == 2
    assert got[(2, 2)]["width"] == 0


def test_keyframe_slices_and_sample_frames_mp4(spark):
    payloads = [bytes([i + 1]) * (20 + i) for i in range(4)]
    data = V.encode_mp4_fixture(
        [dict(_video_track([20, 21, 22, 23], [1, 3, 4]), payloads=payloads)]
    )
    df = spark.createDataFrame([(5, data)], "doc_id long, content binary")
    out = V.mp4_keyframe_slices(df).orderBy("sample_idx").collect()
    assert [r["sample_idx"] for r in out] == [1, 3, 4]
    for r in out:
        assert bytes(r["frame"]) == payloads[r["sample_idx"] - 1]
        assert r["size"] == len(payloads[r["sample_idx"] - 1])
    # every_nth / max_frames bound the fan-out
    two = V.mp4_keyframe_slices(df, every_nth=2).collect()
    assert sorted(r["sample_idx"] for r in two) == [1, 4]
    one = V.mp4_keyframe_slices(df, max_frames=1).collect()
    assert [r["sample_idx"] for r in one] == [1]


# ----------------------------------------------------- SPS (round 8)


def test_sps_round_trip_baseline_and_high():
    for cfg, w, h in [
        (dict(profile_idc=66, level_idc=30, width_mbs=4, height_units=3),
         64, 48),
        (dict(profile_idc=100, level_idc=41, width_mbs=8, height_units=5,
              crop=(0, 1, 0, 1), max_num_ref_frames=3), 126, 78),
        # 1920x1080: 120x68 MBs with 8-line bottom crop (4 crop units)
        (dict(profile_idc=77, level_idc=40, width_mbs=120, height_units=68,
              crop=(0, 0, 0, 4), pic_order_cnt_type=2), 1920, 1080),
    ]:
        d = V.decode_sps(V.encode_sps(**cfg))
        assert (d["coded_width"], d["coded_height"]) == (w, h)
        assert d["profile_idc"] == cfg["profile_idc"]
        assert d["level_idc"] == cfg["level_idc"]
        assert d["chroma_format_idc"] == 1
        assert d["bit_depth_luma"] == 8


def test_sps_emulation_prevention_round_trip():
    raw = bytes([0, 0, 0, 0, 1, 2, 3, 0, 0, 2, 0, 0, 0])
    ep = V._ep_insert(raw)
    assert b"\x00\x00\x00" not in ep[:-1]  # no unescaped runs
    assert V._ep_strip(ep) == raw


def test_sps_corruption_raises():
    nal = V.encode_sps(profile_idc=66, width_mbs=4, height_units=3)
    with pytest.raises(ValueError, match="not an SPS NAL"):
        V.decode_sps(bytes([0x68]) + nal[1:])
    with pytest.raises(ValueError, match="corrupt SPS"):
        V.decode_sps(nal[:4])  # truncated mid-bitstream


def test_container_sps_vs_advisory_dims(spark):
    # advisory stsd dims differ from SPS coded dims: the operator must
    # report both, geometry from the bitstream
    data = V.encode_mp4_fixture(
        [
            dict(
                handler="vide", codec="avc1", timescale=600,
                sample_delta=100, sizes=[20], sync=[1],
                width=32, height=24,
                sps=dict(profile_idc=100, level_idc=40, width_mbs=5,
                         height_units=4, crop=(0, 1, 0, 1)),
            )
        ]
    )
    df = spark.createDataFrame([(9, data)], "doc_id long, content binary")
    rows = V.mp4_sps_params(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["entry_width"], r["entry_height"]) == (32, 24)
    assert (r["coded_width"], r["coded_height"]) == (78, 62)
    assert r["profile_idc"] == 100
    # non-avc tracks yield no SPS rows
    plain = V.encode_mp4_fixture(
        [dict(_video_track([20], [1]))]
    )
    df2 = spark.createDataFrame([(1, plain)], "doc_id long, content binary")
    assert V.mp4_sps_params(df2).count() == 0


def test_vui_round_trip_all_groups():
    from occupation_wage_etl_spark.operators.video import (
        decode_sps,
        encode_sps,
    )

    # Extended_SAR + timing + full signal description
    sps = decode_sps(
        encode_sps(
            width_mbs=4,
            height_units=3,
            vui={
                "sar": (37, 21),
                "num_units_in_tick": 1001,
                "time_scale": 60000,
                "fixed_frame_rate": 1,
                "video_full_range": 1,
                "colour_primaries": 9,
                "transfer": 16,
                "matrix": 9,
            },
        )
    )
    assert (sps["sar_width"], sps["sar_height"]) == (37, 21)
    assert sps["num_units_in_tick"] == 1001
    assert sps["time_scale"] == 60000
    assert sps["fixed_frame_rate"] == 1
    assert sps["video_full_range"] == 1
    assert sps["colour_primaries"] == 9
    assert sps["transfer_characteristics"] == 16
    # table idc path: idc 2 -> 12:11
    sps = decode_sps(
        encode_sps(width_mbs=4, height_units=3, vui={"sar": 2})
    )
    assert (sps["sar_width"], sps["sar_height"]) == (12, 11)
    assert "time_scale" not in sps
    # no VUI at all: keys absent, flag 0
    sps = decode_sps(encode_sps(width_mbs=4, height_units=3))
    assert sps["vui_present"] == 0 and "sar_width" not in sps


def test_vui_reserved_sar_idc_is_unspecified_not_error():
    # Annex E: reserved aspect_ratio_idc 17..254 shall be treated as
    # unspecified — SAR keys unset, no raise, rest of the VUI still parses
    sps = V.decode_sps(
        V.encode_sps(
            width_mbs=4,
            height_units=3,
            vui={"sar": 100, "num_units_in_tick": 1, "time_scale": 50},
        )
    )
    assert "sar_width" not in sps and "sar_height" not in sps
    assert sps["time_scale"] == 50


def test_sps_log2_max_poc_lsb_surfaced_and_slice_header_honors_it():
    # decode_sps must emit the real log2_max_pic_order_cnt_lsb (minus4+4),
    # not assume 4 — a poc_type-0 stream with minus4 != 0 mis-parses the
    # whole slice header otherwise
    sps = V.decode_sps(
        V.encode_sps(width_mbs=4, height_units=3, log2_max_poc_lsb=8)
    )
    assert sps["log2_max_poc_lsb"] == 8
    # poc_type 2 has no poc_lsb field at all
    sps2 = V.decode_sps(
        V.encode_sps(width_mbs=4, height_units=3, pic_order_cnt_type=2)
    )
    assert sps2["log2_max_poc_lsb"] is None
    # slice header: hand-build an IDR I-slice header with an 8-bit
    # pic_order_cnt_lsb and check _parse_slice_header lands on the
    # correct slice_qp_delta (it would desync with an assumed 4)
    from occupation_wage_etl_spark.operators import h264

    pps = h264.decode_pps(h264.encode_pps())
    w = h264._BitWriter()
    w.ue(0)  # first_mb_in_slice
    w.ue(7)  # slice_type I
    w.ue(pps["pps_id"])
    w.u(0, sps["log2_max_frame_num"])  # frame_num
    w.ue(0)  # idr_pic_id
    w.u(0b10101010, 8)  # pic_order_cnt_lsb, 8 bits (nonzero pattern)
    w.u(0, 1)  # no_output_of_prior_pics_flag
    w.u(0, 1)  # long_term_reference_flag
    w.se(3)  # slice_qp_delta
    w.ue(1)  # disable_deblocking_filter_idc = 1
    nal = bytes([0x65]) + h264._ep_insert(w.rbsp())
    _, first_mb, qp = h264._parse_slice_header(sps, pps, nal)
    assert first_mb == 0
    assert qp == pps["pic_init_qp"] + 3

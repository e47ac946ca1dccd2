"""H.264 intra tier (operators/h264.py): CAVLC tables and entropy
layer, transforms, prediction modes, I_PCM, and the MP4 end-to-end
path.

Verification strategy (three independent legs, as for JPEG):
1. published worked example — the Richardson CAVLC block round-trips
   to the exact published bitstring against the nC<2 table;
2. machine checks — every VLC table prefix-free, Kraft sums sane;
3. closed forms — hand-computed §8.5/§8.3 arithmetic for each
   prediction mode and both DC-scaling branches, independent of the
   decoder code paths.
"""

from __future__ import annotations

import random

import pytest

from occupation_wage_etl_spark.operators import h264
from occupation_wage_etl_spark.operators.video import decode_sps, parse_mp4


# ---------------------------------------------------------------- tables


def _codes_of(table):
    if isinstance(table, dict) and all(
        isinstance(k, tuple) for k in table
    ):
        return list(table.values())
    return list(table)


@pytest.mark.parametrize(
    "name",
    ["_CT_NC0", "_CT_NC2", "_CT_NC4", "_CT_CDC"],
)
def test_coeff_token_tables_prefix_free(name):
    codes = _codes_of(getattr(h264, name))
    assert len(set(codes)) == len(codes)
    for a in codes:
        for b in codes:
            if a is not b:
                assert not b.startswith(a) or a == b, (name, a, b)
    kraft = sum(2.0 ** -len(c) for c in codes)
    assert kraft <= 1.0 + 1e-12, (name, kraft)


def test_total_zeros_and_run_tables_prefix_free():
    for tc, codes in {**h264._TZ4, **{100 + k: v for k, v in h264._TZC.items()}}.items():
        for i, a in enumerate(codes):
            for j, b in enumerate(codes):
                if i != j:
                    assert not b.startswith(a), (tc, a, b)
        assert sum(2.0 ** -len(c) for c in codes) <= 1.0 + 1e-12
    for zl, codes in h264._RUN.items():
        for i, a in enumerate(codes):
            for j, b in enumerate(codes):
                if i != j:
                    assert not b.startswith(a), (zl, a, b)


def test_chroma_dc_coeff_token_kraft_complete():
    # Table 9-5's nC==-1 column is a complete code (Kraft sum exactly 1)
    kraft = sum(2.0 ** -len(c) for c in h264._CT_CDC.values())
    assert abs(kraft - 1.0) < 1e-12


# ------------------------------------------------- published CAVLC vector


def test_richardson_published_cavlc_example():
    """Richardson 'H.264 and MPEG-4 Video Compression' §6.4.13:
    4x4 block [[0,3,-1,0],[0,-1,1,0],[1,0,0,0],[0,0,0,0]] encodes to
    000010001110010111101101 with nC=0 — validates coeff_token(5,3),
    level coding, total_zeros(tc=5, tz=3) and run_before transcription
    against the public literature, not just self-consistency."""
    raster = [[0, 3, -1, 0], [0, -1, 1, 0], [1, 0, 0, 0], [0, 0, 0, 0]]
    scan = [
        raster[h264._ZIGZAG4[k] >> 2][h264._ZIGZAG4[k] & 3]
        for k in range(16)
    ]
    w = h264._BitWriter()
    tc = h264._encode_residual(w, scan, 0, 16)
    assert tc == 5
    assert "".join(map(str, w.bits)) == "000010001110010111101101"
    r = h264._BitReader(w.rbsp())
    back, tc2 = h264._decode_residual(r, 0, 16)
    assert back == scan and tc2 == 5


def test_cavlc_suffixlen0_escape_levelcode_offset():
    """H.264 §9.2.2.1: at suffixLength 0 the level_prefix>=15 escape carries
    levelCode - 30 (the 14-prefix branch tops out at levelCode 29), i.e.
    levelCode gets +15 on top of the 15<<0 base.  First coded level
    |level| >= 17 (levelCode >= 30 after the t1<3 first-level -2) must hit
    the escape and round-trip; |level| == 16 stays in the 14-prefix branch."""
    for level in (16, 17, -17, 100, 2064):
        block = [level] + [0] * 15
        w = h264._BitWriter()
        tc = h264._encode_residual(w, block, 0, 16)
        assert tc == 1
        tok = h264._BitWriter()
        h264._write_coeff_token(tok, 0, 1, 0)
        bits = "".join(map(str, w.bits))[len(tok.bits) :]
        r = h264._BitReader(w.rbsp())
        back, _ = h264._decode_residual(r, 0, 16)
        assert back == block, (level, back)
        if abs(level) >= 17:
            # escape: 15 zeros, stop bit, then a 12-bit suffix = levelCode-30
            assert bits.startswith("0" * 15 + "1"), (level, bits)
            level_code = (2 * level - 2 if level > 0 else -2 * level - 1) - 2
            assert bits[16:28] == format(level_code - 30, "012b"), (
                level,
                bits,
            )
        else:
            assert bits.startswith("0" * 14 + "1"), (level, bits)


# ------------------------------------------------------ residual round-trip


def test_residual_round_trip_all_contexts():
    rng = random.Random(42)
    tried = 0
    for _ in range(1500):
        max_coeff = rng.choice([4, 15, 16])
        nc = -1 if max_coeff == 4 else rng.choice([0, 1, 2, 3, 4, 7, 8, 16])
        block = [0] * max_coeff
        dens = rng.choice([0.1, 0.4, 1.0])
        maxlvl = rng.choice([1, 3, 40, 2000])
        for i in range(max_coeff):
            if rng.random() < dens:
                v = 0
                while v == 0:
                    v = rng.randint(-maxlvl, maxlvl)
                block[i] = v
        w = h264._BitWriter()
        h264._encode_residual(w, block, nc, max_coeff)
        tried += 1
        r = h264._BitReader(w.rbsp())
        back, _ = h264._decode_residual(r, nc, max_coeff)
        assert back == block, (nc, max_coeff, block, back)
    assert tried == 1500


# ------------------------------------------------------------ closed forms


def _decode(mbs, wm, hm, qp=28, chroma_qp_offset=0):
    sample, sps_nal, pps_nal = h264.encode_idr_access_unit(
        wm, hm, mbs, qp=qp, chroma_qp_offset=chroma_qp_offset
    )
    sps = decode_sps(sps_nal)
    pps = h264.decode_pps(pps_nal)
    return h264.decode_idr_slice(sps, pps, sample[4:])


def test_dc_only_flat_frame_closed_form():
    # qp 28: dcY = f*V0(4)=16 << 2 = f*64; pixel = 128 + (64f+32>>6)
    for lvl, expect in [(5, 133), (0, 128), (-5, 123), (31, 159)]:
        dec = _decode([{"mode": 2, "luma_dc": {0: lvl}}], 1, 1, qp=28)
        vals = {v for row in dec["y"] for v in row}
        assert vals == {expect}, (lvl, vals)
        # no chroma residual: DC pred 128 everywhere
        assert {v for row in dec["cb"] for v in row} == {128}


def test_low_qp_dc_rounding_branch():
    # qp 10 (< 12): qp//6=1, dcY = (f*V0(4%6=4)=16 + 1) >> 1
    dec = _decode([{"mode": 2, "luma_dc": {0: 3}}], 1, 1, qp=10)
    # Hadamard: f = 3 everywhere; dc = (3*16 + 1) >> 1 = 24
    # residual = (24+32)>>6 = 0 ... pixel = 128
    assert {v for row in dec["y"] for v in row} == {128}
    dec = _decode([{"mode": 2, "luma_dc": {0: 9}}], 1, 1, qp=10)
    # dc = (9*16+1)>>1 = 72 -> (72+32)>>6 = 1 -> 129
    assert {v for row in dec["y"] for v in row} == {129}


def test_vertical_ac_pattern_closed_form():
    # AC slot 1 = zigzag pos 2 = raster (1,0): vertical basis.
    # qp 28: class 2 V=20, a = 3*20<<4 = 960; rows of block 0:
    # (192+960+32)>>6, (192+480+32)>>6, (192-480+32)>>6, (192-960+32)>>6
    dec = _decode(
        [{"mode": 2, "luma_dc": {0: 3}, "luma_ac": {0: {1: 3}}}],
        1, 1, qp=28,
    )
    col0 = [dec["y"][i][0] for i in range(4)]
    assert col0 == [128 + 18, 128 + 11, 128 - 4, 128 - 12]
    # all 16 columns of rows 4.. are flat dc: (192+32)>>6 = 3
    assert dec["y"][4][0] == 131 and dec["y"][15][15] == 131


def test_horizontal_prediction_across_mb_boundary():
    # MB0 flat 137 (qp30: dc=7*10*8=560 -> +9); MB1 H-pred + residual
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}},
        {"mode": 1, "luma_dc": {0: -4, 1: 2}, "luma_ac": {0: {0: 3}}},
    ]
    dec = _decode(mbs, 2, 1, qp=30)
    assert dec["y"][0][0] == 137
    assert dec["y"][0][16] == 154 and dec["y"][0][17] == 144


def test_vertical_prediction_across_mb_rows():
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}},
        {"mode": 0, "luma_dc": {0: 2}},  # V-pred from MB0's bottom row
    ]
    dec = _decode(mbs, 1, 2, qp=30)
    # MB1: pred 137, dc = 2*80=160 -> (192)>>6 = 3 -> 140
    assert dec["y"][16][0] == 140 and dec["y"][31][15] == 140


def test_plane_prediction_flat_neighbors():
    # MB0 lands at 146 (dc 14*80 -> +18); MB1/MB2 predict from it with
    # zero residual -> the whole top/left neighborhood INCLUDING the
    # p[-1,-1] corner (which enters the §8.3.3.4 H/V sums) is flat 146,
    # so the plane prediction must be flat 146.
    mbs = [
        {"mode": 2, "luma_dc": {0: 14}},
        {"mode": 2},
        {"mode": 2},
        {"mode": 3, "chroma_mode": 3},
    ]
    dec = _decode(mbs, 2, 2, qp=30)
    for y in range(16, 32):
        assert all(v == 146 for v in dec["y"][y][16:32])


def test_plane_prediction_gradient_closed_form():
    # Non-flat corner: MB0 flat 137, MB1/MB2 flat 146 -> §8.3.3.4 gives
    # b = c = (5*8*(146-137)+32)>>6 = 6, a = 16*(146+146);
    # pred(x,y) = (4672 + 6(x-7) + 6(y-7) + 16) >> 5.
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}},
        {"mode": 2, "luma_dc": {0: 7}},
        {"mode": 2, "luma_dc": {0: 7}},
        {"mode": 3},
    ]
    dec = _decode(mbs, 2, 2, qp=30)
    for x, y, expect in [(0, 0, 143), (15, 15, 149), (7, 7, 146)]:
        assert dec["y"][16 + y][16 + x] == expect, (x, y)


def test_dc_prediction_both_neighbors():
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}},   # 137
        {"mode": 2, "luma_dc": {0: 15}},  # pred 137 + 19 -> 156
        {"mode": 2, "luma_dc": {0: 15}},  # pred 137 + 19 -> 156
        {"mode": 2},  # DC pred from top(156) + left(156) = 156
    ]
    dec = _decode(mbs, 2, 2, qp=30)
    assert dec["y"][0][16] == 156 and dec["y"][16][0] == 156
    assert dec["y"][16][16] == 156 and dec["y"][31][31] == 156


def test_chroma_dc_and_ac_closed_form():
    # qp 28, offset 0 -> qpc 28: V0=16; dcC = ((4*16)<<4)>>1 = 512
    # -> res (512+32)>>6 = 8 -> 136;  cr -3 -> ((-48)<<4)>>1=-384
    # -> (-352)>>6 = -6 -> 122
    dec = _decode(
        [{"mode": 2, "cb_dc": {0: 4}, "cr_dc": {0: -3}}], 1, 1, qp=28
    )
    assert {v for row in dec["cb"] for v in row} == {136}
    assert {v for row in dec["cr"] for v in row} == {122}


def test_chroma_qp_offset_and_table():
    # qp 35 + offset 0: qPI 35 -> QPc 33 (Table 8-15): V0(3)=14, <<5>>1
    dec = _decode(
        [{"mode": 2, "cb_dc": {0: 1}}], 1, 1, qp=35, chroma_qp_offset=0
    )
    # f=1: dcC = (14<<5)>>1 = 224 -> (256)>>6 = 4 -> 132
    assert {v for row in dec["cb"] for v in row} == {132}


def test_ipcm_roundtrip_and_mixed_frame():
    rng = random.Random(3)
    pcm = {
        "y": [rng.randint(0, 255) for _ in range(256)],
        "cb": [rng.randint(0, 255) for _ in range(64)],
        "cr": [rng.randint(0, 255) for _ in range(64)],
    }
    mbs = [{"mode": 2, "luma_dc": {0: 7}}, {"pcm": pcm}]
    dec = _decode(mbs, 2, 1, qp=30)
    got = [dec["y"][y][16 + x] for y in range(16) for x in range(16)]
    assert got == pcm["y"]
    gotcb = [dec["cb"][y][8 + x] for y in range(8) for x in range(8)]
    assert gotcb == pcm["cb"]
    assert dec["n_pcm"] == 1


def test_qp_delta_tracking():
    mbs = [
        {"mode": 2, "luma_dc": {0: 3}, "qp_delta": 0},
        {"mode": 2, "luma_dc": {0: 3}, "qp_delta": 2},  # qp 30
    ]
    dec = _decode(mbs, 2, 1, qp=28)
    # MB0 qp28: dc=3*64=192 -> +3 -> 131; MB1 qp30: dc=3*80=240 -> +4
    # on DC pred from left (131): 135
    assert dec["y"][0][0] == 131
    assert dec["y"][0][16] == 135
    assert dec["qp"] == 30


def test_frame_random_roundtrip_no_errors():
    rng = random.Random(11)
    for _ in range(10):
        wm, hm = rng.choice([(2, 2), (3, 2)])
        mbs = []
        for i in range(wm * hm):
            mbx, mby = i % wm, i // wm
            modes = [
                m
                for m in range(4)
                if (m != 0 or mby) and (m != 1 or mbx) and (m != 3 or (mbx and mby))
            ]
            mbs.append(
                {
                    "mode": rng.choice(modes),
                    "luma_dc": {
                        k: rng.randint(-9, 9)
                        for k in range(16)
                        if rng.random() < 0.5
                    },
                    "luma_ac": {
                        b: {
                            k: rng.randint(-5, 5)
                            for k in range(15)
                            if rng.random() < 0.5
                        }
                        for b in range(16)
                    },
                    "cb_dc": {0: rng.randint(-5, 5)},
                    "cr_dc": {3: rng.randint(-5, 5)},
                    "cb_ac": {
                        b: {k: rng.randint(-3, 3) for k in range(0, 15, 4)}
                        for b in range(4)
                    },
                    "cr_ac": {0: {2: rng.randint(-3, 3)}},
                }
            )
        dec = _decode(mbs, wm, hm, qp=rng.choice([12, 26, 40, 51]))
        assert dec["n_mb"] == wm * hm
        assert all(0 <= v <= 255 for row in dec["y"] for v in row)


# --------------------------------------------------------------- MP4 path


def test_mp4_end_to_end_matches_direct_decode():
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}, "cb_dc": {0: 2}},
        {"mode": 1, "luma_dc": {0: -4, 1: 2}, "luma_ac": {0: {0: 3}}},
    ]
    mp4 = h264.encode_avc_mp4_fixture(2, 1, mbs, qp=30)
    meta = parse_mp4(mp4)
    tr = meta["tracks"][0]
    assert tr["codec"] == "avc1"
    avcc = tr["avcc"]
    assert avcc["length_size"] == 4 and avcc["pps_nal"] is not None
    off, size = tr["offsets"][0], tr["sizes"][0]
    dec = h264.decode_avc_sample(
        mp4[off : off + size], avcc["sps"], h264.decode_pps(avcc["pps_nal"])
    )
    direct = _decode(mbs, 2, 1, qp=30)
    assert dec["y"] == direct["y"]
    assert dec["cb"] == direct["cb"] and dec["cr"] == direct["cr"]


# ----------------------------------------------------------- scope bounds


def test_cabac_pps_raises():
    w = h264._BitWriter()
    w.ue(0)
    w.ue(0)
    w.u(1, 1)  # entropy_coding_mode_flag = CABAC
    with pytest.raises(ValueError, match="CABAC"):
        h264.decode_pps(bytes([0x68]) + w.rbsp())


def test_inter_slice_raises():
    sample, sps_nal, pps_nal = h264.encode_idr_access_unit(
        1, 1, [{"mode": 2}], qp=28
    )
    sps = decode_sps(sps_nal)
    pps = h264.decode_pps(pps_nal)
    w = h264._BitWriter()
    w.ue(0)
    w.ue(5)  # slice_type P
    w.ue(0)
    with pytest.raises(ValueError, match="inter"):
        h264.decode_idr_slice(sps, pps, bytes([0x65]) + w.rbsp())


# --------------------------------------------------------------- I_4x4


def test_cbp_intra_table_is_permutation():
    assert sorted(h264._CBP_INTRA) == list(range(48))


def _i4_mode_layout(b):
    x, y = h264._BLK_OFF[b]
    c, r = x >> 2, y >> 2
    if c == 0:
        return 2  # DC down the left column
    return 1 if r == 0 else 0  # H across the top row, V elsewhere


def test_i4x4_dc_chain_closed_form():
    # All blocks plant c00 = L (qp 28 -> flat residual 4L); the
    # DC/H/V availability chain gives V[r][c] = 128 + 4L*(r+c+1)
    # (derivation in queries.py q253) — checked per block.
    for L in (-4, -1, 0, 2, 4):
        mb = {
            "i4x4": {
                "modes": [_i4_mode_layout(b) for b in range(16)],
                "luma": {b: {0: L} for b in range(16)},
            },
            "cb_dc": {0: 5},
            "cr_dc": {0: -7},
        }
        dec = _decode([mb], 1, 1, qp=28)
        for b in range(16):
            x, y = h264._BLK_OFF[b]
            c, r = x >> 2, y >> 2
            got = {dec["y"][y + i][x + j] for i in range(4) for j in range(4)}
            assert got == {128 + 4 * L * (r + c + 1)}, (L, b)
        assert {v for row in dec["cb"] for v in row} == {138}
        assert {v for row in dec["cr"] for v in row} == {114}


def test_i4x4_ddl_hand_computed():
    # MB0 = I_PCM with bottom row 10,20,...; MB1 below it, block 0 in
    # Diagonal-Down-Left: §8.3.1.2.4 hand-computed expectations.
    bottom = [10 * (k + 1) for k in range(16)]
    pcm_y = [0] * 240 + bottom
    mbs = [
        {"pcm": {"y": pcm_y, "cb": [0] * 64, "cr": [0] * 64}},
        {
            "i4x4": {
                "modes": [3] + [2] * 15,
                "luma": {},
            },
        },
    ]
    dec = _decode(mbs, 1, 2, qp=28)
    got = [[dec["y"][16 + y][x] for x in range(4)] for y in range(4)]
    assert got == [
        [20, 30, 40, 50],
        [30, 40, 50, 60],
        [40, 50, 60, 70],
        [50, 60, 70, 78],  # the (3,3) special: (p6 + 3*p7 + 2) >> 2
    ]


def test_i4x4_ddr_and_vr_hand_computed():
    # 2x2 PCM frame: MB0 all-7 (the p[-1,-1] corner), MB1 bottom row
    # 10..80 at x=16..23, MB2 right column 12/24/36/48; MB3 block 0
    # decodes Diagonal-Down-Right then (second frame) Vertical-Right.
    mb0 = {"pcm": {"y": [7] * 256, "cb": [0] * 64, "cr": [0] * 64}}
    row = [10 * (k + 1) for k in range(8)] + [0] * 8
    mb1 = {"pcm": {"y": [0] * 240 + row, "cb": [0] * 64, "cr": [0] * 64}}
    col = [0] * 256
    for r, v in enumerate((12, 24, 36, 48)):
        col[16 * r + 15] = v
    mb2 = {"pcm": {"y": col, "cb": [0] * 64, "cr": [0] * 64}}
    expect = {
        4: [[9, 12, 20, 30], [14, 9, 12, 20], [24, 14, 9, 12],
            [36, 24, 14, 9]],
        5: [[9, 15, 25, 35], [9, 12, 20, 30], [14, 9, 15, 25],
            [24, 9, 12, 20]],
    }
    for mode, want in expect.items():
        mb3 = {"i4x4": {"modes": [mode] + [2] * 15, "luma": {}}}
        dec = _decode([mb0, mb1, mb2, mb3], 2, 2, qp=28)
        got = [
            [dec["y"][16 + y][16 + x] for x in range(4)] for y in range(4)
        ]
        assert got == want, (mode, got)


def test_i4x4_hu_hand_computed():
    # MB0 right column 10/20/30/40; MB1 block 0 in Horizontal-Up.
    col = [0] * 256
    for r, v in enumerate((10, 20, 30, 40)):
        col[16 * r + 15] = v
    mbs = [
        {"pcm": {"y": col, "cb": [0] * 64, "cr": [0] * 64}},
        {"i4x4": {"modes": [8] + [2] * 15, "luma": {}}},
    ]
    dec = _decode(mbs, 2, 1, qp=28)
    got = [[dec["y"][y][16 + x] for x in range(4)] for y in range(4)]
    assert got == [
        [15, 20, 25, 30],
        [25, 30, 35, 38],
        [35, 38, 40, 40],
        [40, 40, 40, 40],
    ]


def test_i4x4_rem_mode_syntax_and_random_roundtrip():
    rng = random.Random(5)
    for _ in range(15):
        wm, hm = rng.choice([(1, 1), (2, 2)])
        mbs = []
        for i in range(wm * hm):
            mbx, mby = i % wm, i // wm
            modes = []
            for b in range(16):
                offx, offy = h264._BLK_OFF[b]
                gx, gy = mbx * 16 + offx, mby * 16 + offy
                ok = [2, 8] if gx else [2]
                if gy:
                    ok += [0, 3, 7]
                if gx and gy:
                    ok += [1, 4, 5, 6]
                modes.append(rng.choice(sorted(set(ok))))
            mbs.append(
                {
                    "i4x4": {
                        "modes": modes,
                        "luma": {
                            b: {
                                k: rng.randint(-6, 6)
                                for k in range(16)
                                if rng.random() < 0.3
                            }
                            for b in range(16)
                            if rng.random() < 0.7
                        },
                    },
                    "cb_dc": {0: rng.randint(-4, 4)},
                    "qp_delta": 0,
                }
            )
        dec = _decode(mbs, wm, hm, qp=rng.choice([16, 28, 40]))
        assert dec["n_mb"] == wm * hm
        assert all(0 <= v <= 255 for row in dec["y"] for v in row)


def test_i4x4_mixed_with_i16x16_context():
    # I_4x4 next to Intra_16x16: mode prediction must treat the
    # non-I4x4 neighbor as DC, and nC contexts must cross MB types.
    mbs = [
        {"mode": 2, "luma_dc": {0: 7}, "luma_ac": {0: {0: 2}}},
        {
            "i4x4": {
                "modes": [1] + [2] * 15,
                "luma": {0: {0: 3, 1: -2}},
            },
        },
    ]
    dec = _decode(mbs, 2, 1, qp=28)
    assert dec["n_mb"] == 2
    assert all(0 <= v <= 255 for row in dec["y"] for v in row)


def test_deblocking_enabled_raises():
    sample, sps_nal, pps_nal = h264.encode_idr_access_unit(
        1, 1, [{"mode": 2}], qp=28
    )
    sps = decode_sps(sps_nal)
    pps = h264.decode_pps(pps_nal)
    w = h264._BitWriter()
    w.ue(0); w.ue(7); w.ue(0)
    w.u(0, 4); w.ue(0); w.u(0, 4); w.u(0, 1); w.u(0, 1)
    w.se(2)
    w.ue(0)  # disable_deblocking_filter_idc = 0 (filter ON)
    with pytest.raises(ValueError, match="deblocking"):
        h264.decode_idr_slice(sps, pps, bytes([0x65]) + w.rbsp())


def test_truncated_slice_raises():
    sample, sps_nal, pps_nal = h264.encode_idr_access_unit(
        1, 1, [{"mode": 2, "luma_dc": {0: 5}}], qp=28
    )
    sps = decode_sps(sps_nal)
    pps = h264.decode_pps(pps_nal)
    nal = sample[4:]
    with pytest.raises(ValueError, match="corrupt"):
        h264.decode_idr_slice(sps, pps, nal[: len(nal) // 2])


# ------------------------------------------------------------ multi-slice


def test_multislice_boundary_availability():
    # 2x2 picture in two 2-MB slices: slice 1 cannot see slice 0 —
    # MB2's DC prediction restarts at 128 even though MB0 sits above.
    mbs = [
        {"mode": 2, "luma_dc": {0: 14}},  # 146
        {"mode": 2, "luma_dc": {0: 14}},  # left(146)+18 -> 164
        {"mode": 2, "luma_dc": {0: 14}},  # slice restart: 128+18 -> 146
        {"mode": 2},
    ]
    sample, sn, pn = h264.encode_idr_access_unit(
        2, 2, mbs, qp=30, slices=[2, 2]
    )
    dec = h264.decode_avc_sample(
        sample, decode_sps(sn), h264.decode_pps(pn)
    )
    assert dec["n_slices"] == 2
    assert dec["y"][0][0] == 146 and dec["y"][0][16] == 164
    assert dec["y"][16][0] == 146  # NOT 164: top neighbor is other-slice
    # same picture in ONE slice: MB2 sees MB0 -> 164
    sample1, sn1, pn1 = h264.encode_idr_access_unit(2, 2, mbs, qp=30)
    dec1 = h264.decode_avc_sample(
        sample1, decode_sps(sn1), h264.decode_pps(pn1)
    )
    assert dec1["y"][16][0] == 164


def test_multislice_pred_across_boundary_raises():
    mbs = [
        {"mode": 2, "luma_dc": {0: 14}},
        {"mode": 2},
        {"mode": 0},  # V pred: top MB exists but in another slice
        {"mode": 2},
    ]
    sample, sn, pn = h264.encode_idr_access_unit(
        2, 2, mbs, qp=30, slices=[2, 2]
    )
    with pytest.raises(ValueError, match="V pred"):
        h264.decode_avc_sample(sample, decode_sps(sn), h264.decode_pps(pn))


def test_multislice_incomplete_picture_raises():
    import struct as _s

    mbs = [{"mode": 2}] * 4
    sample, sn, pn = h264.encode_idr_access_unit(
        2, 2, mbs, qp=28, slices=[2, 2]
    )
    first_len = _s.unpack(">I", sample[:4])[0]
    with pytest.raises(ValueError, match="incomplete"):
        h264.decode_avc_sample(
            sample[: 4 + first_len], decode_sps(sn), h264.decode_pps(pn)
        )


def test_multislice_i4x4_and_nc_contexts():
    # dense I_4x4 MBs split across slices: mode prediction and CAVLC
    # nC contexts must both stop at the boundary (the encoder mirrors
    # the decoder, so a bit-exact round trip proves symmetry).
    rng = random.Random(9)
    mbs = []
    for i in range(4):
        mbx, mby = i % 2, i // 2
        in_slice0 = i < 2
        modes = []
        for b in range(16):
            offx, offy = h264._BLK_OFF[b]
            gx = mbx * 16 + offx
            gy = (0 if in_slice0 else 16) + offy if False else mby * 16 + offy
            ok = [2]
            if gx:
                ok += [8]
            # top within the same slice only: row-0 blocks of slice-1
            # MBs (mby==1, offy==0) have no usable top
            if offy or (mby == 1 and not in_slice0 and False) or (mby == 1 and offy) or (mby == 0 and gy):
                ok += [0, 3, 7]
            if gx and (offy or (mby == 0 and gy)):
                ok += [1, 4, 5, 6]
            modes.append(rng.choice(sorted(set(ok))))
        mbs.append(
            {
                "i4x4": {
                    "modes": modes,
                    "luma": {
                        b: {k: rng.randint(-5, 5) for k in range(0, 16, 3)}
                        for b in range(16)
                    },
                },
                "cb_dc": {0: rng.randint(-4, 4)},
            }
        )
    sample, sn, pn = h264.encode_idr_access_unit(
        2, 2, mbs, qp=28, slices=[2, 2]
    )
    dec = h264.decode_avc_sample(
        sample, decode_sps(sn), h264.decode_pps(pn)
    )
    assert dec["n_slices"] == 2 and dec["n_mb"] == 4
    assert all(0 <= v <= 255 for row in dec["y"] for v in row)


def test_multislice_qp_restart():
    # QPy restarts from slice_qp_delta per slice (§7.4.3): MB2 in its
    # own slice lands at the slice qp, unaffected by MB1's delta.
    mbs = [
        {"mode": 2, "luma_dc": {0: 3}},
        {"mode": 2, "luma_dc": {0: 3}, "qp_delta": 4},
        {"mode": 2, "luma_dc": {0: 3}},  # fresh slice: qp 28 again
        {"mode": 2},
    ]
    sample, sn, pn = h264.encode_idr_access_unit(
        2, 2, mbs, qp=28, slices=[2, 2]
    )
    dec = h264.decode_avc_sample(
        sample, decode_sps(sn), h264.decode_pps(pn)
    )
    # qp28: dc=3*64 -> +3 (131); qp32: %6=2 V0=13, f*13<<3 = 312 -> +5
    assert dec["y"][0][0] == 131
    assert dec["y"][0][16] == 131 + 5 + 3 - 3  # pred131+(312+32>>6)=136
    assert dec["y"][16][0] == 131  # slice 1 back at qp 28 on 128 base


def test_sniff_detects_h264_and_pdf():
    from occupation_wage_etl_spark.operators.multimodal import sniff_bytes

    # Annex B framing: 4-byte start code before each NAL unit
    _, sps_nal, pps_nal = h264.encode_idr_access_unit(
        1, 1, [{"mode": 2}], qp=28
    )
    es = b"".join(b"\x00\x00\x00\x01" + n for n in (sps_nal, pps_nal))
    assert sniff_bytes(es)["mime"] == "video/h264"
    assert sniff_bytes(b"%PDF-1.7 ...")["mime"] == "application/pdf"

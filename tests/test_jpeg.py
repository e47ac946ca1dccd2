"""Baseline-DCT JPEG codec (operators/multimodal.py:decode_jpeg_gray /
encode_jpeg_*_coeffs — q217).

The fixtures are synthesized from CHOSEN quantized coefficients, so
every decoded raster has a closed integer form: pixel = clip(((Σ coef·q
· basis + 2^19) >> 20) + 128) with the shared fixed-point basis — the
tests check that form directly (plus structural properties, such as
gradient orientation, that would catch a basis transpose the symmetric
aggregates cannot see).
"""

from __future__ import annotations

import numpy as np
import pytest

from occupation_wage_etl_spark.operators import multimodal as mm


def _expected_pixels(coef_nat: list[int], quant: int = 16) -> np.ndarray:
    basis = mm.jpeg_idct_basis()
    c = np.asarray(coef_nat, dtype=np.int64) * quant
    pix = ((c @ basis + (1 << 19)) >> 20) + 128
    return np.clip(pix, 0, 255).reshape(8, 8)


def test_jpeg_constant_block_roundtrip():
    # DC-only block: decoded == 128 + 2*dc exactly (quant 16)
    for dc in (-100, -1, 0, 7, 63):
        blk = [0] * 64
        blk[0] = dc
        data = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
        w, h, px = mm.decode_jpeg_gray(data)
        assert (w, h) == (8, 8)
        assert set(px) == {max(0, min(255, 128 + 2 * dc))}


def test_jpeg_horizontal_gradient_orientation():
    # natural index 1 = horizontal frequency u=1: varies along x,
    # constant along y — catches a basis/zigzag transpose
    blk = [0] * 64
    blk[1] = 20
    data = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
    w, h, px = mm.decode_jpeg_gray(data)
    img = np.frombuffer(px, dtype=np.uint8).reshape(8, 8)
    assert (img == img[0]).all()  # rows identical
    row = img[0].astype(int)
    assert all(a > b for a, b in zip(row, row[1:]))  # cos decreasing in x
    assert (img == _expected_pixels(blk)).all()


def test_jpeg_mixed_coeffs_match_closed_form():
    for did in (0, 3, 17, 123, 4040):
        blk = [0] * 64
        blk[0] = (did % 201) - 100
        blk[1] = (did % 7) - 3
        blk[8] = (did % 5) - 2
        data = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
        w, h, px = mm.decode_jpeg_gray(data)
        assert (np.frombuffer(px, dtype=np.uint8)
                == _expected_pixels(blk).ravel()).all()


def test_jpeg_multi_block_and_restart_markers():
    # 24x8 = 3 blocks; restart interval 1 -> RST0/RST1 between blocks,
    # DC predictors reset per segment
    blocks = []
    for i in range(3):
        blk = [0] * 64
        blk[0] = 10 * (i + 1)
        blk[1] = i - 1
        blocks.append(blk)
    for ri in (0, 1):
        data = mm.encode_jpeg_gray_coeffs(24, 8, blocks, restart_interval=ri)
        w, h, px = mm.decode_jpeg_gray(data)
        assert (w, h) == (24, 8)
        img = np.frombuffer(px, dtype=np.uint8).reshape(8, 24)
        for i, blk in enumerate(blocks):
            assert (img[:, 8 * i : 8 * i + 8] == _expected_pixels(blk)).all()


def test_jpeg_long_zero_runs_zrl():
    # a lone coefficient at the END of the zigzag forces ZRL (15-zero
    # run) codes through the encoder and decoder
    blk = [0] * 64
    blk[63] = 5
    blk[0] = 3
    data = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
    _, _, px = mm.decode_jpeg_gray(data)
    assert (np.frombuffer(px, dtype=np.uint8)
            == _expected_pixels(blk).ravel()).all()


def test_jpeg_ycbcr420_mcu_walk():
    # 16x16, 4 luma blocks with distinct DCs, zero chroma: decoded
    # quadrants are the 4 constants — proves interleaved MCU ordering
    dcs = [5, 15, 25, 35]  # raster order: TL TR BL BR
    y_blocks = []
    for dc in dcs:
        blk = [0] * 64
        blk[0] = dc
        y_blocks.append(blk)
    data = mm.encode_jpeg_ycbcr420_coeffs(16, 16, y_blocks)
    w, h, px = mm.decode_jpeg_gray(data)
    assert (w, h) == (16, 16)
    img = np.frombuffer(px, dtype=np.uint8).reshape(16, 16)
    assert set(img[:8, :8].ravel()) == {128 + 2 * dcs[0]}
    assert set(img[:8, 8:].ravel()) == {128 + 2 * dcs[1]}
    assert set(img[8:, :8].ravel()) == {128 + 2 * dcs[2]}
    assert set(img[8:, 8:].ravel()) == {128 + 2 * dcs[3]}


def test_jpeg_lossless_sof_rejected():
    blk = [0] * 64
    data = bytearray(mm.encode_jpeg_gray_coeffs(8, 8, [blk]))
    i = data.find(b"\xff\xc0")
    data[i + 1] = 0xC3  # flip SOF0 -> SOF3 (lossless, unsupported)
    with pytest.raises(ValueError, match="SOF marker"):
        mm.decode_jpeg_gray(bytes(data))


# -------------------------------------------- progressive (round 7)


def test_jpeg_progressive_matches_baseline_all_scan_types():
    # chosen coefficients exercising DC successive approximation, both
    # AC first bands, ZRL folding and EOB runs; the progressive stream
    # must decode to EXACTLY the baseline pixels
    blocks = []
    specs = [
        {0: -77, 1: 3, 8: -2, 63: 5},       # DC + low AC + band-2 tail
        {},                                  # all-zero (EOB-run food)
        {0: 40},                             # DC-only
        {34: 1, 61: -1},                     # sparse high zigzag (ZRL)
        {0: -3, 2: -9, 5: 7, 6: -1, 30: 2},  # straddles both AC bands
        {},                                  # trailing EOB run
    ]
    for spec in specs:
        blk = [0] * 64
        for pos, v in spec.items():
            blk[pos] = v
        blocks.append(blk)
    base = mm.encode_jpeg_gray_coeffs(48, 8, blocks)
    prog = mm.encode_jpeg_progressive_gray_coeffs(48, 8, blocks)
    assert mm.decode_jpeg_gray(prog) == mm.decode_jpeg_gray(base)
    # and through the operator's dispatch (decode_image_bytes)
    assert mm.decode_image_bytes(prog) == mm.decode_image_bytes(base)


def test_jpeg_progressive_fuzz_vs_baseline():
    import random

    for trial in range(25):
        rnd = random.Random(5000 + trial)
        nb = rnd.randint(1, 12)
        blocks = []
        for _ in range(nb):
            blk = [0] * 64
            if rnd.random() > 0.25:
                blk[0] = rnd.randint(-150, 150)
                for _ in range(rnd.randint(0, 10)):
                    blk[rnd.randint(1, 63)] = rnd.randint(-40, 40)
            blocks.append(blk)
        base = mm.encode_jpeg_gray_coeffs(8 * nb, 8, blocks)
        prog = mm.encode_jpeg_progressive_gray_coeffs(8 * nb, 8, blocks)
        assert mm.decode_jpeg_gray(prog) == mm.decode_jpeg_gray(base)


def test_jpeg_progressive_refinement_magnitudes():
    # values whose low bit differs force real correction bits in the
    # AC refinement scan (band 1-5 goes through Al=1 then Al=0)
    blk = [0] * 64
    blk[1], blk[2], blk[3] = 5, -5, 4   # odd magnitudes refine; 4 stays
    blk[4], blk[5] = 1, -1              # newly significant ONLY at Al=0
    data = mm.encode_jpeg_progressive_gray_coeffs(8, 8, [blk])
    base = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
    assert mm.decode_jpeg_gray(data) == mm.decode_jpeg_gray(base)


def test_jpeg_sniff_and_decode_image_operator(spark):
    rows = []
    for did in range(6):
        blk = [0] * 64
        blk[0] = (did % 201) - 100
        blk[1] = (did % 7) - 3
        rows.append((did, mm.encode_jpeg_gray_coeffs(8, 8, [blk])))
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    sniffed = {r["doc_id"]: r for r in mm.sniff_metadata(df).collect()}
    assert all(
        v["mime"] == "image/jpeg" and v["width"] == 8 and v["height"] == 8
        for v in sniffed.values()
    )
    decoded = {r["doc_id"]: r for r in mm.decode_image(df).collect()}
    for did in range(6):
        blk = [0] * 64
        blk[0] = (did % 201) - 100
        blk[1] = (did % 7) - 3
        assert decoded[did]["pixels"] == list(_expected_pixels(blk).ravel())


def test_jpeg_corrupt_ac_run_raises_value_error():
    # entropy stream whose AC codes run past coefficient 63 (3 ZRLs to
    # k=49, then run=15/size=1 -> k=64): strict mode must diagnose the
    # corruption as ValueError, never IndexError
    _, dc_codes = mm._huff_spec_8bit(mm._JPEG_DC_SYMS)
    _, ac_codes = mm._huff_spec_8bit(mm._JPEG_AC_SYMS)
    out = bytearray(mm._jpeg_headers(8, 8, 16, [(1, 1, 1)]))
    out += mm._jpeg_sos([1])
    w = mm._JpegBitWriter()
    code, ln = dc_codes[0]
    w.write(code, ln)  # DC diff = 0
    for _ in range(3):
        code, ln = ac_codes[0xF0]
        w.write(code, ln)  # ZRL
    code, ln = ac_codes[0xF1]
    w.write(code, ln)  # run 15, size 1 -> k = 64
    w.write(1, 1)
    out += w.finish() + b"\xff\xd9"
    with pytest.raises(ValueError, match="corrupt JPEG"):
        mm.decode_jpeg_gray(bytes(out))


def test_jpeg_missing_restart_segment_raises_value_error():
    # 3 blocks at restart interval 1 -> segments [s0, RST0, s1, RST1,
    # s2]; truncating at RST1 leaves 2 segments for 3 MCUs
    blocks = []
    for i in range(3):
        blk = [0] * 64
        blk[0] = 10 * (i + 1)
        blocks.append(blk)
    data = mm.encode_jpeg_gray_coeffs(24, 8, blocks, restart_interval=1)
    cut = data.find(b"\xff\xd1")
    assert cut > 0
    with pytest.raises(ValueError, match="corrupt JPEG"):
        mm.decode_jpeg_gray(data[:cut] + b"\xff\xd9")


# ------------------------------------------------------- color (round 7)


def test_jpeg_rgb_dc_only_quadrants_hand_math():
    # 16x16 4:2:0, luma DCs 10/20/30/40 (quant 16 -> y = 2*dc + 128),
    # cb DC=5 -> 138, cr DC=-7 -> 114; fixed-point deltas computed by
    # hand: dr=-20, dg=+7, db=+18
    cb = [0] * 64
    cb[0] = 5
    cr = [0] * 64
    cr[0] = -7
    ys = []
    for dc in (10, 20, 30, 40):
        blk = [0] * 64
        blk[0] = dc
        ys.append(blk)
    data = mm.encode_jpeg_ycbcr420_coeffs(
        16, 16, ys, cb_blocks=[cb], cr_blocks=[cr]
    )
    w, h, rgb = mm.decode_jpeg_rgb(data)
    assert (w, h) == (16, 16)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(16, 16, 3)
    for (qy, qx), dc in zip(
        [(0, 0), (0, 1), (1, 0), (1, 1)], (10, 20, 30, 40)
    ):
        y = 2 * dc + 128
        quad = a[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
        assert (quad[:, :, 0] == max(0, min(255, y - 20))).all()
        assert (quad[:, :, 1] == max(0, min(255, y + 7))).all()
        assert (quad[:, :, 2] == max(0, min(255, y + 18))).all()


def test_jpeg_rgb_grayscale_replicates_luma():
    blk = [0] * 64
    blk[0] = 25
    blk[1] = 2
    data = mm.encode_jpeg_gray_coeffs(8, 8, [blk])
    wg, hg, gray = mm.decode_jpeg_gray(data)
    w, h, rgb = mm.decode_jpeg_rgb(data)
    assert (w, h) == (wg, hg)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(h, w, 3)
    g = np.frombuffer(gray, dtype=np.uint8).reshape(h, w)
    assert (a[:, :, 0] == g).all()
    assert (a[:, :, 1] == g).all()
    assert (a[:, :, 2] == g).all()


def test_jpeg_rgb_chroma_upsample_replicates_2x2():
    # constant luma, column-varying Cb (horizontal AC): 4:2:0 sample
    # replication must give identical values in each 2x2 luma cell
    ys = []
    for _ in range(4):
        blk = [0] * 64
        blk[0] = 0
        ys.append(blk)
    cb = [0] * 64
    cb[0] = 0
    cb[1] = 6  # horizontal gradient in the chroma plane
    cr = [0] * 64
    data = mm.encode_jpeg_ycbcr420_coeffs(
        16, 16, ys, cb_blocks=[cb], cr_blocks=[cr]
    )
    _, _, rgb = mm.decode_jpeg_rgb(data)
    a = np.frombuffer(rgb, dtype=np.uint8).reshape(16, 16, 3).astype(int)
    assert (a[:, 0::2, :] == a[:, 1::2, :]).all()
    assert (a[0::2, :, :] == a[1::2, :, :]).all()
    # and the gradient actually varies across chroma columns
    assert a[0, 0, 2] != a[0, 14, 2]


def test_jpeg_rgb_stats_operator(spark):
    cb = [0] * 64
    cb[0] = 5
    cr = [0] * 64
    cr[0] = -7
    ys = []
    for dc in (10, 20, 30, 40):
        blk = [0] * 64
        blk[0] = dc
        ys.append(blk)
    data = mm.encode_jpeg_ycbcr420_coeffs(
        16, 16, ys, cb_blocks=[cb], cr_blocks=[cr]
    )
    df = spark.createDataFrame([(3, data)], "doc_id long, content binary")
    r = mm.jpeg_rgb_stats(df).collect()[0]
    ysv = [2 * dc + 128 for dc in (10, 20, 30, 40)]
    assert (r["width"], r["height"]) == (16, 16)
    assert r["r_sum"] == sum(64 * (y - 20) for y in ysv)
    assert r["g_sum"] == sum(64 * (y + 7) for y in ysv)
    assert r["b_sum"] == sum(64 * (y + 18) for y in ysv)
    assert (r["r_min"], r["r_max"]) == (ysv[0] - 20, ysv[3] - 20)
    assert (r["b_min"], r["b_max"]) == (ysv[0] + 18, ysv[3] + 18)


def test_jpeg_progressive_color_matches_baseline_multi_mcu():
    # 32x16 (2 MCUs across): the non-interleaved AC scans walk the
    # component GRID raster, which differs from the MCU walk — plus
    # interleaved DC first/refine with per-component predictors
    ys = []
    for i in range(8):
        blk = [0] * 64
        blk[0] = 15 * i - 50
        blk[1 + (i % 5)] = i - 4
        ys.append(blk)
    cb = [[0] * 64 for _ in range(2)]
    cr = [[0] * 64 for _ in range(2)]
    cb[0][0], cb[1][0] = 7, -9
    cr[0][2], cr[1][0] = 3, 11
    base = mm.encode_jpeg_ycbcr420_coeffs(
        32, 16, ys, cb_blocks=cb, cr_blocks=cr
    )
    prog = mm.encode_jpeg_progressive_ycbcr420_coeffs(
        32, 16, ys, cb_blocks=cb, cr_blocks=cr
    )
    assert mm.decode_jpeg_rgb(prog) == mm.decode_jpeg_rgb(base)
    assert mm.decode_jpeg_gray(prog) == mm.decode_jpeg_gray(base)

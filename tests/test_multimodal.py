"""Multimodal operator tests: real header bytes, real flat_map plumbing.

These tests pin down (a) the REAL magic-byte sniffer against genuine
PNG/JPEG/GIF/WAV byte layouts built with struct.pack, (b) schemas and
fan-out of every operator, (c) the stdlib codecs (PNG/BMP/JPEG decode,
WAV stats) and that undecodable payloads raise loudly."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import multimodal as M


def png_bytes(width: int, height: int) -> bytes:
    ihdr = struct.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    return (
        M.PNG_MAGIC
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + ihdr
        + b"\x00\x00\x00\x00"  # fake crc — sniffer must not care
    )


def jpeg_bytes(width: int, height: int) -> bytes:
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\x08" + struct.pack(">HH", height, width) + b"\x03"
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
        + b"\xff\xc0" + struct.pack(">H", len(sof0) + 2) + sof0
        + b"\xff\xd9"
    )


def gif_bytes(width: int, height: int) -> bytes:
    return b"GIF89a" + struct.pack("<HH", width, height) + b"\x00" * 6


def wav_bytes(sample_rate: int, channels: int, n_samples: int) -> bytes:
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    data = b"\x00" * (n_samples * channels * 2)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_sniff_bytes_pure():
    png = M.sniff_bytes(png_bytes(640, 480))
    assert (png["mime"], png["width"], png["height"]) == ("image/png", 640, 480)

    jpg = M.sniff_bytes(jpeg_bytes(1920, 1080))
    assert (jpg["mime"], jpg["width"], jpg["height"]) == ("image/jpeg", 1920, 1080)

    gif = M.sniff_bytes(gif_bytes(32, 16))
    assert (gif["mime"], gif["width"], gif["height"]) == ("image/gif", 32, 16)

    wav = M.sniff_bytes(wav_bytes(16000, 2, 16000))  # exactly 1 s
    assert (wav["mime"], wav["sample_rate"], wav["channels"]) == ("audio/wav", 16000, 2)
    assert wav["duration_ms"] == 1000

    assert M.sniff_bytes(b"plain text")["mime"] == "application/octet-stream"
    assert M.sniff_bytes(None)["n_bytes"] == 0
    # truncated header: degrade, never raise
    assert M.sniff_bytes(M.PNG_MAGIC + b"\x00\x00")["mime"] == "image/png"


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, png_bytes(100, 50)),
        (2, jpeg_bytes(640, 480)),
        (3, gif_bytes(8, 8)),
        (4, wav_bytes(8000, 1, 4000)),
        (5, b"not media at all"),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, content binary")


def test_sniff_metadata_df(assets):
    got = {r["doc_id"]: r.asDict() for r in M.sniff_metadata(assets).collect()}
    assert got[1]["mime"] == "image/png" and got[1]["width"] == 100
    assert got[2]["mime"] == "image/jpeg" and got[2]["height"] == 480
    assert got[3]["mime"] == "image/gif" and got[3]["width"] == 8
    assert got[4]["mime"] == "audio/wav" and got[4]["duration_ms"] == 500
    assert got[5]["mime"] == "application/octet-stream"
    assert got[6]["n_bytes"] == 0 and got[6]["mime"] == "application/octet-stream"
    assert len(got) == 6


def test_sniff_metadata_out_of_range_header_fields(spark):
    # u32 header fields past int32 are corrupt: mime-only, never a failed
    # task (the int columns would overflow)
    fmt = struct.pack("<HHIIHH", 1, 1, 0xFFFFFFF0, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame(
        [(1, png_bytes(0xFFFFFFF0, 4)), (2, wav)],
        "doc_id long, content binary",
    )
    got = {r["doc_id"]: r for r in M.sniff_metadata(df).collect()}
    assert (got[1]["mime"], got[1]["width"], got[1]["height"]) == (
        "image/png", None, None,
    )
    assert (got[2]["mime"], got[2]["sample_rate"]) == ("audio/wav", None)
    assert got[2]["channels"] == 1


def test_extract_features(assets):
    out = M.extract_features(assets, dim=8).collect()
    assert all(len(r["feature"]) == 8 for r in out)
    assert all(0.0 <= v < 1.0 for r in out for v in r["feature"])
    # feature is a pure function of content: same bytes → same vector
    a = M.extract_features(assets, dim=8).collect()
    assert sorted(map(str, a)) == sorted(map(str, out))


def test_partition_rebalance_plumbs(assets):
    df = M.sniff_metadata(assets.repartition(4))
    assert df.rdd.getNumPartitions() == 4


# ---------------------------------------------------------------------------
# real stdlib codecs: PNG/BMP decode, WAV stats, resample round-trips
# ---------------------------------------------------------------------------


def _apply_png_filter(ftype: int, line: bytes, prev: bytes, bpp: int) -> bytes:
    """Forward PNG filter (encoder side) — used to exercise every
    unfilter branch with independently-constructed streams."""
    out = bytearray(len(line))
    for i in range(len(line)):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) >> 1
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
        out[i] = (line[i] - pred) & 0xFF
    return bytes(out)


def _png_with_filters(width, height, pixels, filters, colortype=0):
    """Build a valid PNG whose scanlines use the given filter types."""
    import zlib

    ch = {0: 1, 2: 3, 6: 4}[colortype]
    stride = width * ch
    raw = bytearray()
    prev = bytes(stride)
    for y, ftype in zip(range(height), filters):
        line = bytes(pixels[y * stride : (y + 1) * stride])
        raw.append(ftype)
        raw += _apply_png_filter(ftype, line, prev, ch)
        prev = line

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0)
    return (
        M.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_all_filters():
    w, h = 5, 5
    pixels = bytes((x * 37 + y * 91) % 256 for y in range(h) for x in range(w))
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        png = _png_with_filters(w, h, pixels, filters)
        gw, gh, gray = M.decode_png_gray(png)
        assert (gw, gh) == (w, h)
        assert gray == pixels, f"filters {filters}"


def test_png_encoder_decoder_roundtrip():
    w, h = 7, 3
    pixels = bytes((x + y * 50) % 256 for y in range(h) for x in range(w))
    assert M.decode_png_gray(M.encode_png_gray(w, h, pixels)) == (w, h, pixels)


def test_png_rgb_luma():
    # one red, one green, one blue pixel: luma weights 299/587/114
    rgb = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    png = _png_with_filters(3, 1, rgb, [0], colortype=2)
    _, _, gray = M.decode_png_gray(png)
    assert list(gray) == [255 * 299 // 1000, 255 * 587 // 1000, 255 * 114 // 1000]


def _bmp_bytes(width, height, gray_fn):
    """Uncompressed 24-bit bottom-up BMP with r=g=b=gray_fn(x, y)."""
    stride = (width * 3 + 3) & ~3
    rows = bytearray()
    for y in reversed(range(height)):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            v = gray_fn(x, y)
            row += bytes([v, v, v])
        row += b"\x00" * (stride - len(row))
        rows += row
    header = b"BM" + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(rows), 0, 0, 0, 0)
    return header + dib + rows


def test_bmp_decode():
    w, h = 6, 4
    fn = lambda x, y: (x * 11 + y * 29) % 256
    gw, gh, gray = M.decode_bmp_gray(_bmp_bytes(w, h, fn))
    assert (gw, gh) == (w, h)
    expect = bytes(fn(x, y) for y in range(h) for x in range(w))
    # r=g=b=v → luma(v,v,v) = v exactly (299+587+114 = 1000)
    assert gray == expect


def test_nearest_resample_identity_and_downscale():
    pixels = bytes(range(16))  # 4×4
    assert M._nearest_resample(pixels, 4, 4, 4, 4) == pixels
    # floor index map: rows 0,2 / cols 0,2
    assert list(M._nearest_resample(pixels, 4, 4, 2, 2)) == [0, 2, 8, 10]


def test_decode_image_real_spark(spark):
    rows = []
    for i in range(6):
        px = bytes((i * 31 + k) % 256 for k in range(64))
        rows.append((i, M.encode_png_gray(8, 8, px), px))
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in rows], "doc_id long, content binary"
    )
    got = {r["doc_id"]: r for r in M.decode_image(df).collect()}
    for i, _, px in rows:
        assert (got[i]["width"], got[i]["height"]) == (8, 8)
        assert bytes(got[i]["pixels"]) == px


def test_decode_image_real_resamples_large(spark):
    big = bytes((x // 2 + (y // 2) * 8) % 256 for y in range(16) for x in range(16))
    df = spark.createDataFrame(
        [(1, M.encode_png_gray(16, 16, big))], "doc_id long, content binary"
    )
    r = M.decode_image(df, thumb=8).collect()[0]
    assert (r["width"], r["height"]) == (16, 16)  # source dims reported
    assert len(r["pixels"]) == 64
    # floor map hits even source indices: pixel(2x, 2y) = x + y*8
    assert list(r["pixels"]) == [x + y * 8 for y in range(8) for x in range(8)]


def test_decode_image_real_rejects_truncated_jpeg(spark):
    # since round 6 baseline JPEG DECODES (test_jpeg.py covers it);
    # a header-only stream with no scan data must still raise cleanly
    df = spark.createDataFrame(
        [(1, jpeg_bytes(10, 10))], "doc_id long, content binary"
    )
    with pytest.raises(Exception, match="truncated JPEG"):
        M.decode_image(df).collect()


def test_decode_audio_stats_real(spark):
    n, rate = 64, 8000
    samples = [((k * 997) % 4001) - 2000 for k in range(n)]
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    data = struct.pack(f"<{n}h", *samples)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(3, wav)], "doc_id long, content binary")
    r = M.decode_audio_stats(df).collect()[0]
    assert r["sample_rate"] == rate and r["n_samples"] == n
    assert r["peak"] == max(abs(s) for s in samples)
    assert abs(r["mean_abs"] - sum(abs(s) for s in samples) / n) < 1e-12
    # non-WAV payload must raise, not silently fake
    bad = spark.createDataFrame([(1, b"zzz")], "doc_id long, content binary")
    with pytest.raises(Exception, match="stdlib codecs|ValueError"):
        M.decode_audio_stats(bad).collect()


def test_dhash64_bounds_and_wrap(spark):
    from pyspark.sql import functions as F

    from occupation_wage_etl_spark.operators import multimodal

    rows = [
        (1, list(range(81))),            # strictly increasing -> 0
        (2, list(range(81, 0, -1))),     # strictly decreasing -> all 64
        (3, [7] * 81),                   # constant -> 0
    ]
    df = spark.createDataFrame(rows, "id long, px array<int>")
    got = {
        r.id: (r.h, r.n)
        for r in df.select(
            "id",
            multimodal.dhash64(F.col("px")).alias("h"),
            F.bit_count(multimodal.dhash64(F.col("px"))).alias("n"),
        ).collect()
    }
    assert got[1] == (0, 0)
    assert got[2] == (-1, 64)  # all-ones = signed -1
    assert got[3] == (0, 0)
    # end-to-end: identical images -> identical hash through the real
    # PNG decode; a shifted gradient flips bits
    px_a = bytes((3 * k) % 256 for k in range(81))
    img = multimodal.encode_png_gray(9, 9, px_a)
    df2 = spark.createDataFrame(
        [(1, img), (2, img)], "doc_id long, content binary"
    )
    dec = multimodal.decode_image(df2, thumb=9)
    hs = [
        r.h
        for r in dec.select(
            multimodal.dhash64(F.col("pixels")).alias("h")
        ).collect()
    ]
    assert hs[0] == hs[1]


def test_hash64_band_pairs_filters_before_distinct(spark):
    """Band funnel: pairs verify by exact Hamming; the hamming filter
    must sit BELOW the pair-dedup aggregate (filter-then-distinct —
    hamming is functionally determined by the pair, so this is
    equivalent and shrinks the distinct's shuffle)."""
    from occupation_wage_etl_spark.operators import dedup

    rows = [
        (1, 0x1111_2222_3333_4444),
        (2, 0x1111_2222_3333_4445),  # hamming 1 from id 1
        (3, 0x1111_2222_3333_0000),  # shares 3 bands with 1 AND 2,
                                     # hamming 5/6 -> must be dropped
        (4, -0x7FFF_FFFF_FFFF_0000),
    ]
    df = spark.createDataFrame(rows, "doc_id long, h long")
    pairs = dedup.hash64_band_pairs(df, "h", max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}
    assert got == {(1, 2, 1)}
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    agg_at = plan.find("Aggregate")
    filt_at = plan.find("Filter")
    assert agg_at >= 0 and filt_at >= 0
    # deeper nodes print later: the hamming Filter is a child of the
    # distinct Aggregate, not its parent
    assert filt_at > agg_at, plan

"""Charset sniff + transcode (operators/charset.py): BOM ladder,
strict-UTF-8 rule, BOM-less UTF-16 zero-byte heuristic, Latin-1
fallback, and the Spark operator."""

from __future__ import annotations

import codecs

from occupation_wage_etl_spark.operators import charset


def test_bom_ladder():
    s = "café ünïcode — text"
    cases = [
        (codecs.BOM_UTF8 + s.encode("utf-8"), "utf-8", True),
        (codecs.BOM_UTF16_LE + s.encode("utf-16-le"), "utf-16-le", True),
        (codecs.BOM_UTF16_BE + s.encode("utf-16-be"), "utf-16-be", True),
        (codecs.BOM_UTF32_LE + s.encode("utf-32-le"), "utf-32-le", True),
        (codecs.BOM_UTF32_BE + s.encode("utf-32-be"), "utf-32-be", True),
    ]
    for raw, enc, bom in cases:
        assert charset.detect_charset_ex(raw)[:2] == (enc, bom), enc
        text, got_enc, got_bom = charset.transcode(raw)
        assert (text, got_enc, got_bom) == (s, enc, bom), enc


def test_utf32le_bom_not_mistaken_for_utf16le():
    # FF FE 00 00: the UTF-32-LE BOM starts with the UTF-16-LE BOM
    raw = codecs.BOM_UTF32_LE + "A".encode("utf-32-le")
    assert charset.detect_charset_ex(raw)[:2] == ("utf-32-le", True)


def test_strict_utf8_and_ascii():
    assert charset.detect_charset_ex(b"plain ascii")[:2] == ("utf-8", False)
    raw = "héllo 世界".encode("utf-8")
    assert charset.detect_charset_ex(raw)[:2] == ("utf-8", False)
    assert charset.transcode(raw)[0] == "héllo 世界"


def test_bomless_utf16_heuristic():
    le = "doc wide text".encode("utf-16-le")
    be = "doc wide text".encode("utf-16-be")
    assert charset.detect_charset_ex(le)[:2] == ("utf-16-le", False)
    assert charset.detect_charset_ex(be)[:2] == ("utf-16-be", False)
    assert charset.transcode(le)[0] == "doc wide text"
    assert charset.transcode(be)[0] == "doc wide text"


def test_latin1_fallback():
    raw = "café à la carte".encode("latin-1")
    assert charset.detect_charset_ex(raw)[:2] == ("latin-1", False)
    assert charset.transcode(raw)[0] == "café à la carte"
    # arbitrary binary junk still lands somewhere deterministic
    assert charset.detect_charset_ex(b"\xff\x00\x01\x02\xfe\x00\x03\x04")[0] in (
        "latin-1", "utf-16-le", "utf-16-be",
    )


def test_empty_payload():
    assert charset.detect_charset_ex(b"")[:2] == ("utf-8", False)
    assert charset.transcode(b"") == ("", "utf-8", False)


def test_spark_operator(spark):
    rows = [
        (0, "plain doc".encode("utf-8")),
        (1, codecs.BOM_UTF8 + "bom doc é".encode("utf-8")),
        (2, codecs.BOM_UTF16_LE + "wide é".encode("utf-16-le")),
        (3, "latiné".encode("latin-1")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in charset.sniff_transcode(df).collect()}
    assert got[0]["encoding"] == "utf-8" and not got[0]["had_bom"]
    assert got[1]["encoding"] == "utf-8" and got[1]["had_bom"]
    assert got[1]["text"] == "bom doc é"
    assert got[1]["n_bytes"] == 3 + len("bom doc é".encode("utf-8"))
    assert got[2]["encoding"] == "utf-16-le" and got[2]["text"] == "wide é"
    assert got[3]["encoding"] == "latin-1" and got[3]["text"] == "latiné"
    assert got[3]["n_chars"] == 6


def test_windows_1252_rung():
    raw = "doc “smart” price €9 — naïve™".encode("cp1252")
    assert charset.detect_charset_ex(raw)[:2] == ("windows-1252", False)
    text, enc, bom = charset.transcode(raw)
    assert text == "doc “smart” price €9 — naïve™"
    # the five undefined cp1252 slots keep Latin-1/C1 identity
    text2, enc2, _ = charset.transcode(b"x \x81 y \xe9")
    assert enc2 == "windows-1252" and text2 == "x \x81 y é"
    # high-byte latin-1 WITHOUT the 0x80-0x9F block stays latin-1
    assert charset.detect_charset_ex("café à".encode("latin-1"))[:2] == (
        "latin-1", False,
    )


def test_nfc_normalize_table(spark):
    rows = [
        (1, "café composed?"),     # decomposed -> composes
        (2, "café composed?"),            # already NFC
        (3, "plain ascii"),
        (4, "å ring"),              # a + combining ring -> å
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in charset.nfc_normalize_table(df).collect()
    }
    assert got[1].text == got[2].text == "café composed?"
    assert got[1].changed and not got[2].changed
    assert (got[1].n_chars_before, got[1].n_chars_after) == (15, 14)
    assert not got[3].changed
    assert got[4].text == "å ring" and got[4].changed


def test_declared_charset_precedence():
    """WHATWG precedence: BOM > transfer-layer label > meta prescan >
    byte heuristics; lying labels fall through via strict validation."""
    import codecs

    # declared label normalizes through the WHATWG table
    raw = "café à la".encode("cp1252")
    assert charset.detect_charset_ex(raw, "ISO-8859-1") == (
        "windows-1252", False, "declared"
    )
    # BOM beats a declared label
    assert charset.detect_charset_ex(
        codecs.BOM_UTF8 + b"x", "shift_jis"
    ) == ("utf-8", True, "bom")
    # lying utf-8 label over cp1252 bytes falls through to the ladder
    enc, _, src = charset.detect_charset_ex(
        "doc “smart” €".encode("cp1252"), "utf-8"
    )
    assert (enc, src) == ("windows-1252", "cp1252")
    # unknown label is ignored
    assert charset.detect_charset_ex(b"plain", "klingon")[2] == "utf8"
    # CJK declared rungs (stdlib codecs)
    for s, label, want in [
        ("日本語", "Shift_JIS", "shift_jis"),
        ("中文内容", "GB2312", "gbk"),
        ("한국어", "EUC-KR", "euc_kr"),
    ]:
        got = charset.detect_charset_ex(
            s.encode(want if want != "gbk" else "gbk"), label
        )
        assert got == (want, False, "declared"), (s, got)
        text, enc, _, _ = charset.transcode_ex(
            s.encode(want), label
        )
        assert text == s


def test_meta_prescan():
    html = (
        '<html><head><meta charset="windows-1251"><title>д</title>'
        "</head><body>документ</body></html>"
    ).encode("cp1251")
    assert charset.detect_charset_ex(html) == ("cp1251", False, "meta")
    # http-equiv form
    html2 = (
        '<html><head><meta http-equiv="Content-Type" '
        'content="text/html; charset=Shift_JIS"></head>'
        "<body>東京テスト</body></html>"
    ).encode("shift_jis")
    assert charset.detect_charset_ex(html2) == (
        "shift_jis", False, "meta"
    )
    # a meta label naming utf-16 means utf-8 (WHATWG prescan rule)
    html3 = b'<meta charset="utf-16"><p>ascii only</p>'
    assert charset.detect_charset_ex(html3) == ("utf-8", False, "meta")
    # prescan window is 1024 bytes: a late meta is not consulted
    late = b"<html>" + b" " * 1100 + b'<meta charset="koi8-r">\xc1'
    assert charset.detect_charset_ex(late)[2] != "meta"


def test_shift_jis_byte_ladder_rung():
    jp = "日本語のテキストです。今日は良い天気。".encode("shift_jis")
    assert charset.detect_charset_ex(jp) == (
        "shift_jis", False, "shift_jis"
    )
    assert charset.transcode(jp)[0].startswith("日本語")
    # western cp1252 text never hits the rung (strict decode or
    # JP-ratio guard rejects)
    for s in ["café à la carte", "naïve résumé", "10° ±5",
              "doc “smart” price €9"]:
        assert charset.detect_charset_ex(s.encode("cp1252"))[0] in (
            "latin-1", "windows-1252"
        ), s


def test_charset_from_content_type():
    f = charset.charset_from_content_type
    assert f("text/html; charset=utf-8") == "utf-8"
    assert f('text/html; charset="ISO-8859-1"') == "ISO-8859-1"
    assert f("text/plain") is None
    assert f(None) is None


def test_declared_cp1252_label_disproved_by_utf8():
    """ADVICE r10: a cp1252-family label over strictly-valid non-ASCII
    UTF-8 bytes is disproved by content (distinct auditable source)."""
    raw = "doc café “q” — naïve".encode("utf-8")
    assert charset.detect_charset_ex(raw, "iso-8859-1") == (
        "utf-8", False, "declared-utf8"
    )
    # same rule on the meta rung
    html = '<meta charset="iso-8859-1"><p>café €</p>'.encode("utf-8")
    assert charset.detect_charset_ex(html) == (
        "utf-8", False, "meta-utf8"
    )
    # pure-ASCII payload: the label is NOT disproved (cp1252 == ascii
    # on that range, honoring it is harmless and HTML5-faithful)
    assert charset.detect_charset_ex(b"plain ascii", "latin-1") == (
        "windows-1252", False, "declared"
    )
    # genuine cp1252 bytes keep the declared rung
    raw2 = "café à la".encode("cp1252")
    assert charset.detect_charset_ex(raw2, "ISO-8859-1") == (
        "windows-1252", False, "declared"
    )
    # transcode path: the disproved label decodes as utf-8, not mojibake
    text, enc, _, src = charset.transcode_ex(raw, "iso-8859-1")
    assert (text, enc, src) == (
        "doc café “q” — naïve", "utf-8", "declared-utf8"
    )


def test_declared_utf16_label_needs_corroboration():
    """ADVICE r10: strict UTF-16 decode is vacuous, so a utf-16 label is
    honored only when the zero-byte pattern corroborates it."""
    # mislabeled: ASCII/UTF-8 bytes under charset=utf-16 fall through
    assert charset.detect_charset_ex(b"hello world!", "utf-16") == (
        "utf-8", False, "utf8"
    )
    assert charset.detect_charset_ex(
        "café “q”".encode("utf-8"), "utf-16le"
    ) == ("utf-8", False, "utf8")
    # genuine BOM-less UTF-16-LE: pattern corroborates the label
    le = "ascii heavy text".encode("utf-16-le")
    assert charset.detect_charset_ex(le, "utf-16") == (
        "utf-16-le", False, "declared"
    )
    be = "ascii heavy text".encode("utf-16-be")
    assert charset.detect_charset_ex(be, "utf-16be") == (
        "utf-16-be", False, "declared"
    )
    # label endianness contradicted by the pattern: fall through to the
    # pattern rung, which decides by the bytes
    assert charset.detect_charset_ex(be, "utf-16le") == (
        "utf-16-be", False, "utf16-pattern"
    )
    # BOM still beats everything
    import codecs as _codecs
    assert charset.detect_charset_ex(
        _codecs.BOM_UTF16_LE + "hi".encode("utf-16-le"), "utf-16be"
    ) == ("utf-16-le", True, "bom")

"""Charset detection + transcoding for the binary-document path — real
corpora are not all UTF-8, and the bytes→text step must pick the right
decode before any text operator runs.

Deterministic detection ladder (every rule exact and replayable —
no confidence scores, no trained models), in the WHATWG Encoding /
HTML5 "determine the character encoding" precedence order:

1. **BOM**: UTF-8 (EF BB BF), UTF-32 LE/BE (FF FE 00 00 / 00 00 FE FF
   — checked before UTF-16, whose LE BOM is a prefix), UTF-16 LE/BE
   (FF FE / FE FF).  A BOM beats every label (HTML5 behavior).
2. **Transfer-layer declaration**: the ``charset=`` parameter of the
   HTTP ``Content-Type`` (when the caller passes it through, e.g.
   from ``warc_payloads.http_content_type``), normalized through a
   WHATWG-subset label table (``iso-8859-1``/``ascii`` → cp1252,
   ``sjis``/``windows-31j`` → shift_jis, …).  Deviation from HTML5,
   documented: the declared decode must validate STRICTLY on the
   payload, else the ladder falls through — real crawls are full of
   wrong labels, and a deterministic conflict rule (declared-unless-
   invalid) is both safer and oracle-replayable.  Two labels need
   stronger rules because their strict decode is vacuous: a
   cp1252-family label (every byte string decodes) is DISPROVED when
   the payload is strictly-valid NUL-free UTF-8 with non-ASCII bytes
   (→ ``utf-8``, source ``declared-utf8``); a UTF-16 label (strict
   decode accepts almost any even-length string) is honored only when
   the zero-byte pattern corroborates the same endianness.
3. **HTML5 ``<meta charset>`` prescan** over the first 1024 bytes
   (covers both ``<meta charset=X>`` and the ``http-equiv`` +
   ``content="…; charset=X"`` form), same label table and same
   strict-validation rule; a meta label naming UTF-16 means UTF-8
   (WHATWG prescan rule — the ASCII-readable meta disproves itself).
4. **Strict UTF-8 validation**: decodes cleanly AND contains no NUL
   byte → ``utf-8`` (ASCII is a subset; the NUL guard keeps BOM-less
   UTF-16 of ASCII — all NULs, yet "valid" UTF-8 — out of this rule).
5. **Zero-byte pattern**: BOM-less UTF-16 of mostly-ASCII text shows
   NUL at every other position — >= 30% NULs on odd offsets →
   ``utf-16-le``, on even offsets → ``utf-16-be`` (even length only).
6. **Shift_JIS rung** (the first multi-byte CJK rung): the payload
   decodes STRICTLY as shift_jis AND the decoded text is visibly
   Japanese — ≥1 char in the kana/CJK blocks (U+3000–30FF,
   U+4E00–9FFF) and at least half of all non-ASCII chars in them.
   Western cp1252 text almost never survives the strict decode
   (accented letter + space/punct is an invalid trail byte), and the
   JP-ratio guard catches the rest; half-width-katakana-only pages
   are deliberately NOT claimed (they alias cp1252 symbol runs).
7. **Windows-1252 / Latin-1 fallback**: every byte sequence decodes.
   Per the HTML5 rule, ``latin-1``-labeled content IS windows-1252:
   when any byte falls in 0x80–0x9F (the cp1252 smart-quote/euro
   range, C1 controls in true Latin-1 — never intentional text) the
   payload is decoded as ``windows-1252`` (undefined slots 0x81/0x8D/
   0x8F/0x90/0x9D keep their Latin-1 identity, HTML5's behavior);
   otherwise plain ``latin-1``.

All byte scans use C-speed primitives (``bytes.count``, strided
slices, compiled ``re`` over bytes) — never per-byte Python loops —
because this sits in the scan-side hot path of every payload.

Reference analogue: none (the reference reads one UTF-8 page);
LLM-training-data extension surface (SURVEY.md §2 extensions).

Scale shape: scan-side ``flat_map`` over the binary column, zero
shuffles — same layout as the PDF/WARC/multimodal tiers.
"""

from __future__ import annotations

import codecs
import re

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_BOMS: tuple[tuple[bytes, str], ...] = (
    (codecs.BOM_UTF8, "utf-8"),
    (codecs.BOM_UTF32_LE, "utf-32-le"),
    (codecs.BOM_UTF32_BE, "utf-32-be"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)

# WHATWG Encoding label table, the subset with stdlib codecs.  Keys are
# normalized labels (lower, trimmed); values are the canonical codec
# name this module reports.  Note the HTML5 identities: iso-8859-1 /
# ascii ARE windows-1252, shift_jis aliases include windows-31j.
_LABELS: dict[str, str] = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "l1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252", "windows-1252": "windows-1252",
    "cp1252": "windows-1252", "x-cp1252": "windows-1252",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis",
    "ms_kanji": "shift_jis", "csshiftjis": "shift_jis",
    "windows-31j": "shift_jis", "ms932": "shift_jis",
    "euc-jp": "euc_jp", "x-euc-jp": "euc_jp", "cseucpkdfmtjapanese": "euc_jp",
    "gbk": "gbk", "gb2312": "gbk", "x-gbk": "gbk",
    "chinese": "gbk", "csgb2312": "gbk", "gb_2312": "gbk",
    "gb18030": "gb18030",
    "euc-kr": "euc_kr", "korean": "euc_kr",
    "ks_c_5601-1987": "euc_kr", "cseuckr": "euc_kr",
    "big5": "big5", "big5-hkscs": "big5hkscs",
    "utf-16": "utf-16-le", "utf-16le": "utf-16-le",
    "utf-16-le": "utf-16-le", "utf-16be": "utf-16-be",
    "utf-16-be": "utf-16-be",
    "koi8-r": "koi8_r", "koi8-u": "koi8_u",
    "windows-1250": "cp1250", "windows-1251": "cp1251",
    "windows-1253": "cp1253", "windows-1254": "cp1254",
    "windows-1255": "cp1255", "windows-1256": "cp1256",
    "windows-1257": "cp1257", "windows-1258": "cp1258",
    "iso-8859-2": "iso8859-2", "iso-8859-5": "iso8859-5",
    "iso-8859-7": "iso8859-7", "iso-8859-9": "iso8859-9",
    "iso-8859-15": "iso8859-15",
    "tis-620": "cp874", "windows-874": "cp874",
}

_CHARSET_PARAM_RE = re.compile(
    r"""charset\s*=\s*["']?\s*([A-Za-z0-9._:\-]+)""", re.I
)
# HTML5 §13.2.3.2 prescan, simplified to one byte-regex: any
# charset= inside a <meta …> tag (covers both attribute forms)
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?\s*([A-Za-z0-9._:\-]+)""",
    re.I,
)
_C1_RANGE_RE = re.compile(rb"[\x80-\x9f]")
_NON_ASCII_RE = re.compile(r"[^\x00-\x7f]")
_NON_ASCII_BYTE_RE = re.compile(rb"[\x80-\xff]")
_JP_RE = re.compile(r"[　-ヿ一-鿿]")


def _canon_label(label: str | None) -> str | None:
    """Normalized label → canonical codec name, None if unknown."""
    if not label:
        return None
    return _LABELS.get(label.strip().strip("\"'").lower())


def charset_from_content_type(ctype: str | None) -> str | None:
    """The raw ``charset=`` parameter value of a Content-Type header
    (RFC 9110 §8.3), or None — NOT label-normalized (detect does)."""
    if not ctype:
        return None
    m = _CHARSET_PARAM_RE.search(ctype)
    return m.group(1) if m else None


def prescan_meta_charset(data: bytes) -> str | None:
    """The HTML5 prescan: the first ``<meta … charset=X`` label inside
    the first 1024 bytes, raw (caller normalizes)."""
    m = _META_CHARSET_RE.search(data[:1024])
    return m.group(1).decode("latin-1") if m else None


def _strict_ok(data: bytes, enc: str) -> bool:
    try:
        data.decode(enc, "strict")
        return True
    except (UnicodeDecodeError, LookupError):
        return False


def _utf16_nul_pattern(data: bytes) -> str | None:
    """``utf-16-le`` / ``utf-16-be`` when the BOM-less zero-byte pattern
    of UTF-16-encoded mostly-ASCII text is present (>= 30% NULs on the
    odd / even offsets respectively, even length), else None.  Shared by
    the pattern rung and the declared-UTF-16 corroboration check."""
    n = len(data)
    if n < 2 or n % 2 != 0:
        return None
    odd_nul = data[1::2].count(0)
    even_nul = data[0::2].count(0)
    half = n // 2
    if odd_nul * 10 >= half * 3 and odd_nul > even_nul:
        return "utf-16-le"
    if even_nul * 10 >= half * 3 and even_nul > odd_nul:
        return "utf-16-be"
    return None


def _utf8_disproves_cp1252_label(data: bytes) -> bool:
    """True when a windows-1252-family label is DISPROVED by the bytes:
    the payload is strictly-valid UTF-8, NUL-free, and contains
    non-ASCII bytes (multi-byte UTF-8 sequences are valid cp1252 too,
    but real cp1252 text virtually never forms them — the classic lying
    label on crawls is UTF-8 served as ``charset=iso-8859-1``)."""
    return (
        _NON_ASCII_BYTE_RE.search(data) is not None
        and data.count(b"\x00") == 0
        and _strict_ok(data, "utf-8")
    )


def _looks_japanese(text: str) -> bool:
    jp = len(_JP_RE.findall(text))
    if jp == 0:
        return False
    non_ascii = len(_NON_ASCII_RE.findall(text))
    return jp * 2 >= non_ascii


def detect_charset_ex(
    data: bytes, declared: str | None = None
) -> tuple[str, bool, str]:
    """(encoding, had_bom, source) for a byte payload, by the module
    ladder; ``source`` names the rung that decided: ``bom`` /
    ``declared`` / ``declared-utf8`` (cp1252-family label disproved by
    strictly-valid non-ASCII UTF-8) / ``meta`` / ``meta-utf8`` /
    ``utf8`` / ``utf16-pattern`` / ``shift_jis`` / ``cp1252`` /
    ``latin-1``.  ``declared`` is a raw transfer-layer label (e.g. the
    Content-Type charset parameter)."""
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc, True, "bom"
    dec = _canon_label(declared)
    if dec is not None:
        if dec == "windows-1252":
            # cp1252-family labels always "validate" (every byte string
            # decodes), so validation can't catch the most common lying
            # label — UTF-8 bytes served as charset=iso-8859-1.  Disprove
            # by content instead: strictly-valid non-ASCII UTF-8 wins,
            # under a distinct source so the deviation stays auditable.
            if _utf8_disproves_cp1252_label(data):
                return "utf-8", False, "declared-utf8"
            return dec, False, "declared"
        if dec in ("utf-16-le", "utf-16-be"):
            # strict UTF-16 accepts almost any even-length byte string
            # (only unpaired surrogates fail), so the validation guard is
            # vacuous — honor the label only when the zero-byte pattern
            # corroborates the SAME endianness (a BOM was handled above);
            # otherwise fall through the ladder.
            if _utf16_nul_pattern(data) == dec:
                return dec, False, "declared"
        elif _strict_ok(data, dec):
            return dec, False, "declared"
    meta = _canon_label(prescan_meta_charset(data))
    if meta is not None:
        if meta in ("utf-16-le", "utf-16-be"):
            meta = "utf-8"  # WHATWG prescan rule
        if meta == "windows-1252":
            # same content-disproof as the declared rung
            if _utf8_disproves_cp1252_label(data):
                return "utf-8", False, "meta-utf8"
            return meta, False, "meta"
        if _strict_ok(data, meta):
            return meta, False, "meta"
    has_nul = data.count(b"\x00") > 0
    if not has_nul:
        # NUL never appears in text; a payload full of NULs that still
        # "validates" as UTF-8 is BOM-less UTF-16/32, not UTF-8
        if _strict_ok(data, "utf-8"):
            return "utf-8", False, "utf8"
    utf16 = _utf16_nul_pattern(data)
    if utf16 is not None:
        return utf16, False, "utf16-pattern"
    if not has_nul:
        try:
            text = data.decode("shift_jis", "strict")
        except UnicodeDecodeError:
            text = None
        if text is not None and _looks_japanese(text):
            return "shift_jis", False, "shift_jis"
    if _C1_RANGE_RE.search(data):
        return "windows-1252", False, "cp1252"
    return "latin-1", False, "latin-1"


# HTML5 windows-1252: the 0x80-0x9F block (undefined slots keep their
# Latin-1/C1 identity, so the translate map only lists defined ones)
_CP1252_MAP = {
    0x80: "€", 0x82: "‚", 0x83: "ƒ", 0x84: "„",
    0x85: "…", 0x86: "†", 0x87: "‡", 0x88: "ˆ",
    0x89: "‰", 0x8a: "Š", 0x8b: "‹", 0x8c: "Œ",
    0x8e: "Ž", 0x91: "‘", 0x92: "’", 0x93: "“",
    0x94: "”", 0x95: "•", 0x96: "–", 0x97: "—",
    0x98: "˜", 0x99: "™", 0x9a: "š", 0x9b: "›",
    0x9c: "œ", 0x9e: "ž", 0x9f: "Ÿ",
}


def transcode_ex(
    data: bytes, declared: str | None = None
) -> tuple[str, str, bool, str]:
    """(text, encoding, had_bom, source) — decode by the detected
    charset, BOM stripped; undecodable bytes in the detected
    non-fallback encodings are replaced, never raising on a single bad
    payload."""
    enc, had_bom, source = detect_charset_ex(data, declared)
    if had_bom:
        for bom, benc in _BOMS:
            if benc == enc and data.startswith(bom):
                data = data[len(bom) :]
                break
    if enc == "windows-1252":
        # latin-1 decode + the cp1252 0x80-0x9F overlay (HTML5 rule;
        # stdlib cp1252 raises on the five undefined slots)
        return (
            data.decode("latin-1").translate(_CP1252_MAP),
            enc,
            had_bom,
            source,
        )
    return data.decode(enc, "replace"), enc, had_bom, source


def transcode(
    data: bytes, declared: str | None = None
) -> tuple[str, str, bool]:
    """(text, encoding, had_bom) — see :func:`transcode_ex`."""
    text, enc, had_bom, _ = transcode_ex(data, declared)
    return text, enc, had_bom


def sniff_transcode(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    declared_col: str | None = None,
) -> DataFrame:
    """(id, encoding, had_bom, n_bytes, n_chars, text) per binary
    payload — the bytes→text entry step of the curation funnel.

    With ``declared_col`` (a transfer-layer label column — pass
    ``http_content_type`` straight from ``warc_payloads``; the
    ``charset=`` parameter is extracted here), the declared rung of
    the ladder is live and the output gains ``source``, the rung that
    decided (the declared-vs-actual conflict audit column)."""
    declared_src = declared_col is not None
    schema = (
        f"{id_col} long, encoding string, "
        + ("source string, " if declared_src else "")
        + "had_bom boolean, n_bytes long, n_chars int, text string"
    )
    sel = [id_col, bin_col] + ([declared_col] if declared_src else [])

    def _run(rid, payload, decl=None):
        raw = payload or b""
        label = charset_from_content_type(decl) if decl is not None else None
        text, enc, had_bom, source = transcode_ex(raw, label)
        head = (rid, enc, source) if declared_src else (rid, enc)
        return [head + (had_bom, len(raw), len(text), text)]

    return flat_map(df, sel, schema, _run)


def nfc_normalize_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unicode NFC canonical composition — the normalization step that
    makes canonically-EQUIVALENT text (composed é vs e+U+0301, the
    classic copy-paste/OCR divergence) byte-identical before any
    hash-keyed dedup; without it, exact dedup silently splits
    equivalent documents.

    No JVM builtin exists for Unicode normalization in Spark SQL, so
    this is a ``flat_map`` row function (``unicodedata.normalize`` —
    stdlib, deterministic, the same table DuckDB's nfc_normalize
    implements); it belongs at the bytes→text edge next to
    :func:`sniff_transcode`, ONCE per document, not in any hot
    aggregate.  Returns (id, n_chars_before, n_chars_after, changed,
    text) with ``text`` in NFC."""
    import unicodedata

    schema = (
        f"{id_col} long, n_chars_before int, n_chars_after int, "
        "changed boolean, text string"
    )

    def _run(rid, t):
        s = str(t or "")
        n = unicodedata.normalize("NFC", s)
        return [(rid, len(s), len(n), n != s, n)]

    return flat_map(df, [id_col, text_col], schema, _run)

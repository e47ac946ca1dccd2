"""PDF text extraction — the dominant messy SOURCE format of real
training-data corpora, as a pure-stdlib edge-ingestion tier.

What a curation pipeline needs from a PDF is the TEXT (then the usual
quality → lang-ID → dedup funnel takes over); everything here is the
public PDF spec (ISO 32000-1) and ``zlib``:

- :func:`extract_pdf_text` — real parse: indirect-object scan
  (``N G obj … endobj``), minimal object grammar (dicts, arrays,
  names, numbers, refs, strings), Pages-tree walk from the catalog
  (``/Root → /Pages → /Kids``, nested tree nodes handled, falls back
  to scan order when the trailer is missing), per-page ``/Contents``
  resolution (single ref or array, concatenated per spec),
  ``/FlateDecode`` stream inflation, and a content-stream tokenizer
  that executes the TEXT operators: ``Tj``, ``'``, ``"``, ``TJ``
  (kern numbers skipped), with ``Td/TD/T*/Tm`` line breaks.  Literal
  strings handle the full escape grammar (backslash escapes, octal,
  line continuations, nested parens) and hex strings decode per
  §7.3.4.3 (odd final digit padded with 0).
- :func:`pdf_text` — the Spark operator: one row per PAGE, scan-side
  ``flat_map`` (Arrow-batched, zero shuffles) — the q238/q251
  shape: bytes are parsed where they already are, only extracted text
  enters the plan.
- :func:`encode_pdf_fixture` — a VALID minimal PDF writer (catalog,
  pages tree, Type1 font, per-page content streams, optional Flate
  compression, correct xref table + trailer), the oracle fixture
  generator (q217's pattern): planted page texts round-trip through
  the real parse path.

Documented scope bounds (explicit, not silent): ``/FlateDecode``,
``/LZWDecode`` (TIFF variant, EarlyChange honored, Clear restarts),
``/ASCII85Decode``, ``/ASCIIHexDecode`` (chains too) and plain streams
are decoded; PDF 1.5 object streams (``/ObjStm``) are exploded, so
modern xref-stream files parse (``DCTDecode``/``CCITT``/JBIG2 raise —
image filters, not text; LZW predictors raise); simple fonts decode
through their declared /Encoding — /WinAnsiEncoding,
/MacRomanEncoding, and encoding dicts with /BaseEncoding +
/Differences arrays (glyph names via an Adobe-Glyph-List subset plus
the algorithmic uniXXXX/uXXXXXX rules) — falling back to Latin-1 when
no /Encoding is present; composite (``/Type0``) fonts decode via
their embedded /ToUnicode CMap (see ``_parse_tounicode_cmap``), and
without one come out garbled exactly as with every CMap-less
extractor; standard-security encryption with an EMPTY user password —
the owner-locked-but-readable majority of encrypted crawl PDFs — is
decrypted for RC4 V1/V2 (R2/R3) AND the V4 crypt-filter cases
/AESV2 (AES-128-CBC — the cipher is DERIVED from FIPS 197, S-box from
its GF(2^8) definition, and known-answer-tested) and /V2 (Algorithms
2–5, per-object keys incl. the AES ``sAlT`` salt, §7.6);
AESV3 (/V 5), non-empty user passwords, non-StdCF stream filters, and
encrypted object-stream layouts raise with distinct messages;
predefined CMap names (ordering-based, external data) raise.

Reference analogue: none — the reference ETL ingests XLSX/HTML only
(``pipeline/load_data.py``); this extends the engine's edge-ingestion
surface next to ``sources/excel.py`` and ``sources/html_table.py``.

Scale posture: per-row parse of an opaque binary column; the plan is
scan → flat_map with zero exchanges, and page fan-out is bounded by
``max_pages``.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")

# literal-string escapes (§7.3.4.2)
_ESCAPES = {
    ord("n"): ord("\n"), ord("r"): ord("\r"), ord("t"): ord("\t"),
    ord("b"): ord("\b"), ord("f"): ord("\f"),
    ord("("): ord("("), ord(")"): ord(")"), ord("\\"): ord("\\"),
}

_WHITE = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def _skip_ws(b: bytes, i: int) -> int:
    while i < len(b) and (
        b[i : i + 1] in (b" ", b"\t", b"\r", b"\n", b"\x0c", b"\x00")
        or b[i : i + 1] == b"%"
    ):
        if b[i : i + 1] == b"%":  # comment to EOL
            while i < len(b) and b[i] not in (10, 13):
                i += 1
        else:
            i += 1
    return i


def _parse_value(b: bytes, i: int):
    """Parse one PDF object value at ``i``; returns (value, next_i).
    Values: dict, list, name str ('/x'), ('ref', n) tuple, int/float,
    bytes (strings), True/False/None."""
    i = _skip_ws(b, i)
    if i >= len(b):
        raise ValueError("corrupt PDF: unexpected end of object")
    c = b[i : i + 1]
    if b[i : i + 2] == b"<<":
        i += 2
        d = {}
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 2] == b">>":
                return d, i + 2
            if b[i : i + 1] != b"/":
                raise ValueError("corrupt PDF: dict key is not a name")
            key, i = _parse_name(b, i)
            val, i = _parse_value(b, i)
            d[key] = val
    if c == b"[":
        i += 1
        out = []
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 1] == b"]":
                return out, i + 1
            v, i = _parse_value(b, i)
            out.append(v)
    if c == b"/":
        return _parse_name(b, i)
    if c == b"(":
        return _parse_literal_string(b, i)
    if c == b"<":
        return _parse_hex_string(b, i)
    if b[i : i + 4] == b"true":
        return True, i + 4
    if b[i : i + 5] == b"false":
        return False, i + 5
    if b[i : i + 4] == b"null":
        return None, i + 4
    # number — or an indirect reference "n g R"
    m = re.match(rb"[+-]?(?:\d+\.\d*|\.\d+|\d+)", b[i:])
    if not m:
        raise ValueError(f"corrupt PDF: unparseable token at {i}")
    tok = m.group(0)
    j = i + len(tok)
    if b"." not in tok:
        mref = re.match(rb"\s+(\d+)\s+R\b", b[j:])
        if mref:
            return ("ref", int(tok)), j + mref.end()
        return int(tok), j
    return float(tok), j


def _parse_name(b: bytes, i: int):
    assert b[i : i + 1] == b"/"
    i += 1
    out = bytearray()
    while i < len(b) and b[i] not in _WHITE and b[i : i + 1] not in (
        b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%",
    ):
        if b[i : i + 1] == b"#" and i + 2 < len(b):
            out.append(int(b[i + 1 : i + 3], 16))
            i += 3
        else:
            out.append(b[i])
            i += 1
    return "/" + out.decode("latin-1"), i


def _parse_literal_string(b: bytes, i: int):
    assert b[i : i + 1] == b"("
    i += 1
    out = bytearray()
    depth = 1
    while i < len(b):
        ch = b[i]
        if ch == 0x5C:  # backslash
            i += 1
            if i >= len(b):
                break
            e = b[i]
            if e in _ESCAPES:
                out.append(_ESCAPES[e])
                i += 1
            elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                oct_digits = bytearray([e])
                i += 1
                while (
                    len(oct_digits) < 3
                    and i < len(b)
                    and 0x30 <= b[i] <= 0x37
                ):
                    oct_digits.append(b[i])
                    i += 1
                out.append(int(oct_digits, 8) & 0xFF)
            elif e in (10, 13):  # line continuation
                i += 1
                if e == 13 and i < len(b) and b[i] == 10:
                    i += 1
            else:  # lone backslash: drop it, keep the char
                out.append(e)
                i += 1
            continue
        if ch == 0x28:  # (
            depth += 1
        elif ch == 0x29:  # )
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out.append(ch)
        i += 1
    raise ValueError("corrupt PDF: unterminated literal string")


def _parse_hex_string(b: bytes, i: int):
    assert b[i : i + 1] == b"<"
    j = b.find(b">", i + 1)
    if j < 0:
        raise ValueError("corrupt PDF: unterminated hex string")
    digits = bytes(
        c for c in b[i + 1 : j] if c not in _WHITE
    )
    if len(digits) % 2:
        digits += b"0"  # §7.3.4.3: odd final digit padded with 0
    return bytes.fromhex(digits.decode("ascii")), j + 1


def _scan_objects(data: bytes) -> dict[int, tuple[dict | object, bytes | None]]:
    """All indirect objects by number: (value, stream_bytes|None).
    Stream extents use /Length — direct ints immediately, indirect
    references in a second pass once every object is indexed (writers
    that stream data of unknown size put the length object *after* the
    stream, §7.3.8.2 note).  Only when /Length is absent or its target
    missing does the scan fall back to the next ``endstream`` — that
    heuristic truncates binary streams that contain the token or end in
    CR/LF, so it is strictly last-resort."""
    objs: dict[int, tuple[object, bytes | None]] = {}
    pending: list[tuple[int, dict, int]] = []  # (num, dict, stream start)
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        i = m.end()
        try:
            val, j = _parse_value(data, i)
        except ValueError:
            continue
        stream = None
        k = _skip_ws(data, j)
        if data[k : k + 6] == b"stream":
            k += 6
            if data[k : k + 2] == b"\r\n":
                k += 2
            elif data[k : k + 1] == b"\n":
                k += 1
            ln = val.get("/Length") if isinstance(val, dict) else None
            if isinstance(ln, int):
                stream = data[k : k + ln]
            else:
                pending.append((num, val, k))
        objs[num] = (val, stream)
    if not objs:
        raise ValueError("corrupt PDF: no indirect objects found")
    for num, val, k in pending:
        ln = None
        try:
            ln = _resolve(objs, val.get("/Length"))
        except ValueError:
            pass
        if isinstance(ln, int):
            objs[num] = (val, data[k : k + ln])
        else:
            e = data.find(b"endstream", k)
            if e < 0:
                raise ValueError("corrupt PDF: unterminated stream")
            objs[num] = (val, data[k:e].rstrip(b"\r\n"))
    # PDF 1.5 object streams (/Type /ObjStm, §7.5.7): non-stream
    # objects packed inside a compressed stream — the storage modern
    # writers default to.  Explode them: header is N (objnum, offset)
    # integer pairs, bodies start at /First.
    for num, (val, stream) in list(objs.items()):
        if not (
            isinstance(val, dict)
            and val.get("/Type") == "/ObjStm"
            and stream is not None
        ):
            continue
        data = _decode_stream(val, stream)
        n = val.get("/N")
        first = val.get("/First")
        if not isinstance(n, int) or not isinstance(first, int):
            raise ValueError("corrupt PDF: ObjStm lacks /N or /First")
        pos = 0
        pairs = []
        for _ in range(2 * n):
            pos = _skip_ws(data, pos)
            m2 = re.match(rb"\d+", data[pos:])
            if not m2:
                raise ValueError("corrupt PDF: bad ObjStm header")
            pairs.append(int(m2.group(0)))
            pos += m2.end()
        for k in range(n):
            onum, ooff = pairs[2 * k], pairs[2 * k + 1]
            oval, _ = _parse_value(data, first + ooff)
            objs.setdefault(onum, (oval, None))
    return objs


def _resolve(objs, v):
    seen = 0
    while isinstance(v, tuple) and len(v) == 2 and v[0] == "ref":
        if v[1] not in objs:
            raise ValueError(f"corrupt PDF: missing object {v[1]}")
        v = objs[v[1]][0]
        seen += 1
        if seen > 32:
            raise ValueError("corrupt PDF: reference cycle")
    return v


def _page_order(objs) -> list[int]:
    """Page object numbers in document order via the Pages tree; falls
    back to scan order over /Type /Page objects."""
    root_pages = None
    for num, (val, _s) in objs.items():
        if isinstance(val, dict) and val.get("/Type") == "/Catalog":
            pages_ref = val.get("/Pages")
            if isinstance(pages_ref, tuple):
                root_pages = pages_ref[1]
            break
    order: list[int] = []

    def walk(num: int, depth: int = 0) -> None:
        if depth > 64:
            raise ValueError("corrupt PDF: Pages tree too deep")
        val, _s = objs.get(num, (None, None))
        if not isinstance(val, dict):
            return
        if _resolve(objs, val.get("/Type")) == "/Page":
            order.append(num)
            return
        # /Kids may itself be an indirect reference to the array
        kids = _resolve(objs, val.get("/Kids", []))
        for kid in kids or []:
            if isinstance(kid, tuple) and kid[0] == "ref":
                walk(kid[1], depth + 1)

    if root_pages is not None:
        walk(root_pages)
    if not order:
        order = [
            num
            for num, (val, _s) in sorted(objs.items())
            if isinstance(val, dict) and val.get("/Type") == "/Page"
        ]
    return order


def _ascii85_decode(raw: bytes) -> bytes:
    """ASCII85Decode (§7.4.3): base-85 groups, ``z`` shorthand for four
    zero bytes, ``~>`` EOD, whitespace ignored."""
    body = raw.split(b"~>")[0]
    if body.startswith(b"<~"):
        body = body[2:]
    import base64

    try:
        return base64.a85decode(
            bytes(c for c in body if c not in _WHITE), adobe=False
        )
    except ValueError as exc:
        raise ValueError(f"corrupt PDF: bad ASCII85 stream ({exc})")


def _asciihex_decode(raw: bytes) -> bytes:
    """ASCIIHexDecode (§7.4.2): hex pairs to EOD ``>``, whitespace
    ignored, odd final digit padded with 0."""
    body = raw.split(b">")[0]
    digits = bytes(c for c in body if c not in _WHITE)
    if len(digits) % 2:
        digits += b"0"
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError as exc:
        raise ValueError(f"corrupt PDF: bad ASCIIHex stream ({exc})")


def _lzw_decode(raw: bytes, early: int = 1) -> bytes:
    """LZWDecode (§7.4.4 — the TIFF variant): 9→12-bit MSB-first
    codes, Clear=256, EOD=257, EarlyChange default 1 (code width grows
    one code early)."""
    out = bytearray()
    table: dict[int, bytes] = {}
    next_code = 258
    width = 9
    prev: bytes | None = None
    bitpos = 0
    total = len(raw) * 8

    def base_table():
        return {i: bytes([i]) for i in range(256)}

    table = base_table()
    while bitpos + width <= total:
        code = 0
        for k in range(width):
            p = bitpos + k
            code = (code << 1) | ((raw[p >> 3] >> (7 - (p & 7))) & 1)
        bitpos += width
        if code == 256:
            table = base_table()
            next_code = 258
            width = 9
            prev = None
            continue
        if code == 257:
            return bytes(out)
        if prev is None:
            if code > 255:
                raise ValueError("corrupt PDF: LZW stream starts mid-table")
            entry = table[code]
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]
        else:
            raise ValueError("corrupt PDF: invalid LZW code")
        out += entry
        if prev is not None:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) - early and width < 12:
                width += 1
        prev = entry
    raise ValueError("corrupt PDF: LZW stream missing EOD")


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """Exact inverse of :func:`_lzw_decode` (fixture side)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    bits: list[int] = []

    def emit(code: int) -> None:
        for k in range(width - 1, -1, -1):
            bits.append((code >> k) & 1)

    emit(256)  # Clear
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags one entry at read time, so the
        # encoder's width bump fires one entry later than the
        # decoder's (next_code - early) condition
        if next_code == (1 << width) + 1 - early and width < 12:
            width += 1
        elif width == 12 and next_code == (1 << 12) - early:
            # table full at 12 bits: Clear and restart (§7.4.4.2)
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = bytes([byte])
    if w:
        emit(table[w])
    emit(257)  # EOD
    while len(bits) % 8:
        bits.append(0)
    out = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for b in bits[i : i + 8]:
            v = (v << 1) | b
        out.append(v)
    return bytes(out)


def _decode_stream(d: dict, raw: bytes) -> bytes:
    filt = d.get("/Filter")
    if filt is None:
        return raw
    filters = filt if isinstance(filt, list) else [filt]
    out = raw
    for f in filters:
        if f == "/FlateDecode":
            try:
                out = zlib.decompress(out)
            except zlib.error as exc:
                raise ValueError(f"corrupt PDF: bad Flate stream ({exc})")
        elif f == "/ASCII85Decode":
            out = _ascii85_decode(out)
        elif f == "/ASCIIHexDecode":
            out = _asciihex_decode(out)
        elif f == "/LZWDecode":
            parms = d.get("/DecodeParms") or {}
            if isinstance(parms, dict) and parms.get("/Predictor", 1) != 1:
                raise ValueError("PDF LZW predictors unsupported")
            out = _lzw_decode(
                out,
                early=(
                    parms.get("/EarlyChange", 1)
                    if isinstance(parms, dict)
                    else 1
                ),
            )
        else:
            raise ValueError(
                f"PDF filter {f} unsupported (text tier decodes "
                "/FlateDecode, /LZWDecode, /ASCII85Decode, "
                "/ASCIIHexDecode and plain streams)"
            )
    return out


def _utf16be_hex_to_str(h: bytes) -> str:
    """UTF-16BE hex (the ToUnicode dst encoding, §9.10.3) → str."""
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode("ascii")).decode("utf-16-be", "replace")


def _parse_tounicode_cmap(data: bytes) -> tuple[int, dict[int, str]]:
    """A /ToUnicode CMap stream (§9.10.3) → (code byte-width, code→text
    map).  Handles codespacerange (width), bfchar pairs, and both
    bfrange forms — ``<lo> <hi> <dstStart>`` (increment the LAST
    UTF-16 code unit) and ``<lo> <hi> [<dst> ...]`` (explicit array).
    Composite (CID) fonts — the dominant real-world case — need this
    map for any text extraction at all."""
    width = 2
    m = re.search(rb"begincodespacerange(.*?)endcodespacerange", data, re.S)
    if m:
        h = re.search(rb"<([0-9A-Fa-f]+)>", m.group(1))
        if h:
            width = max(1, len(h.group(1)) // 2)
    mapping: dict[int, str] = {}
    for sec in re.finditer(rb"beginbfchar(.*?)endbfchar", data, re.S):
        toks = re.findall(rb"<([0-9A-Fa-f]+)>", sec.group(1))
        for k in range(0, len(toks) - 1, 2):
            mapping[int(toks[k], 16)] = _utf16be_hex_to_str(toks[k + 1])
    entry_re = re.compile(
        rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
        rb"(\[[^\]]*\]|<[0-9A-Fa-f]+>)",
        re.S,
    )
    for sec in re.finditer(rb"beginbfrange(.*?)endbfrange", data, re.S):
        for em in entry_re.finditer(sec.group(1)):
            lo, hi = int(em.group(1), 16), int(em.group(2), 16)
            if hi < lo or hi - lo > 0xFFFF:
                raise ValueError("corrupt PDF: bad bfrange extent")
            dst = em.group(3)
            if dst.startswith(b"["):
                dsts = re.findall(rb"<([0-9A-Fa-f]+)>", dst)
                for k, code in enumerate(range(lo, hi + 1)):
                    if k < len(dsts):
                        mapping[code] = _utf16be_hex_to_str(dsts[k])
            else:
                base = bytes.fromhex(dst.strip(b"<>").decode("ascii"))
                if len(base) % 2:
                    base += b"\x00"
                units = [
                    int.from_bytes(base[k : k + 2], "big")
                    for k in range(0, len(base), 2)
                ]
                for off, code in enumerate(range(lo, hi + 1)):
                    u = units[:-1] + [units[-1] + off]
                    mapping[code] = b"".join(
                        x.to_bytes(2, "big") for x in u
                    ).decode("utf-16-be", "replace")
    return width, mapping


# --- simple-font encodings (§9.6.5 + Annex D) -----------------------------
# WinAnsiEncoding is cp1252 (the five undefined cp1252 slots keep the
# Latin-1 identity, matching the charset module's HTML5 rule);
# MacRomanEncoding is the stdlib mac_roman table.  Built once, 256
# entries each.


def _byte_table(codec: str) -> dict[int, str]:
    out = {}
    for b in range(256):
        try:
            out[b] = bytes([b]).decode(codec)
        except UnicodeDecodeError:
            out[b] = chr(b)  # undefined slot: Latin-1 identity
    return out


_ENC_TABLES = {
    "/WinAnsiEncoding": _byte_table("cp1252"),
    "/MacRomanEncoding": _byte_table("mac_roman"),
}

# Adobe Glyph List subset for /Differences names: the ASCII names, the
# Latin-1/WinAnsi repertoire, and the algorithmic uniXXXX / uXXXX[XX]
# rules (AGL specification §3) — names outside both map to U+FFFD,
# never raising on one odd glyph.
_AGL = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "exclamdown": "¡", "cent": "¢", "sterling": "£",
    "currency": "¤", "yen": "¥", "brokenbar": "¦", "section": "§",
    "dieresis": "¨", "copyright": "©", "ordfeminine": "ª",
    "guillemotleft": "«", "logicalnot": "¬", "registered": "®",
    "macron": "¯", "degree": "°", "plusminus": "±",
    "acute": "´", "mu": "µ", "paragraph": "¶", "periodcentered": "·",
    "cedilla": "¸", "ordmasculine": "º", "guillemotright": "»",
    "onequarter": "¼", "onehalf": "½", "threequarters": "¾",
    "questiondown": "¿", "multiply": "×", "divide": "÷",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê",
    "Edieresis": "Ë", "Igrave": "Ì", "Iacute": "Í",
    "Icircumflex": "Î", "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
    "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô", "Otilde": "Õ",
    "Odieresis": "Ö", "Oslash": "Ø", "Ugrave": "Ù", "Uacute": "Ú",
    "Ucircumflex": "Û", "Udieresis": "Ü", "Yacute": "Ý",
    "Thorn": "Þ", "germandbls": "ß",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê",
    "edieresis": "ë", "igrave": "ì", "iacute": "í",
    "icircumflex": "î", "idieresis": "ï", "eth": "ð", "ntilde": "ñ",
    "ograve": "ò", "oacute": "ó", "ocircumflex": "ô", "otilde": "õ",
    "odieresis": "ö", "oslash": "ø", "ugrave": "ù", "uacute": "ú",
    "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
    "thorn": "þ", "ydieresis": "ÿ",
    "Euro": "€", "bullet": "•", "dagger": "†", "daggerdbl": "‡",
    "ellipsis": "…", "emdash": "—", "endash": "–", "florin": "ƒ",
    "fraction": "⁄", "guilsinglleft": "‹", "guilsinglright": "›",
    "minus": "−", "perthousand": "‰", "quotedblbase": "„",
    "quotedblleft": "“", "quotedblright": "”", "quoteleft": "‘",
    "quoteright": "’", "quotesinglbase": "‚", "trademark": "™",
    "fi": "ﬁ", "fl": "ﬂ", "OE": "Œ", "oe": "œ", "Scaron": "Š",
    "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž", "zcaron": "ž",
    "circumflex": "ˆ", "tilde": "˜", "dotlessi": "ı",
    "breve": "˘", "dotaccent": "˙", "ring": "˚", "ogonek": "˛",
    "hungarumlaut": "˝", "caron": "ˇ",
}
_UNI_RE = re.compile(r"^uni([0-9A-Fa-f]{4})$")
_U_RE = re.compile(r"^u([0-9A-Fa-f]{4,6})$")


def _glyph_char(name: str) -> str:
    """One glyph name (leading '/' stripped) → its character, via the
    AGL subset then the algorithmic uniXXXX/uXXXXXX rules."""
    if name in _AGL:
        return _AGL[name]
    m = _UNI_RE.match(name) or _U_RE.match(name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            return "�"
    return "�"


def _simple_font_map(objs, fobj: dict) -> dict[int, str] | None:
    """The 256-entry code→char table of a simple font's /Encoding —
    a base-encoding NAME (/WinAnsiEncoding, /MacRomanEncoding) or an
    encoding DICT with /BaseEncoding + /Differences (§9.6.5.3: an int
    sets the next code, each following name assigns and increments).
    None when the font has no /Encoding (the Latin-1 default path);
    an unknown base name also falls back to Latin-1 (conservative)."""
    enc = _resolve(objs, fobj.get("/Encoding"))
    if enc is None:
        return None
    if isinstance(enc, str):
        return _ENC_TABLES.get(enc)
    if not isinstance(enc, dict):
        return None
    base = enc.get("/BaseEncoding")
    table = dict(
        _ENC_TABLES.get(base) or {b: chr(b) for b in range(256)}
    )
    diffs = _resolve(objs, enc.get("/Differences"))
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, str) and item.startswith("/"):
                if 0 <= code <= 255:
                    table[code] = _glyph_char(item[1:])
                code += 1
    return table


def _page_fonts(objs, pval: dict) -> dict[str, tuple[int, dict[int, str]]]:
    """Font-name → decode map for a page — a /ToUnicode CMap when the
    font embeds one, else the simple-font /Encoding table
    (WinAnsi / MacRoman / Differences); /Resources may be
    inherited from an ancestor Pages node (§7.7.3.4)."""
    res = None
    node: dict | None = pval
    for _ in range(32):
        if not isinstance(node, dict):
            break
        if "/Resources" in node:
            res = _resolve(objs, node["/Resources"])
            break
        par = node.get("/Parent")
        node = _resolve(objs, par) if par is not None else None
    if not isinstance(res, dict):
        return {}
    fdict = _resolve(objs, res.get("/Font"))
    if not isinstance(fdict, dict):
        return {}
    fonts: dict[str, tuple[int, dict[int, str]]] = {}
    for name, ref in fdict.items():
        fobj = _resolve(objs, ref)
        if not isinstance(fobj, dict):
            continue
        tu = fobj.get("/ToUnicode")
        if isinstance(tu, tuple) and tu[0] == "ref":
            cval, craw = objs.get(tu[1], (None, None))
            if craw is not None:
                fonts[name] = _parse_tounicode_cmap(
                    _decode_stream(cval, craw)
                )
                continue
        simple = _simple_font_map(objs, fobj)
        if simple is not None:
            fonts[name] = (1, simple)
    return fonts


def _content_text(
    content: bytes,
    fonts: dict[str, tuple[int, dict[int, str]]] | None = None,
) -> str:
    """Execute the text-showing operators of one content stream.
    ``fonts`` carries per-font ToUnicode maps; string operands of a
    mapped font decode code-by-code through the CMap, everything else
    through the simple-font Latin-1 path."""
    i = 0
    parts: list[str] = []
    stack: list[object] = []  # operand stack (strings/arrays/numbers)
    cur_font: list[str | None] = [None]

    def newline() -> None:
        if parts and parts[-1] != "\n":
            parts.append("\n")

    def show(sb: bytes) -> None:
        fm = fonts.get(cur_font[0]) if fonts and cur_font[0] else None
        if fm is None:
            parts.append(sb.decode("latin-1"))
            return
        width, mapping = fm
        parts.append(
            "".join(
                mapping.get(
                    int.from_bytes(sb[j : j + width], "big"), "�"
                )
                for j in range(0, len(sb) - width + 1, width)
            )
        )

    n = len(content)
    while i < n:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i : i + 1]
        if c == b"(":
            s, i = _parse_literal_string(content, i)
            stack.append(s)
        elif c == b"<" and content[i : i + 2] != b"<<":
            s, i = _parse_hex_string(content, i)
            stack.append(s)
        elif c == b"<":
            d, i = _parse_value(content, i)  # inline dict (e.g. BDC)
            stack.append(d)
        elif c == b"[":
            arr, i = _parse_value(content, i)
            stack.append(arr)
        elif c == b"/":
            name, i = _parse_name(content, i)
            stack.append(name)
        elif re.match(rb"[+-.\d]", c):
            v, i = _parse_value(content, i)
            stack.append(v)
        else:
            m = re.match(rb"[A-Za-z'\"*]+", content[i:])
            if not m:
                i += 1  # unknown byte: skip
                continue
            op = m.group(0)
            i += len(op)
            if op == b"Tj" and stack and isinstance(stack[-1], bytes):
                show(stack[-1])
            elif op == b"'" and stack and isinstance(stack[-1], bytes):
                newline()
                show(stack[-1])
            elif op == b'"' and stack and isinstance(stack[-1], bytes):
                newline()
                show(stack[-1])
            elif op == b"TJ" and stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)  # kern numbers skipped by design
            elif op == b"Tf":
                # /FontName size Tf: switch the active font
                if len(stack) >= 2 and isinstance(stack[-2], str):
                    cur_font[0] = stack[-2]
            elif op in (b"Td", b"TD"):
                # vertical move => line break (ty operand is on top)
                if (
                    len(stack) >= 2
                    and isinstance(stack[-1], (int, float))
                    and stack[-1] != 0
                ):
                    newline()
            elif op == b"T*":
                newline()
            elif op == b"Tm":
                newline()
            elif op == b"BI":
                # inline image: skip to EI (binary payload)
                e = content.find(b"EI", i)
                if e < 0:
                    raise ValueError("corrupt PDF: unterminated inline image")
                i = e + 2
            stack.clear()
    return "".join(parts).strip("\n")


# --- standard security handler (§7.6.3, RC4 V1/V2) ------------------
# The empty-user-password case — the overwhelming majority of
# encrypted PDFs in crawls are owner-locked but READABLE.  Pure spec:
# Algorithm 2 (file key), 3 (/O), 4/5 (/U), per-object RC4 keys
# (§7.6.2).  AES (/V 4+, crypt filters) and non-empty user passwords
# raise with a distinct message (documented bounds).

_ENC_PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def _md5(b: bytes) -> bytes:
    import hashlib

    return hashlib.md5(b).digest()


def _rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, ch in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = ch ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _enc_file_key(
    r: int, n: int, o: bytes, p: int, file_id: bytes,
    password: bytes = b"",
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the (user) password."""
    pw = (password + _ENC_PAD)[:32]
    h = _md5(
        pw + o[:32] + (p & 0xFFFFFFFF).to_bytes(4, "little") + file_id
        + (b"" if encrypt_metadata or r < 4 else b"\xff\xff\xff\xff")
    )
    if r >= 3:
        for _ in range(50):
            h = _md5(h[:n])
    return h[:n]


def _enc_compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O entry."""
    h = _md5((owner_pw + _ENC_PAD)[:32])
    if r >= 3:
        for _ in range(50):
            h = _md5(h)
    key = h[:n]
    o = (user_pw + _ENC_PAD)[:32]
    if r == 2:
        return _rc4(key, o)
    for i in range(20):
        o = _rc4(bytes(b ^ i for b in key), o)
    return o


def _enc_compute_u(key: bytes, r: int, file_id: bytes) -> bytes:
    """Algorithm 4 (R2) / 5 (R3): the /U entry (R3 padded to 32;
    only the first 16 bytes are significant for the check)."""
    if r == 2:
        return _rc4(key, _ENC_PAD)
    u = _rc4(key, _md5(_ENC_PAD + file_id))
    for i in range(1, 20):
        u = _rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def _enc_obj_key(key: bytes, num: int, gen: int = 0, aes: bool = False) -> bytes:
    """§7.6.2: the per-object key (RC4, or AESV2 with the ``sAlT``
    suffix)."""
    h = _md5(
        key + (num & 0xFFFFFF).to_bytes(3, "little")
        + (gen & 0xFFFF).to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    )
    return h[: min(len(key) + 5, 16)]


# --- AES-128 (FIPS 197), pure stdlib ---------------------------------
# No table is transcribed from anywhere: the S-box is DERIVED from its
# definition (multiplicative inverse in GF(2^8) followed by the affine
# transform), so correctness is anchored by math + the FIPS-197
# Appendix C known-answer test in tests/test_pdf.py — not by this
# author's memory.  Needed for the PDF AESV2 crypt filter (§7.6.2).


def _gmul(a: int, b: int) -> int:
    p = 0
    while b:
        if b & 1:
            p ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return p


def _aes_tables():
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gmul(x, y) == 1:
                inv[x] = y
                break
    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        s = 0
        for i in range(8):
            bit = (
                (b >> i) ^ (b >> ((i + 4) % 8)) ^ (b >> ((i + 5) % 8))
                ^ (b >> ((i + 6) % 8)) ^ (b >> ((i + 7) % 8))
                ^ (0x63 >> i)
            ) & 1
            s |= bit << i
        sbox[x] = s
    inv_sbox = [0] * 256
    for x, s in enumerate(sbox):
        inv_sbox[s] = x
    return sbox, inv_sbox


_AES_SBOX, _AES_INV_SBOX = _aes_tables()
# 256-entry GF(2^8) multiplication tables for the MixColumns constants
# — the per-byte _gmul call chain dominates otherwise
_MUL = {m: [_gmul(x, m) for x in range(256)] for m in (2, 3, 9, 11, 13, 14)}


def _aes128_expand(key: bytes) -> list[list[int]]:
    w = [list(key[i : i + 4]) for i in range(0, 16, 4)]
    rcon = 1
    for i in range(4, 44):
        t = list(w[i - 1])
        if i % 4 == 0:
            t = t[1:] + t[:1]
            t = [_AES_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = _gmul(rcon, 2)
        w.append([a ^ b for a, b in zip(w[i - 4], t)])
    return [sum(w[r : r + 4], []) for r in range(0, 44, 4)]


def _aes128_decrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    s = [list(block[c * 4 : c * 4 + 4]) for c in range(4)]  # columns
    def add(k):
        for c in range(4):
            for r in range(4):
                s[c][r] ^= k[c * 4 + r]
    add(rk[10])
    for rnd in range(9, -1, -1):
        # InvShiftRows: row r rotates RIGHT by r
        for r in range(1, 4):
            col = [s[c][r] for c in range(4)]
            col = col[-r:] + col[:-r]
            for c in range(4):
                s[c][r] = col[c]
        for c in range(4):
            for r in range(4):
                s[c][r] = _AES_INV_SBOX[s[c][r]]
        add(rk[rnd])
        if rnd > 0:
            m14, m11, m13, m9 = _MUL[14], _MUL[11], _MUL[13], _MUL[9]
            for c in range(4):
                a0, a1, a2, a3 = s[c]
                s[c] = [
                    m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3],
                    m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3],
                    m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3],
                    m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3],
                ]
    return bytes(b for c in range(4) for b in s[c])


def _aes128_encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    s = [list(block[c * 4 : c * 4 + 4]) for c in range(4)]
    def add(k):
        for c in range(4):
            for r in range(4):
                s[c][r] ^= k[c * 4 + r]
    add(rk[0])
    for rnd in range(1, 11):
        for c in range(4):
            for r in range(4):
                s[c][r] = _AES_SBOX[s[c][r]]
        # ShiftRows: row r rotates LEFT by r
        for r in range(1, 4):
            col = [s[c][r] for c in range(4)]
            col = col[r:] + col[:r]
            for c in range(4):
                s[c][r] = col[c]
        if rnd < 10:
            m2, m3 = _MUL[2], _MUL[3]
            for c in range(4):
                a0, a1, a2, a3 = s[c]
                s[c] = [
                    m2[a0] ^ m3[a1] ^ a2 ^ a3,
                    a0 ^ m2[a1] ^ m3[a2] ^ a3,
                    a0 ^ a1 ^ m2[a2] ^ m3[a3],
                    m3[a0] ^ a1 ^ a2 ^ m2[a3],
                ]
        add(rk[rnd])
    return bytes(b for c in range(4) for b in s[c])


def _aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2 stream layout: 16-byte IV prefix, CBC body, RFC 2898
    padding (1–16 trailing bytes, each equal to the pad length)."""
    if len(data) < 32 or len(data) % 16 != 0:
        raise ValueError("corrupt PDF: bad AES stream length")
    rk = _aes128_expand(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        block = data[i : i + 16]
        plain = _aes128_decrypt_block(rk, block)
        out += bytes(a ^ b for a, b in zip(plain, prev))
        prev = block
    pad = out[-1]
    if not 1 <= pad <= 16:
        raise ValueError("corrupt PDF: bad AES padding")
    return bytes(out[:-pad])


def _aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    rk = _aes128_expand(key)
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    prev = iv
    out = bytearray(iv)
    for i in range(0, len(data), 16):
        block = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes128_encrypt_block(rk, block)
        out += prev
    return bytes(out)


def _find_trailer_dict(data: bytes) -> dict | None:
    """The LAST classic ``trailer`` dictionary, or None (xref-stream
    files have none)."""
    i = data.rfind(b"trailer")
    if i < 0:
        return None
    try:
        v, _ = _parse_value(data, _skip_ws(data, i + 7))
    except (ValueError, IndexError):
        return None
    return v if isinstance(v, dict) else None


def _decrypt_objects(data: bytes, objs, trailer: dict):
    """Verify the empty user password and RC4-decrypt every stream
    in place (per-object keys); raises on out-of-scope handlers."""
    enc = _resolve(objs, trailer.get("/Encrypt"))
    if not isinstance(enc, dict):
        raise ValueError("corrupt PDF: bad /Encrypt entry")
    if enc.get("/Filter") != "/Standard":
        raise ValueError("encrypted PDF unsupported (non-Standard handler)")
    v = enc.get("/V", 0)
    r = enc.get("/R", 2)
    aes = False
    if v in (1, 2) and r in (2, 3):
        n = 5 if v == 1 else max(5, int(enc.get("/Length", 40)) // 8)
    elif v == 4 and r == 4:
        # crypt filters: the standard /StdCF case (§7.6.5)
        cf = _resolve(objs, enc.get("/CF"))
        stdcf = (
            _resolve(objs, cf.get("/StdCF")) if isinstance(cf, dict) else None
        )
        cfm = stdcf.get("/CFM") if isinstance(stdcf, dict) else None
        if enc.get("/StmF", "/Identity") != "/StdCF":
            raise ValueError(
                "encrypted PDF unsupported (non-StdCF stream filter)"
            )
        if cfm == "/AESV2":
            aes, n = True, 16
        elif cfm == "/V2":
            n = max(5, int(enc.get("/Length", 128)) // 8)
        else:
            raise ValueError(
                "encrypted PDF unsupported (crypt filter "
                f"{cfm or 'missing'})"
            )
    else:
        raise ValueError(
            "encrypted PDF unsupported (AESV3 / revision "
            f"{v}/{r})"
        )
    o = enc.get("/O")
    u = enc.get("/U")
    if not isinstance(o, bytes) or not isinstance(u, bytes):
        raise ValueError("corrupt PDF: /O or /U missing")
    ids = trailer.get("/ID")
    file_id = (
        ids[0]
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes)
        else b""
    )
    key = _enc_file_key(
        r, n, o, enc.get("/P", -1), file_id,
        encrypt_metadata=enc.get("/EncryptMetadata", True) is not False,
    )
    want_u = _enc_compute_u(key, r, file_id)
    cmp_len = 32 if r == 2 else 16
    if want_u[:cmp_len] != (u + b"\x00" * 32)[:cmp_len]:
        raise ValueError(
            "encrypted PDF unsupported (non-empty user password)"
        )

    def _dec(num: int, raw: bytes) -> bytes:
        k = _enc_obj_key(key, num, aes=aes)
        return _aes128_cbc_decrypt(k, raw) if aes else _rc4(k, raw)

    return {
        num: (val, _dec(num, raw) if raw is not None else None)
        for num, (val, raw) in objs.items()
    }


def extract_pdf_text(data: bytes, max_pages: int = 64) -> list[str]:
    """Text of each page (document order), via the real parse path:
    object scan → Pages tree → /Contents resolution → Flate inflate →
    text-operator execution.  RC4 standard-security encryption
    (V1/V2, empty user password — the owner-locked-but-readable crawl
    majority) is decrypted; AES, non-empty user passwords, and
    encrypted object-stream layouts raise."""
    if not data.startswith(b"%PDF-"):
        raise ValueError("corrupt PDF: missing %PDF- header")
    trailer = _find_trailer_dict(data)
    if trailer is not None and "/Encrypt" in trailer:
        if b"/ObjStm" in data:
            raise ValueError(
                "encrypted PDF unsupported (object-stream layout)"
            )
        objs = _scan_objects(data)
        objs = _decrypt_objects(data, objs, trailer)
    elif trailer is None and b"/Encrypt" in data[-2048:]:
        raise ValueError("encrypted PDF unsupported (xref-stream layout)")
    else:
        objs = _scan_objects(data)
    pages = _page_order(objs)[:max_pages]
    out: list[str] = []
    for pnum in pages:
        pval, _ = objs[pnum]
        contents = pval.get("/Contents")
        refs = contents if isinstance(contents, list) else [contents]
        chunks: list[bytes] = []
        for ref in refs:
            if not (isinstance(ref, tuple) and ref[0] == "ref"):
                continue
            cval, craw = objs.get(ref[1], (None, None))
            if craw is None:
                raise ValueError("corrupt PDF: /Contents is not a stream")
            chunks.append(_decode_stream(cval, craw))
        # §7.8.2: multiple content streams form ONE stream when
        # concatenated with whitespace between them
        out.append(
            _content_text(b"\n".join(chunks), _page_fonts(objs, pval))
        )
    return out


# ------------------------------------------------------------ operator


def pdf_text(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_pages: int = 64,
) -> DataFrame:
    """(id, page [1-based], n_chars, text) per page of each PDF
    payload — scan-side ``flat_map``, zero shuffles; page fan-out
    bounded by ``max_pages`` (the 100 TB cap).  Downstream quality /
    lang-ID / dedup stages consume ``text`` like any other document
    column."""
    schema = f"{id_col} long, page int, n_chars int, text string"

    def _extract(rid, payload):
        texts = extract_pdf_text(payload or b"", max_pages=max_pages)
        return [(rid, p, len(t), t) for p, t in enumerate(texts, start=1)]

    return flat_map(df, [id_col, bin_col], schema, _extract)


# ------------------------------------------------------ fixture writer


def _escape_literal_bytes(bs: bytes) -> bytes:
    """Literal-string encoder over raw string bytes: backslash-escapes
    the specials, octal-escapes non-printables."""
    out = bytearray()
    for ch in bs:
        if ch in (0x28, 0x29, 0x5C):  # ( ) \
            out += b"\\" + bytes([ch])
        elif ch < 32 or ch > 126:
            out += b"\\%03o" % ch
        else:
            out.append(ch)
    return bytes(out)


def encode_pdf_fixture(
    pages: list[list[str]],
    compress_page=lambda p: False,
    hex_lines: bool = False,
    use_tj_array_every: int = 0,
    use_objstm: bool = False,
    indirect_length: bool = False,
    indirect_kids: bool = False,
    cid_font: bool = False,
    simple_encoding: str | None = None,
    differences: dict[int, str] | None = None,
    encrypt: str | None = None,
    owner_password: bytes = b"owner",
) -> bytes:
    """A VALID minimal PDF: catalog → pages tree → per-page content
    streams (Helvetica, one ``Td`` line advance per line), correct
    xref + trailer.  ``pages`` is a list of pages, each a list of text
    lines.  ``compress_page(page_idx)`` chooses the stream filter per
    page (None / "flate" / "a85" / "ahx" / "a85flate");
    ``hex_lines`` shows every other line as a HEX string;
    ``use_tj_array_every`` > 0 renders every k-th line as a kerned
    ``TJ`` array split mid-line (kern numbers must not alter the
    extracted text).  ``use_objstm`` writes a PDF 1.5 file: all
    non-stream objects packed into a Flate /ObjStm and a binary
    cross-reference STREAM (/Type /XRef, W [1 4 2], type-2 entries for
    the compressed objects) instead of a classic xref table — the
    storage layout modern writers default to.  ``indirect_length``
    writes each content stream's /Length as an indirect reference to a
    length object placed AFTER the stream data (the
    unknown-size-at-write-time layout, §7.3.8.2 note 2);
    ``indirect_kids`` stores the pages tree's /Kids array as its own
    indirect object referenced from /Pages.  ``cid_font`` renders every
    line through a composite Type0/Identity-H font: glyphs are shown as
    2-byte CID hex strings decodable ONLY via the embedded /ToUnicode
    CMap (codes 0x0100+, deliberately ≠ Unicode values; half the
    charset mapped via bfchar pairs, half via a bfrange array) — the
    dominant real-world PDF text encoding.  ``simple_encoding``
    ('WinAnsiEncoding' or 'MacRomanEncoding') declares the Type1
    font's /Encoding and encodes the content strings through that
    byte table — the non-ToUnicode half of real PDFs; ``differences``
    (code → glyph name) additionally wraps it in an encoding DICT with
    a /Differences array (§9.6.5.3) and routes those chars through the
    remapped codes.  ``encrypt`` ('rc4-40' or 'rc4-128') writes a REAL
    standard-security-handler document (Algorithms 2/3/4/5: /O from
    ``owner_password``, empty user password, per-object RC4 over every
    stream, /ID in the trailer) — any conforming reader opens it, and
    the decoder's empty-password path round-trips it."""
    if encrypt is not None and use_objstm:
        raise ValueError("fixture: encrypt + use_objstm not supported")
    if encrypt is not None and encrypt not in (
        "rc4-40", "rc4-128", "aes-128"
    ):
        raise ValueError(
            "fixture: encrypt must be rc4-40, rc4-128 or aes-128"
        )
    if encrypt == "aes-128" and indirect_length:
        raise ValueError(
            "fixture: aes-128 + indirect_length not supported "
            "(AES changes stream sizes)"
        )
    objects: list[bytes] = []  # bodies, object number = index+1

    char2code: dict[str, int] | None = None
    if simple_encoding is not None:
        if cid_font:
            raise ValueError("fixture: simple_encoding + cid_font")
        table = dict(_ENC_TABLES["/" + simple_encoding])
        if differences:
            for code, gname in differences.items():
                table[code] = _glyph_char(gname)
        char2code = {}
        for code, ch in table.items():
            # lowest code wins when a char appears twice
            if ch not in char2code or code < char2code[ch]:
                char2code[ch] = code

    def _enc_line(s: str) -> bytes:
        if char2code is None:
            return s.encode("latin-1")
        try:
            return bytes(char2code[c] for c in s)
        except KeyError as e:
            raise ValueError(
                f"fixture: char {e} not in {simple_encoding}"
            ) from None

    n_pages = len(pages)
    font_num = 3 + 2 * n_pages
    # trailing objects (after the font): per-page length objects when
    # indirect_length, then the kids array when indirect_kids, then
    # the ToUnicode CMap stream + descendant CIDFont when cid_font
    len_num0 = font_num + 1
    kids_num = len_num0 + (n_pages if indirect_length else 0)
    cmap_num = kids_num + (1 if indirect_kids else 0)
    desc_num = cmap_num + 1
    cid_codes: dict[str, int] = {}
    if cid_font:
        charset = sorted({c for pg in pages for ln in pg for c in ln})
        if len(charset) > 0xFEFF:
            raise ValueError("fixture: cid_font charset too large")
        cid_codes = {c: 0x0100 + k for k, c in enumerate(charset)}
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids_val = f"{kids_num} 0 R" if indirect_kids else f"[{kids}]"
    objects.append(
        f"<< /Type /Pages /Kids {kids_val} /Count {n_pages} >>".encode()
    )
    stream_lengths: list[int] = []
    for i, lines in enumerate(pages):
        page_num = 3 + 2 * i
        content_num = page_num + 1
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                f"/Contents {content_num} 0 R "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode()
        )
        body = bytearray(b"BT /F1 12 Tf 72 720 Td\n")

        def _cid_hex(s: str) -> bytes:
            return "".join(f"{cid_codes[c]:04X}" for c in s).encode()

        for k, line in enumerate(lines):
            if k > 0:
                body += b"0 -14 Td\n"
            if cid_font:
                if (
                    use_tj_array_every
                    and k % use_tj_array_every == 0
                    and len(line) > 2
                ):
                    mid = len(line) // 2
                    body += (
                        b"[ <" + _cid_hex(line[:mid]) + b"> -120 <"
                        + _cid_hex(line[mid:]) + b"> ] TJ\n"
                    )
                else:
                    body += b"<" + _cid_hex(line) + b"> Tj\n"
            elif hex_lines and k % 2 == 1:
                body += (
                    b"<" + _enc_line(line).hex().encode() + b"> Tj\n"
                )
            elif use_tj_array_every and k % use_tj_array_every == 0 and len(line) > 2:
                mid = len(line) // 2
                body += (
                    b"[ ("
                    + _escape_literal_bytes(_enc_line(line[:mid]))
                    + b") -120 ("
                    + _escape_literal_bytes(_enc_line(line[mid:]))
                    + b") ] TJ\n"
                )
            else:
                body += b"(" + _escape_literal_bytes(_enc_line(line)) + b") Tj\n"
        body += b"ET"
        data = bytes(body)
        mode = compress_page(i)
        if mode is True or mode == "flate":
            data = zlib.compress(data)
            head = (
                f"<< /Length {len(data)} /Filter /FlateDecode >>".encode()
            )
        elif mode == "a85":
            import base64

            data = base64.a85encode(data) + b"~>"
            head = (
                f"<< /Length {len(data)} /Filter /ASCII85Decode >>".encode()
            )
        elif mode == "ahx":
            data = data.hex().encode() + b">"
            head = (
                f"<< /Length {len(data)} /Filter /ASCIIHexDecode >>".encode()
            )
        elif mode == "lzw":
            data = _lzw_encode(data)
            head = (
                f"<< /Length {len(data)} /Filter /LZWDecode >>".encode()
            )
        elif mode == "a85flate":
            import base64

            data = base64.a85encode(zlib.compress(data)) + b"~>"
            head = (
                f"<< /Length {len(data)} "
                "/Filter [/ASCII85Decode /FlateDecode] >>"
            ).encode()
        else:
            head = f"<< /Length {len(data)} >>".encode()
        if indirect_length:
            head = head.replace(
                f"/Length {len(data)}".encode(),
                f"/Length {len_num0 + i} 0 R".encode(),
            )
            stream_lengths.append(len(data))
        objects.append(
            head + b"\nstream\n" + data + b"\nendstream"
        )
    if cid_font:
        objects.append(
            (
                f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
                f"/Encoding /Identity-H /ToUnicode {cmap_num} 0 R "
                f"/DescendantFonts [{desc_num} 0 R] >>"
            ).encode()
        )
    elif simple_encoding is not None:
        if differences:
            items = sorted(differences.items())
            # group runs of consecutive codes per §9.6.5.3
            parts: list[str] = []
            prev = None
            for code, gname in items:
                if prev is None or code != prev + 1:
                    parts.append(str(code))
                parts.append("/" + gname)
                prev = code
            enc_val = (
                "<< /Type /Encoding /BaseEncoding "
                f"/{simple_encoding} /Differences "
                f"[ {' '.join(parts)} ] >>"
            )
        else:
            enc_val = "/" + simple_encoding
        objects.append(
            (
                "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                f"/Encoding {enc_val} >>"
            ).encode()
        )
    else:
        objects.append(
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        )
    if indirect_length:
        if use_objstm:
            raise ValueError(
                "fixture: indirect_length + use_objstm not supported"
            )
        for ln in stream_lengths:
            objects.append(str(ln).encode())
    if indirect_kids:
        objects.append(f"[{kids}]".encode())
    if cid_font:
        items = sorted(cid_codes.items(), key=lambda kv: kv[1])
        half = len(items) // 2
        cm = [
            b"/CIDInit /ProcSet findresource begin",
            b"12 dict begin",
            b"begincmap",
            b"1 begincodespacerange",
            b"<0000> <FFFF>",
            b"endcodespacerange",
        ]
        # first half: bfchar pairs (chunks of <=100 per §9.10.3)
        for s in range(0, half, 100):
            chunk = items[s : min(s + 100, half)]
            cm.append(f"{len(chunk)} beginbfchar".encode())
            for ch, code in chunk:
                dst = ch.encode("utf-16-be").hex().upper()
                cm.append(f"<{code:04X}> <{dst}>".encode())
            cm.append(b"endbfchar")
        # second half: ONE bfrange with an explicit dst array
        if half < len(items):
            lo = items[half][1]
            hi = items[-1][1]
            dsts = " ".join(
                f"<{ch.encode('utf-16-be').hex().upper()}>"
                for ch, _ in items[half:]
            )
            cm.append(b"1 beginbfrange")
            cm.append(f"<{lo:04X}> <{hi:04X}> [{dsts}]".encode())
            cm.append(b"endbfrange")
        cm += [b"endcmap", b"CMapName currentdict /CMap defineresource pop",
               b"end", b"end"]
        cmap_body = b"\n".join(cm)
        objects.append(
            f"<< /Length {len(cmap_body)} >>\nstream\n".encode()
            + cmap_body
            + b"\nendstream"
        )
        objects.append(
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /Synth "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> >>"
        )

    trailer_extra = ""
    if encrypt is not None:
        aes = encrypt == "aes-128"
        r, n = {"rc4-40": (2, 5), "rc4-128": (3, 16), "aes-128": (4, 16)}[
            encrypt
        ]
        # deterministic /ID: digest of the planted page text
        file_id = _md5(
            repr(pages).encode("utf-8") + encrypt.encode()
        )
        o_entry = _enc_compute_o(owner_password, b"", r, n)
        key = _enc_file_key(r, n, o_entry, -4, file_id)
        u_entry = _enc_compute_u(key, r, file_id)[:32]
        for idx, body in enumerate(objects):
            marker = b"\nstream\n"
            s = body.find(marker)
            if s < 0:
                continue
            head = body[: s + len(marker)]
            tail = body[s + len(marker) :]
            if not tail.endswith(b"\nendstream"):
                raise ValueError("fixture: unexpected stream framing")
            payload = tail[: -len(b"\nendstream")]
            objkey = _enc_obj_key(key, idx + 1, aes=aes)
            if aes:
                iv = _md5(b"iv%d" % (idx + 1) + file_id)[:16]
                enc_payload = _aes128_cbc_encrypt(objkey, iv, payload)
                old = f"/Length {len(payload)}".encode()
                new = f"/Length {len(enc_payload)}".encode()
                if old not in head:
                    raise ValueError("fixture: /Length rewrite failed")
                head = head.replace(old, new, 1)
            else:
                enc_payload = _rc4(objkey, payload)
            objects[idx] = head + enc_payload + b"\nendstream"
        if aes:
            enc_obj = (
                "<< /Filter /Standard /V 4 /R 4 /Length 128 /P -4 "
                "/CF << /StdCF << /CFM /AESV2 /AuthEvent /DocOpen "
                "/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
                f"/O <{o_entry.hex().upper()}> "
                f"/U <{u_entry.hex().upper()}> >>"
            )
        else:
            ver = 1 if encrypt == "rc4-40" else 2
            enc_obj = (
                f"<< /Filter /Standard /V {ver} /R {r} "
                f"/Length {n * 8} /P -4 "
                f"/O <{o_entry.hex().upper()}> "
                f"/U <{u_entry.hex().upper()}> >>"
            )
        objects.append(enc_obj.encode())
        idh = file_id.hex().upper()
        trailer_extra = (
            f" /Encrypt {len(objects)} 0 R /ID [<{idh}> <{idh}>]"
        )

    if not use_objstm:
        out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
        offsets = [0]
        for num, body in enumerate(objects, start=1):
            offsets.append(len(out))
            out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
        xref_off = len(out)
        out += f"xref\n0 {len(objects) + 1}\n".encode()
        out += b"0000000000 65535 f \n"
        for off in offsets[1:]:
            out += f"{off:010d} 00000 n \n".encode()
        out += (
            f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R"
            f"{trailer_extra} >>\n"
            f"startxref\n{xref_off}\n%%EOF\n"
        ).encode()
        return bytes(out)

    # --- PDF 1.5 layout: dict objects -> /ObjStm, binary /XRef stream
    is_stream_obj = [b"stream" in body for body in objects]
    packed = [
        (num, body)
        for num, body in enumerate(objects, start=1)
        if not is_stream_obj[num - 1]
    ]
    objstm_num = len(objects) + 1
    xref_num = len(objects) + 2
    header = bytearray()
    bodies = bytearray()
    for num, body in packed:
        header += f"{num} {len(bodies)} ".encode()
        bodies += body + b"\n"
    payload = zlib.compress(bytes(header) + bytes(bodies))
    objstm_body = (
        f"<< /Type /ObjStm /N {len(packed)} /First {len(header)} "
        f"/Length {len(payload)} /Filter /FlateDecode >>".encode()
        + b"\nstream\n"
        + payload
        + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num, body in enumerate(objects, start=1):
        if not is_stream_obj[num - 1]:
            continue  # lives in the ObjStm
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode() + body + b"\nendobj\n"
    offsets[objstm_num] = len(out)
    out += f"{objstm_num} 0 obj\n".encode() + objstm_body + b"\nendobj\n"
    xref_off = len(out)

    # xref stream entries, W = [1 4 2]: (type, field2, field3)
    def entry(t: int, f2: int, f3: int) -> bytes:
        return bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")

    rows = [entry(0, 0, 0xFFFF)]  # object 0: free
    pack_index = {num: k for k, (num, _b) in enumerate(packed)}
    for num in range(1, xref_num + 1):
        if num in pack_index:
            rows.append(entry(2, objstm_num, pack_index[num]))
        elif num == xref_num:
            rows.append(entry(1, xref_off, 0))
        else:
            rows.append(entry(1, offsets[num], 0))
    xdata = zlib.compress(b"".join(rows))
    out += (
        f"{xref_num} 0 obj\n<< /Type /XRef /Size {xref_num + 1} "
        f"/W [1 4 2] /Root 1 0 R /Length {len(xdata)} "
        "/Filter /FlateDecode >>\nstream\n"
    ).encode()
    out += xdata
    out += b"\nendstream\nendobj\n"
    out += f"startxref\n{xref_off}\n%%EOF\n".encode()
    return bytes(out)

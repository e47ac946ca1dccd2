"""DOCX text extraction — WordprocessingML as an edge-ingestion tier.

The second-most-common office format in scraped corpora after PDF.
A .docx is a ZIP around ``word/document.xml`` (ECMA-376 / ISO 29500
WordprocessingML); the text lives in ``<w:p>`` paragraphs of
``<w:r>`` runs holding ``<w:t>`` elements, with ``<w:tab/>`` and
``<w:br/>`` as explicit whitespace.  Pure stdlib (``zipfile`` +
``xml.etree``), the ``sources/excel.py`` posture.

- :func:`extract_docx_text` — one string per paragraph, in document
  order; runs joined (formatting splits one visual string across many
  runs — extraction must reassemble), tabs/breaks mapped, table-cell
  paragraphs included naturally (``w:tbl`` nests ``w:p``).
- :func:`docx_text` — the Spark operator: one row per PARAGRAPH,
  scan-side ``flat_map``, zero shuffles (the q257 shape).
- :func:`encode_docx_fixture` — a valid minimal .docx writer
  ([Content_Types].xml, package rels, document.xml), the oracle
  fixture generator: planted paragraphs round-trip through the real
  zip + XML parse, including XML-escaped characters and multi-run
  splits.

- :func:`extract_docx_parts` / :func:`docx_parts_text` — the FULL
  package walk: body plus ``word/headerN.xml`` / ``word/footerN.xml``
  / ``word/footnotes.xml`` / ``word/endnotes.xml`` parts, each tagged
  with its part kind and ordinal; separator/continuation pseudo-notes
  (``w:type="separator"`` etc.) are skipped — they carry rule lines,
  not text.

Scope bounds: comments and embedded objects remain out of the text
tier's scope (documented); tracked-changes deletions (``w:delText``)
are excluded by construction (only ``w:t`` is read).

Reference analogue: none (the reference ingests XLSX/HTML —
``pipeline/load_data.py``); extends the edge-ingestion surface next
to ``sources/excel.py`` / ``sources/pdf.py``.
"""

from __future__ import annotations

import io
import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"


def _part_root(zf: zipfile.ZipFile, name: str):
    try:
        return ET.fromstring(zf.read(name))
    except ET.ParseError as exc:
        raise ValueError(f"corrupt DOCX: bad XML in {name} ({exc})")


def _paragraphs(root, limit: int) -> list[str]:
    out: list[str] = []
    for p in root.iter(f"{_W}p"):
        parts: list[str] = []
        for el in p.iter():
            if el.tag == f"{_W}t":
                parts.append(el.text or "")
            elif el.tag == f"{_W}tab":
                parts.append("\t")
            elif el.tag == f"{_W}br":
                parts.append("\n")
        out.append("".join(parts))
        if len(out) >= limit:
            break
    return out


def extract_docx_text(data: bytes, max_paragraphs: int = 4096) -> list[str]:
    """Paragraph texts of ``word/document.xml``, document order."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt DOCX: not a zip ({exc})")
    if "word/document.xml" not in zf.namelist():
        raise ValueError("corrupt DOCX: no word/document.xml part")
    return _paragraphs(
        _part_root(zf, "word/document.xml"), max_paragraphs
    )


_NOTE_SKIP_TYPES = frozenset(("separator", "continuationSeparator"))


def extract_docx_parts(
    data: bytes, max_paragraphs: int = 4096
) -> list[tuple[str, int, int, str]]:
    """(part kind, part ordinal, paragraph [1-based], text) across the
    whole package: ``document`` (ordinal 0), ``header``/``footer``
    (ordinal N from headerN.xml, sorted), ``footnote``/``endnote``
    (ordinal = the note's w:id; separator pseudo-notes skipped).
    ``max_paragraphs`` bounds each part's fan-out (the 100 TB cap)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(data))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"corrupt DOCX: not a zip ({exc})")
    names = set(zf.namelist())
    if "word/document.xml" not in names:
        raise ValueError("corrupt DOCX: no word/document.xml part")
    out: list[tuple[str, int, int, str]] = []
    for k, t in enumerate(
        _paragraphs(_part_root(zf, "word/document.xml"), max_paragraphs),
        start=1,
    ):
        out.append(("document", 0, k, t))
    for kind in ("header", "footer"):
        part_names = sorted(
            n for n in names
            if re.fullmatch(rf"word/{kind}\d+\.xml", n)
        )
        for name in part_names:
            ordinal = int(re.search(r"(\d+)\.xml$", name).group(1))
            for k, t in enumerate(
                _paragraphs(_part_root(zf, name), max_paragraphs),
                start=1,
            ):
                out.append((kind, ordinal, k, t))
    for kind, part, tag in (
        ("footnote", "word/footnotes.xml", f"{_W}footnote"),
        ("endnote", "word/endnotes.xml", f"{_W}endnote"),
    ):
        if part not in names:
            continue
        for note in _part_root(zf, part).iter(tag):
            if note.get(f"{_W}type") in _NOTE_SKIP_TYPES:
                continue
            nid = int(note.get(f"{_W}id", "0"))
            for k, t in enumerate(
                _paragraphs(note, max_paragraphs), start=1
            ):
                out.append((kind, nid, k, t))
    return out


def docx_text(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_paragraphs: int = 4096,
) -> DataFrame:
    """(id, para [1-based], n_chars, text) per paragraph — scan-side
    ``flat_map``, zero shuffles; fan-out bounded by
    ``max_paragraphs``."""
    schema = f"{id_col} long, para int, n_chars int, text string"

    def _extract(rid, payload):
        texts = extract_docx_text(
            payload or b"", max_paragraphs=max_paragraphs
        )
        return [(rid, k, len(t), t) for k, t in enumerate(texts, start=1)]

    return flat_map(df, [id_col, bin_col], schema, _extract)


def docx_parts_text(
    df: DataFrame,
    bin_col: str = "content",
    id_col: str = "doc_id",
    max_paragraphs: int = 4096,
) -> DataFrame:
    """(id, part, part_idx, para, n_chars, text) across the whole
    package — body, headers, footers, footnotes, endnotes — scan-side
    ``flat_map``, zero shuffles (the q257 shape)."""
    schema = (
        f"{id_col} long, part string, part_idx int, para int, "
        "n_chars int, text string"
    )

    def _extract(rid, payload):
        parts = extract_docx_parts(
            payload or b"", max_paragraphs=max_paragraphs
        )
        return [
            (rid, kind, ordinal, k, len(t), t)
            for kind, ordinal, k, t in parts
        ]

    return flat_map(df, [id_col, bin_col], schema, _extract)


# ------------------------------------------------------ fixture writer

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/'
    'content-types">'
    '<Default Extension="rels" ContentType="application/vnd.'
    'openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/word/document.xml" ContentType="application/'
    'vnd.openxmlformats-officedocument.wordprocessingml.document.main'
    '+xml"/></Types>'
)

_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/'
    '2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
    'officeDocument/2006/relationships/officeDocument" '
    'Target="word/document.xml"/></Relationships>'
)


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


_XMLNS_W = (
    'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/'
    '2006/main"'
)
_XMLDECL = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'


def _paras_xml(paragraphs: list[str], runs_per_paragraph: int) -> str:
    body_parts: list[str] = []
    for text in paragraphs:
        runs: list[str] = []
        n = max(1, runs_per_paragraph)
        step = max(1, (len(text) + n - 1) // n) if text else 1
        chunks = [text[i : i + step] for i in range(0, len(text), step)] or [""]
        for chunk in chunks:
            # run content: literal spans in xml:space-preserving w:t
            # elements, alternating with explicit tab/br elements
            content = ""
            span = ""
            for ch in chunk:
                if ch in ("\t", "\n"):
                    if span:
                        content += (
                            '<w:t xml:space="preserve">'
                            + _xml_escape(span)
                            + "</w:t>"
                        )
                        span = ""
                    content += "<w:tab/>" if ch == "\t" else "<w:br/>"
                else:
                    span += ch
            if span or not content:
                content += (
                    '<w:t xml:space="preserve">'
                    + _xml_escape(span)
                    + "</w:t>"
                )
            runs.append("<w:r>" + content + "</w:r>")
        body_parts.append("<w:p>" + "".join(runs) + "</w:p>")
    return "".join(body_parts)


_PART_CT = {
    "header": "header",
    "footer": "footer",
    "footnotes": "footnotes",
    "endnotes": "endnotes",
}


def encode_docx_fixture(
    paragraphs: list[str],
    runs_per_paragraph: int = 1,
    headers: list[list[str]] | None = None,
    footers: list[list[str]] | None = None,
    footnotes: list[list[str]] | None = None,
    endnotes: list[list[str]] | None = None,
) -> bytes:
    """A valid minimal .docx: planted paragraph texts, each split
    across ``runs_per_paragraph`` ``<w:r>`` runs (extraction must
    reassemble), with ``\\t`` → ``<w:tab/>`` and ``\\n`` → ``<w:br/>``
    and XML specials escaped.  ``headers``/``footers`` plant one
    headerN.xml/footerN.xml part per entry; ``footnotes``/``endnotes``
    plant one note per entry (ids 1..n) behind the separator /
    continuation pseudo-notes (ids -1/0) Word always writes —
    extraction must skip those."""
    buf = io.BytesIO()
    overrides: list[str] = []
    rel_entries: list[str] = []
    extra_parts: list[tuple[str, str]] = []

    for kind, groups, root_tag in (
        ("header", headers or [], "w:hdr"),
        ("footer", footers or [], "w:ftr"),
    ):
        for i, paras in enumerate(groups, start=1):
            name = f"word/{kind}{i}.xml"
            extra_parts.append(
                (
                    name,
                    f"{_XMLDECL}<{root_tag} {_XMLNS_W}>"
                    + _paras_xml(paras, runs_per_paragraph)
                    + f"</{root_tag}>",
                )
            )
            overrides.append((name, kind))
            rel_entries.append((f"{kind}{i}.xml", kind))

    for kind, groups, plural in (
        ("footnote", footnotes, "footnotes"),
        ("endnote", endnotes, "endnotes"),
    ):
        if groups is None:
            continue
        notes = [
            f'<w:{kind} w:type="separator" w:id="-1">'
            f"<w:p><w:r><w:separator/></w:r></w:p></w:{kind}>",
            f'<w:{kind} w:type="continuationSeparator" w:id="0">'
            f"<w:p><w:r><w:continuationSeparator/></w:r></w:p>"
            f"</w:{kind}>",
        ]
        for i, paras in enumerate(groups, start=1):
            notes.append(
                f'<w:{kind} w:id="{i}">'
                + _paras_xml(paras, runs_per_paragraph)
                + f"</w:{kind}>"
            )
        name = f"word/{plural}.xml"
        extra_parts.append(
            (
                name,
                f"{_XMLDECL}<w:{plural} {_XMLNS_W}>"
                + "".join(notes)
                + f"</w:{plural}>",
            )
        )
        overrides.append((name, plural))
        rel_entries.append((f"{plural}.xml", plural))

    document = (
        f"{_XMLDECL}<w:document {_XMLNS_W}><w:body>"
        + _paras_xml(paragraphs, runs_per_paragraph)
        + "</w:body></w:document>"
    )
    ct = _CONTENT_TYPES.replace(
        "</Types>",
        "".join(
            f'<Override PartName="/{name}" ContentType="application/'
            f"vnd.openxmlformats-officedocument.wordprocessingml."
            f'{_PART_CT[kind if kind in _PART_CT else kind]}+xml"/>'
            for name, kind in overrides
        )
        + "</Types>",
    )
    doc_rels = (
        f"{_XMLDECL}"
        '<Relationships xmlns="http://schemas.openxmlformats.org/'
        'package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rPart{i}" Type="http://schemas.'
            "openxmlformats.org/officeDocument/2006/relationships/"
            f'{kind}" Target="{target}"/>'
            for i, (target, kind) in enumerate(rel_entries, start=1)
        )
        + "</Relationships>"
    )
    parts = [("[Content_Types].xml", ct), ("_rels/.rels", _RELS),
             ("word/document.xml", document)]
    if rel_entries:
        parts.append(("word/_rels/document.xml.rels", doc_rels))
    with zipfile.ZipFile(buf, "w") as zf:
        for name, xml_text in parts + extra_parts:
            # ZIP's epoch, not the wall clock writestr(name, ...) stamps:
            # the same input always gives the same bytes
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(info, xml_text, zipfile.ZIP_DEFLATED)
    return buf.getvalue()

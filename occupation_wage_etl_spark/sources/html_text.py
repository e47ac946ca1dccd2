"""HTML main-content text extraction — boilerplate-stripped page→text,
the first transform applied to every crawled page in a web-scale text
pipeline (the step between the WARC response payload and the curation
funnel).

Heuristic (deterministic, stdlib ``html.parser`` — no dependencies):

- **Container stripping**: everything inside ``<script> <style>
  <noscript> <template> <svg> <head> <nav> <header> <footer>
  <aside>`` is dropped, at any nesting depth — the tag-semantics tier
  of boilerplate removal (site chrome announces itself in HTML5).
- **Block whitelist**: text is collected per block element from
  ``<p> <h1>..<h6> <li> <pre> <blockquote>`` only; inline markup
  (``a b i em span code`` …) flows into its enclosing block.  Stray
  text in bare ``<div>``/``<body>`` (ads, tracking pixels' alt text)
  is not main content.
- **Link-density filter**: a block whose characters live ENTIRELY
  inside ``<a>`` anchors is navigation, not prose (in-body menus,
  "related articles" lists) and is dropped — the char-level
  link-density rule from the boilerplate literature (Kohlschütter et
  al., boilerpipe; threshold 1.0 keeps the rule exact/replayable).
- Whitespace inside a block collapses to single spaces; blocks join
  with ``\\n``.

Reference parity note: the reference parses *tables* from one BLS page
(``pipeline/load_data.py:53-84``, see sources/html_table.py); it has no
page→text operator.  This module is part of the LLM-training-data
extension surface (SURVEY.md §2 extensions).

Scale shape: embarrassingly parallel scan-side ``flat_map`` — one
task per file split, zero shuffles, same layout as pdf_text/wet_text.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")

_SKIP_TAGS = frozenset(
    (
        "script", "style", "noscript", "template", "svg", "head",
        "nav", "header", "footer", "aside",
    )
)
_BLOCK_TAGS = frozenset(
    ("p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "pre", "blockquote")
)
_VOID_TAGS = frozenset(
    ("br", "hr", "img", "input", "meta", "link", "area", "base",
     "col", "embed", "source", "track", "wbr")
)


class _MainTextParser(HTMLParser):
    """Collects (tag, text, link_chars, total_chars) per whitelist block
    outside skip containers."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, str, int, int]] = []
        self._skip_depth = 0
        self._block_stack: list[list] = []  # [tag, parts, link, total]
        self._anchor_depth = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _VOID_TAGS:
            return
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._anchor_depth += 1
        elif tag in _BLOCK_TAGS:
            # HTML5 implicit close: <li>a<li>b / <p>a<p>b are siblings
            if self._block_stack and self._block_stack[-1][0] == tag:
                self._close_block(len(self._block_stack) - 1)
            self._block_stack.append([tag, [], 0, 0])

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
        elif tag in _BLOCK_TAGS:
            # close the innermost matching open block (HTML recovery:
            # unclosed inner blocks fold into their parent)
            for i in range(len(self._block_stack) - 1, -1, -1):
                if self._block_stack[i][0] == tag:
                    self._close_block(i)
                    break

    def _close_block(self, i: int) -> None:
        closed = self._block_stack[i]
        # inner blocks past i fold their text into `closed`
        for inner in self._block_stack[i + 1 :]:
            closed[1].extend(inner[1])
            closed[2] += inner[2]
            closed[3] += inner[3]
        del self._block_stack[i:]
        text = " ".join("".join(closed[1]).split())
        if text:
            self.blocks.append((closed[0], text, closed[2], closed[3]))

    def handle_data(self, data: str) -> None:
        if self._skip_depth or not self._block_stack:
            return
        cur = self._block_stack[-1]
        cur[1].append(data)
        n = len("".join(data.split()))
        cur[3] += n
        if self._anchor_depth:
            cur[2] += n


def extract_main_blocks(html: str) -> list[tuple[str, str]]:
    """(tag, text) per surviving content block, document order."""
    p = _MainTextParser()
    p.feed(html or "")
    p.close()
    out = []
    for tag, text, link_chars, total_chars in p.blocks:
        if total_chars > 0 and link_chars == total_chars:
            continue  # pure-link block = navigation
        out.append((tag, text))
    return out


def main_text_distributed(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_blocks, n_chars, text) per page — scan-side
    ``flat_map``, zero shuffles; output text feeds quality/lang-ID/
    dedup like any other document column."""
    schema = f"{id_col} long, n_blocks int, n_chars int, text string"

    def _extract(rid, page):
        blocks = extract_main_blocks(str(page or ""))
        text = "\n".join(t for _tag, t in blocks)
        return [(rid, len(blocks), len(text), text)]

    return flat_map(df, [id_col, html_col], schema, _extract)


class _LinkParser(HTMLParser):
    """Collects (href, anchor text) pairs outside skip containers —
    the web-graph edge extractor (nav/footer chrome links excluded by
    the same container rules as main-content text)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.links: list[tuple[str, str]] = []
        self._skip_depth = 0
        self._href: str | None = None
        self._parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _SKIP_TAGS:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._flush()
            self._href = dict(attrs).get("href")
            self._parts = []

    def handle_endtag(self, tag: str) -> None:
        if tag in _SKIP_TAGS:
            if self._skip_depth:
                self._skip_depth -= 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._flush()

    def _flush(self) -> None:
        if self._href is not None:
            text = " ".join("".join(self._parts).split())
            self.links.append((self._href, text))
        self._href = None
        self._parts = []

    def handle_data(self, data: str) -> None:
        if not self._skip_depth and self._href is not None:
            self._parts.append(data)

    def close(self) -> None:
        super().close()
        self._flush()


def extract_links(html: str) -> list[tuple[str, str]]:
    """(href, anchor text) per in-content <a href> — document order,
    chrome containers (nav/header/footer/aside/script/style) excluded."""
    p = _LinkParser()
    p.feed(html or "")
    p.close()
    return p.links


def resolve_url(base: str | None, ref: str | None) -> str | None:
    """RFC 3986 §5 reference resolution (stdlib ``urllib.parse.urljoin``
    — the spec's merge + remove_dot_segments algorithm): relative
    paths, ``../`` climbs, protocol-relative ``//host/…``, bare-query
    ``?q=…`` and absolute refs all resolve against ``base``.  Refs that
    carry their own scheme (``mailto:``, ``javascript:``, absolute
    http(s)) pass through unchanged; a missing/empty base returns the
    ref as-is (nothing to resolve against)."""
    if ref is None:
        return None
    if not base or _SCHEME_RE.match(ref):
        # already absolute (or nothing to resolve against): the raw
        # declaration passes through byte-identical — urljoin would
        # re-assemble it (lowercasing the scheme), and downstream
        # canonicalization owns normalization decisions
        return ref
    from urllib.parse import urljoin

    try:
        return urljoin(base, ref)
    except ValueError:
        return ref


def document_base(fetch_url: str | None, base_href: str | None) -> str | None:
    """The page's base URL per the HTML spec: ``<base href>`` resolved
    against the fetch URL (the base element itself may be relative),
    falling back to the fetch URL."""
    if base_href:
        return resolve_url(fetch_url, base_href) or base_href
    return fetch_url


def links_distributed(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: str | None = None,
) -> DataFrame:
    """(id, link_idx, href, anchor_text) per in-content link — the
    web-graph edge table, scan-side ``flat_map``, zero shuffles;
    join ``href`` through functions/url.py canonicalization for the
    dedup-keyed graph.

    With ``url_col`` (the fetch URL, e.g. ``target_uri`` from
    ``warc_payloads``), a resolved absolute ``url`` column is added:
    each raw ``href`` resolves RFC 3986-style against the document
    base (``<base href>`` over fetch URL) — on real pages MOST
    in-content hrefs are relative, so the edge table is wrong at
    crawl scale without this."""
    with_url = url_col is not None
    schema = (
        f"{id_col} long, link_idx int, href string, "
        + ("url string, " if with_url else "")
        + "anchor_text string"
    )
    sel = [id_col, html_col] + ([url_col] if with_url else [])

    def _extract(rid, page, furl=None):
        page = str(page or "")
        if with_url:
            base = document_base(furl, extract_canonical(page)["base_href"])
        for k, (href, text) in enumerate(extract_links(page)):
            if with_url:
                yield (rid, k, href, resolve_url(base, href), text)
            else:
                yield (rid, k, href, text)

    return flat_map(df, sel, schema, _extract)


class _JsonLdParser(HTMLParser):
    """Collects the raw text of <script type="application/ld+json">
    blocks — schema.org structured data, the machine-readable metadata
    embedded in most modern pages.  The parser only SLICES the blocks;
    JSON decoding belongs to the JVM (`F.from_json` downstream)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=False)
        self.blobs: list[str] = []
        self._in_ldjson = False
        self._parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "script":
            t = (dict(attrs).get("type") or "").split(";")[0].strip()
            self._in_ldjson = t.lower() == "application/ld+json"
            self._parts = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "script" and self._in_ldjson:
            blob = "".join(self._parts).strip()
            if blob:
                self.blobs.append(blob)
            self._in_ldjson = False

    def handle_data(self, data: str) -> None:
        if self._in_ldjson:
            self._parts.append(data)


def extract_jsonld(html: str) -> list[str]:
    """Raw JSON-LD block texts, document order."""
    p = _JsonLdParser()
    p.feed(html or "")
    p.close()
    return p.blobs


def jsonld_distributed(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, blob_idx, json) per JSON-LD block — scan-side slicing only;
    parse the ``json`` column with ``F.from_json`` (JVM, codegen) so
    the schema projection stays out of Python."""
    schema = f"{id_col} long, blob_idx int, json string"

    def _extract(rid, page):
        return [
            (rid, k, blob)
            for k, blob in enumerate(extract_jsonld(str(page or "")))
        ]

    return flat_map(df, [id_col, html_col], schema, _extract)


class _HeadMetaParser(HTMLParser):
    """Collects the page's head metadata: <link rel="canonical" href>,
    <meta property="og:url" content>, <base href> — the inputs of
    URL-level crawl dedup (the page itself declares which URL is
    canonical; crawlers trust it over the fetch URL) — plus <title>
    text and <meta name="description" content>, the display/quality
    signals every search & curation pipeline keeps per page."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.canonical: str | None = None
        self.og_url: str | None = None
        self.base_href: str | None = None
        self.description: str | None = None
        self.title: str | None = None
        self._in_title = False
        self._title_parts: list[str] = []

    def handle_starttag(self, tag: str, attrs) -> None:
        a = dict(attrs)
        if tag == "link":
            rels = (a.get("rel") or "").lower().split()
            if "canonical" in rels and self.canonical is None:
                self.canonical = a.get("href")
        elif tag == "meta":
            if (
                (a.get("property") or "").lower() == "og:url"
                and self.og_url is None
            ):
                self.og_url = a.get("content")
            if (
                (a.get("name") or "").lower() == "description"
                and self.description is None
            ):
                self.description = a.get("content")
        elif tag == "base" and self.base_href is None:
            self.base_href = a.get("href")
        elif tag == "title" and self.title is None:
            self._in_title = True
            self._title_parts = []

    def handle_endtag(self, tag: str) -> None:
        if tag == "title" and self._in_title:
            self._in_title = False
            if self.title is None:
                # whitespace collapses like any block text
                self.title = " ".join(
                    "".join(self._title_parts).split()
                )

    def handle_data(self, data: str) -> None:
        if self._in_title:
            self._title_parts.append(data)


def extract_canonical(html: str) -> dict:
    """{'canonical', 'og_url', 'base_href', 'title', 'description'}
    (first occurrence each; None when absent)."""
    p = _HeadMetaParser()
    p.feed(html or "")
    p.close()
    return {
        "canonical": p.canonical,
        "og_url": p.og_url,
        "base_href": p.base_href,
        "title": p.title,
        "description": p.description,
    }


def canonical_distributed(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    url_col: str | None = None,
) -> DataFrame:
    """(id, canonical, og_url, base_href) per page — scan-side
    ``flat_map``; chain through functions/url.py canonicalization
    for the final dedup key.

    With ``url_col`` (the fetch URL), ``canonical_abs``/``og_url_abs``
    are added: the declared URLs resolved RFC 3986-style against the
    document base — rel=canonical is routinely relative on real pages
    and useless as a cross-site dedup key until resolved."""
    with_url = url_col is not None
    schema = (
        f"{id_col} long, canonical string, og_url string, "
        "base_href string"
        + (", canonical_abs string, og_url_abs string" if with_url else "")
    )
    sel = [id_col, html_col] + ([url_col] if with_url else [])

    def _extract(rid, page, furl=None):
        m = extract_canonical(str(page or ""))
        row = (rid, m["canonical"], m["og_url"], m["base_href"])
        if with_url:
            base = document_base(furl, m["base_href"])
            row += (
                resolve_url(base, m["canonical"]),
                resolve_url(base, m["og_url"]),
            )
        return [row]

    return flat_map(df, sel, schema, _extract)


def page_meta_distributed(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, title, description, canonical, og_url, base_href) per page
    — the head-metadata table (display title, search snippet,
    dedup-canonical) in one scan-side pass, zero shuffles."""
    schema = (
        f"{id_col} long, title string, description string, "
        "canonical string, og_url string, base_href string"
    )

    def _extract(rid, page):
        m = extract_canonical(str(page or ""))
        return [(
            rid, m["title"], m["description"], m["canonical"], m["og_url"],
            m["base_href"],
        )]

    return flat_map(df, [id_col, html_col], schema, _extract)

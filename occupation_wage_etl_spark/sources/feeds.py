"""RSS 2.0 / Atom feed source — the syndication half of web ingest.

Real crawl corpora are full of feed XML (site discovery, news
pipelines, change monitoring all walk feeds before pages); a training
pipeline wants them as typed entry rows exactly like sitemap entries.
Pure-stdlib ``xml.etree`` parse of both public formats:

- **RSS 2.0** (the RSS Advisory Board spec): ``<rss><channel>`` with
  ``<item>`` children — title / link / guid / pubDate / description.
- **Atom** (RFC 4287): ``<feed>`` in the ``http://www.w3.org/2005/
  Atom`` namespace with ``<entry>`` children — title / link[@href]
  (the ``alternate``-or-first rule) / id / updated / summary.

One long-form output table for both (``feed_kind`` discriminates), so
the downstream URL-canonicalization/dedup tiers consume feed links
with the same code path as sitemap locs and page hrefs.

Scale shape: scan-side ``flat_map`` over the XML column, zero
shuffles, fan-out bounded by ``max_entries`` — the q277 sitemap
pattern.  Malformed XML skips the document (null-on-error posture),
never failing a task.  Gzip payloads (``.xml.gz`` feeds) decompress
first when the column is binary.

Reference analogue: none (the reference ingests one HTML page);
LLM-training-data extension surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

import gzip
import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame

from occupation_wage_etl_spark.operators._rows import flat_map

_ATOM = "{http://www.w3.org/2005/Atom}"


def _text(el, tag: str) -> str | None:
    c = el.find(tag)
    if c is None or c.text is None:
        return None
    t = c.text.strip()
    return t or None


def parse_feed(xml_text: str, max_entries: int = 10_000) -> list[dict]:
    """Entries of one RSS 2.0 or Atom document (see module contract);
    ``[]`` for anything else (malformed XML raises ``ET.ParseError``
    for the caller's null-on-error handling)."""
    root = ET.fromstring(xml_text)
    out: list[dict] = []
    if root.tag == "rss":
        chan = root.find("channel")
        if chan is None:
            return out
        feed_title = _text(chan, "title")
        for k, item in enumerate(chan.findall("item")):
            if k >= max_entries:
                break
            out.append(
                {
                    "feed_kind": "rss",
                    "feed_title": feed_title,
                    "ordinal": k,
                    "title": _text(item, "title"),
                    "link": _text(item, "link"),
                    "entry_id": _text(item, "guid"),
                    "published": _text(item, "pubDate"),
                    "summary": _text(item, "description"),
                }
            )
    elif root.tag == _ATOM + "feed":
        feed_title = _text(root, _ATOM + "title")
        for k, entry in enumerate(root.findall(_ATOM + "entry")):
            if k >= max_entries:
                break
            links = entry.findall(_ATOM + "link")
            href = None
            for ln in links:  # RFC 4287 the alternate-or-first rule
                if ln.get("rel") in (None, "alternate"):
                    href = ln.get("href")
                    break
            if href is None and links:
                href = links[0].get("href")
            out.append(
                {
                    "feed_kind": "atom",
                    "feed_title": feed_title,
                    "ordinal": k,
                    "title": _text(entry, _ATOM + "title"),
                    "link": href,
                    "entry_id": _text(entry, _ATOM + "id"),
                    "published": _text(entry, _ATOM + "updated"),
                    "summary": _text(entry, _ATOM + "summary"),
                }
            )
    return out


def feed_entries(
    df: DataFrame,
    xml_col: str = "feed_xml",
    id_col: str = "doc_id",
    max_entries: int = 10_000,
) -> DataFrame:
    """(id, feed_kind, feed_title, ordinal, title, link, entry_id,
    published, summary) rows per feed document — the typed long-form
    entry table.  String or binary XML column (gzip magic handled);
    malformed documents are skipped, never failing a task."""
    schema = (
        f"{id_col} long, feed_kind string, feed_title string, "
        "ordinal int, title string, link string, entry_id string, "
        "published string, summary string"
    )

    def _run(rid, xml_text):
        if isinstance(xml_text, bytes):
            if xml_text[:2] == b"\x1f\x8b":
                try:
                    xml_text = gzip.decompress(xml_text)
                except (OSError, EOFError):
                    return
            xml_text = xml_text.decode("utf-8", "replace")
        try:
            entries = parse_feed(xml_text or "", max_entries=max_entries)
        except ET.ParseError:
            return
        for e in entries:
            yield (
                rid, e["feed_kind"], e["feed_title"], e["ordinal"],
                e["title"], e["link"], e["entry_id"], e["published"],
                e["summary"],
            )

    return flat_map(df, [id_col, xml_col], schema, _run)

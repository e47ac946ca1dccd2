"""HTML <table> → DataFrame source (reference S1/S2, SURVEY.md §2.1).

The reference fetches a JS-rendered BLS page with remote Selenium
(``pipeline/load_data.py:35-45``) and parses it with BeautifulSoup
(``:53-84``).  Design decision (SURVEY.md §3.1): acquisition stays a thin
driver-side step — the ENGINE's contract starts at "HTML text in,
DataFrame out".

Two paths:

- ``extract_table(html)`` — driver-side stdlib ``html.parser`` extraction
  (no bs4/Selenium dependency), for the reference's single-page case.
- ``parse_tables_distributed(df)`` — the 100 TB path: a DataFrame of raw
  HTML pages (e.g. a Common-Crawl-shaped corpus) parsed per-row by an
  Arrow-batched ``flat_map`` into exploded table rows.  Parsing is
  embarrassingly parallel; each task parses its own partition's pages.

The fetch itself (Selenium) is NOT implemented here — inject any
``fetch: () -> str`` callable; tests use stored HTML fixtures.
"""

from __future__ import annotations

from collections.abc import Callable
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as STypes

from occupation_wage_etl_spark.operators._rows import flat_map


class _TableParser(HTMLParser):
    """Minimal table extractor: collects per-table header + body rows."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[dict] = []
        self._stack: list[dict] = []
        self._cell: list[str] | None = None

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "table":
            self._stack.append({"headers": [], "rows": [], "cur_row": None})
        elif self._stack:
            t = self._stack[-1]
            if tag == "tr":
                t["cur_row"] = []
            elif tag in ("td", "th"):
                self._cell = []
                if t["cur_row"] is None:
                    t["cur_row"] = []
                t["cur_row"].append((tag, self._cell))

    def handle_endtag(self, tag: str) -> None:
        if tag == "table" and self._stack:
            self.tables.append(self._stack.pop())
        elif self._stack:
            t = self._stack[-1]
            if tag == "tr" and t["cur_row"] is not None:
                cells = ["".join(parts).strip() for _, parts in t["cur_row"]]
                kinds = [k for k, _ in t["cur_row"]]
                if cells:
                    if all(k == "th" for k in kinds) and not t["rows"]:
                        t["headers"] = cells
                    else:
                        t["rows"].append(cells)
                t["cur_row"] = None
            elif tag in ("td", "th"):
                self._cell = None

    def handle_data(self, data: str) -> None:
        if self._cell is not None:
            self._cell.append(data)


def extract_table(
    spark: SparkSession,
    html: str,
    header_match: str = "Occupation (SOC code)",
    drop_footer_rows: int = 2,
) -> DataFrame:
    """Find the table whose first header matches ``header_match`` and
    return it as an all-string DataFrame (raw layer: FIXTURES.md §1).

    Mirrors the reference's discovery rule (first <th> text,
    load_data.py:55-64), column extraction (:66) and positional footer
    drop (:79); raises on missing table / zero rows (:63-64,81-82).
    """
    parser = _TableParser()
    parser.feed(html)
    target = None
    for t in parser.tables:
        if t["headers"] and t["headers"][0].strip() == header_match:
            target = t
            break
    if target is None:
        raise ValueError(f"no table with first header {header_match!r} found")
    rows = target["rows"][: -drop_footer_rows or None]
    if not rows:
        raise ValueError("table has no data rows")
    ncols = len(target["headers"])
    norm = [tuple((r + [""] * ncols)[:ncols]) for r in rows]
    schema = STypes.StructType(
        [STypes.StructField(h, STypes.StringType()) for h in target["headers"]]
    )
    return spark.createDataFrame(norm, schema)


def parse_tables_distributed(
    pages: DataFrame,
    html_col: str = "html",
    url_col: str = "url",
    max_cols: int = 32,
) -> DataFrame:
    """Scale path: parse a corpus of HTML pages into exploded table rows.

    Input: DataFrame[url string, html string]; output one row per
    ``<tr>``: (url, table_idx, row_idx, cells array<string>).  Arrow-
    batched ``flat_map`` — the parser runs where the data lives; no
    driver-side collection.
    """

    def parse_page(url, html):
        p = _TableParser()
        try:
            p.feed(html or "")
        except Exception:
            return
        for ti, t in enumerate(p.tables):
            for ri, cells in enumerate(t["rows"]):
                yield (url, ti, ri, cells[:max_cols])

    return flat_map(
        pages, [url_col, html_col],
        "url string, table_idx int, row_idx int, cells array<string>",
        parse_page,
    )


def fetch_and_extract(
    spark: SparkSession,
    fetch: Callable[[], str],
    header_match: str = "Occupation (SOC code)",
) -> DataFrame:
    """S1+S2 composed: injected fetcher (Selenium/requests/fixture) →
    raw DataFrame.  The engine never owns the browser dependency."""
    return extract_table(spark, fetch(), header_match)

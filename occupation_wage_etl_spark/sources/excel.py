"""Excel source (reference S3: ``pd.read_excel(Skills.xlsx)``,
``pipeline/load_data.py:282-286``).

OSS PySpark has no first-class Excel reader; the idiomatic shape is a
thin driver-side read → ``createDataFrame`` (Arrow-accelerated).
Workbooks are small config/dimension artifacts — if Excel ever became a
big-data source the right move is converting to parquet at the edge, not
parallelizing xlsx parsing.

One engine: a self-contained stdlib parser (``zipfile`` + ``xml.etree``)
for the ECMA-376 subset that dimension workbooks actually use — one
value per cell, shared/inline strings, numbers, booleans — whose rows
go through ``pd.DataFrame`` so column types match the reference's
``pd.read_excel`` load (int64, float64 with NULL, string, bool).
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_CELL_REF_RE = re.compile(r"([A-Z]+)(\d+)")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 … (base-26 bijective column letters)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>…</t></r>: concatenate all t
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_path(zf: zipfile.ZipFile, sheet_name: int | str) -> str:
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_PKG_REL_NS}Relationship")
    }
    sheets = [
        (s.get("name"), s.get(f"{_REL_NS}id"))
        for s in wb.iter(f"{_NS}sheet")
    ]
    if not sheets:
        raise ValueError("workbook has no sheets")
    if isinstance(sheet_name, int):
        if not 0 <= sheet_name < len(sheets):
            raise ValueError(f"sheet index {sheet_name} out of range")
        rid = sheets[sheet_name][1]
    else:
        by_name = {name: rid for name, rid in sheets}
        if sheet_name not in by_name:
            raise ValueError(f"sheet {sheet_name!r} not found")
        rid = by_name[sheet_name]
    target = rid_to_target[rid].lstrip("/")
    return target if target.startswith("xl/") else f"xl/{target}"


def _cell_value(cell: ET.Element, strings: list[str]):
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{_NS}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{_NS}t"))
    v = cell.find(f"{_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        return strings[int(v.text)]
    if ctype == "str":  # cached formula result, already text
        return v.text
    if ctype == "b":
        return v.text == "1"
    num = float(v.text)
    return int(num) if num.is_integer() else num


def read_xlsx_stdlib(path: str, sheet_name: int | str = 0) -> tuple[list[str], list[list]]:
    """Parse one worksheet with the stdlib only.

    Returns (header, rows): first sheet row is the header (the pandas
    ``read_excel`` default the reference relies on), remaining rows are
    padded/truncated to the header width.  Supported cell types: number,
    shared string, inline string, formula-cached string, boolean.
    """
    with zipfile.ZipFile(path) as zf:
        strings = _shared_strings(zf)
        sheet = ET.fromstring(zf.read(_sheet_path(zf, sheet_name)))
        grid: list[list] = []
        for row in sheet.iter(f"{_NS}row"):
            cells: dict[int, object] = {}
            for c in row:
                if c.tag != f"{_NS}c":
                    continue
                m = _CELL_REF_RE.match(c.get("r", ""))
                idx = _col_index(m.group(1)) if m else len(cells)
                cells[idx] = _cell_value(c, strings)
            width = max(cells) + 1 if cells else 0
            grid.append([cells.get(i) for i in range(width)])
    if not grid:
        return [], []
    width = max(len(r) for r in grid)
    grid = [r + [None] * (width - len(r)) for r in grid]
    header = [str(h) if h is not None else f"col_{i}" for i, h in enumerate(grid[0])]
    return header, grid[1:]


def from_pandas(spark: SparkSession, pdf) -> DataFrame:
    """pandas → Spark DataFrame (Arrow path), normalizing pandas NA→NULL."""
    import pandas as pd

    return spark.createDataFrame(pdf.where(pd.notna(pdf), None))


def read_excel(spark: SparkSession, path: str, sheet_name: int | str = 0) -> DataFrame:
    """Read an Excel sheet into a DataFrame: a header row + typed scalar
    cells (the reference's Skills.xlsx shape)."""
    import pandas as pd

    header, rows = read_xlsx_stdlib(path, sheet_name)
    return from_pandas(spark, pd.DataFrame(rows, columns=header))

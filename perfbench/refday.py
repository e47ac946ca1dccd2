"""The ``reference_day`` workload: the reference's daily lifecycle.

Each day the workload generates, from the run's seed:

- an OEWS HTML page (736 data rows plus two footer rows, 18 columns in
  the footnote/suppression grammar of FIXTURES.md §1);
- an O*NET Skills workbook (62,580 rows = 894 codes x 35 elements x 2
  scales, the 15 columns of FIXTURES.md §3), written as a plain
  ECMA-376 ``.xlsx`` with the standard library.

It then runs the day through the engine's public functions, one timed
step at a time (see ``run``), and checks every step's output against a
pure-Python replay of the same generated inputs (``Replay``).

Day to day the OEWS table changes the way a monthly re-scrape does: a
few occupations are dropped, the same number of never-seen codes is
added, and a seeded share of the remaining rows get revised values.
That drives ``operators.cdc.snapshot_diff`` and the
``sources.lake.merge_upsert`` of the changed rows into a keyed
``oews_current`` table.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
import traceback
import zipfile
from xml.sax.saxutils import escape

OEWS_HEADERS = [
    "Occupation (SOC code)",
    "Employment(1)",
    "Employment percent relative standard error(3)",
    "Hourly mean wage()",
    "Annual mean wage(2)",
    "Wage percent relative standard error(3)",
    "Hourly 10th percentile wage()",
    "Hourly 25th percentile wage()",
    "Hourly median wage()",
    "Hourly 75th percentile wage()",
    "Hourly 90th percentile wage()",
    "Annual 10th percentile wage(2)",
    "Annual 25th percentile wage(2)",
    "Annual median wage(2)",
    "Annual 75th percentile wage(2)",
    "Annual 90th percentile wage(2)",
    "Employment per 1,000 jobs()",
    "Location Quotient()",
]
# Cleaned names of OEWS_HEADERS[1:], with the grammar each is rendered in:
# "int" = thousands commas, "usd" = dollar sign, else a plain decimal.
OEWS_COLUMNS = [
    ("employment", "int"),
    ("employment_percent_relative_std_error", "1dp"),
    ("hourly_mean_wage", "usd2"),
    ("annual_mean_wage", "usd0"),
    ("wage_percent_relative_std_error", "1dp"),
    ("hourly_10th_percentile_wage", "usd2"),
    ("hourly_25th_percentile_wage", "usd2"),
    ("hourly_median_wage", "usd2"),
    ("hourly_75th_percentile_wage", "usd2"),
    ("hourly_90th_percentile_wage", "usd2"),
    ("annual_10th_percentile_wage", "usd0"),
    ("annual_25th_percentile_wage", "usd0"),
    ("annual_median_wage", "usd0"),
    ("annual_75th_percentile_wage", "usd0"),
    ("annual_90th_percentile_wage", "usd0"),
    ("employment_per_1000_jobs", "3dp"),
    ("location_quotient", "2dp"),
]
COMPARE_COLS = ["occupation"] + [c for c, _ in OEWS_COLUMNS]

ONET_HEADERS = [
    "O*NET-SOC Code", "Title", "Element ID", "Element Name", "Scale ID",
    "Scale Name", "Data Value", "N", "Standard Error", "Lower CI Bound",
    "Upper CI Bound", "Recommend Suppress", "Not Relevant", "Date",
    "Domain Source",
]
N_ELEMENTS = 35
SCALES = (("IM", "Importance"), ("LV", "Level"))
DATES = ["07/2015", "08/2016", "07/2018", "08/2019", "07/2021", "08/2022",
         "07/2024", "08/2025"]
FIRST_DAY = dt.date(2026, 1, 1)

# 856 XX-XXXX codes as in the reference's shipped data: [0:654] have an
# O*NET match, [654:774] are O*NET-only prefixes, [774:856] OEWS-only.
_CODES = [f"{10 + i % 90:02d}-{1000 + i // 90:04d}" for i in range(856)]
MATCHED, ONET_ONLY, OEWS_ONLY = _CODES[:654], _CODES[654:774], _CODES[774:]


def day_name(i: int) -> str:
    return (FIRST_DAY + dt.timedelta(days=i)).isoformat()


def onet_codes() -> list[tuple[str, str]]:
    """(O*NET code, XX-XXXX prefix): 114 matched and 6 O*NET-only
    prefixes carry two codes, the rest one, so 894 codes in all."""
    out = []
    for i, p in enumerate(MATCHED):
        out.append((f"{p}.00", p))
        if i < 114:
            out.append((f"{p}.01", p))
    for i, p in enumerate(ONET_ONLY):
        out.append((f"{p}.00", p))
        if i < 6:
            out.append((f"{p}.01", p))
    return out


def _new_code(n: int) -> str:
    """The n-th never-used SOC code (major groups 10..99 above 3000)."""
    return f"{10 + n % 90:02d}-{3000 + n // 90:04d}"


def _render(value, kind: str, note: str) -> str:
    if value is None:
        return f"({1 + len(note) % 8})-"
    if kind == "int":
        return f"({note}){value:,}"
    if kind == "usd0":
        return f"({note})${value:,}"
    if kind == "usd2":
        return f"({note})${value:,.2f}"
    return f"({note}){value:,.{int(kind[0])}f}"


def _typed(value, kind: str):
    """The cleaned value the engine must produce for a rendered cell."""
    if value is None:
        return None
    if kind in ("int", "usd0"):
        return int(value)
    return float(f"{value:.{2 if kind == 'usd2' else int(kind[0])}f}")


def _oews_row(rng: random.Random, code: str) -> dict:
    """One occupation's typed values (None = suppressed cell)."""
    wage = rng.randrange(25_000, 420_000)
    row = {"soc_code": code, "occupation": f"Occupation {code}, all other"}
    for col, kind in OEWS_COLUMNS:
        if col == "annual_mean_wage":
            v = wage
        elif col.startswith("annual_"):
            v = rng.randrange(20_000, 450_000)
        elif kind == "usd2":
            v = rng.uniform(9.0, 210.0)
        elif kind == "int":
            v = rng.randrange(30, 3_000_000)
        else:
            v = rng.uniform(0.1, 60.0)
        suppressed = rng.random() < (0.01 if col == "annual_mean_wage" else 0.05)
        row[col] = None if suppressed else _typed(v, kind)
    return row


class DayGenerator:
    """Seeded day-by-day OEWS tables."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        rng = random.Random(f"oews-{seed}-base")
        self.rows = {c: _oews_row(rng, c) for c in MATCHED + OEWS_ONLY}
        self.next_code = 0
        self.day = -1

    def next_day(self) -> dict[str, dict]:
        """Advance one day; day 0 is the universe as generated."""
        self.day += 1
        if self.day == 0:
            return dict(self.rows)
        rng = random.Random(f"oews-{self.seed}-day{self.day}")
        codes = sorted(self.rows)
        churn = rng.randrange(3, 9)
        for code in rng.sample(codes, churn):
            del self.rows[code]
        for _ in range(churn):
            code = _new_code(self.next_code)
            self.next_code += 1
            self.rows[code] = _oews_row(rng, code)
        for code in rng.sample(sorted(self.rows), rng.randrange(20, 60)):
            revised = _oews_row(rng, code)
            col, _ = OEWS_COLUMNS[rng.randrange(len(OEWS_COLUMNS))]
            self.rows[code] = {**self.rows[code], col: revised[col]}
        return dict(self.rows)


def oews_html(rows: dict[str, dict], day: int) -> str:
    kinds = dict(OEWS_COLUMNS)
    out = ["<html><body><h1>OEWS</h1><table><thead><tr>"]
    out += [f"<th>{escape(h)}</th>" for h in OEWS_HEADERS]
    out.append("</tr></thead><tbody>")
    for i, code in enumerate(sorted(rows)):
        r = rows[code]
        note = "" if (i + day) % 5 else str(1 + i % 9)
        cells = [f"{r['occupation']} ({code})"]
        cells += [_render(r[c], kinds[c], note) for c, _ in OEWS_COLUMNS]
        out.append("<tr>" + "".join(f"<td>{escape(c)}</td>" for c in cells)
                   + "</tr>")
    # the two trailing footer rows the reference drops positionally
    out.append("<tr><td>(1) Estimates do not include self-employed workers."
               "</td></tr><tr><td>SOC code: Standard Occupational "
               "Classification code</td></tr></tbody></table></body></html>")
    return "".join(out)


def onet_rows(seed: int) -> list[list]:
    rng = random.Random(f"onet-{seed}")
    rows = []
    for j, (code, _prefix) in enumerate(onet_codes()):
        title = f"Title {code}"
        date = DATES[j % len(DATES)]
        for e in range(N_ELEMENTS):
            for scale, scale_name in SCALES:
                value = round(rng.uniform(0.0, 7.0), 2)
                se = round(rng.uniform(0.01, 0.6), 4) if (j + e) % 13 else None
                lo = round(value - 0.5, 4)
                hi = round(value + 0.5, 4)
                rows.append([
                    code, title, f"2.A.{e // 10}.{chr(97 + e % 10)}",
                    f"Skill {e:02d}", scale, scale_name, value,
                    8 + (j + e) % 30, se, lo, hi,
                    "Y" if (j + e) % 17 == 0 else "N",
                    None if scale == "IM" else ("Y" if e % 11 == 0 else "N"),
                    date, "Analyst",
                ])
    return rows


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Minimal one-sheet workbook: shared strings for text, ``<v>`` for
    numbers, no cell for NULL."""
    strings: dict[str, int] = {}

    def cell(ref: str, v) -> str:
        if v is None:
            return ""
        if isinstance(v, str):
            idx = strings.setdefault(v, len(strings))
            return f'<c r="{ref}" t="s"><v>{idx}</v></c>'
        return f'<c r="{ref}"><v>{v!r}</v></c>'

    letters = [_col_letter(i) for i in range(len(header))]
    sheet = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/'
             'spreadsheetml/2006/main"><sheetData>']
    for n, row in enumerate([header] + rows, start=1):
        sheet.append(f'<row r="{n}">')
        sheet.extend(cell(f"{letters[i]}{n}", v) for i, v in enumerate(row))
        sheet.append("</row>")
    sheet.append("</sheetData></worksheet>")
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/'
           f'2006/main" count="{len(strings)}" uniqueCount="{len(strings)}">']
    sst += [f"<si><t>{escape(s)}</t></si>" for s in strings]
    sst.append("</sst>")
    main = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Types xmlns="{main}/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/'
            'vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/'
            'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType='
            '"application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/><Override PartName="/xl/sharedStrings.xml" '
            'ContentType="application/vnd.openxmlformats-officedocument.'
            'spreadsheetml.sharedStrings+xml"/></Types>'),
        "_rels/.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{main}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{main}/officeDocument/2006/'
            'relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>'),
        "xl/workbook.xml": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<workbook xmlns="{main}/spreadsheetml/2006/main" '
            f'xmlns:r="{main}/officeDocument/2006/relationships"><sheets>'
            '<sheet name="Skills" sheetId="1" r:id="rId1"/></sheets>'
            '</workbook>'),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            f'<Relationships xmlns="{main}/package/2006/relationships">'
            f'<Relationship Id="rId1" Type="{main}/officeDocument/2006/'
            'relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{main}/officeDocument/2006/'
            'relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>'),
        "xl/worksheets/sheet1.xml": "".join(sheet),
        "xl/sharedStrings.xml": "".join(sst),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)


def write_day_inputs(seed: int, days: int, out_dir: str) -> list[dict]:
    """Generate ``days`` days of raw inputs under ``out_dir``; returns one
    dict per day with the file paths and the typed OEWS rows.  O*NET
    publishes a new Skills workbook a few times a year, so every day of a
    run reads the same one."""
    os.makedirs(out_dir, exist_ok=True)
    xlsx = os.path.join(out_dir, "skills.xlsx")
    write_xlsx(xlsx, ONET_HEADERS, onet_rows(seed))
    gen = DayGenerator(seed)
    out = []
    for d in range(days):
        rows = gen.next_day()
        html = os.path.join(out_dir, f"oews_{d}.html")
        with open(html, "w", encoding="utf-8") as f:
            f.write(oews_html(rows, d))
        out.append({"day": day_name(d), "html": html, "xlsx": xlsx,
                    "oews": rows})
    return out


class Replay:
    """Pure-Python replay of the day sequence: what each step must return."""

    def __init__(self, day0: dict[str, dict], day0_name: str) -> None:
        self.prev = day0
        self.owner = {code: day0_name for code in day0}  # oews_current
        self.onet = onet_codes()

    def expect(self, rows: dict[str, dict]) -> dict:
        """What the next day's steps return.  The run moves the replay on
        (``prev``, ``owner``) only as far as the engine's own state moved."""
        prev = self.prev
        changed = [c for c in rows.keys() & prev.keys()
                   if any(rows[c][k] != prev[c][k] for k in COMPARE_COLS)]
        inserts = rows.keys() - prev.keys()
        upserts = set(changed) | inserts
        matched = upserts & self.owner.keys()
        return {
            "oews_rows": len(rows),
            "onet_rows": len(self.onet) * N_ELEMENTS * len(SCALES),
            "avg_groups": len({p for _c, p in self.onet}),
            "join_rows": N_ELEMENTS * len(SCALES) * sum(
                p in rows for _c, p in self.onet),
            "top10": self._top10(rows),
            "diff": {k: v for k, v in (
                ("insert", len(inserts)), ("delete", len(prev.keys() - rows.keys())),
                ("update", len(changed))) if v},
            "merge": (len({self.owner[c] for c in matched}),
                      len(upserts - matched)),
            "new_keys": upserts - matched,
        }

    def _top10(self, rows: dict[str, dict]) -> list[tuple]:
        ranked = [(f"Title {code}", rows[p]["annual_mean_wage"])
                  for code, p in self.onet if p in rows]
        ranked.sort(key=lambda t: (t[1] is None, -(t[1] or 0), t[0]))
        return [(t, None if w is None else float(w)) for t, w in ranked[:10]]


def _write_day0(root: str, rows: dict[str, dict], day: str) -> None:
    """The lake as a previous run left it: the day-0 OEWS snapshot and the
    keyed ``oews_current`` table, written with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [pa.field("soc_code", pa.string()),
              pa.field("occupation", pa.string())]
    fields += [pa.field(c, pa.int64() if k in ("int", "usd0") else pa.float64())
               for c, k in OEWS_COLUMNS]
    schema = pa.schema(fields)
    codes = sorted(rows)
    table = pa.table({f.name: [rows[c][f.name] for c in codes] for f in fields},
                     schema=schema)
    for dataset in ("oews_by_state", "oews_current"):
        part = os.path.join(root, dataset, f"snapshot_date={day}")
        os.makedirs(part)
        pq.write_table(table, os.path.join(part, "part-00000.parquet"))


def _written_since(paths: list[str], since: float) -> tuple[int, int]:
    files = size = 0
    for top in paths:
        for dirpath, _dirs, names in os.walk(top):
            for n in names:
                p = os.path.join(dirpath, n)
                if not n.startswith((".", "_")) and os.path.getmtime(p) >= since:
                    files += 1
                    size += os.path.getsize(p)
    return files, size


def run(b) -> None:
    """The workload: day 0 is the lake a previous run left; the cold pass
    and each warm pass run the next day."""
    from pyspark.sql import functions as F

    from occupation_wage_etl_spark.operators import cdc
    from occupation_wage_etl_spark.plans import oews, onet, views
    from occupation_wage_etl_spark.sources import excel, html_table, lake, warehouse

    passes = [("cold", True)] + [(f"w{i}", False) for i in range(b.warm_passes())]
    inputs = write_day_inputs(b.args.seed, 1 + len(passes),
                              os.path.join(b.work, "inputs"))
    root = os.path.join(b.work, "lake")
    wh = os.path.join(b.work, "warehouse")
    _write_day0(root, inputs[0]["oews"], inputs[0]["day"])
    replay = Replay(inputs[0]["oews"], inputs[0]["day"])
    if b.spans:
        b.spans.wrap(html_table, "extract_table", "sources.parse")
        b.spans.wrap(excel, "read_xlsx_stdlib", "sources.parse")
        b.spans.wrap(lake, "read_snapshot", "sources.read")
    P = lake.PARTITION_COL
    in_bytes = 0
    base = sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(root) for f in fs)
    prev_day = inputs[0]["day"]
    loaded = []  # the days whose warehouse load completed
    for (label, cold), inp in zip(passes, inputs[1:]):
        day = inp["day"]
        exp = replay.expect(inp["oews"])
        in_bytes += os.path.getsize(inp["html"]) + os.path.getsize(inp["xlsx"])
        st: dict = {}
        cpu0 = b.cpu_s()
        t_pass = time.perf_counter()
        spans0 = b.spans.snapshot() if b.spans else {}
        recs: dict[str, dict] = {}
        merges = 0

        def ingest_oews():
            with open(inp["html"], encoding="utf-8") as f:
                html = f.read()
            st["raw_oews"] = html_table.fetch_and_extract(b.spark, lambda: html)

        def ingest_onet():
            st["raw_onet"] = excel.read_excel(b.spark, inp["xlsx"])

        def clean_oews():
            st["oews"] = oews.clean_oews(st["raw_oews"])
            return st["oews"].count(), exp["oews_rows"]

        def clean_onet():
            st["onet"] = onet.clean_onet(st["raw_onet"])
            return st["onet"].count(), exp["onet_rows"]

        def snapshot():
            lake.write_snapshot(st["oews"], root, "oews_by_state", day)
            lake.write_snapshot(st["onet"], root, "onet_skills", day)

        def load_warehouse():
            st["oews_lake"] = lake.read_snapshot(
                b.spark, root, "oews_by_state", day).drop(P)
            st["onet_lake"] = lake.read_snapshot(
                b.spark, root, "onet_skills", day).drop(P)
            warehouse.idempotent_append(st["oews_lake"], "oews_by_state", day)
            warehouse.idempotent_append(st["onet_lake"], "onet_skills", day)

        def avg_view():
            n = views.oews_avg_over_onet(st["onet_lake"]).count()
            return n, exp["avg_groups"]

        def join_view():
            st["joined"] = views.onet_closest_oews(st["onet_lake"],
                                                   st["oews_lake"])
            return st["joined"].count(), exp["join_rows"]

        def top10():
            top = [(r["title"], r["annual_mean_wage"]) for r in
                   views.top_titles_by_wage(st["joined"], k=10).collect()]
            return top, exp["top10"]

        def diff():
            old = lake.read_snapshot(b.spark, root, "oews_by_state",
                                     prev_day).drop(P)
            st["diff"] = cdc.snapshot_diff(old, st["oews_lake"], "soc_code",
                                           COMPARE_COLS)
            got = {r[0]: r[1] for r in
                   st["diff"].groupBy("change_type").count().collect()}
            return got, exp["diff"]

        def merge():
            keys = st["diff"].filter(
                F.col("change_type").isin("insert", "update")
            ).select("soc_code")
            updates = st["oews_lake"].join(keys, "soc_code", "left_semi")
            got = lake.merge_upsert(b.spark, root, "oews_current",
                                    "soc_code", updates, insert_snapshot=day)
            return tuple(got), exp["merge"]

        def compact():
            return lake.compact_partition(b.spark, root, "oews_current", day), 1

        steps = [ingest_oews, ingest_onet, clean_oews, clean_onet, snapshot,
                 load_warehouse, avg_view, join_view, top10, diff, merge,
                 compact]
        done = set()
        for i, fn in enumerate(steps):
            key = f"{day}:{fn.__name__}"
            b.attempted.append(key)
            rec = recs[key] = {}
            before = b.spans.snapshot() if b.spans else None
            b.group(f"pb:{label}:{key}:exec")
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as exc:  # the day cannot go on without it
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                b.fail(key, rec["error"])
                traceback.print_exc(file=sys.stderr)
                for later in steps[i + 1:]:
                    b.attempted.append(f"{day}:{later.__name__}")
                    b.fail(f"{day}:{later.__name__}",
                           f"not run: {fn.__name__} raised")
                break
            finally:
                rec["wall_s"] = rec["exec_s"] = time.perf_counter() - t0
                if b.trace:
                    from tracing import delta, job_counts

                    rec["exec_jobs"] = job_counts(b.spark, f"pb:{label}:{key}:exec")
                    rec["operators"] = delta(b.spans.snapshot(), before)
            done.add(fn.__name__)
            if out is not None and out[0] != out[1]:
                b.fail(key, f"got {out[0]!r}, expected {out[1]!r}")
            if fn is merge:
                merges += out[0][0]
        own = b.end_query(rec)
        wall = time.perf_counter() - t_pass - own
        cpu = b.cpu_s() - cpu0
        # a failed step leaves the next days' inputs where the engine left them
        if "snapshot" in done:
            prev_day = day
            replay.prev = inp["oews"]
        if "merge" in done:
            replay.owner.update(dict.fromkeys(exp["new_keys"], day))
        if "load_warehouse" in done:
            loaded.append(inp)
        files, size = _written_since([root, wh], time.time() - wall)
        spans = b.spans.snapshot() if b.spans else {}
        p = {"label": label, "cold": cold, "wall_s": wall, "cpu_s": cpu,
             "queries": recs}

        def steps_s(name):
            return sum(r["wall_s"] for k, r in recs.items() if k.endswith(name))

        def span_s(layer):
            return spans.get(layer, (0.0, 0))[0] - spans0.get(layer, (0.0, 0))[0]

        p["sources"] = {
            "ingest_s": steps_s(":ingest_oews") + steps_s(":ingest_onet"),
            "parse_s": span_s("sources.parse"),
            "read_s": span_s("sources.read"),
            "write_s": sum(steps_s(s) for s in (":snapshot", ":load_warehouse",
                                                ":merge", ":compact")),
            "files_written": files,
            "bytes_written_mb": size / (1024 * 1024),
            "partitions_rewritten": merges,
            "plans.oews.s": steps_s(":clean_oews"),
            "plans.onet.s": steps_s(":clean_onet"),
            "plans.views.s": sum(steps_s(s) for s in (":avg_view", ":join_view",
                                                      ":top10")),
        }
        b.record["passes"].append(p)

    # the warehouse holds every processed day once
    for table, want in (
            ("oews_by_state", sum(len(i["oews"]) for i in loaded)),
            ("onet_skills", len(loaded) * len(replay.onet) * N_ELEMENTS
             * len(SCALES))):
        b.attempted.append(f"warehouse:{table}")
        got = b.spark.table(table).count()
        if got != want:
            b.fail(f"warehouse:{table}", f"got {got} rows, expected {want}")
    warm = [p["sources"] for p in b.record["passes"] if not p["cold"]]
    b.record["sources"] = {k: statistics.mean(w[k] for w in warm) for k in warm[0]}
    stored = sum(os.path.getsize(os.path.join(d, f))
                 for top in (root, wh) for d, _s, fs in os.walk(top) for f in fs
                 if not f.startswith((".", "_")))
    b.record["stored_bytes_per_input_byte"] = (stored - base) / in_bytes

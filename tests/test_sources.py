"""Source/sink tests: HTML table extraction (driver + distributed),
Excel adapter, snapshot lake (idempotency + partition pruning), and the
idempotent warehouse append."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from occupation_wage_etl_spark.sources import excel, html_table, lake, warehouse

OEWS_HTML = """
<html><body>
<table><tr><th>Unrelated</th></tr><tr><td>x</td></tr></table>
<table>
  <thead><tr><th>Occupation (SOC code)</th><th>Employment(1)</th></tr></thead>
  <tbody>
    <tr><td>Chief Executives (11-1011)</td><td>()2,091,480</td></tr>
    <tr><td>Dentists, General (29-1021)</td><td>(8)-</td></tr>
    <tr><td>(1) Footer junk</td><td></td></tr>
    <tr><td>SOC code: legend row</td><td></td></tr>
  </tbody>
</table>
</body></html>
"""


def test_extract_table_discovery_and_footer(spark):
    df = html_table.extract_table(spark, OEWS_HTML)
    assert df.columns == ["Occupation (SOC code)", "Employment(1)"]
    rows = df.collect()
    # the 2 trailing footer rows are dropped positionally (reference :79)
    assert len(rows) == 2
    assert rows[0]["Employment(1)"] == "()2,091,480"
    # all-string raw layer
    assert all(t == "string" for _, t in df.dtypes)


def test_extract_table_errors(spark):
    with pytest.raises(ValueError, match="no table"):
        html_table.extract_table(spark, "<html><table><tr><th>Nope</th></tr></table></html>")
    with pytest.raises(ValueError, match="no data rows"):
        html_table.extract_table(
            spark,
            "<table><tr><th>Occupation (SOC code)</th></tr>"
            "<tr><td>only</td></tr><tr><td>footers</td></tr></table>",
        )


def test_extract_table_is_a_local_relation(spark):
    """The raw table crosses into the JVM once, as Arrow: its plan is a
    LocalRelation, not a Python RDD that re-pickles the rows on every
    action.  Duplicate headers and short rows keep their shape."""
    html = (
        "<table><tr><th>Occupation (SOC code)</th><th>x</th><th>x</th></tr>"
        "<tr><td>a</td><td>1</td><td>2</td></tr><tr><td>b</td></tr>"
        "<tr><td>footer</td></tr></table>"
    )
    df = html_table.extract_table(spark, html, drop_footer_rows=1)
    plan = df._jdf.queryExecution().analyzed()  # noqa: SLF001
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.columns == ["Occupation (SOC code)", "x", "x"]
    assert [tuple(r) for r in df.collect()] == [("a", "1", "2"), ("b", "", "")]


def test_parse_tables_distributed(spark):
    pages = spark.createDataFrame(
        [("u1", OEWS_HTML), ("u2", "<p>no tables here</p>"), ("u3", None)],
        ["url", "html"],
    )
    out = html_table.parse_tables_distributed(pages).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r)
    assert set(by_url) == {"u1"}  # pages without tables contribute nothing
    # u1 has 2 tables: 1 data row in the unrelated one + 4 in the OEWS one
    assert len(by_url["u1"]) == 5
    cells = [r["cells"] for r in by_url["u1"] if r["table_idx"] == 1]
    assert ["Chief Executives (11-1011)", "()2,091,480"] in cells


def test_excel_from_pandas_null_normalization(spark):
    pdf = pd.DataFrame(
        {"a": [1.0, None, 3.0], "b": pd.array([1, None, 3], dtype="Int64"), "c": ["x", None, "z"]}
    )
    df = excel.from_pandas(spark, pdf)
    rows = df.orderBy("a").collect()
    assert rows[-1]["a"] is None or rows[0]["a"] is None  # NaN → NULL, not NaN
    nulls = df.filter(F.col("b").isNull()).count()
    assert nulls == 1


def _write_minimal_xlsx(path, sheet: str | None = None) -> None:
    """Hand-built ECMA-376 workbook (zip of XML parts): header row + three
    data rows mixing shared strings, rich-text runs, inline strings,
    ints, floats, booleans, and a skipped (sparse) cell.  ``sheet``
    replaces the worksheet XML (same shared strings)."""
    import zipfile

    content_types = (
        '<?xml version="1.0"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/'
        'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.'
        'openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
        "</Types>"
    )
    root_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
        "</Relationships>"
    )
    workbook = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        '<sheets><sheet name="Skills" sheetId="1" r:id="rId1"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
        "</Relationships>"
    )
    shared = (
        '<?xml version="1.0"?>'
        '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">'
        "<si><t>soc_code</t></si><si><t>element</t></si><si><t>score</t></si>"
        "<si><r><t>11-</t></r><r><t>1011</t></r></si>"  # rich-text runs
        "</sst>"
    )
    sheet = sheet or (
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1">'
        '<c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>0</v></c>'
        "</row>"
        '<row r="2">'
        '<c r="A2" t="s"><v>3</v></c>'
        '<c r="B2" t="inlineStr"><is><t>Critical Thinking</t></is></c>'
        '<c r="C2"><v>4.12</v></c><c r="D2" t="b"><v>1</v></c>'
        "</row>"
        '<row r="3">'
        '<c r="A3" t="str"><v>13-2011</v></c>'  # formula-cached text
        '<c r="C3"><v>3</v></c>'  # B3 skipped → NULL; int-valued number
        "</row>"
        '<row r="4">'
        '<c r="A4" t="s"><v>3</v></c><c r="B4" t="inlineStr"><is><t/></is></c>'
        '<c r="C4"><v>2.5</v></c><c r="D4" t="b"><v>0</v></c>'
        "</row>"
        "</sheetData></worksheet>"
    )
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        zf.writestr("xl/sharedStrings.xml", shared)
        zf.writestr("xl/worksheets/sheet1.xml", sheet)


def test_read_xlsx_stdlib_types_and_sparsity(tmp_path):
    path = str(tmp_path / "skills.xlsx")
    _write_minimal_xlsx(path)
    header, rows = excel.read_xlsx_stdlib(path)
    assert header == ["soc_code", "element", "score", "soc_code"]
    assert rows[0] == ["11-1011", "Critical Thinking", 4.12, True]
    assert rows[1] == ["13-2011", None, 3, None]  # sparse cells → NULL
    assert rows[2] == ["11-1011", "", 2.5, False]
    # sheet addressing: by name and a clear error otherwise
    assert excel.read_xlsx_stdlib(path, "Skills")[0] == header
    with pytest.raises(ValueError, match="not found"):
        excel.read_xlsx_stdlib(path, "Nope")


def test_read_excel_end_to_end(spark, tmp_path):
    """S3 end-to-end: xlsx file → Spark DataFrame (reference
    ``load_data.py:282-286``).  Pins column types and values, the
    contract the reference's ``pd.read_excel`` → ``createDataFrame``
    load relies on: numbers in an all-integer column are bigint, a float
    column keeps a blank cell as NULL (not NaN), booleans and strings
    stay typed."""
    path = str(tmp_path / "skills.xlsx")
    _write_minimal_xlsx(path)
    df = excel.read_excel(spark, path)
    assert df.dtypes == [
        ("soc_code", "string"), ("element", "string"),
        ("score", "double"), ("soc_code", "boolean"),
    ]
    assert [tuple(r) for r in df.collect()] == [
        ("11-1011", "Critical Thinking", 4.12, True),
        ("13-2011", None, 3.0, None),
        ("11-1011", "", 2.5, False),
    ]

    path = str(tmp_path / "numbers.xlsx")
    _write_minimal_xlsx(path, sheet=(
        '<?xml version="1.0"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>n</t></is></c>'
        '<c r="B1" t="inlineStr"><is><t>x</t></is></c></row>'
        '<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>1.5</v></c></row>'
        '<row r="3"><c r="A3"><v>2</v></c><c r="B3"/></row>'  # blank cell
        '<row r="4"><c r="A4"><v>3</v></c><c r="B4"><v>2.25</v></c></row>'
        "</sheetData></worksheet>"
    ))
    df = excel.read_excel(spark, path)
    assert df.dtypes == [("n", "bigint"), ("x", "double")]
    assert [tuple(r) for r in df.collect()] == [(1, 1.5), (2, None), (3, 2.25)]


def test_lake_snapshot_idempotent_and_pruned(spark, tmp_path):
    root = str(tmp_path / "lake")
    df1 = spark.range(5).withColumn("v", F.lit("day1"))
    lake.write_snapshot(df1, root, "ds", "2026-01-01")
    lake.write_snapshot(
        spark.range(3).withColumn("v", F.lit("day2")), root, "ds", "2026-01-02"
    )
    # re-run day1 with different content — must REPLACE, not append
    lake.write_snapshot(
        spark.range(2).withColumn("v", F.lit("day1-rerun")), root, "ds", "2026-01-01"
    )
    all_rows = lake.read_snapshot(spark, root, "ds")
    assert all_rows.count() == 5  # 2 (replaced day1) + 3 (day2)
    day1 = lake.read_snapshot(spark, root, "ds", "2026-01-01")
    assert day1.count() == 2
    assert set(r["v"] for r in day1.collect()) == {"day1-rerun"}
    latest = lake.latest_snapshot(spark, root, "ds")
    assert set(r["v"] for r in latest.collect()) == {"day2"}
    # partition pruning: the date filter must reach the scan as a
    # PartitionFilter, not a post-scan Filter
    plan = day1._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(snapshot_date" in plan


def test_warehouse_idempotent_append(spark):
    table = "t_idem_append"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    warehouse.idempotent_append(df, table, "2026-01-01")
    warehouse.idempotent_append(df, table, "2026-01-02")
    # re-run day 1: row count for that partition must not grow
    warehouse.idempotent_append(df, table, "2026-01-01")
    got = spark.table(table)
    assert got.count() == 4
    assert got.filter(F.col("snapshot_date") == "2026-01-01").count() == 2
    spark.sql(f"DROP TABLE {table}")


def test_warehouse_create_if_not_exists(spark):
    table = "t_ddl"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse.create_table_if_not_exists(
        spark, table, "id BIGINT, v STRING, snapshot_date STRING"
    )
    warehouse.create_table_if_not_exists(  # second call: no-op, no raise
        spark, table, "id BIGINT, v STRING, snapshot_date STRING"
    )
    assert spark.catalog.tableExists(table)
    spark.sql(f"DROP TABLE {table}")


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located bucketed tables must join with zero Exchange operators —
    the 100 TB fact-join contract (lake.write_bucketed docstring)."""
    spark.sql("DROP TABLE IF EXISTS t_fact_a")
    spark.sql("DROP TABLE IF EXISTS t_fact_b")
    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("va"))
    b = spark.range(500).select(F.col("id").alias("k"), (F.col("id") % 3).alias("vb"))
    lake.write_bucketed(a, "t_fact_a", "k", n_buckets=8)
    lake.write_bucketed(b, "t_fact_b", "k", n_buckets=8)
    # merge hint: these test tables are broadcast-small, but the contract
    # under test is the shuffle-join regime (where bucketing matters)
    joined = spark.table("t_fact_a").hint("merge").join(spark.table("t_fact_b"), "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 500
    spark.sql("DROP TABLE t_fact_a")
    spark.sql("DROP TABLE t_fact_b")


def test_delete_by_key_rewrites_only_hit_partitions(spark, tmp_path):
    from occupation_wage_etl_spark.sources import lake

    root = str(tmp_path / "lake")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    d2 = spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string")
    lake.write_snapshot(d1, root, "ds", "2026-01-01")
    lake.write_snapshot(d2, root, "ds", "2026-01-02")

    import os
    day2_dir = f"{root}/ds/snapshot_date=2026-01-02"
    before = {f: os.path.getmtime(f"{day2_dir}/{f}") for f in os.listdir(day2_dir)}

    victims = spark.createDataFrame([(2,)], "k long")
    n = lake.delete_by_key(spark, root, "ds", "k", victims)
    assert n == 1  # only day 1 contained key 2

    remaining = sorted(
        (r["k"], str(r["snapshot_date"]))  # partition col is inferred DATE
        for r in spark.read.parquet(f"{root}/ds").collect()
    )
    assert remaining == [(1, "2026-01-01"), (3, "2026-01-02"), (4, "2026-01-02")]
    # untouched partition's files were not rewritten
    after = {f: os.path.getmtime(f"{day2_dir}/{f}") for f in os.listdir(day2_dir)}
    assert before == after

    # deleting a key that exists nowhere is a no-op
    assert lake.delete_by_key(
        spark, root, "ds", "k", spark.createDataFrame([(99,)], "k long")
    ) == 0


def test_compact_partition(spark, tmp_path):
    from occupation_wage_etl_spark.sources import lake

    root = str(tmp_path / "lake2")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    # force many small files
    lake.write_snapshot(df.repartition(16), root, "ds", "2026-01-01")
    import glob
    part_dir = f"{root}/ds/snapshot_date=2026-01-01"
    assert len(glob.glob(f"{part_dir}/*.parquet")) == 16

    n_files = lake.compact_partition(spark, root, "ds", "2026-01-01")
    assert n_files == 1  # tiny data -> one target-size file
    assert len(glob.glob(f"{part_dir}/*.parquet")) == 1
    got = sorted(r["k"] for r in lake.read_snapshot(spark, root, "ds", "2026-01-01").collect())
    assert got == list(range(1000))


def test_merge_upsert_updates_in_place_and_appends_inserts(spark, tmp_path):
    import os

    root = str(tmp_path / "lake3")
    d1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    d2 = spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string")
    lake.write_snapshot(d1, root, "ds", "2026-01-01")
    lake.write_snapshot(d2, root, "ds", "2026-01-02")

    day2_dir = f"{root}/ds/snapshot_date=2026-01-02"
    before = {f: os.path.getmtime(f"{day2_dir}/{f}") for f in os.listdir(day2_dir)}

    # key 1 → update (lives on day 1); key 9 → insert (new)
    updates = spark.createDataFrame([(1, "A2"), (9, "new")], "k long, v string")
    n_parts, n_ins = lake.merge_upsert(
        spark, root, "ds", "k", updates, insert_snapshot="2026-01-03"
    )
    assert (n_parts, n_ins) == (1, 1)

    got = sorted(
        (r["k"], r["v"], str(r["snapshot_date"]))
        for r in spark.read.parquet(f"{root}/ds").collect()
    )
    assert got == [
        (1, "A2", "2026-01-01"),  # updated in its original partition
        (2, "b", "2026-01-01"),
        (3, "c", "2026-01-02"),
        (4, "d", "2026-01-02"),
        (9, "new", "2026-01-03"),  # inserted into the target snapshot
    ]
    # unmatched partition (day 2) was never rewritten
    after = {f: os.path.getmtime(f"{day2_dir}/{f}") for f in os.listdir(day2_dir)}
    assert before == after

    # pure-insert batch touches no existing partition
    n_parts, n_ins = lake.merge_upsert(
        spark, root, "ds", "k",
        spark.createDataFrame([(10, "x")], "k long, v string"),
        insert_snapshot="2026-01-03",
    )
    assert (n_parts, n_ins) == (0, 1)


def _two_day_lake(spark, root, day1, day2):
    for date, rows in (("2026-01-01", day1), ("2026-01-02", day2)):
        lake.write_snapshot(
            spark.createDataFrame(rows, "k long, v string"), root, "ds", date
        )


def _mtimes(root):
    import os

    return {
        (d, f): os.path.getmtime(f"{root}/ds/{d}/{f}")
        for d in os.listdir(f"{root}/ds")
        for f in os.listdir(f"{root}/ds/{d}")
    }


def _lake_rows(spark, root):
    return sorted(
        (r["k"], r["v"], str(r["snapshot_date"]))
        for r in spark.read.parquet(f"{root}/ds").collect()
    )


def test_merge_upsert_empty_batch_rewrites_nothing(spark, tmp_path):
    root = str(tmp_path / "lake")
    _two_day_lake(spark, root, [(1, "a")], [(2, "b")])
    before = _mtimes(root)
    got = lake.merge_upsert(
        spark, root, "ds", "k",
        spark.createDataFrame([], "k long, v string"),
        insert_snapshot="2026-01-03",
    )
    assert got == (0, 0)
    assert _mtimes(root) == before  # no partition rewritten or added


def test_merge_upsert_duplicate_keys_yield_one_row(spark, tmp_path):
    root = str(tmp_path / "lake")
    _two_day_lake(spark, root, [(1, "a")], [(2, "b")])
    updates = spark.createDataFrame(
        [(1, "A2"), (1, "A2"), (9, "new"), (9, "new")], "k long, v string"
    )
    got = lake.merge_upsert(
        spark, root, "ds", "k", updates, insert_snapshot="2026-01-03"
    )
    assert got == (1, 1)
    assert _lake_rows(spark, root) == [
        (1, "A2", "2026-01-01"),
        (2, "b", "2026-01-02"),
        (9, "new", "2026-01-03"),
    ]


def test_merge_upsert_key_in_two_partitions_updates_both(spark, tmp_path):
    root = str(tmp_path / "lake")
    _two_day_lake(spark, root, [(1, "a"), (2, "b")], [(1, "c"), (3, "d")])
    updates = spark.createDataFrame(
        [(1, "A2"), (9, "new")], "k long, v string"
    )
    got = lake.merge_upsert(
        spark, root, "ds", "k", updates, insert_snapshot="2026-01-03"
    )
    assert got == (2, 1)
    assert _lake_rows(spark, root) == [
        (1, "A2", "2026-01-01"),
        (1, "A2", "2026-01-02"),
        (2, "b", "2026-01-01"),
        (3, "d", "2026-01-02"),
        (9, "new", "2026-01-03"),
    ]


def _counted_frame(spark, rows, schema):
    """``rows`` as a frame whose key column goes through a Python UDF
    that bumps an accumulator once per row it evaluates."""
    evaluated = spark.sparkContext.accumulator(0)

    def tick(k):
        evaluated.add(1)
        return k

    df = spark.createDataFrame(rows, schema)
    tick_udf = F.udf(tick, "long").asNondeterministic()
    return df.withColumn("k", tick_udf("k")), evaluated


def test_merge_upsert_evaluates_updates_once(spark, tmp_path):
    root = str(tmp_path / "lake")
    _two_day_lake(spark, root, [(1, "a"), (2, "b")], [(3, "c")])
    rows = [(1, "A2"), (3, "C2"), (9, "new")]
    updates, evaluated = _counted_frame(spark, rows, "k long, v string")
    got = lake.merge_upsert(
        spark, root, "ds", "k", updates, insert_snapshot="2026-01-03"
    )
    assert got == (2, 1)
    assert evaluated.value == len(rows)


def test_delete_by_key_evaluates_keys_once(spark, tmp_path):
    root = str(tmp_path / "lake")
    _two_day_lake(spark, root, [(1, "a"), (2, "b")], [(3, "c")])
    rows = [(1,), (7,)]
    keys, evaluated = _counted_frame(spark, rows, "k long")
    assert lake.delete_by_key(spark, root, "ds", "k", keys) == 1
    assert evaluated.value == len(rows)
    assert _lake_rows(spark, root) == [
        (2, "b", "2026-01-01"),
        (3, "c", "2026-01-02"),
    ]


def test_jdbc_round_trip_live_when_available(spark):
    """Live JDBC parity (reference load_data.py:203-213) — the one
    reference edge the sandbox can't exercise (no Postgres, no JDBC
    driver jar).  Env-gate it so any environment WITH a warehouse runs
    the real round trip: set SPARK_GRAFT_JDBC_URL (e.g.
    jdbc:postgresql://host/db?user=u&password=p) and ensure the driver
    jar is on spark.jars."""
    import os

    import pytest

    from occupation_wage_etl_spark.sources import warehouse

    url = os.environ.get("SPARK_GRAFT_JDBC_URL")
    if not url:
        pytest.skip("no SPARK_GRAFT_JDBC_URL configured (no live warehouse)")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, payload string"
    )
    warehouse.jdbc_append(df, url, "spark_graft_jdbc_smoke", "2026-08-14",
                          mode="overwrite")
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "spark_graft_jdbc_smoke")
        .load()
    )
    assert back.count() == 2
    assert set(back.columns) == {"id", "payload", "snapshot_date"}


def test_jsonl_read_with_quarantine(spark, tmp_path):
    """JSONL corpus source (sources/jsonl.py): enforced schema, torn
    lines quarantined instead of failing the read."""
    from occupation_wage_etl_spark.sources import jsonl

    p = tmp_path / "dump.jsonl"
    p.write_text(
        '{"doc_id": 1, "source": "web", "lang": "en", "text": "hello world"}\n'
        '{"doc_id": 2, "source": "web", "lang": "fr", "text": "bonjour"}\n'
        '{"doc_id": 3, "source": "web", "lang":\n'          # torn line
        'not json at all\n'
        '{"doc_id": 4, "text": "fields may be absent"}\n'
    )
    clean, quarantine = jsonl.read_documents(spark, str(p))
    rows = {r["doc_id"]: r for r in clean.collect()}
    assert set(rows) == {1, 2, 4}
    assert rows[1]["text"] == "hello world"
    assert rows[4]["lang"] is None  # absent field -> NULL, not corrupt
    bad = [r["raw_line"] for r in quarantine.collect()]
    assert len(bad) == 2
    assert "not json at all" in bad


def test_jsonl_schema_is_projection_pushdown(spark, tmp_path):
    """The enforced schema must act as a parse-time projection: extra
    fields in the file are skipped, not errors."""
    from occupation_wage_etl_spark.sources import jsonl

    p = tmp_path / "wide.jsonl"
    p.write_text(
        '{"doc_id": 7, "text": "keep", "huge_unwanted_field": "x", "n": 5}\n'
    )
    clean, quarantine = jsonl.read_documents(
        spark, str(p), schema="doc_id LONG, text STRING"
    )
    assert [tuple(r) for r in clean.collect()] == [(7, "keep")]
    assert quarantine.count() == 0

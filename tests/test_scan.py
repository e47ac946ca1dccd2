"""The prefix scan (operators/_scan.py): the window form and the
two-level form give bit-identical rows and totals on edge inputs, and
no other engine module range-partitions by hand."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._scan import (
    prefix_scan,
    resolve_two_level,
)

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "occupation_wage_etl_spark"
SCHEMA = "g string, k1 long, k2 long, w long, v double"


def _rows(kind: str) -> list[tuple]:
    if kind == "empty":
        return []
    if kind == "nulls":
        # NULL weights and values open every group and recur inside it;
        # one NULL group and one NULL order key (sorted first)
        out = [
            (
                ("a", "b", None)[i % 3],
                i,
                0,
                None if i % 5 in (0, 1) else i % 11,
                None if i % 4 == 0 else float(i % 13) - 6.0,
            )
            for i in range(60)
        ]
        return out + [("a", None, 0, 7, 2.5)]
    if kind == "skewed":
        # one group holds 200 of 220 rows, next to 20 singletons
        big = [("big", i, 0, i % 7, float((i * 37) % 101)) for i in range(200)]
        return big + [(f"s{i}", 1000 + i, 0, i, float(i)) for i in range(20)]
    # multi-column order: k1 repeats, k2 breaks the ties
    return [
        (("x", "y")[i % 2], i // 7, (i * 13) % 97, i % 5, float(i % 17))
        for i in range(150)
    ]


def _collect(df) -> list[tuple]:
    return sorted(tuple(repr(x) for x in r) for r in df.collect())


@pytest.mark.parametrize("partitions", [1, 7])
@pytest.mark.parametrize("kind", ["empty", "nulls", "skewed", "multi_order"])
@pytest.mark.parametrize("by", [(), ("g",)], ids=["global", "grouped"])
@pytest.mark.parametrize(
    "inclusive,descending",
    [(False, False), (True, False), (False, True)],
    ids=["exclusive", "inclusive", "descending"],
)
def test_window_and_two_level_forms_are_identical(
    spark, partitions, kind, by, inclusive, descending
):
    df = spark.createDataFrame(_rows(kind), SCHEMA)
    order = [F.col("k1"), F.col("k2")]
    if descending:
        order = [c.desc() for c in order]
    aggs = {
        "s": ("sum", F.col("w")),
        "mx": ("max", F.col("v")),
        "mn": ("min", F.col("v")),
    }
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        results = []
        for two_level in (False, True):
            rows, totals = prefix_scan(
                df, order, aggs, by=by, inclusive=inclusive, two_level=two_level
            )
            plan = rows._jdf.queryExecution().analyzed().toString()
            assert ("__pid" in plan) is two_level
            results.append((_collect(rows), _collect(totals)))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert results[0] == results[1]
    data = _rows(kind)
    window_rows, window_totals = results[0]
    assert len(window_rows) == len(data)
    assert len(window_totals) == (len({r[0] for r in data}) if by else 1)


def test_exclusive_edges_are_zero_sum_and_null_extrema(spark):
    df = spark.createDataFrame([("a", 1, 0, 5, 1.5), ("a", 2, 0, 3, 0.5)], SCHEMA)
    rows, totals = prefix_scan(
        df,
        ["k1"],
        {"s": ("sum", F.col("w")), "mx": ("max", F.col("v"))},
        two_level=True,
    )
    got = sorted((r["k1"], r["s"], r["mx"]) for r in rows.collect())
    assert got == [(1, 0, None), (2, 5, 1.5)]
    t = totals.collect()[0]
    assert (t["s_total"], t["mx_total"]) == (8, 1.5)


def test_one_shuffle_partition_resolves_to_window(spark):
    # a two-level scan over one partition has nothing to parallelise
    df = spark.range(10)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.graft.distCumWindowMaxRows", "0")
    try:
        assert resolve_two_level(df) is True
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        assert resolve_two_level(df) is False
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.unset("spark.graft.distCumWindowMaxRows")


def test_engine_range_partitions_only_in_scan_module():
    offenders = sorted(
        str(p.relative_to(ENGINE))
        for p in ENGINE.rglob("*.py")
        if p.name != "_scan.py" and "repartitionByRange(" in p.read_text()
    )
    assert offenders == []

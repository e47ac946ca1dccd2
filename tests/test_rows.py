"""operators/_rows.flat_map — the per-row Python bridge over Arrow."""

from __future__ import annotations

import pathlib

import pytest

from occupation_wage_etl_spark.operators._rows import flat_map

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "occupation_wage_etl_spark"


def test_null_inputs_reach_fn_as_none(spark):
    df = spark.createDataFrame(
        [(1, None, b"x"), (2, "a", None)], "id long, s string, b binary"
    )
    out = flat_map(
        df, ["id", "s", "b"], "id long, s_none boolean, b_none boolean",
        lambda i, s, b: [(i, s is None, b is None)],
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, True, False), (2, False, True),
    ]


def test_zero_one_and_many_rows_per_input(spark):
    df = spark.createDataFrame([(0,), (1,), (3,)], "n int")
    out = flat_map(
        df, ["n"], "n int, k int", lambda n: [(n, k) for k in range(n)]
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0), (3, 0), (3, 1), (3, 2),
    ]


def test_none_in_int_and_long_outputs_is_null(spark):
    df = spark.createDataFrame([(1,), (2,)], "id long")
    out = flat_map(
        df, ["id"], "id long, w int, big long",
        lambda i: [(i, None if i == 1 else 640, None if i == 1 else 2**40)],
    )
    assert out.schema.simpleString() == "struct<id:bigint,w:int,big:bigint>"
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, None, None), (2, 640, 2**40),
    ]


def test_empty_input(spark):
    df = spark.createDataFrame([], "id long, s string")
    out = flat_map(df, ["id", "s"], "id long, n int", lambda i, s: [(i, 1)])
    assert out.collect() == []
    assert out.columns == ["id", "n"]


def test_value_error_in_fn_surfaces_from_collect(spark):
    df = spark.createDataFrame([(1,)], "id long")

    def _fn(i):
        raise ValueError("corrupt payload 7f3a")

    with pytest.raises(Exception, match="corrupt payload 7f3a"):
        flat_map(df, ["id"], "id long", _fn).collect()


def test_engine_uses_map_in_pandas_only_in_similarity():
    """Per-row Python goes through flat_map; only the vectorized numpy
    kernels in similarity.py keep a pandas batch bridge."""
    hits = sorted(
        str(p.relative_to(ENGINE))
        for p in ENGINE.rglob("*.py")
        if ".mapInPandas(" in p.read_text()
    )
    assert hits == ["operators/similarity.py"]

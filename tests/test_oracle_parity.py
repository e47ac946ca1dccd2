"""Local replica of the driver's correctness gate: run every Spark query
and its DuckDB oracle on the same parquet, compare row counts, column
names, and values (exact for non-floats, tight-tolerance for floats —
stricter than the driver's hash in spirit: we also report max float
deviation so bit-inexactness is caught before the driver sees it).
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest

from occupation_wage_etl_spark import queries
from occupation_wage_etl_spark.queries import ORACLE_SQL, SPARK_QUERIES
from tools.harness import collect, register_views, run_query


@pytest.fixture(scope="module")
def oracle(sf_tiny):
    con = duckdb.connect()
    register_views(con, sf_tiny)
    yield con
    con.close()


def _canon(rows, columns):
    """Sort columns by name, then rows; floats get exact bits preserved."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = tuple(row[i] for i in idx)
        out.append(vals)
    key = lambda r: tuple((v is None, str(type(v)), str(v)) for v in r)
    return sorted(out, key=key), [columns[i] for i in idx]


@pytest.mark.parametrize("name", sorted(ORACLE_SQL))
def test_query_matches_oracle(name, spark, sf_tiny, oracle):
    # run_query releases the query's persists and checkpoints
    (srows, scols), _, _ = run_query(spark, name, sf_tiny, collect)

    cur = oracle.execute(ORACLE_SQL[name])
    ocols = [d[0] for d in cur.description]
    orows = [tuple(r) for r in cur.fetchall()]

    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(orows), (
        f"{name}: row count {len(srows)} vs oracle {len(orows)}"
    )

    s_sorted, cols = _canon(srows, scols)
    o_sorted, _ = _canon(orows, ocols)
    max_float_dev = 0.0
    for i, (sr, orow) in enumerate(zip(s_sorted, o_sorted)):
        for c, (sv, ov) in zip(cols, zip(sr, orow)):
            if isinstance(sv, float) and isinstance(ov, float):
                if math.isnan(sv) and math.isnan(ov):
                    continue
                dev = abs(sv - ov)
                max_float_dev = max(max_float_dev, dev)
                assert sv == ov or dev < 1e-9, (
                    f"{name} row {i} col {c}: {sv!r} != {ov!r}"
                )
            else:
                assert sv == ov, f"{name} row {i} col {c}: {sv!r} != {ov!r}"
    # bit-exactness report: queries designed to be exact should show 0.0
    if max_float_dev:
        print(f"{name}: max float deviation {max_float_dev:.3e}")


def test_every_registry_query_is_oracle_paired():
    """The registry's contract: every queries() entry carries an
    oracle_sql() entry (the driver's strongest check).  Both dicts are
    derived from queries.py's names — builder ``qNN_name``, oracle
    ``QNN_SQL`` — so a builder without its oracle already fails the
    import.  This pins the rest: 312 builders in query-number order,
    the same keys in the same order on both sides, no orphan oracle
    constant, and every builder registered under its own name."""
    assert set(SPARK_QUERIES) == set(ORACLE_SQL)
    assert list(ORACLE_SQL) == list(SPARK_QUERIES)
    numbers = [re.fullmatch(r"q(\d+)_\w+", n)[1] for n in SPARK_QUERIES]
    assert len(numbers) == 312
    assert [int(n) for n in numbers] == sorted({int(n) for n in numbers})
    oracles = {n for n in vars(queries) if re.fullmatch(r"Q\d+_SQL", n)}
    assert oracles == {f"Q{n}_SQL" for n in numbers}
    for name, builder in SPARK_QUERIES.items():
        assert builder.__name__ == name
        assert isinstance(ORACLE_SQL[name], str) and ORACLE_SQL[name].strip()

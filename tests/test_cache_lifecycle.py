"""Lifecycle tests for the blocks operators hold (operators/_cache.py).

The registry holds STRONG references: operator-local DataFrame wrappers
are GC'd when the operator returns while the persisted RDD lives on in
the JVM, so a weakref registry would be dead (and release a no-op) by
the time any scope exits — the exact silent-leak failure mode these
tests pin down.  Every count here is of the session's persistent RDDs,
the blocks Spark really holds.
"""

from __future__ import annotations

import gc
import pathlib
import re

import pytest
from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators._cache import (
    cached,
    checkpoint,
    release_cached,
    release_checkpoints,
    scope,
)

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "occupation_wage_etl_spark"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def before(spark):
    """Drain the unscoped registry; the session's block count after."""
    release_cached()
    release_checkpoints(spark)
    return _n_persisted(spark)


def _op_with_internal_persist(spark):
    """Mimics an operator: persists a local intermediate consumed twice
    by the returned plan, then drops its own reference on return."""
    base = cached(
        spark.range(1000).select(
            (F.col("id") % 10).alias("g"), F.col("id").alias("v")
        )
    )
    return base.groupBy("g").count().join(base.select("g").distinct(), "g")


def test_release_survives_operator_local_gc(spark, before):
    out = _op_with_internal_persist(spark)
    out.collect()  # action populates the cache
    gc.collect()  # kill any operator-local wrapper objects
    assert _n_persisted(spark) > before  # persist actually happened
    assert release_cached() >= 1  # strong refs: still releasable post-GC
    assert _n_persisted(spark) == before  # and the JVM blocks are gone
    assert release_cached() == 0  # registry cleared


def test_cached_scope_releases_only_its_own(spark, before):
    outer = cached(spark.range(10).select(F.col("id").alias("a")))
    outer.collect()
    with scope():
        _op_with_internal_persist(spark).collect()
        assert _n_persisted(spark) == before + 2
        with scope():  # scopes nest: the inner one releases only its own
            checkpoint(spark.range(5))
            assert _n_persisted(spark) == before + 3
        assert _n_persisted(spark) == before + 2
    # scope exit released the inner persist, left the outer one
    assert _n_persisted(spark) == before + 1
    assert outer.storageLevel.useMemory or outer.storageLevel.useDisk
    assert release_cached() == 1
    assert _n_persisted(spark) == before


def test_cached_scope_releases_on_error(spark, before):
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            _op_with_internal_persist(spark).collect()
            checkpoint(spark.range(5))
            raise RuntimeError("boom")
    assert _n_persisted(spark) == before
    # nothing registered in the scope leaked into the unscoped registry
    assert release_cached() == 0 and release_checkpoints(spark) == 0


def test_lake_rewrites_release_their_checkpoints(spark, tmp_path):
    from occupation_wage_etl_spark.sources import lake

    root = str(tmp_path / "lake")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    lake.write_snapshot(rows, root, "ds", "2026-01-01")
    before = _n_persisted(spark)
    calls = {
        "merge": lambda: lake.merge_upsert(
            spark, root, "ds", "k",
            spark.createDataFrame([(1, "A2"), (9, "n")], "k long, v string"),
            insert_snapshot="2026-01-02",
        ),
        "empty merge": lambda: lake.merge_upsert(
            spark, root, "ds", "k",
            spark.createDataFrame([], "k long, v string"),
        ),
        "delete": lambda: lake.delete_by_key(
            spark, root, "ds", "k", spark.createDataFrame([(2,)], "k long")
        ),
        "compact": lambda: lake.compact_partition(
            spark, root, "ds", "2026-01-01"
        ),
    }
    for name, call in calls.items():
        call()
        assert _n_persisted(spark) == before, name
    assert sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(f"{root}/ds").collect()
    ) == [(1, "A2"), (9, "n")]


def test_release_checkpoints_clears_iterative_blocks(spark, before):
    from occupation_wage_etl_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    # scoped: the scope's exit releases every round's checkpoint
    with scope():
        graph.connected_components(edges).collect()
        assert _n_persisted(spark) > before
    assert _n_persisted(spark) == before
    # unscoped (a loop that releases per query by hand): the blocks stay
    # until release_checkpoints, which counts exactly what it released
    graph.connected_components(edges).collect()
    left = _n_persisted(spark) - before  # the operator dropped its persist
    assert left > 0
    assert release_cached() == 1
    assert release_checkpoints(spark) == left
    assert _n_persisted(spark) == before


def test_engine_holds_blocks_only_through_cache_module():
    """With no session-wide sweep, a raw persist or local checkpoint in
    the engine would never be released: every block goes through
    ``_cache.cached`` / ``_cache.checkpoint``."""
    raw = re.compile(r"\.localCheckpoint\(|\.persist\(|\.cache\(\)")
    hits = [
        f"{path.relative_to(ENGINE)}:{n}: {line.strip()}"
        for path in sorted(ENGINE.rglob("*.py"))
        if path != ENGINE / "operators" / "_cache.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if raw.search(line)
    ]
    assert hits == []

"""Lifecycle tests for operator-internal persists (operators/_cache.py).

The registry holds STRONG references: operator-local DataFrame wrappers
are GC'd when the operator returns while the persisted RDD lives on in
the JVM, so a weakref registry would be dead (and release a no-op) by
the time any harness calls release_cached() — the exact silent-leak
failure mode these tests pin down.
"""

from __future__ import annotations

import gc

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import _cache
from occupation_wage_etl_spark.operators._cache import (
    cached,
    cached_scope,
    release_cached,
)


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _op_with_internal_persist(spark):
    """Mimics an operator: persists a local intermediate consumed twice
    by the returned plan, then drops its own reference on return."""
    base = cached(
        spark.range(1000).select(
            (F.col("id") % 10).alias("g"), F.col("id").alias("v")
        )
    )
    return base.groupBy("g").count().join(base.select("g").distinct(), "g")


def test_release_survives_operator_local_gc(spark):
    release_cached()
    spark.catalog.clearCache()
    before = _n_persisted(spark)
    out = _op_with_internal_persist(spark)
    out.collect()  # action populates the cache
    gc.collect()  # kill any operator-local wrapper objects
    assert _n_persisted(spark) > before  # persist actually happened
    assert release_cached() >= 1  # strong refs: still releasable post-GC
    assert _n_persisted(spark) == before  # and the JVM blocks are gone
    assert release_cached() == 0  # registry cleared


def test_cached_scope_releases_only_its_own(spark):
    release_cached()
    spark.catalog.clearCache()
    outer = cached(spark.range(10).select(F.col("id").alias("a")))
    outer.collect()
    with cached_scope():
        inner = _op_with_internal_persist(spark)
        inner.collect()
        assert len(_cache._TRACKED) == 2
    # scope exit released the inner persist, left the outer one tracked
    assert len(_cache._TRACKED) == 1
    assert outer.storageLevel.useMemory or outer.storageLevel.useDisk
    assert release_cached() == 1
    assert _n_persisted(spark) == 0


def test_cached_scope_releases_on_error(spark):
    release_cached()
    spark.catalog.clearCache()
    try:
        with cached_scope():
            _op_with_internal_persist(spark).collect()
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert len(_cache._TRACKED) == 0
    assert _n_persisted(spark) == 0


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


def test_release_checkpoints_clears_iterative_blocks(spark):
    from occupation_wage_etl_spark.operators import graph
    from occupation_wage_etl_spark.operators._cache import (
        release_checkpoints,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
    )
    graph.connected_components(edges).collect()
    assert _n_persisted(spark) > 0  # localCheckpoint blocks left behind
    released = release_checkpoints(spark)
    assert released > 0
    assert _n_persisted(spark) == 0

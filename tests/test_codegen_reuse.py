"""Warm passes reuse their generated code.

Spark compiles each distinct generated class once and keeps it in an
LRU cache (``spark.sql.codegen.cache.maxEntries``, set in
``session.ENGINE_CONF``).  A second pass over the same plans must
compile nothing: when it does, either the cache is smaller than the
working set, or a plan embeds a per-call name that makes its source new
on every call (a ``limit(1)`` probe's counter does).

The graph test runs the operators on a fixed edge list, not q39 end to
end: q39's minhash self-join can take either broadcast side from one
run to the next (AQE), and the side not seen yet compiles its stage
once per session."""

from __future__ import annotations

from pyspark.sql import functions as F

from occupation_wage_etl_spark.operators import graph
from occupation_wage_etl_spark.operators._cache import scope
from tools.harness import codegen_compiles


def test_working_set_above_spark_default_is_reused(spark):
    """150 distinct projections, planned and compiled on the driver
    (``execute()`` builds the RDD without running a job), twice."""

    def one_round() -> int:
        c0 = codegen_compiles(spark)
        for i in range(150):
            plan = spark.range(10).select(
                (F.col("id") + F.lit(7_340_000 + i)).alias("x")
            )._jdf.queryExecution().executedPlan()  # noqa: SLF001
            plan.execute()
        return codegen_compiles(spark) - c0

    assert one_round() > 100  # more classes than Spark's default cache
    assert one_round() == 0


def test_graph_rounds_second_run_compiles_nothing(spark):
    """connected_components and bfs_hops run a data-dependent number of
    rounds; each round's convergence count rides its checkpoint, so a
    second run on the same graph plans no probe whose code differs from
    the first run's.  (A ``limit(1)`` probe names its counter from a
    process-wide sequence: new source, one compile, every round.)"""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")

    def one_run():
        with scope():
            c0 = codegen_compiles(spark)
            cc = graph.connected_components(edges).collect()
            hops = graph.bfs_hops(edges, seeds, max_hops=20).collect()
            return codegen_compiles(spark) - c0, sorted(cc), sorted(hops)

    _, cc, hops = one_run()
    assert one_run() == (0, cc, hops)

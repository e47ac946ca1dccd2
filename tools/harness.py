"""The one way a registry query is run: build, action, release.

Every timing, correctness and plan tool (bench.py, tools/*.py, the
verify skill's driver simulation) drives queries through
:func:`run_query`, so a query's persists and local checkpoints are
released the same way everywhere and the build/action split is measured
the same way everywhere.  The module also owns what those tools share:
the source table list, the noop sink, the lake layout rewrite, the
DuckDB view registration and the canonical value hash the oracle gate
compares.
"""

from __future__ import annotations

import hashlib
import io
import math
import os
import time
from contextlib import redirect_stdout

from occupation_wage_etl_spark.operators._cache import scope
from occupation_wage_etl_spark.queries import SPARK_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Tables whose queries explode rows (shingles, n-grams, chunk windows,
# vector elements): file count = core count regardless of byte size, so
# the fan-out work distributes.  Everything else splits by row count.
EXPLODE_HEAVY = {"documents", "embeddings"}

# Timed samples per query in every timing tool; the recorded time is
# the minimum.  The same count for every query, so no query's number
# carries less noise than another's.
SAMPLES = 3


def force(df) -> None:
    """Compute ``df`` end to end through the noop sink (no driver
    collect cost)."""
    df.write.mode("overwrite").format("noop").save()


def collect(df) -> tuple[list[tuple], list[str]]:
    """(rows as tuples, column names): the action the oracle gate
    compares."""
    return [tuple(r) for r in df.collect()], df.columns


def explain(df, mode: str = "formatted") -> str:
    """``df.explain(mode)`` as a string: the action of the plan tools."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _x33_approx_percentiles(spark, sf_dir):
    """q33's 100 TB path: one-pass percentile_approx (GK sketch, bounded
    memory per group) instead of the exact distributed histogram."""
    from pyspark.sql import functions as F

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return o.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias("q"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.approx_count_distinct("o_custkey").alias("n_customers"),
    )


def _x47_profile_hll(spark, sf_dir):
    """q47's 100 TB path: HyperLogLog++ distinct counts fold into one
    Expand-free hash aggregate (single scan, constant memory)."""
    from occupation_wage_etl_spark.operators import profile
    from occupation_wage_etl_spark.queries import PROFILE_COLUMNS

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return profile.profile_numeric(li, PROFILE_COLUMNS, exact=False)


def _x100_mutual_dense(spark, sf_dir):
    """q100's dense verification tier: the Arrow-matmul all-pairs scorer
    (mutual_top1_match) — exact, but collects b to the driver so it is
    capped to verification-scale inputs.  Benched so the recall sibling
    of the registry's bucketed LSH path keeps numbers."""
    from pyspark.sql import functions as F

    from occupation_wage_etl_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return similarity.mutual_top1_match(
        emb.filter(F.col("label") <= 4), emb.filter(F.col("label") >= 5)
    )


# Approximate/scale-path variants of registry queries: benched (so the
# 100 TB path has numbers) but not oracle-gated — the sketches
# (GK quantile, HLL++) are engine-specific by design; their exact
# siblings q33/q47 carry the correctness proof.
EXTRA_BENCH = {
    "x33_approx_percentiles": _x33_approx_percentiles,
    "x47_profile_hll": _x47_profile_hll,
    "x100_mutual_dense": _x100_mutual_dense,
}
BUILDERS = {**SPARK_QUERIES, **EXTRA_BENCH}


def run_query(spark, name: str, sf_dir: str, action=force):
    """Build query ``name`` on ``sf_dir``, apply ``action`` to the
    DataFrame and release everything the query persisted.

    Returns ``(action_result, build_s, exec_s)``: ``build_s`` is the
    builder call (Python plan construction plus the eager jobs operators
    run while they build), ``exec_s`` is the action.  The query runs in
    its own ``_cache.scope()``, so its persists and local checkpoints
    are released even when the builder or the action raises, and no
    other query's are."""
    spark.sparkContext.setJobDescription(name)
    try:
        with scope():
            t0 = time.perf_counter()
            df = BUILDERS[name](spark, sf_dir)
            t1 = time.perf_counter()
            result = action(df)
            t2 = time.perf_counter()
    finally:
        spark.sparkContext.setJobDescription(None)
    return result, t1 - t0, t2 - t1


def ingest_lake(spark, sf_dir: str, cpus: int) -> tuple[str, float]:
    """Rewrite the raw single-row-group drop into the engine's lake
    layout (see bench.py's docstring).  Returns (lake_dir, seconds)."""
    import pyarrow.parquet as pq

    from concurrent.futures import ThreadPoolExecutor

    tag = os.path.basename(sf_dir.rstrip("/"))
    dst = os.path.join(ROOT, ".scratch", f"bench_lake_{tag}")
    t0 = time.perf_counter()

    def _one(t: str) -> None:
        src = f"{sf_dir}/{t}.parquet"
        rows = pq.ParquetFile(src).metadata.num_rows if os.path.isfile(src) \
            else spark.read.parquet(src).count()
        n = cpus if (rows >= 50_000 or t in EXPLODE_HEAVY) else 1
        (spark.read.parquet(src).repartition(n)
         .write.mode("overwrite").parquet(f"{dst}/{t}.parquet"))

    # one Spark job per table, submitted concurrently: each source read
    # is a single task (one row group), so serial ingest would idle 31
    # cores; the scheduler interleaves the jobs instead.
    with ThreadPoolExecutor(max_workers=len(TABLES)) as ex:
        list(ex.map(_one, TABLES))
    return dst, round(time.perf_counter() - t0, 3)


def register_views(con, sf_dir: str) -> None:
    """One DuckDB view per source table of ``sf_dir``, named as the
    oracle SQL expects; reads both single files and lake directories."""
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # engine lake layout: directory of files
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )


def _canon_cell(v):
    if v is None:
        return "\x00"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(rows, columns) -> str:
    """Order-insensitive hash of a result: columns sorted by name, rows
    sorted, floats by ``repr`` so any bit divergence changes the hash."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        tuple(_canon_cell(row[i]) for i in idx) for row in rows
    )
    h = hashlib.sha256()
    for row in canon:
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()

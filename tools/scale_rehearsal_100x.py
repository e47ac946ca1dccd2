#!/usr/bin/env python
"""100x scale rehearsal for the heaviest plan shapes.

The standing 10x rehearsal (tools/scale_rehearsal.py) can hide a
quadratic term with a small constant; this tool builds a 100x
DISTINCT-CONTENT corpus of the two tables the heaviest family reads
(documents, events) and re-times that family at sf0.1, 10x and 100x.

Distinctness at 100 copies:

- documents: a rotation (the 10x trick) only has 26 variants, so 100
  suffixed-rotated copies would still contain ~4-way cross-copy
  near-dup cliques and quadratically inflate pair outputs.  Instead
  each copy's text goes through its OWN seeded alphabet PERMUTATION
  (100 distinct bijections): every token — hence every shingle, gram
  and fingerprint — differs across copies while each copy keeps the
  original corpus's internal dup/similarity structure.
- events: ids shift per copy; `value` gets a per-copy +i*1e-6 nudge so
  the distinct-value histograms under the exact order statistics
  (q216's exact side, q228) genuinely grow 100x instead of collapsing
  onto the same 100k distinct doubles.

Perf-only (correctness is the sf0.01 oracle gate's job).  Appends a
round-stamped section to BENCH_SCALE.md.

Usage:  python tools/scale_rehearsal_100x.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import random
import shutil
import string
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Size the single local JVM to the 100x dataset BEFORE the session is
# built: the bench default (8g, fine for sf0.1) fails at 100x while
# BUILDING an AQE broadcast relation ("Not enough memory to build and
# broadcast the table") — heap pressure, not a plan flaw: with
# sufficient heap the final adaptive plans are all sort-merge joins
# (verified on q123).  On a real cluster this is ordinary executor
# memory sizing; locally one JVM holds all 32 "executors".
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SRC = "/root/testdata/sf0.1"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DST10 = os.path.join(ROOT, ".scratch", "sf1")    # 10x (existing tool)
DST100 = os.path.join(ROOT, ".scratch", "sf10")  # 100x (this tool)
COPIES = 100
OFFSET = 100_000_000

HEAVY = [
    "q123_containment_pairs",
    "q80_triangles",
    "q194_clustering_coeff",
    "q66_contrastive_pairs",
    "q216_quantile_sketch",
    "q228_wasserstein",
]

OTHER_TABLES = [
    "region", "nation", "customer", "supplier", "lineitem", "embeddings",
]

# round-8 verdict item 4: the two fastest-growing 10x shapes plus the
# ROLL_MAX_DF-capped family, end-to-end at 100x
ROUND8 = [
    "q224_jaro_winkler",
    "q221_conformal",
    "q239_token_f1",
    "q20_rolling_overlap",
]


def _perm_map(i: int) -> tuple[str, str]:
    """Deterministic per-copy alphanumeric bijection (identity for copy
    0).  Digits are permuted too: digit-heavy windows would otherwise
    be IDENTICAL across copies (a letters-only map leaves them fixed),
    giving every such window ~100 cross-copy replicas — the round-7
    rehearsal measured x40 edges / x611 wedge volume from exactly
    that artifact before the fix."""
    lower = string.ascii_lowercase
    digits = string.digits
    src = lower + lower.upper() + digits
    if i == 0:
        return src, src
    letters = list(lower)
    random.Random(7919 + i).shuffle(letters)
    dl = list(digits)
    random.Random(104729 + i).shuffle(dl)
    pl = "".join(letters)
    return src, pl + pl.upper() + "".join(dl)


def build_part_orders(spark) -> None:
    """100 distinct-catalog copies of part and orders (round 8): q224's
    blocking keys (p_brand via per-copy char permutation, p_size +=
    i*1000) stay DISJOINT across copies — a real 100x catalog has 100x
    blocks of the original size, not 100x-deep blocks; q221's orders
    keep the 5 shared priorities (groups legitimately grow 100x) with
    a per-copy price nudge so the split-conformal histograms hold 100x
    distinct values."""
    part = spark.read.parquet(f"{SRC}/part.parquet")
    parts = []
    for i in range(COPIES):
        src_a, dst_a = _perm_map(i)
        c = part.withColumn(
            "p_partkey", (F.col("p_partkey") + F.lit(i * OFFSET)).cast("long")
        )
        if i > 0:
            for col in ("p_name", "p_brand", "p_type"):
                c = c.withColumn(col, F.translate(col, src_a, dst_a))
            c = c.withColumn(
                "p_size",
                (F.col("p_size") + F.lit(i * 1000)).cast(
                    dict(c.dtypes)["p_size"]
                ),
            )
        parts.append(c)
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    out.repartition(16).write.mode("overwrite").parquet(
        f"{DST100}/part.parquet"
    )
    print("built part x100")

    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    parts = []
    for i in range(COPIES):
        parts.append(
            orders.withColumn(
                "o_orderkey",
                (F.col("o_orderkey") + F.lit(i * OFFSET)).cast("long"),
            )
            .withColumn(
                "o_custkey",
                (F.col("o_custkey") + F.lit(i * OFFSET)).cast("long"),
            )
            .withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(i * 1e-6)
            )
        )
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{DST100}/orders.parquet"
    )
    print("built orders x100")


def build(spark) -> None:
    os.makedirs(DST100, exist_ok=True)
    for t in OTHER_TABLES:
        src = f"{SRC}/{t}.parquet"
        dst = f"{DST100}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy(src, dst)

    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    parts = []
    for i in range(COPIES):
        src_a, dst_a = _perm_map(i)
        c = docs.withColumn(
            "doc_id", (F.col("doc_id") + F.lit(i * OFFSET)).cast("long")
        )
        if i > 0:
            c = c.withColumn("text", F.translate("text", src_a, dst_a))
        parts.append(c)
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{DST100}/documents.parquet"
    )
    print("built documents x100")

    build_part_orders(spark)

    ev = spark.read.parquet(f"{SRC}/events.parquet")
    parts = []
    for i in range(COPIES):
        parts.append(
            ev.withColumn(
                "event_id", (F.col("event_id") + F.lit(i * OFFSET)).cast("long")
            )
            .withColumn(
                "user_id", (F.col("user_id") + F.lit(i * OFFSET)).cast("long")
            )
            .withColumn("value", F.col("value") + F.lit(i * 1e-6))
        )
    out = parts[0]
    for c in parts[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{DST100}/events.parquet"
    )
    print("built events x100")


def main() -> int:
    from occupation_wage_etl_spark.session import get_spark
    import tools.scale_rehearsal as r10
    from tools.harness import run_query

    rebuild = "--rebuild" in sys.argv
    names = [a for a in sys.argv[1:] if a.startswith("q")]
    spark = get_spark("rehearsal100x")
    spark.sparkContext.setLogLevel("ERROR")

    if rebuild or not os.path.exists(f"{DST10}/lineitem.parquet"):
        r10.build(spark)
    if rebuild or not os.path.exists(f"{DST100}/events.parquet"):
        t0 = time.time()
        build(spark)
        print(f"100x build took {time.time() - t0:.1f}s")
    elif not os.path.isdir(f"{DST100}/part.parquet"):
        # round-8 extension: scaled part/orders added after the round-7
        # corpus was built (the verbatim copies predate them)
        build_part_orders(spark)

    rows = []
    for name in names or HEAVY:
        per = {}
        for label, d in (("sf0.1", SRC), ("10x", DST10), ("100x", DST100)):
            n, build_s, exec_s = run_query(spark, name, d, DataFrame.count)
            per[label] = (build_s + exec_s, n)
            # shuffle files outlive their stages until the JVM
            # ContextCleaner GCs the RDDs; at 100x one session's
            # accumulated spill fills the disk (observed: ENOSPC after
            # ~4 scale runs on a 24g heap that never GCs naturally)
            spark.sparkContext._jvm.System.gc()
        t1, n1 = per["sf0.1"]
        t10, n10 = per["10x"]
        t100, n100 = per["100x"]
        rows.append((name, t1, t10, t100, t10 / t1, t100 / t10,
                     n1, n10, n100))
        print(f"{name:28s} {t1:6.1f}s {t10:7.1f}s {t100:8.1f}s  "
              f"10x/1 x{t10 / t1:4.1f}  100x/10x x{t100 / t10:4.1f}  "
              f"rows {n1}/{n10}/{n100}")

    if names:
        # explicit-query mode prints only (append the BENCH_SCALE.md
        # section by hand, same convention as tools/scale_rehearsal.py)
        print(json.dumps({
            "queries": {r[0]: {"sf0.1": round(r[1], 1),
                               "10x": round(r[2], 1),
                               "100x": round(r[3], 1),
                               "ratio_100x_over_10x": round(r[5], 1)}
                        for r in rows}
        }))
        return 0
    with open(os.path.join(ROOT, "BENCH_SCALE.md"), "a") as f:
        f.write("\n## Round-7: 100x rehearsal of the heaviest shapes\n\n")
        f.write(
            "Built by `tools/scale_rehearsal_100x.py`: 100 distinct-content "
            "copies of documents (per-copy seeded alphabet permutation — "
            "100 disjoint token spaces, internal structure preserved) and "
            "events (id shifts + per-copy value nudge so exact-order-"
            "statistic histograms genuinely grow 100x).  A clean linear "
            "operator should show 100x/10x ≈ 10x wall on fixed cores; a "
            "hidden quadratic term shows up as 100x/10x ≫ 10x even when "
            "the 10x step looked fine.\n\n"
        )
        f.write("| query | sf0.1 s | 10x s | 100x s | 10x/1 | 100x/10x |"
                " rows sf0.1 | rows 10x | rows 100x |\n"
                "|---|---|---|---|---|---|---|---|---|\n")
        for (name, t1, t10, t100, r1, r2, n1, n10, n100) in rows:
            f.write(f"| {name} | {t1:.1f} | {t10:.1f} | {t100:.1f} |"
                    f" x{r1:.1f} | x{r2:.1f} | {n1} | {n10} | {n100} |\n")
    print(json.dumps({
        "queries": {r[0]: {"sf0.1": round(r[1], 1), "10x": round(r[2], 1),
                           "100x": round(r[3], 1),
                           "ratio_100x_over_10x": round(r[5], 1)}
                    for r in rows}
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

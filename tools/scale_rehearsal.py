#!/usr/bin/env python
"""sf1 scale rehearsal: replicate sf0.1 10x and time every bench query.

Performance-only harness (correctness is the sf0.01 oracle gate's job):
builds `.scratch/sf1/` from `/root/testdata/sf0.1` by unioning 10
key-offset copies of each fact table, then times the full bench query
set at both scales and reports the per-query scaling ratio.  A 10x data
step should cost <= ~12x wall on a fixed-core box; anything well above
that is a partition-count cliff or an accidental quadratic term.

Key offsets keep referential integrity within each copy (every foreign
key moves by the same `copy * OFFSET`), so join/group cardinalities
scale linearly, as they would on a real 10x dataset.  Document text
gets a per-copy suffix token so near-dup operators see 10x distinct
docs rather than a degenerate corpus where every doc has 9 exact
clones (which would quadratically inflate pair outputs and measure the
wrong thing).  Embedding vectors keep their values; vec_ids shift.

Usage:  python tools/scale_rehearsal.py [--rebuild] [query ...]
Writes BENCH_SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tools.harness import run_query  # noqa: E402

SRC = "/root/testdata/sf0.1"
DST = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scratch", "sf1")
COPIES = 10
OFFSET = 100_000_000  # far above any sf0.1 key

# table -> (key columns to shift, output file count)
KEYED = {
    "customer": (["c_custkey"], 4),
    "supplier": (["s_suppkey"], 2),
    "part": (["p_partkey"], 4),
    "orders": (["o_orderkey", "o_custkey"], 8),
    "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], 16),
    "events": (["event_id", "user_id"], 8),
    "documents": (["doc_id"], 8),
    "embeddings": (["vec_id"], 8),
}
DIMS = ["region", "nation"]


def build(spark) -> None:
    os.makedirs(DST, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1) \
            .write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
    for t, (keys, nfiles) in KEYED.items():
        base = spark.read.parquet(f"{SRC}/{t}.parquet")
        copies = []
        for i in range(COPIES):
            c = base
            for k in keys:
                c = c.withColumn(k, (F.col(k) + F.lit(i * OFFSET)).cast("long"))
            if t == "part" and i > 0:
                # distinct-attribute copies: rotate the categorical
                # attributes and shift sizes so blocking/linkage keys
                # are disjoint across copies — otherwise every part has
                # 9 attribute-identical clones and attribute-based ops
                # (record linkage, entity resolution) see a quadratic
                # cross-copy pair blowup a real 10x catalog wouldn't
                # have (same argument as the text rotation below).
                lower = "abcdefghijklmnopqrstuvwxyz"
                upper = lower.upper()
                rot_l = lower[i:] + lower[:i]
                rot_u = rot_l.upper()
                for col in ("p_brand", "p_type"):
                    if col in c.columns:
                        c = c.withColumn(
                            col,
                            F.translate(col, lower + upper, rot_l + rot_u),
                        )
                if "p_size" in c.columns:
                    c = c.withColumn(
                        "p_size",
                        (F.col("p_size") + F.lit(i * 1000)).cast(
                            dict(c.dtypes)["p_size"]
                        ),
                    )
            if t == "documents" and "text" in c.columns and i > 0:
                # distinct-content copies: rotate the alphabet by i so
                # every token (hence every shingle/gram) differs across
                # copies while each copy keeps the ORIGINAL corpus's
                # internal dup/similarity structure.  A suffix tag is
                # not enough — suffixed copies are still near-dups of
                # the original, giving every doc 9 cross-copy clones
                # and inflating pair outputs ~45x beyond what a real
                # 10x corpus would produce (round-2 verdict flagged
                # q80/q123/q66/q101 numbers as replica artifacts).
                lower = "abcdefghijklmnopqrstuvwxyz"
                upper = lower.upper()
                rot_l = lower[i:] + lower[:i]
                rot_u = rot_l.upper()
                c = c.withColumn(
                    "text",
                    F.translate("text", lower + upper, rot_l + rot_u),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.repartition(nfiles).write.mode("overwrite") \
            .parquet(f"{DST}/{t}.parquet")
        print(f"built {t}: {COPIES}x -> {nfiles} files")


def main() -> int:
    from occupation_wage_etl_spark.queries import SPARK_QUERIES
    from occupation_wage_etl_spark.session import get_spark

    rebuild = "--rebuild" in sys.argv
    only = set(a for a in sys.argv[1:] if not a.startswith("-"))

    spark = get_spark()
    if rebuild or not os.path.exists(f"{DST}/lineitem.parquet"):
        t0 = time.time()
        build(spark)
        print(f"build took {time.time() - t0:.1f}s")

    names = sorted(n for n in SPARK_QUERIES if not only or n in only)
    rows = []
    for name in names:
        per = {}
        for label, d in (("sf0.1", SRC), ("sf1", DST)):
            t0 = time.time()
            try:
                n, build_s, exec_s = run_query(spark, name, d, DataFrame.count)
                per[label] = (build_s + exec_s, n, None)
            except Exception as exc:  # noqa: BLE001
                per[label] = (time.time() - t0,
                              None, f"{type(exc).__name__}: {exc}"[:120])
        t_small, n_small, e_small = per["sf0.1"]
        t_big, n_big, e_big = per["sf1"]
        ratio = t_big / t_small if t_small > 0.01 else float("nan")
        flag = "SUPERLINEAR" if ratio > 15 else ""
        rows.append((name, t_small, t_big, ratio, n_small, n_big,
                     e_small or e_big or "", flag))
        print(f"{name:32s} {t_small:7.2f}s {t_big:8.2f}s  x{ratio:5.1f} "
              f"{n_small} -> {n_big} {flag} {e_small or e_big or ''}")

    # partial runs (explicit query args) must not clobber the full record
    out_md = "BENCH_SCALE.md" if not only else "BENCH_SCALE_partial.md"
    with open(out_md, "w") as f:
        f.write("# Scale rehearsal: sf0.1 vs 10x replica (sf1-equivalent)\n\n")
        f.write("Built by `tools/scale_rehearsal.py` (perf-only; correctness"
                " is gated at sf0.01 by `tools/oracle_check.py`).\n"
                "Expectation: ~<=12x wall for 10x rows on fixed cores;"
                " `SUPERLINEAR` marks >15x.\n\n")
        f.write("| query | sf0.1 s | sf1 s | ratio | rows sf0.1 | rows sf1"
                " | note |\n|---|---|---|---|---|---|---|\n")
        for name, ts, tb, r, ns, nb, err, flag in rows:
            note = flag or err
            f.write(f"| {name} | {ts:.2f} | {tb:.2f} | x{r:.1f} | {ns} |"
                    f" {nb} | {note} |\n")
        total_s = sum(r[1] for r in rows)
        total_b = sum(r[2] for r in rows)
        f.write(f"\nTotals: sf0.1 {total_s:.1f}s; sf1 {total_b:.1f}s "
                f"(x{total_b / total_s:.1f} for 10x data).\n")
    print(json.dumps({"sf0.1_total": round(total_s, 1),
                      "sf1_total": round(total_b, 1),
                      "superlinear": [r[0] for r in rows if r[7]]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q01...": sec, ...}, "sf": 0.1,
   "ingest_sec": <lake layout cost>, "total_with_ingest_sec": ...}

The suite is every registry query in registry order, then the three
bench-only scale variants (`tools.harness.EXTRA_BENCH`).  Each entry runs
through `tools.harness.run_query`, forced end-to-end with the noop sink
(full computation, no driver collect cost): once untimed, then
`tools.harness.SAMPLES` (3) timed samples, recorded as their minimum with
that sample's build/exec split.  A tiny warmup query absorbs JVM/codegen
JIT so per-query numbers reflect steady-state throughput.  `cpus` is the
session's `defaultParallelism`; the file record adds `nproc` and the load
average taken before the timed pass.

Lake ingest phase (timed separately, reported in the JSON): the driver's
source tables are single-row-group parquet files, and a parquet row
group is Spark's minimum split unit — so every scan stage (including
the per-row regex/explode work codegen fuses INTO the scan) would run
on one core out of 32.  A real deployment never queries raw single-file
drops: data lands through the engine's lake layer, whose compaction
sizes files to the cluster (`sources/lake.py:compact_partition` is the
100 TB path — 128 MiB targets there).  The bench reproduces that: one
timed pass rewrites each fact table into core-count-many files under
`.scratch/`, then all queries run against the engine-managed layout.
Set SPARK_GRAFT_LAKE=0 to bench against the raw driver files instead.
Correctness is unaffected (tools/oracle_check.py passes against either
layout — the rewrite is value-preserving).
"""

from __future__ import annotations

import json
import os
import re
import sys

from occupation_wage_etl_spark.queries import SPARK_QUERIES
from occupation_wage_etl_spark.session import get_spark
from tools.harness import EXTRA_BENCH, SAMPLES, force, ingest_lake, run_query

TIMING = f"min_of_{SAMPLES}"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    cpus = spark.sparkContext.defaultParallelism
    ingest_sec = 0.0
    if os.environ.get("SPARK_GRAFT_LAKE", "1") != "0":
        sf_dir, ingest_sec = ingest_lake(spark, sf_dir, cpus)
        print(f"  lake ingest: {ingest_sec:.3f}s -> {sf_dir}", file=sys.stderr)

    # warmup: JIT + codegen + Arrow + parquet footer caches.  Exercise the
    # operator shapes the suite uses (scan→join→agg→window) so the first
    # measured query doesn't absorb first-use compilation of those paths.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    warm = (
        nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_nationkey").alias("s"))
        .withColumn("rn", F.row_number().over(Window.orderBy("r_name")))
    )
    force(warm)
    # ... the Expand-based shapes (unpivot/melt, cube grouping sets) —
    # their generated code is distinct from plain groupBy agg
    force(
        nation.unpivot(
            ids=["n_name"],
            values=["n_nationkey", "n_regionkey"],
            variableColumnName="m",
            valueColumnName="v",
        )
        .cube("n_name", "m")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # ... and the text/hash-heavy codegen paths (md5, xxhash64, array
    # ops, explode+wide-agg) on a 50-doc sample, so the dedup queries
    # measure steady-state throughput rather than first-use compilation
    from occupation_wage_etl_spark.operators import dedup
    from occupation_wage_etl_spark.operators._cache import scope

    sample = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    with scope():
        force(dedup.minhash_lsh_pairs(sample, jaccard_threshold=0.99))
        force(dedup.simhash_pairs(sample, max_hamming=0))

    runs = list(SPARK_QUERIES) + sorted(EXTRA_BENCH)

    # SPARK_GRAFT_ONLY: comma-separated query names, or @file with one
    # name per line — the controlled-subset mode used to adjudicate
    # cross-round drift (rerun exactly the previous round's query set
    # on current code in a fresh JVM).  Subset runs write their record
    # to bench_subset_out.json so the committed full-suite
    # bench_out.json (the vs-prev baseline) is never poisoned.
    only_spec = os.environ.get("SPARK_GRAFT_ONLY", "")
    subset_mode = bool(only_spec)
    if subset_mode:
        if only_spec.startswith("@"):
            with open(only_spec[1:]) as f:
                only = {ln.strip() for ln in f if ln.strip()}
        else:
            only = {n.strip() for n in only_spec.split(",") if n.strip()}
        missing = sorted(only - set(runs))
        if missing:
            print(f"  SPARK_GRAFT_ONLY unknown: {missing}", file=sys.stderr)
        runs = [n for n in runs if n in only]

    # pass 1 (untimed): each query once, absorbing its query-specific
    # codegen compilation and Python-worker spin-up.  pass 2 (timed):
    # steady-state execution — the number that scales to a long-running
    # cluster job, and the one BENCH records.  The host is shared/noisy,
    # so steady-state is also far less variance-prone than cold numbers.
    for name in runs:
        run_query(spark, name, sf_dir)

    prev: dict[str, float] = {}
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    out_path = os.path.join(
        repo_dir,
        "bench_subset_out.json" if subset_mode else "bench_out.json",
    )
    try:
        with open(os.path.join(repo_dir, "bench_out.json")) as f:
            prev = json.load(f).get("queries", {})
    except Exception:
        pass
    # Cross-ROUND baseline: the newest committed BENCH_QUERIES_r*.json
    # (a frozen copy of bench_out.json made at each round close).  The
    # run-over-run suite_wall_vs_prev gate alone lets a slow ratchet
    # hide — each round's runs only compare against the same round's
    # previous run — so suite_wall_vs_last_round re-anchors every run
    # to the last CLOSED round's record over the common query set.
    last_round: dict[str, float] = {}
    last_round_file = None
    try:
        import glob as _glob

        # sort by the NUMERIC round index — lexicographic glob order
        # would re-anchor to r99 forever once r100 exists
        snaps = sorted(
            _glob.glob(os.path.join(repo_dir, "BENCH_QUERIES_r*.json")),
            key=lambda p: int(
                re.search(r"r(\d+)\.json$", os.path.basename(p)).group(1)
            ),
        )
        if snaps:
            last_round_file = os.path.basename(snaps[-1])
            with open(snaps[-1]) as f:
                last_round = json.load(f).get("queries", {})
    except Exception:
        pass
    # per-query time = MIN of SAMPLES timed executions, the same count
    # for every query: on a shared host a single sample carries
    # scheduler/CPU-contention noise of ±15%; the minimum is the
    # reproducible steady-state cost (standard microbenchmark practice).
    # The measured envelope lives in BENCH_SCALE.md ("Bench noise
    # envelope").  build_s/exec_s are the split of that minimum sample.
    loadavg = [round(x, 2) for x in os.getloadavg()]
    timings: dict[str, float] = {}
    build: dict[str, float] = {}
    execute: dict[str, float] = {}
    spreads: dict[str, float] = {}  # max/min across this run's samples
    for name in runs:
        samples = [run_query(spark, name, sf_dir)[1:] for _ in range(SAMPLES)]
        walls = [sum(s) for s in samples]
        build_s, exec_s = min(samples, key=sum)
        timings[name] = round(min(walls), 3)
        build[name], execute[name] = round(build_s, 3), round(exec_s, 3)
        spreads[name] = round(max(walls) / min(walls), 3)
        print(f"  {name}: {timings[name]:.3f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # First-class suite-wall gate (vs the previous round's committed
    # record, over COMMON queries only so new queries don't read as
    # regression).  The suite wall is stable to ~3% across runs; the
    # PER-QUERY envelope is ×1.4–1.8 (run-level CPU state, measured in
    # BENCH_SCALE.md) — gate on this ratio, not on per-query deltas.
    common = [n for n in timings if n in prev]
    prev_common = round(sum(prev[n] for n in common), 3)
    cur_common = round(sum(timings[n] for n in common), 3)
    suite_wall_vs_prev = (
        round(cur_common / prev_common, 4) if prev_common else None
    )
    lr_common = [n for n in timings if n in last_round]
    lr_prev_sum = round(sum(last_round[n] for n in lr_common), 3)
    lr_cur_sum = round(sum(timings[n] for n in lr_common), 3)
    suite_wall_vs_last_round = (
        round(lr_cur_sum / lr_prev_sum, 4) if lr_prev_sum else None
    )
    # Full per-query record → committed file (the driver's stdout tail
    # capture truncates long lines — round 2 lost q01–q70's numbers that
    # way).  stdout carries ONE SHORT line: suite totals + the slowest
    # queries, always parseable.
    full = {
        "metric": "headline_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "ingest_sec": ingest_sec,
        "total_with_ingest_sec": round(total + ingest_sec, 3),
        "timing": TIMING,
        "build_s": build,
        "exec_s": execute,
        "cpus": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": loadavg,
        "suite_wall_vs_prev": suite_wall_vs_prev,
        "suite_wall_common_sec": cur_common,
        "suite_wall_prev_common_sec": prev_common,
        "suite_wall_vs_last_round": suite_wall_vs_last_round,
        "last_round_file": last_round_file,
        "last_round_common_sec": lr_cur_sum,
        "last_round_prev_sec": lr_prev_sum,
        "subset_mode": subset_mode,
        "sample_spread": {
            "p50": sorted(spreads.values())[len(spreads) // 2],
            "p95": sorted(spreads.values())[int(len(spreads) * 0.95)],
            "max": max(spreads.values()),
        },
    }
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    # stdout carries the FULL per-query dict (315 floats ≈ 10 KB, still
    # one line) plus the core count: round 11's slowest-8 truncation cost
    # the driver its entire per-query PERF comparison (n_common=3, five
    # phantom "dropped_from_bench" statuses) and fed a false
    # suspect_cpus_ignored flag.  Additions only — suite totals and the
    # existing keys are unchanged.
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": dict(
                    sorted(timings.items(), key=lambda kv: -kv[1])
                ),
                "n_queries": len(timings),
                "cpus": cpus,
                "queries_file": os.path.basename(out_path),
                "sf": sf,
                "ingest_sec": ingest_sec,
                "total_with_ingest_sec": round(total + ingest_sec, 3),
                "timing": TIMING,
                "suite_wall_vs_prev": suite_wall_vs_prev,
                "suite_wall_vs_last_round": suite_wall_vs_last_round,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()

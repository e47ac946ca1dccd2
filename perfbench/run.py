#!/usr/bin/env python3
"""Seeded benchmark of the occupation-wage-spark engine, one workload per
process.

    python3 perfbench/run.py --workload registry_read --seed 7 \
        --seconds 20 --trace 0

The workloads, their query lists and why each was chosen live in
``perfbench/workloads.json``; ``--workload all`` runs each of them in its
own process.  Load shape: a closed loop with one client, one query (or
day step) at a time on ``local[nproc]``.  Each run is a fresh process, so
the engine's process-wide memos start empty.

A run is: set-up (the seeded inputs, session start, warmup), one cold
pass, then a fixed number of warm passes (as many of the workload's
nominal pass time as fit in ``--seconds``).  The cold pass is the first
pass of the process; it consumes each result with ``collect()`` and
checks it against ``expected.json`` (``registry_read``) or a pure-Python
replay of the generated inputs (``reference_day``).  Warm passes force
each query through the noop sink.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
event log and the operator spans and prints the per-layer metrics.  Both
write the full record, with per-query layer splits and the stage table,
to ``perfbench/.work/records/``.  The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
MIB = 1024 * 1024


def _load_json(name: str) -> dict:
    with open(os.path.join(BENCH, name), encoding="utf-8") as f:
        return json.load(f)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it (the
    JVM and its Python workers), reaped children included.  Unlike wall
    time, this leaves out the time the engine's threads waited for a core
    the host had lent elsewhere."""
    parent, used = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(d)] = int(fields[1])
        used[int(d)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    return total / os.sysconf("SC_CLK_TCK")


def _tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples above it:
    (value, percentile), or (None, None) below eleven samples."""
    s = sorted(samples)
    k = len(s) - 11
    if k < 0:
        return None, None
    return s[k], 100.0 * (k + 1) / len(s)


def _git_commit() -> str | None:
    """HEAD of the repository the benchmark runs from, if it is one."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10)
    except OSError:
        return None
    lines = out.stdout.split()
    if out.returncode or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


class Bench:
    """One workload run: the session, the timings and the record."""

    def __init__(self, args, cfg: dict) -> None:
        self.args = args
        self.cfg = cfg
        self.trace = args.trace == 1
        self.work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.failures: dict[str, str] = {}
        self.attempted: list[str] = []
        self.record: dict = {"setup": {}, "passes": []}
        self.spans = None
        self.spark = None

    # ------------------------------------------------------------ set-up
    def start(self) -> None:
        from occupation_wage_etl_spark.session import get_spark

        os.makedirs(os.path.join(self.work, "tmp"))
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir)
            os.environ["SPARK_GRAFT_CONF"] = (
                "spark.eventLog.enabled=true;spark.eventLog.compress=false;"
                f"spark.eventLog.dir=file://{log_dir}")
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               extra_conf=conf)
        self.record["setup"]["session_start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())  # noqa: SLF001
        t0 = time.perf_counter()
        self._warmup()
        self.record["setup"]["warmup_s"] = time.perf_counter() - t0
        self.record["setup"]["cpu_s"] = self.cpu_s() - cpu0

    def _warmup(self) -> None:
        """First jobs of the JVM: scan, broadcast join, aggregate, window
        on the two smallest tables."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        data = os.path.join(BENCH, "data", "sf0.001")
        nation = self.spark.read.parquet(f"{data}/nation.parquet")
        region = self.spark.read.parquet(f"{data}/region.parquet")
        (nation.join(F.broadcast(region),
                     nation["n_regionkey"] == region["r_regionkey"])
         .groupBy("r_name").agg(F.count(F.lit(1)).alias("n"))
         .withColumn("rn", F.row_number().over(Window.orderBy("r_name")))
         .write.format("noop").mode("overwrite").save())

    def stop(self) -> None:
        """Stop Spark and wait until its JVM, with the Python workers it
        started, has exited."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway  # noqa: SLF001
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001

    def end_query(self, rec: dict) -> float:
        """Read what the query left in Spark's storage, then drop it, as
        every harness does per query.  Returns the seconds the reading
        took: the benchmark's own work, which a pass's wall leaves out."""
        from occupation_wage_etl_spark.operators._cache import (
            release_cached,
            release_checkpoints,
        )

        t0 = time.perf_counter()
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()  # noqa: SLF001
        rec["storage_bytes"] = sum(i.memSize() + i.diskSize() for i in infos)
        own = time.perf_counter() - t0
        rec["persisted"] = release_cached()
        rec["checkpoints"] = release_checkpoints(self.spark)
        self.spark.catalog.clearCache()
        return own

    def cpu_s(self) -> float:
        """CPU seconds used so far by this driver, its JVM and workers."""
        return _tree_cpu_s(os.getpid())

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def fail(self, name: str, why: str) -> None:
        self.failures.setdefault(name, why)

    def warm_passes(self) -> int:
        """As many warm passes of the workload's nominal length as fit in
        ``--seconds``, at least one; the same count on every run."""
        return max(1, int(self.args.seconds // self.cfg["pass_s"]))


# ------------------------------------------------------------- read workloads
def write_layout(src: str, dst: str, seed: int, cpus: int) -> None:
    """The seeded lake layout the read workloads scan: every input table
    with its rows in a seeded order, split into files at seeded row
    boundaries.  Values are unchanged, so query results are too.  Tables
    of 50k rows or more, and the two text/vector tables whose queries
    explode rows, get one file per core; the rest get one file."""
    import pyarrow.parquet as pq

    from tools.oracle_check import TABLES

    for t in TABLES:
        table = pq.read_table(f"{src}/{t}.parquet")
        order = list(range(table.num_rows))
        rng = random.Random(f"{seed}-{t}")
        rng.shuffle(order)
        table = table.take(order)
        n = cpus if table.num_rows >= 50_000 or t in ("documents", "embeddings") else 1
        cuts = [0] + sorted(rng.sample(range(1, table.num_rows), n - 1)) + [table.num_rows]
        os.makedirs(f"{dst}/{t}.parquet")
        for i in range(n):
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                           f"{dst}/{t}.parquet/part-{i:05d}.parquet")


def run_queries(b: Bench) -> None:
    from occupation_wage_etl_spark.queries import SPARK_QUERIES
    from tools.oracle_check import _value_hash

    args, cfg = b.args, b.cfg
    src = os.path.join(BENCH, "data", f"sf{args.sf}")
    expected = _load_json("expected.json")[f"sf{args.sf}"]
    lake = os.path.join(b.work, "lake")
    write_layout(src, lake, args.seed, b.cpus)
    files, size = _dir_bytes(lake)
    in_bytes = sum(os.path.getsize(os.path.join(src, f))
                   for f in os.listdir(src))
    b.record["setup"].update(layout_files=files, layout_mb=size / MIB)

    names = list(cfg["queries"])
    b.attempted = names
    passes = [("cold", True)] + [(f"w{i}", False) for i in range(b.warm_passes())]
    for label, cold in passes:
        order = list(names)
        random.Random(f"{args.seed}-{label}").shuffle(order)
        cpu0 = b.cpu_s()
        t_pass = time.perf_counter()
        own = 0.0
        recs = {}
        collected = {}
        for name in order:
            before = b.spans.snapshot() if b.spans else None
            rec = recs[name] = {}
            try:
                t0 = time.perf_counter()
                b.group(f"pb:{label}:{name}:build")
                df = SPARK_QUERIES[name](b.spark, lake)
                rec["build_s"] = time.perf_counter() - t0
                if b.trace:
                    from tracing import job_counts, plan_info

                    rec["build_jobs"] = job_counts(b.spark, f"pb:{label}:{name}:build")
                    rec.update(plan_info(b.spark, df))
                b.group(f"pb:{label}:{name}:exec")
                t1 = time.perf_counter()
                if cold:
                    collected[name] = (df.collect(), df.columns)
                else:
                    df.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - t1
                rec["wall_s"] = time.perf_counter() - t0
                if b.trace:
                    rec["exec_jobs"] = job_counts(b.spark, f"pb:{label}:{name}:exec")
            except Exception as exc:  # a failing query stays in the workload
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
                b.fail(name, rec["error"])
                traceback.print_exc(file=sys.stderr)
            if b.spans:
                from tracing import delta

                rec["operators"] = delta(b.spans.snapshot(), before)
            own += b.end_query(rec)
        wall = time.perf_counter() - t_pass - own
        cpu = b.cpu_s() - cpu0
        # the output check runs after the pass clock has stopped
        for name, (rows, columns) in collected.items():
            want = expected.get(name)
            recs[name]["rows"] = len(rows)
            try:
                got = _value_hash([tuple(r) for r in rows], columns)
            except Exception as exc:
                b.fail(name, f"cannot hash the result: {exc}"[:300])
                continue
            if want is None:
                b.fail(name, "no expected hash")
            elif got != want["hash"]:
                b.fail(name, f"hash mismatch: {len(rows)} rows, "
                             f"expected {want['rows']}")
        b.record["passes"].append({
            "label": label, "cold": cold, "wall_s": wall, "cpu_s": cpu,
            "queries": recs,
            "stored_bytes": sum(q["storage_bytes"] for q in recs.values())})
    # what the engine's persists and local checkpoints held at the end of
    # each query, summed over a pass, per byte of the input tables
    b.record["stored_bytes_per_input_byte"] = statistics.median(
        p["stored_bytes"] for p in b.record["passes"]) / in_bytes


# ------------------------------------------------------------------- metrics
def end_to_end(b: Bench) -> dict[str, tuple[float, str]]:
    """The metrics BENCHMARK.json gates on; every workload reports each.
    The times are CPU seconds of the driver, its JVM and its workers: on a
    host that lends its cores elsewhere by the minute, wall time moves by
    more than the bounds while CPU time holds (see README.md)."""
    rec = b.record
    cold = [p for p in rec["passes"] if p["cold"]]
    warm = [p for p in rec["passes"] if not p["cold"]]
    return {
        "cpu_s": (statistics.median(p["cpu_s"] for p in warm), "s"),
        "cold_cpu_s": (cold[0]["cpu_s"], "s"),
        "setup_s": (rec["setup"]["cpu_s"], "s"),
        "stored_bytes_per_input_byte": (rec["stored_bytes_per_input_byte"],
                                        "ratio"),
    }


def not_gated(b: Bench) -> dict[str, dict]:
    """Wall times (warm pass, cold pass, set-up), median and tail of the
    warm per-query (or per day-step) walls, the failure ratio and the peak
    resident memory: printed and recorded, not gated (see README.md)."""
    rec = b.record
    warm = [p for p in rec["passes"] if not p["cold"]]
    samples = [q["wall_s"] for p in warm for q in p["queries"].values()
               if "wall_s" in q]
    tail, pct = _tail(samples)
    setup = rec["setup"]
    return {
        "wall_s": {"value": statistics.median(p["wall_s"] for p in warm),
                   "unit": "s"},
        "cold_wall_s": {"value": rec["passes"][0]["wall_s"], "unit": "s"},
        "setup_wall_s": {"value": setup["session_start_s"] + setup["warmup_s"],
                         "unit": "s"},
        "query_p50_s": {"value": statistics.median(samples), "unit": "s"},
        "query_tail_s": {"value": tail, "unit": "s", "percentile": pct,
                         "samples": len(samples)},
        "failed_ratio": {"value": len(b.failures) / len(b.attempted),
                         "unit": "ratio"},
        "peak_rss_mb": {"value": b.record["peak_rss_mb"], "unit": "MiB"},
    }


def run_all(workloads: list[str]) -> int:
    """``--workload all``: every workload in its own fresh process, one
    after another, with this run's arguments."""
    results = {}
    for w in workloads:
        argv = list(sys.argv[1:])
        argv[argv.index("--workload") + 1] = w
        proc = subprocess.run([sys.executable, os.path.abspath(__file__)] + argv,
                              capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(f"{w} {line}")
        if proc.returncode or not lines:
            sys.stderr.write(proc.stderr)
            return proc.returncode or 1
        results[w] = json.loads(lines[-1])
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {w: r["metrics"] for w, r in results.items()},
    }))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default="0.01", choices=("0.01", "0.001"),
                    help="scale factor of the read workloads' input tables")
    args = ap.parse_args()

    config = _load_json("workloads.json")
    if args.workload == "all":
        return run_all(list(config))
    if args.workload not in config:
        print(f"unknown workload {args.workload!r}; "
              f"known: {', '.join(config)}", file=sys.stderr)
        return 2
    cpus = str(len(os.sched_getaffinity(0)))  # what `nproc` prints
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the engine's default
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_CONF": "",
        "PYTHONPATH": os.pathsep.join(
            [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    })
    sys.path[:0] = [ROOT, BENCH]
    try:
        import pyarrow  # noqa: F401

        from occupation_wage_etl_spark.queries import SPARK_QUERIES
        from tools.oracle_check import _value_hash  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    unknown = [q for w in config.values() for q in w.get("queries", [])
               if q not in SPARK_QUERIES]
    if unknown:
        print(f"workloads.json names unknown queries: {unknown}",
              file=sys.stderr)
        return 2

    b = Bench(args, config[args.workload])
    os.environ.update({"SPARK_LOCAL_DIRS": os.path.join(b.work, "local"),
                       "TMPDIR": os.path.join(b.work, "tmp")})
    # a terminated run still stops its Spark driver and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return measure(b)
    finally:
        shutil.rmtree(b.work, ignore_errors=True)


def measure(b: Bench) -> int:
    import pyarrow
    import pyspark

    args = b.args
    load_start = os.getloadavg()
    try:
        b.start()
        if b.trace:
            from tracing import Spans

            b.spans = Spans()
            b.record["operator_layers"] = b.spans.wrap_operators()
        if b.cfg["kind"] == "queries":
            run_queries(b)
        else:
            import refday

            refday.run(b)
        rss = {"python": _vm_hwm_mb("self"), "jvm": _vm_hwm_mb(b.jvm_pid)}
        b.record["peak_rss_split_mb"] = rss
        b.record["peak_rss_mb"] = rss["python"] + rss["jvm"]
    finally:
        if b.spans:
            b.spans.unwrap()
        b.stop()

    rec = b.record
    rec.update({
        "workload": args.workload, "why": b.cfg["why"], "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "sf": args.sf,
        "nproc": b.cpus, "spark_graft_cpus": str(b.cpus),
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "git_commit": _git_commit(), "spark": pyspark.__version__,
        "python": platform.python_version(), "pyarrow": pyarrow.__version__,
        "attempted": b.attempted, "failures": b.failures,
    })
    e2e = end_to_end(b)
    rec["end_to_end"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    rec["not_gated"] = not_gated(b)
    if b.trace:
        from tracing import per_layer

        rec["per_layer"] = per_layer(b, os.path.join(b.work, "eventlog"))
        metrics = rec["per_layer"]
    else:
        metrics = rec["end_to_end"]

    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    out = os.path.join(WORK, "records",
                       f"{args.workload}.seed{args.seed}.trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(rec, f, indent=1, sort_keys=True, default=str)
        f.write("\n")

    for name, m in {**rec["end_to_end"], **rec["not_gated"]}.items():
        if m["value"] is not None:
            print(f"{name} {m['value']:.6g} {m['unit']}")
    tail = rec["not_gated"]["query_tail_s"]
    if tail["value"] is None:
        print(f"  (no query_tail_s: {tail['samples']} warm samples, "
              "it needs 11)")
    else:
        print(f"  (query_tail_s is p{tail['percentile']:.0f} of "
              f"{tail['samples']} warm samples)")
    for name, why in sorted(b.failures.items()):
        print(f"FAILED {name}: {why}")
    print(f"record {os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": not b.failures,
        "attempted": len(b.attempted),
        "failed": len(b.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer tracing for the traced benchmark run (``--trace 1``).

Everything here observes the engine from outside, through its public
functions and Spark's own interfaces; no engine code is changed:

- ``Spans`` wraps every public function of each loaded
  ``occupation_wage_etl_spark.operators.<module>`` (and the ``sources``
  parse helpers) in a timing span.  A span's self time is its duration
  minus the time covered by spans nested inside it.
- ``plan_info`` plans a frame once through its own QueryExecution and
  reads Catalyst's QueryPlanningTracker phases, the static exchange
  count and the Python-UDF nodes of the physical plan.
- ``job_counts`` counts the jobs Spark ran under one job group via
  ``statusTracker()``.
- ``read_event_log`` turns the uncompressed event log into one row per
  completed stage, keyed by the job group that submitted it.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import pkgutil
import re
import sys
import time
from collections import defaultdict

MIB = 1024 * 1024
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas")
_PATH_RE = re.compile(r"/\S*/")  # call sites: keep the file name only
_EXCHANGE_RE = re.compile(r"\b(?:ShuffleExchange|BroadcastExchange|Exchange)\b")


class Spans:
    """Timing spans around module functions, self time per layer."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[list[float]] = []  # [child time] per open span
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, module, name: str, layer: str) -> None:
        fn = getattr(module, name)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            self._stack.append([0.0])
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dur = time.perf_counter() - t0
                child = self._stack.pop()[0]
                self.self_s[layer] += dur - child
                self.calls[layer] += 1
                if self._stack:
                    self._stack[-1][0] += dur

        setattr(module, name, spanned)
        self._patched.append((module, name, fn))

    def wrap_operators(self) -> list[str]:
        """Span every public function of each operators module the engine
        has loaded; returns the layer names."""
        import occupation_wage_etl_spark.operators as ops

        layers = []
        for info in pkgutil.iter_modules(ops.__path__):
            full = f"{ops.__name__}.{info.name}"
            if info.name.startswith("_") or full not in sys.modules:
                continue
            mod = importlib.import_module(full)
            layer = f"operators.{info.name}"
            for name, obj in list(vars(mod).items()):
                if (not name.startswith("_") and inspect.isfunction(obj)
                        and obj.__module__ == full):
                    self.wrap(mod, name, layer)
            layers.append(layer)
        return layers

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()

    def snapshot(self) -> dict[str, tuple[float, int]]:
        return {k: (self.self_s[k], self.calls[k]) for k in self.self_s}


def delta(after: dict, before: dict) -> dict[str, tuple[float, int]]:
    """Per-layer (self seconds, calls) accrued between two snapshots."""
    out = {}
    for k, (s, n) in after.items():
        s0, n0 = before.get(k, (0.0, 0))
        if n > n0:
            out[k] = (s - s0, n - n0)
    return out


def _scala_map(spark, m) -> dict:
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    jm = conv.asJava(m)
    return {k: jm.get(k) for k in jm.keySet()}


def plan_info(spark, df) -> dict:
    """Plan ``df`` through its own QueryExecution (the noop write plans
    its command again, inside the exec time) and describe the result."""
    qe = df._jdf.queryExecution()  # noqa: SLF001
    t0 = time.perf_counter()
    plan = qe.executedPlan().toString()
    wall = time.perf_counter() - t0
    phases = {k: v.durationMs() / 1000.0
              for k, v in _scala_map(spark, qe.tracker().phases()).items()}
    return {
        "catalyst_s": wall,
        "analysis_s": phases.get("analysis", 0.0),
        "optimization_s": phases.get("optimization", 0.0),
        "planning_s": phases.get("planning", 0.0),
        "exchanges": len(_EXCHANGE_RE.findall(plan)),
        "python_nodes": sum(plan.count(n) for n in PYTHON_NODES),
    }


def job_counts(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _acc(accs: list, name: str) -> float:
    return sum(float(a.get("Value") or 0) for a in accs
               if a.get("Name") == name)


def _event_lines(log_dir: str):
    """Lines of the run's event log: Spark 4 writes a directory
    ``eventlog_v2_<app>/`` of numbered ``events_<n>_<app>`` files."""
    files = glob.glob(os.path.join(log_dir, "*", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f


def read_event_log(log_dir: str) -> list[dict]:
    """One dict per completed stage attempt, with its job group."""
    group_of: dict[int, str] = {}
    failed: dict[int, int] = defaultdict(int)
    stages = []
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            props = ev.get("Properties") or {}
            group_of[sid] = props.get("spark.jobGroup.id", "")
        elif kind == "SparkListenerTaskEnd":
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                failed[ev["Stage ID"]] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            accs = info.get("Accumulables") or []
            sid = info["Stage ID"]
            start = info.get("Submission Time") or 0
            end = info.get("Completion Time") or start
            tasks = int(info.get("Number of Tasks") or 0)
            stages.append({
                "group": group_of.get(sid, ""),
                "stage": sid,
                "name": _PATH_RE.sub("", info.get("Stage Name") or "")[:60],
                "wall_s": (end - start) / 1000.0,
                "tasks": tasks,
                "one_task": tasks == 1,
                "run_s": _acc(accs, "internal.metrics.executorRunTime") / 1000.0,
                "gc_s": _acc(accs, "internal.metrics.jvmGCTime") / 1000.0,
                "shuffle_read_mb": (
                    _acc(accs, "internal.metrics.shuffle.read.remoteBytesRead")
                    + _acc(accs, "internal.metrics.shuffle.read.localBytesRead")
                ) / MIB,
                "shuffle_write_mb": _acc(
                    accs, "internal.metrics.shuffle.write.bytesWritten") / MIB,
                "spill_mb": _acc(accs, "internal.metrics.diskBytesSpilled") / MIB,
                "python_data_mb": (
                    _acc(accs, "data sent to Python workers")
                    + _acc(accs, "data returned from Python workers")
                ) / MIB,
                "failed_tasks": 0,
            })
    for s in stages:
        s["failed_tasks"] = failed.get(s["stage"], 0)
    return stages


# Operator modules whose spans are printed as per-layer metrics: the ones
# the three workloads call.  Spans of any other module stay in the record.
OPERATOR_LAYERS = ("operators.cdc", "operators.dedup", "operators.graph",
                   "operators.multimodal", "operators.prefix_join",
                   "operators.topk")

_SUMS = ("build_s", "build_jobs", "analysis_s", "optimization_s",
         "planning_s", "exchanges", "python_nodes", "exec_s", "exec_jobs",
         "persisted", "checkpoints")
_STAGE_SUMS = ("tasks", "run_s", "gc_s", "shuffle_read_mb",
               "shuffle_write_mb", "spill_mb", "python_data_mb",
               "failed_tasks")


def _query_layers(q: dict) -> dict:
    """One query's (or day step's) layer split, stages of its noop write
    (or of the whole step) only."""
    st = q.get("exec_stages", [])
    out = {k: q.get(k, 0) for k in _SUMS + ("wall_s",)}
    out.update({k: sum(s[k] for s in st) for k in _STAGE_SUMS})
    out["stages"] = len(st)
    out["one_task_stages"] = sum(s["one_task"] for s in st)
    out["operators"] = q.get("operators", {})
    return out


def per_layer(b, log_dir: str) -> dict[str, dict]:
    """Per-layer metrics of the warm passes (per pass), plus the per-query
    split and the slowest stages, which go into the record."""
    rec = b.record
    by_group: dict[str, list] = defaultdict(list)
    for s in read_event_log(log_dir):
        by_group[s["group"]].append(s)
    for p in rec["passes"]:
        for name, q in p["queries"].items():
            for phase in ("build", "exec"):
                q[f"{phase}_stages"] = by_group.get(
                    f"pb:{p['label']}:{name}:{phase}", [])
    warm = [p for p in rec["passes"] if not p["cold"]]
    n = len(warm)
    tot: dict[str, float] = defaultdict(float)
    ops: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
    for p in warm:
        for q in p["queries"].values():
            lay = _query_layers(q)
            for k, v in lay.items():
                if k != "operators":
                    tot[k] += v
            for layer, (s, c) in lay["operators"].items():
                ops[layer][0] += s
                ops[layer][1] += c
            tot["storage_mb_peak"] = max(tot["storage_mb_peak"],
                                         q.get("storage_bytes", 0) / MIB)
    setup = rec["setup"]
    src = rec.get("sources", {})
    exec_s = tot["exec_s"] / n
    m = {
        "session.start_s": (setup["session_start_s"], "s"),
        "driver.python_rss_mb": (rec["peak_rss_split_mb"]["python"], "MiB"),
        "driver.jvm_rss_mb": (rec["peak_rss_split_mb"]["jvm"], "MiB"),
        "sources.ingest_s": (src.get("ingest_s", 0.0), "s"),
        "sources.parse_s": (src.get("parse_s", 0.0), "s"),
        "sources.write_s": (src.get("write_s", 0.0), "s"),
        "sources.read_s": (src.get("read_s", 0.0), "s"),
        "sources.files_written": (src.get("files_written", 0), "count"),
        "sources.bytes_written_mb": (src.get("bytes_written_mb", 0.0), "MiB"),
        "sources.partitions_rewritten": (src.get("partitions_rewritten", 0),
                                         "count"),
        "queries.build_s": (tot["build_s"] / n, "s"),
        "queries.build_jobs": (tot["build_jobs"] / n, "count"),
        "plans.oews.s": (src.get("plans.oews.s", 0.0), "s"),
        "plans.onet.s": (src.get("plans.onet.s", 0.0), "s"),
        "plans.views.s": (src.get("plans.views.s", 0.0), "s"),
        "cache.persisted": (tot["persisted"] / n, "count"),
        "cache.checkpoints": (tot["checkpoints"] / n, "count"),
        "cache.storage_mb_peak": (tot["storage_mb_peak"], "MiB"),
        "catalyst.analysis_s": (tot["analysis_s"] / n, "s"),
        "catalyst.optimization_s": (tot["optimization_s"] / n, "s"),
        "catalyst.planning_s": (tot["planning_s"] / n, "s"),
        "catalyst.exchanges": (tot["exchanges"] / n, "count"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (tot["exec_jobs"] / n, "count"),
        "exec.stages": (tot["stages"] / n, "count"),
        "exec.tasks": (tot["tasks"] / n, "count"),
        "exec.one_task_stages": (tot["one_task_stages"] / n, "count"),
        "exec.task_run_s": (tot["run_s"] / n, "s"),
        "exec.core_busy_ratio": (
            tot["run_s"] / n / (exec_s * b.cpus) if exec_s else 0.0, "ratio"),
        "exec.shuffle_read_mb": (tot["shuffle_read_mb"] / n, "MiB"),
        "exec.shuffle_write_mb": (tot["shuffle_write_mb"] / n, "MiB"),
        "exec.spill_mb": (tot["spill_mb"] / n, "MiB"),
        "exec.gc_s": (tot["gc_s"] / n, "s"),
        "exec.failed_tasks": (tot["failed_tasks"] / n, "count"),
        "udf.python_nodes": (tot["python_nodes"] / n, "count"),
        "udf.python_data_mb": (tot["python_data_mb"] / n, "MiB"),
        "trace.wall_s": (sorted(p["wall_s"] for p in warm)[(n - 1) // 2], "s"),
    }
    for layer in OPERATOR_LAYERS:
        s, c = ops.get(layer, (0.0, 0))
        m[f"{layer}.s"] = (s / n, "s")
        m[f"{layer}.calls"] = (c / n, "count")
    rec["operators_all"] = {k: {"s": s / n, "calls": c / n}
                            for k, (s, c) in sorted(ops.items())
                            if k.startswith("operators.")}

    first = warm[0]["queries"]
    rec["per_query"] = {name: _query_layers(q)
                        for name, q in sorted(first.items())}
    slow = sorted(first, key=lambda k: -first[k].get("wall_s", 0.0))[:20]
    rec["slow_queries"] = {
        name: sorted(first[name]["build_stages"] + first[name]["exec_stages"],
                     key=lambda s: -s["wall_s"])
        for name in slow}
    every = [dict(s, query=name) for name, q in first.items()
             for s in q["build_stages"] + q["exec_stages"]]
    rec["top_stages"] = sorted(every, key=lambda s: -s["wall_s"])[:20]
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

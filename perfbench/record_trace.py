#!/usr/bin/env python3
"""Write the committed per-layer records under ``perfbench/records/``.

    python3 perfbench/record_trace.py [--seed 11] [--seconds 20]

For each workload this runs the benchmark twice with the same seed, once
untraced and once traced, and keeps from the traced run:

- every per-layer metric, per workload and per query (or day step);
- the stages of the 20 slowest queries and the 20 slowest stages;
- ``trace_overhead_ratio``: the traced warm-pass wall divided by the
  untraced ``wall_s``.

It writes ``<workload>.json`` per workload and a readable ``TRACE.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "records")
KEEP = ("workload", "why", "seed", "seconds", "sf", "nproc",
        "spark_graft_cpus", "loadavg_start", "loadavg_end", "git_commit",
        "spark", "python", "pyarrow", "attempted", "failures", "not_gated",
        "setup", "per_layer", "operators_all", "per_query", "slow_queries",
        "top_stages")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL, timeout=600)
    path = os.path.join(BENCH, ".work", "records",
                        f"{workload}.seed{seed}.trace{trace}.json")
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def _fmt(v) -> str:
    return f"{v:.3f}" if isinstance(v, float) else str(v)


def _markdown(recs: dict[str, dict]) -> str:
    out = ["# Traced benchmark runs", "",
           "Written by `perfbench/record_trace.py`; per-layer metrics are "
           "per warm pass.  End-to-end numbers come from the untraced run.",
           ""]
    for name, r in recs.items():
        out += [f"## {name}", "",
                f"seed {r['seed']}, {r['nproc']} cores, Spark {r['spark']}, "
                f"load {r['loadavg_start'][0]:.2f} -> {r['loadavg_end'][0]:.2f}; "
                f"`trace_overhead_ratio` = {r['trace_overhead_ratio']:.3f} "
                f"(traced {r['per_layer']['trace.wall_s']['value']:.2f} s / "
                f"untraced {r['untraced_wall_s']:.2f} s)", "",
                "| layer metric | value | unit |", "|---|---|---|"]
        out += [f"| {k} | {_fmt(m['value'])} | {m['unit']} |"
                for k, m in r["per_layer"].items()]
        cols = ("wall_s", "build_s", "build_jobs", "exec_s", "exec_jobs",
                "stages", "one_task_stages", "tasks", "run_s", "exchanges",
                "python_nodes")
        out += ["", "Per query (first warm pass):", "",
                "| query | " + " | ".join(cols) + " |",
                "|---" * (len(cols) + 1) + "|"]
        for q, lay in sorted(r["per_query"].items(),
                             key=lambda kv: -kv[1]["wall_s"]):
            out.append(f"| {q} | " + " | ".join(_fmt(lay[c]) for c in cols)
                       + " |")
        out += ["", "Top 20 stages by wall (first warm pass):", "",
                "| query | stage | name | wall_s | tasks | 1-task | run_s | "
                "shuffle_read_mb | shuffle_write_mb | spill_mb |",
                "|---|---|---|---|---|---|---|---|---|---|"]
        for s in r["top_stages"]:
            out.append(
                f"| {s['query']} | {s['stage']} | {s['name']} | "
                f"{s['wall_s']:.3f} | {s['tasks']} | {'yes' if s['one_task'] else ''} | "
                f"{s['run_s']:.3f} | {s['shuffle_read_mb']:.3f} | "
                f"{s['shuffle_write_mb']:.3f} | {s['spill_mb']:.3f} |")
        out.append("")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    with open(os.path.join(BENCH, "workloads.json"), encoding="utf-8") as f:
        workloads = list(json.load(f))
    recs = {}
    for w in workloads:
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        r = {k: traced[k] for k in KEEP}
        r["untraced_wall_s"] = plain["not_gated"]["wall_s"]["value"]
        r["trace_overhead_ratio"] = (
            traced["per_layer"]["trace.wall_s"]["value"] / r["untraced_wall_s"])
        recs[w] = r
        with open(os.path.join(OUT, f"{w}.json"), "w", encoding="utf-8") as f:
            json.dump(r, f, indent=1, sort_keys=True)
            f.write("\n")
    with open(os.path.join(OUT, "TRACE.md"), "w", encoding="utf-8") as f:
        f.write(_markdown(recs))
    return 0


if __name__ == "__main__":
    sys.exit(main())

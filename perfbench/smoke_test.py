#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py        # or: python3 -m pytest perfbench/smoke_test.py

- every workload completes at sf0.001 (traced and untraced) and reports
  correct outputs;
- every printed metric name matches ``BENCHMARK.json``;
- a deliberately wrong expected hash is reported as a failure;
- a workload list naming an unknown query is rejected at start-up;
- a directory holding only ``BENCHMARK.json`` and ``perfbench/`` makes the
  benchmark exit non-zero without printing a result.

Takes a few minutes: each workload run starts its own Spark driver.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SCRATCH = os.path.join(BENCH, ".work", "smoke")

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)

# Runs run.main() with one of its JSON files altered in memory.
_PATCHED = """
import json, sys
sys.path.insert(0, {bench!r})
import run
orig = run._load_json
def patched(name):
    data = orig(name)
    {patch}
    return data
run._load_json = patched
sys.argv = ["run.py"] + {argv!r}
sys.exit(run.main())
"""


def _run(argv: list[str], cwd: str = ROOT, patch: str | None = None):
    if patch is None:
        cmd = [sys.executable, os.path.join(BENCH, "run.py")] + argv
    else:
        cmd = [sys.executable, "-c",
               _PATCHED.format(bench=BENCH, patch=patch, argv=argv)]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc, lines


def _result(lines: list[str]) -> dict:
    return json.loads(lines[-1])


def test_workloads_complete_with_the_declared_metrics():
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            proc, lines = _run(["--workload", w["name"], "--seed", "3",
                                "--seconds", "18", "--trace", str(trace),
                                "--sf", "0.001"])
            assert proc.returncode == 0, proc.stderr[-3000:]
            res = _result(lines)
            assert res["correct"] and res["failed"] == 0, lines
            assert sorted(res) == ["attempted", "correct", "failed", "metrics"]
            declared = {m["name"]: m["unit"] for m in SPEC[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == declared, (w["name"], trace)
            if trace == 0:
                assert all(v["value"] > 0 for v in res["metrics"].values())


def test_wrong_expected_hash_is_a_failure():
    patch = ('if name == "expected.json":\n'
             '        data["sf0.001"]["q04_avg_by_prefix"]["hash"] = "0" * 64')
    proc, lines = _run(["--workload", "registry_read", "--seed", "3",
                        "--seconds", "18", "--trace", "0", "--sf", "0.001"],
                       patch=patch)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = _result(lines)
    assert res["correct"] is False and res["failed"] == 1, res
    assert any(ln.startswith("FAILED q04_avg_by_prefix") for ln in lines)


def test_unknown_query_is_rejected():
    patch = ('if name == "workloads.json":\n'
             '        data["registry_read"]["queries"].append("q999_missing")')
    proc, lines = _run(["--workload", "registry_read", "--seed", "3",
                        "--seconds", "1", "--trace", "0"], patch=patch)
    assert proc.returncode != 0
    assert "q999_missing" in proc.stderr
    assert not lines


def test_fails_without_the_engine():
    bare = os.path.join(SCRATCH, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run([*SPEC["command"], "--workload", "registry_read",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          cwd=bare, env=env, capture_output=True, text=True,
                          timeout=180)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")

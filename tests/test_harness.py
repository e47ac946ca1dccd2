"""The query harness (tools/harness.py): every tool's build → action →
release path, and the value hash the oracle gate compares."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

from occupation_wage_etl_spark.operators import _cache
from occupation_wage_etl_spark.operators._cache import cached
from tools import harness
from tools.harness import collect, force, run_query, value_hash

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def clean(spark):
    """Drain the unscoped registry; the session's block count after."""
    _cache.release_cached()
    _cache.release_checkpoints(spark)
    return _n_persisted(spark)


@pytest.mark.parametrize("action", [force, lambda df: None],
                         ids=["force", "build_only"])
def test_run_query_releases_persists_and_checkpoints(spark, sf_tiny, clean, action):
    # q39's label propagation persists its edge list and local-checkpoints
    # every round while it builds, before any action runs
    _, build_s, exec_s = run_query(spark, "q39_dup_clusters", sf_tiny, action)
    assert build_s > 0 and exec_s >= 0
    assert _n_persisted(spark) == clean


def _persist_both(spark, sf_dir):
    """A builder that leaves one tracked persist and one local
    checkpoint behind."""
    df = cached(spark.range(10).toDF("v"))
    df.count()
    _cache.checkpoint(spark.range(10))
    return df


def _persist_then_raise(spark, sf_dir):
    _persist_both(spark, sf_dir)
    raise RuntimeError("boom")


def _raise(df):
    raise RuntimeError("boom")


@pytest.mark.parametrize(
    "builder, action",
    [(_persist_then_raise, force), (_persist_both, _raise)],
    ids=["builder_raises", "action_raises"],
)
def test_release_runs_when_query_raises(spark, clean, monkeypatch, builder, action):
    monkeypatch.setitem(harness.BUILDERS, "boom", builder)
    with pytest.raises(RuntimeError, match="boom"):
        run_query(spark, "boom", "unused", action)
    assert _n_persisted(spark) == clean
    # the query's scope took both blocks: none reached the unscoped registry
    assert _cache.release_cached() == 0
    assert _cache.release_checkpoints(spark) == 0


def test_two_queries_on_two_threads_release_only_their_own(spark, sf_tiny, clean):
    """One session, two threads: q39 builds (its edge list and every
    label round checkpointed), then waits while q01 runs start to end on
    the other thread.  q01's release must leave q39's blocks alone, so
    q39's collect still reads them and matches a run on its own."""
    alone, _, _ = run_query(spark, "q39_dup_clusters", sf_tiny, collect)
    built, other_done = threading.Event(), threading.Event()
    other = {}

    def collect_after_other(df):
        built.set()
        other_done.wait()
        return collect(df)

    def run_other():
        built.wait()
        try:
            other["q01"] = run_query(spark, "q01_pricing_summary", sf_tiny, collect)
        finally:
            other_done.set()

    thread = threading.Thread(target=run_other)
    thread.start()
    try:
        shared, _, _ = run_query(spark, "q39_dup_clusters", sf_tiny, collect_after_other)
    finally:
        built.set()
        thread.join()
    assert value_hash(*shared) == value_hash(*alone)
    assert other["q01"][0][0]  # q01 returned rows
    assert _n_persisted(spark) == clean


def test_value_hash_is_pinned():
    from tools.oracle_check import _value_hash

    rows = [
        (None, float("nan"), 1.5, b"\x00\xffab", "xéy", 7),
        (2, -0.0, 1e-300, b"", "", None),
        (True, float("inf"), 0.1 + 0.2, b"z", "a\x1fb", -3),
    ]
    assert _value_hash(rows, ["n", "f", "g", "b", "s", "i"]) == (
        "9b0d7ffbb03710b5e6975e9728ed6b7bc1403c4c53ca95f4e71fb5d79e94356e"
    )


def test_oracle_check_cli(sf_tiny, tmp_path):
    out = tmp_path / "gate.json"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"),
         sf_tiny, "q01_pricing_summary", "q39_dup_clusters",
         "--json-out", str(out)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    record = json.loads(out.read_text())
    assert record["bad"] == [] and record["total"] == 2

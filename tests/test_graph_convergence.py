"""Convergence of graph.connected_components and graph.bfs_hops.

Each round's stop test is an ``Observation`` on the round's checkpoint:
the count arrives with the checkpoint job.  These tests pin the result
AND the number of rounds against a pure-Python replay of the same
rounds, so a stop test that reads the wrong frame (or a stale count)
shows up as an extra or a missing round even where the result agrees.
"""

from __future__ import annotations

from collections import defaultdict

import pytest

from occupation_wage_etl_spark.operators import graph
from occupation_wage_etl_spark.operators._cache import scope


@pytest.fixture
def checkpoints(monkeypatch):
    """Count the checkpoints graph.py takes (one per round, plus the
    set-up ones)."""
    n = [0]
    real = graph.checkpoint

    def counting(df):
        n[0] += 1
        return real(df)

    monkeypatch.setattr(graph, "checkpoint", counting)
    return n


def _neighbors(edges):
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    return nbrs


def _cc_replay(edges, max_iter):
    """connected_components' rounds in Python: seed, then relax + pointer
    jump until no label changes.  Returns (labels, rounds)."""
    nbrs = _neighbors(edges)
    comp = {v: min(v, *nbrs[v]) for v in nbrs}
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        new = {
            v: min(comp[v], *(comp[u] for u in nbrs[v]), comp[comp[v]])
            for v in comp
        }
        changed = new != comp
        comp = new
        if not changed:
            break
    return comp, rounds


def _bfs_replay(edges, seeds, max_hops):
    """bfs_hops' levels in Python.  Returns (hops, levels run, levels
    that found new nodes)."""
    nbrs = _neighbors(edges)
    hops = {s: 0 for s in seeds}
    frontier, run, expanded = set(seeds), 0, 0
    for h in range(1, max_hops + 1):
        run += 1
        nxt = {v for u in frontier for v in nbrs[u]} - set(hops)
        if not nxt:
            break
        expanded += 1
        hops.update((v, h) for v in nxt)
        frontier = nxt
    return hops, run, expanded


def _components(spark, edges, max_iter):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with scope():
        return {
            r["id"]: r["component"]
            for r in graph.connected_components(df, max_iter=max_iter).collect()
        }


def _hops(spark, edges, seeds, max_hops):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    sd = spark.createDataFrame([(s,) for s in seeds], "node long")
    with scope():
        return {
            r["node"]: r["hops"]
            for r in graph.bfs_hops(df, sd, max_hops=max_hops).collect()
        }


CHAIN = [(i, i + 1) for i in range(40)]
STAR = [(0, i) for i in range(1, 8)]


@pytest.mark.parametrize(
    "edges, max_iter, rounds",
    [(CHAIN, 50, 7), (STAR, 50, 1), (CHAIN, 2, 2)],
    ids=["chain_several_rounds", "converged_after_round_0", "max_iter_exhausted"],
)
def test_connected_components_rounds(spark, checkpoints, edges, max_iter, rounds):
    want, replayed = _cc_replay(edges, max_iter)
    assert replayed == rounds
    assert _components(spark, edges, max_iter) == want
    # edge list + round-0 labels, then one checkpoint per round
    assert checkpoints[0] == 2 + rounds


@pytest.mark.parametrize(
    "seeds, max_hops, levels, expanded",
    [([0], 50, 11, 10), ([99], 50, 1, 0), ([0], 3, 3, 3)],
    ids=["chain_several_levels", "converged_after_round_0", "max_hops_exhausted"],
)
def test_bfs_hops_levels(spark, checkpoints, seeds, max_hops, levels, expanded):
    edges = CHAIN[:10]
    want, run, grown = _bfs_replay(edges, seeds, max_hops)
    assert (run, grown) == (levels, expanded)
    assert _hops(spark, edges, seeds, max_hops) == want
    # edges + seeds, then the next frontier every level and the grown
    # visited set every level that found new nodes
    assert checkpoints[0] == 2 + levels + expanded

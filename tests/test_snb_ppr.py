"""Tests for sorted-neighborhood blocking
(fuzzy_join.sorted_neighborhood_pairs — q203) and personalized
PageRank (graph.personalized_pagerank — q204)."""

from __future__ import annotations

import pytest

from occupation_wage_etl_spark.operators import fuzzy_join, graph
from occupation_wage_etl_spark.operators._cache import release_checkpoints


@pytest.fixture(autouse=True)
def _unpersist_checkpoints(spark):
    """Deep personalized_pagerank runs localCheckpoint every 8 rounds;
    drop the leftover blocks so later tests' persisted-RDD accounting
    (test_cache_lifecycle) starts from zero in any execution order."""
    yield
    release_checkpoints(spark)


def test_sorted_neighborhood_window_pairs(spark):
    rows = [(1, "anna"), (2, "anne"), (3, "bob"), (4, "bobb"), (5, "zed")]
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_join.sorted_neighborhood_pairs(
        df, "name", "id", window=2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["rank_gap"] for r in out}
    # sort order: anna(1) anne(2) bob(3) bobb(4) zed(5)
    assert pairs[(1, 2)] == 1 and pairs[(1, 3)] == 2
    assert pairs[(2, 3)] == 1 and pairs[(3, 4)] == 1
    assert (1, 4) not in pairs  # gap 3 > window
    assert len(pairs) == 2 * 5 - 3  # n*w - w*(w+1)/2 = 10 - 3
    keys = {(r["id_a"], r["key_a"]) for r in out}
    assert (1, "anna") in keys


def test_sorted_neighborhood_matches_adjacent_typos(spark):
    # two near-identical names that share NO equality block key still
    # sort adjacently -> candidate emitted
    rows = [(1, "smith john"), (2, "smith jon"), (3, "unrelated")]
    df = spark.createDataFrame(rows, "id long, name string")
    out = fuzzy_join.sorted_neighborhood_pairs(df, "name", "id", window=1)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert (2, 1) in got or (1, 2) in got


def test_personalized_pagerank_mass_concentrates_at_seed_end(spark):
    # path 1-2-3-4, seed {1}, run past the early bipartite oscillation
    # (20 rounds also exercises the every-8-rounds lineage checkpoint).
    # Strict per-node decay does NOT hold (deg-1 node 1 exports all its
    # mass to node 2 each round) — the invariants are: the seed end
    # holds the majority of the mass, and the far end is the minimum.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    r = {
        x["node"]: x["rank_scaled"]
        for x in graph.personalized_pagerank(edges, seeds, iters=20).collect()
    }
    assert r[1] + r[2] > r[3] + r[4]
    assert r[4] == min(r.values())
    assert r[3] > r[4] > 0  # propagated mass reaches the far end


def test_personalized_pagerank_nonseed_gets_no_restart(spark):
    # star: seed at hub; after 1 iter a leaf only has propagated mass
    edges = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    r1 = {
        x["node"]: x["rank_scaled"]
        for x in graph.personalized_pagerank(edges, seeds, iters=1).collect()
    }
    scale, num, den = 10**12, 17, 20
    # hub: restart + damped leaf contributions (leaves start at 0)
    assert r1[1] == scale * (den - num) // den
    # leaf: no restart, half the hub's initial mass damped
    assert r1[2] == (num * (scale // 2)) // den
    assert r1[2] == r1[3]


def test_personalized_pagerank_ignores_offgraph_seeds(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    seeds = spark.createDataFrame([(1,), (99,)], "node long")
    r = {
        x["node"]: x["rank_scaled"]
        for x in graph.personalized_pagerank(edges, seeds, iters=2).collect()
    }
    assert set(r) == {1, 2}  # 99 not in the graph -> not a node, ns=1
    assert r[1] > r[2]

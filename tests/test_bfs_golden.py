"""Tests for BFS hop distance (graph.bfs_hops — q190) and
golden-record survivorship (dedup.golden_records — q191)."""

from __future__ import annotations

import pytest

from occupation_wage_etl_spark.operators import dedup, graph
from occupation_wage_etl_spark.operators._cache import release_checkpoints


@pytest.fixture(autouse=True)
def _unpersist_checkpoints(spark):
    """bfs_hops/connected_components localCheckpoint their frontier each
    round; the checkpoint RDDs stay persisted in the shared session
    after the result is collected (lineage is truncated onto them, so
    the OPERATOR cannot release them while its output is live).  Drop
    them after each test so later tests' persisted-RDD accounting
    (test_cache_lifecycle) starts from zero."""
    yield
    release_checkpoints(spark)


def test_bfs_hops_path_graph(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "id_a int, id_b int"
    )
    seeds = spark.createDataFrame([(1,)], "node int")
    got = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(edges, seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # node 5 beyond max_hops


def test_bfs_hops_nearest_seed_wins_and_isolated_seed_kept(spark):
    # two seeds at both ends of a path; isolated seed 99 still hops 0
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a int, id_b int"
    )
    seeds = spark.createDataFrame([(1,), (4,), (99,)], "node int")
    got = {
        r["node"]: r["hops"]
        for r in graph.bfs_hops(edges, seeds, max_hops=5).collect()
    }
    assert got == {1: 0, 4: 0, 99: 0, 2: 1, 3: 1}


def test_bfs_hops_early_exit_on_empty_frontier(spark):
    edges = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    seeds = spark.createDataFrame([(1,)], "node int")
    out = graph.bfs_hops(edges, seeds, max_hops=50).collect()
    assert {(r["node"], r["hops"]) for r in out} == {(1, 0), (2, 1)}


def test_golden_records_mode_max_and_ties(spark):
    rows = [
        # cluster 10: lang mode 'en' (2 vs 1), n_chars max 30
        (1, 10, "en", "s1", 10),
        (2, 10, "en", "s2", 30),
        (3, 10, "de", "s2", 20),
        # cluster 20: lang tie en/de -> smallest ('de'); null lang ignored
        (7, 20, "en", "s9", 5),
        (8, 20, "de", "s9", 6),
        (9, 20, None, "s8", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id int, cluster_id int, lang string, source string,"
        " n_chars int"
    )
    out = {
        r["cluster"]: r
        for r in dedup.golden_records(
            df, "doc_id", "cluster_id",
            mode_cols=["lang", "source"], max_cols=["n_chars"],
        ).collect()
    }
    g10, g20 = out[10], out[20]
    assert (g10["record_id"], g10["n_members"]) == (1, 3)
    assert g10["lang_mode"] == "en" and g10["source_mode"] == "s2"
    assert g10["n_chars_max"] == 30
    assert g20["lang_mode"] == "de"  # tie -> smallest value
    assert g20["source_mode"] == "s9"
    assert g20["record_id"] == 7 and g20["n_chars_max"] == 7

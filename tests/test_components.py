"""Connected components + duplicate-cluster resolution."""

from __future__ import annotations

import pytest

from tower_parse_spark.operators import components
from tower_parse_spark.operators.components import (
    connected_components,
    dedup_clusters,
)


@pytest.fixture()
def edges(spark):
    # components: {1,2,3,4} (chain), {10,11}; 99 isolated (no edges)
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id1 long, id2 long"
    )


def test_components_chain(spark, edges):
    comp = {
        r["node"]: r["component"] for r in connected_components(edges)[0].collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_survivors(spark, edges):
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id long"
    )
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_survivor"])
        for r in dedup_clusters(edges, docs).collect()
    }
    assert rows[1] == (1, True)
    assert rows[4] == (1, False)
    assert rows[10] == (10, True)
    assert rows[11] == (10, False)
    assert rows[99] == (99, True)  # isolated doc is its own survivor


def test_components_long_chain_converges(spark):
    # a 12-hop chain needs 12 propagation rounds (1 hop per iteration)
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 long, id2 long"
    )
    comp = connected_components(edges, max_iter=20)[0].collect()
    assert {r["component"] for r in comp} == {0}


def test_components_nonconvergence_raises(spark):
    """A chain deeper than the rounds can reach must raise, never
    silently return split clusters — ADVICE r1. With path compression
    3 rounds cover distance ~13, so a 40-hop chain cannot finish."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=3)


def test_components_deep_chain_log_rounds(spark):
    """Pointer-jumping compression: a 200-hop chain converges in O(log d)
    rounds (12 allowed here; plain propagation would need 200)."""
    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 long, id2 long"
    )
    comp = connected_components(edges, max_iter=12)[0].collect()
    assert len(comp) == n + 1
    assert {r["component"] for r in comp} == {0}


def test_components_shuffled_path_matches_broadcast_path(spark, edges):
    """r17: the loop broadcasts the labels side only when its exact node
    count fits the session's autoBroadcastJoinThreshold. Disabling
    auto-broadcast forces the big-graph (shuffled-join) path over the
    persisted, pre-partitioned edge cache — results must be identical to
    the default (broadcast) path."""
    default = {
        r["node"]: r["component"] for r in connected_components(edges)[0].collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        shuffled = {
            r["node"]: r["component"]
            for r in connected_components(edges)[0].collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert shuffled == default == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_persist_edges_path_matches(spark, edges, monkeypatch):
    """r17: the master picks the edge layout (persisted
    hash(b)-partitioned cache on a cluster, localCheckpoint on local[n]).
    The cluster layout must give identical results, with and without the
    labels broadcast (autoBroadcastJoinThreshold -1 forces the per-round
    shuffled join over the cached layout)."""
    expect = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    monkeypatch.setattr(components, "_persist_edges", lambda spark: True)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges)[0].collect()
        }
        assert got == expect
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges)[0].collect()
        }
        assert got == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)


def test_components_edge_cache_released(spark, edges, monkeypatch):
    """r17: on the cluster layout the symmetric edge list is persist()-ed
    for the loop (its partitioning must survive across rounds —
    localCheckpoint erases it) and must be unpersisted before return,
    on BOTH the success and the non-convergence paths: a leaked cache
    entry would accumulate across epochs/queries in a long-lived
    session."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    cm.clearCache()
    monkeypatch.setattr(components, "_persist_edges", lambda spark: True)
    connected_components(edges)[0].collect()
    assert cm.isEmpty(), "edge cache leaked on the success path"
    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(deep, max_iter=3)
    assert cm.isEmpty(), "edge cache leaked on the non-convergence path"

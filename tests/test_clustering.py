"""Connected components vs a union-find oracle."""

import random

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.clustering import connected_components


def _union_find_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical min id per component
    comp = {}
    for x in list(parent):
        root = find(x)
        comp.setdefault(root, set()).add(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def test_cc_matches_union_find(spark):
    rng = random.Random(7)
    nodes = [rng.randrange(-(2**40), 2**40) for _ in range(300)]
    edges = []
    # mixed topology: chains, stars, cliques-ish, singetons left out
    for i in range(0, 200, 10):
        chain = nodes[i : i + 10]
        edges += list(zip(chain, chain[1:]))
    hub = nodes[200]
    edges += [(hub, nodes[201 + i]) for i in range(30)]
    for i in range(240, 290, 5):
        grp = nodes[i : i + 5]
        edges += [(a, b) for a in grp for b in grp if a < b]
    rng.shuffle(edges)

    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r["node_id"]: r["component"]
        for r in connected_components(df).collect()
    }
    expected = _union_find_components(edges)
    assert got == expected


def test_cc_small_graph_path_runs_two_jobs(spark):
    """The driver-side finish runs two jobs: the checkpoint of the raw
    (u, v) longs, whose Observation also gives the edge count, and the
    collect of those edges.  Its result is a driver-built frame, so
    reading it runs none (an earlier version counted the edges in two more
    jobs and checkpointed the result in a fifth)."""
    edges = [(i, i + 1) for i in range(30)] + [(100, 101)]
    df = spark.createDataFrame(edges, "u long, v long")
    sc = spark.sparkContext
    sc.setJobGroup("cc-small", "cc-small")
    try:
        comp = connected_components(df)
        jobs = len(sc.statusTracker().getJobIdsForGroup("cc-small"))
        got = {r["node_id"]: r["component"] for r in comp.collect()}
        read_jobs = len(sc.statusTracker().getJobIdsForGroup("cc-small")) - jobs
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == _union_find_components(edges)
    assert (jobs, read_jobs) == (2, 0)


def test_cc_small_path_runs_no_python(spark, monkeypatch):
    """Under small_graph_threshold raw edges, union_find finishes on the
    driver over the collected edges: the per-partition contraction, CC's
    one Python operator, never runs, so no Python worker is started."""
    from berkeley_entity_spark.operators import clustering

    def no_python(edges):
        raise AssertionError("_contract_local ran on the small path")

    monkeypatch.setattr(clustering, "_contract_local", no_python)
    edges = [(i, i + 1) for i in range(30)] + [(100, 101), (7, 7), (101, 100)]
    df = spark.createDataFrame(edges, "u long, v long").repartition(3)
    got = {r["node_id"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find_components([e for e in edges if e[0] != e[1]])


def test_cc_converges_on_long_chain(spark):
    # pathological chain ordered against the grain: needs O(log n) rounds
    n = 200
    edges = [(i + 1, i) for i in range(n)]
    df = spark.createDataFrame(edges, "u long, v long")
    comp = connected_components(df, max_iterations=30)
    vals = comp.select(F.countDistinct("component")).collect()[0][0]
    assert vals == 1
    assert comp.count() == n + 1


def test_cc_raises_when_not_converged(spark):
    """The distributed loop must fail loudly, not return the partially
    merged components it holds after max_iterations rounds."""
    n = 200
    edges = [(i + 1, i) for i in range(n)]
    df = spark.createDataFrame(edges, "u long, v long").repartition(5)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1, small_graph_threshold=0)


def test_cc_distributed_loop_matches_driver_finish(spark):
    """The large/small-star loop (small_graph_threshold=0 forces it) and the
    hybrid driver-side union-find finish must produce identical mappings on
    the same mixed-topology graph, for several partitionings."""
    rng = random.Random(13)
    nodes = [rng.randrange(-(2**40), 2**40) for _ in range(150)]
    edges = []
    for i in range(0, 100, 10):
        chain = nodes[i : i + 10]
        edges += list(zip(chain, chain[1:]))
    hub = nodes[100]
    edges += [(hub, nodes[101 + i]) for i in range(20)]
    edges += [(nodes[130], nodes[131]), (nodes[131], nodes[130])]  # dupes
    rng.shuffle(edges)
    for n_parts in (1, 5):
        df = spark.createDataFrame(edges, "u long, v long").repartition(n_parts)
        via_loop = {
            r["node_id"]: r["component"]
            for r in connected_components(df, small_graph_threshold=0).collect()
        }
        via_driver = {
            r["node_id"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert via_loop == via_driver
        assert via_loop == _union_find_components(edges)


def test_cc_loop_sets_no_session_conf(spark, monkeypatch):
    """The distributed loop runs under the session's conf as it finds it: a
    query running concurrently on the same session must not see AQE or the
    shuffle width change under it, so no RuntimeConfig.set may happen."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    edges = [(i, i + 1) for i in range(30)] + [(100, 101)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r["node_id"]: r["component"]
        for r in connected_components(df, small_graph_threshold=0).collect()
    }
    assert got == _union_find_components(edges)
    assert calls == []


# ---------------------------------------------------------------- cohesion


def test_cluster_cohesion_density_and_chaining(spark):
    from berkeley_entity_spark.operators.clustering import cluster_cohesion

    # cluster 1: triangle (dense); cluster 2: 5-chain (chained);
    # cluster 3: pair; cluster 4: singleton (excluded);
    # cluster 5: two members, zero edges (left-join zero path)
    assign = spark.createDataFrame(
        [(f"a{i}", 1) for i in range(3)]
        + [(f"b{i}", 2) for i in range(5)]
        + [("c0", 3), ("c1", 3), ("d0", 4), ("e0", 5), ("e1", 5)],
        "doc_id string, cluster_id long",
    )
    edges = spark.createDataFrame(
        [("a0", "a1"), ("a0", "a2"), ("a1", "a2")]
        + [(f"b{i}", f"b{i+1}") for i in range(4)]
        + [("c0", "c1"), ("a0", "b0")],  # cross-cluster edge must be dropped
        "id_a string, id_b string",
    )
    got = {
        r["cluster_id"]: r for r in cluster_cohesion(assign, edges).collect()
    }
    assert 4 not in got  # singleton excluded
    assert got[1]["n_edges"] == 3 and got[1]["density"] == 1.0
    assert not got[1]["is_chained"]
    assert got[2]["n_edges"] == 4 and got[2]["density"] == 0.4
    assert got[2]["is_chained"]
    assert got[3]["n_edges"] == 1 and got[3]["density"] == 1.0
    assert not got[3]["is_chained"]
    assert got[5]["n_edges"] == 0 and got[5]["density"] == 0.0
    # n=2 is never flagged chained even at density 0
    assert not got[5]["is_chained"]


def test_cluster_cohesion_exact_half_density_not_chained(spark):
    from berkeley_entity_spark.operators.clustering import cluster_cohesion

    # 4-path: e=3, n(n-1)=12, 4e=12 -> density exactly 0.5, NOT chained
    assign = spark.createDataFrame(
        [(f"p{i}", 1) for i in range(4)], "doc_id string, cluster_id long"
    )
    edges = spark.createDataFrame(
        [("p0", "p1"), ("p1", "p2"), ("p2", "p3")], "id_a string, id_b string"
    )
    r = cluster_cohesion(assign, edges).collect()[0]
    assert r["density"] == 0.5 and not r["is_chained"]


# ------------------------------------------------------------------ repair


def _repair(spark, assign_rows, edge_rows):
    from berkeley_entity_spark.operators.clustering import (
        repair_chained_clusters,
    )

    assign = spark.createDataFrame(assign_rows, "doc_id long, cluster_id long")
    edges = spark.createDataFrame(
        edge_rows, "id_a long, id_b long, strong boolean"
    )
    return {
        r["doc_id"]: (r["cluster_id"], r["repaired"])
        for r in repair_chained_clusters(assign, edges).collect()
    }


def test_repair_splits_bridged_entities(spark):
    # two triangles {1,2,3} and {4,5,6} welded by one weak bridge 3-4:
    # density 7/15 < 0.5 and n=6 -> chained; strong re-closure splits
    assign = [(i, 1) for i in range(1, 7)]
    edges = (
        [(1, 2, True), (1, 3, True), (2, 3, True)]
        + [(4, 5, True), (4, 6, True), (5, 6, True)]
        + [(3, 4, False)]
    )
    got = _repair(spark, assign, edges)
    assert got[1] == got[2] == got[3] == (1, True)
    assert got[4] == got[5] == got[6] == (4, True)


def test_repair_leaves_healthy_clusters_untouched(spark):
    # dense cluster (triangle) is NOT flagged even with a weak edge inside
    assign = [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]
    edges = [(1, 2, True), (1, 3, False), (2, 3, True), (10, 11, False)]
    got = _repair(spark, assign, edges)
    assert got[1] == (1, False) and got[3] == (1, False)
    assert got[10] == (10, False) and got[11] == (10, False)


def test_repair_all_weak_chain_shatters_to_singletons(spark):
    # 5-chain of weak edges -> flagged -> no strong edges -> all singletons
    assign = [(i, 1) for i in range(1, 6)]
    edges = [(i, i + 1, False) for i in range(1, 5)]
    got = _repair(spark, assign, edges)
    assert got == {i: (i, True) for i in range(1, 6)}


def test_repair_strong_cross_cluster_edge_ignored(spark):
    # a strong edge BETWEEN two flagged clusters must not merge them:
    # re-closure is confined within each flagged cluster
    assign = [(i, 1) for i in range(1, 6)] + [(i, 11) for i in range(11, 16)]
    edges = (
        [(i, i + 1, False) for i in range(1, 5)]
        + [(i, i + 1, False) for i in range(11, 15)]
        + [(5, 11, True)]  # cross-cluster: different cluster ids -> dropped
    )
    got = _repair(spark, assign, edges)
    assert all(got[i] == (i, True) for i in list(range(1, 6)) + list(range(11, 16)))

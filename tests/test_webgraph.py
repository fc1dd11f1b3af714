from __future__ import annotations

import numpy as np
import pytest

from berkeley_entity_spark.operators.webgraph import domain_link_edges, pagerank


def _numpy_pagerank(nodes, edges, iterations=5, damping=0.85):
    """Dense replay of the operator's exact update rule (same formula,
    different engine) for hand-checkable graphs."""
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_w = np.zeros(n)
    for s, _, w in edges:
        out_w[idx[s]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for s, d, w in edges:
            contrib[idx[d]] += r[idx[s]] * w / out_w[idx[s]]
        dangling = r[out_w == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {v: r[idx[v]] for v in nodes}


@pytest.fixture()
def tiny_edges(spark):
    # a -> b (weight 2), a -> c (1), b -> c (3); c is DANGLING
    rows = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 3.0)]
    return rows, spark.createDataFrame(rows, "src string, dst string, w double")


def test_pagerank_matches_dense_replay(tiny_edges):
    rows, edges = tiny_edges
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=5, weight_col="w").collect()
    }
    want = _numpy_pagerank(["a", "b", "c"], rows, iterations=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_mass_conserved(tiny_edges):
    # teleport + dangling redistribution keep total mass at exactly 1
    _, edges = tiny_edges
    for iters in (1, 3, 7):
        ranks = [
            r["rank"] for r in pagerank(edges, iterations=iters, weight_col="w").collect()
        ]
        assert sum(ranks) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_weight_sensitivity(spark):
    # all of a's mass goes to b when the a->b weight dominates
    heavy = spark.createDataFrame(
        [("a", "b", 99.0), ("a", "c", 1.0), ("b", "a", 1.0), ("c", "a", 1.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["rank"] for r in pagerank(heavy, iterations=10, weight_col="w").collect()}
    assert got["b"] > got["c"] * 5


def test_pagerank_unweighted_default(spark):
    # weight_col=None counts each edge row once
    e = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    got = {r["node"]: r["rank"] for r in pagerank(e, iterations=4).collect()}
    assert got["a"] == pytest.approx(got["b"], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_domain_link_edges_aggregates_and_drops_self(spark):
    pages = spark.createDataFrame(
        [("x", "y"), ("x", "y"), ("x", "x"), ("y", "x")],
        "src_domain string, dst_domain string",
    )
    got = {
        (r["src"], r["dst"]): r["w"]
        for r in domain_link_edges(pages).collect()
    }
    assert got == {("x", "y"): 2, ("y", "x"): 1}


def _numpy_hits(nodes, edges, iterations=4):
    """Dense replay of webgraph.hits' exact update rule."""
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    h = np.ones(n)
    a = np.zeros(n)
    for _ in range(iterations):
        a = np.zeros(n)
        for s, d, w in edges:
            a[idx[d]] += w * h[idx[s]]
        a = a / np.sqrt((a * a).sum())
        h = np.zeros(n)
        for s, d, w in edges:
            h[idx[s]] += w * a[idx[d]]
        h = h / np.sqrt((h * h).sum())
    return (
        {v: h[idx[v]] for v in nodes},
        {v: a[idx[v]] for v in nodes},
    )


def test_hits_matches_dense_replay(tiny_edges):
    from berkeley_entity_spark.operators.webgraph import hits

    rows, edges = tiny_edges
    got = {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(edges, iterations=4).collect()
    }
    want_h, want_a = _numpy_hits(["a", "b", "c"], rows, iterations=4)
    assert set(got) == {"a", "b", "c"}
    for v in want_h:
        assert got[v][0] == pytest.approx(want_h[v], abs=1e-12)
        assert got[v][1] == pytest.approx(want_a[v], abs=1e-12)
    # structure: a is a pure hub (no in-edges -> authority 0), c a pure
    # authority (no out-edges -> hub 0)
    assert got["a"][1] == 0.0 and got["c"][0] == 0.0
    assert got["c"][1] > got["b"][1] > 0


def test_hits_l2_normalized(tiny_edges):
    from berkeley_entity_spark.operators.webgraph import hits

    _, edges = tiny_edges
    rows = hits(edges, iterations=3).collect()
    assert sum(r["hub"] ** 2 for r in rows) == pytest.approx(1.0, abs=1e-9)
    assert sum(r["authority"] ** 2 for r in rows) == pytest.approx(
        1.0, abs=1e-9
    )


def test_anchor_text_table_topk_and_ties(spark):
    from berkeley_entity_spark.operators.webgraph import anchor_text_table

    links = spark.createDataFrame(
        [("t1", "acme corp")] * 3
        + [("t1", "acme")] * 2
        + [("t1", "the acme company")] * 2  # ties 'acme' -> anchor asc
        + [("t1", "rare form")]
        + [("t2", "solo")],
        "dst string, anchor string",
    )
    got = [
        (r["dst"], r["rank"], r["anchor"], r["n"])
        for r in anchor_text_table(links)
        .orderBy("dst", "rank")
        .collect()
    ]
    assert got == [
        ("t1", 1, "acme corp", 3),
        ("t1", 2, "acme", 2),
        ("t1", 3, "the acme company", 2),
        ("t2", 1, "solo", 1),
    ]


def test_anchor_text_hot_target_is_exact(spark):
    """A hot target with thousands of distinct anchors ranks exactly as a
    single sort would, whatever the partitioning (the salted top-k)."""
    from collections import Counter

    from berkeley_entity_spark.operators.webgraph import anchor_text_table

    rows = [("hot", f"a{i:04d}") for i in range(3000) for _ in range(1 + i % 7)]
    rows += [("cold", "x"), ("cold", "y"), ("cold", "y")]
    counts = Counter(rows)
    want = []
    for dst in ("cold", "hot"):
        ranked = sorted(
            ((-n, anchor) for (d, anchor), n in counts.items() if d == dst)
        )[:3]
        want += [(dst, r, a, -n) for r, (n, a) in enumerate(ranked, 1)]
    links = spark.createDataFrame(rows, "dst string, anchor string")
    for df in (links, links.repartition(13)):
        got = [
            tuple(r)
            for r in anchor_text_table(df).orderBy("dst", "rank").collect()
        ]
        assert got == want

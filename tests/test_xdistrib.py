"""xdistrib component-embedding featurizer (ComponentFeaturizer +
CorefComputerDistrib analog): common-head gate, exact integer lattice,
dot-product symmetry, and the sparse+distrib score composition."""

from __future__ import annotations

from pyspark.sql import functions as F

from berkeley_entity_spark.operators.xdistrib import (
    DIM,
    SCALE,
    add_distrib_scores,
    component_features,
    distrib_pair_scores,
    mention_vectors,
)


def _mentions(spark):
    rows = [
        ("d", 0, "acme corp"),
        ("d", 1, "acme corp"),     # head 'corp' common (appears twice)
        ("d", 2, "zyzzyva"),       # head unique -> LEN backoff
    ]
    return spark.createDataFrame(rows, "url string, m_idx int, norm_name string")


def test_common_head_gate_and_backoff(spark):
    comps = {
        r["m_idx"]: list(r["comps"])
        for r in component_features(_mentions(spark)).collect()
    }
    assert comps[0][0] == "CHead=corp" and comps[1][0] == "CHead=corp"
    assert comps[2][0] == "CHead=LEN7"  # len('zyzzyva') = 7
    assert comps[0][1] == "CLen=2" and comps[2][1] == "CLen=1"


def test_vectors_are_exact_component_sums(spark):
    """A mention's vector must equal the integer sum of its components'
    lattice rows — identical components give identical vectors."""
    vecs = {
        r["m_idx"]: tuple(r[f"k{d}"] for d in range(DIM))
        for r in mention_vectors(component_features(_mentions(spark))).collect()
    }
    assert vecs[0] == vecs[1]  # same components -> same vector
    assert vecs[0] != vecs[2]
    assert all(isinstance(v, int) for v in vecs[0])
    # lattice bound: |component| <= 100, 2 components -> |k| <= 200
    assert all(abs(v) <= 200 for vec in vecs.values() for v in vec)


def test_dot_products_symmetric_and_window_bounded(spark):
    vecs = mention_vectors(component_features(_mentions(spark)))
    dots = {
        (r["m_idx"], r["j"]): r["dot_scaled"]
        for r in distrib_pair_scores(vecs).collect()
    }
    # identical vectors (0 and 1): dot(1,0) = ||v0||^2 > 0
    assert dots[(1, 0)] > 0
    # pairs only look BACK within the window: j < m_idx
    assert all(j < i for i, j in dots)
    # manual check: dot(2,1) = sum_d k2_d * k1_d
    v = {
        r["m_idx"]: [r[f"k{d}"] for d in range(DIM)]
        for r in vecs.collect()
    }
    assert dots[(2, 1)] == sum(a * b for a, b in zip(v[2], v[1]))


def test_add_distrib_scores_composition(spark):
    """computeScores semantics: score'(i,j) = sparse + dot_scaled/SCALE^2;
    pairs without a vector row keep the sparse score."""
    vecs = mention_vectors(component_features(_mentions(spark)))
    sparse = spark.createDataFrame(
        [("d", 1, 0, 1.5), ("d", 2, 0, -0.25), ("d", 9, 8, 3.0)],
        "url string, m_idx int, j int, score double",
    )
    got = {
        (r["m_idx"], r["j"]): r["score"]
        for r in add_distrib_scores(sparse, vecs).collect()
    }
    dots = {
        (r["m_idx"], r["j"]): r["dot_scaled"]
        for r in distrib_pair_scores(vecs).collect()
    }
    assert got[(1, 0)] == 1.5 + dots[(1, 0)] / SCALE**2
    assert got[(2, 0)] == -0.25 + dots[(2, 0)] / SCALE**2
    assert got[(9, 8)] == 3.0  # no vectors for these mentions -> unchanged

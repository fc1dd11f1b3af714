"""ANN operators vs a numpy oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.similarity import cosine_topk, lsh_bucket_topk

SF = "/root/testdata/sf0.001"
K = 3


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def numpy_topk(emb):
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    np.fill_diagonal(S, -np.inf)
    out = {}
    for i, qid in enumerate(ids):
        # sort by (-sim, id) for deterministic ties
        order = sorted(range(len(ids)), key=lambda j: (-S[i, j], ids[j]))[:K]
        out[int(qid)] = [int(ids[j]) for j in order]
    return out


def test_cosine_topk_matches_numpy(emb, numpy_topk):
    got = {}
    for r in cosine_topk(emb, k=K).collect():
        got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    assert len(got) == len(numpy_topk)
    mismatch = sum(
        1
        for q, neigh in numpy_topk.items()
        if [got[q][r] for r in sorted(got[q])] != neigh
    )
    # identical double arithmetic → exact match expected
    assert mismatch == 0


def test_lsh_topk_recall(emb, numpy_topk):
    got = {}
    for r in lsh_bucket_topk(emb, k=K).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for q, neigh in numpy_topk.items():
        total += 1
        if q in got and neigh[0] in got[q]:
            hits += 1
    # approximate path: top-1 recall must be reasonable
    assert hits / total >= 0.5, hits / total


def test_multi_table_signatures_match_per_table(emb):
    """The single-pass multi-table kernel must emit exactly the bucket set
    16 separate per-table signatures give (table t: seed 7 + 13t, plane j
    is bit j) — it is a scan-count optimization, not a semantic change."""
    from berkeley_entity_spark.operators.similarity import (
        hyperplane_signatures_multi,
    )

    n_planes, n_tables = 4, 16
    multi = {
        (r["vec_id"], r["bucket"])
        for r in hyperplane_signatures_multi(
            emb, n_planes=n_planes, n_tables=n_tables
        ).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    single = set()
    for t in range(n_tables):
        planes = np.random.RandomState(7 + 13 * t).standard_normal((64, n_planes))
        sigs = ((M @ planes) > 0) @ weights
        single |= {(int(v), f"{t}#{s}") for v, s in zip(pdf["vec_id"], sigs)}
    assert multi == single


def test_lsh_is_subsetless_join_not_crossjoin(emb):
    plan = lsh_bucket_topk(emb, k=K)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_cosine_threshold_pairs_matches_numpy(emb):
    from berkeley_entity_spark.operators.similarity import cosine_threshold_pairs

    thr = 0.35
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_threshold_pairs(emb, threshold=thr).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    M = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
    M /= np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    want = {
        (int(ids[i]), int(ids[j])): S[i, j]
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j] and S[i, j] >= thr
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9


def test_embedding_near_dup_finds_exact_duplicates(spark, emb):
    """Inject exact duplicate vectors (cosine=1): LSH top-k must recover
    every injected duplicate pair (same vector -> same bucket in every
    table, so recall on exact dups is structural, not probabilistic)."""
    dup = emb.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    both = emb.unionByName(dup)
    pairs = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(both, k=20)
        .where(F.col("cosine") >= 0.999)
        .collect()
    }
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    missing = [(i, i + 100000) for i in ids if (i, i + 100000) not in pairs]
    assert not missing, f"missed {len(missing)} exact-dup pairs, e.g. {missing[:3]}"


def test_ivf_topk_recall_and_uniqueness(emb, numpy_topk):
    """IVF: candidates are unique by construction (each neighbor in exactly
    one inverted list), output ranks contiguous from 1, and top-1 recall vs
    exact is reasonable for the probe budget."""
    from berkeley_entity_spark.operators.similarity import ivf_topk

    rows = ivf_topk(emb, k=K, n_probe=3).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], {})[r["rank"]] = r["neighbor_id"]
    # ranks contiguous, neighbors unique per query
    for q, by_rank in got.items():
        assert sorted(by_rank) == list(range(1, len(by_rank) + 1))
        assert len(set(by_rank.values())) == len(by_rank)
    hits = sum(
        1 for q, neigh in numpy_topk.items() if q in got and neigh[0] in set(got[q].values())
    )
    assert hits / len(numpy_topk) >= 0.5, hits / len(numpy_topk)


def test_ivf_assignment_matches_numpy_argmax(emb):
    """The kernel's (dot desc, cid asc) stable-argsort rule must equal a
    plain numpy argmax over the same anchor matrix (raw, unnormalized
    vectors — argmax is per-query scale-invariant)."""
    from berkeley_entity_spark.operators.similarity import (
        ivf_anchor_matrix,
        ivf_probe_assignments,
    )

    C = ivf_anchor_matrix(8, 64, seed=11)
    got = {
        r["vec_id"]: r["cid"]
        for r in ivf_probe_assignments(emb, C, n_probe=1).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf["embedding"].map(np.asarray).to_list()).astype(np.float64)
    want = (M @ C.T).argmax(axis=1)
    for vid, w in zip(pdf["vec_id"], want):
        assert got[int(vid)] == int(w)


def test_auto_n_planes_sizing():
    from berkeley_entity_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(10) == 1          # tiny corpus: one split
    assert auto_n_planes(500) == 4         # the gate corpus -> the default
    assert auto_n_planes(10**9) == 25 or auto_n_planes(10**9) == 24
    assert auto_n_planes(2**60) == 24      # clamp


def test_lsh_auto_matches_explicit(spark):
    from berkeley_entity_spark.operators.similarity import auto_n_planes

    rng = np.random.RandomState(3)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(100)]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    p = auto_n_planes(100)  # log2(100/32) -> 2
    assert p == 2
    a = sorted(map(tuple, lsh_bucket_topk(d, k=3, n_planes="auto").collect()))
    b = sorted(map(tuple, lsh_bucket_topk(d, k=3, n_planes=2).collect()))
    assert a == b and len(a) > 0


def test_lsh_max_bucket_caps_degenerate_class(spark):
    """200 identical vectors collapse into ONE bucket in every table at any
    plane count — the sizing rule can't help.  max_bucket keeps the
    self-join linear: only the first cap ids (by vec_id) participate."""
    v = [float(x) / 8.0 for x in range(64)]
    rows = [(i, v) for i in range(200)]
    d = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = lsh_bucket_topk(d, k=5, max_bucket=8).collect()
    ids = {r.query_id for r in out} | {r.neighbor_id for r in out}
    assert ids == set(range(8))  # vecs 8..199 capped out of every table
    # deterministic under repartitioning
    out2 = lsh_bucket_topk(d.repartition(13), k=5, max_bucket=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_lsh_max_bucket_nonbinding_is_identity(emb):
    """A cap larger than the corpus changes nothing — the gate query's
    max_bucket=512 documents the bound without altering recall."""
    a = sorted(map(tuple, lsh_bucket_topk(emb, k=K, max_bucket=512).collect()))
    b = sorted(map(tuple, lsh_bucket_topk(emb, k=K).collect()))
    assert a == b

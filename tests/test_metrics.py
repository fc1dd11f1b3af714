"""B-cubed + MUC vs hand-computed textbook values (Vilain 1995 / Bagga 1998)."""

import pytest

from berkeley_entity_spark.evaluate import coref_cluster_metrics


def frames(spark, pred_clusters, gold_clusters):
    pred = spark.createDataFrame(
        [(m, c) for c, ms in enumerate(pred_clusters) for m in ms],
        "mention_id string, cluster_id long",
    )
    gold = spark.createDataFrame(
        [(m, e) for e, ms in enumerate(gold_clusters) for m in ms],
        "mention_id string, entity_id long",
    )
    return pred, gold


def test_textbook_example(spark):
    # gold {a,b,c},{d}; pred {a,b},{c,d}
    pred, gold = frames(spark, [["a", "b"], ["c", "d"]], [["a", "b", "c"], ["d"]])
    m = coref_cluster_metrics(pred, gold).first()
    # B3: per-mention precisions (1, 1, 1/2, 1/2) -> 0.75
    #     per-mention recalls (2/3, 2/3, 1/3, 1) -> 2/3
    assert m["b3_precision"] == pytest.approx(0.75)
    assert m["b3_recall"] == pytest.approx(2 / 3)
    # MUC: P = ((2-1)+(2-2)) / ((2-1)+(2-1)) = 0.5
    #      R = ((3-2)+(1-1)) / ((3-1)+(1-1)) = 0.5
    assert m["muc_precision"] == pytest.approx(0.5)
    assert m["muc_recall"] == pytest.approx(0.5)
    assert m["muc_f1"] == pytest.approx(0.5)


def test_perfect_clustering(spark):
    pred, gold = frames(spark, [["a", "b"], ["c"]], [["a", "b"], ["c"]])
    m = coref_cluster_metrics(pred, gold).first()
    assert all(m[k] == pytest.approx(1.0) for k in ("b3_precision", "b3_recall", "b3_f1"))
    assert m["muc_precision"] == pytest.approx(1.0)
    assert m["muc_recall"] == pytest.approx(1.0)


def test_all_singletons(spark):
    pred, gold = frames(spark, [["a"], ["b"], ["c"]], [["a", "b", "c"]])
    m = coref_cluster_metrics(pred, gold).first()
    assert m["b3_precision"] == pytest.approx(1.0)
    assert m["b3_recall"] == pytest.approx(1 / 3)
    # no predicted links at all -> MUC precision denominator 0 -> 0.0
    assert m["muc_precision"] == 0.0
    assert m["muc_recall"] == 0.0


def test_pipeline_b3_meets_target(spark, tmp_path):
    """The round-1 F1>=0.99 target extends to B3/MUC on the synthetic corpus."""
    from berkeley_entity_spark.config import PipelineConfig, SynthConfig
    from berkeley_entity_spark.plans.checkpoint import CheckpointStore
    from berkeley_entity_spark.plans.pipeline import run_pipeline
    from berkeley_entity_spark.synth import generate_webpages, gold_with_ids

    pages, gold = generate_webpages(spark, SynthConfig(n_pages=400, n_entities=50))
    root = str(tmp_path / "ckpt")
    res = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=root),
        store=CheckpointStore(root), resume=False,
    )
    g = gold_with_ids(gold.where("lang = 'en'")).select("mention_id", "entity_id")
    m = coref_cluster_metrics(res.clusters, g).first()
    assert m["b3_f1"] >= 0.98, m
    assert m["muc_f1"] >= 0.98, m


def test_bootstrap_significance(spark):
    """M12 (BootstrapDriver.scala:104-141): clearly-better system -> frac_sig
    near 1; identical systems -> 0 (strict inequality, like the reference)."""
    import random

    from berkeley_entity_spark.evaluate import (
        bootstrap_significance,
        per_doc_pairwise_stats,
    )

    rng = random.Random(5)
    rows_good, rows_bad = [], []
    for d in range(60):
        url = f"u{d}"
        for e in range(3):
            for m in range(4):
                mid = d * 100 + e * 10 + m
                # system A (good): cluster == entity; system B (bad): ~35%
                # of mentions knocked into a wrong cluster
                good_c = e
                bad_c = (e + 1) % 3 if rng.random() < 0.35 else e
                rows_good.append((url, mid, good_c, e))
                rows_bad.append((url, mid, bad_c, e))
    schema = "url string, mention_id long, cluster_id long, entity_id long"
    stats_good = per_doc_pairwise_stats(spark.createDataFrame(rows_good, schema))
    stats_bad = per_doc_pairwise_stats(spark.createDataFrame(rows_bad, schema))

    r = bootstrap_significance(stats_bad, stats_good).collect()[0]
    assert r["f1_b"] > r["f1_a"]
    assert r["frac_sig"] >= 0.95, r  # good system significantly better
    r2 = bootstrap_significance(stats_good, stats_good).collect()[0]
    assert r2["frac_sig"] == 0.0  # strict inequality: ties never count
    # determinism across runs
    r3 = bootstrap_significance(stats_bad, stats_good).collect()[0]
    assert r3["frac_sig"] == r["frac_sig"]


# ----------------------------------------------------------------- CEAFe


def test_hungarian_matches_brute_force():
    import itertools

    import numpy as np

    from berkeley_entity_spark.ml.assignment import hungarian_max

    rng = np.random.RandomState(3)
    for _ in range(40):
        nr, nc = rng.randint(1, 6), rng.randint(1, 6)
        s = np.round(rng.rand(nr, nc) * 10, 3)
        got, pairs = hungarian_max(s)
        k = min(nr, nc)
        want = max(
            sum(s[r, c] for r, c in zip(rsel, perm))
            for rsel in itertools.combinations(range(nr), k)
            for perm in itertools.permutations(range(nc), k)
        )
        assert got == pytest.approx(want, abs=1e-9)
        assert len({r for r, _ in pairs}) == len(pairs)
        assert len({c for _, c in pairs}) == len(pairs)


def test_ceafe_identity_is_perfect(spark):
    from berkeley_entity_spark.evaluate import ceafe_metrics

    pred, gold = frames(spark, [["a", "b"], ["c"]], [["a", "b"], ["c"]])
    row = ceafe_metrics(pred, gold).collect()[0]
    assert row["ceafe_precision"] == pytest.approx(1.0)
    assert row["ceafe_recall"] == pytest.approx(1.0)
    assert row["ceafe_f1"] == pytest.approx(1.0)


def test_ceafe_textbook_example(spark):
    """Luo 2005 phi4 by hand: gold {1,2,3},{4,5}; pred {1,2,4},{3},{5}.
    phi = [[2/3, 2/5], [1/2, 0], [0, 2/3]]; optimal = C1-E1 + C3-E2 = 4/3;
    precision = (4/3)/3, recall = (4/3)/2."""
    from berkeley_entity_spark.evaluate import ceafe_metrics

    pred, gold = frames(
        spark, [["1", "2", "4"], ["3"], ["5"]], [["1", "2", "3"], ["4", "5"]]
    )
    row = ceafe_metrics(pred, gold).collect()[0]
    p, r = (4 / 3) / 3, (4 / 3) / 2
    assert row["ceafe_precision"] == pytest.approx(p)
    assert row["ceafe_recall"] == pytest.approx(r)
    assert row["ceafe_f1"] == pytest.approx(2 * p * r / (p + r))


def test_conll_f1_is_average_and_doc_scoped(spark):
    """conll_f1 = (MUC + B3 + CEAFe)/3, and doc-scoping must make two
    single-doc corpora equal one two-doc corpus with reused local ids."""
    from berkeley_entity_spark.evaluate import conll_metrics

    pred = spark.createDataFrame(
        [("a", "d1", 0), ("b", "d1", 0), ("c", "d1", 1),
         ("x", "d2", 0), ("y", "d2", 1)],
        "mention_id string, g string, cluster_id long",
    )
    gold = spark.createDataFrame(
        [("a", "d1", 0), ("b", "d1", 1), ("c", "d1", 1),
         ("x", "d2", 0), ("y", "d2", 1)],
        "mention_id string, g string, entity_id long",
    )
    row = conll_metrics(pred, gold).collect()[0]
    assert row["conll_f1"] == pytest.approx(
        (row["muc_f1"] + row["b3_f1"] + row["ceafe_f1"]) / 3
    )
    # reused local cluster id 0 in d2 must NOT merge with d1's cluster 0:
    # CEAFe counts 5 pred clusters total (3 in d1 after scoping? no — 2+2)
    # sanity: perfect d2, imperfect d1 -> ceafe strictly between 0 and 1
    assert 0.0 < row["ceafe_f1"] < 1.0


def test_ceafm_identity_and_textbook(spark):
    """Luo 2005 phi3 by hand on the same example as the CEAFe test:
    gold {1,2,3},{4,5}; pred {1,2,4},{3},{5}.  Cell counts =
    [[2,1],[1,0],[0,1]]; optimal mention alignment = C1-E1 (2) + C3-E2
    (1) = 3 of 5 mentions -> P = R = F1 = 3/5."""
    from berkeley_entity_spark.evaluate import ceafm_metrics

    pred, gold = frames(spark, [["a", "b"], ["c"]], [["a", "b"], ["c"]])
    row = ceafm_metrics(pred, gold).collect()[0]
    assert row["ceafm_precision"] == pytest.approx(1.0)
    assert row["ceafm_f1"] == pytest.approx(1.0)

    pred, gold = frames(
        spark, [["1", "2", "4"], ["3"], ["5"]], [["1", "2", "3"], ["4", "5"]]
    )
    row = ceafm_metrics(pred, gold).collect()[0]
    assert row["ceafm_precision"] == pytest.approx(3 / 5)
    assert row["ceafm_recall"] == pytest.approx(3 / 5)
    assert row["ceafm_f1"] == pytest.approx(3 / 5)


# ------------------------------------------------- clustering agreement


def _agreement_ref(pred_clusters, gold_clusters):
    """Independent pure-Python ARI + V-measure from the contingency table
    (math.comb / math.log, no shared code with the DataFrame impl)."""
    import math
    from collections import Counter

    p = {m: c for c, ms in enumerate(pred_clusters) for m in ms}
    g = {m: e for e, ms in enumerate(gold_clusters) for m in ms}
    keys = sorted(set(p) & set(g))
    n = len(keys)
    cells = Counter((p[m], g[m]) for m in keys)
    nc = Counter(p[m] for m in keys)
    ne = Counter(g[m] for m in keys)
    a = sum(math.comb(v, 2) for v in cells.values())
    r2 = sum(math.comb(v, 2) for v in nc.values())
    c2 = sum(math.comb(v, 2) for v in ne.values())
    npairs = math.comb(n, 2)
    exp = r2 * c2 / npairs
    mx = (r2 + c2) / 2
    ari = 1.0 if mx == exp else (a - exp) / (mx - exp)
    h_e = -sum(v / n * math.log(v / n) for v in ne.values())
    h_c = -sum(v / n * math.log(v / n) for v in nc.values())
    h_e_c = -sum(
        v / n * math.log(v / nc[ck]) for (ck, _), v in cells.items()
    )
    h_c_e = -sum(
        v / n * math.log(v / ne[ek]) for (_, ek), v in cells.items()
    )
    hom = 1.0 if h_e == 0 else 1 - h_e_c / h_e
    com = 1.0 if h_c == 0 else 1 - h_c_e / h_c
    v = 0.0 if hom + com == 0 else 2 * hom * com / (hom + com)
    return {"ari": ari, "homogeneity": hom, "completeness": com, "v_measure": v}


def _agreement(spark, pred_clusters, gold_clusters):
    from berkeley_entity_spark.evaluate import clustering_agreement

    pred, gold = frames(spark, pred_clusters, gold_clusters)
    row = clustering_agreement(pred, gold).collect()[0]
    return {k: float(row[k]) for k in row.asDict()}


def test_agreement_vs_independent_reference(spark):
    pred = [["a", "b"], ["c", "d"], ["e", "f", "g"]]
    gold = [["a", "b", "c"], ["d", "e"], ["f", "g"]]
    got = _agreement(spark, pred, gold)
    want = _agreement_ref(pred, gold)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-9), k


def test_agreement_identical_partitions(spark):
    pred = [["a", "b"], ["c"], ["d", "e", "f"]]
    got = _agreement(spark, pred, pred)
    assert all(got[k] == pytest.approx(1.0) for k in got)


def test_agreement_single_pred_cluster(spark):
    # everything in one predicted cluster: completeness 1, homogeneity 0
    got = _agreement(spark, [["a", "b", "c", "d"]], [["a", "b"], ["c", "d"]])
    assert got["completeness"] == pytest.approx(1.0)
    assert got["homogeneity"] == pytest.approx(0.0)
    assert got["v_measure"] == pytest.approx(0.0)
    assert got["ari"] == pytest.approx(0.0)  # adjusted: chance-level


def test_cluster_diff_statuses(spark):
    from berkeley_entity_spark.evaluate import cluster_diff

    # gold: E1={a,b,c,d}, E2={e,f}; pred: C1={a,b}, C2={c,d,e}, C3={f}
    pred, gold = frames(
        spark,
        [["a", "b"], ["c", "d", "e"], ["f"]],
        [["a", "b", "c", "d"], ["e", "f"]],
    )
    got = {r["cluster_id"]: r for r in cluster_diff(pred, gold).collect()}
    # C1: one entity (E1=0) but E1 spans C1+C2 -> split
    assert got[0]["status"] == "split" and got[0]["purity"] == 1.0
    assert got[0]["entity_n_clusters"] == 2
    # C2: two entities AND majority E1 spans 2 clusters -> merged+split
    assert got[1]["status"] == "merged+split"
    assert got[1]["majority_entity"] == 0 and abs(got[1]["purity"] - 2 / 3) < 1e-6
    # C3: one entity (E2=1) but E2 spans C2+C3 -> split
    assert got[2]["status"] == "split"


def test_cluster_diff_pure_and_merge_tiebreak(spark):
    from berkeley_entity_spark.evaluate import cluster_diff

    pred, gold = frames(
        spark, [["a", "b"], ["c", "d"]], [["a", "b"], ["c"], ["d"]]
    )
    got = {r["cluster_id"]: r for r in cluster_diff(pred, gold).collect()}
    assert got[0]["status"] == "pure" and got[0]["purity"] == 1.0
    # C2 holds entities 1 and 2, 1 member each -> tie, min entity id wins
    assert got[1]["status"] == "merged" and got[1]["majority_entity"] == 1
    assert got[1]["purity"] == 0.5


# ------------------------------------------------- one-sided mentions


def test_one_sided_mentions(spark):
    """Mentions that only one side has, across two docs.  pairwise F1
    counts pred pairs over every pred mention and gold pairs over every
    gold mention (tp over mentions on both sides); the aligned metrics
    ignore one-sided mentions.  Aligned cells (cluster, entity): {a,b} in
    (0,10), c (1,10), x (2,12), y (2,13), z (3,13)."""
    from berkeley_entity_spark.evaluate import (
        ceafm_metrics,
        clustering_agreement,
        cluster_diff,
        conll_metrics,
        coref_cluster_metrics,
        pairwise_f1_combinatorial,
    )

    pred = spark.createDataFrame(
        [("a", "d1", 0), ("b", "d1", 0), ("c", "d1", 1), ("p1", "d1", 1),
         ("p2", "d1", 0), ("x", "d2", 2), ("y", "d2", 2), ("z", "d2", 3),
         ("p3", "d2", 3), ("p4", "d2", 4), ("p5", "d2", 4)],
        "mention_id string, g string, cluster_id long",
    )
    gold = spark.createDataFrame(
        [("a", "d1", 10), ("b", "d1", 10), ("c", "d1", 10), ("g1", "d1", 11),
         ("g2", "d1", 10), ("x", "d2", 12), ("y", "d2", 13), ("z", "d2", 13),
         ("g3", "d2", 13), ("g4", "d2", 14), ("g5", "d2", 14)],
        "mention_id string, g string, entity_id long",
    )
    p, g = pred.drop("g"), gold.drop("g")

    # pred pairs 3+1+1+1+1 = 7, gold pairs 6+0+0+3+1 = 10, tp = {a,b} = 1
    pw = pairwise_f1_combinatorial(p, g)
    assert (pw["tp"], pw["pred"], pw["gold"]) == (1.0, 7.0, 10.0)
    assert pw["f1"] == pytest.approx(2 / 17)

    # B3 over the 6 aligned mentions; MUC = (N - cells) / (N - clusters)
    # and / (N - entities) = 1/2 and 1/3
    m = coref_cluster_metrics(p, g).collect()[0]
    assert m["b3_precision"] == pytest.approx(5 / 6)
    assert m["b3_recall"] == pytest.approx(11 / 18)
    assert m["b3_f1"] == pytest.approx(0.7051282051282051)
    assert m["muc_precision"] == pytest.approx(0.5)
    assert m["muc_recall"] == pytest.approx(1 / 3)
    assert m["muc_f1"] == pytest.approx(0.4)

    a = clustering_agreement(p, g).collect()[0]
    assert a["ari"] == pytest.approx(0.18918918918918917)
    assert a["homogeneity"] == pytest.approx(0.7715561736794712)
    assert a["completeness"] == pytest.approx(0.58688267143572)
    assert a["v_measure"] == pytest.approx(2 / 3)

    c = conll_metrics(pred, gold).collect()[0]
    assert c["muc_f1"] == pytest.approx(0.4)
    assert c["b3_f1"] == pytest.approx(0.7051282051282051)
    assert c["ceafe_precision"] == pytest.approx(0.5333333333333333)
    assert c["ceafe_recall"] == pytest.approx(0.7111111111111111)
    assert c["ceafe_f1"] == pytest.approx(0.6095238095238096)
    assert c["conll_f1"] == pytest.approx(0.5715506715506716)

    # d1 aligns 2 of 3 mentions, d2 2 of 3
    cm = ceafm_metrics(pred, gold, doc_col="g").collect()[0]
    assert cm["ceafm_precision"] == pytest.approx(2 / 3)
    assert cm["ceafm_f1"] == pytest.approx(2 / 3)

    # the pred-only cluster 4 has no aligned member, so no row
    got = sorted(tuple(r) for r in cluster_diff(p, g).collect())
    assert got == [
        (0, 2, 1, 10, 1.0, 2, "split"),
        (1, 1, 1, 10, 1.0, 2, "split"),
        (2, 2, 2, 12, 0.5, 1, "merged"),
        (3, 1, 1, 13, 1.0, 2, "split"),
    ]

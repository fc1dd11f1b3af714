from __future__ import annotations

import pytest

from berkeley_entity_spark.operators.linkage import (
    _round12,
    fs_comparison_vectors,
    fs_em_params,
    fs_gate_records,
    fs_link,
)


def _py_posterior(params: dict, gn: int, gt: int) -> float:
    pm = params["lam"] * params["m_n"][gn] * params["m_t"][gt]
    pu = (1.0 - params["lam"]) * params["u_n"][gn] * params["u_t"][gt]
    return pm / (pm + pu)


def test_em_separates_obvious_mixture():
    # strong-agreement patterns are rare + clustered; disagreement dominates
    pats = [(2, 1, 100), (1, 1, 80), (0, 1, 50), (0, 0, 5000)]
    params = fs_em_params(pats)
    assert _py_posterior(params, 2, 1) > 0.9
    assert _py_posterior(params, 0, 0) < 0.1
    # monotone in g_name at fixed g_tok
    assert (
        _py_posterior(params, 2, 1)
        >= _py_posterior(params, 1, 1)
        >= _py_posterior(params, 0, 1)
    )


def test_round12_is_half_up_not_bankers():
    assert _round12(2.5e-12) == 3e-12  # banker's would give 2e-12
    assert _round12(0.1234567890123456) == 0.123456789012


def test_em_handles_missing_levels():
    # no g_name=1 pattern at all: the clamp keeps m/u finite and in (0,1)
    params = fs_em_params([(2, 1, 10), (0, 0, 1000)])
    for k in ("m_n", "u_n", "m_t", "u_t"):
        for v in params[k]:
            assert 0.0 < v < 1.0


def test_gate_records_and_gammas(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha nu xi omicron pi rho"),
        ],
        "doc_id long, text string",
    )
    pairs = fs_comparison_vectors(fs_gate_records(docs)).collect()
    by_pair = {(r["id_a"], r["id_b"]): (r["g_name"], r["g_tok"]) for r in pairs}
    # base vs exact copy: identical 5-token names
    assert by_pair[(1, 100001)] == (2, 1)
    # base vs near copy: last token dropped -> lev band + jaccard 4/5
    assert by_pair[(1, 200001)] == (1, 1)
    # the two different docs share only the block token 'alpha'
    gn, gt = by_pair[(1, 2)]
    assert gn == 0 and gt == 0


def test_fs_link_matches_python_posterior(spark):
    docs = spark.createDataFrame(
        [
            (i, f"{w} mid{i} tail{i} quux{i} end{i} extra{i}")
            for i, w in enumerate(
                ["apple"] * 6 + ["berry"] * 5 + ["cherry"] * 4
            )
        ],
        "doc_id long, text string",
    )
    out = fs_link(docs).collect()
    assert out, "gate pipeline produced no pairs"
    pats = {}
    for r in out:
        pats[(r["g_name"], r["g_tok"])] = pats.get((r["g_name"], r["g_tok"]), 0) + 1
    params = fs_em_params([(gn, gt, c) for (gn, gt), c in pats.items()])
    for r in out:
        expect = _py_posterior(params, r["g_name"], r["g_tok"])
        assert abs(r["p_match"] - round(expect, 6)) < 1e-9
        assert r["is_match"] == (expect >= 0.5)


def test_true_pairs_classified_as_matches(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} a{i} b{i} c{i} d{i} e{i}") for i in range(40)],
        "doc_id long, text string",
    )
    rows = fs_link(docs).collect()
    gold = {(r["id_a"], r["id_b"]) for r in rows if r["id_b"] == r["id_a"] + 100000}
    assert gold
    matched = {
        (r["id_a"], r["id_b"])
        for r in rows
        if r["is_match"] and (r["id_a"], r["id_b"]) in gold
    }
    # every surviving exact-dup pair scores as a match
    assert matched == gold
    # and the noise pairs dominate yet mostly score below threshold
    noise = [r for r in rows if r["g_name"] == 0 and r["g_tok"] == 0]
    assert noise and all(not r["is_match"] for r in noise)


def test_tf_adjustment_downweights_hot_names(spark):
    from berkeley_entity_spark.operators.linkage import fs_link_tf

    # 12 docs share one hot 5-token name; 1 doc has a rare name.  All get
    # exact +100000 copies, so both name values produce g_name=2 pairs.
    hot = "smith john common name here filler"
    rare = "xanthippe quarry obelisk meridian paradox filler"
    docs = spark.createDataFrame(
        [(i, hot) for i in range(12)] + [(99, rare)],
        ["doc_id", "text"],
    )
    rows = fs_link_tf(docs).collect()
    by_pair = {(r["id_a"], r["id_b"]): r for r in rows}
    hot_pair = by_pair[(0, 100000)]
    rare_pair = by_pair[(99, 100099)]
    assert hot_pair["g_name"] == 2 and rare_pair["g_name"] == 2
    # same unadjusted posterior (same gamma pattern) ...
    assert hot_pair["p_match"] == rare_pair["p_match"]
    # ... but the rare name is stronger evidence after the tf adjustment
    assert rare_pair["p_match_tf"] > hot_pair["p_match_tf"]
    # non-exact pairs are untouched by the adjustment
    for r in rows:
        if r["g_name"] != 2:
            assert r["p_match_tf"] == r["p_match"]


def test_hot_block_stays_capped(spark):
    # 500 docs all sharing the block token: pair volume must be bounded by
    # C(max_block, 2), not C(1500, 2)
    docs = spark.createDataFrame(
        [(i, f"hotword a{i} b{i} c{i} d{i} e{i}") for i in range(500)],
        ["doc_id", "text"],
    )
    n = fs_comparison_vectors(fs_gate_records(docs)).count()
    assert 0 < n <= 48 * 47 // 2


def test_standardize_person_names_rules(spark):
    from berkeley_entity_spark.operators.linkage import (
        standardize_person_names,
    )

    rows = [
        ("Dr. John A. Smith Jr.",),
        ("Smith, John",),
        ("MR JOHN SMITH",),
        ("  mary   jane   garcia  ",),
        ("Garcia, Mary b, III",),
        ("prof dr wei chen phd md",),  # two leading + two trailing drops
        ("Cher",),  # single token: first NULL, last = token
        ("sir",),  # honorific alone survives (never emptied)
    ]
    df = spark.createDataFrame(rows, "name string")
    got = {
        r["name"]: (
            r["name_std"], r["name_first"], r["name_middle"], r["name_last"]
        )
        for r in standardize_person_names(df).collect()
    }
    assert got["Dr. John A. Smith Jr."] == ("john a smith", "john", "a", "smith")
    assert got["Smith, John"] == ("john smith", "john", None, "smith")
    assert got["MR JOHN SMITH"] == ("john smith", "john", None, "smith")
    assert got["  mary   jane   garcia  "] == (
        "mary jane garcia", "mary", "jane", "garcia",
    )
    assert got["Garcia, Mary b, III"] == ("mary b garcia", "mary", "b", "garcia")
    # suffix-only name survives the guarded filter

    assert got["prof dr wei chen phd md"] == ("wei chen", "wei", None, "chen")
    assert got["Cher"] == ("cher", None, None, "cher")
    assert got["sir"] == ("sir", None, None, "sir")


def test_standardize_unifies_variants_to_one_key(spark):
    from berkeley_entity_spark.operators.linkage import (
        standardize_person_names,
    )

    variants = [
        ("Dr. John Smith",), ("Smith, John",), ("JOHN SMITH",),
        ("john smith phd",), (" john  smith ",),
    ]
    df = spark.createDataFrame(variants, "name string")
    keys = {
        r["name_std"] for r in standardize_person_names(df).collect()
    }
    assert keys == {"john smith"}


# ------------------------------------------------------ review queue

def _scored(spark, rows):
    return spark.createDataFrame(
        rows, "id_a long, id_b long, g_name int, g_tok int, p_match double, is_match boolean"
    )


def test_review_queue_caps_hot_band(spark):
    from berkeley_entity_spark.operators.linkage import review_queue

    # 500 pairs all at the same posterior (one gamma pattern covering
    # half a corpus — the hot-band case): the queue must stay at
    # per_band rows, deterministically chosen
    rows = [(i, i + 100000, 2, 1, 0.43, False) for i in range(500)]
    rows += [(i, i + 100000, 0, 0, 0.97, True) for i in range(1000, 1003)]
    out = review_queue(_scored(spark, rows), per_band=10).collect()
    by_band = {}
    for r in out:
        by_band.setdefault(r["band"], []).append(r)
    assert len(by_band[4]) == 10          # hot band capped
    assert len(by_band[9]) == 3           # small band kept whole
    assert [r["rn"] for r in sorted(by_band[4], key=lambda r: r["rn"])] == list(range(1, 11))
    assert all(r["decision"] == "review" for r in by_band[4])
    assert all(r["decision"] == "link" for r in by_band[9])


def test_review_queue_partition_invariant(spark):
    from berkeley_entity_spark.operators.linkage import review_queue

    rows = [
        (i, i + 7, (i % 3), (i % 2), round(0.05 + (i % 19) * 0.05, 2), False)
        for i in range(300)
    ]
    d = _scored(spark, rows)
    a = sorted(map(tuple, review_queue(d, per_band=5).collect()))
    b = sorted(map(tuple, review_queue(d.repartition(11, "id_b"), per_band=5).collect()))
    assert a == b
    assert len(a) > 0


def test_review_queue_three_way_decision_boundaries(spark):
    from berkeley_entity_spark.operators.linkage import review_queue

    rows = [
        (1, 2, 0, 0, 0.19, False),   # nonlink (strict <0.2)
        (3, 4, 0, 0, 0.20, False),   # review (inclusive lower)
        (5, 6, 1, 1, 0.79, False),   # review
        (7, 8, 2, 1, 0.80, True),    # link (inclusive upper)
    ]
    out = {(r["id_a"]): r["decision"] for r in review_queue(_scored(spark, rows)).collect()}
    assert out == {1: "nonlink", 3: "review", 5: "review", 7: "link"}


def test_expected_f1_hand_computed(spark):
    from berkeley_entity_spark.operators.linkage import fs_expected_f1

    # two posterior levels: 2 pairs at 0.9, 3 pairs at 0.1
    rows = [(1, 2, 2, 1, 0.9, True), (3, 4, 2, 1, 0.9, True),
            (5, 6, 0, 0, 0.1, False), (7, 8, 0, 0, 0.1, False),
            (9, 10, 0, 0, 0.1, False)]
    out = {r["threshold"]: r for r in fs_expected_f1(_scored(spark, rows)).collect()}
    # M = 2*0.9 + 3*0.1 = 2.1
    # at t=0.9: E[TP]=1.8, E[FP]=0.2, E[FN]=0.3, P=0.9, R=1.8/2.1
    hi = out[0.9]
    assert abs(hi["exp_tp"] - 1.8) < 1e-9
    assert abs(hi["exp_fp"] - 0.2) < 1e-9
    assert abs(hi["exp_fn"] - 0.3) < 1e-9
    assert abs(hi["exp_precision"] - 0.9) < 1e-9
    assert abs(hi["exp_recall"] - round(1.8 / 2.1, 6)) < 1e-6
    # at t=0.1 everything is linked: E[TP]=M, recall 1
    lo = out[0.1]
    assert abs(lo["exp_tp"] - 2.1) < 1e-9
    assert abs(lo["exp_recall"] - 1.0) < 1e-9
    # exactly one best row, and it carries the max exp_f1
    best = [r for r in out.values() if r["best"]]
    assert len(best) == 1
    assert best[0]["exp_f1"] == max(r["exp_f1"] for r in out.values())


def test_calibration_perfect_and_miscalibrated(spark):
    from berkeley_entity_spark.operators.linkage import calibration_report

    # perfectly calibrated at one bin: 10 pairs at p=0.8, 8 of them gold
    rows = [(i, i + 1000, 2, 1, 0.8, True) for i in range(10)]
    gold = spark.createDataFrame(
        [(i, i + 1000) for i in range(8)], "id_a long, id_b long"
    )
    out = calibration_report(_scored(spark, rows), gold).collect()
    assert len(out) == 1
    r = out[0]
    assert r["band"] == 8 and r["n_pairs"] == 10
    assert abs(r["mean_p"] - 0.8) < 1e-9 and abs(r["frac_pos"] - 0.8) < 1e-9
    assert r["gap"] == 0.0 and r["ece"] == 0.0
    # Brier: 8 positives at gap 0.2, 2 negatives at gap 0.8
    assert abs(r["brier"] - (8 * 0.04 + 2 * 0.64) / 10) < 1e-6
    # miscalibrated: same predictions, zero gold
    empty_gold = spark.createDataFrame([], "id_a long, id_b long")
    r2 = calibration_report(_scored(spark, rows), empty_gold).collect()[0]
    assert abs(r2["frac_pos"]) < 1e-9 and abs(r2["gap"] - 0.8) < 1e-9
    assert abs(r2["ece"] - 0.8) < 1e-9


def test_dup_estimate_shape_and_bounds(spark):
    from berkeley_entity_spark.operators.linkage import (
        dup_estimate_capture_recapture,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    r = dup_estimate_capture_recapture(docs).collect()[0]
    # both passes surface pairs; overlap is bounded by each list
    assert r["n_pass1"] > 0 and r["n_pass2"] > 0
    assert 0 <= r["overlap"] <= min(r["n_pass1"], r["n_pass2"])
    # Chapman estimate is >= the larger single list minus rounding
    assert r["chapman_est"] >= max(r["n_pass1"], r["n_pass2"]) - 1
    assert r["n_gold"] > 0


def test_match_weights_report_discriminates(spark):
    from berkeley_entity_spark.operators.linkage import match_weights_report

    docs = spark.createDataFrame(
        [(i, f"w{i % 7} a{i} b{i} c{i} d{i} e{i}") for i in range(40)],
        "doc_id long, text string",
    )
    rows = {(r["comparison"], r["gamma_level"]): r
            for r in match_weights_report(docs).collect()}
    assert set(rows) == {("prior", -1), ("name", 0), ("name", 1),
                         ("name", 2), ("tok", 0), ("tok", 1)}
    # exact-name agreement is evidence FOR a match, disagreement AGAINST
    assert rows[("name", 2)]["log2_weight"] > 0
    assert rows[("name", 0)]["log2_weight"] < 0
    # bayes factor tracks m/u (report columns are 6-digit-rounded views
    # of the 12-digit params the factor is computed from -> relative cmp)
    r = rows[("name", 2)]
    assert abs(r["bayes_factor"] - r["m"] / r["u"]) / r["bayes_factor"] < 1e-5
    # prior row carries lam and 1-lam
    pr = rows[("prior", -1)]
    assert abs(pr["m"] + pr["u"] - 1.0) < 1e-9


def test_blocking_cascade_monotone_and_bounded(spark):
    from pyspark.sql import functions as F

    from berkeley_entity_spark.operators.linkage import blocking_cascade_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    elig = docs.where(F.size(toks) >= 5).select("doc_id")
    gold = (
        elig.select(F.col("doc_id").alias("id_a"),
                    (F.col("doc_id") + 100000).alias("id_b"))
        .unionByName(elig.select(F.col("doc_id").alias("id_a"),
                                 (F.col("doc_id") + 200000).alias("id_b")))
        .unionByName(elig.select((F.col("doc_id") + 100000).alias("id_a"),
                                 (F.col("doc_id") + 200000).alias("id_b")))
    )
    out = sorted(blocking_cascade_report(docs, gold).collect(),
                 key=lambda r: r["pass_id"])
    assert [r["pass"] for r in out] == [
        "first_token", "sorted_neighborhood", "phonetic"]
    # cumulative volume and recall are monotone non-decreasing
    for prev, cur in zip(out, out[1:]):
        assert cur["cum_pairs"] >= prev["cum_pairs"]
        assert cur["recall_cum"] >= prev["recall_cum"]
    # novelty is bounded by pass volume; cum accounting is consistent
    for r in out:
        assert 0 <= r["n_new"] <= r["n_pairs"]
    assert out[0]["n_new"] == out[0]["n_pairs"] == out[0]["cum_pairs"]
    assert out[-1]["cum_pairs"] == sum(r["n_new"] for r in out)
    # the first-token pass alone already finds most derived gold dups
    assert out[0]["recall_cum"] > 0.5


def test_one_to_one_greedy_matching_semantics(spark):
    from berkeley_entity_spark.operators.linkage import one_to_one_matches

    # chain a-b-c-d with the strongest edge in the middle: greedy takes
    # bc and leaves a,d unmatched (their only edges touch matched nodes)
    rows = [(1, 2, 0, 0, 0.9, True), (2, 3, 0, 0, 0.95, True),
            (3, 4, 0, 0, 0.9, True)]
    got = [(r["id_a"], r["id_b"], r["match_round"])
           for r in one_to_one_matches(_scored(spark, rows)).collect()]
    assert got == [(2, 3, 1)]
    # two disjoint edges both match in round 1
    rows = [(1, 2, 0, 0, 0.9, True), (3, 4, 0, 0, 0.8, True)]
    got = sorted((r["id_a"], r["id_b"], r["match_round"])
                 for r in one_to_one_matches(_scored(spark, rows)).collect())
    assert got == [(1, 2, 1), (3, 4, 1)]
    # second-round pickup: path a-b-c-d-e, weights make bc win round 1,
    # then de becomes locally dominant in round 2
    rows = [(1, 2, 0, 0, 0.7, True), (2, 3, 0, 0, 0.95, True),
            (3, 4, 0, 0, 0.9, True), (4, 5, 0, 0, 0.8, True)]
    got = sorted((r["id_a"], r["id_b"], r["match_round"])
                 for r in one_to_one_matches(_scored(spark, rows)).collect())
    assert got == [(2, 3, 1), (4, 5, 2)]
    # ties resolved deterministically by (id_a, id_b): star 1-{2,3} at
    # equal weight matches (1,2)
    rows = [(1, 2, 0, 0, 0.9, True), (1, 3, 0, 0, 0.9, True)]
    got = [(r["id_a"], r["id_b"]) for r in
           one_to_one_matches(_scored(spark, rows)).collect()]
    assert got == [(1, 2)]
    # min_score filter drops sub-threshold edges entirely
    rows = [(1, 2, 0, 0, 0.4, False)]
    assert one_to_one_matches(_scored(spark, rows)).count() == 0


def test_one_to_one_raises_on_a_partial_matching(spark):
    """A strictly increasing 40-edge chain matches one edge per round from
    its heavy end (the matched pair removes its neighbour edge too), so it
    needs 20 rounds: past the 16-round cap the partial matching raises
    instead of being returned."""
    from berkeley_entity_spark.operators.linkage import one_to_one_matches

    rows = [(k, k + 1, 0, 0, 0.5 + k / 100, True) for k in range(1, 41)]
    with pytest.raises(RuntimeError, match="residual edges"):
        one_to_one_matches(_scored(spark, rows))


def test_one_to_one_each_node_at_most_once(spark):
    from berkeley_entity_spark.operators.linkage import (
        fs_link,
        one_to_one_matches,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = one_to_one_matches(fs_link(docs)).collect()
    assert out
    nodes = [r["id_a"] for r in out] + [r["id_b"] for r in out]
    assert len(nodes) == len(set(nodes))
    # partition invariance: same matching regardless of input layout
    scored = fs_link(docs)
    a = sorted((r["id_a"], r["id_b"]) for r in out)
    b = sorted(
        (r["id_a"], r["id_b"])
        for r in one_to_one_matches(scored.repartition(13, "id_b")).collect()
    )
    assert a == b


def test_block_size_profile_hand_computed(spark):
    from berkeley_entity_spark.operators.linkage import block_size_profile

    # 3 eligible docs sharing the block token 'hot' -> 9 gate records in
    # one first-token block (base+exact+near all start with 'hot')
    docs = spark.createDataFrame(
        [(i, f"hot a{i} b{i} c{i} d{i}") for i in range(3)],
        "doc_id long, text string",
    )
    rows = {r["key_type"]: r for r in block_size_profile(docs).collect()}
    ft = rows["first_token"]
    assert ft["n_keys"] == 1 and ft["n_records"] == 9
    assert ft["max_block_size"] == 9 and ft["top_share"] == 1.0
    assert ft["est_pairs_uncapped"] == 9 * 8 // 2
    # cap 48 > 9 so capped == uncapped here; with cap 2 it drops to 1
    assert ft["est_pairs_capped"] == ft["est_pairs_uncapped"]
    capped = {
        r["key_type"]: r
        for r in block_size_profile(docs, max_block=2).collect()
    }
    assert capped["first_token"]["est_pairs_capped"] == 1
    # soundex: all records key to the same H3xx code -> same shape
    sx = rows["soundex"]
    assert sx["n_keys"] == 1 and sx["n_records"] == 9

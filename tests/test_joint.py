"""M8 joint coref+typing+linking: BP engine exactness, degenerate
equivalence with the independent decisions, the joint "flip", and
partitioning-invariant determinism."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.ml.bp import FactorGraph
from berkeley_entity_spark.operators.joint import (
    TYPE_DOMAIN,
    default_type_lexicons,
    joint_entity_decode,
    surface_link_candidates,
    type_unary,
)


# ------------------------------------------------------------- BP engine


def test_bp_exact_on_trees_binary_and_ternary():
    rng = np.random.RandomState(7)
    for _ in range(15):
        g = FactorGraph()
        a, b, c = g.add_node(3), g.add_node(2), g.add_node(4)
        g.add_factor([a], rng.randn(3))
        g.add_factor([b], rng.randn(2))
        g.add_factor([c], rng.randn(4))
        g.add_factor([a, b], rng.randn(3, 2))
        g.add_factor([b, c], rng.randn(2, 4))
        for got, want in zip(g.marginals(10), g.brute_force_marginals()):
            assert np.allclose(got, want, atol=1e-9)
    for _ in range(15):
        g = FactorGraph()
        x, y, z = g.add_node(4), g.add_node(3), g.add_node(3)
        for n, s in ((x, 4), (y, 3), (z, 3)):
            g.add_factor([n], rng.randn(s))
        g.add_factor([z, x, y], rng.randn(3, 4, 3))  # permuted node order
        for got, want in zip(g.marginals(10), g.brute_force_marginals()):
            assert np.allclose(got, want, atol=1e-9)


def test_bp_loopy_close_to_exact_on_small_loop():
    """On a small cycle BP is approximate but must land near the truth
    with mild potentials (sanity that loops don't diverge)."""
    rng = np.random.RandomState(3)
    g = FactorGraph()
    ns = [g.add_node(2) for _ in range(3)]
    for n in ns:
        g.add_factor([n], rng.randn(2) * 0.5)
    for i in range(3):
        g.add_factor([ns[i], ns[(i + 1) % 3]], rng.randn(2, 2) * 0.5)
    for got, want in zip(g.marginals(30), g.brute_force_marginals()):
        assert np.allclose(got, want, atol=0.05)


def test_bp_deterministic():
    def build():
        g = FactorGraph()
        a, b = g.add_node(5), g.add_node(4)
        g.add_factor([a], np.arange(5, dtype=float))
        g.add_factor([a, b], np.outer(np.arange(5), np.arange(4)) * 0.1)
        return g

    m1, m2 = build().marginals(6), build().marginals(6)
    assert all(np.array_equal(x, y) for x, y in zip(m1, m2))


# ------------------------------------------------ fixtures for the operator


@pytest.fixture(scope="module")
def doc_mentions(spark):
    """Two tiny docs: d1 has a person repeated + an org; d2 one loc."""
    rows = [
        # url, sent_idx, start, end, norm_name, is_acr
        ("d1", 0, 0, 2, "alice meridian", False),
        ("d1", 0, 8, 10, "vortex corporation", False),
        ("d1", 1, 0, 2, "alice meridian", False),
        ("d2", 0, 3, 4, "atlanta", False),
    ]
    return spark.createDataFrame(
        rows, "url string, sent_idx int, start int, end int, norm_name string, is_acr boolean"
    )


@pytest.fixture(scope="module")
def link_votes(spark):
    rows = [
        ("alice meridian", "alice_meridian_(ceo)", 30),
        ("alice meridian", "alice_meridian_(artist)", 10),
        ("vortex corporation", "vortex_corporation", 50),
        ("atlanta", "atlanta", 40),
        ("atlanta", "atlanta_(film)", 39),
    ]
    return spark.createDataFrame(rows, "surface string, title string, votes bigint")


def _decode_map(df):
    return {
        (r["url"], r["m_idx"]): (r["antecedent"], r["etype"], r["link"])
        for r in df.collect()
    }


# ------------------------------------------------------- degenerate == indep


def test_degenerate_equals_independent_argmaxes(spark, doc_mentions, link_votes):
    """With every interaction weight 0 the factor graph is a forest of
    unaries — BP decode must equal the three independent argmaxes
    EXACTLY (coref: threshold decode vs the pairwise scorer; type:
    lexicon argmax; link: vote argmax with ties to lexicographically
    smaller title)."""
    from berkeley_entity_spark.operators.features import featurize_pair, levenshtein_ratio
    from berkeley_entity_spark.operators.scoring import load_default_weights

    cands = surface_link_candidates(link_votes)
    got = _decode_map(
        joint_entity_decode(
            doc_mentions, cands, gamma_type=0.0, gamma_link=0.0,
            delta_title_type=0.0,
        )
    )
    persons, orgs, locs = default_type_lexicons()
    w = load_default_weights()

    # d1 mention order: (0) alice, (1) vortex corporation, (2) alice
    def pair_score(a, b):
        return float(
            np.dot(w, featurize_pair(a, b, {}, False, False, lev=levenshtein_ratio(a, b)))
        )

    # mention 2 = "alice meridian": antecedent argmax over {0, 1}
    s0 = pair_score("alice meridian", "alice meridian")
    s1 = pair_score("alice meridian", "vortex corporation")
    best = max([(s0, 0), (s1, 1)])
    want_ant = best[1] if best[0] > 0 else -1
    assert got[("d1", 2)][0] == want_ant
    assert got[("d1", 0)][0] == -1  # first mention has no antecedents

    # types: lexicon argmax (ties to first in TYPE_DOMAIN order)
    for url, m_idx, name in [("d1", 0, "alice meridian"), ("d1", 1, "vortex corporation"), ("d2", 0, "atlanta")]:
        want_t = TYPE_DOMAIN[int(np.argmax(type_unary(name.split(" "), persons, orgs, locs)))]
        assert got[(url, m_idx)][1] == want_t

    # links: vote argmax beats NIL (votes > nil_votes=1)
    assert got[("d1", 0)][2] == "alice_meridian_(ceo)"
    assert got[("d1", 1)][2] == "vortex_corporation"
    assert got[("d2", 0)][2] == "atlanta"


def test_no_candidates_decodes_nil_link(spark, doc_mentions):
    got = _decode_map(joint_entity_decode(doc_mentions, None))
    assert all(v[2] is None for v in got.values())


# ------------------------------------------------------------- joint flips


def test_type_agreement_flips_ambiguous_mention(spark):
    """'smith holdings' decodes ORG by lexicon (ORG before PER on the
    tie); bare 'smith' decodes PER (it's a surname).  With gamma_type=0
    the two decode to different types; with a strong type-agreement
    factor and a coref edge between them, the pair's types must come to
    agree — the exact behavior the joint model exists for
    (JointDocFactorGraphOnto.scala:178-236)."""
    m_df = spark.createDataFrame(
        [
            ("d", 0, 0, 2, "smith holdings", False),
            ("d", 0, 5, 6, "smith", False),
        ],
        "url string, sent_idx int, start int, end int, norm_name string, is_acr boolean",
    )
    persons, orgs, locs = default_type_lexicons()
    assert "smith" in persons and "holdings" in orgs

    indep = _decode_map(
        joint_entity_decode(m_df, None, gamma_type=0.0, gamma_link=0.0, delta_title_type=0.0)
    )
    # sanity: they disagree independently, and the pair has a coref edge
    assert indep[("d", 0)][1] == "ORG"
    assert indep[("d", 1)][1] == "PER"
    joint = _decode_map(
        joint_entity_decode(m_df, None, gamma_type=6.0, gamma_link=0.0, delta_title_type=0.0)
    )
    assert joint[("d", 1)][0] == 0, "coref edge must link smith -> smith holdings"
    assert joint[("d", 1)][1] == joint[("d", 0)][1], (
        "strong type agreement must make the linked pair's types agree"
    )


def test_link_agreement_propagates_disambiguation(spark):
    """Two mentions of the same surface whose vote table is ambiguous:
    the first mention's context (a title-type factor) disambiguates it;
    gamma_link propagates the choice to the second mention through the
    coref edge."""
    spark_ = spark
    m_df = spark_.createDataFrame(
        [
            ("d", 0, 0, 1, "atlanta", False),
            ("d", 1, 0, 1, "atlanta", False),
        ],
        "url string, sent_idx int, start int, end int, norm_name string, is_acr boolean",
    )
    votes = spark_.createDataFrame(
        [("atlanta", "atlanta_(city)", 10), ("atlanta", "atlanta_(film)", 10)],
        "surface string, title string, votes bigint",
    )
    # force candidate types: city=LOC, film=MISC
    ttype = F.when(F.col("title") == "atlanta_(city)", "LOC").otherwise("MISC")
    cands = surface_link_candidates(votes, title_type_expr=ttype)
    # delta ties link to type; "atlanta" is LOC by lexicon, so the city
    # should win on BOTH mentions once the joint factors are on
    got = _decode_map(
        joint_entity_decode(m_df, cands, gamma_type=2.0, gamma_link=4.0, delta_title_type=3.0)
    )
    assert got[("d", 0)][2] == "atlanta_(city)"
    assert got[("d", 1)][2] == "atlanta_(city)"
    assert got[("d", 0)][1] == got[("d", 1)][1] == "LOC"


# -------------------------------------------------------------- determinism


def test_partitioning_invariant(spark, doc_mentions, link_votes):
    cands = surface_link_candidates(link_votes)
    a = sorted(
        joint_entity_decode(doc_mentions.repartition(1), cands).collect()
    )
    b = sorted(
        joint_entity_decode(doc_mentions.repartition(13), cands).collect()
    )
    assert a == b
    assert len(a) == 4


def test_corpus_smoke_and_cap(spark):
    """Run the full joint decode over a synthetic corpus slice: every
    mention decodes, m_idx contiguous per doc, antecedents in-range."""
    from berkeley_entity_spark.operators.extract import extract_mentions
    from berkeley_entity_spark.synth import SynthConfig, generate_webpages

    pages, _ = generate_webpages(spark, SynthConfig(n_pages=40))
    mentions = extract_mentions(pages)
    out = joint_entity_decode(mentions, None, max_mentions=10).collect()
    assert len(out) == mentions.count()
    by_url = {}
    for r in out:
        by_url.setdefault(r["url"], []).append(r)
    for url, rows in by_url.items():
        idxs = sorted(r["m_idx"] for r in rows)
        assert idxs == list(range(len(rows)))
        for r in rows:
            assert r["antecedent"] == -1 or 0 <= r["antecedent"] < r["m_idx"]
            assert r["etype"] in TYPE_DOMAIN


def test_joint_pair_margins_are_wide(spark):
    """q_joint_pair's cross-engine safety claim, verified empirically: on
    the sf0.001 corpus restriction (first two mentions per >=2-mention
    doc), every decode decision either sits on an EXACT-equal-input tie
    (bit-consistent in both engines, same index tie-break) or has a
    relative margin far above float noise."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from berkeley_entity_spark.operators.extract import extract_mentions
    from berkeley_entity_spark.operators.features import (
        featurize_pair,
        levenshtein_ratio,
    )
    from berkeley_entity_spark.operators.scoring import weights_vector

    gamma, bias, prune = 1.5, entrymod.ORACLE_ER_THRESHOLD, -4.0
    w = weights_vector(entrymod.ORACLE_ER_WEIGHTS)
    persons, orgs, locs = default_type_lexicons()
    m = extract_mentions(
        entrymod._cap_docs(spark, "/root/testdata/sf0.001"),
        appositive_subspans=True,
    )
    pdf = m.select("url", "sent_idx", "start", "end", "norm_name", "is_acr").toPandas()
    pdf = pdf.sort_values(["url", "sent_idx", "start", "end", "norm_name"])
    min_ant, min_type = np.inf, np.inf
    n_docs = 0
    for url, g in pdf.groupby("url"):
        if len(g) < 2:
            continue
        n_docs += 1
        r0, r1 = g.iloc[0], g.iloc[1]
        s = float(
            np.dot(
                w,
                featurize_pair(
                    r1["norm_name"], r0["norm_name"], {},
                    bool(r1["is_acr"]), bool(r0["is_acr"]),
                    lev=levenshtein_ratio(r1["norm_name"], r0["norm_name"]),
                ),
            )
        )
        tu0 = type_unary(r0["norm_name"].split(" "), persons, orgs, locs)
        tu1 = type_unary(r1["norm_name"].split(" "), persons, orgs, locs)
        e0, e1 = np.exp(tu0), np.exp(tu1)
        S0, S1 = e0.sum(), e1.sum()
        if s >= prune:
            zg = S0 * S1 + (np.exp(gamma) - 1.0) * (e0 * e1).sum()
            min_ant = min(min_ant, abs(s + np.log(zg) - bias - np.log(S0 * S1)))
            m1 = e1 * (np.exp(bias) * S0 + np.exp(s) * (S0 + (np.exp(gamma) - 1) * e0))
            m0 = e0 * (np.exp(bias) * S1 + np.exp(s) * (S1 + (np.exp(gamma) - 1) * e1))
        else:
            min_ant = min(min_ant, abs(s - prune))
            m1, m0 = e1.copy(), e0.copy()
        for mm, ua, ub in ((m1, tu1, tu0), (m0, tu0, tu1)):
            top = np.max(mm)
            for k in range(4):
                if mm[k] == top:
                    continue
                # exact-equal-input tie classes are excluded: they are
                # bit-consistent; anything else must have a wide margin
                kt = int(np.argmax(mm))
                if ua[k] == ua[kt] and ub[k] == ub[kt]:
                    continue
                min_type = min(min_type, (top - mm[k]) / top)
    assert n_docs >= 100
    assert min_ant > 1e-6, min_ant
    assert min_type > 1e-6, min_type


# ------------------------------------------------------ latent query layer


def test_latent_query_flips_ambiguous_link(spark):
    """VERDICT r3 item 5 — the Q_i layer (JointDocFactorGraphOnto.scala:
    135-175): 'acme corp' has a weak full-surface candidate but its first
    token 'acme' is itself a heavily-voted surface; without the query
    layer the link is the full-surface title, with it the stronger query
    variant wins and the link flips."""
    from berkeley_entity_spark.operators.joint import surface_query_candidates

    m_df = spark.createDataFrame(
        [("d", 0, 0, 1, "acme corp", False)],
        "url string, sent_idx int, start int, end int, norm_name string, is_acr boolean",
    )
    votes = spark.createDataFrame(
        [
            ("acme corp", "acme_corp", 2),
            ("acme", "acme_products", 50),
        ],
        "surface string, title string, votes bigint",
    )
    plain = _decode_map(
        joint_entity_decode(m_df, surface_link_candidates(votes))
    )
    assert plain[("d", 0)][2] == "acme_corp"
    out = joint_entity_decode(
        m_df, query_candidates=surface_query_candidates(votes)
    )
    got = {(r["url"], r["m_idx"]): (r["link"], r["query"]) for r in out.collect()}
    assert got[("d", 0)] == ("acme_products", "acme")


def test_latent_query_joint_agreement_flips_link(spark):
    """The gated link-agreement factor must act THROUGH the query layer:
    alone, ambiguous 'acme' prefers acme_products (more votes); a coref
    edge to 'acme corporation' (whose only candidate is acme_corporation)
    plus a strong gamma_link pulls it to acme_corporation."""
    from berkeley_entity_spark.operators.joint import surface_query_candidates

    m_df = spark.createDataFrame(
        [
            ("d", 0, 0, 2, "acme corporation", False),
            ("d", 0, 5, 6, "acme", False),
        ],
        "url string, sent_idx int, start int, end int, norm_name string, is_acr boolean",
    )
    votes = spark.createDataFrame(
        [
            ("acme corporation", "acme_corporation", 10),
            ("acme", "acme_products", 12),
            ("acme", "acme_corporation", 10),
        ],
        "surface string, title string, votes bigint",
    )
    qc = surface_query_candidates(votes)
    alone = joint_entity_decode(
        m_df, query_candidates=qc, gamma_link=0.0, gamma_type=0.0,
        delta_title_type=0.0,
    )
    am = {(r["url"], r["m_idx"]): r["link"] for r in alone.collect()}
    assert am[("d", 1)] == "acme_products"
    joint = joint_entity_decode(
        m_df, query_candidates=qc, gamma_link=8.0, gamma_type=0.0,
        delta_title_type=0.0,
    )
    jm = {(r["url"], r["m_idx"]): (r["antecedent"], r["link"]) for r in joint.collect()}
    assert jm[("d", 1)][0] == 0, "coref edge must exist for the gate to fire"
    assert jm[("d", 1)][1] == "acme_corporation"
    assert jm[("d", 0)][1] == "acme_corporation"

"""NER operators: reference-ported shape/class functions, exact Viterbi."""

import itertools

import numpy as np

from berkeley_entity_spark.operators.ner import (
    LABELS,
    class_for,
    emission_scores,
    ner_tag_pages,
    prefix_for,
    shape_for,
    suffix_for,
    transition_matrix,
    viterbi_bio,
)


def test_shape_for_reference_cases():
    # hand-traced through NerFeaturizer.scala:171-187 semantics
    assert shape_for("Obama") == "Xxxe"
    assert shape_for("IBM") == "XXe"
    assert shape_for("ab") == "xx"
    assert shape_for("aaa") == "xxe"
    assert shape_for("aaaa") == "xxe"  # further repeats dropped
    assert shape_for("1234") == "dde"
    assert shape_for("A1-B2") == "Xd-Xd"
    assert shape_for("") == ""


def test_class_for_reference_cases():
    assert class_for("Obama") == "-INITC"
    assert class_for("DOW") == "-CAPS"
    assert class_for("cats") == "-LC-s"
    assert class_for("running") == "-LC-ing"
    assert class_for("80s") == "-LC-NUM-s"
    assert class_for("X-ray") == "-INITC-DASH"
    assert class_for("bus") == "-LC"  # -us guard
    assert class_for("mess") == "-LC"  # -ss guard


def test_affixes():
    assert prefix_for("corporation") == "corp"
    assert suffix_for("corporation") == "tion"
    assert prefix_for("ab") == "ab" and suffix_for("ab") == "ab"


def _brute_force(E, T):
    n, k = E.shape
    best, best_score = None, -np.inf
    illegal_start = {j for j, lb in enumerate(LABELS) if lb.startswith("I-")}
    for path in itertools.product(range(k), repeat=n):
        if path[0] in illegal_start:
            continue
        s = E[0, path[0]]
        ok = True
        for i in range(1, n):
            t = T[path[i - 1], path[i]]
            if t <= -1e8:
                ok = False
                break
            s += t + E[i, path[i]]
        if ok and s > best_score + 1e-12:
            best, best_score = path, s
    return [LABELS[j] for j in best]


def test_viterbi_exact_vs_brute_force():
    rng = np.random.RandomState(3)
    T = transition_matrix()
    for _ in range(25):
        n = rng.randint(1, 5)
        E = rng.standard_normal((n, len(LABELS))) * 2
        got = viterbi_bio(E, T)
        want = _brute_force(E, T)
        gs = _score(got, E, T)
        ws = _score(want, E, T)
        assert abs(gs - ws) < 1e-9, (got, want)


def _score(labels, E, T):
    idx = [LABELS.index(lb) for lb in labels]
    s = E[0, idx[0]]
    for i in range(1, len(idx)):
        s += T[idx[i - 1], idx[i]] + E[i, idx[i]]
    return s


def test_emissions_use_dictionaries():
    E = emission_scores(["said", "Alice", "Smith"], frozenset({"alice", "smith"}), frozenset())
    labels = viterbi_bio(E, transition_matrix())
    assert labels[0] == "O"
    assert labels[1] == "B-PER" and labels[2] == "I-PER"


def test_ner_tag_pages_bio_legality(spark):
    from berkeley_entity_spark.config import SynthConfig
    from berkeley_entity_spark.synth import generate_webpages

    pages, _ = generate_webpages(spark, SynthConfig(n_pages=40, n_entities=20))
    tags = ner_tag_pages(pages.where("lang = 'en'")).collect()
    assert any(r["label"] == "B-PER" for r in tags)
    assert any(r["label"] == "B-ORG" for r in tags)
    # BIO legality over the emitted sequence
    by_sent = {}
    for r in tags:
        by_sent.setdefault((r["url"], r["sent_idx"]), []).append(
            (r["tok_idx"], r["label"])
        )
    for seq in by_sent.values():
        seq.sort()
        prev = "O"
        for _, lab in seq:
            if lab.startswith("I-"):
                t = lab[2:]
                assert prev in (f"B-{t}", f"I-{t}"), (prev, lab)
            prev = lab


# ---------------------------------------------------- M9 training half (CRF)
def test_forward_backward_matches_brute_force():
    """logZ and node marginals vs explicit enumeration on a tiny chain."""
    import itertools

    import numpy as np

    from berkeley_entity_spark.ml.crf import forward_backward
    from berkeley_entity_spark.operators.ner import LABELS, transition_matrix

    rng = np.random.RandomState(3)
    n, k = 4, len(LABELS)
    E = rng.standard_normal((n, k))
    T = transition_matrix()
    log_z, marg = forward_backward(E, T)
    # brute force over all legal paths (I-* banned at position 0 like the DP)
    scores = {}
    for path in itertools.product(range(k), repeat=n):
        if LABELS[path[0]].startswith("I-"):
            continue
        s = E[0, path[0]]
        ok = True
        for i in range(1, n):
            t = T[path[i - 1], path[i]]
            if t <= -1e8:
                ok = False
                break
            s += t + E[i, path[i]]
        if ok:
            scores[path] = s
    vals = np.array(list(scores.values()))
    bz = np.log(np.exp(vals - vals.max()).sum()) + vals.max()
    assert abs(log_z - bz) < 1e-8
    bm = np.zeros((n, k))
    for path, s in scores.items():
        p = np.exp(s - bz)
        for i, j in enumerate(path):
            bm[i, j] += p
    assert np.abs(marg - bm).max() < 1e-8
    assert np.abs(marg.sum(axis=1) - 1.0).max() < 1e-10


def test_crf_gradient_check():
    """Analytic CRF gradient vs finite differences (M13 pattern)."""
    import numpy as np

    from berkeley_entity_spark.ml.crf import forward_backward
    from berkeley_entity_spark.operators.ner import LABELS, transition_matrix

    rng = np.random.RandomState(1)
    feats = [["a", "bias"], ["b", "bias"], ["a", "c", "bias"]]
    gold = ["B-PER", "I-PER", "O"]
    fi = {"a": 0, "b": 1, "c": 2, "bias": 3}
    k, d = len(LABELS), len(fi)
    W = rng.standard_normal((k, d)) * 0.3
    T = transition_matrix()
    lidx = {lb: j for j, lb in enumerate(LABELS)}
    rows = [np.array([fi[f] for f in fl]) for fl in feats]

    def loglik(Wm):
        E = np.array([Wm[:, r].sum(axis=1) for r in rows])
        log_z, _ = forward_backward(E, T)
        s = sum(E[i, lidx[g]] for i, g in enumerate(gold))
        s += sum(T[lidx[gold[i - 1]], lidx[gold[i]]] for i in range(1, len(gold)))
        return s - log_z

    E = np.array([W[:, r].sum(axis=1) for r in rows])
    _, marg = forward_backward(E, T)
    grad = np.zeros((k, d))
    for i, r in enumerate(rows):
        grad[lidx[gold[i]], r] += 1.0
        grad[:, r] -= marg[i][:, None]
    eps = 1e-6
    for _ in range(10):
        a, b = rng.randint(k), rng.randint(d)
        Wp, Wm_ = W.copy(), W.copy()
        Wp[a, b] += eps
        Wm_[a, b] -= eps
        num = (loglik(Wp) - loglik(Wm_)) / (2 * eps)
        assert abs(num - grad[a, b]) < 1e-4, (a, b, num, grad[a, b])


def test_loc_tagging_handset_and_trained():
    from berkeley_entity_spark.ml.crf import emission_matrix, token_features
    from berkeley_entity_spark.operators.ner import (
        LOC_GAZETTEER,
        emission_scores,
        load_default_ner_weights,
        transition_matrix,
        viterbi_bio,
    )
    from berkeley_entity_spark.synth import FIRST, LAST

    persons = frozenset(w.lower() for w in FIRST + LAST)
    toks = "Officials said Alice Smith moved to Paris today".split(" ")
    T = transition_matrix()
    hand = viterbi_bio(emission_scores(toks, persons, frozenset()), T)
    assert hand[toks.index("Paris")] == "B-LOC"
    crf = load_default_ner_weights()
    assert crf is not None, "artifact missing — run tools/train_ner_weights.py"
    fi, W = crf
    got = viterbi_bio(
        emission_matrix(token_features(toks, persons, frozenset(), LOC_GAZETTEER), fi, W), T
    )
    assert got[toks.index("Paris")] == "B-LOC"
    assert got[toks.index("Alice")] == "B-PER"
    assert got[toks.index("Smith")] == "I-PER"
    assert got[0] == "O" and got[1] == "O"


def test_trained_beats_handset_on_gold():
    """Token accuracy of the trained CRF >= hand-set emissions on held-out
    synth gold BIO (the M9 'Done =' criterion)."""
    import os
    import sys

    sys_path_hack = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if sys_path_hack not in sys.path:
        sys.path.insert(0, sys_path_hack)
    from tools.train_ner_weights import (
        ORGS,
        PERSONS,
        gold_bio_sequences,
        tag_accuracy,
    )

    from berkeley_entity_spark.config import SynthConfig
    from berkeley_entity_spark.ml.crf import emission_matrix, token_features
    from berkeley_entity_spark.operators.ner import (
        LOC_GAZETTEER,
        emission_scores,
        load_default_ner_weights,
        transition_matrix,
        viterbi_bio,
    )

    seqs = gold_bio_sequences(120, SynthConfig(n_pages=120, n_entities=40))
    fi, W = load_default_ner_weights()
    T = transition_matrix()
    acc_t = tag_accuracy(
        seqs,
        lambda toks: viterbi_bio(
            emission_matrix(token_features(toks, PERSONS, ORGS, LOC_GAZETTEER), fi, W), T
        ),
    )
    acc_h = tag_accuracy(
        seqs, lambda toks: viterbi_bio(emission_scores(toks, PERSONS, ORGS), T)
    )
    assert acc_t >= 0.97, acc_t
    assert acc_t >= acc_h - 1e-9, (acc_t, acc_h)

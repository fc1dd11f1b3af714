"""Train the default NER CRF emission weights (M9 training half).

Training data: gold BIO tags derived from the seed-7 synthetic corpus's
gold mention spans (PER/ORG kinds from entity_canonical), plus
deterministic LOC template sentences over the public gazetteer (the synth
corpus itself contains no locations).  Evaluation: token accuracy on the
HELD-OUT seed-42 corpus + held-out gazetteer slice, trained vs hand-set
emissions.  Writes berkeley_entity_spark/ml/ner_weights.npz.

Usage: python tools/train_ner_weights.py [n_pages]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from berkeley_entity_spark.config import SynthConfig  # noqa: E402
from berkeley_entity_spark.ml.crf import (  # noqa: E402
    emission_matrix,
    token_features,
    train_crf_emissions,
)
from berkeley_entity_spark.operators.ner import (  # noqa: E402
    LOC_GAZETTEER,
    emission_scores,
    transition_matrix,
    viterbi_bio,
)
from berkeley_entity_spark.preprocess.sentence import split_sentences  # noqa: E402
from berkeley_entity_spark.synth import (  # noqa: E402
    FIRST,
    LAST,
    ORG_SUF,
    ORG_W1,
    ORG_W2,
    entity_canonical,
    make_page,
)

OUT = os.path.join(ROOT, "berkeley_entity_spark", "ml", "ner_weights.npz")
PERSONS = frozenset(w.lower() for w in FIRST + LAST)
ORGS = frozenset(w.lower() for w in ORG_W1 + ORG_W2 + ORG_SUF)

LOC_TEMPLATES = [
    "Analysts said the firm expanded offices in {loc} today",
    "Reports from {loc} noted steady growth this week",
    "Meanwhile trading in {loc} and {loc2} slowed again",
]


def gold_bio_sequences(n_pages: int, cfg: SynthConfig) -> list[tuple[list[str], list[str]]]:
    """[(tokens, labels)] per sentence, from synth gold spans."""
    out = []
    for i in range(n_pages):
        page, gold = make_page(i, cfg)
        if page["lang"] != "en":
            continue
        sents = split_sentences([page["text"]])
        spans: dict[int, list[tuple[int, int, str]]] = {}
        for g in gold:
            kind = entity_canonical(int(g["entity_id"]), cfg.n_entities)[1]
            tag = "PER" if kind == "person" else "ORG"
            spans.setdefault(g["sent_idx"], []).append((g["start"], g["end"], tag))
        for s_idx, sent in enumerate(sents):
            toks = [t for t in sent.split(" ") if t]
            if not toks:
                continue
            labels = ["O"] * len(toks)
            for start, end, tag in spans.get(s_idx, []):
                for j in range(start, min(end, len(toks))):
                    labels[j] = ("B-" if j == start else "I-") + tag
            out.append((toks, labels))
    return out


def loc_sequences(gazetteer: list[str]) -> list[tuple[list[str], list[str]]]:
    out = []
    for i, loc in enumerate(gazetteer):
        loc2 = gazetteer[(i + 7) % len(gazetteer)]
        for tmpl in LOC_TEMPLATES:
            sent = tmpl.format(loc=loc.capitalize(), loc2=loc2.capitalize())
            toks = sent.split(" ")
            labels = [
                "B-LOC" if t.lower() in (loc, loc2) else "O" for t in toks
            ]
            out.append((toks, labels))
    return out


def tag_accuracy(seqs, tagger) -> float:
    ok = total = 0
    for toks, gold in seqs:
        got = tagger(toks)
        ok += sum(1 for a, b in zip(got, gold) if a == b)
        total += len(gold)
    return ok / max(total, 1)


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 600
    gaz = sorted(LOC_GAZETTEER)
    train_gaz, test_gaz = gaz[: len(gaz) * 3 // 4], gaz[len(gaz) * 3 // 4 :]
    train_seqs = gold_bio_sequences(
        n_pages, SynthConfig(n_pages=n_pages, n_entities=80, seed=7)
    ) + loc_sequences(train_gaz)
    test_seqs = gold_bio_sequences(
        300, SynthConfig(n_pages=300, n_entities=60)
    ) + loc_sequences(test_gaz)

    featurized = [
        (token_features(toks, PERSONS, ORGS, LOC_GAZETTEER), labels)
        for toks, labels in train_seqs
    ]
    feat_index, W = train_crf_emissions(featurized)
    print(f"trained on {len(train_seqs)} sequences, {len(feat_index)} features")

    T = transition_matrix()

    def trained_tagger(toks):
        E = emission_matrix(
            token_features(toks, PERSONS, ORGS, LOC_GAZETTEER), feat_index, W
        )
        return viterbi_bio(E, T)

    def handset_tagger(toks):
        return viterbi_bio(emission_scores(toks, PERSONS, ORGS), T)

    acc_t = tag_accuracy(test_seqs, trained_tagger)
    acc_h = tag_accuracy(test_seqs, handset_tagger)
    print(f"held-out token accuracy: trained {acc_t:.4f} hand-set {acc_h:.4f}")
    feats = [f for f, _ in sorted(feat_index.items(), key=lambda kv: kv[1])]
    np.savez(OUT, W=W, features_json=json.dumps(feats))
    print(f"saved {OUT}")
    assert acc_t >= 0.97, acc_t
    assert acc_t >= acc_h - 1e-9, (acc_t, acc_h)


if __name__ == "__main__":
    main()

"""Linear-chain CRF training for NER emissions (SURVEY.md M9 training half).

The reference trains its NER CRF with forward-backward marginals inside
AdaGrad (ner/NerSystemLabeled.scala:48-124: computeLogLikelihood /
computeMarginals feed the gradient).  This module reproduces that shape:

  * log-space forward-backward over the BIO label chain with the same
    legal-transition mask used at decode time (I-X only after B-X/I-X);
  * emission potentials are LINEAR in a sparse feature vector per token —
    the ported NerFeaturizer features (shape/class/prefix/suffix,
    NerFeaturizer.scala:167-245) plus dictionary-membership flags;
  * gradient = empirical feature counts - expected counts under the model
    (the standard CRF gradient the reference accumulates), AdaGrad + L2.

Transitions stay the fixed legality mask (the reference also hard-codes
illegal transitions to -inf and learns only a residual; the continuation
bonus plays that role here and is NOT trained — emissions dominate).

Everything is plain numpy on the driver over a bounded training sample —
the same honest single-node choice as ml/train.py (SURVEY A3); inference
stays fully distributed in operators/ner.py.
"""

from __future__ import annotations

import numpy as np

from berkeley_entity_spark.operators.ner import (
    LABELS,
    NEG,
    class_for,
    prefix_for,
    shape_for,
    suffix_for,
    transition_matrix,
)


def token_features(
    tokens: list[str],
    persons: frozenset[str],
    orgs: frozenset[str],
    locs: frozenset[str],
) -> list[list[str]]:
    """Named sparse features per token (NerFeaturizer.scala:167-245 surface
    features + the S4-style dictionary flags)."""
    out = []
    for i, tok in enumerate(tokens):
        low = tok.lower().rstrip(".")
        feats = [
            "shape=" + shape_for(tok),
            "class=" + class_for(tok),
            "pref=" + prefix_for(low),
            "suf=" + suffix_for(low),
        ]
        if i == 0:
            feats.append("pos0")
        if low in persons:
            feats.append("dict_per")
        if low in orgs:
            feats.append("dict_org")
        if low in locs:
            feats.append("dict_loc")
        feats.append("bias")
        out.append(feats)
    return out


def _logsumexp(a: np.ndarray, axis: int) -> np.ndarray:
    m = np.max(a, axis=axis, keepdims=True)
    m = np.where(np.isfinite(m), m, 0.0)
    return (m + np.log(np.sum(np.exp(a - m), axis=axis, keepdims=True))).squeeze(axis)


def forward_backward(E: np.ndarray, T: np.ndarray):
    """Log-space alpha/beta; returns (logZ, node_marginals[n,k]).

    Position 0 masks I-* states exactly like viterbi_bio does."""
    n, k = E.shape
    istates = [j for j, lb in enumerate(LABELS) if lb.startswith("I-")]
    alpha = np.full((n, k), NEG)
    alpha[0] = E[0]
    alpha[0, istates] = NEG
    for i in range(1, n):
        alpha[i] = E[i] + _logsumexp(alpha[i - 1][:, None] + T, axis=0)
    beta = np.zeros((n, k))
    for i in range(n - 2, -1, -1):
        beta[i] = _logsumexp(T + (E[i + 1] + beta[i + 1])[None, :], axis=1)
    log_z = _logsumexp(alpha[-1], axis=0)
    marg = np.exp(alpha + beta - log_z)
    return float(log_z), marg


def train_crf_emissions(
    sequences: list[tuple[list[list[str]], list[str]]],
) -> tuple[dict[str, int], np.ndarray]:
    """sequences: [(token_features_per_token, gold_labels_per_token)].

    Returns (feature_index, weights[k_labels, n_features]).  AdaGrad over
    the exact CRF gradient (empirical - expected counts) per sequence —
    the reference's training loop shape (NerSystemLabeled.scala:48-124):
    8 epochs in seed-0 shuffled order, eta 0.5, L2 1e-3."""
    feat_index: dict[str, int] = {}
    for feats, _ in sequences:
        for fl in feats:
            for f in fl:
                feat_index.setdefault(f, len(feat_index))
    k = len(LABELS)
    d = len(feat_index)
    W = np.zeros((k, d))
    G2 = np.full((k, d), 1e-8)
    T = transition_matrix()
    label_idx = {lb: j for j, lb in enumerate(LABELS)}
    rng = np.random.RandomState(0)
    order = np.arange(len(sequences))
    for _ in range(8):
        rng.shuffle(order)
        for si in order:
            feats, gold = sequences[si]
            n = len(feats)
            rows = [np.array([feat_index[f] for f in fl], dtype=np.int64) for fl in feats]
            E = np.zeros((n, k))
            for i, r in enumerate(rows):
                E[i] = W[:, r].sum(axis=1)
            _, marg = forward_backward(E, T)
            grad = np.zeros((k, d))
            for i, r in enumerate(rows):
                gj = label_idx[gold[i]]
                grad[gj, r] += 1.0
                grad[:, r] -= marg[i][:, None]
            grad -= 1e-3 * W
            G2 += grad * grad
            W += 0.5 * grad / np.sqrt(G2)
    return feat_index, W


def emission_matrix(
    feats_per_token: list[list[str]],
    feat_index: dict[str, int],
    W: np.ndarray,
) -> np.ndarray:
    """(n, k) emissions for decoding; unseen features are skipped (zero)."""
    n = len(feats_per_token)
    E = np.zeros((n, W.shape[0]))
    for i, fl in enumerate(feats_per_token):
        idx = [feat_index[f] for f in fl if f in feat_index]
        if idx:
            E[i] = W[:, idx].sum(axis=1)
    return E

"""NER tagging operators (SURVEY.md §2.2 P5/P6, §2.8 M9 decode half).

Faithful ports of the reference's pure string-feature functions:
  * shape_for  — NerFeaturizer.scala:171-187 `shapeFor`: X/x/d collapse with
    the reference's quirky run-length encoding (a third repeated symbol
    becomes 'e', further repeats are dropped).
  * class_for  — NerFeaturizer.scala:189-245 `classFor`: INITC/CAPS/LC,
    NUM/DASH flags, -s guard against -ess/-us/-is, suffix classes.
  * prefix_for / suffix_for — NerFeaturizer.scala:167-169 (4-char affixes).

Decoding mirrors NerSystemLabeled.tagBIO (NerSystemLabeled.scala:36-46):
per-sentence Viterbi over BIO labels with the legal-transition constraint
(an I-X may only follow B-X or I-X of the same type — NerFeaturizer
isLegalTransition).  The reference scores with a trained CRF; this engine
scores emissions with a deterministic linear model over the ported features
plus broadcast name/org dictionaries (the S4 broadcast-lookup pattern —
NumberGenderComputer.scala:10-25).  The DP itself is exact and is verified
against brute-force sequence enumeration in tests.

All row-level work happens in one Arrow-batched mapInPandas over pages.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

TYPES = ["PER", "ORG", "LOC"]
LABELS = ["O"] + [f"{b}-{t}" for t in TYPES for b in ("B", "I")]
NEG = -1e9

# Small public gazetteer for the LOC dictionary (the reference's full tagset
# includes LOC/GPE; its dictionaries come from training data — here a fixed
# list of well-known city names plays that role).
LOC_GAZETTEER = frozenset(
    w.lower()
    for w in [
        "London", "Paris", "Berlin", "Tokyo", "Madrid", "Rome", "Vienna",
        "Oslo", "Cairo", "Lima", "Dublin", "Geneva", "Prague", "Athens",
        "Lisbon", "Moscow", "Sydney", "Toronto", "Chicago", "Boston",
        "Denver", "Austin", "Seattle", "Atlanta", "Houston", "Phoenix",
        "Dallas", "Nairobi", "Jakarta", "Mumbai", "Delhi", "Beijing",
        "Seoul", "Bangkok", "Hanoi", "Manila", "Zurich", "Brussels",
        "Amsterdam", "Stockholm",
    ]
)


def shape_for(word: str) -> str:
    """Port of NerFeaturizer.shapeFor (NerFeaturizer.scala:171-187)."""
    result: list[str] = []
    for c in word:
        if c.isalpha() and c.isupper():
            x = "X"
        elif c.isalpha():
            x = "x"
        elif c.isdigit():
            x = "d"
        else:
            x = c
        if len(result) > 1 and result[-1] == x and result[-2] == x:
            result.append("e")
        elif len(result) > 1 and result[-1] == "e" and result[-2] == x:
            pass
        else:
            result.append(x)
    return "".join(result)


def class_for(word: str) -> str:
    """Port of NerFeaturizer.classFor (NerFeaturizer.scala:189-245)."""
    sb: list[str] = []
    wlen = len(word)
    num_caps = sum(1 for c in word if c.isupper())
    has_digit = any(c.isdigit() for c in word)
    has_dash = "-" in word
    has_lower = num_caps < wlen
    ch0 = word[0]
    lowered = word.lower()
    if ch0.isupper() or unicodedata.category(ch0) == "Lt":
        sb.append("-INITC" if num_caps == 1 else "-CAPS")
    elif not ch0.isalpha() and num_caps > 0:
        sb.append("-CAPS")
    elif has_lower:
        sb.append("-LC")
    if has_digit:
        sb.append("-NUM")
    if has_dash:
        sb.append("-DASH")
    if lowered.endswith("s") and wlen >= 3:
        ch2 = lowered[wlen - 2]
        if ch2 != "s" and ch2 != "i" and ch2 != "u":
            sb.append("-s")
    elif wlen >= 5 and not has_dash and not (has_digit and num_caps > 0):
        for suf in ("ed", "ing", "ion", "er", "est", "ly", "ity", "y", "al"):
            if lowered.endswith(suf):
                sb.append(f"-{suf}")
                break
    return "".join(sb)


def prefix_for(word: str) -> str:
    return word[: min(4, len(word))]


def suffix_for(word: str) -> str:
    return word[max(0, len(word) - 4) :]


def transition_matrix() -> np.ndarray:
    """log-domain legality mask + mild continuation bonus.

    Legal-transition semantics (NerFeaturizer.isLegalTransition): I-X only
    after B-X or I-X of the same type; everything else allowed."""
    n = len(LABELS)
    T = np.zeros((n, n))
    for j, to in enumerate(LABELS):
        if to.startswith("I-"):
            t = to[2:]
            for i, frm in enumerate(LABELS):
                if frm not in (f"B-{t}", f"I-{t}"):
                    T[i, j] = NEG
                else:
                    T[i, j] = 0.5  # continuation bonus
    return T


def emission_scores(
    tokens: list[str],
    person_names: frozenset[str],
    org_words: frozenset[str],
    loc_words: frozenset[str] = LOC_GAZETTEER,
) -> np.ndarray:
    """(n_tokens, n_labels) log-potentials from the ported features +
    dictionary lookups — the hand-set fallback model (the trained CRF
    emissions in ml/crf.py replace this in the default path).  tokens
    start a sentence: capitalization of the first token is no evidence."""
    n = len(tokens)
    E = np.zeros((n, len(LABELS)))
    bper, iper = LABELS.index("B-PER"), LABELS.index("I-PER")
    borg, iorg = LABELS.index("B-ORG"), LABELS.index("I-ORG")
    bloc, iloc = LABELS.index("B-LOC"), LABELS.index("I-LOC")
    for i, tok in enumerate(tokens):
        low = tok.lower().rstrip(".")
        shape = shape_for(tok)
        capped = shape.startswith("X") and i != 0
        E[i, 0] = 1.0  # O prior
        if capped:
            E[i, [bper, iper, borg, iorg, bloc, iloc]] += 1.5
            # dictionary evidence counts only for capitalized tokens: the
            # filler word "partners" must not fire the Partners org suffix
            if low in person_names:
                E[i, [bper, iper]] += 3.0
            if low in org_words:
                E[i, [borg, iorg]] += 3.0
            if low in loc_words:
                E[i, [bloc, iloc]] += 3.0
        if capped and shape in ("XXe", "XX"):  # acronym-shaped post collapse
            E[i, [borg, iorg]] += 2.0
        if class_for(tok) in ("-INITC", "-CAPS") and i > 0:
            E[i, [iper, iorg]] += 0.5
    return E


def viterbi_bio(E: np.ndarray, T: np.ndarray) -> list[str]:
    """Exact max-score BIO path; ties break toward the lowest label index
    (the reference keeps the first max — DocumentInferencerBasic.scala:122)."""
    n, k = E.shape
    delta = E[0].copy()
    delta[[j for j, lb in enumerate(LABELS) if lb.startswith("I-")]] = NEG
    back = np.zeros((n, k), dtype=np.int64)
    for i in range(1, n):
        cand = delta[:, None] + T  # (from, to)
        back[i] = np.argmax(cand, axis=0)  # argmax returns first max (ties)
        delta = cand[back[i], np.arange(k)] + E[i]
    path = [int(np.argmax(delta))]
    for i in range(n - 1, 0, -1):
        path.append(int(back[i, path[-1]]))
    return [LABELS[j] for j in reversed(path)]


def load_default_ner_weights():
    """(feature_index, W) trained by tools/train_ner_weights.py, or None.

    Mirrors the pairwise scorer's artifact policy: the reference always tags
    with a trained CRF (NerSystemLabeled.scala:48-124); the hand-set
    emission model is only the bootstrap fallback."""
    import io
    import json

    from berkeley_entity_spark.util import artifact_bytes

    raw = artifact_bytes("ner_weights.npz")
    if raw is None:
        return None
    data = np.load(io.BytesIO(raw), allow_pickle=False)
    feats = json.loads(str(data["features_json"]))
    W = data["W"]
    if W.shape[0] != len(LABELS):
        return None
    return {f: i for i, f in enumerate(feats)}, W


def ner_tag_pages(
    pages: DataFrame,
    crf_weights: tuple[dict[str, int], "np.ndarray"] | None = None,
) -> DataFrame:
    """webpages -> (url, sent_idx, tok_idx, token, label) BIO tags.

    One Arrow pass; dictionaries + weights are broadcast (tiny), decode is
    per-sentence numpy Viterbi — the M11 embarrassing parallelism across
    pages.  Dictionaries: the synthetic corpus's name/org vocabularies and
    LOC_GAZETTEER (joint.default_type_lexicons).  Emissions: crf_weights,
    else the trained CRF artifact, else (no artifact) the hand-set linear
    model."""
    from berkeley_entity_spark.operators.joint import default_type_lexicons
    from berkeley_entity_spark.preprocess.sentence import split_sentences

    persons, orgs, locs = default_type_lexicons()
    if crf_weights is None:
        crf_weights = load_default_ner_weights()
    spark = pages.sparkSession
    b = spark.sparkContext.broadcast(
        (persons, orgs, locs, transition_matrix(), crf_weights)
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_names, o_words, l_words, T, crf = b.value
        if crf is not None:
            from berkeley_entity_spark.ml.crf import emission_matrix, token_features
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for s_idx, sent in enumerate(split_sentences([text])):
                    toks = [t for t in sent.split(" ") if t]
                    if not toks:
                        continue
                    if crf is not None:
                        feat_index, W = crf
                        E = emission_matrix(
                            token_features(toks, p_names, o_words, l_words),
                            feat_index, W,
                        )
                    else:
                        E = emission_scores(toks, p_names, o_words, l_words)
                    labels = viterbi_bio(E, T)
                    rows.extend(
                        (url, s_idx, t_idx, tok, lab)
                        for t_idx, (tok, lab) in enumerate(zip(toks, labels))
                    )
            yield pd.DataFrame(
                rows, columns=["url", "sent_idx", "tok_idx", "token", "label"]
            )

    return pages.select("url", "text").mapInPandas(
        gen, schema="url string, sent_idx int, tok_idx int, token string, label string"
    )

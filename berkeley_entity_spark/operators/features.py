"""Pairwise similarity features (SURVEY.md §2.7/§2.8 M1).

Generalizes the reference's exact/containment/head-match feature templates
(PairwiseIndexingFeaturizerJoint.scala:132-436) to noisy web surfaces:
Jaro-Winkler, Levenshtein ratio, token Jaccard, TF-IDF cosine, plus the
reference-style boolean templates (exact match, head/last-token match —
FancyHeadMatcher.scala:19-50, containment :241-270, abbreviation match —
AbbreviationHandler.scala:7-62, first-initial compatibility).

Pure-Python string kernels, executed only inside Arrow-batched pandas UDFs
over *distinct-surface pairs* (a tiny table relative to mentions), never over
raw rows.  Feature order is fixed — FEATURE_NAMES is the model contract.
"""

from __future__ import annotations

from functools import lru_cache

FEATURE_NAMES = [
    "jaro_winkler",
    "levenshtein",  # 1 - dist/maxlen
    "token_jaccard",
    "tfidf_cosine",
    "exact_eq",
    "last_eq",
    "first_eq",
    "init_last_eq",  # first initials match AND last tokens match
    "acronym_match",
    "token_subset",
    "token_align",  # full one-sided token alignment (eq/prefix/initial/edit)
    "bias",
]


def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_dist = max(len1, len2) // 2 - 1
    m1 = [False] * len1
    m2 = [False] * len2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        hi = min(len2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    return (matches / len1 + matches / len2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str) -> float:
    """Canonical Winkler variant: the prefix boost applies only when the base
    Jaro similarity exceeds the 0.7 boost threshold (Winkler 1990) — also
    exactly what DuckDB's jaro_winkler_similarity computes, which makes this
    feature reproducible in the SQL oracle (verified value-identical across
    adversarial prefix/low-sim pairs)."""
    j = jaro(s1, s2)
    if j <= 0.7:
        return j
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * 0.1 * (1.0 - j)


def levenshtein_ratio(s1: str, s2: str) -> float:
    """1 - edit_distance/max(len).  Two-row pure-Python DP: surfaces are
    short (<~40 chars), where list DP beats numpy (array allocation per row
    dominated the profile at 76% of the whole feature kernel)."""
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    if n1 < n2:
        s1, s2, n1, n2 = s2, s1, n2, n1
    prev = list(range(n2 + 1))
    for i in range(n1):
        c = s1[i]
        curr = [i + 1]
        append = curr.append
        p_jm1 = prev[0]  # prev[j-1] (diagonal)
        v = i + 1  # curr[j-1] (deletion source)
        for j in range(1, n2 + 1):
            p_j = prev[j]
            if c == s2[j - 1]:
                # diagonal neighbor is always <= min(ins, del) + 1 - 1
                v = p_jm1
            else:
                m = p_jm1 if p_jm1 < p_j else p_j
                if v < m:
                    m = v
                v = m + 1
            append(v)
            p_jm1 = p_j
        prev = curr
    return 1.0 - prev[-1] / n1


def within_edit1(a: str, b: str) -> bool:
    """edit_distance(a, b) <= 1 in O(n) with no allocation — the only
    question token-level typo matching actually asks."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if la > lb:
        a, b, la, lb = b, a, lb, la
    if lb - la > 1:
        return False
    # first mismatch, then compare suffixes (skip one char of the longer —
    # insertion — or one of each — substitution)
    i = 0
    while i < la and a[i] == b[i]:
        i += 1
    if la == lb:
        return a[i + 1 :] == b[i + 1 :]
    return a[i:] == b[i + 1 :]


def token_jaccard(t1: set[str], t2: set[str]) -> float:
    if not t1 or not t2:
        return 0.0
    inter = len(t1 & t2)
    return inter / (len(t1) + len(t2) - inter)


def tfidf_cosine(t1: list[str], t2: list[str], idf: dict[str, float]) -> float:
    """Cosine over IDF-weighted token sets (A2-style counts feed idf)."""
    if not t1 or not t2:
        return 0.0
    w1 = {t: idf.get(t, 1.0) for t in set(t1)}
    w2 = {t: idf.get(t, 1.0) for t in set(t2)}
    dot = sum(w * w2[t] for t, w in w1.items() if t in w2)
    n1 = sum(w * w for w in w1.values()) ** 0.5
    n2 = sum(w * w for w in w2.values()) ** 0.5
    return dot / (n1 * n2) if n1 and n2 else 0.0


def acronym_of(tokens: list[str]) -> str:
    return "".join(t[0] for t in tokens if t)


def _tok_match(a: str, b: str) -> bool:
    """Can token `a` stand for token `b`?  exact, initial ("j" ~ "jean"),
    abbreviating prefix ("corp" ~ "corporation"), or a single typo
    ("smitd" ~ "smith").  The web-noise generalization of the reference's
    head-match / clean containment predicates (FancyHeadMatcher.scala:19-50).

    Directional on the initial rule: a 1-char token may seek a full token,
    but a full token must never match a stray initial (otherwise "adams"
    aligns to the "a" of "a davis")."""
    if a == b:
        return True
    if len(a) == 1 and b.startswith(a):
        return True
    if len(a) >= 3 and len(b) >= 3:
        # abbreviating prefix only: "corp" ~ "corporation" but NOT
        # "martin" ~ "martinez" (distinct surnames sharing a stem)
        short, full = (a, b) if len(a) <= len(b) else (b, a)
        if full.startswith(short) and len(short) <= 0.7 * len(full):
            return True
    if min(len(a), len(b)) >= 4 and abs(len(a) - len(b)) <= 1:
        # single-typo tolerance: edit distance 1 on tokens of length >= 4
        # ("smitd" ~ "smith") but NOT stem-sharing surnames at distance 2
        # ("martin" ~ "martinez"); O(n) scan, no DP
        if within_edit1(a, b):
            return True
    return False


def _monotone_align(src: list[str], dst: list[str]) -> bool:
    """Every token of src matches a distinct token of dst, in order
    (order-preserving injective matching — name variants keep token order).
    Injectivity matters: without it the initial "a" of "a anderson" would
    claim the surname of "c anderson" and hub-merge whole blocks.

    Memoized on (i, j): rec is a pure function of the suffix pair, so the
    backtracking search is O(n·m) states / O(n·m²) work instead of the
    combinatorial blowup a long Title-Case headline pair would trigger
    (extraction also caps mention token count — belt and braces)."""
    n, m = len(src), len(dst)

    memo: dict[tuple[int, int], bool] = {}

    def rec(i: int, j: int) -> bool:
        if i == n:
            return True
        if n - i > m - j:
            return False
        r = memo.get((i, j))
        if r is None:
            r = False
            for k in range(j, m):
                if _tok_match(src[i], dst[k]) and rec(i + 1, k + 1):
                    r = True
                    break
            memo[(i, j)] = r
        return r

    # anchor: first tokens must be compatible ("a smith" ~ "alice lee smith"
    # but "a steinwood" must NOT claim the middle initial of
    # "xenia a steinwood" — a first initial is not a middle initial)
    if not src or not dst or not _tok_match(src[0], dst[0]):
        return False
    return rec(1, 1)


def token_align(ta: list[str], tb: list[str]) -> float:
    """1.0 iff one side fully aligns into the other (order-preserving,
    injective) — name variants (truncation, abbreviation, typo, initials)
    align fully; distinct entities leave a distinctive token unaligned."""
    if _monotone_align(ta, tb) or _monotone_align(tb, ta):
        return 1.0
    return 0.0


@lru_cache(maxsize=65536)
def _surface_parts(s: str) -> tuple[tuple[str, ...], frozenset, str]:
    """Per-surface derived parts (token tuple, token set, acronym), memoized:
    blocking emits each distinct surface in ~10-100 candidate pairs, and the
    batch rows arrive grouped by block key, so the executor-lifetime cache
    turns the per-pair split/set/acronym work into near-free lookups."""
    toks = tuple(s.split(" "))
    return toks, frozenset(toks), acronym_of(toks)


def featurize_pair(
    norm_a: str,
    norm_b: str,
    idf: dict[str, float],
    is_acr_a: bool,
    is_acr_b: bool,
    lev: float | None = None,
    need_cosine: bool = True,
    need_align: bool = True,
) -> list[float]:
    """The M1 kernel: one fixed-width feature vector per surface pair.

    is_acr_{a,b}: the surface was written as an ALL-CAPS single token in the
    raw text (an acronym).  Acronym matching requires it — otherwise a person
    whose initials spell an org acronym ("alice ann vanceman" ~ "AAV")
    false-merges.

    lev: precomputed levenshtein ratio.  score_pairs computes it JVM-side
    with whole-stage-codegen F.levenshtein (bit-identical to the Python DP:
    same integer distance, same int/int double division) and passes it in —
    the quadratic DP was the kernel's hot loop at scale.

    need_cosine/need_align: the reference only evaluates feature templates
    that are active in the model (PairwiseIndexingFeaturizer template
    registration); score_pairs passes False for the two costliest Python
    features when their model weight is exactly 0 and the caller consumes
    scores only — the emitted 0.0 contributes nothing to the dot product."""
    ta, sa, acr_a = _surface_parts(norm_a)
    tb, sb, acr_b = _surface_parts(norm_b)
    exact = 1.0 if norm_a == norm_b else 0.0
    last_eq = 1.0 if ta[-1] == tb[-1] else 0.0
    first_eq = 1.0 if ta[0] == tb[0] else 0.0
    init_last = (
        1.0 if last_eq and ta[0][:1] == tb[0][:1] else 0.0
    )
    acronym = 1.0 if (
        (len(ta) == 1 and is_acr_a and len(tb) > 1 and ta[0] == acr_b)
        or (len(tb) == 1 and is_acr_b and len(ta) > 1 and tb[0] == acr_a)
    ) else 0.0
    subset = 1.0 if sa <= sb or sb <= sa else 0.0
    return [
        jaro_winkler(norm_a, norm_b),
        levenshtein_ratio(norm_a, norm_b) if lev is None else lev,
        token_jaccard(sa, sb),
        tfidf_cosine(ta, tb, idf) if need_cosine else 0.0,
        exact,
        last_eq,
        first_eq,
        init_last,
        acronym,
        subset,
        token_align(ta, tb) if need_align else 0.0,
        1.0,
    ]

"""Fellegi-Sunter unsupervised record-linkage weights (EM on sufficient
statistics).

The reference's pairwise coref scorer is TRAINED from gold antecedents
(`coref/CorefTrainer.scala`); production record linkage usually has no
labels, and the canonical unsupervised answer since Fellegi & Sunter
(JASA 1969) — the model behind Splink / fastLink — is a two-class latent
mixture over DISCRETIZED comparison vectors gamma:

    P(gamma) = lam * prod_k m_k[gamma_k]  +  (1-lam) * prod_k u_k[gamma_k]

fit by EM, where m/u are per-feature agreement probabilities among
matches / non-matches and lam is the match prevalence among candidate
pairs.  The per-pair posterior P(match | gamma) is then a pure function
of the pattern — the match weight a linker thresholds on.

Scale shape (the whole point of this formulation at 100 TB):

  * blocking is the repo's one capped key self-join
    (blocking.capped_key_pairs, first-token key, MAX_BLOCK_FS), and the
    clerical-review sample its one salted top-k (util.salted_top_k);
  * gamma extraction is one whole-stage-codegen projection over the
    blocked candidate pairs (integer comparisons only — levenshtein and
    set-size arithmetic, no floats, so the discretization is
    engine-exact);
  * EM never sees pairs: its sufficient statistics are the pattern
    COUNTS — one groupBy over <= prod_k |levels_k| rows (6 here).  The
    driver collect is bounded by the pattern-space size, NOT the corpus
    (same disclosed-bounded-collect policy as the BPE argmax and the
    Bloom bitset);
  * the fitted parameters ride back into ONE codegen CASE projection —
    classifying a pair costs two branch lookups and four multiplies,
    no join, no shuffle, no Python.

Float determinism contract: every EM iteration ends by rounding all
parameters to 12 decimal digits (half-up, positive domain) in BOTH
engines, so ulp drift from summation order cannot accumulate across
iterations; outputs additionally round to the repo-standard 6 digits.
Residual risk is the usual measure-zero knife-edge rounding class
(disclosed, same as q_ann_ivf).

Levels: g_name in {0,1,2} (2 = exact string equality, 1 = levenshtein
within 30% of the longer length — `10*lev <= 3*greatest(len)`, integer),
g_tok in {0,1} (1 = distinct-token Jaccard >= 1/2 — `2*inter >= union`,
integer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.blocking import (
    capped_key_pairs,
    phonetic_pairs,
    soundex_key_col,
)
from berkeley_entity_spark.util import salted_top_k

__all__ = [
    "fs_gate_records",
    "fs_comparison_vectors",
    "fs_em_params",
    "fs_fit",
    "fs_posterior_col",
    "fs_classify",
    "fs_tf_adjusted",
    "fs_link",
    "fs_link_tf",
    "fs_expected_f1",
    "calibration_report",
    "dup_estimate_capture_recapture",
    "match_weights_report",
    "blocking_cascade_report",
    "one_to_one_matches",
    "block_size_profile",
]

# exact decimal literals shared with the SQL oracle (1e-6 and 0.000001
# parse to the same double; `1 - 1e-6` does NOT equal the 0.999999
# literal bitwise, hence the explicit constants)
CLAMP_LO = 0.000001
CLAMP_HI = 0.999999
INIT = {
    "lam": 0.1,
    "m_n": [0.05, 0.2, 0.75],
    "u_n": [0.75, 0.2, 0.05],
    "m_t": [0.2, 0.8],
    "u_t": [0.8, 0.2],
}
N_ITER = 5
# hot-block cap of the soundex-class phonetic blocking pass
MAX_BLOCK_PHONETIC = 64
# hot-block cap of the first-token blocking pass (fs_comparison_vectors)
MAX_BLOCK_FS = 48
# three-way decision rule of the review queue: link at p >= REVIEW_UPPER,
# non-link below REVIEW_LOWER, clerical review between
REVIEW_LOWER, REVIEW_UPPER = 0.2, 0.8


def fs_gate_records(documents: DataFrame) -> DataFrame:
    """(rec_id, name) linkage records for the gate query: each document
    with >= 5 tokens yields its 5-token name prefix, an EXACT duplicate
    (+100000), and a NEAR duplicate (+200000, last name token dropped) —
    so candidate pairs exercise all g_name levels against same-block
    non-matches."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    base = documents.where(F.size(toks) >= 5).select(
        F.col("doc_id").alias("rec_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("name"),
    )
    exact = base.select((F.col("rec_id") + 100000).alias("rec_id"), "name")
    near = documents.where(F.size(toks) >= 5).select(
        (F.col("doc_id") + 200000).alias("rec_id"),
        F.array_join(F.slice(toks, 1, 4), " ").alias("name"),
    )
    return base.unionByName(exact).unionByName(near)


def fs_comparison_vectors(records: DataFrame) -> DataFrame:
    """(id_a, id_b, g_name, g_tok, name_a, name_b) — first-token blocked
    candidate pairs (blocking.capped_key_pairs: hot-block cap in rec_id
    order) with the integer-exact discretized comparison vector."""
    toks = F.filter(F.split(F.col("name"), " "), lambda t: t != "")
    keyed = records.select(
        "rec_id", "name", F.element_at(toks, 1).alias("blk")
    )
    na, nb = F.col("name_a"), F.col("name_b")
    ta = F.array_distinct(F.filter(F.split(na, " "), lambda t: t != ""))
    tb = F.array_distinct(F.filter(F.split(nb, " "), lambda t: t != ""))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return (
        capped_key_pairs(keyed, "rec_id", "blk", MAX_BLOCK_FS)
        .select(
            "id_a",
            "id_b",
            F.when(na == nb, F.lit(2))
            .when(
                10 * F.levenshtein(na, nb) <= 3 * F.greatest(F.length(na), F.length(nb)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("g_name"),
            F.when(2 * inter >= union, F.lit(1)).otherwise(F.lit(0)).alias("g_tok"),
            "name_a",
            "name_b",
        )
    )


def _round12(x: float) -> float:
    """Half-up rounding to 12 digits on the positive domain — mirrors
    DuckDB's round(x, 12) (half away from zero) rather than Python's
    banker's round."""
    import math

    return math.floor(x * 1e12 + 0.5) / 1e12


def _clamp(x: float) -> float:
    return min(max(x, CLAMP_LO), CLAMP_HI)


def fs_em_params(patterns: list[tuple[int, int, int]]) -> dict:
    """EM over the bounded pattern-count table [(g_name, g_tok, count)].

    Pure driver arithmetic on sufficient statistics (<= 6 rows).  Sums run
    in sorted-(g_name, g_tok) pattern order; every iteration ends with the
    12-digit half-up re-synchronization round described in the module
    docstring, so the SQL oracle's unrolled-CTE replay stays bit-aligned.
    """
    pats = sorted(patterns)
    lam = INIT["lam"]
    m_n, u_n = list(INIT["m_n"]), list(INIT["u_n"])
    m_t, u_t = list(INIT["m_t"]), list(INIT["u_t"])
    for _ in range(N_ITER):
        rows = []
        for gn, gt, c in pats:
            pm = lam * m_n[gn] * m_t[gt]
            pu = (1.0 - lam) * u_n[gn] * u_t[gt]
            p = pm / (pm + pu)
            rows.append((gn, gt, c, p))
        big_c = sum(c for _, _, c, _ in rows)
        cp = sum(c * p for _, _, c, p in rows)
        cq = sum(c * (1.0 - p) for _, _, c, p in rows)
        lam = _round12(cp / big_c)
        m_n = [
            _round12(_clamp(sum(c * p for gn, _, c, p in rows if gn == l) / cp))
            for l in range(3)
        ]
        u_n = [
            _round12(_clamp(sum(c * (1.0 - p) for gn, _, c, p in rows if gn == l) / cq))
            for l in range(3)
        ]
        m_t = [
            _round12(_clamp(sum(c * p for _, gt, c, p in rows if gt == l) / cp))
            for l in range(2)
        ]
        u_t = [
            _round12(_clamp(sum(c * (1.0 - p) for _, gt, c, p in rows if gt == l) / cq))
            for l in range(2)
        ]
    return {"lam": lam, "m_n": m_n, "u_n": u_n, "m_t": m_t, "u_t": u_t}


def _level_case(col: str, vals: list[float]) -> Column:
    e = F.lit(vals[0])
    for l in range(1, len(vals)):
        e = F.when(F.col(col) == l, F.lit(vals[l])).otherwise(e)
    return e


def fs_posterior_col(params: dict) -> Column:
    """P(match | gamma) as a codegen expression over (g_name, g_tok) with
    the fitted parameters as literals — the per-pair classification is a
    shuffle-free, Python-free projection."""
    pm = (
        F.lit(params["lam"])
        * _level_case("g_name", params["m_n"])
        * _level_case("g_tok", params["m_t"])
    )
    pu = (
        F.lit(1.0 - params["lam"])
        * _level_case("g_name", params["u_n"])
        * _level_case("g_tok", params["u_t"])
    )
    return pm / (pm + pu)


def fs_classify(pairs: DataFrame, params: dict) -> DataFrame:
    """(id_a, id_b, g_name, g_tok, p_match, is_match) — posterior match
    probability per candidate pair, rounded to the repo-standard 6
    digits; is_match = posterior >= 0.5."""
    p = fs_posterior_col(params)
    return pairs.select(
        "id_a",
        "id_b",
        "g_name",
        "g_tok",
        F.round(p, 6).alias("p_match"),
        (p >= F.lit(0.5)).alias("is_match"),
    )


def fs_tf_adjusted(records: DataFrame, pairs: DataFrame, params: dict) -> DataFrame:
    """Term-frequency-adjusted match weights (Winkler's value-specific
    weights; Splink's tf_adjustment): for exact-name agreements the
    chance two NON-matches share the value is the value's own relative
    frequency, not the global u — "John Smith" agreement is weak
    evidence, "Xanthippe Quarry" agreement is strong.  Post-EM (like
    Splink), u_name[2] is replaced per-pair by clamp(freq(name)/N) from
    the record-level name-frequency table; all other parameters are
    untouched, so non-exact pairs score identically to fs_classify.

    Scale shape: one groupBy(name) over records + a 1-row total
    crossJoin; the frequency table joins the exact-match pairs on name
    equality (AQE skew-split handles hot names — a hot name is exactly
    the case the adjustment exists for).  Output adds p_match_tf beside
    the unadjusted p_match; is_match = p_match_tf >= 0.5."""
    total = records.agg(F.count(F.lit(1)).alias("n_total"))
    freq = records.groupBy("name").agg(F.count(F.lit(1)).alias("n_name")).crossJoin(
        total
    )
    p_base = fs_posterior_col(params)
    joined = pairs.join(
        freq.select(F.col("name").alias("name_a"), "n_name", "n_total"),
        "name_a",
        "left",
    )
    u2v = F.least(
        F.greatest(F.col("n_name") / F.col("n_total"), F.lit(CLAMP_LO)),
        F.lit(CLAMP_HI),
    )
    pm = (
        F.lit(params["lam"])
        * _level_case("g_name", params["m_n"])
        * _level_case("g_tok", params["m_t"])
    )
    pu_tf = (
        F.lit(1.0 - params["lam"])
        * F.when(F.col("g_name") == 2, u2v).otherwise(
            _level_case("g_name", params["u_n"])
        )
        * _level_case("g_tok", params["u_t"])
    )
    p_tf = pm / (pm + pu_tf)
    return joined.select(
        "id_a",
        "id_b",
        "g_name",
        "g_tok",
        F.round(p_base, 6).alias("p_match"),
        F.round(p_tf, 6).alias("p_match_tf"),
        (p_tf >= F.lit(0.5)).alias("is_match"),
    )


def fs_fit(pairs: DataFrame) -> dict:
    """EM parameters (fs_em_params) fitted on the comparison vectors
    `pairs`: the (g_name, g_tok) pattern counts are one bounded collect,
    <= 3*2 rows regardless of corpus size."""
    counts = pairs.groupBy("g_name", "g_tok").agg(F.count(F.lit(1)).alias("n"))
    return fs_em_params([(r["g_name"], r["g_tok"], r["n"]) for r in counts.collect()])


def fs_link(documents: DataFrame) -> DataFrame:
    """End-to-end gate pipeline: records -> blocked comparison vectors ->
    pattern counts -> EM (fs_fit) -> codegen classification."""
    pairs = fs_comparison_vectors(fs_gate_records(documents))
    pairs = pairs.localCheckpoint(eager=True)  # pattern agg + final projection share it
    return fs_classify(pairs, fs_fit(pairs))


def fs_link_tf(documents: DataFrame) -> DataFrame:
    """fs_link with the term-frequency adjustment applied to exact-name
    agreements (fs_tf_adjusted) — same EM fit, value-specific u."""
    recs = fs_gate_records(documents)
    pairs = fs_comparison_vectors(recs).localCheckpoint(eager=True)
    return fs_tf_adjusted(recs, pairs, fs_fit(pairs))


# ------------------------------------------------------- name standardizer

_HONORIFICS = ("mr", "mrs", "ms", "dr", "prof", "sir", "rev", "hon", "mx")
_GEN_SUFFIXES = ("jr", "sr", "ii", "iii", "iv", "esq", "phd", "md")


def _drop_leading_tokens(toks: Column, words: tuple[str, ...]) -> Column:
    """Drop up to two leading tokens drawn from `words` —
    positional, so a surname that happens to spell an honorific ('Sir
    Alex' vs the surname 'Sirs') is only dropped at the edge.  Pure
    array expressions; unrolled twice (no recursion in codegen)."""
    wl = F.array(*[F.lit(w) for w in words])
    for _ in range(2):
        hit = F.array_contains(wl, F.element_at(toks, 1)) & (F.size(toks) >= 2)
        toks = F.when(hit, F.slice(toks, 2, F.size(toks) - 1)).otherwise(toks)
    return toks


def standardize_person_names(df: DataFrame) -> DataFrame:
    """Deterministic person-name standardization — the record-linkage
    preprocessing pass (Christen 2012 ch. 3) that turns 'Smith, Dr. John
    A. Jr.' and 'john a smith' into the same comparison key:

      1. lowercase, strip periods, collapse whitespace;
      2. 'last, first...' comma form reordered to 'first... last'
         (first comma only);
      3. up to two LEADING honorifics dropped (mr/mrs/ms/dr/prof/...);
      4. generational/credential suffix tokens (jr/sr/ii/iii/iv/esq/
         phd/md) dropped at ANY position — the comma reorder moves them
         mid-name ('Garcia, Mary, III' -> 'mary iii garcia'), and unlike
         honorifics these tokens are unambiguous; a name that is ONLY
         suffix tokens is left intact;
      5. parts: first = first token (NULL if single-token), last = last
         token, middle = everything between.

    Everything is whole-stage-codegen array expressions with an exact
    DuckDB replay (list_slice/list_extract mirror slice/element_at), so
    the standardizer itself is oracle-checkable — the property that lets
    a pipeline PROVE two engines block on the same key.  Adds columns:
    (name_std, name_first, name_middle, name_last), standardized from the
    `name` column."""
    raw = F.regexp_replace(F.lower(F.trim(F.col("name"))), r"\.", "")
    # 'last, first...' -> 'first... last' on the FIRST comma (instr/substr
    # only — DuckDB has no substring_index); any further commas become
    # spaces before tokenization
    pos = F.instr(raw, ",")
    comma = F.when(
        pos > 0,
        F.concat(
            F.trim(F.substring(raw, pos + 1, F.length(raw))),
            F.lit(" "),
            F.trim(F.substring(raw, F.lit(1), pos - 1)),
        ),
    ).otherwise(raw)
    comma = F.regexp_replace(comma, ",", " ")
    toks = F.filter(F.split(comma, " +"), lambda t: t != "")
    toks = _drop_leading_tokens(toks, _HONORIFICS)
    sufl = F.array(*[F.lit(w) for w in _GEN_SUFFIXES])
    desuf = F.filter(toks, lambda t: ~F.array_contains(sufl, t))
    toks = F.when(F.size(desuf) >= 1, desuf).otherwise(toks)
    n = F.size(toks)
    return df.withColumns(
        {
            "name_std": F.array_join(toks, " "),
            "name_first": F.when(n >= 2, F.element_at(toks, 1)),
            "name_middle": F.when(
                n >= 3, F.array_join(F.slice(toks, 2, n - 2), " ")
            ),
            "name_last": F.when(n >= 1, F.element_at(toks, -1)),
        }
    )


# --------------------------------------------------- clerical-review queue

def review_queue(
    scored: DataFrame,
    per_band: int = 10,
) -> DataFrame:
    """Posterior-band stratified labeling queue over scored candidate
    pairs — the clerical-review stage of the Fellegi-Sunter three-way
    decision rule (link / review / non-link, F&S 1969 §3; the same queue
    Splink's `labelling` workflow and fastLink's `getMatches` review band
    feed).  A human-labeling budget is spent best when it is spread
    across the posterior range (calibration bins) rather than
    concentrated where the model is already confident, so the queue
    takes a DETERMINISTIC per_band-pair sample from each posterior
    decile, ordered by an md5 hash of "11|" + the pair key — reproducible
    under any partitioning and any engine, unlike rand()-based sampling.

    Scale shape: band counts are a map-side-combining groupBy; the
    per-band sample is util.salted_top_k, so no task ever sorts a full
    band even when one posterior value covers half the corpus.

    Output: (band, rn, id_a, id_b, p_match, decision) where decision is
    the three-way rule at (REVIEW_LOWER, REVIEW_UPPER) — the queue keeps
    link/non-link rows too (spot-check strata), but the review band is
    where labels are spent.
    """
    h = F.md5(
        F.concat(
            F.lit("11|"),
            F.col("id_a").cast("string"),
            F.lit("|"),
            F.col("id_b").cast("string"),
        )
    )
    d = scored.select(
        "id_a",
        "id_b",
        "p_match",
        F.least(F.floor(F.col("p_match") * 10), F.lit(9)).cast("int").alias("band"),
        h.alias("_h"),
    )
    dec = (
        F.when(F.col("p_match") >= REVIEW_UPPER, F.lit("link"))
        .when(F.col("p_match") < REVIEW_LOWER, F.lit("nonlink"))
        .otherwise(F.lit("review"))
    )
    return (
        salted_top_k(d, ["band"], ["_h", "id_a", "id_b"], per_band)
        .select(
            "band",
            F.col("rank").alias("rn"),
            "id_a",
            "id_b",
            "p_match",
            dec.alias("decision"),
        )
    )


# ------------------------------------------- threshold selection (no labels)

def fs_expected_f1(scored: DataFrame) -> DataFrame:
    """Unsupervised threshold selection from the model's OWN posteriors
    (the Splink `threshold from match weight` diagnostic): treating each
    pair's posterior p_i as its match probability, the expected confusion
    counts at threshold t are

        E[TP](t) = sum_{p_i >= t} p_i      E[FP](t) = sum_{p_i >= t} (1-p_i)
        E[FN](t) = M - E[TP](t),  M = sum_i p_i

    so expected precision / recall / F1 are computable with ZERO labels —
    the curve a production linker picks its operating point from before
    any clerical labels exist (the labeled counterpart is q_pr_curve).

    Scale shape: the FS posterior is a pure function of the gamma
    pattern, so the groupBy("p_match") sufficient-statistics table has at
    most |gamma space| rows (6 here) — the cumulative windows run over
    THAT, never over pairs, and sum(n * p) per group is an exact product,
    not a float reduction over the corpus.

    Output: one row per candidate threshold (distinct posterior) with
    (threshold, n_pairs, exp_tp, exp_fp, exp_fn, exp_precision,
    exp_recall, exp_f1, best) — `best` flags the expected-F1 argmax.
    """
    by = scored.groupBy("p_match").agg(F.count(F.lit(1)).alias("n_pairs"))
    by = by.withColumn("sum_p", F.col("n_pairs") * F.col("p_match"))
    w = Window.orderBy(F.col("p_match").desc())
    tot = Window.partitionBy()
    cum = by.select(
        F.col("p_match").alias("threshold"),
        "n_pairs",
        F.sum("sum_p").over(w).alias("exp_tp"),
        (F.sum("n_pairs").over(w) - F.sum("sum_p").over(w)).alias("exp_fp"),
        (F.sum("sum_p").over(tot) - F.sum("sum_p").over(w)).alias("exp_fn"),
        F.sum("sum_p").over(tot).alias("_m"),
        (F.sum("n_pairs").over(w)).alias("_cum_n"),
    )
    prec = F.col("exp_tp") / F.col("_cum_n")
    rec = F.col("exp_tp") / F.col("_m")
    f1 = F.round(2 * prec * rec / (prec + rec), 6)
    out = cum.select(
        "threshold",
        "n_pairs",
        F.round("exp_tp", 6).alias("exp_tp"),
        F.round("exp_fp", 6).alias("exp_fp"),
        F.round("exp_fn", 6).alias("exp_fn"),
        F.round(prec, 6).alias("exp_precision"),
        F.round(rec, 6).alias("exp_recall"),
        f1.alias("exp_f1"),
    )
    return out.withColumn(
        "best", F.col("exp_f1") == F.max("exp_f1").over(Window.partitionBy())
    )


# --------------------------------------------------- scorer calibration

def calibration_report(scored: DataFrame, gold: DataFrame) -> DataFrame:
    """Reliability diagram + ECE + Brier score of the pairwise scorer
    against labeled pairs — the check that the posterior a clerical
    queue, an expected-F1 threshold, or a downstream fusion step trusts
    MEANS what it says (a miscalibrated 0.9 breaks all three).

    Per posterior-decile bin: n_pairs, mean predicted posterior, observed
    positive fraction, |gap|; globally (repeated per row, both engines
    hash it identically): ECE = sum_b (n_b/N)*|mean_p_b - frac_pos_b| and
    the Brier score sum_i (p_i - y_i)^2 / N.

    Scale shape: the only corpus-sized step is the gold LEFT JOIN and a
    groupBy over (p_match, y) — at most 2*|gamma space| rows — so every
    float reduction (mean_p, ECE, Brier) runs over that bounded table via
    exact count*value products, never a float sum over pairs.
    """
    labeled = scored.join(
        gold.select("id_a", "id_b").withColumn("y", F.lit(1)),
        ["id_a", "id_b"],
        "left",
    ).select("p_match", F.coalesce("y", F.lit(0)).alias("y"))
    g = labeled.groupBy("p_match", "y").agg(F.count(F.lit(1)).alias("c"))
    band = F.least(F.floor(F.col("p_match") * 10), F.lit(9)).cast("int")
    per = g.groupBy(band.alias("band")).agg(
        F.sum("c").alias("n_pairs"),
        F.sum(F.col("c") * F.col("p_match")).alias("_sp"),
        F.sum(F.col("c") * F.col("y")).alias("_pos"),
        F.sum(F.col("c") * F.pow(F.col("p_match") - F.col("y"), 2)).alias("_sse"),
    )
    tot = Window.partitionBy()
    mean_p = F.col("_sp") / F.col("n_pairs")
    frac_pos = F.col("_pos") / F.col("n_pairs")
    n_all = F.sum("n_pairs").over(tot)
    return per.select(
        "band",
        "n_pairs",
        F.round(mean_p, 6).alias("mean_p"),
        F.round(frac_pos, 6).alias("frac_pos"),
        F.round(F.abs(mean_p - frac_pos), 6).alias("gap"),
        F.round(
            F.sum(F.col("n_pairs") * F.abs(mean_p - frac_pos)).over(tot) / n_all, 6
        ).alias("ece"),
        F.round(F.sum("_sse").over(tot) / n_all, 6).alias("brier"),
    )


# ------------------------------------- capture-recapture dup-count estimate

def dup_estimate_capture_recapture(documents: DataFrame) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL duplicate-pair
    count from two blocking passes — the standard audit for "how many
    duplicates does the corpus hold that NO single blocking pass sees"
    (Lincoln-Petersen / Chapman; the two-list estimator census and ER
    surveys use).  Capture lists: the duplicate-predicate pairs
    (g_name >= 1, the levenshtein agreement band) surfaced by (1) the
    capped first-token blocker and (2) the capped soundex-class phonetic
    blocker, both over the same gate records; overlap by pair-key join.

        N_hat = (n1+1)(n2+1)/(m+1) - 1        (Chapman's correction)

    The independence assumption is approximate here — both passes key on
    the first token, so the estimate is a LOWER-bound-leaning diagnostic,
    which is exactly how a dedup scorecard consumes it.

    Scale shape: two capped blocking passes (bounded fan-out), one name
    lookup join for the phonetic pass's gammas, one pair-key equi-join
    for the overlap, three scalar aggregates.  Output: one row
    (n_pass1, n_pass2, overlap, chapman_est, n_gold)."""
    recs = fs_gate_records(documents)
    p1 = (
        fs_comparison_vectors(recs)
        .where(F.col("g_name") >= 1)
        .select("id_a", "id_b")
    )

    cand2 = phonetic_pairs(
        recs, id_col="rec_id", name_col="name", max_block=MAX_BLOCK_PHONETIC
    )
    ra = recs.select(F.col("rec_id").alias("id_a"), F.col("name").alias("_na"))
    rb = recs.select(F.col("rec_id").alias("id_b"), F.col("name").alias("_nb"))
    na, nb = F.col("_na"), F.col("_nb")
    g_name2 = (
        F.when(na == nb, F.lit(2))
        .when(
            10 * F.levenshtein(na, nb) <= 3 * F.greatest(F.length(na), F.length(nb)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    p2 = (
        cand2.join(ra, "id_a").join(rb, "id_b")
        .where(g_name2 >= 1)
        .select("id_a", "id_b")
    )
    both = p1.join(p2, ["id_a", "id_b"])
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    n_gold = documents.where(F.size(toks) >= 5).count() * 3
    n1 = p1.agg(F.count(F.lit(1)).alias("n")).withColumnRenamed("n", "n_pass1")
    n2 = p2.agg(F.count(F.lit(1)).alias("n")).withColumnRenamed("n", "n_pass2")
    m = both.agg(F.count(F.lit(1)).alias("n")).withColumnRenamed("n", "overlap")
    est = (
        (F.col("n_pass1") + 1) * (F.col("n_pass2") + 1) / (F.col("overlap") + 1) - 1
    )
    return (
        n1.crossJoin(n2)
        .crossJoin(m)
        .select(
            "n_pass1",
            "n_pass2",
            "overlap",
            F.round(est, 6).alias("chapman_est"),
            F.lit(n_gold).cast("long").alias("n_gold"),
        )
    )


# ---------------------------------------------------- match-weight report

def match_weights_report(documents: DataFrame) -> DataFrame:
    """Per-comparison-level parameter table of the trained FS model —
    m, u, Bayes factor m/u, and log2 match weight per gamma level, plus
    the lambda prior row (Splink's `m_u_parameters_chart` /
    match-weights waterfall data): the explainability surface a reviewer
    reads to see WHY a posterior is what it is, and the first place a
    degenerate comparison (m ~ u, weight ~ 0) shows up.

    Scale shape: EM runs on the bounded pattern-count sufficient
    statistics (fs_fit, <= 6 rows collected) exactly as fs_link does; the
    report itself is a 6-row literal frame — no corpus-sized work beyond the
    one blocked-pairs aggregation."""
    params = fs_fit(fs_comparison_vectors(fs_gate_records(documents)))
    rows = [("prior", -1, params["lam"], 1.0 - params["lam"])]
    rows += [("name", l, params["m_n"][l], params["u_n"][l]) for l in range(3)]
    rows += [("tok", l, params["m_t"][l], params["u_t"][l]) for l in range(2)]
    df = documents.sparkSession.createDataFrame(
        rows, "comparison string, gamma_level int, m double, u double"
    )
    bf = F.col("m") / F.col("u")
    return df.select(
        "comparison",
        "gamma_level",
        F.round("m", 6).alias("m"),
        F.round("u", 6).alias("u"),
        F.round(bf, 6).alias("bayes_factor"),
        F.round(F.log2(bf), 6).alias("log2_weight"),
    )


# ------------------------------------------------- blocking-cascade audit

def blocking_cascade_report(documents: DataFrame, gold: DataFrame) -> DataFrame:
    """Multi-pass blocking audit (Splink's cumulative-comparisons-
    per-blocking-rule analysis): for each pass of the cascade —
    (1) capped first-token equality, (2) prefix-sharded sorted
    neighborhood, (3) capped soundex-class phonetic — the candidate-pair
    count, the NEW pairs no earlier pass surfaced, the cumulative pair
    volume, and cumulative gold-pair recall.  This is the table a
    blocking configuration is tuned from: a pass whose n_new is ~0 is
    pure cost; recall_cum flat across a pass means its key adds nothing.

    Scale shape: every pass is hot-key-bounded (row_number caps on the
    equality passes; the SNM rank band emits <= 3 pairs per record).  The
    SNM shard key is the first char of the name — each shard sorts
    independently (production lengthens the prefix so no shard outgrows a
    task; 1 char here so the DuckDB oracle replays it verbatim).  Pass
    stats are scalar aggregates unioned into a
    3-row frame; nothing is collected."""
    recs = fs_gate_records(documents)
    p1 = fs_comparison_vectors(recs).select("id_a", "id_b")

    shard = F.substring(F.col("name"), 1, 1).alias("letter")
    rn = F.row_number().over(
        Window.partitionBy("letter").orderBy("name", "rec_id")
    )
    ranked = recs.select("rec_id", "name", shard).withColumn("rn", rn)
    a, b = ranked.alias("a"), ranked.alias("b")
    p2 = (
        a.join(
            b,
            (F.col("a.letter") == F.col("b.letter"))
            & (F.col("b.rn") - F.col("a.rn")).between(1, 3),
        )
        .select(
            F.least("a.rec_id", "b.rec_id").alias("id_a"),
            F.greatest("a.rec_id", "b.rec_id").alias("id_b"),
        )
        .distinct()
    )
    p3 = phonetic_pairs(
        recs, id_col="rec_id", name_col="name", max_block=MAX_BLOCK_PHONETIC
    ).select("id_a", "id_b")

    gold = gold.select("id_a", "id_b")
    n_gold = gold.agg(F.count(F.lit(1)).alias("n_gold"))

    out = None
    seen = None
    for pass_id, (name, p) in enumerate(
        [("first_token", p1), ("sorted_neighborhood", p2), ("phonetic", p3)], 1
    ):
        new = p if seen is None else p.join(seen, ["id_a", "id_b"], "left_anti")
        seen = p if seen is None else seen.unionByName(p).distinct()
        row = (
            p.agg(F.count(F.lit(1)).alias("n_pairs"))
            .crossJoin(new.agg(F.count(F.lit(1)).alias("n_new")))
            .crossJoin(seen.agg(F.count(F.lit(1)).alias("cum_pairs")))
            .crossJoin(
                seen.join(gold, ["id_a", "id_b"]).agg(
                    F.count(F.lit(1)).alias("cum_gold_hits")
                )
            )
            .crossJoin(n_gold)
            .select(
                F.lit(pass_id).cast("int").alias("pass_id"),
                F.lit(name).alias("pass"),
                "n_pairs",
                "n_new",
                "cum_pairs",
                F.round(F.col("cum_gold_hits") / F.col("n_gold"), 6).alias(
                    "recall_cum"
                ),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ------------------------------------------------ one-to-one assignment

# round cap of the mutual-best matching loop (q_one_to_one's oracle unrolls
# the same number of rounds)
_MATCH_ROUNDS = 16


def one_to_one_matches(scored: DataFrame) -> DataFrame:
    """One-to-one match assignment over scored candidate pairs — the
    constraint a cross-source linkage needs (each record links to AT
    MOST one partner; transitive closure is wrong there because two
    sources' records must pair off, not pool).  Algorithm: iterative
    locally-dominant-edge (mutual-best) matching — each round, every
    node nominates its best eligible edge (p_match >= 0.5; score DESC,
    id_a, id_b — a total order, so ties are deterministic) and an edge is
    accepted iff BOTH endpoints nominated it; matched nodes drop out and
    the next round runs on the residual graph.  With distinct weights this
    reproduces the sequential greedy matching exactly (Preis's
    locally-dominant edge argument).  Each round matches every
    locally-dominant edge in parallel — the classic distributed-matching
    result is O(log n) expected rounds, and degree-bounded blocked
    candidates converge in a few.

    The loop runs until the residual edge set is EMPTY, capped at
    _MATCH_ROUNDS rounds.  A long score-monotone chain needs one round
    per two links, so an edge set still non-empty at the cap raises
    RuntimeError: a partial matching is a plausible wrong answer.

    Scale shape: per round, one endpoint-explode (2|E| rows), one
    row_number window partitioned BY NODE (degree-bounded by the
    blocking caps, never a global sort), one groupBy(edge) mutual
    check, two anti-joins; localCheckpoint per round cuts lineage
    exactly as the CC loop does.  The only driver action is one scalar
    count per round on the (already-materialized) residual.

    Output: (id_a, id_b, p_match, match_round) — accepted matches only.
    """
    edges = scored.where(F.col("p_match") >= F.lit(0.5)).select(
        "id_a", "id_b", "p_match"
    )
    accepted = None
    for rnd in range(1, _MATCH_ROUNDS + 1):
        edges = edges.localCheckpoint(eager=True)
        if edges.isEmpty():
            break
        inc = edges.select(
            F.col("id_a").alias("node"), "id_a", "id_b", "p_match"
        ).unionByName(
            edges.select(F.col("id_b").alias("node"), "id_a", "id_b", "p_match")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("p_match").desc(), "id_a", "id_b"
        )
        best = inc.withColumn("rk", F.row_number().over(w)).where(F.col("rk") == 1)
        mutual = (
            best.groupBy("id_a", "id_b", "p_match")
            .agg(F.count(F.lit(1)).alias("n_ends"))
            .where(F.col("n_ends") == 2)
            .select(
                "id_a",
                "id_b",
                "p_match",
                F.lit(rnd).cast("int").alias("match_round"),
            )
            .localCheckpoint(eager=True)
        )
        accepted = mutual if accepted is None else accepted.unionByName(mutual)
        matched_nodes = (
            mutual.select(F.col("id_a").alias("node"))
            .unionByName(mutual.select(F.col("id_b").alias("node")))
            .distinct()
        )
        edges = edges.join(
            matched_nodes.withColumnRenamed("node", "id_a"), "id_a", "left_anti"
        ).join(
            matched_nodes.withColumnRenamed("node", "id_b"), "id_b", "left_anti"
        ).select("id_a", "id_b", "p_match")
    residual = edges.count()
    if residual:
        raise RuntimeError(
            f"one_to_one_matches: {residual} residual edges left unmatched "
            f"after {_MATCH_ROUNDS} rounds (incomplete matching)"
        )
    if accepted is None:  # no candidate edge survived the 0.5 floor
        accepted = edges.select(
            "id_a", "id_b", "p_match", F.lit(0).cast("int").alias("match_round")
        ).limit(0)
    return accepted


# ------------------------------------------------- block-size skew audit

def block_size_profile(documents: DataFrame, max_block: int = MAX_BLOCK_FS) -> DataFrame:
    """Block-size distribution audit per blocking key type — the FIRST
    report a 100 TB blocking run is sized from: how many keys, the
    hottest block, the share of records it holds (head-domain skew), and
    the candidate-pair volume the key would generate uncapped vs under
    the production row_number cap.  est_pairs_uncapped >> est_pairs_capped
    on a key type is exactly the signature that the cap (or a finer key)
    is load-bearing.

    Scale shape: one groupBy(key) per key type (map-side combining
    count), then a scalar aggregate over the key-cardinality table;
    integer-exact pair arithmetic (k*(k-1) DIV 2).  Output: one row per
    key type."""
    recs = fs_gate_records(documents)
    toks = F.filter(F.split(F.col("name"), " "), lambda t: t != "")
    ft = recs.select(F.element_at(toks, 1).alias("key"))
    sx = recs.select(soundex_key_col("name").alias("key")).where(
        F.col("key").isNotNull()
    )

    def prof(keyed: DataFrame, key_type: str, cap: int) -> DataFrame:
        sizes = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("k"))
        agg = sizes.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("k").alias("n_records"),
            F.max("k").alias("max_block_size"),
            # integer-exact k*(k-1) DIV 2 (bigint all the way) — the
            # double-division-then-truncate form loses exactness past
            # 2^53, which a 100 TB hot block can reach
            F.sum(F.expr("k * (k - 1) DIV 2")).alias("est_pairs_uncapped"),
            F.sum(
                F.expr(f"least(k, {cap}) * (least(k, {cap}) - 1) DIV 2")
            ).alias("est_pairs_capped"),
            F.round(F.max("k") / F.sum("k"), 6).alias("top_share"),
        )
        return agg.select(
            F.lit(key_type).alias("key_type"),
            "n_keys",
            "n_records",
            "max_block_size",
            "est_pairs_uncapped",
            "est_pairs_capped",
            "top_share",
        )

    return prof(ft, "first_token", max_block).unionByName(
        prof(sx, "soundex", MAX_BLOCK_PHONETIC)
    )

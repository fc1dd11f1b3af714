"""Scoring stage: candidate pairs -> scored pairs (SURVEY.md §2.8 M1-M2).

Mirrors the reference's featurize-then-dot-product scorer
(DocumentGraph.scala:232-253 featurization, GUtil.scala:434-443 dot product,
PairwiseScorer.scala:13-15) as one Arrow-batched pandas UDF over pair
batches: numpy matvec of the fixed-width feature matrix against broadcast
weights.  The IDF side-table (A2-style token counts,
ner/CorpusCounts.scala:17+) is computed as a DataFrame agg, collected (it is
bounded by the token vocabulary of *names*, tiny even at web scale after a
min-count cutoff) and broadcast into the kernel.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.features import FEATURE_NAMES, featurize_pair

# Hand-set fallback weights (margin units): exact/structural matches dominate,
# continuous sims carry typo variants past the threshold, bias pushes random
# pairs well below zero.  The trained model (ml/train.py) replaces these.
DEFAULT_WEIGHTS = {
    "jaro_winkler": 3.0,
    "levenshtein": 2.0,
    "token_jaccard": 1.5,
    "tfidf_cosine": 2.0,
    "exact_eq": 6.0,
    "last_eq": 1.0,
    "first_eq": 1.0,
    "init_last_eq": 2.0,
    "acronym_match": 12.0,
    "token_subset": 1.0,
    "token_align": 7.0,
    "bias": -12.5,
}


def weights_vector(weights: dict[str, float] | None = None) -> np.ndarray:
    w = dict(DEFAULT_WEIGHTS)
    if weights:
        w.update(weights)
    return np.array([w[name] for name in FEATURE_NAMES], dtype=np.float64)


def load_default_weights() -> np.ndarray:
    """The production weight vector: the trained AdaGrad-L1 artifact
    (tools/train_default_weights.py; the reference never scores with an
    untrained model — coref/PairwiseScorer.scala:13-15), falling back to the
    hand-set vector only when the artifact is absent.  Read through
    artifact_bytes so a spark-submit --py-files zip deployment loads it
    too (zipimport has no filesystem __file__)."""
    import io

    from berkeley_entity_spark.util import artifact_bytes

    raw = artifact_bytes("default_weights.npy")
    if raw is not None:
        w = np.load(io.BytesIO(raw))
        if w.shape == (len(FEATURE_NAMES),):
            return w
    return weights_vector()


def idf_table(
    mentions_or_surfaces: DataFrame,
    n: int | None = None,
) -> DataFrame:
    """Document-frequency-based IDF over name tokens (A2 analog):
    idf = ln((N+1)/(df+1)) + 1. Pure DataFrame agg.  Pass `n` (the row count)
    when the caller already knows it — saves a count job."""
    toks = mentions_or_surfaces.selectExpr(
        "explode(split(norm_name, ' ')) AS token"
    ).where("token != ''")
    if n is None:
        n = mentions_or_surfaces.count()
    return (
        toks.groupBy("token")
        .agg(F.expr("count(1) AS df"))
        .selectExpr("token", f"ln({float(n + 1)!r}D / (df + 1)) + 1.0D AS idf")
    )


def collect_idf(idf_df: DataFrame) -> dict[str, float]:
    """Collect the IDF table for broadcast into the scoring kernel.  Capped:
    at web scale only the most frequent terms matter (rare tokens default to
    idf=1 inside the kernel)."""
    rows = idf_df.orderBy("idf").limit(500_000).collect()
    return {r["token"]: float(r["idf"]) for r in rows}


def prune_bound_prepped(w: np.ndarray, threshold: float):
    """Admissible prune PREDICATE: True unless the pair's score provably
    cannot exceed `threshold` — the coarse model of the reference's cascade
    (CorefPruner.scala:36-47), re-expressed as a whole-stage-codegen column
    so the expensive Arrow kernel only ever sees pairs that could cross the
    decode threshold.  Exactly-computable features (levenshtein ratio,
    token jaccard, exact/last/first/init-last/acronym/subset indicators)
    contribute w*value; Python-only features (jaro_winkler, tfidf_cosine,
    token_align, all in [0, 1]) contribute max(w, 0).  The bound is
    therefore >= the kernel's true score for EVERY pair, so a consumer that
    keeps only score > threshold edges sees an identical edge set.

    Evaluated over PRE-COMPUTED per-surface columns on the two sides of a
    self-join (aliases `a` and `b`): _dt (distinct tokens), _ndt (its
    size), _first / _last (first/last token), _ntok (token count), _acr_s
    (initials string), _ln (surface length), is_acr, norm_name.  Evaluated
    on surface-pair strings instead, the bound re-splits each surface ~8x
    per candidate pair (regex split + array builds, duplicated again by
    orientation CASEs) — the per-pair cost dwarfed the shuffle it was
    saving.  Precomputing the derived values once per KEY ROW
    (O(surfaces x keys), on the small side of the join) leaves per-pair
    work at one levenshtein + one array_intersect + scalar compares.  Every
    term is symmetric in (a, b), so no orientation CASEs are needed.
    subset is equivalently intersect-size == own-distinct-size (cheaper
    than two array_excepts).

    Two-stage cascade: stage 1 replaces levenshtein_ratio by its O(1)
    length-gap upper bound (lev_dist >= |len_a - len_b|, so ratio <= 1 -
    gap/max_len; both ratios live in [0, 1]) and jaccard/subset by their
    [0, 1] suprema, leaving only scalar compares — no DP, no array walk;
    stage 2 (the full bound) runs only on stage-1 survivors via And
    short-circuit.  For a negative weight the supremum of w*value over
    [0, 1] is 0, so every stage-1 term is max'd against 0 and the stage-1
    bound dominates stage 2 for ANY weight signs, and the predicate admits
    exactly the pairs the full bound admits."""
    idx = {name: i for i, name in enumerate(FEATURE_NAMES)}
    w_lev = float(w[idx["levenshtein"]])
    w_jacc = float(w[idx["token_jaccard"]])
    lna, lnb = F.col("a._ln"), F.col("b._ln")
    max_len = F.greatest(lna, lnb)
    lev_ub = F.when(max_len == 0, F.lit(1.0)).otherwise(
        1.0 - F.abs(lna - lnb) / max_len
    )
    lev = F.when(max_len == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(F.col("a.norm_name"), F.col("b.norm_name")) / max_len
    )
    inter = F.size(F.array_intersect(F.col("a._dt"), F.col("b._dt")))
    union = F.col("a._ndt") + F.col("b._ndt") - inter
    jacc = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    exact = (F.col("a.norm_name") == F.col("b.norm_name")).cast("double")
    last_eq = (F.col("a._last") == F.col("b._last")).cast("double")
    first_eq = (F.col("a._first") == F.col("b._first")).cast("double")
    init_last = (
        (F.col("a._last") == F.col("b._last"))
        & (F.substring(F.col("a._first"), 1, 1) == F.substring(F.col("b._first"), 1, 1))
    ).cast("double")
    acronym = (
        (
            (F.col("a._ntok") == 1) & F.col("a.is_acr") & (F.col("b._ntok") > 1)
            & (F.col("a.norm_name") == F.col("b._acr_s"))
        )
        | (
            (F.col("b._ntok") == 1) & F.col("b.is_acr") & (F.col("a._ntok") > 1)
            & (F.col("b.norm_name") == F.col("a._acr_s"))
        )
    ).cast("double")
    subset = ((inter == F.col("a._ndt")) | (inter == F.col("b._ndt"))).cast("double")
    rest = (
        float(w[idx["exact_eq"]]) * exact
        + float(w[idx["last_eq"]]) * last_eq
        + float(w[idx["first_eq"]]) * first_eq
        + float(w[idx["init_last_eq"]]) * init_last
        + float(w[idx["acronym_match"]]) * acronym
        + float(w[idx["bias"]])
    )
    slack = (
        max(float(w[idx["jaro_winkler"]]), 0.0)
        + max(float(w[idx["tfidf_cosine"]]), 0.0)
        + max(float(w[idx["token_align"]]), 0.0)
    )
    w_sub = float(w[idx["token_subset"]])
    # stage 1: scalar-only admissible bound (each [0,1] term at its sup)
    lev_term = (
        w_lev * lev_ub if w_lev >= 0 else F.lit(0.0)
    )
    stage1 = (
        lev_term + max(w_jacc, 0.0) + max(w_sub, 0.0) + rest + F.lit(slack)
    ) > F.lit(threshold)
    # stage 2: the full bound
    stage2 = (
        w_lev * lev + w_jacc * jacc + w_sub * subset + rest + F.lit(slack)
    ) > F.lit(threshold)
    return stage1 & stage2


def score_pairs(
    pairs: DataFrame,
    idf: dict[str, float],
    weights: np.ndarray | None = None,
    repartition: bool = False,
    features_out: bool = True,
) -> DataFrame:
    """candidate_pairs -> scored_pairs with the FIXTURES §3 schema columns
    (jaro_winkler, levenshtein, token_jaccard, tfidf_cosine, score) plus all
    indicator features.

    repartition=True fans the input back out to the configured shuffle
    parallelism — pass it when `pairs` is a checkpointed table (often 1-2
    coalesced files) so the Python kernel runs at full width.  It is a flag,
    not an automatic `.rdd.getNumPartitions()` probe: under AQE that probe
    force-materializes the whole upstream DAG as extra jobs.

    features_out=False emits only the pass-through columns + score, and —
    mirroring the reference, which only evaluates registered feature
    templates — skips computing the two costliest Python features
    (tfidf_cosine, token_align) when their model weight is exactly 0.0
    (L1 training zeroes templates; ORACLE_ER_WEIGHTS zeroes the
    SQL-unportable ones).  Scores are bit-identical either way: a
    zero-weight feature contributes exactly 0 to the dot product.

    Never-matchable pairs are dropped upstream, inside blocking
    (candidate_pairs(prune=...) with prune_bound_prepped), before the
    pair-dedup shuffle — not here."""
    w = weights if weights is not None else load_default_weights()
    spark = pairs.sparkSession
    if repartition:
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        pairs = pairs.repartition(n_part)
    b_idf = spark.sparkContext.broadcast(idf)
    b_w = spark.sparkContext.broadcast(w)
    in_cols = pairs.columns
    need_cosine = features_out or w[FEATURE_NAMES.index("tfidf_cosine")] != 0.0
    need_align = features_out or w[FEATURE_NAMES.index("token_align")] != 0.0
    if features_out:
        out_schema = (
            ", ".join(f"{c} {t}" for c, t in pairs.dtypes)
            + ", "
            + ", ".join(f"{name} double" for name in FEATURE_NAMES if name != "bias")
            + ", score double"
        )
    else:
        out_schema = ", ".join(f"{c} {t}" for c, t in pairs.dtypes) + ", score double"
    # Levenshtein ratio JVM-side: F.levenshtein is whole-stage codegen; the
    # per-pair Python DP was the kernel's dominant cost (quadratic in surface
    # length).  Bit-identical to features.levenshtein_ratio — same integer
    # distance, same int/int double division (verified by the driver-vs-
    # distributed identity test in tests/test_train.py).
    pairs = pairs.selectExpr(
        "*",
        "CASE WHEN norm_a = norm_b THEN 1.0D "
        "WHEN length(norm_a) = 0 OR length(norm_b) = 0 THEN 0.0D "
        "ELSE 1.0D - levenshtein(norm_a, norm_b) "
        "/ greatest(length(norm_a), length(norm_b)) END AS _lev_cg",
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idf_map = b_idf.value
        wv = b_w.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = np.array(
                [
                    featurize_pair(
                        a, b, idf_map, bool(fa), bool(fb), lev=lv,
                        need_cosine=need_cosine, need_align=need_align,
                    )
                    for a, b, fa, fb, lv in zip(
                        pdf["norm_a"], pdf["norm_b"], pdf["acr_a"], pdf["acr_b"], pdf["_lev_cg"]
                    )
                ],
                dtype=np.float64,
            )
            scores = feats @ wv
            out = pdf[in_cols].copy()
            if features_out:
                for j, name in enumerate(FEATURE_NAMES):
                    if name != "bias":
                        out[name] = feats[:, j]
            out["score"] = scores
            yield out

    return pairs.mapInPandas(gen, schema=out_schema)


def match_edges(scored: DataFrame, threshold: float = 0.0) -> DataFrame:
    """scored pairs -> (u, v) match edges for transitive closure: every pair
    above the margin is an edge — correct for cross-document resolution,
    where a surface's duplicates must all connect regardless of which single
    partner scores best (the reference's within-document argmax backpointer,
    DocumentInferencerBasic.scala:116-132, would leave a node that is
    nobody's argmax a singleton even with positive-scoring pairs)."""
    above = scored.where(f"score > {float(threshold)!r}D")
    return above.selectExpr("node_b AS u", "node_a AS v")


def feature_report(scored: DataFrame) -> DataFrame:
    """A11: per-feature-template statistics over a scored-pairs table —
    (feature, nonzero_count, mean_value, weight).  The reference logs
    feature-template counts after featurization (PairwiseIndexingFeaturizer
    indexer size / template counts); here it is one aggregation + an unpivot,
    with the default scorer weight attached for inspectability."""
    w = load_default_weights()
    feat_cols = [c for c in FEATURE_NAMES if c != "bias"]
    agg = scored.agg(
        *[F.sum((F.col(c) != 0).cast("long")).alias(f"nz_{c}") for c in feat_cols],
        *[F.avg(F.col(c)).alias(f"mean_{c}") for c in feat_cols],
    )
    stack = ", ".join(f"'{c}', nz_{c}, mean_{c}" for c in feat_cols)
    long = agg.selectExpr(
        f"stack({len(feat_cols)}, {stack}) AS (feature, nonzero_count, mean_value)"
    )
    spark = scored.sparkSession
    wtab = spark.createDataFrame(
        [(name, float(w[i])) for i, name in enumerate(FEATURE_NAMES)],
        "feature string, weight double",
    )
    return long.join(F.broadcast(wtab), "feature", "left").select(
        "feature",
        F.col("nonzero_count").cast("long").alias("nonzero_count"),
        F.round("mean_value", 6).alias("mean_value"),
        "weight",
    )

"""AdaGrad-L1 training of the pairwise logistic scorer (SURVEY.md M3-M5).

Reference semantics preserved (coref/CorefFeaturizerTrainer.scala:57-123 and
:156-193, defaults Driver.java:162-179):
  * AdaGrad with eta=1.0, lambda=0.001, 20 epochs, per-example updates in a
    deterministic shuffle order (Random(0) analog — fixed-seed permutation,
    CorefSystem.scala:127).
  * L1 via the lazy soft-threshold update: w = sign(z) * max(0, |z| - offset)
    (CorefFeaturizerTrainer.scala:186-190 adagrad math).
  * Asymmetric loss weights inspired by customLoss falseLink/falseNew/
    wrongLink = 0.1/3/1 (PairwiseLossFunctions.scala:25-58): false negatives
    (missed links) cost 3x false positives, so recall is favored exactly like
    the reference's decoder loss.

The feature matrix is computed distributed (score_pairs on labeled candidate
pairs); only the (n_pairs x 10) float matrix is collected — after blocking,
labeled pairs are few, so the driver-side loop is the honest scale choice
(the reference itself trains single-node; SURVEY.md A3).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from berkeley_entity_spark.operators.features import FEATURE_NAMES

# driver-side training sample cap (content-hash order, so the sample is
# partition-independent)
MAX_TRAIN_ROWS = 200_000


def adagrad_l1_train(
    X: np.ndarray,
    y: np.ndarray,
    lambda_reg: float = 0.001,
    epochs: int = 20,
    false_neg_weight: float = 3.0,
) -> np.ndarray:
    """Binary logistic regression, AdaGrad (eta 1.0) + L1, per-example
    updates in a seed-0 permutation order; a false positive costs 1."""
    n, d = X.shape
    w = np.zeros(d)
    g2 = np.full(d, 1e-8)
    rng = np.random.RandomState(0)
    order = rng.permutation(n)
    for _ in range(epochs):
        for i in order:
            xi, yi = X[i], y[i]
            p = 1.0 / (1.0 + np.exp(-np.clip(xi @ w, -30, 30)))
            cost = false_neg_weight if yi == 1 else 1.0
            g = cost * (p - yi) * xi
            g2 += g * g
            rate = 1.0 / np.sqrt(g2)
            z = w - rate * g
            # lazy L1 soft threshold (reference adagrad L1 semantics)
            w = np.sign(z) * np.maximum(0.0, np.abs(z) - rate * lambda_reg)
    return w


def calibrate_bias(
    w: np.ndarray, X: np.ndarray, y: np.ndarray, beta: float = 0.25
) -> np.ndarray:
    """Fold the F1-optimal decision margin into the bias term.

    The trainer's probabilistic 0-margin cut optimizes weighted log-loss, but
    downstream the edges feed a TRANSITIVE CLOSURE — one false-positive edge
    merges two whole clusters, so the operating point must sit at the
    pairwise-F1 optimum, not at p=0.5.  The reference tunes the analogous
    trade through its loss weights + argmax decode
    (PairwiseLossFunctions.scala:25-58, DocumentInferencerBasic.scala:116);
    with threshold decode the honest equivalent is margin calibration on the
    training pairs.  Returned weights keep score>0 as the decision rule."""
    s = X @ w
    order = np.argsort(-s)
    y_sorted = y[order]
    s_sorted = s[order]
    tp = np.cumsum(y_sorted)
    pred = np.arange(1, len(y) + 1)
    gold = max(y.sum(), 1.0)
    # F_beta operating point.  beta=0.25 (precision-heavy) for the final
    # scorer: under threshold decode the closure REPAIRS under-linking (a
    # missed A-B edge is recovered through any A-C-B path) but AMPLIFIES
    # over-linking (one false edge merges two whole clusters).  Pruner
    # models pass beta>1 (recall-heavy) — a pruned-away gold pair is
    # unrecoverable while a kept bad pair just costs the fine model a score
    # (CorefPruner keeps generous margins for the same reason).
    beta2 = beta * beta
    prec = tp / pred
    rec = tp / gold
    fb = (1 + beta2) * prec * rec / np.maximum(beta2 * prec + rec, 1e-12)
    if len(s_sorted) == 0:
        return w.copy()
    # only tie-run END indices are ACHIEVABLE cut points under a strict
    # score>threshold rule (a mid-run index would need to keep some but not
    # all pairs with the same score); argmax over anything else can select
    # an operating point no threshold realizes and then silently degrade
    # when snapped to a run boundary
    ends = np.append(s_sorted[:-1] > s_sorted[1:], True)
    best = int(np.argmax(np.where(ends, fb, -1.0)))
    v = s_sorted[best]
    below = s_sorted[s_sorted < v]
    lo = below[0] if len(below) else v - 1.0
    thr = (v + lo) / 2.0
    w = w.copy()
    w[-1] -= thr
    return w


def train_from_scored_pairs(scored_labeled: DataFrame) -> np.ndarray:
    """scored_labeled must carry the feature columns + boolean `label`.

    Deterministic cap: order by a content hash before limiting so the sample
    is partition-independent."""
    from pyspark.sql import functions as F

    feat_cols = [c for c in FEATURE_NAMES if c != "bias"]
    df = (
        scored_labeled.select(*feat_cols, F.col("label").cast("int").alias("y"))
        .withColumn("_h", F.xxhash64(*feat_cols, "y"))
        .orderBy("_h")
        .limit(MAX_TRAIN_ROWS)
    )
    pdf = df.toPandas()
    X = np.hstack([pdf[feat_cols].to_numpy(dtype=np.float64), np.ones((len(pdf), 1))])
    y = pdf["y"].to_numpy(dtype=np.float64)
    w = adagrad_l1_train(X, y)
    return calibrate_bias(w, X, y)


def _scored_gold_pairs(mentions: DataFrame, gold_pairs: DataFrame) -> DataFrame:
    """Distinct labeled surface pairs (norm_a, norm_b, acr_a, acr_b, label)
    from gold_pairs' mention pairs, featurized by the production scoring
    kernel against the mentions' own IDF table."""
    from pyspark.sql import functions as F

    from berkeley_entity_spark.operators.blocking import distinct_surfaces
    from berkeley_entity_spark.operators.scoring import collect_idf, idf_table, score_pairs

    surfaces = distinct_surfaces(mentions).persist()
    m = mentions.select("mention_id", "norm_name")
    sn = surfaces.select("norm_name", "node_id", "is_acr")
    labeled = (
        gold_pairs.join(m.toDF("mention_a", "norm_a"), "mention_a")
        .join(m.toDF("mention_b", "norm_b"), "mention_b")
        .join(sn.toDF("norm_a", "node_a", "acr_a"), "norm_a")
        .join(sn.toDF("norm_b", "node_b", "acr_b"), "norm_b")
        .where(F.col("norm_a") != F.col("norm_b"))
        .select("norm_a", "norm_b", "acr_a", "acr_b", "label")
        .distinct()
    )
    return score_pairs(labeled, collect_idf(idf_table(surfaces)))


def train_pipeline_weights(spark, mentions, gold_pairs):
    """End-to-end trainer: label candidate-style surface pairs from
    gold_pairs, featurize them with the production scoring kernel, fit
    AdaGrad-L1, return the weight vector for run_pipeline(weights=...).

    Mirrors the reference train loop shape (CorefSystem.runTrain,
    CorefSystem.scala:122-156): lexical counts (IDF) -> featurize -> AdaGrad.
    """
    return train_from_scored_pairs(_scored_gold_pairs(mentions, gold_pairs))


def kfold_prune_models(
    spark,
    mentions: DataFrame,
    gold_pairs: DataFrame,
    k: int = 5,
) -> list[np.ndarray]:
    """M10: the reference's k-fold coarse-model build
    (CorefPruner.scala:100-153) — k pruning models, model f trained on the
    pairs OUTSIDE fold f, so every pair can later be scored by a model that
    never saw it.  Folds are deterministic content hashes of the anchor
    surface (the reference folds on document uid with a seeded shuffle —
    same generalization contract, partition-independent here).

    Returns the k weight vectors (FEATURE_NAMES order, calibrated bias)."""
    from pyspark.sql import functions as F

    feat_cols = [c for c in FEATURE_NAMES if c != "bias"]
    scored = _scored_gold_pairs(mentions, gold_pairs).withColumn(
        "fold", F.pmod(F.xxhash64("norm_a"), F.lit(k)).cast("int")
    )
    df = (
        scored.select(*feat_cols, "fold", F.col("label").cast("int").alias("y"))
        .withColumn("_h", F.xxhash64(*feat_cols, "fold", "y"))
        .orderBy("_h")
        .limit(MAX_TRAIN_ROWS)
    )
    pdf = df.toPandas()
    X = np.hstack([pdf[feat_cols].to_numpy(dtype=np.float64), np.ones((len(pdf), 1))])
    y = pdf["y"].to_numpy(dtype=np.float64)
    folds = pdf["fold"].to_numpy()
    weights = []
    for f in range(k):
        mask = folds != f
        w = adagrad_l1_train(X[mask], y[mask])
        weights.append(calibrate_bias(w, X[mask], y[mask], beta=4.0))
    return weights


def score_with_fold_models(
    pairs: DataFrame,
    idf: dict[str, float],
    fold_weights: list[np.ndarray],
) -> DataFrame:
    """Distributed fold-aware scoring: each pair is scored by the model of
    its own `fold` (which was trained WITHOUT that fold; derived from
    norm_a as in kfold_prune_models when the column is absent) — the pruner's
    apply-side (CorefPruner.scala:36-47).  One Arrow pass; the k weight
    vectors ride one broadcast."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import functions as F

    from berkeley_entity_spark.operators.features import FEATURE_NAMES, featurize_pair

    k = len(fold_weights)
    if "fold" not in pairs.columns:
        pairs = pairs.withColumn(
            "fold", F.pmod(F.xxhash64("norm_a"), F.lit(k)).cast("int")
        )
    spark = pairs.sparkSession
    b = spark.sparkContext.broadcast((idf, np.stack(fold_weights)))
    in_cols = pairs.columns
    out_schema = ", ".join(f"{c} {t}" for c, t in pairs.dtypes) + ", score double"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idf_map, W = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            feats = np.array(
                [
                    featurize_pair(a, bb, idf_map, bool(fa), bool(fb))
                    for a, bb, fa, fb in zip(
                        pdf["norm_a"], pdf["norm_b"], pdf["acr_a"], pdf["acr_b"]
                    )
                ],
                dtype=np.float64,
            )
            wsel = W[pdf["fold"].to_numpy()]
            out = pdf[in_cols].copy()
            out["score"] = np.einsum("ij,ij->i", feats, wsel)
            yield out

    return pairs.mapInPandas(gen, schema=out_schema)

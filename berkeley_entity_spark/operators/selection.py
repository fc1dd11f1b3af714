"""DSIR-style data selection: hashed n-gram importance resampling.

Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling": fit bag-of-hashed-ngram unigram models over a TARGET corpus
(the distribution you want more of) and the RAW corpus (what you have),
score every raw document with log w = sum_k c_k * (ln p_target[k] -
ln p_raw[k]) over its hashed-gram counts, and keep the top slice.  The
paper adds Gumbel noise for sampling-without-replacement; this
implementation is the deterministic variant (top-k by weight, doc_id
tie-break) so the result is engine-reproducible and SQL-oracle-able —
callers wanting the sampled variant can add the noise column upstream.

100 TB shape:

* Gram -> bucket hashing is whole-stage codegen (md5/conv arithmetic, no
  Python) and engine-portable (the DuckDB oracle computes the identical
  bucket ids via ('0x' || hex)::BIGINT).
* Both bucket-count model fits are single partially-aggregated groupBys
  bounded at `n_buckets` rows; the log-ratio table (<= n_buckets rows) is
  BROADCAST, so the scoring pass never shuffles on gram/bucket — hot
  n-grams ("the", boilerplate bigrams) cost nothing.
* The only corpus-sized exchange is the groupBy(doc_id) weight sum
  (map-side partial agg).  Top-k selection is orderBy().limit() —
  Spark's TakeOrderedAndProject: per-partition top-k then ONE bounded
  reduce; no global sort, no single-task window.
* Selection orders by the ROUNDED (6dp) weight with a doc_id tie-break:
  float sums are ulp-order-dependent across engines, so ordering on the
  rounded value is what makes the top-k deterministic and oracle-exact.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.dedup import TOKENS, tokens_col, word_ngrams_sql


def hashed_gram_buckets(
    documents: DataFrame,
    n_buckets: int = 1024,
) -> DataFrame:
    """(doc_id, bucket) — one row per unigram AND word-bigram occurrence
    (`_gram_arr`), hashed into `n_buckets` by `_bucket_of`."""
    return documents.select("doc_id", F.explode(_gram_arr()).alias("g")).select(
        "doc_id", _bucket_of(F.col("g"), n_buckets).alias("bucket")
    )


def dsir_logratio_table(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """(bucket, logratio) with logratio = ln p_target[b] - ln p_raw[b],
    both add-alpha smoothed over the full bucket space:
    p[b] = (c_b + alpha) / (N + alpha * n_buckets).  Covers every bucket
    seen in EITHER corpus (full outer join + zero-coalesce); buckets seen
    in neither never appear in a scored doc drawn from `raw`."""
    def counts(df):
        return hashed_gram_buckets(df, n_buckets).groupBy(
            "bucket"
        ).agg(F.count(F.lit(1)).alias("c"))

    rc = counts(raw).withColumnRenamed("c", "c_raw")
    tc = counts(target).withColumnRenamed("c", "c_tgt")
    n_raw, n_tgt = (
        rc.agg(F.sum("c_raw")).collect()[0][0] or 0,
        tc.agg(F.sum("c_tgt")).collect()[0][0] or 0,
    )
    denom_raw = float(n_raw) + alpha * n_buckets
    denom_tgt = float(n_tgt) + alpha * n_buckets
    j = rc.join(tc, "bucket", "full_outer").select(
        "bucket",
        (
            F.log((F.coalesce("c_tgt", F.lit(0)) + F.lit(alpha)) / F.lit(denom_tgt))
            - F.log((F.coalesce("c_raw", F.lit(0)) + F.lit(alpha)) / F.lit(denom_raw))
        ).alias("logratio"),
    )
    return j


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """(doc_id, n_grams, logw) for every raw doc with >= 1 gram; logw
    rounded to 6dp (see module docstring for why selection uses the
    rounded value)."""
    lr = dsir_logratio_table(raw, target, n_buckets, alpha)
    g = hashed_gram_buckets(raw, n_buckets)
    return (
        g.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.round(F.sum("logratio"), 6).alias("logw"),
        )
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Top-k raw docs by importance weight (logw DESC, doc_id ASC) —
    TakeOrderedAndProject, so no global sort or single-task window."""
    w = dsir_weights(raw, target)
    return w.orderBy(F.desc("logw"), F.asc("doc_id")).limit(k)


def domain_mixture(
    documents: DataFrame,
    alpha: float = 0.3,
) -> DataFrame:
    """Temperature-scaled domain sampling weights — the multilingual /
    multi-corpus mixing rule (Conneau & Lample 2019 eq. 2; the same
    alpha-scaled multinomial used for The Pile / LLaMA data mixes):
    p_d = tokens_d / total over the `source` domains,
    w_d = p_d^alpha / sum_e p_e^alpha.  alpha < 1
    up-weights small domains; `boost` = w_d / p_d is the effective
    epochs-per-domain a sampler would apply.

    One partially-aggregated groupBy(domain) — domain cardinality is tiny
    next to the corpus, so the per-domain table stays driver-broadcast
    size; the normalizing sums ride a single-row cross join, never a
    second corpus pass.  Output rounded 6dp: (domain, n_docs, n_tokens,
    p_raw, weight, boost)."""
    per = documents.groupBy(F.col("source").alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col())).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").alias("_tot"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))).alias(
            "_zsum_raw"
        ),
    )
    # p_d^alpha = (tokens_d / total)^alpha; the total^alpha factor cancels
    # in the normalization, so sum over tokens_d^alpha is enough.
    return per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("_tot"), 6).alias("p_raw"),
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
            / F.col("_zsum_raw"),
            6,
        ).alias("weight"),
        F.round(
            F.pow(F.col("n_tokens").cast("double"), F.lit(alpha))
            / F.col("_zsum_raw")
            / (F.col("n_tokens") / F.col("_tot")),
            6,
        ).alias("boost"),
    )


# --------------------------------------------------------- quality classifier
def _gram_arr():
    """In-row unigram+bigram array: the tokens, then their word bigrams
    (one array column, so scoring can fold over it without an
    explode/shuffle)."""
    return F.expr(f"concat({TOKENS}, {word_ngrams_sql(TOKENS, 2)})")


def _bucket_of(g, n_buckets: int):
    """Engine-portable gram -> bucket: the first 15 hex chars of md5 (60
    bits — exact in a signed BIGINT in both Spark and DuckDB, which
    computes the identical id via ('0x' || hex)::BIGINT)."""
    return (
        F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long") % n_buckets
    )


def classifier_features(
    documents: DataFrame, n_buckets: int = 256
) -> DataFrame:
    """(doc_id, bucket, x) — L1-normalized hashed-gram counts
    x = count(bucket in doc) / n_grams(doc).  Sparse: only buckets the doc
    actually hits.  Docs with zero grams produce no rows (disclosed — the
    trainer skips them; the scorer gives them sigmoid(bias))."""
    g = hashed_gram_buckets(documents, n_buckets)
    per = g.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    tot = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return per.join(tot, "doc_id").select(
        "doc_id", "bucket", (F.col("c") / F.col("n")).alias("x")
    )


def train_text_classifier(
    pos: DataFrame,
    neg: DataFrame,
    n_buckets: int = 256,
    epochs: int = 60,
    lr: float = 4.0,
):
    """fastText-style quality classifier (the DCLM / FineWeb-Edu filtering
    shape): full-batch logistic regression over L1-normalized hashed-gram
    bags, trained DISTRIBUTED — the corpus never reaches the driver.

    Per epoch: (1) broadcast the (n_buckets)-row weight table, join it to
    the persisted sparse feature table, groupBy(doc) partial-agg the dot
    products -> per-doc sigmoid; (2) join the per-doc error back to the
    features, groupBy(bucket) partial-agg the gradient.  Driver traffic is
    exactly n_buckets + 1 rows per epoch; both shuffles are bounded by the
    sparse feature table, which is persisted once.  Full-batch GD (not
    SGD) so the result is partitioning-independent up to float ulps.

    Returns (weights: np.ndarray[n_buckets], bias: float).
    """
    import numpy as np

    spark = pos.sparkSession
    lab = (
        pos.select(
            (F.col("doc_id") * 2).alias("doc_id"),
            "text",
            F.lit(1.0).alias("y"),
        )
        .unionByName(
            neg.select(
                (F.col("doc_id") * 2 + 1).alias("doc_id"),
                "text",
                F.lit(0.0).alias("y"),
            )
        )
    )
    feats = (
        classifier_features(lab, n_buckets)
        .join(lab.select("doc_id", "y"), "doc_id")
        .persist()
    )
    n_docs = feats.select("doc_id").distinct().count()
    if n_docs == 0:
        return np.zeros(n_buckets), 0.0
    # NBSVM-style init (Wang & Manning 2012): start GD from the closed-form
    # per-bucket Naive-Bayes log-odds (one bounded groupBy pass) instead of
    # zero — full-batch GD from zero needs hundreds of epochs to grow logits
    # through L1-normalized features, while the NB ratio already separates
    # the classes; GD then fine-tunes the discriminative boundary.
    cnt = (
        feats.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("y") == 1.0, F.col("x")).otherwise(0.0)).alias("cp"),
            F.sum(F.when(F.col("y") == 0.0, F.col("x")).otherwise(0.0)).alias("cn"),
        )
        .collect()
    )
    cp = np.zeros(n_buckets)
    cn = np.zeros(n_buckets)
    for r in cnt:
        cp[int(r["bucket"])] = r["cp"]
        cn[int(r["bucket"])] = r["cn"]
    alpha = 0.01
    w = np.log((cp + alpha) / (cp.sum() + alpha * n_buckets)) - np.log(
        (cn + alpha) / (cn.sum() + alpha * n_buckets)
    )
    b = 0.0
    for _ in range(epochs):
        wdf = spark.createDataFrame(
            [(i, float(w[i])) for i in range(n_buckets)], "bucket long, wt double"
        )
        err = (
            feats.join(F.broadcast(wdf), "bucket")
            .groupBy("doc_id", "y")
            .agg(F.sum(F.col("x") * F.col("wt")).alias("dot"))
            .select(
                "doc_id",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.col("dot") + F.lit(b))))
                    - F.col("y")
                ).alias("e"),
            )
        )
        gb = (
            feats.join(err, "doc_id")
            .groupBy("bucket")
            .agg(F.sum(F.col("x") * F.col("e")).alias("g"))
            .collect()
        )
        ge = err.agg(F.sum("e").alias("g")).collect()[0]["g"]
        grad = np.zeros(n_buckets)
        for r in gb:
            grad[int(r["bucket"])] = r["g"]
        w -= lr * grad / n_docs
        b -= lr * float(ge) / n_docs
    feats.unpersist()
    return w, b


def classifier_score(
    documents: DataFrame,
    weights,
    bias: float,
) -> DataFrame:
    """(doc_id, n_grams, logit, prob, kept = prob >= 0.5) — score every doc with the
    trained hashed-gram logistic model, entirely in-row: the weight vector
    rides as an array LITERAL into an F.aggregate fold over the gram array
    (element_at lookup per gram), so the scoring pass is one
    whole-stage-codegen projection — zero shuffles, zero Python, and hot
    grams cost nothing beyond the fold step.

    Determinism contract (same rule as dsir_weights): logit is rounded to
    6dp BEFORE the sigmoid and prob is rounded after, so the oracle's
    different summation order cannot leak past the rounding.
    """
    n_buckets = len(weights)
    warr = F.lit([float(x) for x in weights])
    grams = _gram_arr()
    sumw = F.aggregate(
        grams,
        F.lit(0.0),
        lambda acc, g: acc + F.element_at(warr, _bucket_of(g, n_buckets).cast("int") + 1),
    )
    n = F.size(grams)
    logit = F.round(
        F.lit(float(bias))
        + F.when(n > 0, sumw / n).otherwise(F.lit(0.0)),
        6,
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return documents.select(
        "doc_id",
        n.cast("bigint").alias("n_grams"),
        logit.alias("logit"),
        prob.alias("prob"),
        (prob >= F.lit(0.5)).alias("kept"),
    )


def load_default_quality_weights():
    """(weights, bias, n_buckets) trained by tools/train_quality_classifier.py,
    or None if the artifact is absent."""
    import json

    from berkeley_entity_spark.util import artifact_bytes

    raw = artifact_bytes("quality_clf.json")
    if raw is None:
        return None
    d = json.loads(raw)
    return d["weights"], d["bias"], d["n_buckets"]


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    algorithm A-ES): each row draws u in (0,1] and ranks by u^(1/w) —
    equivalently ln(u)/w — and the global top-k IS an exact weighted
    sample without replacement.  The training-data seat: sample documents
    proportional to length/quality without a quadratic pass or rejection
    loop.

    Determinism contract (the repo-standard trick): u is NOT rand() but
    the first 8 md5-hex digits of ('7|' || doc_id) + 1 over 2^32 — identical
    in both engines and under any partitioning; the rank key rounds to
    12 digits before ordering (ulp guard) with the id as final
    tie-break.  Scale shape: one codegen projection + TakeOrderedAndProject
    (per-partition top-k, k-row driver merge) — no global sort, no
    window, no shuffle of the corpus.  Rows with weight <= 0 are
    excluded (ln(u)/w flips sign — they cannot rank)."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("7|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(1 << 32))
    key = F.round(F.log(u) / F.col(weight_col), 12)
    return (
        df.where(F.col(weight_col) > 0)
        .withColumn("es_key", key)
        .orderBy(F.desc("es_key"), F.asc("doc_id"))
        .limit(k)
    )

"""Hearst / query-pair count features (SURVEY.md J8).

Reference semantics (PairwiseIndexingFeaturizerJoint.scala:306-335 +
sem/QueryCountsBundle.scala:12-36): a (head_a, head_b) pair-count table
(symmetrized) and a per-head word-count table feed four log-binned
features when the pair count is present (> 0.5):

  * unnorm bins:   int(log10(pair) + 0.5), and the x4 fine variant
  * norm bins:     int(log10(pair / (cnt_a * cnt_b)) + 0.5) (+ fine),
    with the reference's zero-guard cnt = max(cnt, pair) when a head count
    is inexplicably missing.

Only fires when the two heads differ (the reference also excludes
pronominal antecedents; surface pairs here are proper mentions).  Both
count tables are broadcast-joined — pure column math, no Python.
`.toInt` in Scala truncates toward zero; Spark's CAST(double AS INT) does
the same, so negative normalized bins match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_hearst_features(
    pairs: DataFrame,
    word_counts: DataFrame,
    pair_counts: DataFrame,
) -> DataFrame:
    """pairs(+head_a, head_b) -> + hearst_present, hearst_unnorm_bin,
    hearst_unnorm_fine_bin, hearst_norm_bin, hearst_norm_fine_bin.

    word_counts(head, cnt); pair_counts(head_x, head_y, cnt) — looked up on
    the canonicalized (least, greatest) key so the caller may pass counts
    in either orientation (the reference symmetrizes at build time)."""
    pc = pair_counts.select(
        F.least("head_x", "head_y").alias("_hx"),
        F.greatest("head_x", "head_y").alias("_hy"),
        F.col("cnt").alias("_pair_cnt"),
    ).groupBy("_hx", "_hy").agg(F.sum("_pair_cnt").alias("_pair_cnt"))
    out = (
        pairs.withColumn("_hx", F.least("head_a", "head_b"))
        .withColumn("_hy", F.greatest("head_a", "head_b"))
        .join(F.broadcast(pc), ["_hx", "_hy"], "left")
        .join(
            F.broadcast(word_counts.select(F.col("head").alias("head_a"), F.col("cnt").alias("_ca"))),
            "head_a", "left",
        )
        .join(
            F.broadcast(word_counts.select(F.col("head").alias("head_b"), F.col("cnt").alias("_cb"))),
            "head_b", "left",
        )
    )
    fires = (F.col("head_a") != F.col("head_b")) & (F.coalesce("_pair_cnt", F.lit(0.0)) > 0.5)
    p = F.col("_pair_cnt")
    # zero-guard: max(count, pairCount) (reference :325-329)
    ca = F.greatest(F.coalesce("_ca", F.lit(0.0)), p)
    cb = F.greatest(F.coalesce("_cb", F.lit(0.0)), p)
    ub = (F.log10(p) + 0.5).cast("int")
    ubf = (F.log10(p) * 4 + 0.5).cast("int")
    nb = (F.log10(p / (ca * cb)) + 0.5).cast("int")
    nbf = (F.log10(p / (ca * cb)) * 4 + 0.5).cast("int")
    return (
        out.withColumn("hearst_present", fires)
        .withColumn("hearst_unnorm_bin", F.when(fires, ub))
        .withColumn("hearst_unnorm_fine_bin", F.when(fires, ubf))
        .withColumn("hearst_norm_bin", F.when(fires, nb))
        .withColumn("hearst_norm_fine_bin", F.when(fires, nbf))
        .drop("_hx", "_hy", "_pair_cnt", "_ca", "_cb")
    )

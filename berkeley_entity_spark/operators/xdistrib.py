"""xdistrib — the component-embedding (distributed-representation) coref
featurizer (reference: xdistrib/ComponentFeaturizer.scala — per-mention
discrete COMPONENT features: common-head word with a backoff, semclass,
wiki category — and xdistrib/CorefComputerDistrib.scala:38-71 — each
component feature owns an r-dim embedding row, a mention's vector is the
SUM of its components' embeddings, and every antecedent pair's score gets
dot(vec_i, vec_j) added on top of the sparse linear score).

Spark-first re-expression, ALL whole-stage codegen (no UDF anywhere):

  * component features are string tags built with when/concat;
  * embeddings are deterministic integer lattice points derived from
    md5(feature) hex bytes — e_k(feat, d) ∈ [-100, 100] — standing in for
    the reference's seeded weightOffsets init ((rand-0.5)*0.01; training
    them jointly is the reference's AdaGrad loop, out of scope per SURVEY
    — the PIPELINE shape, which is what Spark owns, is identical).  The
    integer lattice makes every mention vector and every pair dot product
    an exact BIGINT (real-valued embedding = k/1e4, dot = dot_scaled/1e8),
    so the ENTIRE path is engine-exact and carries a full DuckDB oracle
    (q_xdistrib) — no float-rounding hazard;
  * mention vectors: explode components -> per-dim integer sums;
  * pair scores: the 8-mention antecedent window self-join + a per-dim
    product sum — at web scale both sides are per-doc partitioned and the
    vectors are DIM ints per mention, so the join carries no text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DIM = 8
SCALE = 10_000  # embedding real value = lattice int / SCALE


def component_features(mentions: DataFrame) -> DataFrame:
    """mentions(url, m_idx, norm_name) -> (url, m_idx, comps array<string>).

    ComponentFeaturizer.featurizeComponents analog: 'CHead=<head>' when
    the head (last norm_name token) is COMMON (appears >= 2
    times across the corpus mention table — the commonHeadWordCounts
    gate), else the backoff 'CHead=LEN<len>' (the headPos backoff without
    a tagger); plus 'CLen=<min(tokens,5)>' (a closed-class-free shape
    component).  Deterministic and engine-portable."""
    toks = F.split("norm_name", " ")
    head = F.element_at(toks, -1)
    m = mentions.select("url", "m_idx", "norm_name", head.alias("_head"))
    counts = m.groupBy("_head").agg(F.count(F.lit(1)).alias("_hc"))
    return (
        m.join(F.broadcast(counts), "_head")
        .select(
            "url",
            "m_idx",
            F.array(
                F.when(
                    F.col("_hc") >= 2,
                    F.concat(F.lit("CHead="), F.col("_head")),
                ).otherwise(
                    F.concat(F.lit("CHead=LEN"), F.length("_head").cast("string"))
                ),
                F.concat(
                    F.lit("CLen="),
                    F.least(F.size(F.split("norm_name", " ")), F.lit(5)).cast("string"),
                ),
            ).alias("comps"),
        )
    )


def _lattice(feat, d: int):
    """Deterministic embedding lattice point for (feature, dim d): two hex
    chars of md5(feature) -> integer in [-100, 100].  Identical SQL:
    (ascii(substr(md5(f), 2d+1, 1)) * 31 + ascii(substr(md5(f), 2d+2, 1)))
    % 201 - 100."""
    h = F.md5(feat)
    a = F.ascii(F.substring(h, 2 * d + 1, 1))
    b = F.ascii(F.substring(h, 2 * d + 2, 1))
    return ((a * 31 + b) % 201 - 100).cast("long")


def mention_vectors(comp_feats: DataFrame) -> DataFrame:
    """(url, m_idx, k0..k{DIM-1}) — per-dim INTEGER sums of the mention's
    component embeddings (CorefComputerDistrib.sum)."""
    ex = comp_feats.select(
        "url", "m_idx", F.explode("comps").alias("feat")
    )
    per = ex.select(
        "url", "m_idx",
        *[_lattice(F.col("feat"), d).alias(f"e{d}") for d in range(DIM)],
    )
    return per.groupBy("url", "m_idx").agg(
        *[F.sum(f"e{d}").alias(f"k{d}") for d in range(DIM)]
    )


def distrib_pair_scores(mention_vecs: DataFrame) -> DataFrame:
    """(url, m_idx, j, dot_scaled) for every antecedent-window pair
    (j in [m_idx - 8, m_idx)): dot_scaled = sum_d k_d(i) * k_d(j),
    an exact BIGINT; the real-valued score contribution is
    dot_scaled / SCALE^2 (CorefComputerDistrib.computeScores adds it to
    the sparse pair score)."""
    a = mention_vecs.select(
        "url", F.col("m_idx"),
        *[F.col(f"k{d}").alias(f"a{d}") for d in range(DIM)],
    )
    b = mention_vecs.select(
        "url", F.col("m_idx").alias("j"),
        *[F.col(f"k{d}").alias(f"b{d}") for d in range(DIM)],
    )
    dot = None
    for d in range(DIM):
        term = F.col(f"a{d}") * F.col(f"b{d}")
        dot = term if dot is None else dot + term
    return (
        a.join(b, "url")
        .where((F.col("j") >= F.col("m_idx") - 8) & (F.col("j") < F.col("m_idx")))
        .select("url", "m_idx", "j", dot.cast("long").alias("dot_scaled"))
    )


def add_distrib_scores(
    pair_scores: DataFrame,
    mention_vecs: DataFrame,
) -> DataFrame:
    """Sparse pair scores + the component-embedding dot product — the
    computeScores composition: score'(i, j) = score(i, j) +
    dot_scaled / SCALE^2."""
    dots = distrib_pair_scores(mention_vecs)
    return pair_scores.join(dots, ["url", "m_idx", "j"], "left").withColumn(
        "score",
        F.col("score")
        + F.coalesce(F.col("dot_scaled"), F.lit(0)) / F.lit(float(SCALE) ** 2),
    ).drop("dot_scaled")

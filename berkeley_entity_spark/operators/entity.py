"""Entity-level (cluster-level) second inference pass (SURVEY.md §2.8).

The reference's entity-centric decode (DocumentInferencerRahman.scala:50-113
+ EntityFeaturizer.scala:38-84): after a first pairwise decode produces
PROVISIONAL entities, each candidate link (i -> j) is re-scored with features
over j's current cluster — how many of its members agree / disagree with i's
attribute values — bucketed by EntityFeaturizer.bucketCount
(EntityFeaturizer.scala:132-139: exact "count/denom" strings up to denom 2,
then NONE / AL1 / MANY / ALL), and the bucket weights shift the link score
before the argmax assignment.

Distributed analog over the surface graph (the reference walks mentions
sequentially, updating clusters as it goes; at 10^12 pages the sequential
chain is the one thing that cannot be distributed, so this operator runs the
standard BATCH relaxation — one synchronous refinement round against the
previous iteration's clusters, repeatable):

  1. provisional clusters  = threshold decode + connected components;
  2. per-(cluster, attribute-value) count cells + per-cluster sizes — one
     aggregation each, all codegen;
  3. every scored candidate pair is re-scored: for each attribute and each
     direction, the count of the pair's OWN value inside the PARTNER side's
     provisional cluster is bucketed and the bucket's weight added to the
     pairwise margin (UNKNOWN attribute values contribute nothing — web
     mentions are frequently untyped and must not be penalized for it);
  4. edges are re-cut / re-admitted at the same threshold (match_edges'
     default margin, the pipeline's decode) -> final closure.

Merging and splitting both happen: a disagreeing-cluster link drops below
threshold (split); a borderline link whose partner cluster agrees is lifted
above it (merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.clustering import connected_components
from berkeley_entity_spark.operators.scoring import match_edges

# Hand-set bucket weights (margin units), one shared table per attribute —
# the reference learns one weight per bucket string the same way
# (EntityFeaturizer feature names "EntityAgree...=BUCKET").  DELIBERATELY
# ASYMMETRIC: disagreement with an established cluster costs up to -1.5,
# while agreement lifts are capped at +0.25 — on web text the majority
# attribute values (SINGULAR, a common gender) agree by chance, so a
# symmetric lift over-merges: measured on the 1k-page corpus, lifts of
# ±0.5 dragged e2e pairwise precision from 1.0 to 0.922 (admitting
# negative-margin pairs down to -2.0), while this table keeps F1 at 1.0
# and still splits attribute-contradicting links (tests/test_entity.py).
# the mention attributes the consensus table and refinement compare
ATTR_COLS = ("number", "gender")
BUCKET_WEIGHTS = {
    "0/1": -0.5,
    "1/1": 0.25,
    "0/2": -1.0,
    "1/2": 0.0,
    "2/2": 0.25,
    "NONE": -1.5,
    "AL1": -0.25,
    "MANY": 0.1,
    "ALL": 0.25,
}


def bucket_count_col(count, denom):
    """Column port of EntityFeaturizer.bucketCount (scala:132-139): exact
    'count/denom' when denom <= 2, else NONE / AL1 (<= denom/2, Int
    division) / MANY (< denom) / ALL."""
    return (
        F.when(
            denom <= 2,
            F.concat(count.cast("string"), F.lit("/"), denom.cast("string")),
        )
        .when(count == 0, F.lit("NONE"))
        .when(count <= F.floor(denom / 2), F.lit("AL1"))
        .when(count < denom, F.lit("MANY"))
        .otherwise(F.lit("ALL"))
    )


def cluster_attribute_consensus(
    assign: DataFrame,
    attrs: DataFrame,
    key: str = "mention_id",
) -> DataFrame:
    """Per-cluster attribute consensus table:
    (cluster_id, n_members, {attr}_majority, {attr}_agree, {attr}_bucket).

    majority = most frequent value (ties -> lexicographically smallest, an
    orderable-type-safe rule); agree = its member count; bucket = the
    reference's bucketCount of (agree, n_members).  Pure aggregations."""
    j = assign.select(key, "cluster_id").join(attrs, key)
    out = j.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    for c in ATTR_COLS:
        cell = j.groupBy("cluster_id", c).agg(F.count(F.lit(1)).alias("_n"))
        maj = cell.groupBy("cluster_id").agg(
            F.min_by(
                c, F.struct((-F.col("_n")).alias("_neg"), F.col(c))
            ).alias(f"{c}_majority"),
            F.max("_n").alias(f"{c}_agree"),
        )
        out = out.join(maj, "cluster_id").withColumn(
            f"{c}_bucket",
            bucket_count_col(F.col(f"{c}_agree"), F.col("n_members")),
        )
    return out


def _bucket_weight_col(bucket_col, weights: dict[str, float]):
    expr = F.lit(0.0)
    for name, w in weights.items():
        expr = F.when(bucket_col == name, F.lit(float(w))).otherwise(expr)
    return expr


def entity_refine(
    scored: DataFrame,
    components: DataFrame,
    node_attrs: DataFrame,
) -> DataFrame:
    """One entity-level refinement round over surface nodes.

    scored:      candidate pairs with (node_a, node_b, score) — the pairwise
                 margins from score_pairs.
    components:  (node_id, component) — the PROVISIONAL clustering (first
                 decode's connected components).  Nodes absent are singleton
                 provisional clusters (their own component).
    node_attrs:  (node_id, *ATTR_COLS) — e.g. per-surface majority
                 number/gender from the P11 properties stage.

    Returns refined (u, v) match edges: score adjusted by the bucketed
    agreement of each side's attribute values against the OTHER side's
    provisional cluster (both directions, all attributes), re-thresholded.
    Run connected_components + assign_clusters on the result for the final
    entities."""
    prov = (
        node_attrs.join(components, "node_id", "left")
        .withColumn("component", F.coalesce("component", "node_id"))
    )
    sizes = prov.groupBy("component").agg(F.count(F.lit(1)).alias("_csize"))
    adjusted = scored
    for side, other in (("a", "b"), ("b", "a")):
        # this side's own attribute values + the partner's provisional
        # cluster id, joined onto the pair
        own = prov.select(
            F.col("node_id").alias(f"node_{side}"),
            *[F.col(c).alias(f"{c}_{side}") for c in ATTR_COLS],
        )
        comp = prov.select(
            F.col("node_id").alias(f"node_{other}"),
            F.col("component").alias(f"_comp_{other}"),
        )
        adjusted = adjusted.join(own, f"node_{side}", "left").join(
            comp, f"node_{other}", "left"
        )
    for c in ATTR_COLS:
        cells = prov.groupBy("component", c).agg(F.count(F.lit(1)).alias("_n"))
        for side, other in (("a", "b"), ("b", "a")):
            # my value's support inside the partner's cluster
            cell = cells.select(
                F.col("component").alias(f"_comp_{other}"),
                F.col(c).alias(f"{c}_{side}"),
                F.col("_n").alias(f"_agree_{c}_{side}"),
            )
            sz = sizes.select(
                F.col("component").alias(f"_comp_{other}"),
                F.col("_csize").alias(f"_sz_{other}"),
            )
            adjusted = (
                adjusted.join(cell, [f"_comp_{other}", f"{c}_{side}"], "left")
                .join(sz, f"_comp_{other}", "left")
                .withColumn(f"_agree_{c}_{side}", F.coalesce(f"_agree_{c}_{side}", F.lit(0)))
                .withColumn(
                    f"_adj_{c}_{side}",
                    F.when(
                        (F.col(f"{c}_{side}") == "UNKNOWN")
                        | F.col(f"{c}_{side}").isNull()
                        | F.col(f"_sz_{other}").isNull(),
                        F.lit(0.0),
                    ).otherwise(
                        _bucket_weight_col(
                            bucket_count_col(
                                F.col(f"_agree_{c}_{side}"), F.col(f"_sz_{other}")
                            ),
                            BUCKET_WEIGHTS,
                        )
                    ),
                )
                .drop(f"_sz_{other}")
            )
    adj_sum = sum(
        (F.col(f"_adj_{c}_{side}") for c in ATTR_COLS for side in ("a", "b")),
        F.lit(0.0),
    )
    refined = adjusted.withColumn("score", F.col("score") + adj_sum)
    return match_edges(refined)


def refine_components(
    scored: DataFrame,
    components: DataFrame,
    node_attrs: DataFrame,
) -> DataFrame:
    """entity_refine + closure: the full second pass, returning the refined
    (node_id, component) mapping ready for assign_clusters."""
    edges = entity_refine(scored, components, node_attrs)
    return connected_components(edges)

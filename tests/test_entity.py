"""Entity-level second pass (DocumentInferencerRahman / EntityFeaturizer
analog): bucket math, consensus table, split/merge behavior, e2e F1."""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.entity import (
    bucket_count_col,
    cluster_attribute_consensus,
    entity_refine,
)


def test_bucket_count_reference_rule(spark):
    """EntityFeaturizer.scala:132-139: exact strings up to denom 2, then
    NONE / AL1 (<= denom/2 with Int division) / MANY / ALL."""
    rows = [(0, 1), (1, 1), (0, 2), (1, 2), (2, 2),
            (0, 3), (1, 3), (2, 3), (3, 3), (2, 4), (3, 4), (4, 4)]
    df = spark.createDataFrame(rows, "c int, d int").withColumn(
        "b", bucket_count_col(F.col("c"), F.col("d"))
    )
    got = {(r["c"], r["d"]): r["b"] for r in df.collect()}
    assert got == {
        (0, 1): "0/1", (1, 1): "1/1", (0, 2): "0/2", (1, 2): "1/2",
        (2, 2): "2/2", (0, 3): "NONE", (1, 3): "AL1", (2, 3): "MANY",
        (3, 3): "ALL", (2, 4): "AL1", (3, 4): "MANY", (4, 4): "ALL",
    }


def test_cluster_attribute_consensus(spark):
    assign = spark.createDataFrame(
        [(i, "c1") for i in range(3)] + [(i, "c2") for i in range(3, 5)],
        "mention_id long, cluster_id string",
    )
    attrs = spark.createDataFrame(
        [(0, "SINGULAR", "MALE"), (1, "SINGULAR", "MALE"),
         (2, "PLURAL", "MALE"), (3, "SINGULAR", "FEMALE"),
         (4, "SINGULAR", "MALE")],
        "mention_id long, number string, gender string",
    )
    got = {r["cluster_id"]: r for r in cluster_attribute_consensus(assign, attrs).collect()}
    c1 = got["c1"]
    assert c1["n_members"] == 3
    assert c1["number_majority"] == "SINGULAR" and c1["number_agree"] == 2
    assert c1["number_bucket"] == "MANY"
    assert c1["gender_majority"] == "MALE" and c1["gender_bucket"] == "ALL"
    c2 = got["c2"]
    # tie 1-1 -> lexicographically smaller value wins
    assert c2["gender_majority"] == "FEMALE" and c2["gender_agree"] == 1
    assert c2["gender_bucket"] == "1/2"


def test_entity_refine_splits_and_merges(spark):
    """A pairwise-positive link whose attributes disagree with the partner's
    provisional cluster is CUT; a pairwise-negative link with full cluster
    agreement is ADMITTED; in-cluster links survive."""
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (4, 4), (5, 4), (6, 4)], "node_id long, component long"
    )
    attrs = spark.createDataFrame(
        [(1, "SINGULAR", "MALE"), (2, "SINGULAR", "MALE"),
         (3, "SINGULAR", "FEMALE"), (4, "SINGULAR", "MALE"),
         (5, "SINGULAR", "MALE"), (6, "SINGULAR", "MALE"),
         (7, "SINGULAR", "MALE")],
        "node_id long, number string, gender string",
    )
    scored = spark.createDataFrame(
        [(3, 1, 0.3),    # positive but gender disagrees with {1,2} -> cut
         (7, 4, -0.2),   # negative but full agreement with {4,5,6} -> admitted
         (2, 1, 0.4)],   # in-cluster -> survives
        "node_a long, node_b long, score double",
    )
    edges = {(r["u"], r["v"]) for r in entity_refine(scored, comps, attrs).collect()}
    assert edges == {(1, 2), (4, 7)}


def test_entity_refine_unknown_is_neutral(spark):
    """UNKNOWN attribute values contribute zero adjustment — untyped web
    mentions must not be penalized."""
    comps = spark.createDataFrame([(1, 1), (2, 1)], "node_id long, component long")
    attrs = spark.createDataFrame(
        [(1, "UNKNOWN", "UNKNOWN"), (2, "UNKNOWN", "UNKNOWN"),
         (3, "UNKNOWN", "UNKNOWN")],
        "node_id long, number string, gender string",
    )
    scored = spark.createDataFrame(
        [(3, 1, 0.3), (3, 2, -0.1)], "node_a long, node_b long, score double"
    )
    edges = {(r["u"], r["v"]) for r in entity_refine(scored, comps, attrs).collect()}
    assert edges == {(1, 3)}  # scores unchanged: only the positive survives


@pytest.mark.slow
def test_entity_pass_does_not_degrade_f1(spark, tiny_corpus):
    """e2e: running the second pass on the full synth pipeline must keep
    pairwise F1 >= 0.99 (the reference's entity features refine, never
    wreck, a good pairwise decode)."""
    import tempfile

    from berkeley_entity_spark.config import PipelineConfig
    from berkeley_entity_spark.evaluate import pairwise_f1_combinatorial
    from berkeley_entity_spark.operators.blocking import distinct_surfaces
    from berkeley_entity_spark.operators.clustering import (
        assign_clusters,
        connected_components,
    )
    from berkeley_entity_spark.operators.entity import refine_components
    from berkeley_entity_spark.operators.scoring import match_edges
    from berkeley_entity_spark.plans.checkpoint import CheckpointStore
    from berkeley_entity_spark.plans.pipeline import run_pipeline

    _, pages, gold = tiny_corpus
    root = tempfile.mkdtemp(prefix="entity_e2e_")
    res = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=root),
        store=CheckpointStore(root), resume=False,
    )
    surfaces = distinct_surfaces(res.mentions).persist()
    n_surfaces = surfaces.count()
    comp0 = connected_components(match_edges(res.scored))
    # surface-level attributes: majority number/gender over the surface's
    # mentions (ties -> smaller value)
    node_attrs = (
        res.mentions.join(surfaces.select("norm_name", "node_id"), "norm_name")
        .groupBy("node_id")
        .agg(
            F.min_by("number", F.struct(F.lit(0), F.col("number"))).alias("number"),
            F.min_by("gender", F.struct(F.lit(0), F.col("gender"))).alias("gender"),
        )
    )
    comp1 = refine_components(res.scored, comp0, node_attrs)
    clusters = assign_clusters(res.mentions, surfaces, comp1, n_surfaces=n_surfaces)
    gid = gold.where("lang = 'en'").select("mention_id", "entity_id")
    f1 = pairwise_f1_combinatorial(clusters, gid)
    assert f1["f1"] >= 0.99, f1

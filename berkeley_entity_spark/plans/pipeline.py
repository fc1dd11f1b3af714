"""The end-to-end ER pipeline (SURVEY.md §3.1 lifecycle, Spark form).

extract -> block -> score -> cluster, each stage checkpointed (resume-safe)
with lineage metrics; mirrors Driver -mode COREF_PREDICT
(CorefSystem.scala:215-227) with blocking playing the pruner's role.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from berkeley_entity_spark.config import PipelineConfig
from berkeley_entity_spark.operators.blocking import (
    candidate_pairs,
    distinct_surfaces,
)
from berkeley_entity_spark.operators.clustering import (
    assign_clusters,
    connected_components,
)
from berkeley_entity_spark.operators.extract import extract_mentions
from berkeley_entity_spark.operators.scoring import (
    collect_idf,
    idf_table,
    load_default_weights,
    match_edges,
    score_pairs,
)
from berkeley_entity_spark.plans.checkpoint import CheckpointStore


@dataclass
class PipelineResult:
    mentions: DataFrame
    pairs: DataFrame
    scored: DataFrame
    clusters: DataFrame


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: PipelineConfig,
    weights: np.ndarray | None = None,
    store: CheckpointStore | None = None,
    resume: bool = True,
    lang: str | None = "en",
    numgender: DataFrame | None = None,
) -> PipelineResult:
    """webpages -> clusters(mention_id, cluster_id).

    lang filter happens before extraction (partition-prunable predicate at
    the source scan).  Stage tables: mentions, candidate_pairs, scored_pairs,
    clusters — kill the job between any two and a rerun resumes.

    numgender: Bergsma-Lin-style count table for the properties stage; when
    None, the synthetic stand-in is generated (the reference
    unconditionally loads gender.data the same way).
    """
    if store is None:
        store = CheckpointStore(cfg.checkpoint_dir)

    def stage(df: DataFrame, name: str) -> DataFrame:
        return store.materialize(df, name, resume=resume)

    if lang is not None:
        pages = pages.where(F.col("lang") == lang)

    if resume and store.exists("mentions"):
        mentions = store.load(spark, "mentions")
    else:
        # imported here, not at module top: erbench's ledger wraps
        # with_number_gender on the properties module, which a top-level
        # import would bypass
        from berkeley_entity_spark.operators.properties import with_number_gender
        from berkeley_entity_spark.synth import generate_numgender

        if numgender is None:
            numgender = generate_numgender(spark)
        # person proxy for untyped web mentions: multi-token non-acronym
        # span whose head + preceding token are capitalized (the gate inside
        # computeGenderPerson); org spans route their neuter-dominant org
        # word through the same path and still come out NEUTRAL
        person = F.expr("size(split(span, ' ')) >= 2 AND NOT is_acr")
        # with_number_gender reads its input three times (key count,
        # broadcast build side, join-back probe); the lazy cache, filled by
        # the first of them, runs the Python extract kernel once for all
        extracted = extract_mentions(pages).persist()
        try:
            mentions = stage(
                with_number_gender(extracted, numgender, person_expr=person),
                "mentions",
            )
        finally:
            extracted.unpersist()
    surfaces = distinct_surfaces(mentions).persist()
    try:
        n_surfaces = surfaces.count()  # materializes the cache; reused below
        pairs = stage(candidate_pairs(surfaces, n_surfaces), "candidate_pairs")

        idf = collect_idf(idf_table(surfaces, n=n_surfaces))
        w = weights if weights is not None else load_default_weights()
        scored = stage(score_pairs(pairs, idf, w, repartition=True), "scored_pairs")

        edges = match_edges(scored)
        components = connected_components(edges)
        clusters = stage(
            assign_clusters(mentions, surfaces, components, n_surfaces=n_surfaces),
            "clusters",
        )
    finally:
        # The clusters stage is the last reader of the surface cache and of
        # the caches built on it (candidate_pairs' ranked key table); every
        # frame returned below is a re-read of a written stage table.
        # Spark's cascading uncache drops them all, where PySpark's
        # unpersist() would drop only the surface cache.
        spark._jsparkSession.sharedState().cacheManager().uncacheQuery(
            surfaces._jdf, True
        )
    return PipelineResult(mentions, pairs, scored, clusters)

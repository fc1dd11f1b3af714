#!/usr/bin/env python3
"""Freeze the q_er_pipeline oracle inputs (round-5 de-pinning: 3 pins -> 2).

q_er_pipeline's golden pin is replaced by a full DuckDB re-derivation of
the trained-model pipeline.  This tool freezes and audits everything the
oracle needs:

  * fixtures/synth_pages_300_40_en.parquet — the en-filtered synthetic
    corpus (url, text) the query runs on, committed so the DuckDB oracle
    reads the SAME input the Spark generator produces (tests assert
    generator == fixture);
  * a KNIFE-EDGE AUDIT: the oracle replays all 12 trained features
    (ml/default_weights.npy embedded as exact double literals), and the
    two float-heavy ones (tfidf_cosine's idf sums, the score dot product)
    are only summation-order-identical to ~1e-13 — so the audit asserts
    min |score - threshold| over ALL candidate pairs is >= 1e-6, making
    every edge decision engine-identical;
  * an F1 re-verification: pairwise F1 >= 0.99 vs gold on this corpus
    with the shipped weights (the BASELINE criterion — same check the pin
    tool ran, now accompanying a real oracle instead of replacing it).

Run: python tools/freeze_er_pipeline_oracle.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from berkeley_entity_spark.config import SynthConfig  # noqa: E402
from berkeley_entity_spark.evaluate import pairwise_f1_combinatorial  # noqa: E402
from berkeley_entity_spark.operators.blocking import (  # noqa: E402
    candidate_pairs,
    distinct_surfaces,
)
from berkeley_entity_spark.operators.clustering import (  # noqa: E402
    assign_clusters,
    connected_components,
)
from berkeley_entity_spark.operators.extract import extract_mentions  # noqa: E402
from berkeley_entity_spark.operators.scoring import (  # noqa: E402
    collect_idf,
    idf_table,
    match_edges,
    score_pairs,
)
from berkeley_entity_spark.session import get_spark  # noqa: E402
from berkeley_entity_spark.synth import generate_webpages, gold_with_ids  # noqa: E402

FIXTURE = os.path.join(REPO, "fixtures", "synth_pages_300_40_en.parquet")
THRESHOLD = 0.0  # match_edges default — q_er_pipeline's decode margin


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    pages, gold = generate_webpages(spark, SynthConfig(n_pages=300, n_entities=40))
    en = pages.where("lang = 'en'")
    m = extract_mentions(en).localCheckpoint(eager=True)
    surfaces = distinct_surfaces(m).persist()
    n_surfaces = surfaces.count()
    pairs = candidate_pairs(surfaces, n_surfaces)
    idf = collect_idf(idf_table(surfaces, n=n_surfaces))
    scored = score_pairs(pairs, idf)  # default trained weights
    from pyspark.sql import functions as F

    gap, n_pairs = scored.select(
        F.min(F.abs(F.col("score") - F.lit(THRESHOLD))).alias("g"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    print(f"candidate pairs: {n_pairs}, min |score - threshold|: {gap:.3e}")
    if gap < 1e-6:
        raise SystemExit("knife-edge: a candidate score sits at the threshold")
    comp = connected_components(match_edges(scored, threshold=THRESHOLD))
    clusters = assign_clusters(m, surfaces, comp, n_surfaces=n_surfaces)
    gold_ids = gold_with_ids(gold.where("lang = 'en'"))
    f1 = pairwise_f1_combinatorial(
        clusters, gold_ids.select("mention_id", "entity_id")
    )["f1"]
    print(f"pairwise F1 (shipped weights, fixture corpus): {f1:.4f}")
    if f1 < 0.99:
        raise SystemExit("shipped weights miss the F1 >= 0.99 gate")
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    en.select("url", "text").toPandas().sort_values("url").to_parquet(
        FIXTURE, index=False
    )
    print(f"wrote {FIXTURE} ({en.count()} pages, {n_surfaces} surfaces)")


if __name__ == "__main__":
    main()

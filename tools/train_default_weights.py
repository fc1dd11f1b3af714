"""Train the default pairwise-scorer weights artifact (S8 + verdict task 4).

Trains AdaGrad-L1 on labeled gold pairs from the deterministic synthetic
corpus (the same generator the e2e tests use), evaluates trained vs hand-set
weights end-to-end, and writes the artifact the pipeline loads by default:
berkeley_entity_spark/ml/default_weights.npy

Usage: python tools/train_default_weights.py [n_pages] [n_entities]
"""

from __future__ import annotations

import os
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from berkeley_entity_spark.config import PipelineConfig, SynthConfig  # noqa: E402
from berkeley_entity_spark.evaluate import pairwise_f1_combinatorial  # noqa: E402
from berkeley_entity_spark.ml.train import train_pipeline_weights  # noqa: E402
from berkeley_entity_spark.operators.extract import extract_mentions  # noqa: E402
from berkeley_entity_spark.operators.features import FEATURE_NAMES  # noqa: E402
from berkeley_entity_spark.operators.scoring import weights_vector  # noqa: E402
from berkeley_entity_spark.plans.checkpoint import CheckpointStore  # noqa: E402
from berkeley_entity_spark.plans.pipeline import run_pipeline  # noqa: E402
from berkeley_entity_spark.session import get_spark  # noqa: E402
from berkeley_entity_spark.synth import generate_webpages, gold_pair_table, gold_with_ids  # noqa: E402

OUT = os.path.join(ROOT, "berkeley_entity_spark", "ml", "default_weights.npy")


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_entities = int(sys.argv[2]) if len(sys.argv) > 2 else 80
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    # train split: a DIFFERENT seed than the eval corpus so the artifact is
    # not trained on its own test set
    train_pages, train_gold = generate_webpages(
        spark, SynthConfig(n_pages=n_pages, n_entities=n_entities, seed=7)
    )
    train_pages = train_pages.where("lang = 'en'")
    mentions = extract_mentions(train_pages).localCheckpoint(eager=True)
    gp = gold_pair_table(gold_with_ids(train_gold.where("lang = 'en'")))
    w = train_pipeline_weights(spark, mentions, gp)
    print("trained weights:")
    for name, val in zip(FEATURE_NAMES, w):
        print(f"  {name:14s} {val:+.4f}")

    # eval on the standard corpus (seed 42) — trained vs hand-set, e2e
    eval_pages, eval_gold = generate_webpages(
        spark, SynthConfig(n_pages=1000, n_entities=60)
    )
    results = {}
    for tag, wv in (("trained", w), ("hand_set", weights_vector())):
        root = f"/tmp/bes_train_eval_{tag}"
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        res = run_pipeline(
            spark, eval_pages, PipelineConfig(checkpoint_dir=root),
            weights=wv, store=CheckpointStore(root), resume=False,
        )
        f1 = pairwise_f1_combinatorial(
            res.clusters,
            gold_with_ids(eval_gold.where("lang = 'en'")).select(
                "mention_id", "entity_id"
            ),
        )
        results[tag] = f1
        print(tag, f1)
    np.save(OUT, w)
    print(f"saved {OUT}")
    assert results["trained"]["f1"] >= 0.99, results
    assert results["trained"]["f1"] >= results["hand_set"]["f1"] - 1e-9, results


if __name__ == "__main__":
    main()

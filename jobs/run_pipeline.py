#!/usr/bin/env python3
"""spark-submit entry point for the ER pipeline (SURVEY.md §7 contract).

Cluster:
  spark-submit --py-files dist/jobs.zip jobs/run_pipeline.py \
      --input warehouse.webpages --checkpoint-dir /mnt/ckpt --lang en

Local / synthetic (sandbox):
  python jobs/run_pipeline.py --scale small --checkpoint-dir /tmp/er_ckpt

--input accepts either a parquet path (contains '/', read through
sources.loader.load_webpages, which prunes the html column at the scan) or a
catalog table name.  --lang all reads every page (run_pipeline's lang=None),
for an input with no lang column.
Stage tables land under --checkpoint-dir, a filesystem path (local or a
mounted object store; a URI such as s3://… is refused, because the resume
markers are plain files); a rerun with the same dir resumes
from the last completed stage (kill-safe at every boundary).  Exit prints one
JSON line with per-stage row counts and the cluster count.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="parquet path or table name")
    ap.add_argument("--scale", default=None, choices=["tiny", "small", "bench"],
                    help="generate the deterministic synthetic corpus instead")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--lang", default="en",
                    help="keep pages of this lang; 'all' keeps every page "
                         "(input without a lang column)")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--weights", default=None,
                    help="npy file with trained scorer weights")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()
    if not args.input and not args.scale:
        ap.error("one of --input / --scale is required")

    import numpy as np

    from berkeley_entity_spark.config import PipelineConfig, scale_config
    from berkeley_entity_spark.plans.pipeline import run_pipeline
    from berkeley_entity_spark.session import get_spark
    from berkeley_entity_spark.sources.loader import load_webpages
    from berkeley_entity_spark.synth import generate_webpages

    spark = get_spark(
        app_name="er-pipeline", shuffle_partitions=args.shuffle_partitions
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.scale:
        pages, _ = generate_webpages(spark, scale_config(args.scale))
    elif "/" in args.input:
        pages = load_webpages(spark, args.input)
    else:
        pages = spark.read.table(args.input)

    weights = np.load(args.weights) if args.weights else None
    res = run_pipeline(
        spark, pages, PipelineConfig(checkpoint_dir=args.checkpoint_dir),
        weights=weights,
        resume=not args.no_resume,
        lang=None if args.lang == "all" else args.lang,
    )
    out = {
        "mentions": res.mentions.count(),
        "candidate_pairs": res.pairs.count(),
        "scored_pairs": res.scored.count(),
        "cluster_assignments": res.clusters.count(),
        "clusters": res.clusters.select("cluster_id").distinct().count(),
        "checkpoint_dir": args.checkpoint_dir,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()

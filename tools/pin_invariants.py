"""Regenerate INVARIANTS.json — the pinned golden values for the driver
queries whose full outputs are not SQL-derivable.  Since the round-5
de-pinnings (q_er_pipeline r5-early, q_ner_tags r5 — both now have full
DuckDB SQL re-derivation oracles), only q_joint_entity (iterative BP)
remains pinned; its deterministic-seed invariant summary is stable across
partitioning, parallelism and reruns.

These are GOLDEN-PINNED oracles (self-derived), not independent SQL
re-derivations — they prove determinism/regression only.  To keep a repin
from silently blessing a behavior regression, this tool FIRST runs the
independent end-to-end check (pairwise F1 vs synthetic gold on the same
corpus the pinned query uses) and refuses to write if F1 < 0.99.

Run after any DELIBERATE change to the synthetic corpus, the extract kernel,
the scorer/weights, or the clustering; commit the diff.  An unexplained
change in these values is a regression — investigate before repinning.

Usage: python tools/pin_invariants.py
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from berkeley_entity_spark.session import get_spark  # noqa: E402

OUT = os.path.join(ROOT, "INVARIANTS.json")
# query -> the sf dir its pin is collected at.  q_joint_entity reads
# sf_dir, so its pin uses sf0.01 — the scale the driver's correctness gate
# runs at.
PINNED = {**entrymod.PIN_SF_DIR}
MIN_F1 = 0.99


def check_gold_f1(spark) -> float:
    """Independent correctness gate: run the full pipeline on the SAME
    deterministic corpus q_er_pipeline summarizes (300 pages / 40 entities)
    and score its clusters against the synthetic gold."""
    import tempfile

    from berkeley_entity_spark.config import PipelineConfig, SynthConfig
    from berkeley_entity_spark.evaluate import pairwise_f1_combinatorial
    from berkeley_entity_spark.plans.checkpoint import CheckpointStore
    from berkeley_entity_spark.plans.pipeline import run_pipeline
    from berkeley_entity_spark.synth import generate_webpages, gold_with_ids

    pages, gold = generate_webpages(spark, SynthConfig(n_pages=300, n_entities=40))
    root = tempfile.mkdtemp(prefix="pin_gate_")
    cfg = PipelineConfig(checkpoint_dir=root)
    res = run_pipeline(spark, pages, cfg, store=CheckpointStore(root), resume=False)
    gid = gold_with_ids(gold.where("lang = 'en'")).select("mention_id", "entity_id")
    f1 = pairwise_f1_combinatorial(res.clusters, gid)
    return float(f1["f1"])


def check_joint_kernel(spark) -> bool:
    """Independent gate for the q_joint_entity pin: the REAL BP kernel with
    a nonzero gated agreement weight must hash-match its closed-form DuckDB
    re-derivation (q_joint_pair) on sf0.001 — if the kernel regressed, this
    fails and the pin is refused."""
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracles import table_signature

    sdf = entrymod.queries()["q_joint_pair"](spark, "/root/testdata/sf0.001")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    res = con.sql(entrymod.oracle_sql()["q_joint_pair"])
    sc_, sn, sh, _ = table_signature(sdf.columns, [tuple(r) for r in sdf.collect()])
    oc, on_, oh, _ = table_signature(res.columns, res.fetchall())
    return sc_ == oc and sn == on_ and sh == oh


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    f1 = check_gold_f1(spark)
    print(f"gold-F1 gate: {f1:.4f} (threshold {MIN_F1})")
    if f1 < MIN_F1:
        print("REFUSING to repin: end-to-end F1 below threshold — the change "
              "being pinned is a regression, not a deliberate behavior change.")
        sys.exit(1)
    if not check_joint_kernel(spark):
        print("REFUSING to repin: the joint BP kernel no longer matches its "
              "closed-form q_joint_pair oracle — regression, not a deliberate "
              "behavior change.")
        sys.exit(1)
    print("joint-kernel gate: q_joint_pair closed-form replay OK")
    qs = entrymod.queries()
    data: dict[str, list[list]] = {}
    for name, sf_dir in PINNED.items():
        rows = qs[name](spark, sf_dir).collect()
        data[name] = sorted([list(r) for r in rows])
        print(f"{name}: {len(rows)} invariant rows")
    with open(OUT, "w") as f:
        json.dump(data, f, indent=1, default=str)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()

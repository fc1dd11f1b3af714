"""sf1.0 scale soak (VERDICT r3 item 7).

The driver ships parquet only up to sf0.1; this tool materializes a
key-consistent 10x replica under .soak/sf1.0 (gitignored data, ~6M
lineitem rows / 50k docs) and runs the headline bench queries on it with
per-query wall AND job/stage counts — the noise-free cross-round metric —
writing BENCH/soak_sf1.json (committed; bench.py attaches it to the
headline JSON so BENCH_r{N}.json carries the sf1.0 evidence).

Replication rules (10 copies, i = 0..9):
  * fact keys offset per copy so joins stay consistent and keys unique:
    orderkey/custkey/partkey/suppkey/event_id/user_id/doc_id/vec_id all
    get +i * (max_key + 1) on BOTH sides of every FK edge.
  * region/nation stay single (broadcast dimensions — scaling them 10x
    would change the join shape, not stress it).
  * document text gets a per-copy suffix token ' repN' for N>0 — replicas
    become NEAR duplicates (the templated-boilerplate web shape) instead
    of a degenerate 10-deep exact-dup class, so the dedup queries see
    realistic hot classes.
  * embeddings are copied verbatim (ANN ties break by vec_id).

Usage: python tools/soak_sf1.py [--force]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".soak", "sf1.0")
OUT = os.path.join(REPO, "BENCH", "soak_sf1.json")
COPIES = 10

# table -> columns that carry a key offset (key-space = max over the table
# named in KEY_SPACE, so FK edges offset identically on both sides)
OFFSET_COLS = {
    "customer": {"c_custkey": "c_custkey"},
    "supplier": {"s_suppkey": "s_suppkey"},
    "part": {"p_partkey": "p_partkey"},
    "orders": {"o_orderkey": "o_orderkey", "o_custkey": "c_custkey"},
    "lineitem": {
        "l_orderkey": "o_orderkey",
        "l_partkey": "p_partkey",
        "l_suppkey": "s_suppkey",
    },
    "events": {"event_id": "event_id", "user_id": "user_id"},
    "documents": {"doc_id": "doc_id"},
    "embeddings": {"vec_id": "vec_id"},
}
KEY_TABLE = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "event_id": "events",
    "user_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}
SINGLE = ["region", "nation"]


def materialize(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)
    spans: dict[str, int] = {}
    for key, table in KEY_TABLE.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        spans[key] = int(df.agg(F.max(key)).collect()[0][0]) + 1
    for t in SINGLE:
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{DST}/{t}.parquet"
        )
    for t, key_cols in OFFSET_COLS.items():
        df = spark.read.parquet(f"{SRC}/{t}.parquet")
        parts = []
        for i in range(COPIES):
            c = df
            for col, key in key_cols.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * spans[key]))
            if t == "documents" and i > 0:
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" rep{i}"))
                )
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{DST}/{t}.parquet")
        print(f"materialized {t}: {COPIES}x")


# beyond the headline: the scale-path siblings of the O(n^2)-by-design
# exact baselines (q_ann_topk is brute-force exact cosine — quadratic on
# purpose; IVF/LSH are what a 100 TB run uses) plus the round-4 scale
# fixes (capped simhash, two-phase stratified sample)
SOAK_EXTRA = [
    "q_ann_ivf",
    "q_ann_lsh",
    "q_simhash_pairs",
    "q_exact_dedup",
    "q_stratified_sample",
    # sixth-session linkage family: EM on sufficient stats must stay
    # corpus-size-free (<= 6 collected rows) — the soak proves the wall
    # scales with pair volume only
    "q_fs_em",
    "q_blocking_metrics",
]


def run_soak(spark) -> dict:
    import bench
    import __spark_entry__ as entrymod

    sc = spark.sparkContext
    qs = entrymod.queries()
    # warm-up (same protocol as bench.run_headline)
    spark.read.parquet(f"{DST}/lineitem.parquet").count()
    qs["q_top_tokens"](spark, DST).write.format("noop").mode("overwrite").save()
    spark.range(1000).mapInPandas(lambda it: it, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()
    per = {}
    total = 0.0
    for name in bench.HEADLINE + SOAK_EXTRA:
        sc.setJobGroup(name, name)
        before = set(sc.statusTracker().getJobIdsForGroup(name) or [])
        t0 = time.monotonic()
        qs[name](spark, DST).write.format("noop").mode("overwrite").save()
        dt = round(time.monotonic() - t0, 3)
        n_jobs, stages = bench._group_job_stats(sc, name, before)
        per[name] = {"sec": dt, "jobs": n_jobs, "stages": stages}
        total += dt
        print(f"{name}: {dt}s {n_jobs} jobs {stages} stages")
        # shuffle-file hygiene between queries (see soak_sf3.py): let
        # ContextCleaner drop the finished query's shuffle files and any
        # leaked persists before the next query's spill needs the disk
        import gc as _gc

        _gc.collect()
        sc._jvm.System.gc()
    # q_ann_lsh above runs the ORACLE sizing (n_planes=4, fixed so the
    # DuckDB oracle can embed the plane literals — expected bucket 2k/16 is
    # fine at sf0.01 but degenerates to brute-force candidate volume at
    # 20k vectors).  The operator's own sizing rule (n_planes ≈
    # log2(n / 32), lsh_bucket_topk docstring) says 10 planes
    # here; record the correctly-sized run so the soak shows the scale
    # path, not a misconfiguration.
    from berkeley_entity_spark.operators.similarity import lsh_bucket_topk

    name = "ann_lsh_sized_p10"
    sc.setJobGroup(name, name)
    before = set(sc.statusTracker().getJobIdsForGroup(name) or [])
    emb = spark.read.parquet(f"{DST}/embeddings.parquet")
    t0 = time.monotonic()
    # n_planes="auto" resolves to 10 here (20k vectors / target 32)
    lsh_bucket_topk(emb, k=3, n_planes="auto").write.format(
        "noop"
    ).mode("overwrite").save()
    dt = round(time.monotonic() - t0, 3)
    n_jobs, stages = bench._group_job_stats(sc, name, before)
    per[name] = {"sec": dt, "jobs": n_jobs, "stages": stages}
    print(f"{name}: {dt}s {n_jobs} jobs {stages} stages")
    return {
        "metric": "sf1_soak_wall_seconds",
        "value": round(total, 3),
        "unit": "sec",
        "sf": 1.0,
        "copies_of_sf0.1": COPIES,
        "queries": per,
        "spin_calibration_sec": bench._spin_calibration(),
    }


def main() -> None:
    force = "--force" in sys.argv
    from berkeley_entity_spark.session import get_spark

    spark = get_spark(app_name="bes-soak")
    spark.sparkContext.setLogLevel("ERROR")
    if force or not os.path.exists(f"{DST}/lineitem.parquet"):
        materialize(spark)
    res = run_soak(spark)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(OUT, "w") as f:
        json.dump(res, f, indent=1)
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()

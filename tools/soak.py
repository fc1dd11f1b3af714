"""At-scale soak on a key-consistent replica of the sf0.1 test data.

The test data (TESTDATA.md) goes up to sf0.1 only; this tool materializes
C copies of it under .soak/sf<C/10> (gitignored data) and runs a query list
on the replica through bench.time_queries — per-query wall AND job/stage
counts, the noise-free cross-round metric — writing
BENCH/soak_<replica>.json (committed; bench.py attaches both files to the
headline JSON so BENCH_r{N}.json carries the at-scale evidence).

Replicas (REPLICAS below):
  * sf1 — 10 copies (~6M lineitem rows / 50k docs), the headline queries
    plus SOAK_EXTRA.
  * sf3 — 30 copies (~18M lineitem rows / 150k near-dup docs / 60k
    vectors), the dedup + similarity family.  Its claim: job/stage counts
    equal the sf1 soak's for every overlapping query (the plans are
    scale-invariant — no extra exchanges, no fallback paths, no driver-side
    finishes kicking in) and no memory cliff at 3x.  Walls of the near-dup
    joins are NOT expected to scale linearly: replicas form C-deep near-dup
    classes, so true pair volume grows ~C(30,2)/C(10,2) = 9.7x over sf1 by
    construction — the data's property, not a plan regression.
    q_ann_topk stays the disclosed quadratic-by-design exact baseline, next
    to its sublinear siblings q_ann_ivf / q_ann_lsh.

Both replicas end with the same tail: lsh_bucket_topk at its own sizing
(`ann_lsh_sized`) and the pair-volume witnesses (`n_documents`,
`n_minhash_lsh_pairs`), which tell "the data has more true near-dup pairs"
from "the plan regressed".

Replication rules (copies i = 0..C-1):
  * fact keys offset per copy so joins stay consistent and keys unique:
    orderkey/custkey/partkey/suppkey/event_id/user_id/doc_id/vec_id all
    get +i * (max_key + 1) on BOTH sides of every FK edge.
  * region/nation stay single (broadcast dimensions — replicating them
    would change the join shape, not stress it).
  * document text gets a per-copy suffix token ' repN' for N>0 — replicas
    become NEAR duplicates (the templated-boilerplate web shape) instead
    of a degenerate C-deep exact-dup class, so the dedup queries see
    realistic hot classes.
  * embeddings are copied verbatim (ANN ties break by vec_id).

The soak needs the host to itself: it refuses to start (exit status 1)
when MemAvailable is below the driver heap (SPARK_DRIVER_MEMORY, 8g by
default; the sf1 JVM reaches ~6 GB RSS).

Usage: python tools/soak.py {sf1|sf3} [--force]
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402

SRC = "/root/testdata/sf0.1"

# table -> columns that carry a key offset (key-space = max over the table
# named in KEY_TABLE, so FK edges offset identically on both sides)
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

# beyond the headline: the scale-path sibling of the O(n^2)-by-design exact
# baseline q_ann_topk (IVF; the LSH sibling q_ann_lsh is in the headline),
# the capped simhash, the two-phase stratified sample and the blocking
# metrics of the linkage family
SOAK_EXTRA = [
    "q_ann_ivf",
    "q_simhash_pairs",
    "q_exact_dedup",
    "q_stratified_sample",
    "q_blocking_metrics",
]

# the dedup + similarity family (the web-scale core); exact quadratic
# baselines included deliberately so the record shows them NEXT TO their
# sublinear siblings
DEDUP_ANN = [
    "q_exact_dedup",
    "q_minhash_lsh",
    "q_simhash_pairs",
    "q_segment_dedup",
    "q_substring_dup",
    "q_dedup_keep_one",
    "q_ngram_jaccard",
    "q_containment",
    "q_semdedup",
    "q_ann_ivf",
    "q_ann_lsh",
    "q_ann_topk",
]

# replica -> (copies of sf0.1, queries, output file under BENCH/)
REPLICAS = {
    "sf1": (10, bench.HEADLINE + SOAK_EXTRA, "soak_sf1.json"),
    "sf3": (30, DEDUP_ANN, "soak_sf3.json"),
}


def materialize(spark, src: str, dst: str, copies: int) -> None:
    """Write `copies` key-offset copies of every table under `src` to `dst`
    (the replication rules in the module docstring)."""
    from pyspark.sql import functions as F

    os.makedirs(dst, exist_ok=True)
    spans: dict[str, int] = {}
    for key, table in KEY_TABLE.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        spans[key] = int(df.agg(F.max(key)).collect()[0][0]) + 1
    for t in SINGLE:
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )
    for t, key_cols in OFFSET_COLS.items():
        df = spark.read.parquet(f"{src}/{t}.parquet")
        parts = []
        for i in range(copies):
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
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
        print(f"materialized {t}: {copies}x")


def ann_lsh_sized(spark, sf_dir: str):
    """lsh_bucket_topk at its own sizing.  q_ann_lsh runs the ORACLE sizing
    (n_planes=4, fixed so the DuckDB oracle can embed the plane literals):
    fine at sf0.01, but at 20k+ vectors it degenerates to brute-force
    candidate volume.  n_planes="auto" (≈ log2(n / 32), the operator's
    docstring) is the scale path."""
    from berkeley_entity_spark.operators.similarity import lsh_bucket_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_bucket_topk(emb, k=3, n_planes="auto")


_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def memory_shortfall(meminfo: str, heap: str) -> str | None:
    """Why the soak cannot start, or None.  `meminfo` is the text of
    /proc/meminfo and `heap` the driver heap in Spark's size syntax ("8g",
    "6144m"; a bare number is MiB).  The soak's JVM grows into its heap, so
    it needs MemAvailable >= the heap: with less, the kernel OOM killer
    ends the run (or a neighbour) part-way instead of the tool failing
    here."""
    avail = int(re.search(r"^MemAvailable:\s+(\d+) kB", meminfo, re.M).group(1)) << 10
    num, unit = re.fullmatch(r"(\d+)([kmgt]?)b?", heap.strip().lower()).groups()
    need = int(num) * _UNITS[unit or "m"]
    if avail >= need:
        return None
    return (
        f"soak needs its driver heap in free memory: heap {heap} ({need / 2**30:.1f} GiB), "
        f"MemAvailable {avail / 2**30:.1f} GiB.  Stop other Spark processes, "
        "or lower SPARK_DRIVER_MEMORY."
    )


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in REPLICAS:
        sys.exit("usage: python tools/soak.py {sf1|sf3} [--force]")
    replica = sys.argv[1]
    copies, names, out_name = REPLICAS[replica]
    from berkeley_entity_spark.operators.dedup import minhash_lsh_pairs
    from berkeley_entity_spark.session import driver_memory, get_spark

    import __spark_entry__ as entrymod

    with open("/proc/meminfo") as f:
        short = memory_shortfall(f.read(), driver_memory())
    if short:
        sys.exit(short)
    dst = os.path.join(REPO, ".soak", f"sf{copies / 10:.1f}")
    spark = get_spark(app_name=f"bes-soak-{replica}")
    spark.sparkContext.setLogLevel("ERROR")
    if "--force" in sys.argv or not os.path.exists(f"{dst}/lineitem.parquet"):
        materialize(spark, SRC, dst, copies)
    qs = entrymod.queries()
    per = bench.time_queries(
        spark, dst, {**{n: qs[n] for n in names}, "ann_lsh_sized": ann_lsh_sized}
    )
    docs = spark.read.parquet(f"{dst}/documents.parquet")
    res = {
        "metric": f"{replica}_soak_wall_seconds",
        "value": round(sum(per[n]["sec"] for n in names), 3),
        "unit": "sec",
        "sf": copies / 10,
        "copies_of_sf0.1": copies,
        "n_documents": docs.count(),
        "n_minhash_lsh_pairs": minhash_lsh_pairs(docs.select("doc_id", "text")).count(),
        "queries": per,
        "spin_calibration_sec": bench._spin_calibration(),
    }
    out = os.path.join(REPO, "BENCH", out_name)
    with open(out, "w") as f:
        json.dump(res, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()

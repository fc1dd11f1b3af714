"""The bench/soak harness: the one timed-query loop and the replica
materializer behind the committed at-scale evidence (BENCH/soak_*.json)."""

import os
import sys

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench  # noqa: E402
import soak  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402
from conftest import SF_TINY as SF  # noqa: E402


def test_time_queries_reports_wall_jobs_and_stages(spark):
    qs = entrymod.queries()
    names = ["q_lineitem_agg", "q_exact_dedup"]
    sc = spark.sparkContext
    try:
        got = bench.time_queries(spark, SF, {n: qs[n] for n in names})
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(got) == names
    for name, r in got.items():
        assert r["sec"] > 0, name
        assert r["jobs"] >= 1, name
        assert r["stages"] >= r["jobs"], name


def test_materialize_offsets_keys_per_copy(spark, tmp_path):
    """Two copies: every offset table doubles, every key column's distinct
    values double (the copies' key spaces are disjoint, so a unique key
    stays unique), and the FK edge orders -> customer joins each order to
    exactly its own copy's customer (2x the source join, not 4x)."""
    dst = str(tmp_path / "sf0.002")
    soak.materialize(spark, SF, dst, copies=2)

    def read(root, t):
        return spark.read.parquet(f"{root}/{t}.parquet")

    for t, key_cols in soak.OFFSET_COLS.items():
        src, out = read(SF, t), read(dst, t)
        assert out.count() == 2 * src.count(), t
        for c in key_cols:
            n_src = src.select(c).distinct().count()
            assert out.select(c).distinct().count() == 2 * n_src, (t, c)
    for t in soak.SINGLE:
        assert read(dst, t).count() == read(SF, t).count(), t

    def orders_customer(root):
        return (
            read(root, "orders")
            .join(read(root, "customer"), F.col("o_custkey") == F.col("c_custkey"))
            .count()
        )

    assert orders_customer(dst) == 2 * orders_customer(SF)


MEMINFO = """MemTotal:       16093032 kB
MemFree:         1021880 kB
MemAvailable:    {avail} kB
Buffers:          102400 kB
"""


def test_soak_refuses_to_start_below_driver_heap():
    """MemAvailable below the driver heap stops the soak with a message
    naming the heap, the available memory and the variable to lower; at
    or above the heap it starts."""
    short = soak.memory_shortfall(MEMINFO.format(avail=6 * 2**20), "8g")
    assert short is not None
    assert "8g" in short and "6.0 GiB" in short and "SPARK_DRIVER_MEMORY" in short
    assert soak.memory_shortfall(MEMINFO.format(avail=8 * 2**20), "8g") is None
    assert soak.memory_shortfall(MEMINFO.format(avail=12 * 2**20), "8192m") is None
    assert soak.memory_shortfall(MEMINFO.format(avail=5 * 2**20), "6144") is not None

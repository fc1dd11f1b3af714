"""Driver-contract smoke: entry() + a sample of queries()/oracle_sql().

The full oracle comparison runs in tools/check_oracles.py (all 25 queries);
here we keep a fast representative subset green under pytest.
"""

import os
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
SAMPLE = ["q_lineitem_agg", "q_window_top1", "q_pairwise_f1", "q_minhash_lsh"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


def test_entry_returns_clusters(spark):
    df = entrymod.entry(spark)
    rows = df.count()
    assert rows == 1000  # 500 docs + 500 injected dups
    assert set(df.columns) == {"doc_id", "cluster_id"}
    # every injected dup shares its cluster with the original
    from pyspark.sql import functions as F

    a = df.where("doc_id < 100000").toDF("orig", "ca")
    b = df.where("doc_id >= 100000").select(
        (F.col("doc_id") - 100000).alias("orig"), F.col("cluster_id").alias("cb")
    )
    assert a.join(b, "orig").where("ca <> cb").count() == 0


def test_every_query_has_callable():
    qs = entrymod.queries()
    assert len(qs) >= 20
    for name, fn in qs.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(os_) >= 18


@pytest.mark.parametrize("name", SAMPLE)
def test_query_matches_oracle(spark, duck, name):
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracles import table_signature

    sdf = entrymod.queries()[name](spark, SF)
    res = duck.sql(entrymod.oracle_sql()[name])
    sc, sn, sh, _ = table_signature(sdf.columns, [tuple(r) for r in sdf.collect()])
    oc, on_, oh, _ = table_signature(res.columns, res.fetchall())
    assert sc == oc and sn == on_ and sh == oh


def test_stratified_sample_two_phase_plan(spark):
    """VERDICT r3: the pre-window exchange must be salted (two Window
    nodes, the first partitioned by (bucket, pmod(xxhash64(doc_id), 32)))
    so no task ever holds a full stratum."""
    df = entrymod.queries()["q_stratified_sample"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, plan
    assert "xxhash64" in plan and "pmod" in plan, plan

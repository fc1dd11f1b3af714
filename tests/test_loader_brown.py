"""S3 loader pushdown/pruning, S5 Brown reader, A8 grouped accuracy."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_loader_pushdown_and_pruning(spark, tmp_path):
    from berkeley_entity_spark.config import SynthConfig
    from berkeley_entity_spark.sources.loader import load_webpages
    from berkeley_entity_spark.synth import generate_webpages

    p = str(tmp_path / "pages")
    pages, _ = generate_webpages(spark, SynthConfig(n_pages=300, n_entities=30))
    pages.write.parquet(p)
    df = load_webpages(spark, p, lang="en", limit=50)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # predicate reaches the parquet scan; binary html column pruned out
    assert "PushedFilters" in plan and "lang" in plan, plan
    assert "html" not in df.columns
    assert df.count() == 50
    # explicit columns override the default pruning
    df2 = load_webpages(spark, p, columns=["url", "html"])
    assert df2.columns == ["url", "html"]


def test_brown_reader_and_prefixes(spark, tmp_path):
    from berkeley_entity_spark.sources.brown import (
        read_brown_clusters,
        with_brown_prefixes,
    )

    f = tmp_path / "brown.txt"
    f.write_text(
        "0010110110\tcompany\t523\n"
        "0010110111\tcorporation\t120\n"
        "110\tthe\t99999\n"
    )
    df = with_brown_prefixes(read_brown_clusters(spark, str(f)))
    got = {r["word"]: r for r in df.collect()}
    assert got["company"]["cluster"] == "0010110110"
    assert got["company"]["bp4"] == "0010"
    assert got["company"]["bp6"] == "001011"
    # shared prefix groups company/corporation, separates 'the'
    assert got["company"]["bp6"] == got["corporation"]["bp6"]
    assert got["the"]["bp4"] == "110"  # shorter bitstring -> whole string
    assert got["the"]["count"] == 99999


def test_grouped_accuracy(spark):
    from berkeley_entity_spark.evaluate import grouped_accuracy

    # cluster 1 = {a,b gold e1, c gold e2}; cluster 2 = {d gold e3}
    pred = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 1), ("d", 2)], "mention_id string, cluster_id long"
    )
    gold = spark.createDataFrame(
        [("a", 1), ("b", 1), ("c", 2), ("d", 3)], "mention_id string, entity_id long"
    )
    attrs = spark.createDataFrame(
        [("a", "PROPER"), ("b", "PROPER"), ("c", "PRONOMINAL"), ("d", "PROPER")],
        "mention_id string, mtype string",
    )
    got = {r["mtype"]: r for r in grouped_accuracy(pred, gold, attrs).collect()}
    assert got["PROPER"]["n"] == 3 and got["PROPER"]["correct"] == 3
    assert got["PRONOMINAL"]["n"] == 1 and got["PRONOMINAL"]["correct"] == 0
    assert got["PRONOMINAL"]["accuracy"] == 0.0

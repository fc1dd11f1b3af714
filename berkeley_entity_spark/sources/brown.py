"""Brown-cluster table reader + prefix features (SURVEY.md S5).

The reference loads a Brown-clusters file (the classic
``bitstring<TAB>word<TAB>count`` layout of Liang's brown-cluster tool) into
a broadcast map and uses bitstring PREFIXES as NER features (the standard
4/6/10/20 prefix scheme).  Spark-native form:

  * read_brown_clusters — CSV-with-tab scan -> (word, cluster, count);
    shardable, no driver materialization.
  * with_brown_prefixes — adds prefix-length columns as pure substring
    expressions (codegen), ready to broadcast-join onto token tables the
    same way the numgender counts join (operators/properties.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PREFIX_LENGTHS = (4, 6, 10, 20)


def read_brown_clusters(spark: SparkSession, path: str) -> DataFrame:
    """(word, cluster, count) from bitstring<TAB>word<TAB>count lines."""
    return (
        spark.read.option("sep", "\t")
        .schema("cluster string, word string, count long")
        .csv(path)
        .where(F.col("word").isNotNull() & F.col("cluster").isNotNull())
    )


def with_brown_prefixes(clusters: DataFrame) -> DataFrame:
    """Add bp{n} prefix columns for each n in PREFIX_LENGTHS (full bitstring
    when shorter — the standard behavior of prefix featurization)."""
    out = clusters
    for n in PREFIX_LENGTHS:
        out = out.withColumn(f"bp{n}", F.substring("cluster", 1, n))
    return out

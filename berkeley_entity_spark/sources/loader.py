"""Multi-document loader with filter + cap (SURVEY.md S3).

The reference's doc loaders filter by suffix and cap document count at read
time (ConllDocReader.loadRawConllDocsWithSuffix / CorefSystem.loadCorefDocs
size argument).  The Spark-native form keeps those knobs IN the scan plan so
Catalyst pushes them down: column pruning via select, predicate pushdown via
where (visible as PushedFilters on the parquet scan), and the cap as a
limit.  Asserted by tests/test_loader_brown.py against the physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def load_webpages(
    spark: SparkSession,
    path: str,
    lang: str | None = None,
    limit: int | None = None,
    columns: list[str] | None = None,
) -> DataFrame:
    """Read a webpages table with scan-level filter/prune/cap.

    columns defaults to everything EXCEPT html when the caller does not ask
    for it — the 100 TB binary column must never reach a scan that does not
    need it (ReadSchema shows the pruning)."""
    df = spark.read.format("parquet").load(path)
    # filter BEFORE projecting so columns=[...] without 'lang' composes with
    # the lang filter (Catalyst pushes the predicate to the scan either way)
    if lang is not None:
        df = df.where(F.col("lang") == lang)
    cols = columns if columns is not None else [
        c for c in df.columns if c != "html"
    ]
    df = df.select(*cols)
    if limit is not None:
        df = df.limit(limit)
    return df

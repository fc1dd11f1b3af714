"""Golden-record survivorship: collapse each resolved entity cluster to one
canonical record with deterministic field-level conflict resolution.

The reference stops at cluster ids (OrderedClustering.scala — the
bestClustering output is an assignment, never a merged record); every
production record-linkage deployment then needs the MDM "survivorship"
step (the Splink / Zingg golden-record stage): given (record, cluster)
pick, per field, WHICH member's value survives.  Rules here are the
standard deterministic set, each with a total-order tie-break so output
is partitioning-independent:

  * canonical_url  — min(url): the stable cluster key (FIXTURES §3's
    min-member convention, applied to the record id).
  * latest_url/ts  — most recent crawl wins (max warc_ts), ties to the
    greatest url (one struct max_by, no window).
  * best_text      — longest text wins (most complete capture of the
    page), ties to the smallest url.
  * lang_majority  — modal value over non-null members, ties to the
    lexicographically smallest value; NULL only when all members are
    null (the "first non-null" family generalized to voting).

Scale shape: the whole operator is per-cluster aggregation — two
hash-aggregates (one over members, one over (cluster, lang) cells for
the mode) and one join on cluster_id.  No windows, no driver collect,
no Python; min_by/max_by keep it whole-stage-codegen.  Cluster sizes
are bounded by the upstream dedup caps, so no hot-key handling is
needed beyond what clustering already guarantees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["golden_records"]


def golden_records(
    records: DataFrame,
    assign: DataFrame,
) -> DataFrame:
    """records(url, warc_ts, text, lang) x assign(url, cluster_id) ->
    one golden record per cluster:

    (cluster_id, n_members, n_langs, canonical_url, latest_url,
     latest_ts, best_text, lang_majority)
    """
    j = assign.select("url", "cluster_id").join(records, "url")
    core = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("url").alias("canonical_url"),
        F.max_by(
            "url", F.struct(F.col("warc_ts"), F.col("url"))
        ).alias("latest_url"),
        F.max("warc_ts").alias("latest_ts"),
        F.min_by(
            "text",
            F.struct((-F.length("text")).alias("_nl"), F.col("url")),
        ).alias("best_text"),
    )
    votes = (
        j.where(F.col("lang").isNotNull())
        .groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    lang = votes.groupBy("cluster_id").agg(
        F.min_by(
            "lang", F.struct((-F.col("_n")).alias("_neg"), F.col("lang"))
        ).alias("lang_majority"),
        F.count(F.lit(1)).alias("n_langs"),
    )
    return (
        core.join(lang, "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_langs", F.lit(0)).alias("n_langs"),
            "canonical_url",
            "latest_url",
            "latest_ts",
            "best_text",
            "lang_majority",
        )
    )

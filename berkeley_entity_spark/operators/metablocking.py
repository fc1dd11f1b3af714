"""Meta-blocking: block-graph edge weighting + weighted node pruning.

Multi-pass blocking (the north-star shape; `operators/blocking.py`) trades
recall for candidate volume with per-key caps.  Meta-blocking (Papadakis
et al. 2014, "Meta-Blocking: Taking Entity Resolution to the Next Level")
recovers precision a different way: build the BLOCK GRAPH — an edge per
co-blocked pair, weighted by how many blocks the pair shares (CBS, common
blocks scheme) — and prune edges that are weak relative to their
endpoints (WNP, weighted node pruning: an edge survives if its weight is
>= the mean incident weight of EITHER endpoint).  Pairs sharing several
independent keys are much likelier matches than pairs thrown together by
one hot key; the pruned edge set feeds the pairwise scorer with a far
better candidate/match ratio.

100 TB shape:
  * hot blocks are capped BEFORE pairing with the repo's standard
    row_number window (deterministic doc_id order, mirrored in the
    oracle) — pair count stays linear in corpus size;
  * edge weights are one groupBy(pair) with map-side partial agg;
  * node thresholds are one bounded groupBy(node); the prune is two
    id-equality joins (AQE handles residual skew);
  * WNP's mean comparison is done in INTEGER arithmetic
    (w * degree >= weight_sum) so the decision is exact in any engine —
    no float mean, no rounding contract needed.

block_graph_edges / wnp_prune are generic over any (id, block_key)
table — the surface block keys from
blocking.explode_block_keys(surfaces, "node_id") plug in directly; doc_block_keys is the self-contained multi-pass keyer used by
the gate query (first-token, last-token, and length-bucket passes, the
last deliberately hot to exercise the cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.blocking import capped_key_pairs

__all__ = [
    "doc_block_keys",
    "block_graph_edges",
    "wnp_prune",
    "meta_blocking_pairs",
]


def doc_block_keys(documents: DataFrame) -> DataFrame:
    """(doc_id, block_key) under three passes: 'F:'+first token,
    'L:'+last token, 'B:'+floor(n_tokens/10) (a coarse length bucket —
    intentionally hot so the block cap is exercised)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    keys = F.array(
        F.concat(F.lit("F:"), F.element_at(toks, 1)),
        F.concat(F.lit("L:"), F.element_at(toks, -1)),
        F.concat(
            F.lit("B:"), F.floor(F.size(toks) / 10).cast("int").cast("string")
        ),
    )
    return (
        documents.where(F.size(toks) >= 1)
        .select("doc_id", F.explode(keys).alias("block_key"))
    )


def block_graph_edges(
    keys: DataFrame,
    max_block: int = 64,
) -> DataFrame:
    """(id_a, id_b, cbs) — the block graph with CBS weights over
    (doc_id, block_key) rows.  Blocks are
    capped at max_block members (deterministic id order) before the
    within-block self-join, so a degenerate hot key contributes at most
    C(max_block, 2) pairs regardless of corpus size (disclosed
    comparison-window bound, via blocking.capped_key_pairs)."""
    return (
        capped_key_pairs(keys, "doc_id", "block_key", max_block)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cbs"))
    )


def wnp_prune(edges: DataFrame) -> DataFrame:
    """Weighted Node Pruning: keep an edge iff its weight >= the mean
    incident weight of at least one endpoint.  The comparison runs as
    w * degree >= weight_sum (integer arithmetic — exact, engine-free).
    Input/output schema: (id_a, id_b, cbs)."""
    incident = edges.select(
        F.col("id_a").alias("node"), F.col("cbs").alias("w")
    ).unionByName(edges.select(F.col("id_b").alias("node"), F.col("cbs").alias("w")))
    nodes = incident.groupBy("node").agg(
        F.sum("w").alias("sw"), F.count(F.lit(1)).alias("cw")
    )
    nu = nodes.select(
        F.col("node").alias("id_a"), F.col("sw").alias("sw_a"), F.col("cw").alias("cw_a")
    )
    nv = nodes.select(
        F.col("node").alias("id_b"), F.col("sw").alias("sw_b"), F.col("cw").alias("cw_b")
    )
    return (
        edges.join(nu, "id_a")
        .join(nv, "id_b")
        .where(
            (F.col("cbs") * F.col("cw_a") >= F.col("sw_a"))
            | (F.col("cbs") * F.col("cw_b") >= F.col("sw_b"))
        )
        .select("id_a", "id_b", "cbs")
    )


def meta_blocking_pairs(documents: DataFrame) -> DataFrame:
    """End-to-end: multi-pass keys -> capped block graph -> WNP prune."""
    return wnp_prune(block_graph_edges(doc_block_keys(documents)))

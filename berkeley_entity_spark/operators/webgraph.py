"""Web-graph operators over the (bounded) domain graph.

A 10^12-page crawl is unbounded, but its DOMAIN graph is not (~10^8 hosts,
~10^6 registrable domains): the scale-correct shape for link analysis is
ONE corpus-sized aggregation (page-level link explode -> groupBy
(src_domain, dst_domain) with map-side combine) that collapses the crawl
into a weighted edge table, then iterate on that bounded table only.  That
is exactly how production crawl ranking (e.g. Common Crawl's own host- and
domain-level webgraph releases, computed with a distributed rank over the
aggregated host graph) is shaped, and it is the shape `pagerank` assumes:
its input is the aggregated edge table, never pages.

The reference has no graph analytics (its closest analog is the transitive
closure over coref links, which this repo implements as large-star/
small-star CC in operators/clustering.py); PageRank is the web-scale
extension the north-star corpus calls for — crawl prioritization, spam
domain demotion, and quality weighting all key off it.

PageRank definition used (the standard one, Brin & Page 1998 with uniform
teleport and uniform dangling-mass redistribution):

    r_{t+1}(v) = (1-d)/N + d * ( sum_{(u,v) in E} r_t(u) * w(u,v)/W(u)
                                 + D_t / N )

where W(u) is u's total out-weight, D_t the total rank mass on dangling
nodes (no out-edges), N the node count.  Fixed iteration count (the
oracle-replayable mode; production runs add an L1-delta stop).

anchor_text_table ranks each target's anchors with util.salted_top_k, so a
hot target (a homepage with millions of distinct anchor phrases) never
sorts in one window task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.util import salted_top_k


# PageRank damping factor (Brin & Page 1998)
DAMPING = 0.85


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank over an aggregated (src, dst) edge table ->
    (node, rank).

    Scale shape: `edges` is the DOMAIN-level table (bounded — see module
    docstring), so every per-iteration join broadcasts the rank vector
    against it: no shuffle of the edge table ever happens after the one
    upstream aggregation.  The dangling mass is a 1-row aggregate carried
    by crossJoin — it never leaves the JVM plan (no per-iteration driver
    collect; the only driver-side scalar is the node count N, computed
    once).  localCheckpoint per iteration truncates the lineage exactly as
    the CC loop in operators/clustering.py does.

    Float determinism: per-node contributions are summed by the engine in
    arbitrary order; the DuckDB oracle replays the same arithmetic with
    its own order.  Drift is O(eps * in_degree) per iteration — orders of
    magnitude below the 1e-6 comparison granularity for any bounded graph.
    """
    w = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_nodes = nodes.count()  # the one driver scalar (bounded table)
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    rank = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    teleport = (1.0 - DAMPING) / n_nodes
    for _ in range(iterations):
        rank = rank.localCheckpoint(eager=True)
        contrib = (
            e.join(F.broadcast(out_w), "src")
            .join(F.broadcast(rank.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w") / F.col("out_w")).alias("contrib"))
        )
        dangling = (
            rank.join(
                out_w.withColumnRenamed("src", "node"), "node", "left_anti"
            )
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        rank = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.lit(DAMPING)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dm") / F.lit(float(n_nodes))
                    )
                ).alias("rank"),
            )
        )
    return rank


def hits(edges: DataFrame, iterations: int = 5) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999, the weighted power-iteration
    form) over an aggregated (src, dst, w) edge table -> (node, hub,
    authority).

        a_{t+1}(v) = sum_{(u,v) in E} w(u,v) * h_t(u)      then L2-normalize
        h_{t+1}(u) = sum_{(u,v) in E} w(u,v) * a_{t+1}(v)  then L2-normalize

    Same scale shape as `pagerank`: the edge table is the bounded DOMAIN
    graph, every iteration broadcasts the current score vector against it
    (no edge shuffle after the upstream aggregation), normalization is a
    1-row aggregate carried by crossJoin — no per-iteration driver round
    trip.  Nodes with no in-edges get authority 0, no out-edges hub 0
    (left join + coalesce), so the output covers every node.  Fixed
    iteration count keeps it oracle-replayable (the DuckDB oracle unrolls
    each half-step as a CTE, the pagerank/FS-EM precedent).
    """
    w = F.col("w").cast("double")
    e = edges.select("src", "dst", w.alias("w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = nodes.withColumn("hub", F.lit(1.0))
    auth = None
    for _ in range(iterations):
        hub = hub.localCheckpoint(eager=True)
        raw_a = (
            e.join(F.broadcast(hub.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("w") * F.col("hub")).alias("s"))
        )
        norm_a = raw_a.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nz"))
        auth = (
            nodes.join(raw_a, "node", "left")
            .crossJoin(F.broadcast(norm_a))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("nz")).alias("authority"),
            )
            .localCheckpoint(eager=True)
        )
        raw_h = (
            e.join(
                F.broadcast(auth.withColumnRenamed("node", "dst")), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("w") * F.col("authority")).alias("s"))
        )
        norm_h = raw_h.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("nz"))
        hub = (
            nodes.join(raw_h, "node", "left")
            .crossJoin(F.broadcast(norm_h))
            .select(
                "node",
                (F.coalesce("s", F.lit(0.0)) / F.col("nz")).alias("hub"),
            )
        )
    return hub.join(auth, "node").select("node", "hub", "authority")


def anchor_text_table(links: DataFrame) -> DataFrame:
    """Per-target top-3 anchor phrases of (dst, anchor) link rows ->
    (dst, rank, anchor, n) — the
    web-native surface-form dictionary.  Aggregated anchor text is how a
    web corpus expresses the reference's surface->title counts
    (WikipediaInterface.scala:56-62 builds them from wiki-internal links;
    on a crawl the same table comes from <a> anchors): the top anchors of
    a target ARE its canonical surface forms, feeding title_given_surface
    and the query-denotation chooser unchanged.

    Scale shape: one corpus-sized groupBy (target, anchor) with map-side
    combine — the only pass over link rows — then top-3 per target by
    (n desc, anchor asc) over the much smaller distinct-phrase table via
    util.salted_top_k, so a hot target with millions of DISTINCT anchor
    phrases never sorts in one window task.
    """
    counts = links.groupBy("dst", "anchor").agg(F.count(F.lit(1)).alias("n"))
    return salted_top_k(
        counts, ["dst"], [F.desc("n"), F.asc("anchor")], 3
    ).select("dst", "rank", "anchor", "n")


def domain_link_edges(pages: DataFrame) -> DataFrame:
    """Page-level (src_domain, dst_domain) link rows -> weighted domain
    edges.  THE corpus-sized step: one groupBy with map-side partial
    aggregation; self-links dropped (they carry no inter-domain signal and
    would let link farms self-inflate)."""
    return (
        pages.where(F.col("src_domain") != F.col("dst_domain"))
        .groupBy(F.col("src_domain").alias("src"), F.col("dst_domain").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
    )

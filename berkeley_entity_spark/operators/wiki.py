"""Wikipedia-DB-shaped operators (SURVEY.md §2.1 S6, §2.3 J7, §2.4 A10).

The reference crunches a Wikipedia XML dump into lookup DBs
(wiki/WikipediaTitleGivenSurfaceDB.scala:19-79: surface -> title counts with
vote merge; wiki/WikipediaRedirectsDB.scala: redirect following;
WikipediaInterface.scala:79-131: chained lookup + argmax).  The dump itself
is out of scope (no data in this sandbox); these operators implement the
*shapes* over any (surface, title) link table:

  * title_given_surface   — A10 count table: groupBy(surface, title).count()
  * resolve_redirects     — J7 chained map-side lookups: a bounded number of
    broadcast left joins (the reference follows one redirect hop after the
    surface lookup; we allow REDIRECT_HOPS = 2).  At web scale the redirect table is
    millions of rows — comfortably broadcastable; the link table is not.
  * best_title_per_surface — A10 vote argmax with deterministic ties
    (max count, then lexicographically smallest title — the reference's
    Counter.argMax order is made explicit here for reproducibility).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def title_given_surface(links: DataFrame) -> DataFrame:
    """links(surface, title) -> (surface, title, votes)."""
    return links.groupBy("surface", "title").agg(
        F.count(F.lit(1)).alias("votes")
    )


# redirect steps resolve_redirects follows
REDIRECT_HOPS = 2


def resolve_redirects(links: DataFrame, redirects: DataFrame) -> DataFrame:
    """Rewrite each link's title through <= REDIRECT_HOPS redirect steps.

    redirects(src, dst) is broadcast; each hop is one map-side left join —
    no shuffle of the (huge) link table.  Cycles are bounded by the hop
    count."""
    out = links
    for i in range(REDIRECT_HOPS):
        r = F.broadcast(redirects.select(
            F.col("src").alias(f"_s{i}"), F.col("dst").alias(f"_d{i}")
        ))
        out = (
            out.join(r, out["title"] == r[f"_s{i}"], "left")
            .withColumn("title", F.coalesce(F.col(f"_d{i}"), F.col("title")))
            .drop(f"_s{i}", f"_d{i}")
        )
    return out


def best_title_per_surface(counts: DataFrame) -> DataFrame:
    """(surface, title, votes) -> (surface, best_title, votes): vote argmax,
    ties broken by lexicographically smallest title (deterministic)."""
    w = Window.partitionBy("surface").orderBy(F.desc("votes"), F.asc("title"))
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("surface", F.col("title").alias("best_title"), "votes")
    )


# ------------------------------------------------- S6 remainder: category DB
def category_frequencies(categories: DataFrame) -> DataFrame:
    """categories(title, category) -> (category, freq) — the reference's
    categoryFreqs counter (WikipediaCategoryDB.scala:20-21), as an agg."""
    return categories.groupBy("category").agg(F.count(F.lit(1)).alias("freq"))


def top_k_categories(categories: DataFrame) -> DataFrame:
    """(title, category, freq, rank<=2) — getTopKCategoriesByFrequency
    (WikipediaCategoryDB.scala:34-44): distinct categories per title sorted
    by ASCENDING global frequency (the reference's sortBy(_._2) keeps rarest
    = most specific first); ties broken by category name for cross-engine
    determinism where the reference relies on stable insertion order."""
    cats = categories.select("title", "category").distinct()
    freqs = category_frequencies(categories)
    w = Window.partitionBy("title").orderBy(F.asc("freq"), F.asc("category"))
    return (
        cats.join(freqs, "category")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
        .select("title", "category", "freq", "rank")
    )


def infobox_heads(infoboxes: DataFrame) -> DataFrame:
    """infoboxes(title, infobox) -> + infobox_head: last whitespace token
    (WikipediaCategoryDB.scala:53-59).  Pure column expression."""
    parts = F.split(F.col("infobox"), r"\s+")
    return infoboxes.withColumn(
        "infobox_head",
        F.when(F.length("infobox") > 0, F.element_at(parts, -1)).otherwise(F.lit("")),
    )


# ----------------------------------------------------- S6 remainder: link DB
def out_link_stats(pairs: DataFrame, links: DataFrame) -> DataFrame:
    """Pairwise out-link sufficient statistics
    (WikipediaLinkDB.scala:87-104): for each (title_a, title_b) pair,
    (inter, n_a, n_b) over out-link SETS plus the two derived booleans
    share_out_link and one_links_other.

    The reference materializes per-title link sets in driver memory and
    intersects per query; here the intersection is an equi-join on the
    link target — the shuffle co-locates on dst, nothing is collected, and
    the same pair table scales to any corpus."""
    L = links.select("src", "dst").distinct()
    sizes = L.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        pairs.join(L.toDF("title_a", "_dst"), "title_a")
        .join(L.toDF("title_b", "_dst"), ["title_b", "_dst"])
        .groupBy("title_a", "title_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    direct_ab = (
        pairs.join(
            L.toDF("title_a", "title_b").withColumn("_ab", F.lit(True)),
            ["title_a", "title_b"], "left",
        )
    )
    direct = direct_ab.join(
        L.select(F.col("dst").alias("title_a"), F.col("src").alias("title_b"))
        .distinct()
        .withColumn("_ba", F.lit(True)),
        ["title_a", "title_b"], "left",
    )
    out = (
        direct.join(inter, ["title_a", "title_b"], "left")
        .join(sizes.toDF("title_a", "n_a"), "title_a", "left")
        .join(sizes.toDF("title_b", "n_b"), "title_b", "left")
    )
    return out.select(
        "title_a",
        "title_b",
        F.coalesce("inter", F.lit(0)).cast("long").alias("inter"),
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        (F.coalesce("inter", F.lit(0)) > 0).alias("share_out_link"),
        (F.coalesce("_ab", F.lit(False)) | F.coalesce("_ba", F.lit(False))).alias(
            "one_links_other"
        ),
    )

"""WordNet-style semantic classes (SURVEY.md SO5).

Reference semantics (sem/SemClass.scala:28-78 + WordNetInterfacer.scala
:120-161): a head word's synsets are checked for the person / location /
organization anchor synsets within a BOUNDED hypernym closure (<=10
levels), in that priority order; everything else is Other.

Spark-first re-expression over two relation tables instead of the JWI
in-memory graph:

  * lemmas(word, synset)        — word -> synset membership
  * hypernyms(child, parent)    — the hypernym edge set

`bounded_hypernym_closure` materializes (synset, ancestor) pairs reachable
in <= max_levels steps with an iterative join (the taxonomy is a dimension
table — each step is a broadcast join, no large shuffle), and
`semclass_for_words` is then three hash joins + a priority CASE.  The real
WordNet dump is external data (same policy as gender.data -> synthetic
Bergsma-Lin counts); `synth.generate_wordnet` emits a deterministic
taxonomy over the corpus vocabulary for tests and the driver query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PRIORITY = ["Person", "Location", "Organization"]  # SemClass.scala:63-71 order


def bounded_hypernym_closure(hypernyms: DataFrame, max_levels: int = 10) -> DataFrame:
    """(synset, ancestor) for every hypernym path of length 1..max_levels
    (WordNetInterfacer.isAnySynsetHypernym's maxLevel recursion,
    WordNetInterfacer.scala:143-161).  Iterative single-step expansion with
    dedup per round; the edge table is dimension-sized, so each round is a
    broadcast join."""
    edges = hypernyms.select(
        F.col("child").alias("synset"), F.col("parent").alias("ancestor")
    ).distinct().localCheckpoint(eager=True)
    closure = edges
    frontier = edges
    for _ in range(max_levels - 1):
        step = (
            frontier.join(
                F.broadcast(edges.toDF("ancestor", "next")), "ancestor"
            )
            .select("synset", F.col("next").alias("ancestor"))
            .distinct()
        )
        # materialize each round (same lineage-cut discipline as the CC
        # loop — an unmaterialized 10-round join chain blows the plan up
        # exponentially); the frontier empties quickly on real taxonomies
        frontier = step.join(closure, ["synset", "ancestor"], "left_anti").localCheckpoint(
            eager=True
        )
        if frontier.isEmpty():
            break
        closure = closure.unionByName(frontier).localCheckpoint(eager=True)
    return closure


def semclass_for_words(
    words: DataFrame,
    lemmas: DataFrame,
    closure: DataFrame,
    anchor_synsets: DataFrame,
) -> DataFrame:
    """words(word, ...) -> + semclass column.

    anchor_synsets(synset, semclass) marks the person/location/organization
    anchor nodes.  A word is class C when ANY of its synsets is C's anchor
    or has it in the bounded closure; ties resolve Person > Location >
    Organization (SemClass.scala:63-71); no hit -> Other."""
    word_syn = lemmas.select("word", "synset")
    reach = word_syn.unionByName(
        word_syn.join(F.broadcast(closure), "synset")
        .select("word", F.col("ancestor").alias("synset"))
    )
    hit = (
        reach.join(F.broadcast(anchor_synsets), "synset")
        .groupBy("word")
        .agg(F.collect_set("semclass").alias("_classes"))
    )
    pick = F.coalesce(
        *[
            F.when(F.array_contains("_classes", c), F.lit(c))
            for c in PRIORITY
        ],
        F.lit("Other"),
    )
    return (
        words.join(hit, "word", "left")
        .withColumn("semclass", F.when(F.col("_classes").isNotNull(), pick).otherwise(F.lit("Other")))
        .drop("_classes")
    )

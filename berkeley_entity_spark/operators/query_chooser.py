"""Trained query-denotation chooser (SURVEY.md §2.6 — the discriminative
half of the wiki link layer).

Reference: wiki/JointQueryDenotationChooser.scala (latent-query training:
likelihood of the correct denotation marginalizing over which query variant
produced it) with the feature templates of wiki/QueryChooser.scala:
  * query-level (featurizeQueries:115-141): FirstNonempty,
    TypeAndNonempty=<type>-<nonempty>;
  * (query, denotation)-level (featurizeQueriesAndDenotations:487-517):
    Rank=<type>-<r>, MatchesQuery=<type>-<bool>, and when not matching
    ContainsQuery / StartsWithQuery / EndsWithQuery, plus "Impossible"
    when the denotation is not among the query's vote candidates.
POS-based PROP/NOM descriptors and the parenthetical features are omitted
(this corpus has neither POS tags nor parenthetical titles — disclosed);
query variants are operators.joint.query_variants_col's FULL / FIRST /
LAST (the web-scale analog of Query.extractQueriesBest).

The decode is the reference's score matrix argmax
(JointQueryDenotationChooser.scala:85-101): score(q, d) = queryFeats(q) +
queryDenotationFeats(q, d), best (q, d) wins, ties broken (q_idx asc,
title asc) for reproducibility.

Spark-first: the frozen weights (ml/query_chooser.json, trained by
tools/train_query_chooser.py) become ONE broadcast map literal; every
feature string is a concat expression and the score a fixed-order sum of
map lookups — whole-stage codegen, no Python.  The ranked vote DB is a
top-k-per-surface dim (broadcastable at web scale); the only wide exchange
is the per-mention argmax window.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

QUERY_TYPES = ("FULL", "FIRST", "LAST")


# ------------------------------------------------------------------ python
def featurize_query(qtype: str, nonempty: bool, is_first_nonempty: bool) -> list[str]:
    """featurizeQueries (QueryChooser.scala:115-141), reference order."""
    b = lambda x: "true" if x else "false"  # noqa: E731 — matches _bool_str
    return [
        f"FirstNonempty={b(is_first_nonempty)}",
        f"TypeAndNonempty={qtype}-{b(nonempty)}",
    ]


def featurize_query_denotation(
    qtype: str, variant: str, den: str, rank: int | None
) -> list[str]:
    """featurizeQueriesAndDenotations (QueryChooser.scala:487-517),
    reference order; rank is 1-based within the variant's vote-sorted
    candidate list, None when the denotation is not a candidate."""
    if rank is None:
        return ["Impossible"]
    b = lambda x: "true" if x else "false"  # noqa: E731 — matches _bool_str
    feats = [f"Rank={qtype}-{rank}"]
    matches = den.lower() == variant.lower()
    feats.append(f"MatchesQuery={qtype}-{b(matches)}")
    if not matches:
        d, v = den.lower(), variant.lower()
        feats.append(f"ContainsQuery={qtype}-{b(v in d)}")
        feats.append(f"StartsWithQuery={qtype}-{b(d.startswith(v))}")
        feats.append(f"EndsWithQuery={qtype}-{b(d.endswith(v))}")
    return feats


def load_query_chooser() -> dict[str, float]:
    from importlib import resources

    data = resources.files("berkeley_entity_spark.ml").joinpath(
        "query_chooser.json"
    ).read_text()
    return {k: float(v) for k, v in json.loads(data).items()}


# ------------------------------------------------------------------- spark
def _bool_str(col):
    """'true'/'false' rendering shared by the Spark path and the DuckDB
    oracle (Python str(bool) capitalizes; the frozen artifact uses
    lowercase, see tools/train_query_chooser.py)."""
    return F.when(col, F.lit("true")).otherwise(F.lit("false"))


def choose_denotations(
    surfaces: DataFrame,
    link_votes: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """(surface) x (surface, title, votes) -> one chosen denotation per
    surface: the trained (query, denotation) argmax described above.

    Returns (surface, q_idx, variant, title, score, rank)."""
    wmap = F.create_map(*[F.lit(x) for kv in sorted(weights.items()) for x in kv])

    s = F.col("surface")
    toks = F.split(s, " ")
    var3 = F.array(s, F.element_at(toks, 1), F.element_at(toks, -1))
    variants = (
        surfaces.select("surface", F.posexplode(var3).alias("q_idx", "variant"))
        .groupBy("surface", "variant")
        .agg(F.min("q_idx").alias("q_idx"))  # dedup keeping first (stable idx)
    )
    w_rank = Window.partitionBy("surface").orderBy(F.desc("votes"), F.asc("title"))
    ranked = (
        link_votes.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= 3)
        .select(F.col("surface").alias("variant"), "title", "rank")
    )
    ne = ranked.select("variant").distinct().withColumn("_ne", F.lit(True))
    variants = (
        variants.join(F.broadcast(ne), "variant", "left")
        .withColumn("nonempty", F.coalesce("_ne", F.lit(False)))
        .drop("_ne")
    )
    w_first = Window.partitionBy("surface")
    variants = variants.withColumn(
        "first_ne_idx",
        F.min(F.when(F.col("nonempty"), F.col("q_idx"))).over(w_first),
    )
    dens = (
        variants.join(F.broadcast(ranked), "variant")
        .select("surface", "title")
        .distinct()
    )
    pairs = variants.join(dens, "surface").join(
        F.broadcast(ranked), ["variant", "title"], "left"
    )
    qtype = F.element_at(
        F.array(*[F.lit(t) for t in QUERY_TYPES]), F.col("q_idx") + 1
    )
    matches = F.lower("title") == F.lower("variant")
    first_ne = F.col("first_ne_idx").isNotNull() & (
        F.col("q_idx") == F.col("first_ne_idx")
    )
    dash = F.lit("-")
    qfeats = [
        F.concat(F.lit("FirstNonempty="), _bool_str(first_ne)),
        F.concat(F.lit("TypeAndNonempty="), qtype, dash, _bool_str(F.col("nonempty"))),
    ]
    has_rank = F.col("rank").isNotNull()
    dfeats = [
        F.when(has_rank, F.concat(F.lit("Rank="), qtype, dash, F.col("rank").cast("string"))).otherwise(F.lit("Impossible")),
        F.when(has_rank, F.concat(F.lit("MatchesQuery="), qtype, dash, _bool_str(matches))),
        F.when(
            has_rank & ~matches,
            F.concat(
                F.lit("ContainsQuery="), qtype, dash,
                _bool_str(F.contains(F.lower("title"), F.lower("variant"))),
            ),
        ),
        F.when(
            has_rank & ~matches,
            F.concat(
                F.lit("StartsWithQuery="), qtype, dash,
                _bool_str(F.startswith(F.lower("title"), F.lower("variant"))),
            ),
        ),
        F.when(
            has_rank & ~matches,
            F.concat(
                F.lit("EndsWithQuery="), qtype, dash,
                _bool_str(F.endswith(F.lower("title"), F.lower("variant"))),
            ),
        ),
    ]
    score = None
    for ftr in qfeats + dfeats:
        term = F.coalesce(F.element_at(wmap, ftr), F.lit(0.0))
        score = term if score is None else score + term
    scored = pairs.select(
        "surface", "q_idx", "variant", "title", "rank", score.alias("score")
    )
    w_best = Window.partitionBy("surface").orderBy(
        F.desc("score"), F.asc("q_idx"), F.asc("title")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w_best))
        .where(F.col("_rn") == 1)
        .select(
            "surface", "q_idx", "variant", "title",
            F.round("score", 6).alias("score"), "rank",
        )
    )

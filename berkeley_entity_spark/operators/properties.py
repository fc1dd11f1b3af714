"""Mention property computation: number + gender (SURVEY.md P11, S4).

Reference semantics re-expressed as DataFrame joins + CASE expressions:

  * Bergsma-Lin count table lookup with sanitized keys (lowercase, digit
    runs -> "#"): NumberGenderComputer.scala:13-15 (sanitizeWord),
    :17-25 (accessCounts; a missing key behaves exactly like stored
    all-zero counts — `sameElements(NullCounts)`).
  * number: phrase lookup, back off to head word, default SINGULAR when
    masc+fem+neut >= plural: NumberGenderComputer.scala:27-39.
  * gender (non-person): Stanford-style confidence rule — a class wins when
    its count >= 2x the other two combined AND >= 3, else UNKNOWN:
    NumberGenderComputer.scala:41-56.
  * gender (person): when the head token is capitalized and the token before
    it is capitalized too, treat that previous token as a first name and
    decide from its counts alone: NumberGenderComputer.scala:62-76,
    invoked for PERSON mentions from Mention.scala:336-344.

The count table is a broadcast dimension (the reference loads gender.data
into driver memory every run — NumberGenderComputer.scala:108-183; here it
is a DataFrame so the same lookup scales past memory via a shuffle join when
the byte gate declines the broadcast).  The gate reads the planner's size
estimate; it counts the table only when the estimate cannot show it small
(a parallelized driver list has no size statistic).  All lookups run at the
DISTINCT SPAN level, then join back to mention instances — the same
dedupe-first decision as blocking.  That property table keeps its byte gate
(util.maybe_broadcast on its counted rows): without it the planner shuffles
the mention side of the join-back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.util import BROADCAST_CAP_BYTES, maybe_broadcast

NUMGENDER_SCHEMA = "phrase string, masc int, fem int, neut int, plur int"


def sanitize(col: Column) -> Column:
    """NumberGenderComputer.sanitizeWord: lowercase, digit runs -> '#'."""
    return F.regexp_replace(F.lower(col), "[0-9]+", "#")


def _is_cap(col: Column) -> Column:
    """Character.isUpperCase on the first char (ASCII A-Z — both engines)."""
    return F.ascii(F.substring(col, 1, 1)).between(65, 90)


def _gender_case(m: Column, f: Column, n: Column) -> Column:
    """NumberGenderComputer.scala:47-55 confidence cascade."""
    return (
        F.when((m >= 2 * (f + n)) & (m >= 3), F.lit("MALE"))
        .when((f >= 2 * (m + n)) & (f >= 3), F.lit("FEMALE"))
        .when((n >= 2 * (m + f)) & (n >= 3), F.lit("NEUTRAL"))
        .otherwise(F.lit("UNKNOWN"))
    )


def _ng_joined(spans: DataFrame, ng: DataFrame, key: str, prefix: str) -> DataFrame:
    looked = ng.select(
        F.col("phrase").alias(key),
        F.col("masc").alias(f"{prefix}m"),
        F.col("fem").alias(f"{prefix}f"),
        F.col("neut").alias(f"{prefix}n"),
        F.col("plur").alias(f"{prefix}p"),
    )
    out = spans.join(looked, key, "left")
    for c in ("m", "f", "n", "p"):
        out = out.withColumn(f"{prefix}{c}", F.coalesce(f"{prefix}{c}", F.lit(0)))
    return out


def _props_for(spans: DataFrame, numgender: DataFrame) -> DataFrame:
    """Add `number`, `gender`, `_mtype` to the distinct (`span`,
    `_person`) key table.  Drops its own temp columns.  The property cascade
    is a pure function of (span, _person), which is what makes evaluating it
    per key and joining back exact."""
    toks = F.split(F.col("span"), " ")
    spans = (
        spans.withColumn("_head_tok", F.element_at(toks, -1))
        .withColumn("_prev_tok", F.when(F.size(toks) >= 2, F.element_at(toks, -2)))
        .withColumn("_phrase_key", sanitize(F.col("span")))
        .withColumn("_head_key", sanitize(F.col("_head_tok")))
        .withColumn("_first_key", sanitize(F.col("_prev_tok")))
    )
    spans = _ng_joined(spans, numgender, "_phrase_key", "p")
    spans = _ng_joined(spans, numgender, "_head_key", "h")
    spans = _ng_joined(spans, numgender, "_first_key", "f")

    # accessCounts backoff: phrase counts count as "found" iff not all-zero
    found = (F.col("pm") + F.col("pf") + F.col("pn") + F.col("pp")) > 0
    cm = F.when(found, F.col("pm")).otherwise(F.col("hm"))
    cf = F.when(found, F.col("pf")).otherwise(F.col("hf"))
    cn = F.when(found, F.col("pn")).otherwise(F.col("hn"))
    cp = F.when(found, F.col("pp")).otherwise(F.col("hp"))

    number_counts = F.when(cm + cf + cn >= cp, F.lit("SINGULAR")).otherwise(
        F.lit("PLURAL")
    )
    gender_nonperson = _gender_case(cm, cf, cn)
    # person first-name special case: head capitalized (assume last name) AND
    # previous token capitalized (assume first name) -> counts of that first
    # name alone (NumberGenderComputer.scala:64-69); all other person shapes
    # fall through to the non-person rule (:70-75)
    first_name_path = (
        F.col("_person")
        & _is_cap(F.col("_head_tok"))
        & F.col("_prev_tok").isNotNull()
        & _is_cap(F.col("_prev_tok"))
    )
    gender_counts = F.when(
        first_name_path, _gender_case(F.col("fm"), F.col("ff"), F.col("fn"))
    ).otherwise(gender_nonperson)

    # Pronominal branch (Mention.scala:317-335): a single-token pronoun
    # mention takes number/gender from the pronoun sets, never from counts.
    from berkeley_entity_spark.operators.pronouns import (
        ALL_PRONOUNS,
        mention_type_col,
        pron_gender_col,
        pron_number_col,
    )

    # shared gate with mention_type_col (see span_pronoun_gate docstring:
    # the two sites must stay in lockstep)
    from berkeley_entity_spark.operators.pronouns import span_pronoun_gate

    low_span, eligible = span_pronoun_gate(F.col("span"))
    pronominal = eligible & low_span.isin(*sorted(ALL_PRONOUNS))
    number = F.when(pronominal, pron_number_col(low_span)).otherwise(number_counts)
    gender = F.when(pronominal, pron_gender_col(low_span)).otherwise(gender_counts)

    temp = ["_head_tok", "_prev_tok", "_phrase_key", "_head_key",
            "_first_key"] + [f"{p}{c}" for p in "phf" for c in "mfnp"]
    return (
        spans.withColumn("number", number)
        .withColumn("gender", gender)
        # Mention.scala:304-314 type cascade (DEMONSTRATIVE/PRONOMINAL/PROPER)
        .withColumn("_mtype", mention_type_col(F.col("span")))
        .drop(*temp)
    )


def with_number_gender(
    mentions: DataFrame,
    numgender: DataFrame,
    person_expr: Column,
) -> DataFrame:
    """Replace the number/gender columns of `mentions` with values computed
    from the Bergsma-Lin-style count table `numgender(phrase, masc, fem,
    neut, plur)` (phrase pre-sanitized).

    person_expr: boolean Column over the mention row selecting PERSON
    mentions (the reference gates on nerString == "PERSON",
    Mention.scala:336).

    The cascade runs once per DISTINCT (span, person) key and the small
    property table is joined back (broadcast under the byte gate, shuffle
    join past it — AQE skew handling covers hot surfaces).  The cascade is
    a ~30-regexp expression tree whose shared subexpressions sit inside
    CASE branches, where codegen cannot eliminate them — evaluating it per
    mention INSTANCE was measured at ~95us/row and capped pipeline scaling
    (18.8M mentions / 7.5k surfaces at 2.4M pages).  Web corpora repeat
    surfaces heavily, so dedupe-first is the same decision as blocking."""
    # the planner sizes a count table read from files or a local relation
    # and broadcasts it under its own threshold, with no job; only a table
    # it cannot show to be small (a parallelized driver list reports
    # Long.MaxValue bytes) is counted for the byte gate
    if numgender._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() > (
        BROADCAST_CAP_BYTES
    ):
        numgender = maybe_broadcast(numgender, numgender.count())
    base = mentions.withColumn("_person", person_expr)
    ordered = [c for c in mentions.columns if c not in ("number", "gender")] + [
        "number",
        "gender",
    ]
    keys = base.select("span", "_person").distinct()
    props = _props_for(keys, numgender)
    # the key table is bounded by the distinct-surface count, not the
    # corpus; byte-gate its broadcast like any other dimension
    props = maybe_broadcast(props, props.count())
    names = ("span", "_person", "number", "gender", "_mtype")
    props = props.select([F.col(c).alias(f"_pr_{c}") for c in names])
    cond = base["span"].eqNullSafe(props["_pr_span"]) & base[
        "_person"
    ].eqNullSafe(props["_pr__person"])
    out = (
        base.drop("number", "gender")
        .join(props, cond, "left")
        .withColumnRenamed("_pr_number", "number")
        .withColumnRenamed("_pr_gender", "gender")
    )
    if "mtype" in mentions.columns:
        out = out.drop("mtype").withColumnRenamed("_pr__mtype", "mtype")
    return out.drop(
        "_pr_span", "_pr__person", "_pr__mtype", "_person"
    ).select(*ordered)

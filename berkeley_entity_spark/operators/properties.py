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


def sanitize(x: str) -> str:
    """NumberGenderComputer.sanitizeWord: lowercase, digit runs -> '#'.
    SQL text over the SQL expression `x`."""
    return f"regexp_replace(lower({x}), '[0-9]+', '#')"


def _is_cap(x: str) -> str:
    """Character.isUpperCase on the first char (ASCII A-Z — both engines)."""
    first = f"ascii(substring({x}, 1, 1))"
    return f"({first} >= 65 AND {first} <= 90)"


def _gender_case(m: str, f: str, n: str) -> str:
    """NumberGenderComputer.scala:47-55 confidence cascade."""
    return (
        f"CASE WHEN {m} >= 2 * ({f} + {n}) AND {m} >= 3 THEN 'MALE' "
        f"WHEN {f} >= 2 * ({m} + {n}) AND {f} >= 3 THEN 'FEMALE' "
        f"WHEN {n} >= 2 * ({m} + {f}) AND {n} >= 3 THEN 'NEUTRAL' "
        "ELSE 'UNKNOWN' END"
    )


def _ng_joined(spans: DataFrame, ng: DataFrame, key: str, prefix: str) -> DataFrame:
    looked = ng.selectExpr(
        f"phrase AS {key}",
        f"masc AS {prefix}m",
        f"fem AS {prefix}f",
        f"neut AS {prefix}n",
        f"plur AS {prefix}p",
    )
    return spans.join(looked, key, "left").withColumns(
        {f"{prefix}{c}": F.expr(f"coalesce({prefix}{c}, 0)") for c in "mfnp"}
    )


def _props_for(spans: DataFrame, numgender: DataFrame) -> DataFrame:
    """Add `number`, `gender`, `_mtype` to the distinct (`span`,
    `_person`) key table.  Drops its own temp columns.  The property cascade
    is a pure function of (span, _person), which is what makes evaluating it
    per key and joining back exact.  The cascade is SQL text: each step
    parses in one py4j round trip, where every node of a nested F.* tree
    is one."""
    from berkeley_entity_spark.operators.pronouns import (
        ALL_PRONOUNS,
        MENTION_TYPE,
        PRON_GENDER,
        PRON_NUMBER,
        SPAN_ELIGIBLE,
        SPAN_LOW,
        isin_sql,
    )

    toks = "split(span, ' ')"
    spans = spans.selectExpr(
        "*",
        f"element_at({toks}, -1) AS _head_tok",
        f"CASE WHEN size({toks}) >= 2 THEN element_at({toks}, -2) END AS _prev_tok",
        f"{sanitize('span')} AS _phrase_key",
    ).selectExpr(
        "*",
        f"{sanitize('_head_tok')} AS _head_key",
        f"{sanitize('_prev_tok')} AS _first_key",
    )
    spans = _ng_joined(spans, numgender, "_phrase_key", "p")
    spans = _ng_joined(spans, numgender, "_head_key", "h")
    spans = _ng_joined(spans, numgender, "_first_key", "f")

    # accessCounts backoff: phrase counts count as "found" iff not all-zero
    found = "(pm + pf + pn + pp) > 0"
    cm, cf, cn, cp = (
        f"(CASE WHEN {found} THEN p{c} ELSE h{c} END)" for c in "mfnp"
    )
    number_counts = (
        f"CASE WHEN {cm} + {cf} + {cn} >= {cp} THEN 'SINGULAR' ELSE 'PLURAL' END"
    )
    # person first-name special case: head capitalized (assume last name) AND
    # previous token capitalized (assume first name) -> counts of that first
    # name alone (NumberGenderComputer.scala:64-69); all other person shapes
    # fall through to the non-person rule (:70-75)
    # (the parser balances an AND chain of four; the parentheses keep the
    # left-deep tree a Column chain builds)
    first_name_path = (
        f"((_person AND {_is_cap('_head_tok')}) AND _prev_tok IS NOT NULL) "
        f"AND {_is_cap('_prev_tok')}"
    )
    gender_counts = (
        f"CASE WHEN {first_name_path} THEN {_gender_case('fm', 'ff', 'fn')} "
        f"ELSE {_gender_case(cm, cf, cn)} END"
    )

    # Pronominal branch (Mention.scala:317-335): a single-token pronoun
    # mention takes number/gender from the pronoun sets, never from counts.
    # The gate is shared with MENTION_TYPE (the two sites must stay in
    # lockstep; see the pronouns module).
    pronominal = f"{SPAN_ELIGIBLE} AND {isin_sql(SPAN_LOW, ALL_PRONOUNS)}"
    # number is its own step: the planner then folds it into the step that
    # fills in the counts, while gender, which reads those counts several
    # times, stays a step above
    number = F.expr(
        f"CASE WHEN {pronominal} THEN {PRON_NUMBER} "
        f"ELSE {number_counts} END"
    )
    return spans.withColumn("number", number).selectExpr(
        "span",
        "_person",
        "number",
        f"CASE WHEN {pronominal} THEN {PRON_GENDER} "
        f"ELSE {gender_counts} END AS gender",
        # Mention.scala:304-314 type cascade (DEMONSTRATIVE/PRONOMINAL/PROPER)
        f"{MENTION_TYPE} AS _mtype",
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
    cols = mentions.columns
    ordered = [c for c in cols if c not in ("number", "gender")] + [
        "number",
        "gender",
    ]
    keys = base.select("span", "_person").distinct()
    props = _props_for(keys, numgender)
    # the key table is bounded by the distinct-surface count, not the
    # corpus; byte-gate its broadcast like any other dimension
    props = maybe_broadcast(props, props.count())
    names = ("span", "_person", "number", "gender", "_mtype")
    props = props.selectExpr(*[f"{c} AS _pr_{c}" for c in names])
    cond = F.expr("span <=> _pr_span AND _person <=> _pr__person")
    out = (
        base.drop("number", "gender")
        .join(props, cond, "left")
        .withColumnsRenamed({"_pr_number": "number", "_pr_gender": "gender"})
    )
    if "mtype" in cols:
        out = out.drop("mtype").withColumnRenamed("_pr__mtype", "mtype")
    return out.select(*ordered)

"""Pronoun dictionary + canonicalization (SURVEY.md P12).

Faithful port of coref/PronounDictionary.scala:4-80: the person/number/
gender pronoun sets (borrowed from Stanford's Dictionaries, as the
reference notes) and the canonicalization map.  Exposed both as Python
frozensets (for Arrow kernels) and as SQL text for the property
computation CASE expressions (the sets are tiny literals, no broadcast
needed; text, because a Column isin costs a py4j round trip per word
while the plan is built).
"""

from __future__ import annotations

from berkeley_entity_spark.util import sql_str

FIRST_PERSON = frozenset(
    "i me myself mine my we us ourself ourselves ours our".split()
)
SECOND_PERSON = frozenset("you yourself yours your yourselves".split())
THIRD_PERSON = frozenset(
    "he him himself his she her herself hers it itself its one oneself one's "
    "they them themself themselves theirs their 'em".split()
)
OTHER_PRONOUNS = frozenset("who whom whose where when which".split())
DEMONSTRATIVES = frozenset("this that these those".split())

SINGULAR = frozenset(
    "i me myself mine my yourself he him himself his she her herself hers "
    "it itself its one oneself one's".split()
)
PLURAL = frozenset(
    "we us ourself ourselves ours our yourself yourselves they them "
    "themself themselves theirs their".split()
)
MALE = frozenset("he him himself his".split())
FEMALE = frozenset("her hers herself she".split())
NEUTRAL = frozenset("it its itself where here there which".split())

ALL_PRONOUNS = FIRST_PERSON | SECOND_PERSON | THIRD_PERSON | OTHER_PRONOUNS

# PronounDictionary.scala:23-80 canonicalizations (incl. the quirk entries)
CANONICALIZATIONS = {
    "i": "i", "me": "i", "my": "i", "myself": "i", "mine": "i",
    "you": "you", "your": "you", "yourself": "you", "yourselves": "you",
    "yours": "you", "he": "he", "him": "he", "his": "he", "himself": "he",
    "she": "she", "her": "she", "herself": "she", "hers": "she",
    "we": "we", "us": "we", "our": "we", "ourself": "we",
    "ourselves": "we", "ours": "we", "they": "they", "them": "they",
    "their": "they", "themself": "they", "themselves": "they",
    "theirs": "they", "'em": "they", "it": "it", "itself": "it",
    "its": "it", "one": "one", "oneself": "one", "one's": "one",
    "this": "this", "that": "that", "these": "these", "those": "those",
    "which": "which", "who": "who", "whom": "who",
    "thy": "thy", "y'all": "you", "you're": "you", "you'll": "you",
    "'s": "'s",
}


def is_pronoun_lc(word_lc: str) -> bool:
    """PronounDictionary.isPronLc."""
    return word_lc in ALL_PRONOUNS


def canonicalize(word: str) -> str:
    """Stanford-style canonical form; non-pronouns pass through lowercased
    (the reference returns the input when unmapped)."""
    low = word.lower()
    return CANONICALIZATIONS.get(low, low)


def isin_sql(x: str, words: frozenset[str]) -> str:
    """SQL text `x IN (...)` over the sorted set: the same In (InSet past
    the optimizer's threshold) a Column isin builds."""
    return f"{x} IN ({', '.join(sql_str(w) for w in sorted(words))})"


# The pronoun gate over the `span` column, as SQL text: (SPAN_LOW, the
# lowercased period-stripped base, and SPAN_ELIGIBLE), shared by the property
# computation and the mention-type cascade — these two MUST stay in lockstep
# or a mention could get mtype=PROPER with pronoun-table number/gender.
# Trailing periods stripped ('Them.'); acronym shapes ('US', 'IT', 'U.S.')
# excluded — the reference gates pronominal type on POS (Mention.scala:311),
# which span-only web mentions lack.
_TRAILING_PERIODS = sql_str(r"\.+$")
_BASE = f"regexp_replace(span, {_TRAILING_PERIODS}, '')"
SPAN_LOW = f"lower({_BASE})"
SPAN_ELIGIBLE = (
    f"(NOT contains(span, ' ') AND NOT contains({_BASE}, '.') "
    f"AND NOT ({_BASE} = upper({_BASE}) AND length({_BASE}) >= 2))"
)

# Mention.scala:320-329 pronominal gender cascade
PRON_GENDER = (
    f"CASE WHEN {isin_sql(SPAN_LOW, MALE)} THEN 'MALE' "
    f"WHEN {isin_sql(SPAN_LOW, FEMALE)} THEN 'FEMALE' "
    f"WHEN {isin_sql(SPAN_LOW, NEUTRAL)} THEN 'NEUTRAL' ELSE 'UNKNOWN' END"
)
# Mention.scala:330-335 pronominal number cascade
PRON_NUMBER = (
    f"CASE WHEN {isin_sql(SPAN_LOW, SINGULAR)} THEN 'SINGULAR' "
    f"WHEN {isin_sql(SPAN_LOW, PLURAL)} THEN 'PLURAL' ELSE 'UNKNOWN' END"
)
# Mention.scala:304-314 type cascade for span-only web mentions:
# single-token demonstrative -> DEMONSTRATIVE, single-token pronoun ->
# PRONOMINAL, else PROPER (our extractor only emits capitalized runs, so
# the NOMINAL branch — common-noun heads — cannot occur here)
MENTION_TYPE = (
    f"CASE WHEN {SPAN_ELIGIBLE} AND {isin_sql(SPAN_LOW, DEMONSTRATIVES)} "
    "THEN 'DEMONSTRATIVE' "
    f"WHEN {SPAN_ELIGIBLE} AND {isin_sql(SPAN_LOW, ALL_PRONOUNS)} THEN 'PRONOMINAL' "
    "ELSE 'PROPER' END"
)

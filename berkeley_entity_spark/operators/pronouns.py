"""Pronoun dictionary + canonicalization (SURVEY.md P12).

Faithful port of coref/PronounDictionary.scala:4-80: the person/number/
gender pronoun sets (borrowed from Stanford's Dictionaries, as the
reference notes) and the canonicalization map.  Exposed both as Python
frozensets (for Arrow kernels) and as Spark Column helpers (for the
property computation CASE expressions — the sets are tiny literals, no
broadcast needed).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def _isin(col: Column, words: frozenset[str]) -> Column:
    return col.isin(*sorted(words))


def pron_gender_col(low: Column) -> Column:
    """Mention.scala:320-329 pronominal gender cascade."""
    return (
        F.when(_isin(low, MALE), F.lit("MALE"))
        .when(_isin(low, FEMALE), F.lit("FEMALE"))
        .when(_isin(low, NEUTRAL), F.lit("NEUTRAL"))
        .otherwise(F.lit("UNKNOWN"))
    )


def pron_number_col(low: Column) -> Column:
    """Mention.scala:330-335 pronominal number cascade."""
    return (
        F.when(_isin(low, SINGULAR), F.lit("SINGULAR"))
        .when(_isin(low, PLURAL), F.lit("PLURAL"))
        .otherwise(F.lit("UNKNOWN"))
    )


def span_pronoun_gate(span: Column) -> tuple[Column, Column]:
    """(lowercased period-stripped base, eligibility) shared by the
    property computation and the mention-type cascade — these two MUST stay
    in lockstep or a mention could get mtype=PROPER with pronoun-table
    number/gender.  Trailing periods stripped ('Them.'); acronym shapes
    ('US', 'IT', 'U.S.') excluded — the reference gates pronominal type on
    POS (Mention.scala:311), which span-only web mentions lack."""
    base = F.regexp_replace(span, r"\.+$", "")
    low = F.lower(base)
    eligible = (
        ~span.contains(" ")
        & ~base.contains(".")
        & ~((base == F.upper(base)) & (F.length(base) >= 2))
    )
    return low, eligible


def mention_type_col(span: Column) -> Column:
    """Mention.scala:304-314 type cascade for span-only web mentions:
    single-token demonstrative -> DEMONSTRATIVE, single-token pronoun ->
    PRONOMINAL, else PROPER (our extractor only emits capitalized runs, so
    the NOMINAL branch — common-noun heads — cannot occur here)."""
    low, eligible = span_pronoun_gate(span)
    return (
        F.when(eligible & _isin(low, DEMONSTRATIVES), F.lit("DEMONSTRATIVE"))
        .when(eligible & _isin(low, ALL_PRONOUNS), F.lit("PRONOMINAL"))
        .otherwise(F.lit("PROPER"))
    )

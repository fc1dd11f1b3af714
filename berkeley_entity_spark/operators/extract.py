"""Extract stage: webpages -> mention records (P1-P13 of SURVEY.md §2.2).

Reference semantics re-expressed:
  * html -> text happens upstream: the stored text column equals
    preprocess.normalize.extract_text(html) (deterministic boilerplate
    strip + paragraph canonicalization, preprocess/SentenceSplitter.scala:
    32-55 — the byte-identical-text-per-url invariant), so extraction reads
    text only.
  * sentence split: SentenceSplitter.scala:57-96 candidate machinery.
  * mention spans: proper-name runs of capitalized tokens — the web-text
    analog of CorefDocAssembler.scala:66-90 (NP spans ∪ NE chunks, with the
    closed-class/starter filter playing the role of the NE-type blacklist at
    CorefDocAssembler.scala:71).
  * canonical mention order + ids: CorefDocAssembler.scala:473-475 ordering
    becomes a deterministic content hash xxhash64(url, sent, start, end)
    (no monotonically_increasing_id — ids must not depend on partitioning).
  * normalized name key: wiki/Query.scala:120-164 query canonicalization
    analog (lowercase, strip periods, collapse whitespace).

All row-level work happens inside Arrow-batched mapInPandas; the surrounding
plan is pure DataFrame ops so Catalyst can prune/push down around it.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.preprocess.sentence import split_sentences
from berkeley_entity_spark.synth import STARTERS_SET

# Capitalized proper-name token (incl. initials "J." and acronyms "GDC").
_CAP_TOKEN = re.compile(r"^[A-Z][A-Za-z0-9.&'\-]*$")

# Mention size ceiling: a capitalized run longer than this is a Title-Case
# headline, not a name, and is dropped (the reference bounds mention size
# implicitly via NP spans — CorefDocAssembler.scala:66-90; unbounded runs
# also feed pathological token-alignment pairs into the scoring kernel).
MAX_MENTION_TOKENS = 10

MENTIONS_SCHEMA = (
    "url string, sent_idx int, start int, end int, span string, head string, "
    "norm_name string, mtype string, ner string, number string, gender string, "
    "is_acr boolean, appositive_like boolean"
)


def normalize_name(span: str) -> str:
    """Normalized name key: lowercase, strip periods, collapse whitespace."""
    return " ".join(t for t in span.replace(".", "").lower().split() if t)


# CC (coordinating conjunction) closed class — the POS tag "CC"
_CC_WORDS = frozenset(("and", "or", "but", "nor", "yet", "so", "&", "plus"))


def _appositive_like(toks: list[str], end: int) -> bool:
    """P9's appositive-like predicate (CorefDocAssembler.scala:181): the
    token right after the span is a comma or a coordinating conjunction.
    Covers PTB-style (',' its own token) and web tokens (comma attached)."""
    if end >= len(toks):
        return False
    nxt = toks[end]
    return (
        nxt == ","
        or nxt.startswith(",")
        or nxt.rstrip(".,").lower() in _CC_WORDS
    )


def _mentions_from_text(
    text: str, appositive_subspans: bool = False
) -> list[tuple[int, int, int, str, bool]]:
    """(sent_idx, start, end, span, appositive_like) for each maximal
    capitalized run.

    Token index 0 of every sentence is the (capitalized) sentence starter and
    is excluded from candidacy — the closed-class filter.

    appositive_subspans=True is P9's sub-span retention rule
    (CorefDocAssembler.scala:157-189): the reference keeps NON-MAXIMAL
    same-head spans when the context looks appositive ("Alice Smith, Apex
    CEO" must also yield the nested head candidate).  The capitalized-run
    analog: for an appositive-like multi-token run, additionally emit the
    head-token sub-span (same head, non-maximal, same appositive context).
    Default off — the maximal-only contract of round 1/2 is unchanged.
    """
    out = []
    for s_idx, sent in enumerate(split_sentences([text])):
        toks = sent.split(" ")
        run_start = None
        for i in range(1, len(toks) + 1):
            is_cap = i < len(toks) and bool(_CAP_TOKEN.match(toks[i]))
            if is_cap and run_start is None:
                run_start = i
            elif not is_cap and run_start is not None:
                span = " ".join(toks[run_start:i])
                if span not in STARTERS_SET and i - run_start <= MAX_MENTION_TOKENS:
                    appos = _appositive_like(toks, i)
                    out.append((s_idx, run_start, i, span, appos))
                    if appositive_subspans and appos and i - run_start >= 2:
                        # the retained same-head nested candidate ends at the
                        # same position, so it shares the appositive context
                        out.append((s_idx, i - 1, i, toks[i - 1], True))
                run_start = None
    return out


def extract_mentions(
    pages: DataFrame,
    appositive_subspans: bool = False,
) -> DataFrame:
    """webpages(url, warc_ts, html, text, lang) -> mentions DataFrame.

    The stored text column is trusted and html is never read — column
    pruning keeps the 100 TB binary column out of the scan.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_cols = [
            "url", "sent_idx", "start", "end", "span", "head",
            "norm_name", "mtype", "ner", "number", "gender", "is_acr",
            "appositive_like",
        ]
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for s_idx, start, end, span, appos in _mentions_from_text(
                    text, appositive_subspans
                ):
                    norm = normalize_name(span)
                    head = norm.split(" ")[-1] if norm else ""
                    # all-caps single short token = written-as-acronym
                    is_acr = (
                        " " not in span and span.isupper() and 2 <= len(span) <= 6
                    )
                    rows.append(
                        (url, s_idx, start, end, span, head, norm,
                         "PROPER", "", "UNKNOWN", "UNKNOWN", is_acr, appos)
                    )
            yield pd.DataFrame(rows, columns=out_cols)

    mentions = pages.select("url", "text").mapInPandas(
        gen, schema=MENTIONS_SCHEMA
    )
    return mentions.selectExpr(
        "*", "xxhash64(url, sent_idx, start, `end`) AS mention_id"
    )


# ---------------------------------------------------------- nominal mentions

# Determiner closed class (DT) and the run-terminating function words.
# Both lists are deliberately tiny and FROZEN: the same literals are
# embedded in the q_nominal_mentions DuckDB oracle, so any edit must touch
# both (the oracle hash enforces it).
_DETERMINERS = frozenset(("the", "a", "an", "this", "that", "these", "those"))
# run stops: conjunctions/prepositions (the original list), relative
# pronouns, auxiliaries/copulas and personal pronouns — the function words
# a parser's NP boundary would exclude (audited against the
# CorefDocAssembler.scala:506-556 error taxonomy in
# tests/test_nominal_recall.py; head recall 0.47 -> 0.87 on that set).
# The possessive clitic 's needs no entry: _NP_TOKEN rejects the
# apostrophe before the stop list is consulted.
_NP_STOP = frozenset((
    "and", "or", "but", "of", "in", "on", "at", "to", "for",
    "who", "whom", "whose", "which", "where", "when", "while",
    "is", "are", "was", "were", "be", "been", "has", "have", "had",
    "will", "would", "shall", "should", "can", "could", "may", "might",
    "must", "do", "does", "did", "not", "as", "by", "with", "from",
    "into", "over", "under", "after", "before", "during", "than", "then",
    "so", "because", "if", "it", "he", "she", "they", "we", "you", "i",
))
_NP_TOKEN = re.compile(r"^[a-z][a-z\-]*$")
MAX_NOMINAL_TOKENS = 5


def _verbish(t: str) -> bool:
    """Length-gated verb-morphology stop: '-ed' (len>=5) / '-ing' (len>=6)
    tokens end the nominal run — a parser-free proxy for the VP boundary.
    The length gates exempt short adjectives/nouns (red, used, thing);
    deverbal nouns like 'building' are a disclosed false stop, measured by
    the recall audit."""
    return (len(t) >= 5 and t.endswith("ed")) or (
        len(t) >= 6 and t.endswith("ing")
    )


def _nominals_from_text(text: str) -> list[tuple[int, int, int, str]]:
    """(sent_idx, start, end, span) for each determiner-led nominal chunk.

    P4 analog: the reference extracts NOMINAL mentions ("the company")
    from constituency-parse NP spans (PreprocessingDriver.java:100-110,
    CorefDocAssembler.scala:66-90); without an external parser, the
    deterministic web-text analog is a DT-led chunk — a determiner
    followed by 1..MAX_NOMINAL_TOKENS lowercase word tokens (run stops at
    non-words, nested determiners, and function words; longer runs are
    truncated, NP-chunk style).  The span INCLUDES the determiner, the
    head is the last token — the reference's NP head convention for these
    chunks."""
    out = []
    for s_idx, sent in enumerate(split_sentences([text])):
        toks = sent.split(" ")
        n = len(toks)
        for i, t in enumerate(toks):
            if t not in _DETERMINERS:
                continue
            j = i + 1
            while (
                j < n
                and j - i <= MAX_NOMINAL_TOKENS
                and _NP_TOKEN.match(toks[j])
                and toks[j] not in _DETERMINERS
                and toks[j] not in _NP_STOP
                and not _verbish(toks[j])
            ):
                j += 1
            j = min(j, i + 1 + MAX_NOMINAL_TOKENS)
            if j > i + 1:
                out.append((s_idx, i, j, " ".join(toks[i:j])))
    return out


def nominal_mentions(pages: DataFrame) -> DataFrame:
    """webpages -> nominal-mention rows (url, sent_idx, start, end, span,
    head, norm_name, mtype='nominal').

    Same Arrow shape and determinism contract as extract_mentions; these
    feed coref as the reference's NOMINAL mention type (resolved by
    head/semclass agreement rather than string match)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for s_idx, a, b, span in _nominals_from_text(text):
                    rows.append(
                        (url, s_idx, a, b, span, span.rsplit(" ", 1)[-1],
                         normalize_name(span), "nominal")
                    )
            yield pd.DataFrame(
                rows,
                columns=["url", "sent_idx", "start", "end", "span", "head",
                         "norm_name", "mtype"],
            )

    return pages.select("url", "text").mapInPandas(
        gen,
        schema="url string, sent_idx int, start int, end int, span string, "
               "head string, norm_name string, mtype string",
    ).withColumn("mention_id", F.xxhash64("url", "sent_idx", "start", "end"))

"""Wiki standoff-annotation reader/writer — the reference's interop format
for entity-linking annotations (wiki/WikiAnnotReaderWriter.scala:13-131):
one CoNLL-framed document per page whose per-token lines carry ONLY the
wiki bit string; each chunk's label is a SEQUENCE of acceptable Wikipedia
titles, pipe-joined with '(' -> -LRB-, ')' -> -RRB-, '*' -> -STAR-
escaping (wikiTitleSeqToString, scala:64-70), the empty sequence rendering
as -EXCLUDE- (wiki/package.scala:21).

Distributed shape mirrors sinks/conll.py: pages cogrouped with their title
chunks on url (one shuffle), every document rendered/parsed independently
inside an Arrow-batched kernel — no driver-side assembly, so 10^9 pages is
one cogroup + map.

Bit layout (getWikiBits, scala:80-96): per token, '(' + titles for every
chunk starting here (longest span first), then '*', then one ')' per chunk
ending here.  The parser (assembleWikiChunks, scala:98-130) is stack-based
(each ')' closes the most recently opened chunk), which round-trips the
nested spans P9's appositive retention produces.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from berkeley_entity_spark.preprocess.sentence import split_sentences

# wiki/package.scala:21
EXCLUDE_TOKEN = "-EXCLUDE-"

CHUNK_COLS = ("sent_idx", "start", "end", "titles")


def wiki_title_seq_to_string(titles: list[str]) -> str:
    """wikiTitleSeqToString (scala:64-70): empty -> -EXCLUDE-, else escape
    parens/star and pipe-join (the pipe can never occur in a title)."""
    if not titles:
        return EXCLUDE_TOKEN
    return "|".join(
        t.replace("(", "-LRB-").replace(")", "-RRB-").replace("*", "-STAR-")
        for t in titles
    )


def string_to_wiki_title_seq(s: str) -> list[str]:
    """stringToWikiTitleSeq (scala:72-78) — exact inverse."""
    if s == EXCLUDE_TOKEN:
        return []
    return [
        p.replace("-LRB-", "(").replace("-RRB-", ")").replace("-STAR-", "*")
        for p in s.split("|")
    ]


def wiki_bits(n_tokens: int, chunks: list[tuple[int, int, list[str]]]) -> list[str]:
    """getWikiBits (scala:80-96) for ONE sentence: chunks are (start, end,
    titles) with exclusive end; starts sorted longest-first so the stack
    parse closes inner chunks before outer ones."""
    out = []
    for i in range(n_tokens):
        here = sorted((c for c in chunks if c[0] == i), key=lambda c: -c[1])
        bit = "".join("(" + wiki_title_seq_to_string(c[2]) for c in here)
        bit += "*"
        bit += ")" * sum(1 for c in chunks if c[1] - 1 == i)
        out.append(bit)
    return out


def render_wiki_doc(
    url: str,
    text: str,
    chunks: list[tuple[int, int, int, list[str]]],
    part_no: int = 0,
) -> str:
    """One standoff-annotation document (writeStandoffAnnots, scala:53-66):
    CoNLL framing, one bit per token line, blank line between sentences.
    chunks: (sent_idx, start, end, titles); the token grid is re-derived
    exactly as the extract kernel derives it so offsets line up."""
    sents = [[t for t in s.split(" ") if t] for s in split_sentences([text])]
    by_sent: dict[int, list[tuple[int, int, list[str]]]] = {}
    for s_idx, start, end, titles in chunks:
        by_sent.setdefault(s_idx, []).append((start, end, titles))
    lines = [f"#begin document ({url}); part {part_no:03d}"]
    for s_idx, toks in enumerate(sents):
        lines.extend(wiki_bits(len(toks), by_sent.get(s_idx, [])))
        lines.append("")
    lines.append("#end document")
    return "\n".join(lines)


def render_wiki_annots(pages: DataFrame, chunks: DataFrame) -> DataFrame:
    """pages(url, text) x chunks(url, sent_idx, start, end,
    titles ARRAY<STRING>) -> (url, annot): cogrouped per url, every
    document renders independently."""

    def gen(page_pdf: pd.DataFrame, chunk_pdf: pd.DataFrame) -> pd.DataFrame:
        ch = [
            (int(r.sent_idx), int(r.start), int(r.end), list(r.titles))
            for r in chunk_pdf.itertuples()
        ]
        out_url, out_doc = [], []
        for r in page_pdf.itertuples():
            out_url.append(r.url)
            out_doc.append(render_wiki_doc(r.url, r.text, ch))
        return pd.DataFrame({"url": out_url, "annot": out_doc})

    return (
        pages.select("url", "text")
        .groupBy("url")
        .cogroup(chunks.select("url", *CHUNK_COLS).groupBy("url"))
        .applyInPandas(gen, schema="url string, annot string")
    )


_BEGIN = re.compile(r"^#begin document \((.*)\); part (\d+)$")


def _parse_doc(annot: str) -> list[tuple[str, int, int, int, list[str]]]:
    """assembleWikiChunks (scala:98-130) over every sentence of one
    rendered document: stack-based — each ')' closes the most recently
    opened chunk."""
    url = None
    sent_idx = 0
    tok_idx = 0
    start_stack: list[int] = []
    title_stack: list[list[str]] = []
    out: list[tuple[str, int, int, int, list[str]]] = []
    for line in annot.split("\n"):
        m = _BEGIN.match(line)
        if m:
            url, sent_idx, tok_idx = m.group(1), 0, 0
            continue
        if line == "#end document":
            continue
        if not line.strip():
            if tok_idx:
                sent_idx += 1
            tok_idx = 0
            continue
        rem = line
        has_star = "*" in rem
        while rem.startswith("("):
            nxt = rem.find("(", 1)
            if nxt < 0:
                nxt = rem.find("*") if has_star else rem.find(")")
            start_stack.append(tok_idx)
            title_stack.append(string_to_wiki_title_seq(rem[1:nxt]))
            rem = rem[nxt:]
        if has_star and rem.startswith("*"):
            rem = rem[1:]
        while rem.startswith(")"):
            out.append(
                (url, sent_idx, start_stack.pop(), tok_idx + 1, title_stack.pop())
            )
            rem = rem[1:]
        tok_idx += 1
    return out


def parse_wiki_annots(rendered: DataFrame) -> DataFrame:
    """(url, annot) -> (url, sent_idx, start, end, titles ARRAY<STRING>) —
    the inverse of render_wiki_annots, for interop reads and the
    round-trip check."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [c for doc in pdf["annot"] for c in _parse_doc(doc)]
            yield pd.DataFrame(
                rows, columns=["url", "sent_idx", "start", "end", "titles"]
            )

    return rendered.select("annot").mapInPandas(
        gen,
        schema="url string, sent_idx int, start int, end int, titles array<string>",
    )

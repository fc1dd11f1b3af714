"""CoNLL render writer — the reference's interop output format (S9 true
form): ConllDocWriter.scala:19-50 (writeDoc), :80-96 (nested-NER variant),
:153-169 (NER bits), :171-210 (coref bits), :213-228 (line layout).

One rendered CoNLL document per page.  Distributed shape: pages cogrouped
with their mention chunks (one shuffle on url), each document rendered
independently inside an Arrow-batched applyInPandas — no driver-side
assembly, so rendering 10^9 pages is one cogroup + map.

Line layout (writeIncompleteConllDocFromBits): docName, partNo, tokenIdx,
word, pos, parseBit, three '-' columns, speaker, nerBit, corefBit —
tab-separated; sentences separated by blank lines; document framed by
`#begin document (<name>); part NNN` / `#end document`.  POS and parse
columns render '-' (constituency parsing is out of scope per SURVEY §7);
the NER column uses the reference's star-paren scheme when chunks are
supplied and '*' otherwise.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from berkeley_entity_spark.preprocess.sentence import split_sentences

CHUNK_COLS = ("sent_idx", "start", "end", "cluster_id")


def coref_bits(n_tokens: int, chunks: list[tuple[int, int, int]]) -> list[str]:
    """Faithful port of getCorefBits (ConllDocWriter.scala:171-210) for ONE
    sentence: chunks are (start, end, label) with exclusive end; a
    single-token chunk renders '(label)', a multi-token chunk '(label|' at
    its start and 'label)' at its end - 1; pieces pipe-joined, '-' if none.
    Insertion order of starts/ends is preserved (ArrayBuffer semantics)."""
    starts: dict[int, list[int]] = {}
    ends: dict[int, list[int]] = {}
    start_ends: dict[int, int] = {}
    for start, end, label in chunks:
        last = end - 1
        if start == last:
            start_ends[start] = label
        else:
            starts.setdefault(start, []).append(label)
            ends.setdefault(last, []).append(label)
    out = []
    for i in range(n_tokens):
        bit = ""
        for lab in starts.get(i, ()):
            bit += f"({lab}|"
        if i in start_ends:
            bit += f"({start_ends[i]})|"
        for lab in ends.get(i, ()):
            bit += f"{lab})|"
        out.append(bit[:-1] if bit else "-")
    return out


def ner_bits(n_tokens: int, chunks: list[tuple[int, int, str]]) -> list[str]:
    """getNerBitsPossiblyNestedChunks (scala:153-169): '(LABEL' for every
    chunk starting here (longest first), then '*', then one ')' per chunk
    ending here."""
    out = []
    for i in range(n_tokens):
        here = sorted((c for c in chunks if c[0] == i), key=lambda c: -c[1])
        bit = "".join(f"({c[2]}" for c in here)
        bit += "*"
        bit += ")" * sum(1 for c in chunks if c[1] - 1 == i)
        out.append(bit)
    return out


def render_doc(
    url: str,
    text: str,
    chunks: list[tuple[int, int, int, int]],
) -> str:
    """One CoNLL document string (part 000, no NER column bits).  chunks:
    (sent_idx, start, end, label); tokens re-derived exactly as the extract
    kernel does (split_sentences + whitespace), so chunk offsets line up."""
    sents = [[t for t in s.split(" ") if t] for s in split_sentences([text])]
    by_sent: dict[int, list[tuple[int, int, int]]] = {}
    for s_idx, start, end, label in chunks:
        by_sent.setdefault(s_idx, []).append((start, end, label))
    lines = [f"#begin document ({url}); part 000"]
    for s_idx, toks in enumerate(sents):
        cb = coref_bits(len(toks), by_sent.get(s_idx, []))
        for i, w in enumerate(toks):
            lines.append(f"{url}\t0\t{i}\t{w}\t-\t-\t-\t-\t-\t-\t*\t{cb[i]}")
        lines.append("")
    lines.append("#end document")
    return "\n".join(lines)


def render_conll(pages: DataFrame, chunks: DataFrame) -> DataFrame:
    """pages(url, text) x chunks(url, sent_idx, start, end, cluster_id) ->
    (url, conll).  Cogrouped per url: one shuffle, then every document
    renders independently (embarrassingly parallel at any corpus size)."""

    def gen(page_pdf: pd.DataFrame, chunk_pdf: pd.DataFrame) -> pd.DataFrame:
        out_url, out_doc = [], []
        ch = [
            (int(r.sent_idx), int(r.start), int(r.end), int(r.cluster_id))
            for r in chunk_pdf.itertuples()
        ]
        for r in page_pdf.itertuples():
            out_url.append(r.url)
            out_doc.append(render_doc(r.url, r.text, ch))
        return pd.DataFrame({"url": out_url, "conll": out_doc})

    return (
        pages.select("url", "text")
        .groupBy("url")
        .cogroup(chunks.select("url", *CHUNK_COLS).groupBy("url"))
        .applyInPandas(gen, schema="url string, conll string")
    )


_BEGIN = re.compile(r"^#begin document \((.*)\); part (\d+)$")
_START = re.compile(r"^\((\d+)$")
_SINGLE = re.compile(r"^\((\d+)\)$")
_END = re.compile(r"^(\d+)\)$")


def _parse_doc(conll: str) -> list[tuple[str, int, int, int, int]]:
    """(url, sent_idx, start, end, cluster_id) chunks from one rendered
    document.  Ends match the most recent open start of the same label
    (LIFO), which round-trips arbitrary properly-nested renders."""
    url = None
    sent_idx = 0
    tok_idx = 0
    open_spans: dict[int, list[int]] = {}
    out: list[tuple[str, int, int, int, int]] = []
    for line in conll.split("\n"):
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
        fields = line.split("\t")
        i, bit = int(fields[2]), fields[-1]
        if bit != "-":
            for piece in bit.split("|"):
                sm, gm, em = _SINGLE.match(piece), _START.match(piece), _END.match(piece)
                if sm:
                    out.append((url, sent_idx, i, i + 1, int(sm.group(1))))
                elif gm:
                    open_spans.setdefault(int(gm.group(1)), []).append(i)
                elif em:
                    lab = int(em.group(1))
                    out.append((url, sent_idx, open_spans[lab].pop(), i + 1, lab))
        tok_idx = i + 1
    return out


def parse_conll(rendered: DataFrame) -> DataFrame:
    """(url, conll) -> chunks (url, sent_idx, start, end, cluster_id) — the
    inverse of render_conll, for interop reads and the round-trip test."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [c for doc in pdf["conll"] for c in _parse_doc(doc)]
            yield pd.DataFrame(
                rows, columns=["url", "sent_idx", "start", "end", "cluster_id"]
            )

    return rendered.select("conll").mapInPandas(
        gen,
        schema="url string, sent_idx int, start int, end int, cluster_id bigint",
    )

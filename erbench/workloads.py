"""Seeded input generation for the benchmark workloads.

Everything here runs in the benchmark's own process during set-up and writes
parquet; the program under test only ever sees the written files.  Pages come
from ``synth.make_page`` (a pure function of seed and page index), so the
same seed always yields byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from berkeley_entity_spark import synth
from berkeley_entity_spark.config import SynthConfig

PAGE_COLS = ["url", "warc_ts", "html", "text", "lang"]
PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLD_COLS = ["url", "sent_idx", "start", "end", "surface", "entity_id", "lang"]
GOLD_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("sent_idx", pa.int32()),
        ("start", pa.int32()),
        ("end", pa.int32()),
        ("surface", pa.string()),
        ("entity_id", pa.int64()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Corpus:
    pages_dir: str
    gold_dir: str
    n_pages: int
    n_en_pages: int
    n_en_mentions: int
    input_bytes: int


def _write(rows: list[dict], cols: list[str], schema: pa.Schema, path: str) -> None:
    df = pd.DataFrame(rows, columns=cols)
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _write_corpus(root: str, pages: list[dict], gold: list[dict], n_files: int) -> Corpus:
    pages_dir = os.path.join(root, "pages")
    gold_dir = os.path.join(root, "gold")
    os.makedirs(pages_dir)
    os.makedirs(gold_dir)
    step = -(-len(pages) // n_files)
    for f in range(n_files):
        chunk = pages[f * step : (f + 1) * step]
        if chunk:
            _write(chunk, PAGE_COLS, PAGES_ARROW, os.path.join(pages_dir, f"part-{f:03d}.parquet"))
    _write(gold, GOLD_COLS, GOLD_ARROW, os.path.join(gold_dir, "part-000.parquet"))
    return Corpus(
        pages_dir=pages_dir,
        gold_dir=gold_dir,
        n_pages=len(pages),
        n_en_pages=sum(p["lang"] == "en" for p in pages),
        n_en_mentions=sum(m["lang"] == "en" for m in gold),
        input_bytes=dir_bytes(pages_dir),
    )


def crawl(root: str, seed: int, n_pages: int, n_files: int = 16) -> Corpus:
    """The default synth distribution: Zipf-1.2 entity popularity,
    n_entities = pages/130 capped at 1500, 5% non-en pages."""
    cfg = SynthConfig(
        n_pages=n_pages, n_entities=min(1500, max(60, n_pages // 130)), seed=seed
    )
    pages, gold = [], []
    for i in range(n_pages):
        page, g = synth.make_page(i, cfg)
        pages.append(page)
        gold.extend(g)
    return _write_corpus(root, pages, gold, n_files)


@dataclass(frozen=True)
class Drops:
    input_dir: str
    origin: dict[str, str]  # url -> url of the page it re-crawls (itself if new)


FILES_PER_DROP = 8  # read_page_stream's default maxFilesPerTrigger
# shorter synth pages share most of their shingles with other short pages
MIN_TOKENS = 24
_MTIME0 = 1_700_000_000


def _long_pages(cfg: SynthConfig):
    """Synth pages with at least MIN_TOKENS tokens, in index order, as en."""
    i = 0
    while True:
        page, _ = synth.make_page(i, cfg)
        i += 1
        if page["text"].count(" ") + 1 >= MIN_TOKENS:
            yield dict(page, lang="en")


def rolling_crawl(
    root: str, seed: int, n_drops: int, pages_per_drop: int, recrawl: float = 0.3
) -> Drops:
    """Page drops of a rolling crawl, each written as exactly FILES_PER_DROP
    files so one drop is one micro-batch.  About `recrawl` of each drop are
    near-duplicate re-crawls of earlier pages: same text with the final word
    changed, under a new url."""
    cfg = SynthConfig(
        n_pages=n_drops * pages_per_drop, n_entities=1500, seed=seed, zipf_s=0.5
    )
    originals = _long_pages(cfg)
    input_dir = os.path.join(root, "drops")
    os.makedirs(input_dir)
    origin: dict[str, str] = {}
    seen: list[dict] = []
    for d in range(n_drops):
        drop = []
        for j in range(pages_per_drop):
            h = synth._h(seed, "recrawl", d, j)
            if seen and (h % 1000) < recrawl * 1000:
                src = seen[(h // 1000) % len(seen)]
                toks = src["text"].split(" ")
                toks[-1] = synth.ENDERS[(h // 7) % len(synth.ENDERS)] + "!"
                url = f"{src['url']}?rev={d}.{j}"
                page = dict(src, url=url, text=" ".join(toks))
                origin[url] = src["url"]
            else:
                page = next(originals)
                origin[page["url"]] = page["url"]
                seen.append(page)
            drop.append(page)
        step = -(-len(drop) // FILES_PER_DROP)
        for f in range(FILES_PER_DROP):
            path = os.path.join(input_dir, f"drop-{d:04d}-{f}.parquet")
            _write(drop[f * step : (f + 1) * step], PAGE_COLS, PAGES_ARROW, path)
            # the file source takes files oldest-first: space the mtimes so
            # each trigger picks up exactly one whole drop
            t = _MTIME0 + d + f / 100
            os.utime(path, (t, t))
    return Drops(input_dir, origin)

"""WARC/1.0 (ISO 28500) writer + record-level parser — Common Crawl's
native container format, the shape the north-star corpus actually arrives
in.

The reference pipeline consumes pre-extracted documents (it never touches
WARC; its closest analog is the raw-text doc reader,
preprocess/Reprocessor.scala's ConllDocReader path), so this source is a
from-scratch addition for the web-scale tier: a real Common-Crawl user's
first job is "turn WARC response records into a (url, text, ...) table",
and everything downstream of this repo assumes that table exists.

Format notes (all public, ISO 28500 / WARC 1.0):
  - a record is a version line ``WARC/1.0\\r\\n``, a header block of
    ``Name: value\\r\\n`` lines terminated by a blank ``\\r\\n`` line, then
    EXACTLY ``Content-Length`` payload bytes, then the two-CRLF record
    separator ``\\r\\n\\r\\n``.
  - header names are case-insensitive; order is not significant.
  - parsing is Content-Length-driven: the payload is consumed by byte
    count, NEVER by scanning for a delimiter (payloads may contain
    anything, including the bytes ``WARC/1.0``).

Scale shape (100 TB): WARC files are read whole-file (one task per file —
``spark.read.format("binaryFile")`` — record offsets are not split-aligned,
so a WARC is not byte-range splittable without a CDX index; the WRITER
bounds file size instead via ``n_files`` / records-per-group so each task
stays executor-sized).  Within a task the parser walks the byte string by
offset arithmetic — O(total bytes), no regex over the payload, no copy of
the full file per record (memoryview slices) — and emits Arrow-batched rows
via ``mapInPandas``.  With a CDX/CDXJ offset index (how Common Crawl is
actually served), ``parse_warc`` applies unchanged to the per-record
slices.  No per-row Python UDFs: both directions are ``mapInPandas`` /
``applyInPandas`` batch kernels.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Fixed capture timestamp: record rendering must be deterministic (the
# roundtrip oracle re-derives every field), so the writer stamps this date
# instead of reading a clock.
DEFAULT_WARC_DATE = "2026-01-01T00:00:00Z"

PARSED_SCHEMA = (
    "url string, record_id string, warc_date string, "
    "payload_len bigint, text string"
)


def record_id_for_url(url: str) -> str:
    """Deterministic WARC-Record-ID payload: md5 hex of the target URI.

    The spec wants a globally unique URI (usually ``urn:uuid:...``); a
    content-derived digest keeps the roundtrip engine-portable (DuckDB
    ``md5(url)`` reproduces it) while staying unique per (url, capture)
    within one synthesis.
    """
    return hashlib.md5(url.encode("utf-8")).hexdigest()


def render_record(url: str, text: str) -> bytes:
    """One WARC/1.0 response record (headers + payload + separator)."""
    payload = text.encode("utf-8")
    headers = (
        "WARC/1.0\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {DEFAULT_WARC_DATE}\r\n"
        f"WARC-Record-ID: <urn:md5:{record_id_for_url(url)}>\r\n"
        "Content-Type: text/plain\r\n"
        f"Content-Length: {len(payload)}\r\n"
        "\r\n"
    )
    return headers.encode("utf-8") + payload + b"\r\n\r\n"


def render_warc(
    pages: DataFrame,
    n_files: int = 8,
) -> DataFrame:
    """Pages -> (file_id, warc bytes, n_records): a distributed WARC sink.

    Pages are sharded into ``n_files`` groups by url hash (so file
    membership is content-addressed and partition-invariant) and each group
    renders ONE file with records in url order (deterministic bytes per
    file_id regardless of input partitioning).  ``n_files`` is the file-
    size knob: size it so records-per-group fits a task (the real-corpus
    convention is ~1 GiB per WARC).
    """
    keyed = pages.select(
        F.pmod(F.xxhash64("url"), F.lit(n_files)).alias("file_id"),
        "url",
        "text",
    )

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("url", kind="mergesort")
        blob = b"".join(
            render_record(u, t)
            for u, t in zip(pdf["url"], pdf["text"])
        )
        return pd.DataFrame(
            {
                "file_id": [int(pdf["file_id"].iloc[0])],
                "warc": [blob],
                "n_records": [len(pdf)],
            }
        )

    return keyed.groupBy("file_id").applyInPandas(
        gen, schema="file_id bigint, warc binary, n_records bigint"
    )


def parse_records(blob: bytes) -> Iterator[dict]:
    """Walk one WARC file's bytes record by record (Content-Length-driven).

    Raises ValueError on a malformed record (bad version line, missing
    Content-Length, truncated payload, missing separator) — a corrupt
    crawl file should fail the task loudly, not emit silently-truncated
    documents.
    """
    view = memoryview(blob)
    n = len(blob)
    pos = 0
    while pos < n:
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            raise ValueError(f"WARC: unterminated header block at byte {pos}")
        header_lines = bytes(view[pos:hdr_end]).decode("utf-8").split("\r\n")
        version = header_lines[0].strip()
        if not version.upper().startswith("WARC/"):
            raise ValueError(f"WARC: bad version line {version!r} at byte {pos}")
        headers: dict[str, str] = {}
        for line in header_lines[1:]:
            name, sep, value = line.partition(":")
            if not sep:
                raise ValueError(f"WARC: malformed header line {line!r}")
            headers[name.strip().lower()] = value.strip()
        if "content-length" not in headers:
            raise ValueError("WARC: record missing Content-Length")
        clen = int(headers["content-length"])
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end > n:
            raise ValueError(
                f"WARC: truncated payload (need {clen} bytes at {body_start})"
            )
        if bytes(view[body_end : body_end + 4]) != b"\r\n\r\n":
            raise ValueError(f"WARC: missing record separator at byte {body_end}")
        rid = headers.get("warc-record-id", "")
        if rid.startswith("<urn:md5:") and rid.endswith(">"):
            rid = rid[len("<urn:md5:") : -1]
        yield {
            "url": headers.get("warc-target-uri", ""),
            "record_id": rid,
            "warc_date": headers.get("warc-date", ""),
            "payload_len": clen,
            "text": bytes(view[body_start:body_end]).decode("utf-8"),
        }
        pos = body_end + 4


def parse_warc(files: DataFrame) -> DataFrame:
    """(file bytes) -> one row per WARC record, Arrow-batched.

    Each input row is one whole WARC file (the ``binaryFile`` reader's
    contract); output rows stream out per Arrow batch, so a file larger
    than one batch never materializes all its records in one pandas frame.
    """
    src = files.select("warc")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf["warc"]:
                rows.extend(parse_records(bytes(blob)))
                if len(rows) >= 2048:
                    yield pd.DataFrame(rows)
                    rows = []
            if rows:
                yield pd.DataFrame(rows)

    return src.mapInPandas(gen, schema=PARSED_SCHEMA)

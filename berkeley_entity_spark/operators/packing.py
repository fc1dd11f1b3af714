"""Deterministic distributed sequence packing.

The training-data step every LLM pipeline runs last: concatenate the
token streams of all documents in a fixed global order and cut the stream
into fixed-length training sequences ("chunks"), documents crossing chunk
boundaries (GPT-style packing, no padding).  The hard part at 100 TB is
the GLOBAL PREFIX SUM of document lengths: the naive formulation is one
`sum() over (order by doc_id)` window — a single task holding the whole
corpus.  This module uses the classic two-phase decomposition instead:

  1. bucket documents by contiguous id blocks (`doc_id div bucket_size` —
     at most `bucket_size` docs per bucket no matter how sparse the ids),
  2. a per-bucket cumulative sum (bounded window tasks),
  3. bucket totals -> per-bucket carry-in offsets on a table with ONE ROW
     PER BUCKET (corpus_size / bucket_size rows — the only global window,
     and it is bounded and tiny; for 10^12 docs pick bucket_size 10^6 and
     the carry table is 10^6 rows; a third level would bound it again),
  4. global_offset = carry + local prefix; chunk assignment is then pure
     per-row arithmetic with a bounded explode (a doc spans
     ceil(n / seq_len) + 1 chunks at most).

The output is BY CONSTRUCTION identical to the single-window formulation
(prefix sums are associative), which is exactly what the DuckDB oracle
replays with a plain global window.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.dedup import tokens_col


def pack_sequences(
    documents: DataFrame,
    seq_len: int = 128,
    bucket_size: int = 1000,
) -> DataFrame:
    """(chunk_id, doc_id, tok_start, tok_end, chunk_off) — one row per
    (document, chunk) slice of the packed token stream.  tok_start/tok_end
    are the doc-local token slice (end exclusive); chunk_off is where the
    slice lands inside chunk `chunk_id`.  Every chunk except the last
    holds exactly `seq_len` tokens; empty docs are skipped."""
    L = seq_len
    d = documents.select(
        "doc_id", F.size(tokens_col()).cast("long").alias("n")
    ).where(F.col("n") > 0)
    d = d.withColumn("_b", F.expr(f"doc_id div {bucket_size}"))

    wloc = (
        Window.partitionBy("_b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = d.withColumn(
        "_loc", F.coalesce(F.sum("n").over(wloc), F.lit(0))
    )
    btot = d.groupBy("_b").agg(F.sum("n").alias("_bt"))
    wcar = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    carry = btot.select(
        "_b", F.coalesce(F.sum("_bt").over(wcar), F.lit(0)).alias("_carry")
    )
    off = (
        local.join(F.broadcast(carry), "_b")
        .withColumn("off", F.col("_carry") + F.col("_loc"))
    )

    chunk_lo = F.expr(f"off div {L}")
    chunk_hi = F.expr(f"(off + n - 1) div {L}")
    x = off.select(
        "doc_id",
        "n",
        "off",
        F.explode(F.sequence(chunk_lo, chunk_hi)).alias("chunk_id"),
    )
    tok_start = F.greatest(F.lit(0), F.col("chunk_id") * L - F.col("off"))
    tok_end = F.least(F.col("n"), (F.col("chunk_id") + 1) * L - F.col("off"))
    return x.select(
        "chunk_id",
        "doc_id",
        tok_start.cast("int").alias("tok_start"),
        tok_end.cast("int").alias("tok_end"),
        (F.col("off") + tok_start - F.col("chunk_id") * L)
        .cast("int")
        .alias("chunk_off"),
    )

"""Distributed BPE merge-pair training over the corpus (tokenizer training).

A training-data pipeline at web scale needs to train its tokenizer on the
corpus it curates; classic byte-pair encoding (Sennrich et al. 2016) trains
on the *word-frequency table*, not the raw token stream, which is exactly
the shape Spark wants:

  stage 1 (the only corpus scan): token explode -> partial-agg word counts
           -> top-V by (count desc, word asc) via TakeOrderedAndProject —
           the corpus shuffles once, the working set is bounded at V rows
           forever after.
  stage k (per merge, driver loop over the bounded V-row table):
           adjacent-pair counts (arrays_zip of the symbol array with its
           own tail, explode, partial-agg sum) -> argmax pair by
           (count desc, left asc, right asc) -> the chosen pair folds into
           a whole-stage-codegen `replace` over the symbol sequence.

Symbol sequences are flat strings with TWO spaces between symbols and two
spaces at each end, so a merge is a single non-regex `replace` of
" l  r " with " lr ": the leading/trailing single space that the match
consumes still leaves one space on each side, which makes consecutive
occurrences merge greedily left-to-right in one pass — byte-identical
semantics in Spark and DuckDB, and exactly reference-BPE's non-overlapping
leftmost merge order ("a a a" -> "aa a", "a b a b" -> "ab ab").

Simplifications (disclosed): word-internal BPE without the end-of-word
marker, over [a-z]+ words only (symbols stay space-free by construction).

Scale shape: nothing unbounded ever reaches the driver — each iteration
collects exactly ONE (left, right, count) row; the V-row word table is
localCheckpoint'ed once so the k merge iterations never rescan the corpus;
the merge itself is codegen string replace, no UDF anywhere.

Reference analog: the reference's lexical-count bundles
(LexicalCountsBundle in the coref featurizer) build corpus count tables
with cutoffs the same way stage 1 does; BPE itself is beyond the
reference's scope (reference has no subword layer) and is here for the
LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["bpe_word_counts", "bpe_train", "bpe_merges_df"]

# vocabulary size the merges are learned over
TOP_WORDS = 2000


def bpe_word_counts(documents: DataFrame, top_words: int) -> DataFrame:
    """(word, cnt) for the top_words most frequent [a-z]+ tokens.

    Ties broken by word ascending so the cutoff is deterministic under any
    partitioning/engine.  orderBy+limit compiles to TakeOrderedAndProject:
    per-partition top-V then a single bounded merge — no global sort.
    """
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    return (
        documents.select(F.explode(toks).alias("word"))
        .where(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(top_words)
    )


def _seq_col():
    """Word -> double-space-delimited character-symbol sequence."""
    return F.concat(F.lit("  "), F.regexp_replace(F.col("word"), "(.)", "$1  "))


def _pair_counts(words_seq: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency."""
    arr = F.filter(F.split(F.trim(F.col("seq")), " +"), lambda x: x != "")
    n = F.greatest(F.size(arr) - 1, F.lit(0))
    z = F.arrays_zip(
        F.slice(arr, 1, n).alias("l"), F.slice(arr, 2, n).alias("r")
    )
    return (
        words_seq.select("cnt", F.explode(z).alias("p"))
        .groupBy(F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym"))
        .agg(F.sum("cnt").alias("pair_cnt"))
    )


def bpe_train(documents: DataFrame, n_merges: int) -> list[dict]:
    """Learn n_merges BPE merges; returns [{step, left_sym, right_sym,
    pair_cnt}] in merge order.  One corpus scan total; each merge iteration
    runs on the checkpointed V-row word table and collects one row."""
    words = (
        bpe_word_counts(documents, TOP_WORDS)
        .select("cnt", _seq_col().alias("seq"))
        .localCheckpoint()  # bounded (<= TOP_WORDS rows); cuts corpus lineage
    )
    merges: list[dict] = []
    seq = F.col("seq")
    for step in range(1, n_merges + 1):
        pc = _pair_counts(words.select("cnt", seq.alias("seq")))
        best = pc.orderBy(
            F.desc("pair_cnt"), F.asc("left_sym"), F.asc("right_sym")
        ).limit(1).collect()
        if not best:
            break
        b = best[0]
        merges.append(
            {
                "step": step,
                "left_sym": b["left_sym"],
                "right_sym": b["right_sym"],
                "pair_cnt": int(b["pair_cnt"]),
            }
        )
        # Fold the merge into the (codegen) expression chain: k nested
        # replaces over the checkpointed table, never a new materialization.
        seq = F.replace(
            seq,
            F.lit(f" {b['left_sym']}  {b['right_sym']} "),
            F.lit(f" {b['left_sym']}{b['right_sym']} "),
        )
    return merges


def bpe_encode_stats(
    documents: DataFrame,
    merges: list[dict],
) -> DataFrame:
    """Apply learned merges to every document (tokenizer application):
    (doc_id, n_words, n_chars, n_symbols) where n_symbols is the document's
    token count under the BPE vocabulary — the number a training-data
    pipeline actually budgets by.  Encoding is the standard ordered greedy
    apply: each merge is one non-regex `replace` over the double-space
    symbol sequence, folded per WORD inside an in-row transform — the whole
    encode is ONE whole-stage-codegen projection over the corpus (no
    shuffle, no Python, merges ride as string literals).

    Only [a-z]+ words are encoded (matching bpe_train's charset);
    out-of-charset tokens count as 1 symbol each, like an <unk>."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    az = F.filter(toks, lambda t: t.rlike("^[a-z]+$"))
    other = F.size(toks) - F.size(az)

    def encode_word(wcol):
        seq = F.concat(F.lit("  "), F.regexp_replace(wcol, "(.)", "$1  "))
        for m in merges:
            seq = F.replace(
                seq,
                F.lit(f" {m['left_sym']}  {m['right_sym']} "),
                F.lit(f" {m['left_sym']}{m['right_sym']} "),
            )
        return F.size(F.filter(F.split(F.trim(seq), " +"), lambda x: x != ""))

    sym = F.aggregate(
        F.transform(az, encode_word), F.lit(0), lambda acc, n: acc + n
    )
    return documents.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        ).cast("bigint").alias("n_chars"),
        (sym + other).cast("bigint").alias("n_symbols"),
    )


def bpe_merges_df(
    spark: SparkSession,
    documents: DataFrame,
    n_merges: int,
) -> DataFrame:
    """bpe_train as a (step, left_sym, right_sym, pair_cnt) DataFrame."""
    merges = bpe_train(documents, n_merges)
    schema = "step int, left_sym string, right_sym string, pair_cnt bigint"
    return spark.createDataFrame(
        [(m["step"], m["left_sym"], m["right_sym"], m["pair_cnt"]) for m in merges],
        schema,
    )

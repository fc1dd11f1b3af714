"""Text analysis operators (training-data pipeline ops).

All pure column expressions (whole-stage codegen; zero Python) except the
winnowing fingerprint, which is an Arrow kernel.

  * text_stats          — token, char, stopword and punctuation counts
  * quality_score       — length, punctuation ratio, stopword ratio, mean
    token length (the usual web-corpus quality heuristics)
  * lang_id_en          — n-gram/stopword-ratio heuristic English detector
  * doc_fingerprint     — md5 of canonical text (exact-dup key)
  * winnowing_fingerprints — rolling-hash winnowing (Schleimer et al.) for
    partial-overlap detection; Arrow kernel, k-gram window minima
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.dedup import TOKENS, tokens_col, word_ngrams_sql
from berkeley_entity_spark.util import salted_top_k

EN_STOPWORDS = [
    "the", "of", "and", "to", "a", "in", "that", "is", "was", "he", "for",
    "it", "with", "as", "his", "on", "be", "at", "by", "i", "this", "had",
    "not", "are", "but", "from", "or", "have", "an", "they", "which", "one",
    "you", "were", "her", "all", "she", "there", "would", "their", "we",
]


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-doc stats: token count, mean token length, stopword ratio,
    punctuation ratio — each a plain SQL expression."""
    toks = tokens_col()
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    n_punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    return documents.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        (F.length(F.col("text")).cast("double") / F.greatest(F.size(toks), F.lit(1))).alias(
            "mean_tok_len"
        ),
        (n_stop.cast("double") / F.greatest(F.size(toks), F.lit(1))).alias("stopword_ratio"),
        (n_punct.cast("double") / F.greatest(F.length(F.col("text")), F.lit(1))).alias(
            "punct_ratio"
        ),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Composite quality in [0,1]-ish: favors mid-length docs with a healthy
    stopword ratio — the standard pretraining-corpus filter shape."""
    s = text_stats(documents)
    ln = F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
    return s.select(
        "doc_id",
        F.round(
            0.4 * ln
            + 0.4 * F.least(F.col("stopword_ratio") * 4.0, F.lit(1.0))
            + 0.2 * (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))),
            6,
        ).alias("quality"),
    )


def lang_id_en(documents: DataFrame) -> DataFrame:
    """Predict is_en from the English-stopword token ratio (cheap n-gram
    LID stand-in, English at ratio >= 0.08; a real fastText-style model
    would slot into the same column contract)."""
    s = text_stats(documents)
    return s.select(
        "doc_id", (F.col("stopword_ratio") >= 0.08).alias("pred_en")
    )


def _max_run(sorted_arr):
    """Longest run of equal adjacent elements in a SORTED array = the max
    multiplicity of any element — computed with one F.aggregate fold, pure
    codegen, zero shuffle."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    return F.aggregate(
        sorted_arr,
        init,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                a.best, F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda a: a.best,
    )


def _repeated_total(sorted_arr):
    """Sum of multiplicities over elements with multiplicity >= 2 in a
    SORTED array (tokens covered by non-unique n-grams) — same fold shape
    as _max_run."""
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("acc")
    )
    return F.aggregate(
        sorted_arr,
        init,
        lambda a, x: F.struct(
            x.alias("prev"),
            F.when(x == a.prev, a.run + 1).otherwise(F.lit(1)).alias("run"),
            (
                a.acc
                + F.when(x != a.prev, F.when(a.run >= 2, a.run).otherwise(F.lit(0))).otherwise(
                    F.lit(0)
                )
            ).alias("acc"),
        ),
        lambda a: a.acc + F.when(a.run >= 2, a.run).otherwise(F.lit(0)),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1, the
    MassiveText repetition filters), per doc:

      frac_dup_tokens   — 1 - distinct/total tokens
      top_bigram_frac   — tokens inside the most frequent bigram / total
      rep_trigram_frac  — tokens inside non-unique trigrams / total
      gopher_pass       — both ngram fractions under the filter thresholds

    Scale shape: ALL in-row column expressions (array_sort + one aggregate
    fold per signal) — no explode, no shuffle, the whole operator is one
    codegen scan of the corpus.  The relational form (explode + per-doc
    groupBy) would shuffle every n-gram occurrence of a 100 TB corpus; this
    shuffles nothing."""
    toks = tokens_col()
    n = F.size(toks)
    bg = F.expr(f"array_sort({word_ngrams_sql(TOKENS, 2)})")
    tg = F.expr(f"array_sort({word_ngrams_sql(TOKENS, 3)})")
    nd = F.greatest(n, F.lit(1)).cast("double")
    frac_dup = F.round(1.0 - F.size(F.array_distinct(toks)) / nd, 6)
    top_bg = F.round(_max_run(bg) * 2.0 / nd, 6)
    rep_tg = F.round(_repeated_total(tg) * 3.0 / nd, 6)
    out = documents.select(
        "doc_id",
        n.alias("n_tokens"),
        frac_dup.alias("frac_dup_tokens"),
        top_bg.alias("top_bigram_frac"),
        rep_tg.alias("rep_trigram_frac"),
    )
    # thresholds applied to the ROUNDED columns so the pass flag is exactly
    # reproducible by the SQL oracle (no float-boundary drift)
    return out.withColumn(
        "gopher_pass",
        (F.col("top_bigram_frac") <= 0.08) & (F.col("rep_trigram_frac") <= 0.30),
    )


def doc_fingerprint(documents: DataFrame) -> DataFrame:
    """(doc_id, fingerprint) — md5 of the text, the exact-dup key."""
    return documents.select("doc_id", F.md5(F.col("text")).alias("fingerprint"))


def winnowing_fingerprints(documents: DataFrame) -> DataFrame:
    """(doc_id, fp) exploded winnowing fingerprints: rolling 64-bit hash of
    char k-grams (k = 5), minima per window of 4 hashes (Schleimer et al.
    2003).  Detects partial overlap (quotes, boilerplate) that whole-doc
    hashing misses."""
    k, window = 5, 4
    # 31-bit Mersenne modulus: every intermediate (acc*B, arr*top) stays
    # under 2^52, safely inside uint64 — a 61-bit modulus would overflow
    B, MOD = np.uint64(1000003), np.uint64((1 << 31) - 1)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def fps(text: str) -> list[int]:
            s = text.encode("utf-8", "ignore")
            n = len(s)
            if n < k:
                return []
            arr = np.frombuffer(s, dtype=np.uint8).astype(np.uint64)
            h = np.zeros(n - k + 1, dtype=np.uint64)
            acc = np.uint64(0)
            for i in range(k):
                acc = (acc * B + arr[i]) % MOD
            h[0] = acc
            top = np.uint64(1)
            for _ in range(k - 1):
                top = (top * B) % MOD
            for i in range(1, n - k + 1):
                drop = (arr[i - 1] * top) % MOD
                acc = ((acc + MOD - drop) * B + arr[i + k - 1]) % MOD
                h[i] = acc
            if len(h) <= window:
                return [int(h.min())]
            sw = np.lib.stride_tricks.sliding_window_view(h, window)
            return sorted({int(x) for x in sw.min(axis=1)})

        for pdf in batches:
            rows = [
                (int(d), int(fp))
                for d, t in zip(pdf["doc_id"], pdf["text"])
                for fp in fps(t)
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "fp"])

    return documents.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id bigint, fp bigint"
    )


def winnow_overlap_pairs(documents: DataFrame) -> DataFrame:
    """(id_a, id_b, shared) — document pairs sharing >= 3 winnowing
    fingerprints: the partial-overlap dedup pass (quoted
    passages, injected boilerplate) that whole-doc and shingle-set
    methods miss (Schleimer et al. 2003 §4; the exact-substring dedup
    motivation of Lee et al. 2022).

    Scale shape: the fingerprint table is already distinct per doc, the
    pair generation is an EQUI-JOIN on fp, and fingerprints shared by
    more than 200 docs (site chrome, licence boilerplate) are
    dropped before the join — the same hot-key guard as the stop-ngram
    rule in ngram_jaccard_pairs, so no fingerprint can induce a
    quadratic blowup.  Dropping hot fps only LOWERS `shared`; pairs held
    together solely by corpus-wide boilerplate are the intended
    exclusion.  Selectivity comes from corpus entropy: on the synthetic
    low-entropy word-soup tables most pairs share >= 3 cold
    fingerprints (the gate checks exactness, not selectivity); on real
    web text a shared cold fingerprint implies a shared k-gram run."""
    fps = winnowing_fingerprints(documents)
    df_tab = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_df"))
    cold = fps.join(df_tab.where(F.col("_df") <= 200), "fp").select(
        "doc_id", "fp"
    )
    return (
        cold.toDF("id_a", "fp")
        .join(cold.toDF("id_b", "fp"), "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
    )


# PII patterns: alternation-free, greedy, ASCII word boundaries — the subset
# of regex semantics where Java (Spark codegen) and RE2 (DuckDB oracle)
# provably agree, so redaction is engine-reproducible.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_email, n_ip, n_phone, redacted_hash) — per-doc PII counts
    and the md5 of the text after replacing each class with a typed token
    (<EMAIL>/<IP>/<PHONE>), email first so user@host is consumed before the
    host's digits could feed the IP pattern.  Pure codegen regexp columns
    (no Python): at 100 TB this is a single scan with no shuffle, and the
    hash keeps the output row narrow for the gate."""
    t = F.col("text")

    def cnt(p: str):
        return F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0))).cast("int")

    red = F.regexp_replace(t, PII_EMAIL, "<EMAIL>")
    red = F.regexp_replace(red, PII_IPV4, "<IP>")
    red = F.regexp_replace(red, PII_PHONE, "<PHONE>")
    return documents.select(
        "doc_id",
        cnt(PII_EMAIL).alias("n_email"),
        cnt(PII_IPV4).alias("n_ip"),
        cnt(PII_PHONE).alias("n_phone"),
        F.md5(red).alias("redacted_hash"),
    )


def unigram_lm_logprobs(
    documents: DataFrame, vocab_size: int = 4096
) -> tuple[DataFrame, F.Column]:
    """Corpus-trained add-alpha (alpha = 1) unigram LM: (lexicon(token, logp), oov_logp
    literal).  The lexicon is the top-`vocab_size` tokens by (count DESC,
    token ASC); every out-of-vocabulary token scores as a single OOV type.

    p(t) = (c_t + alpha) / (N + alpha * (V + 1)) with N = total corpus
    tokens and V = lexicon size; the +1 is the OOV type, which gets
    p(OOV) = alpha / (N + alpha * (V + 1)).  The top-k is
    orderBy().limit() — Spark's TakeOrderedAndProject, i.e. map-side
    partial top-k then one bounded reduce; no global window task."""
    toks = documents.select(F.explode(tokens_col()).alias("t"))
    counts = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_total = counts.agg(F.sum("c")).collect()[0][0] or 0
    lex = (
        counts.orderBy(F.desc("c"), F.asc("t"))
        .limit(vocab_size)
        .persist()
    )
    v = lex.count()
    alpha = 1.0
    denom = float(n_total) + alpha * (v + 1)
    lexicon = lex.select(
        F.col("t").alias("token"),
        F.log((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logp"),
    )
    import math

    return lexicon, F.lit(math.log(alpha / denom))


def lm_perplexity(documents: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 §3.2 — there a
    KenLM 5-gram; here the corpus-trained unigram analog, same pipeline
    seat: score every doc, filter/stratify on perplexity downstream).

    (doc_id, n_tokens, cross_entropy, perplexity): ce = -mean logp under
    the add-one unigram LM, ppl = exp(ce), both rounded to 6dp.

    100 TB shape: the lexicon is BROADCAST (bounded at `vocab_size` rows by
    construction) so the corpus never shuffles on token — hot tokens like
    'the' cost nothing; the only exchange is the groupBy(doc_id)
    re-assembly of exploded tokens, partial-aggregated map-side.  Training
    pass is one partially-aggregated count shuffle + a bounded top-k."""
    lexicon, oov_logp = unigram_lm_logprobs(documents, vocab_size)
    tok = documents.select(
        "doc_id", F.explode(tokens_col()).alias("token")
    )
    scored = tok.join(F.broadcast(lexicon), "token", "left").withColumn(
        "_lp", F.coalesce("logp", oov_logp)
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(-F.avg("_lp"), 6).alias("cross_entropy"),
        F.round(F.exp(-F.avg("_lp")), 6).alias("perplexity"),
    )


# the synthetic corpora's stand-in for C4's bad-words list
_C4_BADWORDS = ("badword1", "badword2")


def c4_clean(pages: DataFrame) -> DataFrame:
    """The C4 cleaning ruleset (Raffel et al. 2020 §2.2 — the filters that
    produced C4 from Common Crawl), as pure whole-stage-codegen column
    expressions over newline-separated page text:

    line level (only lines passing ALL are retained):
      * ends in a terminal punctuation mark (. ! ? or closing quote),
      * has at least 5 words,
      * does not contain the word "javascript" (case-insensitive).
    page level (page dropped entirely when ANY fires):
      * fewer than 3 retained lines,
      * any bad word (_C4_BADWORDS) among the page's lowercase tokens,
      * the phrase "lorem ipsum",
      * a curly brace '{'.

    Zero shuffle and zero Python — one narrow projection per page; at
    100 TB this rides the parquet scan.  Output: (doc_id, n_lines,
    n_kept_lines, page_kept, text_clean) with text_clean NULL for dropped
    pages."""
    lines = F.split(F.col("text"), "\n")
    line_ok = lambda l: (
        l.rlike('[.!?"]$')
        & (F.size(F.filter(F.split(l, " "), lambda t: t != "")) >= 5)
        & ~F.lower(l).contains("javascript")
    )
    kept = F.filter(lines, line_ok)
    low = F.lower(F.col("text"))
    bad_tok = F.arrays_overlap(
        F.filter(F.split(low, "[ \n]"), lambda t: t != ""),
        F.array(*[F.lit(b) for b in _C4_BADWORDS]),
    )
    page_bad = (
        bad_tok | low.contains("lorem ipsum") | F.col("text").contains("{")
    )
    page_kept = ~page_bad & (F.size(kept) >= 3)
    return pages.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        page_kept.alias("page_kept"),
        F.when(page_kept, F.array_join(kept, "\n")).alias("text_clean"),
    )


def cluster_terms(
    documents: DataFrame,
    assign: DataFrame,
    top_k: int = 3,
) -> DataFrame:
    """Characteristic terms per cluster — class-based TF-IDF (the BERTopic
    c-TF-IDF formulation, Grootendorst 2022 eq. 1): score(t, c) =
    (tf(t, c) / n_c) * ln(1 + A / f_t), where n_c = cluster token count,
    f_t = corpus frequency of t, A = average tokens per cluster.  The
    cluster-labeling seat: after ER/dedup clustering, WHAT is each
    cluster about, without reading members.

    Scale shape: one explode + groupBy(cluster, term) (partial aggs), a
    term-keyed equi-join for f_t (the standard tf-idf exchange; AQE
    handles hot terms), broadcastable per-cluster totals, and
    util.salted_top_k so no cluster's term list ever funnels through one
    window task.  Ranking uses the ROUNDED (6dp)
    score with a term tie-break, making the top-k engine-exact up to the
    usual knife-edge class.

    Output: (cluster_id, rank, term, n_tc, score)."""
    toks = documents.select(
        "doc_id", F.explode(tokens_col()).alias("term")
    ).join(assign.select("doc_id", "cluster_id"), "doc_id")
    tc = toks.groupBy("cluster_id", "term").agg(
        F.count(F.lit(1)).alias("n_tc")
    )
    nc = tc.groupBy("cluster_id").agg(F.sum("n_tc").alias("n_c"))
    ft = tc.groupBy("term").agg(F.sum("n_tc").alias("f_t"))
    a = nc.agg(
        (F.sum("n_c") / F.count(F.lit(1))).alias("_a")
    )
    scored = (
        tc.join(nc, "cluster_id")
        .join(ft, "term")
        .crossJoin(F.broadcast(a))
        .select(
            "cluster_id",
            "term",
            "n_tc",
            F.round(
                F.col("n_tc")
                / F.col("n_c")
                * F.log(1.0 + F.col("_a") / F.col("f_t")),
                6,
            ).alias("score"),
        )
    )
    return salted_top_k(
        scored, ["cluster_id"], [F.desc("score"), F.asc("term")], top_k
    ).select("cluster_id", "rank", "term", "n_tc", "score")

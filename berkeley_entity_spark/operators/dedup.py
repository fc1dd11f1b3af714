"""Document deduplication operators (training-data pipeline ops).

Near-dup detection over a `documents(doc_id, text, ...)` table:

  * minhash_lsh_pairs     — MinHash over word shingles (shingles_col) with
    the *string-min* trick: minhash_i = min(md5(seed_i || shingle)).  Using
    md5 keeps the signature reproducible in ANY engine (the DuckDB oracle
    runs the exact same expression), unlike engine-specific hash functions.
    The signature/bucket kernel (blocking.minhash_band_keys) and the capped
    bucket self-join (blocking.capped_key_pairs) are shared with ER
    blocking; fuzzy_contaminated_docs and the incremental ER stream's
    dedup batch (streaming/ingest.py) bucket through the same kernel.
  * simhash               — 64-bit simhash in an Arrow kernel + banded
    hamming candidate pairs
  * ngram_jaccard_pairs   — token n-gram Jaccard via explode/groupBy counting
    (|A∩B| from a pair count, no per-row set ops)
  * embedding near-dup lives in similarity.py (cosine threshold join)

All shapes are chosen for 100 TB: candidates come only from key-equality
joins (band bucket / shared ngram), every capped hot key (MinHash and
simhash band buckets, duplicated-span grams) goes through the one cap
kernel, blocking.capped_key_pairs, and verification happens on the
candidate set only.  Word n-grams come from one expression,
word_ngrams_sql, shared with textstats and selection.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.blocking import capped_key_pairs, minhash_band_keys

# MinHash-LSH banding of word 3-shingles (batch dedup, fuzzy
# decontamination and the incremental dedup stream)
LSH_BANDS, LSH_ROWS = 4, 2
# token-gram width of the exact decontamination probes
DECONTAM_K = 13
# hash functions of the Bloom decontamination filter
BLOOM_HASHES = 3
# duplicated_spans: gram width and the shortest span reported, in tokens
SPAN_K, SPAN_MIN_LEN = 8, 15


# whitespace tokens of `text`, empty tokens removed (matches the DuckDB
# oracle `string_split` + filter); SQL text, so the expressions built on it
# parse in one py4j round trip
TOKENS = "filter(split(text, ' '), t -> t != '')"


def tokens_col() -> Column:
    """TOKENS as an array column."""
    return F.expr(TOKENS)


def word_ngrams_sql(toks: str, n: int) -> str:
    """SQL text: the space-joined n-grams of the token array `toks` (SQL
    text), empty when it has fewer than n tokens — the repo's one word
    n-gram expression (transform over a sequence of slices, so it stays in
    codegen)."""
    return (
        f"CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n - 1}), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')) "
        "ELSE CAST(array() AS array<string>) END"
    )


def shingles_col(n: int = 3) -> Column:
    """Word n-gram shingles as an array column (word_ngrams_sql); the whole
    token string when there are 1..n-1 tokens, and no shingle at all for a
    token-less (empty or whitespace-only) doc, so such docs land in no
    bucket and never pair with each other."""
    return F.expr(
        f"CASE WHEN (size({TOKENS}) >= 1 AND size({TOKENS}) <= {n - 1}) "
        f"THEN array(array_join({TOKENS}, ' ')) "
        f"ELSE {word_ngrams_sql(TOKENS, n)} END"
    )


def minhash_lsh_pairs(documents: DataFrame) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing an LSH band bucket of
    word 3-shingles, hot buckets capped at 200 docs (doc_id order)."""
    # NOT persisted: the self-join recomputes the md5 signature exprs on
    # both sides, but A/B measurement (sf0.1, min-of-2 warm) put recompute
    # at 4.9s vs 6.0s persisted — codegen md5 is cheaper than row-cache
    # materialization
    buckets = minhash_band_keys(
        documents, ["doc_id"], shingles_col(3), LSH_BANDS, LSH_ROWS
    )
    return (
        capped_key_pairs(buckets, "doc_id", "bucket", 200)
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing >=1 n-gram in
    their PREFIXES — the PPJoin/All-Pairs prefix filter (Bayardo et al.
    WWW'07, Chaudhuri et al. ICDE'06), exact at any threshold.

    Stop-ngrams (df > 500) are dropped before all pair work (the
    guard against quadratic hot keys; intersections count cold ngrams only,
    sizes count all — unchanged semantics, mirrored by the DuckDB oracle).

    Prefix filter: order each doc's cold ngrams by global (df asc, ngram)
    — rarest first — and self-join only the first
    floor((1-θ)·|cold|) + 1 of them.  Lossless: jaccard ≥ θ forces
    |A∩B| ≥ θ·union ≥ θ·max(|A_c|,|B_c|), and two sets with that overlap
    under a common total order must collide within these prefixes.  The
    float guard (+1e-9 before floor) only ever LENGTHENS a prefix, never
    shortens it.  Survivors are verified exactly (array_intersect over the
    full cold sets), so the output is identical to the unfiltered
    all-cold-pairs join at orders-of-magnitude lower join volume — at
    θ=0.9 each doc contributes ~10% of its postings to candidate
    generation instead of 100%.
    """
    # dn feeds several consumers so the explode+distinct subtree replicates
    # in the physical plan.  DELIBERATELY NOT persisted: A/B measurement
    # (sf0.1, alternating warm runs) showed persist is a wash here and
    # actively slower for the minhash sibling — whole-stage-codegen
    # recompute over a cached parquet scan beats row-cache materialization
    # + memory pressure.  Revisit only if the scan itself becomes the
    # bottleneck (e.g. remote object store).
    # per-doc dedup happens IN-ROW (array_distinct before explode) — the
    # emitted (doc_id, ngram) pairs are unique by construction, so no
    # distinct shuffle of the exploded postings is needed at all (that
    # exchange was the query's largest).  The postings then persist
    # EAGERLY: six plan branches consume dn (sizes, df table, ranked
    # prefix x2 via the self-join, docsets x2), and without a
    # materialization point each re-runs the shingle build — measured 10.9s
    # vs 3.0s warm at sf0.1.  MEMORY_AND_DISK default: at web scale the
    # postings list exceeds memory and spills, which still beats six
    # recomputes of a full-corpus explode.  The count() is deliberate —
    # a lazy persist lets the six branches race before the cache fills.
    dn = documents.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(3))).alias("ngram"),
    ).persist()
    dn.count()
    sizes = dn.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_tab = dn.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    cold = dn.join(df_tab.where(F.col("df") <= 500), "ngram")
    wdoc = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("ngram"))
    ranked = cold.select(
        "doc_id",
        "ngram",
        F.row_number().over(wdoc).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("szc"),
    )
    prefix = ranked.where(
        F.col("rn") <= F.floor((1.0 - threshold) * F.col("szc") + 1e-9) + 1
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # PPJoin positional filter: both docs order their cold ngrams by the
    # SAME global total order (df asc, ngram), so for a collision at
    # positions (rn_a, rn_b), common ngrams strictly before it number at
    # most min(rn_a, rn_b) - 1 and common ngrams after it at most
    # min(szc_a - rn_a, szc_b - rn_b) — so intersection <= that sum + 1.
    # jaccard >= θ needs intersection >= θ/(1+θ)·(sz_a+sz_b) >=
    # θ/(1+θ)·(szc_a+szc_b) (cold <= full size), so dropping collisions
    # whose bound is below the cold-size requirement is lossless: a
    # qualifying pair's every collision has bound >= its true intersection
    # >= the requirement.  (-1e-9 before ceil only ever lowers the
    # requirement — float-safe.)  Cheap scalar math, folded into the join,
    # and it cuts the candidate set BEFORE the pair dedup and the exact
    # array_intersect verify — the two costliest steps downstream.
    pos_ub = (
        F.least(F.col("a.rn"), F.col("b.rn"))
        + F.least(
            F.col("a.szc") - F.col("a.rn"), F.col("b.szc") - F.col("b.rn")
        )
    )
    req = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.szc") + F.col("b.szc"))
        - 1e-9
    )
    cand = (
        a.join(
            b,
            (F.col("a.ngram") == F.col("b.ngram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (pos_ub >= req),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    docsets = cold.groupBy("doc_id").agg(F.collect_list("ngram").alias("arr"))
    inter = (
        cand.join(docsets.toDF("id_a", "arr_a"), "id_a")
        .join(docsets.toDF("id_b", "arr_b"), "id_b")
        .select(
            "id_a", "id_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("inter"),
        )
    )
    return (
        inter.join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def fuzzy_contaminated_docs(
    documents: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Near-duplicate benchmark decontamination: flag training docs whose
    MinHash-LSH band bucket (word 3-shingles) collides with any benchmark
    doc's — the fuzzy sibling of contaminated_docs (exact 13-gram) and
    bloom_contaminated_docs, catching lightly-paraphrased or truncated
    benchmark copies the exact probes miss (the Lee et al. 2022 dedup
    argument applied to eval leakage).

    Same broadcast shape as the exact probe: the benchmark bucket table is
    distinct + BROADCAST (eval sets are MBs against a 100 TB corpus), so
    the training corpus is scanned once and never shuffles on the probe.
    Join fan-out per training bucket row is bounded by benchmark
    multiplicity, never corpus df — no hot-bucket cap needed here.

    Output: (doc_id, n_hit_buckets, n_bench_docs) per contaminated
    training doc; a benchmark doc present in training flags itself (the
    decontamination pass is expected to drop it)."""
    tb = minhash_band_keys(
        documents, ["doc_id"], shingles_col(3), LSH_BANDS, LSH_ROWS
    )
    bb = (
        minhash_band_keys(
            benchmark, ["doc_id"], shingles_col(3), LSH_BANDS, LSH_ROWS
        )
        .select("bucket", F.col("doc_id").alias("bench_id"))
        .distinct()
    )
    return (
        tb.join(F.broadcast(bb), "bucket")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("bucket").alias("n_hit_buckets"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


# ---------------------------------------------------------------- simhash


def simhash64(documents: DataFrame) -> DataFrame:
    """(doc_id, simhash bigint) — 64-bit SimHash over tokens, Arrow kernel.

    Token hash = the low 64 bits of md5 under DuckDB's md5_number_lower
    convention (little-endian of digest bytes 8..16) — chosen over blake2b
    so the ENTIRE operator is reproducible in ANSI-SQL engines and the
    driver's DuckDB oracle can check it end-to-end.  Bit-majority vote over
    the token set, vectorized with numpy bit unpacking per batch."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        import struct

        def sh(text: str):
            toks = [t for t in text.split(" ") if t]
            if not toks:
                # NULL, not 0: a 0 signature would pair every blank doc at
                # hamming 0 while SQL oracles drop token-less docs entirely
                return None
            hs = np.fromiter(
                (
                    struct.unpack("<Q", hashlib.md5(t.encode()).digest()[8:16])[0]
                    for t in set(toks)
                ),
                dtype=np.uint64,
            )
            bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
            # signed accumulator: the uint sum would underflow on
            # ones*2 < n and saturate every bit to 1 (caught by the
            # q_simhash_pairs DuckDB oracle)
            votes = bits.sum(axis=0).astype(np.int64) * 2 - len(hs)
            out = np.packbits((votes > 0).astype(np.uint8), bitorder="little")
            return int(np.frombuffer(out.tobytes(), dtype=np.uint64)[0])

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash": pdf["text"].map(
                        lambda t: (lambda s: None if s is None else np.int64(np.uint64(s)))(sh(t))
                    ),
                }
            )

    return documents.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id bigint, simhash bigint"
    )


def simhash_near_pairs(
    documents: DataFrame,
    max_hamming: int = 8,
    max_bucket: int = 200,
) -> DataFrame:
    """Candidate pairs with hamming(simhash) <= max_hamming via 4x16-bit
    banding (a pair within hamming 3 shares at least one exact 16-bit band;
    wider radii still yield high recall), verified exactly with bit_count.

    Scale shape (the 100 TB path): identical signatures NEVER enter the band
    self-join.  Every signature group collapses to its min-doc_id
    representative first; hamming-0 edges come straight out of that groupBy
    as a star (rep, member) — LINEAR in the dup-class size, where the old
    all-pairs form was quadratic on exactly the templated-boilerplate
    classes a dedup pass exists for.  The band join then runs over DISTINCT
    signatures only, through blocking.capped_key_pairs with max_bucket as
    its cap (recall loss from the cap is deliberate and mirrored bitwise in
    the DuckDB oracle).  Under transitive closure the star + rep-rep edge
    set yields the same components as all-pairs.
    """
    sig = simhash64(documents).where(F.col("simhash").isNotNull())
    groups = sig.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    # hamming-0 star edges: every non-representative member -> its rep
    intra = (
        sig.join(groups, "simhash")
        .where(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    dsig = groups.select(F.col("rep"), F.col("simhash"))
    bands = dsig.select(
        "rep",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "#", F.lit(str(i)), F.shiftright("simhash", i * 16).bitwiseAND(F.lit(0xFFFF)).cast("string")
                    )
                    for i in range(4)
                ]
            )
        ).alias("bucket"),
    )
    cand = (
        capped_key_pairs(bands, "rep", "bucket", max_bucket)
        .select("id_a", "id_b", "simhash_a", "simhash_b")
        .distinct()
    )
    cross = cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
        .cast("int").alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
    return intra.unionByName(cross)


def near_dup_keep_one(documents: DataFrame) -> DataFrame:
    """Near-dup cluster RESOLUTION — the keep-one policy of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better" §4.1 NEARDUP:
    keep one document per duplicate cluster, drop the rest):

      minhash_lsh_pairs -> connected_components -> canonical = min doc_id.

    Output: (doc_id, canonical_id, kept) for EVERY input doc — docs outside
    any dup cluster are their own canonical.  Deterministic under any
    partitioning (min-id policy), so the whole
    resolution is replayable by a recursive-CTE SQL oracle.  Scale shape:
    the pair join is the capped LSH join; the closure is the
    large-star/small-star loop (clustering.py) — both linear-ish in corpus
    size, nothing driver-side."""
    from berkeley_entity_spark.operators.clustering import connected_components

    pairs = minhash_lsh_pairs(documents)
    comp = connected_components(pairs.toDF("u", "v")).toDF(
        "doc_id", "canonical_id"
    )
    return (
        documents.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("canonical_id", "doc_id").alias("canonical_id"),
            (F.coalesce("canonical_id", F.col("doc_id")) == F.col("doc_id")).alias(
                "kept"
            ),
        )
    )


def contaminated_docs(documents: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Training-corpus decontamination (the GPT-3 appendix-C / C4-audit
    shape: Brown et al. 2020, Dodge et al. 2021): flag every training doc
    that shares any DECONTAM_K-token gram with an evaluation benchmark.

    Grams come from kgram_positions (md5 of the token window — codegen,
    engine-portable); the benchmark side is deduped to distinct
    (gram, bench_doc) and BROADCAST — eval benchmarks are MBs even when the
    training corpus is 100 TB, so the probe never shuffles the corpus.  Join
    fan-out per training gram row is bounded by the benchmark's multiplicity
    for that gram (≤ benchmark size), never by corpus df — no hot-gram cap
    needed, unlike the doc×doc join in duplicated_spans.

    Output: one row per CONTAMINATED training doc —
    (doc_id, n_hit_grams = distinct contaminated gram positions,
    n_bench_docs = distinct benchmark docs hit)."""
    tg = kgram_positions(documents, DECONTAM_K)
    bg = (
        kgram_positions(benchmark, DECONTAM_K)
        .select(F.col("gram_h").alias("g"), F.col("doc_id").alias("bench_id"))
        .distinct()
    )
    return (
        tg.join(F.broadcast(bg), tg.gram_h == bg.g)
        .groupBy("doc_id")
        .agg(
            F.countDistinct("pos").alias("n_hit_grams"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )


def kgram_positions(documents: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram_h) — md5 of every k-token gram, with its 0-based
    token position.  Whole-stage codegen (split/slice/concat_ws/md5), no
    Python; md5 keeps the gram key engine-portable for the DuckDB oracle."""
    d = documents.select("doc_id", tokens_col().alias("toks")).where(
        F.size("toks") >= k
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - k),
        lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i + F.lit(1), k))),
    )
    return d.select("doc_id", F.posexplode(grams).alias("pos", "gram_h"))


def duplicated_spans(
    documents: DataFrame,
    max_gram_rows: int = 200,
) -> DataFrame:
    """Exact duplicated-substring spans across document pairs — the
    EXACTSUBSTR pass of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), re-expressed as a distributed gaps-and-islands
    query instead of a suffix array:

      1. every SPAN_K-token gram with its position (kgram_positions),
      2. blocking.capped_key_pairs on gram_h, pos carried: each gram keeps
         its first max_gram_rows (doc_id, pos) rows — boilerplate grams
         shared by thousands of docs would otherwise produce quadratic
         candidate rows — and pairs them (doc_a < doc_b) into matched
         position pairs,
      3. islands: along a (doc_a, doc_b, pos_a - pos_b) diagonal, consecutive
         matched grams satisfy pos_a - row_number() = const, so one groupBy
         recovers each MAXIMAL shared token run,
      4. keep runs of >= SPAN_MIN_LEN tokens
         (span_len = #grams + SPAN_K - 1).

    Output: (doc_a, doc_b, a_start, b_start, span_len), one row per maximal
    shared run.  At 100 TB every stage is a key-equality shuffle with a
    bounded hot key; nothing is quadratic in corpus size."""
    m = capped_key_pairs(
        kgram_positions(documents, SPAN_K), "doc_id", "gram_h", max_gram_rows
    ).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "pos_a", "pos_b"
    )
    diag = F.col("pos_a") - F.col("pos_b")
    wisl = Window.partitionBy("doc_a", "doc_b", diag).orderBy("pos_a")
    isl = m.withColumn("island", F.col("pos_a") - F.row_number().over(wisl))
    return (
        isl.groupBy("doc_a", "doc_b", diag.alias("diag"), "island")
        .agg(
            F.min("pos_a").cast("int").alias("a_start"),
            F.min("pos_b").cast("int").alias("b_start"),
            (F.count("*") + F.lit(SPAN_K - 1)).cast("int").alias("span_len"),
        )
        .where(F.col("span_len") >= SPAN_MIN_LEN)
        .select("doc_a", "doc_b", "a_start", "b_start", "span_len")
    )


def doc_segments(
    documents: DataFrame,
    seg_tokens: int = 10,
    delim: str | None = None,
) -> DataFrame:
    """(doc_id, seg_idx, seg) — one row per document segment.

    Two modes: `delim` (real web corpora: '\\n' gives CCNet's line unit)
    or fixed `seg_tokens`-token windows for corpora without line structure
    (the synthetic tables).  Both are pure codegen (split/slice/transform
    + posexplode) — no Python, no shuffle."""
    if delim is not None:
        return documents.select(
            "doc_id",
            F.posexplode(F.split(F.col("text"), delim)).alias("seg_idx", "seg"),
        )
    toks = tokens_col()
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
        ),
    )
    return documents.where(F.size(toks) > 0).select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg")
    )


def segment_dedup(
    documents: DataFrame,
    seg_tokens: int = 10,
    delim: str | None = None,
) -> DataFrame:
    """CCNet-style duplicated-segment removal (Wenzek et al. 2020 §3.1:
    drop every line whose hash is shared across documents — the step that
    strips boilerplate headers/menus/cookie banners from Common Crawl).

    A segment is removed from EVERY doc when its md5 appears in >= 2
    DISTINCT documents; survivors are reassembled in
    segment order.  Output: (doc_id, n_segs, n_removed, text_clean) for
    every non-empty doc.

    100 TB shape: one groupBy(hash) count (map-side partial agg absorbs
    boilerplate hot keys — a segment in 10^8 docs is still ONE reduced
    row), one equi-join back at fan-out exactly 1 (counts are distinct by
    hash), one groupBy(doc_id) reassembly bounded by document size.  No
    caps needed anywhere because nothing joins occurrence-lists against
    occurrence-lists.  Deterministic under any partitioning (hash-set
    membership + in-doc order), so a DuckDB oracle replays it exactly."""
    segs = doc_segments(documents, seg_tokens, delim).withColumn(
        "h", F.md5("seg")
    )
    dup = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h", F.lit(True).alias("_dup"))
    )
    flagged = segs.join(dup, "h", "left").withColumn(
        "_rm", F.coalesce("_dup", F.lit(False))
    )
    kept_sorted = F.array_sort(
        F.collect_list(  # collect_list drops the nulls the when() emits
            F.when(~F.col("_rm"), F.struct("seg_idx", "seg"))
        )
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("_rm").cast("long")).alias("n_removed"),
        F.array_join(
            F.transform(kept_sorted, lambda x: x["seg"]), " "
        ).alias("text_clean"),
    )


def bloom_benchmark_bits(
    benchmark: DataFrame,
    k: int = 13,
    m_bits: int = 1 << 18,
    k_hashes: int = 3,
) -> DataFrame:
    """The set bits of a Bloom filter over the benchmark's k-token grams:
    bit_j(gram) = conv(md5(md5_hex(gram) || '#' || j)[:15], 16) % m_bits.
    Double-hashing the gram's md5 HEX keeps build (codegen), test kernel
    (hashlib), and the DuckDB oracle on one identical expression.  Output
    is DISTINCT bit positions — bounded at m_bits rows no matter how big
    the benchmark is."""
    g = kgram_positions(benchmark, k).select("gram_h").distinct()
    bit_cols = [
        (
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", "gram_h", F.lit(str(j)))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % m_bits
        ).alias("bit")
        for j in range(k_hashes)
    ]
    return g.select(F.explode(F.array(*bit_cols)).alias("bit")).distinct()


def bloom_contaminated_docs(
    documents: DataFrame,
    benchmark: DataFrame,
    m_bits: int = 1 << 18,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the BFF / Dolma-deduper
    shape (Soldaini et al. 2024; Groeneveld's bff): the benchmark's
    DECONTAM_K-gram Bloom filter is a fixed m-bit array BROADCAST to every executor, and
    the training corpus is scanned with ZERO shuffle and ZERO join — each
    doc tests its grams against the bitset in an Arrow kernel.  This is
    the scale path next to the exact join in `contaminated_docs`: at
    100 TB the corpus-side cost is one embarrassingly-parallel scan, and
    the only aggregated state is m_bits/8 bytes (32 KiB at the default),
    independent of benchmark size.

    False positives are inherent to the structure (rate ~ fill_ratio **
    BLOOM_HASHES) but DETERMINISTIC given (m_bits, BLOOM_HASHES) — both engines
    compute the identical bit arithmetic, so the DuckDB oracle replays
    membership bit-for-bit.

    The filter is built distributed (codegen md5 arithmetic, DISTINCT bit
    positions <= m_bits rows) and collected once — a bounded, disclosed
    driver materialization like the IVF trainer sample.

    Output: (doc_id, n_grams, n_maybe_grams) for every training doc with
    >= 1 Bloom-positive gram."""
    import hashlib

    bits_rows = bloom_benchmark_bits(
        benchmark, DECONTAM_K, m_bits, BLOOM_HASHES
    ).collect()
    bitset = np.zeros(m_bits // 8, dtype=np.uint8)
    for r in bits_rows:
        b = int(r.bit)
        bitset[b >> 3] |= np.uint8(1 << (b & 7))
    spark = documents.sparkSession
    bc = spark.sparkContext.broadcast(bitset.tobytes())

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bs = np.frombuffer(bc.value, dtype=np.uint8)

        def test(pos: int) -> bool:
            return bool(bs[pos >> 3] & (1 << (pos & 7)))

        for pdf in batches:
            out = {"doc_id": [], "n_grams": [], "n_maybe_grams": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t for t in (text or "").split(" ") if t]
                n_grams = max(0, len(toks) - DECONTAM_K + 1)
                if n_grams == 0:
                    continue
                n_maybe = 0
                for i in range(n_grams):
                    gh = hashlib.md5(
                        " ".join(toks[i : i + DECONTAM_K]).encode()
                    ).hexdigest()
                    if all(
                        test(
                            int(
                                hashlib.md5(f"{gh}#{j}".encode()).hexdigest()[
                                    :15
                                ],
                                16,
                            )
                            % m_bits
                        )
                        for j in range(BLOOM_HASHES)
                    ):
                        n_maybe += 1
                if n_maybe:
                    out["doc_id"].append(doc_id)
                    out["n_grams"].append(n_grams)
                    out["n_maybe_grams"].append(n_maybe)
            yield pd.DataFrame(out)

    return documents.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, n_grams long, n_maybe_grams long"
    )


def containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_ngram_df: int = 500,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT join: every pair where either doc's
    cold-shingle set is >= `threshold` contained in the intersection —
    containment(A->B) = |A∩B| / |A| (Broder 1997's second resemblance
    measure).  Jaccard misses exactly the pairs this catches: a page
    QUOTED or MIRRORED inside a much larger page has high containment but
    arbitrarily low Jaccard (the union is dominated by the big doc), and
    quote/mirror detection is a standard Common-Crawl dedup pass that
    ngram_jaccard_pairs cannot express.

    Execution shape: ARRAY-FREE COUNTING (the sf3 soak's lesson).  The
    first two cuts of this operator used PPJoin-style prefix candidates
    + an array_intersect verify over collected docsets, like
    ngram_jaccard_pairs — and the soak killed both on disk: at θ=0.7 the
    prefix/positional bounds barely prune a templated corpus whose
    shingles are almost all cold-but-mid-df (496M collision rows, 30M+
    candidate pairs at a 10x replica), and every candidate then dragged
    two multi-KB shingle arrays through a sort-merge join — hundreds of
    GB of sort spill for a ~2M-pair answer.  Containment (unlike
    Jaccard) gets no leverage from prefixes here, so the operator counts
    instead: one self-join of the cold postings on ngram, partial-agg
    COUNT per (id_a, id_b) — 16-byte rows end to end, no docset arrays,
    no wide sorts; per-ngram work is bounded by the df cap (worst case
    max_ngram_df x |postings| narrow rows through a streaming
    hash-aggregate), which is the same bound the cap already promises.

    One lossless pruning the cold-numerator/full-denominator semantics
    allow survives from the candidate design: CONTAINED-FEASIBILITY — a
    direction A-contained-in-B needs inter >= θ·sz_A, and inter <= szc_A
    always, so only a doc with cold fraction >= θ can ever be the
    contained side.  The probe side of the self-join keeps only those
    docs; a pair with no feasible side cannot qualify and is never
    counted.  (The -1e-9 guard only widens the filter.)  Double-count
    control: both-feasible pairs join only as (probe < full), pairs with
    exactly one feasible side join from that side regardless of order.

    Semantics mirror ngram_jaccard_pairs: intersections count COLD
    shingles only (hot shingles — df > max_ngram_df — carry no pair
    signal and would be quadratic), denominators count the doc's FULL
    distinct-shingle set; the DuckDB oracle replays both choices.

    Output: (id_a, id_b, inter, cont_a_in_b, cont_b_in_a) for pairs with
    greatest(cont_a_in_b, cont_b_in_a) >= threshold.
    """
    dn = documents.select(
        "doc_id",
        F.explode(F.array_distinct(shingles_col(n))).alias("ngram"),
    ).persist()
    dn.count()
    sizes = dn.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    df_tab = dn.groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
    cold = dn.join(
        df_tab.where(F.col("df") <= max_ngram_df), "ngram"
    ).select("doc_id", "ngram")
    # contained-feasibility (docstring): inter <= szc always and a
    # qualifying direction needs inter >= θ·sz of its contained side, so
    # only docs with cold fraction >= θ can ever be contained — the probe
    # side keeps exactly those.  feas rides along as a flag so each pair
    # is counted once: both-feasible pairs only via the (a < b) rows,
    # one-feasible pairs via the feasible probe regardless of order.
    szc_t = cold.groupBy("doc_id").agg(F.count(F.lit(1)).alias("szc"))
    feas_t = szc_t.join(sizes, "doc_id").select(
        "doc_id",
        (F.col("szc") >= F.lit(threshold) * F.col("sz") - 1e-9).alias("feas"),
    )
    tagged = cold.join(feas_t, "doc_id")
    probe = tagged.where("feas").select(
        F.col("doc_id").alias("id_p"), "ngram"
    )
    inter = (
        probe.join(
            tagged.select(
                F.col("doc_id").alias("id_f"), "ngram", "feas"
            ),
            "ngram",
        )
        .where(
            (F.col("id_p") < F.col("id_f"))
            | (~F.col("feas") & (F.col("id_p") != F.col("id_f")))
        )
        .groupBy(
            F.least("id_p", "id_f").alias("id_a"),
            F.greatest("id_p", "id_f").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.toDF("id_a", "sz_a"), "id_a")
        .join(sizes.toDF("id_b", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("bigint").alias("inter"),
            (F.col("inter") / F.col("sz_a")).alias("cont_a_in_b"),
            (F.col("inter") / F.col("sz_b")).alias("cont_b_in_a"),
        )
        .where(
            F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a"))
            >= F.lit(threshold)
        )
    )

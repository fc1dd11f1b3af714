"""Blocking stage: mentions -> candidate pairs (SURVEY.md §2.3 J1-J3).

The reference generates every antecedent pair per document
(DocumentGraph.scala:21-24) and prunes by distance / coarse score
(DocumentGraph.scala:91-115, CorefPruner.scala:36-47).  At 10^12 web pages
the triangular join cannot be materialized, so pruning becomes *blocking*,
run over the **distinct normalized surfaces** rather than mention instances:

  1. mentions with an identical norm_name are linked a priori ("exact" pass —
     the reference's decisive exact-string-match feature,
     PairwiseIndexingFeaturizerJoint.scala:241-246). Distinct-surface count is
     orders of magnitude below mention count, so every downstream join is on
     the small deduped table — the single most important scale decision here.
  2. sorted-neighborhood pass over distinct surfaces: explode block keys
     (last token / first token / acronym — cf. AbbreviationHandler.scala:7-62),
     sort within key, pair within a row-offset band (the reference's distance
     window, DocumentGraph.scala:91-102).
  3. MinHash-LSH pass over character shingles of the surface: deterministic
     seeded minhash signatures, banded; pairs sharing a (band, bucket) are
     candidates (the reference's coarse-model cascade, CorefPruner.scala:36-47).
     The kernel, minhash_band_keys, is the repo's one MinHash-LSH
     implementation: dedup.py, fuzzy decontamination and the incremental
     dedup stream (streaming/ingest.py) call it over word shingles.

Hot blocks (head-domain skew / common surnames) are defused by one
row_number cap: each block key keeps its first MAX_BLOCK surfaces in
(norm_name, node_id) order.  Spark plans the `rn <= MAX_BLOCK` filter as a
partial WindowGroupLimit below the key exchange and a final one above it,
so each map task ships at most MAX_BLOCK rows of a hot key into the
shuffle, and the self-join sees at most MAX_BLOCK rows per key — bounded
work, and a deterministic, disclosed recall bound
(test_capped_blocking_drops_tail);
AQE skew-join handles residual join-side imbalance.
Everything below is expressed as DataFrame ops (joins, windows, explode); the
minhash pass included — the whole stage runs JVM-side in codegen.  The fixed
expression lists (block keys, signature aggregates, band keys, pair columns)
are built as SQL text: each F.* node is a py4j round trip while the plan is
built (the MinHash column list alone is ~1,900 of them per pipeline run),
a string parses in one, and the analyzed expressions are the same.

capped_key_pairs is the repo's one row_number-capped key self-join,
emitting (key, id_a < id_b) pairs with any extra columns carried as
<col>_a / <col>_b.  Its callers: phonetic_pairs, dedup.minhash_lsh_pairs,
dedup.simhash_near_pairs, dedup.duplicated_spans,
linkage.fs_comparison_vectors and metablocking.block_graph_edges.  Two caps
stay inline, each with its reason in its docstring:
similarity.lsh_bucket_topk and streaming.ingest._dedup_batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from berkeley_entity_spark.util import maybe_broadcast, sql_str

# MinHash-LSH banding of char SHINGLE_K-shingles of a surface
MH_BANDS, MH_ROWS = 8, 4
SHINGLE_K = 3
# sorted-neighborhood window: rows paired after each row inside a block key
NEIGHBORHOOD = 6
# hot-block cap: surfaces kept per block key (and the pairing width inside
# an LSH bucket, whose members are already near-dups)
MAX_BLOCK = 200

# ----------------------------------------------------------- distinct surfaces


def distinct_surfaces(mentions: DataFrame) -> DataFrame:
    """(norm_name, node_id, rep_url, rep_mention) — one row per distinct
    surface; node_id is a content hash (stable under partitioning), the
    representative mention is the min mention_id (reference convention:
    first mention represents the cluster, OrderedClustering.scala:70-77)."""
    return (
        mentions.groupBy("norm_name")
        .agg(
            F.expr("min(mention_id) AS rep_mention"),
            F.expr("min_by(url, mention_id) AS rep_url"),
            F.expr("count(1) AS n_mentions"),
            F.expr("max(coalesce(is_acr, false)) AS is_acr"),
        )
        .withColumn("node_id", F.expr("xxhash64(norm_name)"))
    )


# ----------------------------------------------------------------- block keys


_TOKS = "split(norm_name, ' ')"
_BLOCK_KEYS = (
    "array_distinct(array("
    f"concat('L:', element_at({_TOKS}, -1)), "
    f"concat('F:', element_at({_TOKS}, 1)), "
    f"concat('A:', array_join(transform({_TOKS}, t -> substring(t, 1, 1)), '')), "
    # single-token surfaces may *be* an acronym: index them under the
    # acronym key space too so "gdc" meets "global data corp"
    f"CASE WHEN size({_TOKS}) = 1 THEN concat('A:', element_at({_TOKS}, 1)) END"
    ")) AS keys"
)


def explode_block_keys(df: DataFrame, id_col: str) -> DataFrame:
    """Explode each normalized surface (norm_name) into its blocking keys.

    key passes: last token (surname / suffix), first token (org stem /
    first name), acronym (initial letters — links "GDC" to
    "global data corporation", cf. sem/AbbreviationHandler.scala).
    Pure column expressions — stays inside whole-stage codegen.
    """
    return df.selectExpr(id_col, "norm_name", _BLOCK_KEYS).selectExpr(
        id_col, "norm_name", "explode(keys) AS block_key"
    ).where("block_key IS NOT NULL AND length(block_key) > 2")


# ------------------------------------------------------------------- minhash


def char_shingles_col(k: int) -> Column:
    """Distinct char k-shingles of the space-padded surface (norm_name) as
    an array column.  Pure SQL expressions (substr over a sequence) —
    whole-stage codegen, and byte-identical to DuckDB's substr over the
    same string."""
    padded = "concat(' ', norm_name, ' ')"
    return F.expr(
        f"CASE WHEN length({padded}) <= {k} THEN array({padded}) "
        f"ELSE array_distinct(transform(sequence(1, length({padded}) - {k - 1}), "
        f"i -> substr({padded}, i, {k}))) END"
    )


def minhash_band_keys(
    df: DataFrame,
    cols: list[str],
    shingles: Column,
    bands: int,
    rows: int,
    sep: str = "#",
    tag: str | None = None,
    key_col: str = "bucket",
) -> DataFrame:
    """(*cols, key_col) — one row per (id, LSH band): the MinHash-LSH kernel
    shared by ER blocking (char shingles of a surface), document dedup,
    fuzzy decontamination and the incremental dedup stream (word shingles,
    dedup.shingles_col).  `cols` are the id/passthrough columns the
    signature is grouped by; `shingles` is an array column.

    Engine-portable string-min trick: minhash_i = min(md5(i || '|' ||
    shingle)) — md5 is a uniform permutation of the shingle space per seed,
    and the lexicographic min over hex digests is a valid min-hash.  The
    bucket of band b is concat_ws(sep, [tag,] b, its `rows` mins):
    'MH:<band>:<h…>' for blocking keys, '<band>#<h…>' for dedup buckets —
    the same strings the DuckDB oracles build, and the strings persisted
    stream state joins on.

    The signature runs inside whole-stage codegen (explode + hash-agg min;
    the array-transform form is interpreted per element and measured ~4x
    slower at sf0.1).  Hashing is inline per occurrence: A/B-measured
    against hashing each DISTINCT shingle once + broadcast-joining the
    digests back (sf0.1, 21k surfaces, interleaved min-of-3), inline took
    0.26s vs 1.07s — the extra distinct + join stages cost more than the
    redundant hashing saves, and the digest table is a tens-of-MB
    broadcast at web charsets.

    The aggregates and band keys are SQL text (module docstring): one
    aggregate in the nested F.* form took 5.4-6.8 ms to build with
    PySpark's call-site capture on (4-vCPU VM), as text 0.24-0.42 ms."""
    ex = df.select(*cols, F.explode(shingles).alias("sh"))
    sig = ex.groupBy(*cols).agg(
        *[
            F.expr(f"min(md5(concat('{i}|', sh))) AS mh{i}")
            for i in range(bands * rows)
        ]
    )
    lead = [sql_str(tag)] if tag is not None else []
    band_keys = ", ".join(
        "concat_ws("
        + ", ".join(
            [sql_str(sep), *lead, f"'{b}'"]
            + [f"mh{b * rows + r}" for r in range(rows)]
        )
        + ")"
        for b in range(bands)
    )
    return sig.selectExpr(*cols, f"explode(array({band_keys})) AS {key_col}")


# ------------------------------------------------------------- pair emission


def capped_key_pairs(
    keys: DataFrame, id_col: str, key_col: str, cap: int
) -> DataFrame:
    """(key_col, id_a, id_b, *<col>_a, *<col>_b) with id_a < id_b for every
    two rows sharing a key — the repo's one capped key self-join.  Every
    other column of `keys` is carried through as <col>_a / <col>_b.  Each
    key keeps its first `cap` rows in (id_col, *carried) order (row_number
    window), so a hot key emits at most C(cap, 2) pairs whatever the corpus
    size — a deterministic, disclosed recall bound — and an id repeated
    under one key (several positions of a doc) still ranks totally.  Pairs
    sharing several keys come out once per key; callers dedup or count."""
    carried = [c for c in keys.columns if c not in (id_col, key_col)]
    w = Window.partitionBy(key_col).orderBy(id_col, *carried)
    capped = (
        keys.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )

    def side(s: str) -> DataFrame:
        return capped.select(
            key_col,
            F.col(id_col).alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carried],
        )

    return (
        side("a").join(side("b"), key_col)
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            key_col, "id_a", "id_b",
            *[f"{c}_a" for c in carried], *[f"{c}_b" for c in carried],
        )
    )


# ------------------------------------------------------------------ assembly


def candidate_pairs(
    surfaces: DataFrame,
    n_surfaces: int,
    prune: tuple | None = None,
) -> DataFrame:
    """Full blocking stage: distinct surfaces -> union of passes -> dedup.

    `surfaces` is distinct_surfaces' table and `n_surfaces` its (already
    counted) row count, which gates the broadcast of the attribute lookups.

    Both passes go through ONE ranked window + ONE band self-join: LSH bucket
    keys ("MH:band:bucket") are unioned into the block-key table with the
    sorted-neighborhood keys ("L:/F:/A:"), and the per-key pairing width is a
    column (full-width inside an LSH bucket — its members are already
    near-dups; NEIGHBORHOOD rows inside a sorted key).  One shuffle sort +
    one join instead of two of each — at web scale this halves the shuffle
    count of the dominant stage; at bench scale it halves its fixed job cost.
    The window keeps the first MAX_BLOCK rows of every key; planned as a
    partial + final WindowGroupLimit, that cap is the stage's skew handling.

    prune=(weights, threshold): valid ONLY when the consumer keeps
    above-threshold edges (the q_er_clusters decode path).  Applies the
    admissible codegen score bound (scoring.prune_bound_prepped) to the RAW
    self-join output, BEFORE the unordered-pair dedup groupBy — the pair
    stream shrinks by the prune rate (96% at sf0.1) before it ever hits the
    dedup exchange or the attribute joins, which are the largest
    intermediates of the ER spine at web scale.  Survivor pairs are
    identical to pruning after dedup: the bound is a pure function of the
    (norm, acr) pair, the same for every duplicate row of that pair.

    Output: (block_key, node_a, node_b, norm_a, norm_b, pass) at the distinct
    surface level, plus representative mention/url columns for the FIXTURES
    candidate_pairs contract.
    """
    sn_keys = explode_block_keys(surfaces, "node_id")
    mh_keys = minhash_band_keys(
        surfaces,
        ["node_id", "norm_name"],
        char_shingles_col(SHINGLE_K),
        MH_BANDS,
        MH_ROWS,
        sep=":",
        tag="MH",
        key_col="block_key",
    )
    keys = sn_keys.unionByName(mh_keys)
    if prune is not None:
        # the bound's acronym term needs the exact is_acr flags to stay
        # admissible for negative weights; a broadcast lookup keeps the
        # join map-side (falls back to shuffle past the byte gate — the
        # same join the unpruned tail pays twice anyway)
        acr_lut = maybe_broadcast(surfaces.select("node_id", "is_acr"), n_surfaces)
        keys = keys.join(acr_lut, "node_id")

    ranked = keys.withColumn(
        "rn",
        F.expr("row_number() OVER (PARTITION BY block_key ORDER BY norm_name, node_id)"),
    ).where(f"rn <= {MAX_BLOCK}")
    # Materialize the cache BEFORE the self-join: with a lazy persist the
    # two join branches race — each scan task evaluates the window+minhash
    # DAG until the cache fills, so most of the keys stage computes twice.
    # One count (the rows are already in memory bytes) guarantees both
    # sides read the cache.  At web scale this is also the right call:
    # the ranked table is read exactly twice, and recomputing the minhash
    # agg is strictly more expensive than one in-memory materialization.
    ranked = ranked.persist()
    ranked.count()
    if prune is not None:
        # Per-surface derived values for the prune bound, computed ON TOP of
        # the cached narrow table (so they never hit cache bytes — measured
        # ~1s slower to cache the wide rows than to re-derive them lazily):
        # each join side derives them in the same codegen span as its cache
        # scan, once per KEY ROW, not per candidate pair (evaluated per
        # pair, the bound re-ran the regex split + array builds ~8x per
        # side — measured 3x slower than not pruning at all).
        ranked = ranked.selectExpr(
            "*",
            f"array_distinct({_TOKS}) AS _dt",
            f"element_at({_TOKS}, 1) AS _first",
            f"element_at({_TOKS}, -1) AS _last",
            f"size({_TOKS}) AS _ntok",
            f"array_join(transform({_TOKS}, t -> substring(t, 1, 1)), '') AS _acr_s",
            "length(norm_name) AS _ln",
        ).selectExpr("*", "size(_dt) AS _ndt")
    lsh = "startswith(a.block_key, 'MH:')"
    joined = (
        ranked.alias("a")
        .join(
            ranked.alias("b"),
            F.expr(
                "a.block_key = b.block_key AND b.rn > a.rn AND b.rn <= a.rn + "
                f"CASE WHEN {lsh} THEN {MAX_BLOCK} ELSE {NEIGHBORHOOD} END"
            ),
        )
        .where("a.node_id != b.node_id")
    )
    if prune is not None:
        from berkeley_entity_spark.operators.scoring import prune_bound_prepped

        # The bound filter MUST stay a post-join Filter: OR-ing with an
        # always-false NON-DETERMINISTIC term (monotonically_increasing_id,
        # not rand — Spark 4 constant-folds rand's known [0,1) bounds) makes
        # the predicate unsplittable and non-pushable, else Catalyst folds
        # it into the join condition AHEAD of the cheap rn-range conjuncts
        # and every same-block candidate pays the levenshtein (measured 5x
        # slower).  The Or short-circuits, so the term never evaluates.
        w_arr, threshold = prune
        pred = prune_bound_prepped(w_arr, threshold)
        joined = joined.where(pred | (F.monotonically_increasing_id() < F.lit(-1)))
    # one candidate per unordered node pair; keep the first pass name
    # deterministically (min) so reruns are identical
    pairs = (
        joined.selectExpr(
            "a.block_key AS block_key",
            "least(a.node_id, b.node_id) AS node_a",
            "greatest(a.node_id, b.node_id) AS node_b",
            f"CASE WHEN {lsh} THEN 'lsh' ELSE 'sortedneighborhood' END AS pass",
        )
        .groupBy("node_a", "node_b")
        .agg(F.expr("min(block_key) AS block_key"), F.expr("min(pass) AS pass"))
    )
    # the attribute lookups broadcast when the (already counted) surface
    # table is small — map-side joins instead of pair shuffles; gated on
    # rows AND estimated bytes (string columns can blow past the executor
    # budget long before the row ceiling); at 10^12 pages the table exceeds
    # both and we shuffle
    s = maybe_broadcast(
        surfaces.select("node_id", "norm_name", "rep_url", "rep_mention", "is_acr"),
        n_surfaces,
    )
    return (
        pairs.join(
            s.toDF("node_a", "norm_a", "url_a", "mention_a", "acr_a"), "node_a"
        )
        .join(s.toDF("node_b", "norm_b", "url_b", "mention_b", "acr_b"), "node_b")
        .select(
            "block_key", "node_a", "node_b", "norm_a", "norm_b", "acr_a",
            "acr_b", "url_a", "mention_a", "url_b", "mention_b", "pass",
        )
    )


# ---------------------------------------------------------------- phonetic


def soundex_key_col(name_col="norm_name"):
    """American-Soundex-class phonetic key as a pure expression chain —
    the classic record-linkage blocking pass that catches spelling
    variants (smith/smyth, catherine/kathryn) the exact and
    sorted-neighborhood keys miss.

    Deliberately implemented as the SAME translate + quantifier-only
    regexp pipeline both engines run (RE2 has no backreferences or
    lookahead, so the usual '(\\d)\\1+' collapse is written as one
    'd{2,}' replace per digit): code letters (h/w -> 9, vowels+y -> 0),
    strip the 9s (implements the h/w merge rule), collapse runs per
    digit, drop the leading code (it belongs to the retained first
    letter), drop the vowel separators, pad to 3.  Keyed on the FIRST
    token of the normalized surface; NULL when it does not start a-z.

    Standard test vectors (Robert->R163, Tymczak->T522, Pfister->P236,
    Ashcraft->A261 with the h/w rule) are pinned in tests."""
    first = F.element_at(F.split(F.col(name_col), " "), 1)
    code = F.translate(
        first,
        "abcdefghijklmnopqrstuvwxyz",
        "01230129022455012623019202",
    )
    code = F.regexp_replace(code, "9", "")  # h/w merge rule
    for d in "0123456":  # run collapse, one quantifier pattern per digit
        code = F.regexp_replace(code, d + "{2,}", d)
    # drop the leading code (the retained first letter's own), then the
    # vowel separators
    tail = F.regexp_replace(code.substr(F.lit(2), F.length(code)), "0", "")
    key = F.concat(
        F.upper(F.substring(first, 1, 1)),
        F.rpad(F.substring(tail, 1, 3), 3, "0"),
    )
    return F.when(F.substring(first, 1, 1).rlike("^[a-z]$"), key)


def phonetic_pairs(
    surfaces: DataFrame,
    id_col: str = "node_id",
    name_col: str = "norm_name",
    max_block: int = 64,
) -> DataFrame:
    """Candidate pairs from the phonetic key: one groupBy-free keying
    projection, the standard row_number hot-block cap (soundex buckets
    are famously skewed — S530 holds every smith/smyth/schmidt) and the
    key self-join, both via capped_key_pairs.  Output (id_a, id_b,
    block_key) distinct pairs."""
    keyed = surfaces.select(
        F.col(id_col), soundex_key_col(name_col).alias("block_key")
    ).where(F.col("block_key").isNotNull())
    return (
        capped_key_pairs(keyed, id_col, "block_key", max_block)
        .select("id_a", "id_b", "block_key")
        .distinct()
    )

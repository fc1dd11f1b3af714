"""Dedup operator tests over the driver-provided documents table."""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.dedup import (
    contaminated_docs,
    minhash_lsh_pairs,
    near_dup_keep_one,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_dup(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    return d.unionByName(
        d.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    ).cache()


def test_minhash_finds_exact_dups(docs_dup):
    pairs = minhash_lsh_pairs(docs_dup).cache()
    dup_pairs = pairs.where(F.col("id_b") - F.col("id_a") == 100000).count()
    assert dup_pairs == 500  # identical docs share every band


def test_ngram_jaccard_exact_dups(docs_dup):
    p = ngram_jaccard_pairs(docs_dup, threshold=0.9).cache()
    exact = p.where(F.col("id_b") - F.col("id_a") == 100000)
    assert exact.count() == 500
    assert exact.where(F.col("jaccard") < 1.0).count() == 0


@pytest.mark.parametrize("threshold", [0.5, 0.9])
def test_ngram_jaccard_prefix_filter_lossless(docs_dup, threshold):
    """PPJoin prefix filtering must be exactly the unfiltered semantics:
    compare against a brute-force pandas recomputation (cold-ngram
    intersection / full-set union) on a 200-doc slice."""
    sub = docs_dup.where("doc_id % 7 = 0")
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(sub, threshold=threshold).collect()
    }
    rows = sub.collect()
    from collections import Counter

    def grams(text):
        toks = [t for t in text.split(" ") if t]
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = {r["doc_id"]: grams(r["text"]) for r in rows}
    df_counts = Counter(g for s in sets.values() for g in s)
    cold = {i: {g for g in s if df_counts[g] <= 500} for i, s in sets.items()}
    expect = {}
    ids = sorted(sets)
    for x, ia in enumerate(ids):
        for ib in ids[x + 1 :]:
            inter = len(cold[ia] & cold[ib])
            if inter == 0:
                continue
            j = inter / (len(sets[ia]) + len(sets[ib]) - inter)
            if j >= threshold:
                expect[(ia, ib)] = round(j, 9)
    assert got == expect


def test_simhash_blank_docs_do_not_pair(spark):
    """ADVICE r2: token-less docs must get a NULL signature and never pair
    (a 0 signature would put every blank doc at hamming 0)."""
    d = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "alpha beta gamma"), (4, "alpha beta gamma")],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(d).collect()}
    assert sigs[1] is None and sigs[2] is None
    pairs = simhash_near_pairs(d, max_hamming=8).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(3, 4)}


def test_simhash_identical_docs_hamming_zero(spark, docs_dup):
    sh = simhash64(docs_dup).cache()
    a = sh.where("doc_id < 100000").toDF("id_a", "sh_a")
    b = sh.where("doc_id >= 100000").select(
        (F.col("doc_id") - 100000).alias("id_a"), F.col("simhash").alias("sh_b")
    )
    j = a.join(b, "id_a")
    assert j.count() == 500
    assert (
        j.where(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) != 0).count() == 0
    )


def test_simhash_near_pairs_contains_dups(docs_dup):
    """Every injected +100000 duplicate must be reachable from a
    representative at hamming 0 (star form: the rep is the group's min id,
    so the dup side is always an id_b — identical docs are never lost)."""
    pairs = simhash_near_pairs(docs_dup.limit(2000), max_hamming=0)
    covered = (
        pairs.where((F.col("hamming") == 0) & (F.col("id_b") >= 100000))
        .select("id_b")
        .distinct()
        .count()
    )
    n_tokenful = (
        simhash64(docs_dup).where("doc_id >= 100000 AND simhash IS NOT NULL").count()
    )
    assert covered == n_tokenful


def test_simhash_hot_class_stays_linear(spark):
    """VERDICT r3: a 1000-doc identical-text class (templated boilerplate —
    exactly what dedup exists for) must NOT produce a quadratic band-join
    blowup.  Identical signatures collapse to a min-id representative star
    (999 edges), and only DISTINCT signatures enter the capped band join."""
    rows = [(i, "terms of service apply to all users") for i in range(1000)]
    rows += [(2000, "alpha beta gamma delta"), (2001, "alpha beta gamma delta epsilon")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_pairs(d, max_hamming=8).cache()
    star = pairs.where("id_a = 0 AND hamming = 0")
    assert star.count() == 999  # linear: one edge per member, rep = min id
    # total pair count is star + rep-rep candidates, nowhere near 1000^2/2
    assert pairs.count() < 999 + 16
    pairs.unpersist()


def test_simhash_band_bucket_cap(spark):
    """The distinct-signature band join honors max_bucket: with the cap at
    2, a bucket of 4 distinct signatures yields C(2,2)=1 rep-rep pair per
    band instead of C(4,2)=6."""
    base = " ".join(f"tok{i}" for i in range(60))
    texts = [base + f" uniq{j}" for j in range(10)]  # 10 distinct signatures,
    # verified offline to share >=1 band across 32 of the 45 pairs
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    uncapped = simhash_near_pairs(d, max_hamming=64).count()
    # cap=1 keeps one rep per band bucket -> the rep-rep join is empty, and
    # with all-distinct texts there are no star edges either
    capped = simhash_near_pairs(d, max_hamming=64, max_bucket=1).count()
    assert uncapped >= 32
    assert capped == 0


def test_near_dup_keep_one(docs_dup):
    out = near_dup_keep_one(docs_dup).cache()
    assert out.count() == 1000  # one row per input doc
    # every injected shadow (+100000) clusters with its base -> never kept
    assert out.where("doc_id >= 100000 AND kept").count() == 0
    # canonical ids are cluster minima, so always base-range ids
    assert out.where("canonical_id >= 100000").count() == 0
    # kept <=> doc is its own canonical, and every canonical IS kept
    assert out.where("kept <> (doc_id = canonical_id)").count() == 0
    canon = out.select(F.col("canonical_id").alias("doc_id")).distinct()
    not_kept = out.where("NOT kept").select("doc_id")
    assert canon.join(not_kept, "doc_id").count() == 0


def test_contaminated_docs_flags_benchmark_shadows(spark, docs_dup):
    base = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    bench = base.where("doc_id % 97 = 0")
    out = contaminated_docs(docs_dup, bench).cache()
    eligible = [
        r.doc_id
        for r in bench.select(
            "doc_id", F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n")
        ).collect()
        if r.n >= 13
    ]
    flagged = {r.doc_id for r in out.collect()}
    for b in eligible:
        assert b in flagged, f"benchmark doc {b} not flagged"
        assert b + 100000 in flagged, f"shadow of {b} not flagged"
    # a contaminated doc hits at least one benchmark doc
    assert out.where("n_bench_docs < 1 OR n_hit_grams < 1").count() == 0


def test_segment_dedup_token_windows(spark):
    """Boilerplate windows shared across docs are removed from EVERY doc;
    survivors reassemble in order; window size honors seg_tokens."""
    from berkeley_entity_spark.operators.dedup import segment_dedup

    boiler = "cookie banner text here"  # 4 tokens = one full segment
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique alpha one x"),
            (2, boiler + " unique beta two yy"),
            (3, "totally different content z"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in segment_dedup(docs, seg_tokens=4).collect()
    }
    assert out[1].n_segs == 2 and out[1].n_removed == 1
    assert out[1].text_clean == "unique alpha one x"
    assert out[2].text_clean == "unique beta two yy"
    assert out[3].n_removed == 0
    assert out[3].text_clean == "totally different content z"


def test_segment_dedup_delim_mode_and_all_removed(spark):
    from berkeley_entity_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(1, "menu\nbody one"), (2, "menu\nbody two"), (3, "menu")],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in segment_dedup(docs, delim="\n").collect()
    }
    assert out[1].text_clean == "body one"
    assert out[3].n_segs == 1 and out[3].n_removed == 1
    assert out[3].text_clean == ""  # fully-boilerplate doc -> empty, kept


def test_segment_dedup_partitioning_invariant(spark):
    from berkeley_entity_spark.operators.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(i, f"shared head tokens run {'u' * (i % 3 + 1)} tail {i}") for i in range(40)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, segment_dedup(docs, seg_tokens=4).collect()))
    b = sorted(
        map(tuple, segment_dedup(docs.repartition(13), seg_tokens=4).collect())
    )
    assert a == b


def test_fuzzy_decontaminate_flags_copies_and_paraphrases(spark):
    from berkeley_entity_spark.operators.dedup import fuzzy_contaminated_docs

    bench_text = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, bench_text),                       # benchmark doc itself in training
            (2, bench_text),                       # exact copy under a new id
            (3, bench_text + " extra trailing"),   # near copy: superset shingles
            (4, "entirely different content with no shared shingles at all here"),
        ],
        ["doc_id", "text"],
    )
    bench = docs.where("doc_id = 1")
    out = {r["doc_id"]: r for r in fuzzy_contaminated_docs(docs, bench).collect()}
    # exact copies collide on ALL 4 band buckets
    assert out[1].n_hit_buckets == 4 and out[2].n_hit_buckets == 4
    assert out[1].n_bench_docs == 1
    # the superset doc shares at least one band (its extra shingles can only
    # steal some mins); the unrelated doc is never flagged
    assert 3 in out and out[3].n_hit_buckets >= 1
    assert 4 not in out

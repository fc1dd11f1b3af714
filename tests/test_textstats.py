"""Text-analysis operator tests."""

import pytest
from pyspark.sql import functions as F

from berkeley_entity_spark.operators.textstats import (
    doc_fingerprint,
    lang_id_en,
    quality_score,
    text_stats,
    winnowing_fingerprints,
)


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (1, "the cat sat on the mat and it was happy there all day"),
        (2, "xyzzy plugh qwerty asdf zxcv"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_token_count(small_docs):
    got = {r["doc_id"]: r["n_tokens"] for r in text_stats(small_docs).collect()}
    assert got == {1: 13, 2: 5, 3: 13, 4: 0}


def test_stats_ranges(small_docs):
    for r in text_stats(small_docs).collect():
        assert 0.0 <= r["stopword_ratio"] <= 1.0
        assert 0.0 <= r["punct_ratio"] <= 1.0


def test_lang_id_heuristic(small_docs):
    got = {r["doc_id"]: r["pred_en"] for r in lang_id_en(small_docs).collect()}
    assert got[1] is True  # stopword-rich English
    assert got[2] is False  # gibberish


def test_quality_orders_sensibly(small_docs):
    q = {r["doc_id"]: r["quality"] for r in quality_score(small_docs).collect()}
    assert q[1] > q[2] > q[4]


def test_fingerprint_is_md5(small_docs):
    import hashlib

    got = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(small_docs).collect()}
    assert got[1] == hashlib.md5(
        b"the cat sat on the mat and it was happy there all day"
    ).hexdigest()


def test_winnowing_detects_overlap(spark):
    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, f"{shared} alpha beta gamma"),
        (2, f"delta epsilon {shared}"),
        (3, "totally different words nothing in common whatsoever here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnowing_fingerprints(df).cache()
    a = fp.where("doc_id = 1").select("fp")
    b = fp.where("doc_id = 2").select("fp")
    c = fp.where("doc_id = 3").select("fp")
    assert a.intersect(b).count() > 0  # shared passage detected
    assert a.intersect(c).count() == 0


def test_winnow_overlap_detects_injected_quote(spark):
    """Two docs sharing a long verbatim passage pair up; unrelated short
    docs don't."""
    from berkeley_entity_spark.operators.textstats import winnow_overlap_pairs

    quote = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta " + quote + " gamma delta"),
            (2, "omega psi " + quote + " chi phi"),
            (3, "completely different words here xyzzy plugh"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["shared"]
        for r in winnow_overlap_pairs(docs).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all(3 not in p for p in pairs)


def test_pii_stats_counts_and_redaction(spark):
    from berkeley_entity_spark.operators.textstats import pii_stats

    rows = [
        (1, "mail bob.smith+x@corp-site.co.uk and alice@a.io now"),
        (2, "server at 192.168.0.1 and 10.0.0.255, call 555-123-4567"),
        (3, "no pii here, just words and 12345 and a@b (not an email)"),
        (4, "edge 1234-123-1234 is not a phone; 1.2.3.4.5 has an ip prefix"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in pii_stats(d).collect()}
    assert (out[1].n_email, out[1].n_ip, out[1].n_phone) == (2, 0, 0)
    assert (out[2].n_email, out[2].n_ip, out[2].n_phone) == (0, 2, 1)
    assert (out[3].n_email, out[3].n_ip, out[3].n_phone) == (0, 0, 0)
    # \b stops 1234-123-1234 from matching the phone pattern; the first
    # four octets of 1.2.3.4.5 do match the IPv4 pattern (greedy-left)
    assert (out[4].n_ip, out[4].n_phone) == (1, 0)
    # no-PII doc hashes to the md5 of its unchanged text
    import hashlib

    assert out[3].redacted_hash == hashlib.md5(rows[2][1].encode()).hexdigest()


def test_pii_redaction_replaces_all_occurrences(spark):
    from berkeley_entity_spark.operators.textstats import pii_stats
    import hashlib

    d = spark.createDataFrame(
        [(1, "a@b.com then c@d.org then 1.2.3.4 then 555-000-1111")],
        "doc_id bigint, text string",
    )
    expected = "<EMAIL> then <EMAIL> then <IP> then <PHONE>"
    got = pii_stats(d).collect()[0].redacted_hash
    assert got == hashlib.md5(expected.encode()).hexdigest()


def test_repetition_stats_hand_cases(spark):
    """The in-row fold kernels (max bigram multiplicity, non-unique trigram
    coverage) against hand-computed values."""
    from berkeley_entity_spark.operators.textstats import repetition_stats

    d = spark.createDataFrame(
        [
            # "a b a b a b": bigrams a-b x3, b-a x2 -> top 3; trigrams
            # "a b a" x2, "b a b" x2 -> all 4 repeated
            (1, "a b a b a b"),
            # all-distinct tokens: no repetition anywhere
            (2, "one two three four five six"),
            # one doubled trigram at the edges, distinct bigram max 2
            (3, "x y z q x y z"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in repetition_stats(d).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 6
    assert r1["frac_dup_tokens"] == round(1 - 2 / 6, 6)
    assert r1["top_bigram_frac"] == round(3 * 2 / 6, 6)
    assert r1["rep_trigram_frac"] == round(4 * 3 / 6, 6)
    assert not r1["gopher_pass"]
    r2 = rows[2]
    assert r2["frac_dup_tokens"] == 0.0
    assert r2["top_bigram_frac"] == round(2 / 6, 6)  # every bigram count 1
    assert r2["rep_trigram_frac"] == 0.0
    r3 = rows[3]
    assert r3["n_tokens"] == 7
    # trigram "x y z" occurs twice -> 2 trigrams * 3 tokens / 7
    assert r3["rep_trigram_frac"] == round(6 / 7, 6)
    assert r3["top_bigram_frac"] == round(2 * 2 / 7, 6)


def test_lm_perplexity_hand_computed(spark):
    """Tiny corpus vs a numpy re-derivation: lexicon top-k tie order
    (count DESC, token ASC), add-alpha smoothing, OOV fallback."""
    import math

    from berkeley_entity_spark.operators.textstats import lm_perplexity

    docs = spark.createDataFrame(
        [(1, "a a b c"), (2, "a b b rare")], ["doc_id", "text"]
    )
    # counts: a=3, b=3, c=1, rare=1; vocab_size=3 keeps a, b, c (tie c<rare)
    out = {r.doc_id: r for r in lm_perplexity(docs, vocab_size=3).collect()}
    n, v = 8.0, 3.0
    lp = {
        "a": math.log((3 + 1) / (n + v + 1)),
        "b": math.log((3 + 1) / (n + v + 1)),
        "c": math.log((1 + 1) / (n + v + 1)),
    }
    oov = math.log(1 / (n + v + 1))
    ce1 = -(2 * lp["a"] + lp["b"] + lp["c"]) / 4
    ce2 = -(lp["a"] + 2 * lp["b"] + oov) / 4
    assert abs(out[1].cross_entropy - round(ce1, 6)) < 1e-9
    assert abs(out[2].cross_entropy - round(ce2, 6)) < 1e-9
    assert abs(out[2].perplexity - round(math.exp(ce2), 6)) < 1e-6
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4


def test_cluster_terms_ctfidf_hand_computed(spark):
    """c-TF-IDF on a 2-cluster toy corpus vs hand arithmetic."""
    import math

    from pyspark.sql import functions as F

    from berkeley_entity_spark.operators.textstats import cluster_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry"),
            (3, "dog dog dog cat"),
        ],
        "doc_id long, text string",
    )
    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1)], "doc_id long, cluster_id long"
    )
    got = {
        (r["cluster_id"], r["rank"]): (r["term"], r["n_tc"], r["score"])
        for r in cluster_terms(docs, assign, top_k=2).collect()
    }
    # cluster 0: n_c=5 (apple x3, banana, cherry); cluster 1: n_c=4
    # A = 9/2 = 4.5; f: apple 3, banana 1, cherry 1, dog 3, cat 1
    s = lambda tc, nc, ft: round(tc / nc * math.log(1 + 4.5 / ft), 6)  # noqa: E731
    assert got[(0, 1)] == ("apple", 3, s(3, 5, 3))
    # banana/cherry tie at 1/5*ln(1+4.5) -> banana first (term asc)
    assert got[(0, 2)] == ("banana", 1, s(1, 5, 1))
    assert got[(1, 1)] == ("dog", 3, s(3, 4, 3))
    assert got[(1, 2)] == ("cat", 1, s(1, 4, 1))
    # partitioning invariance
    got2 = {
        (r["cluster_id"], r["rank"]): (r["term"], r["n_tc"], r["score"])
        for r in cluster_terms(
            docs.repartition(7), assign.repartition(3), top_k=2
        ).collect()
    }
    assert got2 == got

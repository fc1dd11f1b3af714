"""duplicated_spans — exact duplicated-substring spans (Lee et al. 2022
EXACTSUBSTR analog as a distributed gaps-and-islands query)."""

from __future__ import annotations

from berkeley_entity_spark.operators.dedup import duplicated_spans, kgram_positions


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_known_shared_run(spark):
    """Two docs sharing one 20-token run (at different offsets) produce
    exactly one maximal span with the right positions and length."""
    shared = " ".join(f"s{i}" for i in range(20))
    a = "a0 a1 a2 " + shared + " a3 a4"
    b = "b0 " + shared + " b1 b2 b3 b4 b5"
    d = _docs(spark, [(1, a), (2, b), (3, "unrelated text entirely here")])
    out = duplicated_spans(d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert (r.a_start, r.b_start, r.span_len) == (3, 1, 20)


def test_span_is_maximal_not_fragmented(spark):
    """A 40-token shared run yields ONE island, not per-gram fragments."""
    shared = " ".join(f"t{i}" for i in range(40))
    d = _docs(spark, [(1, shared + " x"), (2, "y " + shared)])
    out = duplicated_spans(d).collect()
    assert len(out) == 1
    assert out[0].span_len == 40


def test_two_separate_runs_two_islands(spark):
    """Two shared runs separated by differing text are two spans."""
    r1 = " ".join(f"p{i}" for i in range(16))
    r2 = " ".join(f"q{i}" for i in range(18))
    d = _docs(
        spark,
        [(1, r1 + " only in one " + r2), (2, r1 + " different middle z " + r2)],
    )
    out = sorted(duplicated_spans(d).collect(),
                 key=lambda r: r.a_start)
    assert [r.span_len for r in out] == [16, 18]


def test_below_min_len_dropped(spark):
    shared = " ".join(f"s{i}" for i in range(12))  # 12 < min_len=15
    d = _docs(spark, [(1, shared + " aa bb cc"), (2, shared + " dd ee ff")])
    assert duplicated_spans(d).count() == 0


def test_hot_gram_cap_keeps_pairs_linear(spark):
    """An identical-text class of 60 docs (templated boilerplate): the
    row_number <= max_gram_rows cap bounds the gram join — only the first
    cap docs participate, so pair count is C(cap,2), not C(60,2)."""
    text = " ".join(f"w{i}" for i in range(30))
    d = _docs(spark, [(i, text) for i in range(60)])
    out = duplicated_spans(d, max_gram_rows=10).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    assert len(pairs) == 45  # C(10,2): docs 10..59 are capped out entirely
    assert max(b for _, b in pairs) == 9
    assert all(r.span_len == 30 for r in out)


def test_partitioning_invariance(spark):
    shared = " ".join(f"s{i}" for i in range(25))
    rows = [(i, f"head{i} " + shared + f" tail{i}") for i in range(8)]
    d = _docs(spark, rows)
    a = sorted(map(tuple, duplicated_spans(d).collect()))
    b = sorted(
        map(tuple, duplicated_spans(d.repartition(7)).collect())
    )
    assert a == b and len(a) == 28  # all C(8,2) pairs share the run


def test_kgram_positions_short_doc_empty(spark):
    d = _docs(spark, [(1, "a b c")])
    assert kgram_positions(d, k=8).count() == 0

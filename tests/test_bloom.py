from __future__ import annotations

import hashlib

import duckdb

from berkeley_entity_spark.operators.dedup import (
    bloom_benchmark_bits,
    bloom_contaminated_docs,
    contaminated_docs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sent(seed, n=15):
    return " ".join(f"w{seed}x{i}" for i in range(n))


def test_bloom_bits_match_hashlib(spark):
    """Build-side codegen bit positions == the Arrow test kernel's hashlib
    arithmetic (the two halves of the operator must share one filter)."""
    bench = _docs(spark, [(1, _sent(7))])
    m, kh, k = 4096, 3, 13
    got = sorted(
        r.bit for r in bloom_benchmark_bits(bench, k, m, kh).collect()
    )
    toks = _sent(7).split(" ")
    want = set()
    for i in range(len(toks) - k + 1):
        gh = hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()
        for j in range(kh):
            want.add(
                int(hashlib.md5(f"{gh}#{j}".encode()).hexdigest()[:15], 16) % m
            )
    assert got == sorted(want)


def test_bloom_flags_exact_contamination(spark):
    """With a filter large enough to avoid false positives, the Bloom pass
    flags exactly the docs the exact join flags, with identical distinct
    gram-position hit counts."""
    bench = _docs(spark, [(100, _sent(1)), (101, _sent(2))])
    train = _docs(
        spark,
        [
            (1, _sent(1)),                       # fully contaminated
            (2, _sent(3)),                       # clean
            (3, _sent(2) + " " + _sent(4)),      # partially contaminated
        ],
    )
    bloom = {
        r.doc_id: r.n_maybe_grams
        for r in bloom_contaminated_docs(train, bench, m_bits=1 << 20).collect()
    }
    exact = {
        r.doc_id: r.n_hit_grams
        for r in contaminated_docs(train, bench).collect()
    }
    assert bloom == exact and set(bloom) == {1, 3}


def test_bloom_gate_vs_duckdb_oracle(spark):
    """Replay the driver gate at sf0.001 (false positives and all)."""
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    got = sorted(
        tuple(r) for r in entry.q_bloom_decontaminate(spark, sf).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            entry.oracle_sql()["q_bloom_decontaminate"]
        ).fetchall()
    )
    assert got == want and len(got) > 0

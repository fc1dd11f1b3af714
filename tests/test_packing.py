from __future__ import annotations

import pytest

from berkeley_entity_spark.operators.packing import pack_sequences
from berkeley_entity_spark.operators.selection import domain_mixture


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _txt(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_pack_hand_computed(spark):
    """Docs of 5, 3, 6 tokens packed into chunks of 4:
    stream = [d1 x5][d2 x3][d3 x6] -> chunks 0..3."""
    df = _docs(spark, [(1, _txt(5, "a")), (2, _txt(3, "b")), (3, _txt(6, "c"))])
    got = sorted(
        map(tuple, pack_sequences(df, seq_len=4, bucket_size=2).collect())
    )
    want = sorted(
        [
            (0, 1, 0, 4, 0),   # d1 tokens 0-4 fill chunk 0
            (1, 1, 4, 5, 0),   # d1 last token opens chunk 1
            (1, 2, 0, 3, 1),   # d2 fills the rest of chunk 1
            (2, 3, 0, 4, 0),   # d3 fills chunk 2
            (3, 3, 4, 6, 0),   # d3 tail opens chunk 3
        ]
    )
    assert got == want


def test_pack_chunks_exactly_full(spark):
    df = _docs(spark, [(i, _txt(7 + i % 5, f"t{i}_")) for i in range(40)])
    rows = pack_sequences(df, seq_len=16, bucket_size=7).collect()
    per_chunk = {}
    for r in rows:
        per_chunk.setdefault(r.chunk_id, []).append(r)
    total = sum(r.tok_end - r.tok_start for r in rows)
    last = max(per_chunk)
    for cid, slices in per_chunk.items():
        filled = sum(r.tok_end - r.tok_start for r in slices)
        # slices tile the chunk contiguously from offset 0
        spans = sorted((r.chunk_off, r.chunk_off + r.tok_end - r.tok_start) for r in slices)
        assert spans[0][0] == 0
        assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
        if cid != last:
            assert filled == 16
    assert total == sum(7 + i % 5 for i in range(40))


def test_pack_bucketing_invariant(spark):
    """bucket_size must not change the output (two-phase prefix sum ==
    global prefix sum), under any input partitioning."""
    df = _docs(spark, [(i * 3 + 1, _txt(1 + i % 9, f"w{i}_")) for i in range(60)])
    base = sorted(map(tuple, pack_sequences(df, seq_len=10, bucket_size=1).collect()))
    for bs in (4, 17, 10_000):
        got = sorted(
            map(
                tuple,
                pack_sequences(df.repartition(13), seq_len=10, bucket_size=bs).collect(),
            )
        )
        assert got == base


def test_pack_skips_empty_docs(spark):
    df = _docs(spark, [(1, ""), (2, _txt(4, "x")), (3, " ")])
    rows = pack_sequences(df, seq_len=4).collect()
    assert {r.doc_id for r in rows} == {2}


def test_domain_mixture_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, _txt(90, "a"), "big"), (2, _txt(10, "b"), "small")],
        "doc_id long, text string, source string",
    )
    out = {r.domain: r for r in domain_mixture(df, alpha=0.5).collect()}
    z = 90**0.5 + 10**0.5
    assert out["big"].p_raw == pytest.approx(0.9)
    assert out["big"].weight == pytest.approx(round(90**0.5 / z, 6))
    assert out["small"].boost == pytest.approx(
        round((10**0.5 / z) / 0.1, 6)
    )
    # alpha < 1 up-weights the small domain
    assert out["small"].boost > 1.0 > out["big"].boost

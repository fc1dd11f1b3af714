"""The Spark MinHash-LSH kernel (blocking.minhash_band_keys) and the DuckDB
oracles' SQL (_minhash_band_ctes) emit byte-identical bucket strings — for
ER blocking keys over char shingles (the blocking constants) and for
dedup buckets over word shingles (bands=4, rows=2).  Fixed strings, no
testdata.  Token-less docs (empty, whitespace-only) get no shingle, hence
no bucket and no pair, on both engines."""

import duckdb
import pandas as pd

import __spark_entry__ as entry
from berkeley_entity_spark.operators.blocking import (
    MH_BANDS,
    MH_ROWS,
    SHINGLE_K,
    char_shingles_col,
    minhash_band_keys,
)
from berkeley_entity_spark.operators.dedup import minhash_lsh_pairs, shingles_col

SURFACES = [
    "global data corporation", "gdc", "g", "jo", "john smith", "jon smyth",
    "smith", "münchen rück", "acme corp", "acme corporation",
]
DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "two words"),
    (4, "solo"),
    (5, "  spaced   out  text  here "),
    (6, "the quick brown fox jumps over the lazy dog"),
    (7, ""),
    (8, "   "),
]
TOKENLESS = {7, 8, 100007, 100008}


def test_er_block_keys_match_oracle(spark):
    surf = spark.createDataFrame([(s,) for s in SURFACES], "norm_name string")
    got = {
        (r["norm_name"], r["block_key"])
        for r in minhash_band_keys(
            surf, ["norm_name"], char_shingles_col(SHINGLE_K), MH_BANDS, MH_ROWS,
            sep=":", tag="MH", key_col="block_key",
        ).collect()
    }
    values = ", ".join(f"('{s}', 1, false)" for s in SURFACES)
    sql = f"""
WITH surf AS (SELECT * FROM (VALUES {values}) t(norm_name, n_mentions, is_acr)),
{entry._er_blocking_ctes()}
SELECT norm_name, block_key FROM mhk"""
    want = set(duckdb.connect().execute(sql).fetchall())
    assert len(want) == len(SURFACES) * MH_BANDS
    assert got == want


def test_dedup_buckets_and_pairs_match_oracle(spark):
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(DOCS, columns=["doc_id", "text"]))
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    docs = docs.unionByName(docs.selectExpr("doc_id + 100000 AS doc_id", "text"))
    got = {
        (r["doc_id"], r["bucket"])
        for r in minhash_band_keys(docs, ["doc_id"], shingles_col(3), 4, 2).collect()
    }
    want = set(
        con.execute(entry._minhash_pairs_ctes(4, 2) + "\nSELECT doc_id, bucket FROM b")
        .fetchall()
    )
    assert len(want) == 2 * (len(DOCS) - 2) * 4
    assert not {d for d, _ in got} & TOKENLESS
    assert got == want
    got_pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()
    }
    want_pairs = set(con.execute(entry._minhash_oracle(4, 2)).fetchall())
    assert (1, 6) in want_pairs and (1, 100001) in want_pairs
    assert not {i for p in got_pairs for i in p} & TOKENLESS
    assert got_pairs == want_pairs

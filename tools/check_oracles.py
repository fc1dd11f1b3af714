"""Local mimic of the driver's correctness gate: run every queries() entry
and its oracle_sql() in DuckDB on the same parquet, compare row count +
column names + order-insensitive value multiset.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
from datetime import datetime

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from berkeley_entity_spark.session import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, int):
        # past 2^53 a float drops low bits (a BIGINT hash would compare on
        # its top 53 bits only): exact digits.  Below, the float form, so an
        # int from one engine matches a whole-number float from the other.
        if abs(v) >= 2**53:
            return str(v)
        return f"{float(v):.6f}"
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.6f}"
    except Exception:
        pass
    return str(v)


def table_signature(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sig_rows = sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )
    return sorted(cols), len(rows), hash(tuple(sig_rows)), sig_rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        pin_sf = getattr(entrymod, "PIN_SF_DIR", {}).get(name)
        if pin_sf and pin_sf.rstrip("/") != sf_dir.rstrip("/"):
            print(f"skip {name}: pin collected at {pin_sf}, not {sf_dir}")
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            otypes = [str(t).upper() for t in res.types]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        # Type audit: DuckDB HUGEINT (windowed sum of int) and DECIMAL hash
        # differently from Spark BIGINT/DOUBLE in the driver's type-sensitive
        # value hash even when the numeric values agree (round-1 q_sessionize
        # lesson). norm_cell() below masks this, so flag it as a failure here.
        risky = [
            (c, t) for c, t in zip(ocols, otypes)
            if "HUGEINT" in t or t.startswith("DECIMAL") or "INT128" in t
        ]
        if risky:
            print(f"FAIL {name}: oracle emits driver-unsafe types {risky}; "
                  "CAST to BIGINT/DOUBLE in the oracle SQL")
            failures += 1
            continue
        sc, sn, sh, ssig = table_signature(scols, [tuple(r) for r in srows])
        oc, on_, oh, osig = table_signature(ocols, orows)
        if sc != oc:
            print(f"FAIL {name}: columns {sc} vs {oc}")
            failures += 1
        elif sn != on_:
            print(f"FAIL {name}: rows {sn} vs {on_}")
            failures += 1
        elif sh != oh:
            diff_s = [r for r in ssig if r not in set(osig)][:3]
            diff_o = [r for r in osig if r not in set(ssig)][:3]
            print(f"FAIL {name}: value hash; spark-only {diff_s} oracle-only {diff_o}")
            failures += 1
        else:
            print(f"ok   {name}: {sn} rows match")
    print(f"{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

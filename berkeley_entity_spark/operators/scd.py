"""SCD2 history maintenance for golden records (slowly-changing dimension,
type 2): every re-crawl / re-resolution batch produces a new snapshot of
canonical records; downstream consumers need WHICH version was current
WHEN (the valid_from/valid_to form Iceberg MERGE INTO maintains on a
warehouse — this operator is the engine-side derivation of exactly that
merge).

Semantics per batch (the standard Kimball type-2 rules):

  * unchanged keys  -> current row stays open, untouched;
  * changed keys    -> current row is CLOSED (valid_to = batch ts) and a
    new open row is inserted (valid_from = batch ts);
  * new keys        -> inserted open;
  * keys absent from the batch -> stay open (soft semantics: an entity
    not re-crawled is not dead; hard deletes are a caller-side filter).

Change detection is null-safe equality over the tracked columns, so a
NULL->value transition versions correctly.

Scale shape: one full-outer equi-join between the OPEN slice and the
batch on the key (both sides shuffle once on the key; AQE handles skew),
plus a pass-through union of the closed history — never a scan of closed
rows per batch.  Everything is whole-stage codegen.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["scd2_init", "scd2_merge"]


def _ts_col(ts) -> Column:
    # pass timestamps as Columns (e.g. F.timestamp_seconds(...)) to stay
    # session-timezone-free; strings/datetimes cast via the session tz
    return ts if isinstance(ts, Column) else F.lit(ts).cast("timestamp")


def scd2_init(records: DataFrame, ts) -> DataFrame:
    """First snapshot: every record opens at `ts` (a Column or literal)."""
    return records.select(
        "*",
        _ts_col(ts).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )


def scd2_merge(
    history: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: tuple[str, ...],
    ts,
) -> DataFrame:
    """Apply one batch of `updates(key, *tracked)` effective at `ts` to a
    history table (key, *tracked, valid_from, valid_to).  Returns the new
    full history."""
    eff = _ts_col(ts)
    cur = history.where(F.col("valid_to").isNull())
    past = history.where(F.col("valid_to").isNotNull())
    u = updates.select(
        F.col(key).alias("_uk"), *[F.col(c).alias(f"_u_{c}") for c in tracked]
    )
    j = cur.join(u, cur[key] == u["_uk"], "full_outer")
    same = reduce(
        lambda a, b: a & b,
        [F.col(c).eqNullSafe(F.col(f"_u_{c}")) for c in tracked],
    )
    has_cur = F.col(key).isNotNull()
    has_upd = F.col("_uk").isNotNull()
    out_cols = [key, *tracked, "valid_from", "valid_to"]
    kept_open = j.where(has_cur & (~has_upd | same)).select(*out_cols)
    closed = j.where(has_cur & has_upd & ~same).select(
        key, *tracked, "valid_from", eff.alias("valid_to")
    )
    inserted = j.where(has_upd & (~has_cur | ~same)).select(
        F.col("_uk").alias(key),
        *[F.col(f"_u_{c}").alias(c) for c in tracked],
        eff.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return (
        past.select(*out_cols)
        .unionByName(kept_open)
        .unionByName(closed)
        .unionByName(inserted)
    )

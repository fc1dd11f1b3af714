"""Distributed as-of (point-in-time) join.

Spark has no ASOF JOIN (DuckDB/Pandas/kdb all do); the standard workaround
— a range join with a per-probe argmax — is quadratic per key when quote
density is high.  This module implements the operator two ways:

* ``asof_join`` (default): the union + ordered-window formulation.  Both
  sides are unioned, sorted per key on (ts, side) so that at equal
  timestamps the quote precedes the probe (inclusive backward semantics,
  matching DuckDB's ``ASOF JOIN ... ON p.ts >= q.ts``), and the most
  recent quote payload is propagated with ``last(..., ignorenulls=True)``
  over an unbounded-preceding row window.  ONE shuffle on the key, linear
  scan per key, no join blow-up — but a single hot key (one user with
  10^9 events) serializes into one window task.

* ``asof_join(..., bucket_ms=N)``: the hot-key scale path.  Rows are
  bucketed by ``floor(ts / bucket_ms)`` and the same window runs per
  (key, bucket) — bounded tasks regardless of key skew.  Quotes that
  must carry across bucket boundaries are resolved on a per-(key, bucket)
  summary table (one row per bucket per key — bounded by time-range /
  bucket_ms, NOT by event count), where a second ignorenulls window plus
  a ``lag`` computes the carry-in quote for every bucket; the carry joins
  back on (key, bucket).  Output is bit-identical to the default path
  (equivalence-tested), so the caller picks purely on skew.

Quote-side ties at identical (key, ts) are made well-defined before the
join: quotes collapse to the lexicographically greatest payload struct per
(key, ts) — both engines then agree without relying on physical order.

Reference parity: berkeley-entity has no temporal operator; this is one of
the add-beyond-reference operators a web-corpus pipeline needs (e.g. "the
page snapshot in effect when this link was crawled" over (url, warc_ts)).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# the probe/quote key and timestamp columns
_KEY, _TS = "user_id", "ts"


def dedup_quotes(quotes: DataFrame) -> DataFrame:
    """Collapse quote-side ties: one row per (key, ts), payload = the
    greatest payload struct (deterministic under any partitioning)."""
    qcols = [c for c in quotes.columns if c not in (_KEY, _TS)]
    return quotes.groupBy(_KEY, _TS).agg(
        F.max(F.struct(*qcols)).alias("_qp")
    )


def asof_join(
    probes: DataFrame,
    quotes: DataFrame,
    bucket_ms: int | None = None,
) -> DataFrame:
    """Backward inclusive as-of LEFT join: each probe row picks the quote
    row with the greatest quote.ts <= probe.ts for the same key (ties on
    quote ts resolved to the greatest payload struct).  Unmatched probes
    keep NULL quote columns.

    Output: every probe column, then ``q_ts`` and ``q_<col>`` for each
    quote payload column.
    """
    qcols = [c for c in quotes.columns if c not in (_KEY, _TS)]
    pcols = [c for c in probes.columns if c not in (_KEY, _TS)]
    q = dedup_quotes(quotes)
    qp_t = q.schema["_qp"].dataType
    ts_t = probes.schema[_TS].dataType

    u = probes.select(
        F.col(_KEY),
        F.col(_TS).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*pcols).alias("_pp"),
        F.lit(None).cast(ts_t).alias("_qts"),
        F.lit(None).cast(qp_t).alias("_qp"),
    ).unionByName(
        q.select(
            F.col(_KEY),
            F.col(_TS).alias("_ts"),
            F.lit(0).alias("_side"),
            F.lit(None)
            .cast(probes.select(F.struct(*pcols)).schema[0].dataType)
            .alias("_pp"),
            F.col(_TS).alias("_qts"),
            F.col("_qp"),
        )
    )

    if bucket_ms is None:
        w = (
            Window.partitionBy(_KEY)
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        filled = u.withColumn(
            "_last",
            F.last(
                F.when(F.col("_side") == 0, F.struct("_qts", "_qp")),
                ignorenulls=True,
            ).over(w),
        )
    else:
        u = u.withColumn(
            "_b", F.floor(F.unix_millis(F.col("_ts").cast("timestamp")) / bucket_ms)
        )
        wb = (
            Window.partitionBy(_KEY, "_b")
            .orderBy("_ts", "_side")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        local = u.withColumn(
            "_inb",
            F.last(
                F.when(F.col("_side") == 0, F.struct("_qts", "_qp")),
                ignorenulls=True,
            ).over(wb),
        )
        # Per-(key, bucket) summary: the last quote in the bucket (NULL for
        # quote-free buckets).  One row per bucket per key — the carry table
        # is bounded by time-range / bucket_ms, never by event volume.
        summ = u.groupBy(_KEY, "_b").agg(
            F.max(F.when(F.col("_side") == 0, F.struct("_qts", "_qp"))).alias(
                "_bq"
            )
        )
        wk = (
            Window.partitionBy(_KEY)
            .orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        carry = summ.select(
            F.col(_KEY),
            F.col("_b"),
            F.last("_bq", ignorenulls=True).over(wk).alias("_carry"),
        )
        filled = local.join(carry, [_KEY, "_b"], "left").withColumn(
            "_last", F.coalesce("_inb", "_carry")
        )

    out_cols = (
        [F.col(_KEY)]
        + [F.col(f"_pp.{c}").alias(c) for c in pcols]
        + [F.col("_ts").alias(_TS)]
        + [F.col("_last._qts").alias(f"q_{_TS}")]
        + [F.col(f"_last._qp.{c}").alias(f"q_{c}") for c in qcols]
    )
    return filled.where(F.col("_side") == 1).select(*out_cols)

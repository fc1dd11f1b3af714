"""Shared plan helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    TimestampType,
)

# Explicit F.broadcast() bypasses spark.sql.autoBroadcastJoinThreshold, so we
# gate on our own byte estimate.  Executors must hold the whole table per
# core; 256 MB keeps a comfortable margin on 4-8 GB executors.
BROADCAST_CAP_BYTES = 256 * 1024 * 1024
# past this many rows a table is never broadcast, whatever its width
BROADCAST_ROW_CEILING = 5_000_000
_SAMPLE_ROWS = 10_000


def sql_str(s: str) -> str:
    """`s` as a Spark SQL string literal (backslash and quote escaped), for
    expressions built as SQL text: a string holds no JVM reference, and
    one F.expr/selectExpr parse replaces the py4j round trip that every
    node of a nested F.* tree costs while the plan is built."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def estimated_bytes(df: DataFrame, n_rows: int) -> int:
    """n_rows x average row width from a bounded sample.  Width: strings by
    length, fixed-width types by size, +16B/row object overhead.  One tiny
    job over limit(_SAMPLE_ROWS) — call only when n_rows is already known to
    be near the broadcast regime."""
    width_exprs = []
    for f in df.schema.fields:
        if isinstance(f.dataType, StringType):
            width_exprs.append(F.coalesce(F.length(F.col(f.name)), F.lit(0)) + 4)
        elif isinstance(f.dataType, (LongType, DoubleType, TimestampType)):
            width_exprs.append(F.lit(8))
        elif isinstance(f.dataType, (IntegerType, FloatType)):
            width_exprs.append(F.lit(4))
        elif isinstance(f.dataType, (ShortType,)):
            width_exprs.append(F.lit(2))
        elif isinstance(f.dataType, (BooleanType, ByteType)):
            width_exprs.append(F.lit(1))
        else:  # arrays/structs/binary: pessimistic flat guess
            width_exprs.append(F.lit(64))
    total = width_exprs[0]
    for e in width_exprs[1:]:
        total = total + e
    row = df.limit(_SAMPLE_ROWS).agg(
        F.avg(total + 16).alias("w")
    ).collect()[0]
    avg = float(row["w"] or 64.0)
    return int(avg * n_rows)


def maybe_broadcast(
    df: DataFrame,
    n_rows: int,
) -> DataFrame:
    """Broadcast `df` only if its row count AND estimated serialized size are
    under the caps; otherwise return it unchanged (shuffle join).  Row count
    must already be known (no extra count job); the byte estimate samples
    only when the row gate passes."""
    if n_rows > BROADCAST_ROW_CEILING:
        return df
    # short-circuit (skips the sampling job — this repo minimizes fixed job
    # counts) ONLY when the schema is all fixed-width types, where the exact
    # row size is known without sampling; variable-width columns (strings,
    # arrays, binary) can hide arbitrarily wide rows and must be sampled
    fixed = {
        LongType, DoubleType, TimestampType, IntegerType, FloatType,
        ShortType, BooleanType, ByteType,
    }
    if all(type(f.dataType) in fixed for f in df.schema.fields):
        width = sum(
            8 if isinstance(f.dataType, (LongType, DoubleType, TimestampType))
            else 4 if isinstance(f.dataType, (IntegerType, FloatType))
            else 2 if isinstance(f.dataType, ShortType)
            else 1
            for f in df.schema.fields
        ) + 16
        return F.broadcast(df) if n_rows * width <= BROADCAST_CAP_BYTES else df
    # variable-width schema: still skip the sampling job for genuinely tiny
    # dimension tables, under a deliberately harsh 256KB/row pessimism
    if n_rows * (256 * 1024) <= BROADCAST_CAP_BYTES:
        return F.broadcast(df)
    if estimated_bytes(df, n_rows) > BROADCAST_CAP_BYTES:
        return df
    return F.broadcast(df)


# phase-1 fan-out of salted_top_k: no window task sorts more than ~1/32 of
# a group, and phase 2 sees at most k * 32 survivors per group
_TOPK_SALTS = 32


def salted_top_k(
    df: DataFrame, by: list[str], order: list[Column | str], k: int
) -> DataFrame:
    """`df` plus an int `rank` column (1..k) per `by` group, ranked by
    `order` — the repo's one two-phase top-k.  Phase 1 keeps the top k per
    (by, salt), salt = xxhash64 of the whole row mod 32, so a hot group
    never funnels through one window task; phase 2 ranks the <= k * 32
    survivors per group.  Top-k under a TOTAL order composes through any
    partition of the group, so the output equals a single window's
    whatever the salt — every caller's order must break all ties."""
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(_TOPK_SALTS))
    w1 = Window.partitionBy(*by, salt).orderBy(*order)
    w2 = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w1))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )


def artifact_bytes(name: str) -> bytes | None:
    """Read a packaged `ml/` artifact (trained weights and the like) via
    importlib.resources, so loading works identically from a source
    checkout, an installed wheel, and a `spark-submit --py-files` zip —
    zipimported packages have no real filesystem __file__, which is why
    callers must not build os.path joins off module paths.  Returns None
    when the artifact is absent (the callers' bootstrap-fallback path)."""
    from importlib import resources

    try:
        t = resources.files("berkeley_entity_spark.ml").joinpath(name)
        if not t.is_file():
            return None
        return t.read_bytes()
    except (ModuleNotFoundError, FileNotFoundError, OSError):
        return None

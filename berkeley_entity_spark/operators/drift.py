"""Crawl-drift monitor: Population Stability Index between crawl snapshots.

A production web-corpus pipeline ingests a NEW crawl snapshot every few
weeks; before re-running extraction/linkage over 10^12 pages you want a
cheap, distribution-level alarm that the new snapshot's content profile
has shifted (boilerplate change, language-mix change, a spam wave, an
extractor regression upstream) — the reason dataset cards report
per-snapshot composition and why feature-drift monitors (PSI / KL) guard
every production scoring model.  The canonical score is the Population
Stability Index over binned feature histograms

    PSI(p, q) = sum_bins (p_b - q_b) * ln(p_b / q_b)

with additive smoothing so empty bins stay finite (PSI < 0.1: stable,
0.1-0.25: moderate shift, > 0.25: act — the standard credit-scoring
rule of thumb).

Scale shape — the whole monitor is histogram algebra:
  * per-(snapshot, feature, bin) counts are ONE map-side-combining
    groupBy over the corpus (the only pass that sees rows);
  * everything after operates on <= |snapshots| x |bins| rows: the
    dense grid (so absent bins count as 0 before smoothing), the
    snapshot ordering, and the consecutive-snapshot join are all
    broadcast-sized;
  * no windows over row-level data, no Python, no collect.

Reference tie-in: the reference scores a FIXED corpus
(`CorefSystem.scala` runs over given CoNLL docs); drift monitoring is
the operation that decides when that corpus must be re-scored — a
first-class need at Common-Crawl cadence that simply has no single-node
analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# smoothing pseudo-count per bin (Laplace 1/2 — keeps ln finite on empty
# bins while perturbing well-populated histograms negligibly)
ALPHA = 0.5


def snapshot_histograms(documents: DataFrame) -> DataFrame:
    """(snapshot, feature, bin, cnt) — per-snapshot (`source`) histogram counts for
    the two monitored features: 'len' (character-length bins of width
    200 chars, 8 bins, top bin open) and 'lang' (the language-id column).
    One corpus scan, map-side combine; output is |snapshots| x |bins|
    rows."""
    len_bin = F.least(
        F.floor(F.col("n_chars") / 200), F.lit(7)
    ).cast("string")
    # NULL bins (NULL lang / NULL n_chars) are coalesced to a sentinel:
    # plain equality in the dense-grid and predecessor joins never matches
    # NULL, so without this a shift in the NULL share would silently drop
    # out of the histogram mass and be invisible to the PSI alarm
    base = documents.select(
        F.col("source").alias("snapshot"),
        F.coalesce(len_bin, F.lit("<NULL>")).alias("_len"),
        F.coalesce(F.col("lang"), F.lit("<NULL>")).alias("lang"),
    )
    long = base.select(
        "snapshot", F.lit("len").alias("feature"), F.col("_len").alias("bin")
    ).unionByName(
        base.select(
            "snapshot", F.lit("lang").alias("feature"), F.col("lang").alias("bin")
        )
    )
    return long.groupBy("snapshot", "feature", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def drift_psi(documents: DataFrame) -> DataFrame:
    """(snapshot, feature, n_docs, psi, drifted = psi > 0.25) — PSI of every snapshot
    vs its predecessor (snapshots ordered lexicographically; the first
    snapshot has no predecessor and is omitted), one row per (snapshot,
    feature).

    The dense (snapshot x feature x bin) grid is built by cross-joining
    the distinct snapshots with the distinct observed (feature, bin)
    domain so a bin that is EMPTY in one snapshot but populated in its
    neighbor still contributes (that asymmetry is exactly what PSI must
    see); both sides are aggregate outputs of the histogram pass, so the
    grid never rescans the corpus.  Snapshot rank comes from a window
    over the distinct-snapshot table (|snapshots| rows, not row-level
    data)."""
    # grid domains + fill share one corpus scan
    hist = snapshot_histograms(documents).localCheckpoint(eager=True)
    snaps = hist.select("snapshot").distinct()
    snaps = snaps.select(
        "snapshot",
        (F.row_number().over(Window.orderBy("snapshot")) - 1).alias("idx"),
    )
    dom = hist.select("feature", "bin").distinct()
    grid = snaps.crossJoin(dom)
    filled = grid.join(hist, ["snapshot", "feature", "bin"], "left").select(
        "snapshot",
        "idx",
        "feature",
        "bin",
        F.coalesce("cnt", F.lit(0)).alias("cnt"),
    )
    tot = filled.groupBy("snapshot", "feature").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("nbins")
    )
    prop = filled.join(tot, ["snapshot", "feature"]).select(
        "snapshot",
        "idx",
        "feature",
        "bin",
        "total",
        (
            (F.col("cnt") + F.lit(ALPHA))
            / (F.col("total") + F.lit(ALPHA) * F.col("nbins"))
        ).alias("p"),
    )
    cur, prev = prop.alias("c"), prop.alias("q")
    term = (F.col("c.p") - F.col("q.p")) * F.log(F.col("c.p") / F.col("q.p"))
    return (
        cur.join(
            prev,
            (F.col("c.idx") == F.col("q.idx") + 1)
            & (F.col("c.feature") == F.col("q.feature"))
            & (F.col("c.bin") == F.col("q.bin")),
        )
        .groupBy(F.col("c.snapshot").alias("snapshot"), F.col("c.feature").alias("feature"))
        .agg(
            F.max(F.col("c.total")).alias("n_docs"),
            F.round(F.sum(term), 6).alias("psi"),
        )
        .withColumn("drifted", F.col("psi") > F.lit(0.25))
    )

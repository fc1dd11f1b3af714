"""Evaluation: pairwise P/R/F1, the coreference scorers and stage recall
audits (SURVEY.md A6-A8, §5).

Pairwise F1 follows the reference exactly (CorefEvaluator.scala:364-396):
precision = |pairs predicted same-cluster ∧ gold same| / |predicted same|,
recall over gold pairs; computed two ways:

  * `pairwise_f1_on_labeled` — over an explicit labeled-pair table
    (gold_pairs), the BASELINE.json metric: join cluster assignments to both
    endpoints, compare cluster equality with the label.
  * `pairwise_f1_combinatorial` — over full clusterings without materializing
    pairs: sum n·(n−1)/2 per cluster for pred, gold, and the pred⋈gold
    intersection (A7 note in SURVEY.md) — the scalable form.

Every clustering metric here (pairwise F1, B3/MUC, CEAFe/CEAFm, ARI and
V-measure, the cluster diff and grouped accuracy) is a reduction of one
table, the pred x gold intersection cells (cluster_id, entity_id, n_ce)
that `_cells` builds: |C|*|E| rows at most, never per-mention rows.  A
mention only one side has forms a cell with a null cluster or entity;
pairwise F1 counts it toward its own side's pairs, and the aligned
metrics drop such cells (`_aligned`).

Blocking recall (§5.3, the reference's pruning-oracle analysis,
CorefEvaluator.scala:82-143): fraction of gold-positive pairs whose surfaces
survive into the candidate set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _f1(tp: float, pred: float, gold: float) -> dict[str, float]:
    p = tp / pred if pred else 0.0
    r = tp / gold if gold else 0.0
    f1 = 2 * p * r / (p + r) if (p + r) else 0.0
    return {"precision": p, "recall": r, "f1": f1, "tp": tp, "pred": pred, "gold": gold}


def _ratio(a: Column, b: Column) -> Column:
    """a / b, and 0.0 when b is not positive."""
    return F.when(b > 0, a / b).otherwise(F.lit(0.0))


def _f1_col(p: Column, r: Column) -> Column:
    """The harmonic mean of p and r, and 0.0 when both are 0."""
    return F.when(p + r > 0, 2 * p * r / (p + r)).otherwise(F.lit(0.0))


def pairwise_f1_on_labeled(
    gold_pairs: DataFrame, clusters: DataFrame
) -> dict[str, float]:
    """gold_pairs(mention_a, mention_b, label) x clusters(mention_id,
    cluster_id) -> P/R/F1 of 'same cluster' vs label."""
    ca = clusters.toDF("mention_a", "cluster_a")
    cb = clusters.toDF("mention_b", "cluster_b")
    joined = gold_pairs.join(ca, "mention_a").join(cb, "mention_b")
    agg = joined.agg(
        F.sum(
            ((F.col("cluster_a") == F.col("cluster_b")) & F.col("label")).cast("long")
        ).alias("tp"),
        F.sum((F.col("cluster_a") == F.col("cluster_b")).cast("long")).alias("pred"),
        F.sum(F.col("label").cast("long")).alias("gold"),
    ).collect()[0]
    return _f1(float(agg["tp"] or 0), float(agg["pred"] or 0), float(agg["gold"] or 0))


def _cells(pred: DataFrame, gold: DataFrame, doc: str | None = None) -> DataFrame:
    """(_doc, cluster_id, entity_id, n_ce): the pred x gold intersection
    cells.  One full outer join on mention_id, so a mention only one side
    has forms a cell with a null cluster_id or entity_id.  `_doc` is the
    pred side's `doc` column (the CEAF alignment runs per doc), or one
    doc "_all" without it."""
    j = pred.select("mention_id", "cluster_id", *([doc] if doc else [])).join(
        gold.select("mention_id", "entity_id"), "mention_id", "full"
    )
    return j.groupBy(
        (F.col(doc) if doc else F.lit("_all")).alias("_doc"), "cluster_id", "entity_id"
    ).agg(F.count(F.lit(1)).alias("n_ce"))


def _aligned(cells: DataFrame) -> DataFrame:
    """The cells of mentions both sides have — the aligned metrics' input."""
    return cells.where(F.col("cluster_id").isNotNull() & F.col("entity_id").isNotNull())


def _margins(cells: DataFrame, *keys: str) -> DataFrame:
    """cells plus n_c and n_e, the sizes of each cell's cluster and entity
    (summed over the cells that share `keys` and the id)."""
    return cells.withColumn(
        "n_c", F.sum("n_ce").over(Window.partitionBy(*keys, "cluster_id"))
    ).withColumn("n_e", F.sum("n_ce").over(Window.partitionBy(*keys, "entity_id")))


def _majority() -> Column:
    """Per-cluster aggregate over cells: the entity owning most members,
    ties to the smaller entity id.  min_by over (-n_ce, entity_id) keeps
    the tie rule for ANY orderable id type (a unary minus on a string id
    would cast to null and make the tie-break arbitrary)."""
    return F.min_by("entity_id", F.struct((-F.col("n_ce")).alias("_n"), F.col("entity_id")))


def pair_counts(cells: DataFrame, *keys: str) -> DataFrame:
    """(*keys, tp_pairs, pred_pairs, gold_pairs) from intersection cells
    (cluster_id, entity_id, n_ce): the sums of n·(n−1)/2 over the cells,
    the cluster margins and the entity margins.  Each margin counts over
    its non-null ids, so a one-sided mention's cell adds to its own side's
    pairs only, and tp only counts cells with both ids.  A cluster's cells
    sum n_ce·(n_c − 1) to n_c·(n_c − 1), so all three are one aggregation,
    exact in BIGINT."""
    n = F.col("n_ce")

    def pairs(side: Column, size: Column) -> Column:
        return (F.sum(F.when(side, n * (size - 1))) / 2).cast("long")

    c, e = F.col("cluster_id").isNotNull(), F.col("entity_id").isNotNull()
    return _margins(cells, *keys).groupBy(*keys).agg(
        pairs(c & e, n).alias("tp_pairs"),
        pairs(c, F.col("n_c")).alias("pred_pairs"),
        pairs(e, F.col("n_e")).alias("gold_pairs"),
    )


def pairwise_f1_combinatorial(
    pred: DataFrame, gold: DataFrame
) -> dict[str, float]:
    """pred(mention_id, cluster_id) x gold(mention_id, entity_id) — exact
    pairwise F1 via per-cluster combinatorics; no pair table is ever
    materialized.  Pred pairs count every pred mention, gold pairs every
    gold mention, tp only the mentions both sides have."""
    r = pair_counts(_cells(pred, gold)).collect()[0]
    return _f1(
        float(r["tp_pairs"] or 0), float(r["pred_pairs"] or 0), float(r["gold_pairs"] or 0)
    )


def mention_detection_prf(pred_mentions: DataFrame, gold_mentions: DataFrame) -> dict[str, float]:
    """A6: span-exact mention detection P/R/F1 (CorefDoc.scala:104-108);
    alignment is the J4 equi-join on (url, sent_idx, start, end)."""
    keys = ["url", "sent_idx", "start", "end"]
    p = pred_mentions.select(*keys).distinct()
    g = gold_mentions.select(*keys).distinct()
    tp = p.join(g, keys).count()
    return _f1(float(tp), float(p.count()), float(g.count()))


def blocking_recall(
    gold_pairs: DataFrame,
    mentions: DataFrame,
    candidate_pairs: DataFrame,
) -> float:
    """Share of gold-positive pairs whose two surfaces are either identical
    (exact pass links them) or connected by a candidate pair."""
    m = mentions.select("mention_id", "norm_name")
    gp = (
        gold_pairs.where("label")
        .join(m.toDF("mention_a", "norm_a"), "mention_a")
        .join(m.toDF("mention_b", "norm_b"), "mention_b")
        .withColumn("na", F.xxhash64("norm_a"))
        .withColumn("nb", F.xxhash64("norm_b"))
        .select(
            F.least("na", "nb").alias("node_a"), F.greatest("na", "nb").alias("node_b")
        )
    )
    total = gp.count()
    if total == 0:
        return 1.0
    same = gp.where(F.col("node_a") == F.col("node_b")).count()
    covered = (
        gp.where(F.col("node_a") != F.col("node_b"))
        .join(candidate_pairs.select("node_a", "node_b").distinct(), ["node_a", "node_b"])
        .count()
    )
    return (same + covered) / total


def coref_cluster_metrics(
    pred: DataFrame,
    gold: DataFrame,
) -> DataFrame:
    """B-cubed and MUC as pure DataFrame aggregations — one row:
    (b3_precision, b3_recall, b3_f1, muc_precision, muc_recall, muc_f1).

    Replaces the reference's external CoNLL scorer v7 invocation
    (coref/CorefConllScorer.scala:28-62) with the scorer's own definitions:

      * B-cubed (Bagga & Baldwin 1998): per-mention precision
        |C_m ∩ G_m|/|C_m| and recall |C_m ∩ G_m|/|G_m|, averaged — computed
        without per-mention rows as sum(n_ce^2/n_c)/N and sum(n_ce^2/n_e)/N
        over the cluster x entity intersection cells.
      * MUC (Vilain et al. 1995): link-based — precision
        sum_c(|c| - p(c)) / sum_c(|c| - 1) where p(c) = number of gold
        partitions intersecting cluster c; recall symmetric.

    Mentions present in only one side are ignored (the aligned cells —
    J4).  conll_metrics adds CEAFe and the CoNLL scorer average."""
    return _b3_muc(_aligned(_cells(pred, gold)))


def _b3_muc(cells: DataFrame) -> DataFrame:
    """B3 + MUC from aligned cells whose cluster and entity ids are unique
    across docs — the shared tail of coref_cluster_metrics and
    conll_metrics.  sum_c(|c| - p(c)) is N minus the number of cells and
    sum_c(|c| - 1) is N minus the number of clusters, so MUC is three
    counts."""
    n_ce = F.col("n_ce")
    agg = _margins(cells).agg(
        F.sum("n_ce").alias("n"),
        F.sum(n_ce * n_ce / F.col("n_c")).alias("sp"),
        F.sum(n_ce * n_ce / F.col("n_e")).alias("sr"),
        (F.sum("n_ce") - F.count(F.lit(1))).alias("muc_tp"),
        (F.sum("n_ce") - F.countDistinct("cluster_id")).alias("muc_den_p"),
        (F.sum("n_ce") - F.countDistinct("entity_id")).alias("muc_den_r"),
    )
    b3_p, b3_r = _ratio(F.col("sp"), F.col("n")), _ratio(F.col("sr"), F.col("n"))
    muc_p = _ratio(F.col("muc_tp"), F.col("muc_den_p"))
    muc_r = _ratio(F.col("muc_tp"), F.col("muc_den_r"))
    return agg.select(
        b3_p.alias("b3_precision"),
        b3_r.alias("b3_recall"),
        _f1_col(b3_p, b3_r).alias("b3_f1"),
        muc_p.alias("muc_precision"),
        muc_r.alias("muc_recall"),
        _f1_col(muc_p, muc_r).alias("muc_f1"),
    )


def _ceaf(cells: DataFrame, sim: Column) -> DataFrame:
    """The CEAF alignment kernel: per doc, the optimal 1:1 cluster x
    entity alignment maximizing the summed per-cell similarity `sim`
    (Hungarian, in an Arrow kernel over the doc's CELLS — tens of rows per
    doc, never the mentions).  One row: (phi, n_c, n_e, n_m), the aligned
    similarity and the cluster, entity and mention counts, each summed
    over docs exactly like the scorer."""
    import pandas as pd

    from berkeley_entity_spark.ml.assignment import hungarian_max

    def align(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        cl = {c: i for i, c in enumerate(sorted(pdf["cluster_id"].unique()))}
        en = {e: i for i, e in enumerate(sorted(pdf["entity_id"].unique()))}
        mat = np.zeros((len(cl), len(en)))
        for r in pdf.itertuples():
            mat[cl[r.cluster_id], en[r.entity_id]] = r.sim
        phi, _ = hungarian_max(mat)
        return pd.DataFrame(
            {"phi": [phi], "n_c": [len(cl)], "n_e": [len(en)], "n_m": [int(pdf["n_ce"].sum())]}
        )

    per_doc = cells.select(
        "_doc", "cluster_id", "entity_id", "n_ce", sim.alias("sim")
    ).groupBy("_doc").applyInPandas(align, schema="phi double, n_c long, n_e long, n_m long")
    return per_doc.agg(*[F.sum(c).alias(c) for c in ("phi", "n_c", "n_e", "n_m")])


def _ceafe(cells: DataFrame) -> DataFrame:
    """CEAFe from aligned cells: phi4 = 2|C ∩ E| / (|C| + |E|) per cell,
    precision over pred clusters, recall over gold entities."""
    m = _margins(cells, "_doc")
    k = _ceaf(m, 2.0 * F.col("n_ce") / (F.col("n_c") + F.col("n_e")))
    p, r = _ratio(F.col("phi"), F.col("n_c")), _ratio(F.col("phi"), F.col("n_e"))
    return k.select(
        p.alias("ceafe_precision"), r.alias("ceafe_recall"), _f1_col(p, r).alias("ceafe_f1")
    )


def ceafe_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """CEAFe (Luo 2005, phi4) — the third leg of the reference's headline
    CoNLL score (coref/CorefConllScorer.scala:72-88 parses MUC + B3 + CEAFe
    from the scorer v7, whose CEAFe runs Algorithm::Munkres per document).

    phi4(C, E) = 2|C ∩ E| / (|C| + |E|); per document, an optimal 1:1
    alignment between pred clusters and gold entities maximizes sum(phi4);
    precision = sum(phi) / #pred clusters, recall = sum(phi) / #gold
    entities (phi4(C, C) = 1), aggregated over documents by summing
    numerators and denominators exactly like the scorer.

    Spark shape: the Hungarian runs per doc in the `_ceaf` Arrow kernel
    over the intersection cells, so the only data that reaches Python is
    one row per non-empty cluster x entity cell.  The whole input is one
    document (corpus-level clusterings; conll_metrics takes a doc column
    for per-doc coref).  Mentions present in only one side are ignored
    (same convention as coref_cluster_metrics)."""
    return _ceafe(_aligned(_cells(pred, gold)))


def ceafm_metrics(
    pred: DataFrame,
    gold: DataFrame,
    doc_col: str | None = None,
) -> DataFrame:
    """CEAF-m (Luo 2005 phi3 — mention-based CEAF): the optimal 1:1
    cluster alignment maximizes the TOTAL number of commonly-clustered
    mentions; precision divides by the pred-side mention count, recall by
    the gold side (the scorer-v7 'ceafm' matcher that ships beside the
    'ceafe' one CorefConllScorer.scala parses).  Under this repo's
    aligned-mention convention (ceafe_metrics') both denominators equal
    the aligned mention count, so P = R = F1 whenever both sides cluster
    the same mention set.  Same `_ceaf` kernel as CEAFe, with phi3 =
    |C ∩ E| per cell."""
    k = _ceaf(_aligned(_cells(pred, gold, doc_col)), F.col("n_ce").cast("double"))
    p = _ratio(F.col("phi"), F.col("n_m"))
    return k.select(
        p.alias("ceafm_precision"), p.alias("ceafm_recall"), _f1_col(p, p).alias("ceafm_f1")
    )


def clustering_agreement(
    pred: DataFrame, gold: DataFrame
) -> DataFrame:
    """Partition-agreement metrics beside the coref-specific scorers: ARI
    (Hubert & Arabie 1985, pair-counting adjusted Rand) and V-measure with
    its homogeneity/completeness components (Rosenberg & Hirschberg 2007)
    — the external-validation numbers a clustering pipeline publishes when
    the gold side is a labeling rather than a coref key file.

    Everything reduces over the aligned (cluster x entity) intersection
    cells (|C|*|E| rows, never mentions): the pair counts are
    `pair_counts`' exact BIGINTs, used as doubles only in the final
    formula; the conditional entropies are one weighted ln-ratio sum over
    the same cells.  Edge conventions follow sklearn: ARI = 1 when the
    adjustment denominator is 0 (both partitions trivial in the same way),
    homogeneity/completeness = 1 when the respective reference entropy is
    0, V = 0 when h + c = 0.

    One row: (ari, homogeneity, completeness, v_measure)."""
    cells = _aligned(_cells(pred, gold))
    n_ce, n_c, n_e = F.col("n_ce"), F.col("n_c"), F.col("n_e")
    sums = _margins(cells).agg(
        F.sum("n_ce").alias("n"),
        F.sum(n_ce * F.log(n_c / n_ce)).alias("s_e_given_c"),
        F.sum(n_ce * F.log(n_e / n_ce)).alias("s_c_given_e"),
        # sum_c n_c ln n_c, one n_ce share per cell
        F.sum(n_ce * F.log(n_c)).alias("s_rows"),
        F.sum(n_ce * F.log(n_e)).alias("s_cols"),
    )
    n = F.col("n")
    a, r2, c2 = (F.col(f"{k}_pairs").cast("double") for k in ("tp", "pred", "gold"))
    expected = r2 * c2 / (n * (n - 1) / 2.0)
    span = (r2 + c2) / 2.0 - expected
    # H(E|C) = sum (n_ce/n) ln(n_c/n_ce); H(E) = ln n - sum (n_e/n) ln n_e
    h_e, h_c = F.log(n) - F.col("s_cols") / n, F.log(n) - F.col("s_rows") / n
    hom = F.when(h_e == 0, F.lit(1.0)).otherwise(1.0 - F.col("s_e_given_c") / n / h_e)
    com = F.when(h_c == 0, F.lit(1.0)).otherwise(1.0 - F.col("s_c_given_e") / n / h_c)
    return sums.crossJoin(pair_counts(cells)).select(
        F.when(span == 0, F.lit(1.0)).otherwise((a - expected) / span).alias("ari"),
        hom.alias("homogeneity"),
        com.alias("completeness"),
        _f1_col(hom, com).alias("v_measure"),
    )


def conll_metrics(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """The CoNLL scorer's headline number: one row with muc_f1, b3_f1,
    ceafe_precision/recall/f1, and conll_f1 = (MUC + B3 + CEAFe)/3
    (CorefConllScorer.scala:72-88 semantics).  The pred side's `g` column
    names the document: cluster/entity ids are doc-scoped by it before the
    global B3/MUC aggs —
    clusters never span documents in the scorer, so the global cell sums
    equal the scorer's per-document accumulation exactly.

    The pred-x-gold mention join and the intersection-cells aggregation
    run ONCE (eager-checkpointed) and feed both the B3/MUC aggs and the
    per-doc CEAFe alignment — the mention-scale shuffle is not repeated."""
    pred = pred.withColumn("cluster_id", F.concat_ws("␟", "g", "cluster_id"))
    gold = gold.withColumn("entity_id", F.concat_ws("␟", "g", "entity_id"))
    cells = _aligned(_cells(pred, gold, "g")).localCheckpoint(eager=True)
    return (
        _b3_muc(cells)
        .crossJoin(_ceafe(cells))
        .withColumn(
            "conll_f1",
            (F.col("muc_f1") + F.col("b3_f1") + F.col("ceafe_f1")) / 3.0,
        )
        .select(
            "muc_f1", "b3_f1",
            "ceafe_precision", "ceafe_recall", "ceafe_f1", "conll_f1",
        )
    )


def per_doc_pairwise_stats(assign: DataFrame) -> DataFrame:
    """(doc, tp, pred, gold) pairwise sufficient statistics restricted to
    in-document pairs — the per-document stat lines the reference's
    bootstrap consumes (sig/BootstrapDriver.scala:12-17 reads them from
    logs; sig/MetricComputer.isSigDifference re-aggregates them).

    assign: (url, mention_id, cluster_id, entity_id), one row per
    mention; the doc is the url."""
    c = pair_counts(_cells(assign, assign, "url"), "_doc")
    return c.select(
        F.col("_doc").alias("url"),
        *[F.col(f"{k}_pairs").cast("double").alias(k) for k in ("pred", "gold", "tp")],
    )


# Poisson(1) CDF thresholds for the poissonized bootstrap draw (k = 0..8
# covers all but ~1e-6 of the mass; the tail clamps to 8)
_POIS1_CDF = [0.367879, 0.735759, 0.919699, 0.981012, 0.996340,
              0.999406, 0.999917, 0.999990, 0.999999]


def _poisson1(u):
    expr = F.lit(len(_POIS1_CDF) - 1)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        expr = F.when(u < _POIS1_CDF[k], F.lit(k)).otherwise(expr)
    return expr


# bootstrap trials (the reference runs 1000; every caller here runs 200)
N_TRIALS = 200


def bootstrap_significance(stats_a: DataFrame, stats_b: DataFrame) -> DataFrame:
    """M12: paired bootstrap test over documents
    (sig/BootstrapDriver.scala:104-141: N_TRIALS trials, resample docs with
    replacement, count trials where system B's aggregated F1 beats A's;
    the reported value is that fraction = 1-p).

    Distributed poissonized form: the multinomial resample count of each
    doc in a trial is approximated by Poisson(1) drawn from a deterministic
    hash of (url, trial, seed 0) — no driver-side loop, no RNG state; the
    whole test is one explode + two aggregations, identical at any
    parallelism.  Returns one row: (f1_a, f1_b, delta, frac_sig, n_trials).
    """
    a = stats_a.select("url", F.col("tp").alias("tp_a"),
                       F.col("pred").alias("pred_a"), F.col("gold").alias("gold_a"))
    b = stats_b.select("url", F.col("tp").alias("tp_b"),
                       F.col("pred").alias("pred_b"), F.col("gold").alias("gold_b"))
    j = a.join(b, "url", "full").na.fill(0.0)
    rep = j.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(N_TRIALS - 1))).alias("_trial")
    )
    u = (
        F.pmod(F.xxhash64("url", "_trial", F.lit(0)), F.lit(1 << 40))
        / float(1 << 40)
    )
    w = _poisson1(u).cast("double")
    f1 = lambda tp, pred, gold: F.when(  # noqa: E731
        (pred > 0) & (gold > 0) & (tp > 0),
        2.0 / (pred / tp + gold / tp),
    ).otherwise(F.lit(0.0))
    per_trial = (
        rep.groupBy("_trial")
        .agg(
            F.sum(w * F.col("tp_a")).alias("ta"),
            F.sum(w * F.col("pred_a")).alias("pa"),
            F.sum(w * F.col("gold_a")).alias("ga"),
            F.sum(w * F.col("tp_b")).alias("tb"),
            F.sum(w * F.col("pred_b")).alias("pb"),
            F.sum(w * F.col("gold_b")).alias("gb"),
        )
        .select(
            (f1(F.col("tb"), F.col("pb"), F.col("gb"))
             > f1(F.col("ta"), F.col("pa"), F.col("ga"))).cast("double").alias("sig")
        )
    )
    totals = j.agg(
        F.sum("tp_a").alias("ta"), F.sum("pred_a").alias("pa"), F.sum("gold_a").alias("ga"),
        F.sum("tp_b").alias("tb"), F.sum("pred_b").alias("pb"), F.sum("gold_b").alias("gb"),
    ).select(
        f1(F.col("ta"), F.col("pa"), F.col("ga")).alias("f1_a"),
        f1(F.col("tb"), F.col("pb"), F.col("gb")).alias("f1_b"),
    )
    return totals.crossJoin(per_trial.agg(F.avg("sig").alias("frac_sig"))).select(
        "f1_a", "f1_b", (F.col("f1_b") - F.col("f1_a")).alias("delta"),
        "frac_sig", F.lit(N_TRIALS).alias("n_trials"),
    )


def grouped_accuracy(
    pred: DataFrame,
    gold: DataFrame,
    attrs: DataFrame,
) -> DataFrame:
    """A8: grouped accuracy counters — per mention type (mtype), the
    fraction of mentions sitting in a cluster whose
    MAJORITY gold entity matches their own (the reference's per-category
    right/wrong counters in its evaluator output).

    attrs(mention_id, mtype).  Majority entity per cluster = argmax of
    (cluster, entity) cell counts, ties to the smaller entity id.  Returns
    (group, n, correct, accuracy)."""
    majority = _aligned(_cells(pred, gold)).groupBy("cluster_id").agg(
        _majority().alias("_maj")
    )
    scored = (
        pred.select("mention_id", "cluster_id")
        .join(gold.select("mention_id", "entity_id"), "mention_id")
        .join(majority, "cluster_id")
        .withColumn("_ok", (F.col("entity_id") == F.col("_maj")).cast("long"))
        .join(attrs.select("mention_id", "mtype"), "mention_id")
    )
    return (
        scored.groupBy("mtype")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("_ok").alias("correct"))
        .withColumn("accuracy", F.round(F.col("correct") / F.col("n"), 6))
    )


def wikification_prf1(pred: DataFrame, gold: DataFrame) -> DataFrame:
    """Entity-linking chunk evaluation — evaluateWikiChunksBySent
    (wiki/WikificationEvaluator.scala:19-57) as one DataFrame aggregation.

    pred(url, sent_idx, start, end, title STRING): the system's chosen
    title per mention chunk; gold(url, sent_idx, start, end,
    titles ARRAY<STRING>): the acceptable-title sets.  Semantics ported
    exactly: -EXCLUDE- preds dropped (removeExcludes), empty-label golds
    dropped, then two buckets — non-NIL chunks scored with
    isCorrect(gold, guess) = lower(gold) contains
    lower(guess).replace(' ','_') (wiki/package.scala:36-39), NIL chunks
    scored by position match alone.  Gold spans are assumed unique per
    (url, sent_idx, start, end) — the format writes one annotation per
    span — and deduped defensively so a malformed double-annotation can't
    double-count a pred.

    Returns ONE row: correct/total_pred/total_gold (+ _nil variants) and
    the derived precision/recall/f1 per bucket — the counters the
    reference logs via renderPRF1.  Shape: two tiny grouped counts and one
    equi-join on span position; no per-doc loop, so it runs at any corpus
    size."""
    p = pred.where(F.col("title") != F.lit("-EXCLUDE-")).withColumn(
        "_pnil", F.col("title") == F.lit("-NIL-")
    )
    g = (
        gold.where(F.size("titles") >= 1)
        .dropDuplicates(["url", "sent_idx", "start", "end"])
        .withColumn("_gnil", F.element_at("titles", 1) == F.lit("-NIL-"))
    )
    keys = ["url", "sent_idx", "start", "end"]
    j = p.join(g, keys, "left").withColumn(
        "_ok",
        F.when(
            F.col("_gnil").isNotNull() & (F.col("_pnil") == F.col("_gnil")),
            F.when(F.col("_pnil"), F.lit(True)).otherwise(
                F.array_contains(
                    F.transform("titles", F.lower),
                    F.replace(F.lower("title"), F.lit(" "), F.lit("_")),
                )
            ),
        ).otherwise(F.lit(False)),
    )
    zsum = lambda c: F.coalesce(F.sum(c.cast("long")), F.lit(0))  # noqa: E731
    pa = j.agg(
        zsum(~F.col("_pnil")).alias("total_pred"),
        zsum(F.col("_ok") & ~F.col("_pnil")).alias("correct"),
        zsum(F.col("_pnil")).alias("total_pred_nil"),
        zsum(F.col("_ok") & F.col("_pnil")).alias("correct_nil"),
    )
    ga = g.agg(
        zsum(~F.col("_gnil")).alias("total_gold"),
        zsum(F.col("_gnil")).alias("total_gold_nil"),
    )
    def prf(tp: Column, pr: Column, gl: Column) -> list[Column]:
        p, r = _ratio(tp, pr), _ratio(tp, gl)
        return [F.round(p, 6), F.round(r, 6), F.round(_f1_col(p, r), 6)]

    kb = prf(F.col("correct"), F.col("total_pred"), F.col("total_gold"))
    nil = prf(
        F.col("correct_nil"), F.col("total_pred_nil"), F.col("total_gold_nil")
    )
    return pa.crossJoin(ga).select(
        "correct", "total_pred", "total_gold",
        kb[0].alias("precision"), kb[1].alias("recall"), kb[2].alias("f1"),
        "correct_nil", "total_pred_nil", "total_gold_nil",
        nil[0].alias("precision_nil"), nil[1].alias("recall_nil"),
        nil[2].alias("f1_nil"),
    )


def cluster_diff(
    pred: DataFrame, gold: DataFrame
) -> DataFrame:
    """Per-cluster error decomposition — WHERE the clustering disagrees
    with gold, not just how much (the drill-down behind the B3/MUC/CEAF
    aggregates): for every predicted cluster,

      (cluster_id, n_members, n_entities, majority_entity, purity,
       entity_n_clusters, status)

    majority_entity = the gold entity owning most members (ties to the
    smallest entity id); purity = its share; entity_n_clusters = how many
    predicted clusters that entity is scattered across.  status is the
    audit label: 'pure' (one entity, entity in one cluster), 'merged'
    (cluster holds >1 entity), 'split' (single-entity cluster but the
    entity continues elsewhere), 'merged+split' (both).

    Same intersection-cells reduction as B3/CEAF (never per-mention
    rows); three small aggregations + two joins."""
    cells = _aligned(_cells(pred, gold))
    nc = cells.groupBy("cluster_id").agg(
        F.sum("n_ce").alias("n_members"),
        F.count(F.lit(1)).alias("n_entities"),
        _majority().alias("majority_entity"),
        F.max("n_ce").alias("_maj_n"),
    )
    se = cells.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("entity_n_clusters")
    )
    out = nc.join(
        se.withColumnRenamed("entity_id", "majority_entity"), "majority_entity"
    )
    merged = F.col("n_entities") > 1
    split = F.col("entity_n_clusters") > 1
    return out.select(
        "cluster_id",
        "n_members",
        "n_entities",
        "majority_entity",
        F.round(F.col("_maj_n") / F.col("n_members"), 6).alias("purity"),
        "entity_n_clusters",
        F.when(merged & split, F.lit("merged+split"))
        .when(merged, F.lit("merged"))
        .when(split, F.lit("split"))
        .otherwise(F.lit("pure"))
        .alias("status"),
    )

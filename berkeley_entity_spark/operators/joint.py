"""M8 — joint coreference + typing + linking inference (the reference's
headline contribution: Durrett & Klein 2014, "A Joint Model for Entity
Analysis"; joint/JointDocFactorGraphOnto.scala).

Per document, the reference builds one factor graph
(JointDocFactorGraphOnto.scala:44-250) over three families of variables
and runs loopy BP (ibid:297-451), then decodes marginals independently
(ibid:453-530).  This operator re-expresses that per-doc graph with
mention-level nodes and runs the SAME inference shape inside an Arrow
kernel, one document per group — documents are independent (M11), so the
Spark plan is a single applyInPandas over doc groups with no shuffle
beyond the groupBy:

  * C_i — antecedent choice for mention i: domain = NEW + the previous
    ANT_WINDOW mentions (the reference's pruned domain,
    DocumentGraph.scala:91-115).  Unary = the trained pairwise scorer
    (operators/scoring.py weights over features.featurize_pair — the same
    kernel the ER spine uses), NEW = 0 (threshold-decode convention).
  * T_i — semantic type of mention i over TYPE_DOMAIN: unary from the
    lexicon counts (the NER emission analog; the reference wires token
    NER nodes, we use the mention-level "intermediate type layer" variant
    it also ships, JointDocFactorGraphOnto.scala:178-209).
  * L_i — link (wiki title) of mention i: domain = top-k candidate titles
    for the surface from the vote DB + NIL; unary = log vote share.
  * Q_i — OPTIONAL latent query variable (ibid:135-175): pass
    query_candidates (surface_query_candidates) and each mention gets a
    query node over its deterministic surface variants (full / first
    token / last token — the Query.extractQueriesBest analog), a
    QueryChooser-style vote-mass prior, and a (Q_i, L_i) factor carrying
    per-variant candidate vote shares; the link domain becomes the union
    over variants and the plain L unary is dropped (its mass flows
    through Q).  Off by default — the SQL-oracled queries run without it.

  Factors beyond the unaries (all gated on the antecedent choice, the
  BetterPropertyFactor pattern, bp/BetterPropertyFactor.scala):
  * (C_i, T_i, T_j): +gamma_type when a_i = j and t_i == t_j — coref
    prefers type-agreeing antecedents AND types flow across links.
  * (C_i, L_i, L_j): +gamma_link when a_i = j and l_i == l_j != NIL.
  * (L_i, T_i): +delta_title_type when the candidate title's type matches
    t_i (wiki+NER factor, JointDocFactorGraphOnto.scala:238-250).

Correctness anchors (tests/test_joint.py): with all interaction weights 0
the BP decode equals the three independent argmaxes EXACTLY (the unary
graph is a forest, BP is exact on it); a constructed two-mention document
flips the ambiguous mention's type/link to agree with its antecedent as
gamma rises; per-doc output is bit-deterministic and partitioning-
invariant.  The full joint objective is not SQL-expressible (iterative
message passing), so the driver query carries no DuckDB oracle — the
rows-only check plus these tests are the evidence, disclosed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from berkeley_entity_spark.ml.bp import FactorGraph

TYPE_DOMAIN = ("LOC", "MISC", "ORG", "PER")  # sorted; index = domain value
NIL = ""  # link domain position 0
ANT_WINDOW = 8  # antecedent candidates per mention: the previous 8
BP_ITERS = 5  # loopy-BP iterations per document graph
N_CANDS = 2  # candidate titles per surface (per query variant)
# an antecedent whose unary score is below this can't beat NEW (score 0)
PRUNE_MARGIN = -4.0


def default_type_lexicons() -> tuple[frozenset, frozenset, frozenset]:
    """(person, org, loc) token sets — the same gazetteers the NER
    operator scores with (operators/ner.py), so joint typing and the CRF
    see one vocabulary."""
    from berkeley_entity_spark.operators.ner import LOC_GAZETTEER
    from berkeley_entity_spark.synth import FIRST, LAST, ORG_SUF, ORG_W1, ORG_W2

    persons = frozenset(w.lower() for w in FIRST + LAST)
    orgs = frozenset(w.lower() for w in ORG_W1 + ORG_W2 + ORG_SUF)
    return persons, orgs, frozenset(LOC_GAZETTEER)


def type_unary(tokens: list[str], persons, orgs, locs) -> np.ndarray:
    """Mention-level type scores over TYPE_DOMAIN (lexicon-count linear
    model — the mention analog of ner.emission_scores)."""
    per = sum(1.0 for t in tokens if t in persons)
    org = sum(1.0 for t in tokens if t in orgs)
    loc = sum(1.0 for t in tokens if t in locs)
    # order matches TYPE_DOMAIN = (LOC, MISC, ORG, PER); MISC gets a
    # small floor so lexicon-less mentions stay MISC
    return np.array([2.0 * loc, 0.5, 2.0 * org, 2.0 * per])


def surface_link_candidates(
    link_votes: DataFrame, title_type_expr=None
) -> DataFrame:
    """(surface, cands array<struct<title,votes,ttype>>) — each surface's
    top-N_CANDS candidate titles by (votes desc, title asc), the per-mention
    link domain (WikipediaTitleGivenSurfaceDB semantics; deterministic).

    link_votes: (surface, title, votes).  title_type_expr: a Column
    mapping `title` to a TYPE_DOMAIN string for the wiki+NER factor
    (defaults to a deterministic hash bucketing — a synthetic KB type,
    real plumbing)."""
    if title_type_expr is None:
        title_type_expr = F.element_at(
            F.array(*[F.lit(t) for t in TYPE_DOMAIN]),
            (F.pmod(F.xxhash64("title"), F.lit(len(TYPE_DOMAIN))) + 1).cast("int"),
        )
    w = Window.partitionBy("surface").orderBy(F.desc("votes"), F.asc("title"))
    return (
        link_votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= N_CANDS)
        .withColumn("ttype", title_type_expr)
        .groupBy("surface")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("_rn", "title", "votes", "ttype"))
            ).alias("cands")
        )
    )


def query_variants_col():
    """Deterministic query variants for a mention surface — the web-scale
    analog of the reference's Query.extractQueriesBest (wiki/Query.scala:
    the final-head span, the full span, de-determined forms): full
    surface, first token, last token; deduplicated keeping first, so the
    variant INDEX is a stable domain position."""
    s = F.col("surface")
    toks = F.split(s, " ")
    return F.array_distinct(
        F.array(s, F.element_at(toks, 1), F.element_at(toks, -1))
    )


def surface_query_candidates(link_votes: DataFrame) -> DataFrame:
    """(surface, qcands array<struct<q_idx,variant,cands>>) — the latent
    query layer's per-surface domain (JointDocFactorGraphOnto.scala:135-175
    wires one Query node per mention whose choice selects which candidate
    list feeds the link variable).  Each variant's candidate list is the
    vote DB's top-N_CANDS for THAT variant string — a first-token query hits the
    DB only where the token is itself a known surface, exactly the
    ambiguity the latent variable exists to arbitrate."""
    per_surface = surface_link_candidates(link_votes)
    surfaces = link_votes.select("surface").distinct()
    variants = surfaces.select(
        "surface",
        F.posexplode(query_variants_col()).alias("q_idx", "variant"),
    )
    joined = variants.join(
        per_surface.toDF("variant", "vcands"), "variant", "left"
    )
    return joined.groupBy("surface").agg(
        F.sort_array(
            F.collect_list(F.struct("q_idx", "variant", "vcands"))
        ).alias("qcands")
    )


def joint_entity_decode(
    mentions: DataFrame,
    link_candidates: DataFrame | None = None,
    weights: np.ndarray | None = None,
    gamma_type: float = 1.5,
    gamma_link: float = 1.5,
    delta_title_type: float = 1.0,
    max_mentions: int = 40,
    new_coref_bias: float = 0.0,
    query_candidates: DataFrame | None = None,
) -> DataFrame:
    """Joint BP decode: mentions -> (url, m_idx, sent_idx, start,
    norm_name, antecedent, etype, link, query).

    antecedent = the decoded antecedent's m_idx, -1 for NEW; etype in
    TYPE_DOMAIN; link = decoded title or NULL for NIL.  Documents longer
    than max_mentions decode their first max_mentions and emit the rest
    as independent unary argmaxes (the reference prunes domains to keep
    graphs tractable too, DocumentGraph.scala:91-115; disclosed cap, no
    rows dropped).  Set gamma_type=gamma_link=delta_title_type=0 to
    recover the three independent decisions exactly.

    query_candidates (from surface_query_candidates) switches on the
    LATENT QUERY layer (JointDocFactorGraphOnto.scala:135-175): one Q_i
    node per mention over its query variants, unary = log(1 + the
    variant's total candidate votes) (the QueryChooser prior analog), a
    (Q_i, L_i) factor carrying log vote shares per variant — titles
    outside a variant's candidate list get a -30 log-potential — and the
    link domain = NIL + the union of all variants' candidates in variant-
    then-rank order.  `query` is the decoded variant (NULL without the
    layer); capped-tail mentions decode the query-marginalized link
    (logsumexp over Q) and the prior-argmax query, disclosed like the
    antecedent cap."""
    from berkeley_entity_spark.operators.features import (
        featurize_pair,
        levenshtein_ratio,
    )
    from berkeley_entity_spark.operators.scoring import load_default_weights

    w_arr = weights if weights is not None else load_default_weights()
    spark = mentions.sparkSession
    lex = spark.sparkContext.broadcast(default_type_lexicons())

    if link_candidates is not None and query_candidates is not None:
        raise ValueError(
            "pass link_candidates OR query_candidates, not both — the "
            "latent query layer derives the link domain from its own "
            "per-variant candidate lists, so a separate link_candidates "
            "table would be silently ignored"
        )
    cols = ["url", "sent_idx", "start", "end", "norm_name", "is_acr"]
    m = mentions.select(*cols)
    cand_t = "array<struct<_rn:int,title:string,votes:bigint,ttype:string>>"
    if query_candidates is not None:
        m = m.join(
            query_candidates.toDF("norm_name", "_qcands"), "norm_name", "left"
        ).withColumn("_cands", F.lit(None).cast(cand_t))
    elif link_candidates is not None:
        m = m.join(
            link_candidates.toDF("norm_name", "_cands"), "norm_name", "left"
        ).withColumn(
            "_qcands",
            F.lit(None).cast(
                f"array<struct<q_idx:int,variant:string,vcands:{cand_t}>>"
            ),
        )
    else:
        m = m.withColumn("_cands", F.lit(None).cast(cand_t)).withColumn(
            "_qcands",
            F.lit(None).cast(
                f"array<struct<q_idx:int,variant:string,vcands:{cand_t}>>"
            ),
        )

    n_types = len(TYPE_DOMAIN)
    NEG = -30.0  # log-potential for titles outside a variant's candidates
    use_latent = query_candidates is not None  # plain bool for the closure

    def decode_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        persons, orgs, locs = lex.value
        pdf = pdf.sort_values(["sent_idx", "start", "end", "norm_name"]).reset_index(
            drop=True
        )
        url = pdf["url"].iloc[0]
        n_all = len(pdf)
        n = min(n_all, max_mentions)
        toks = [str(s).split(" ") for s in pdf["norm_name"]]
        t_un = [type_unary(t, persons, orgs, locs) for t in toks]
        # link domains: position 0 = NIL, then candidate titles in
        # (votes desc, title asc) order (the _rn sort key); in latent mode
        # the union over variants in variant-then-rank order, keep-first
        latent = use_latent
        domains: list[list[tuple[str, str]]] = []
        l_un: list[np.ndarray] = []
        q_doms: list[list[str]] = []
        q_uns: list[np.ndarray] = []
        ql_tabs: list[np.ndarray] = []
        for ridx in range(len(pdf)):
            if latent:
                qc = pdf["_qcands"].iloc[ridx]
                surface = str(pdf["norm_name"].iloc[ridx])
                if qc is None or not len(qc):
                    qc = [{"q_idx": 0, "variant": surface, "vcands": None}]
                titles = [(NIL, "MISC")]
                pos = {NIL: 0}
                variants, votes_tot = [], []

                def _vc(q):
                    v = q["vcands"]
                    return [] if v is None else list(v)

                for q in qc:
                    variants.append(q["variant"])
                    tot = 0.0
                    for c in _vc(q):
                        tot += float(c["votes"])
                        if c["title"] not in pos:
                            pos[c["title"]] = len(titles)
                            titles.append((c["title"], c["ttype"]))
                    votes_tot.append(tot)
                tab = np.full((len(variants), len(titles)), NEG)
                tab[:, 0] = 0.0  # NIL: log of one vote
                for qi, q in enumerate(qc):
                    for c in _vc(q):
                        tab[qi, pos[c["title"]]] = np.log(float(c["votes"]))
                domains.append(titles)
                l_un.append(np.zeros(len(titles)))  # mass flows via (Q, L)
                q_doms.append(variants)
                q_uns.append(np.log1p(np.asarray(votes_tot)))
                ql_tabs.append(tab)
                continue
            cands = pdf["_cands"].iloc[ridx]
            titles, scores = [(NIL, "MISC")], [0.0]  # NIL: log of one vote
            if cands is not None and len(cands):
                for c in cands:
                    titles.append((c["title"], c["ttype"]))
                    scores.append(np.log(float(c["votes"])))
            domains.append(titles)
            l_un.append(np.asarray(scores))
            q_doms.append([])
            q_uns.append(np.zeros(0))
            ql_tabs.append(np.zeros((0, 0)))

        g = FactorGraph()
        c_nodes, t_nodes, l_nodes, q_nodes, c_domain = [], [], [], [], []
        for i in range(n):
            # prune the antecedent domain by the unary score, like the
            # reference (DocumentGraph.scala:91-115 getPrunedDomain):
            # below PRUNE_MARGIN an antecedent can't win and only bloats
            # the agreement-factor count — NEW (score 0) always stays, so
            # the decode is unchanged for every pruned candidate
            scored_ants = []
            for j in range(max(0, i - ANT_WINDOW), i):
                feats = featurize_pair(
                    pdf["norm_name"].iloc[i], pdf["norm_name"].iloc[j], {},
                    bool(pdf["is_acr"].iloc[i]), bool(pdf["is_acr"].iloc[j]),
                    lev=levenshtein_ratio(
                        pdf["norm_name"].iloc[i], pdf["norm_name"].iloc[j]
                    ),
                )
                s = float(np.dot(w_arr, feats))
                if s >= PRUNE_MARGIN:
                    scored_ants.append((j, s))
            ants = [j for j, _ in scored_ants]
            c_domain.append(ants)
            c = g.add_node(1 + len(ants))
            t = g.add_node(n_types)
            l = g.add_node(len(domains[i]))
            c_nodes.append(c)
            t_nodes.append(t)
            l_nodes.append(l)
            # new_coref_bias: NEW's unary.  The SQL-oracled degenerate
            # query sets it to the ER spine's 1e-9 threshold so a pair
            # whose TRUE score is exactly 0 (they exist on the rational
            # feature lattice — see ORACLE_ER_THRESHOLD) decodes NEW in
            # both engines instead of riding each engine's 1e-16 noise
            cu = np.zeros(1 + len(ants))
            cu[0] = new_coref_bias
            for pos, (_, s) in enumerate(scored_ants, start=1):
                cu[pos] = s
            g.add_factor([c], cu)
            g.add_factor([t], t_un[i])
            if latent:
                q = g.add_node(len(q_doms[i]))
                q_nodes.append(q)
                g.add_factor([q], q_uns[i])
                g.add_factor([q, l], ql_tabs[i])
            else:
                q_nodes.append(-1)
                g.add_factor([l], l_un[i])
            # wiki+NER: title's KB type agrees with the mention type
            lt = np.zeros((len(domains[i]), n_types))
            for li, (title, ttype) in enumerate(domains[i]):
                if title != NIL and ttype in TYPE_DOMAIN:
                    lt[li, TYPE_DOMAIN.index(ttype)] = delta_title_type
            g.add_factor([l, t], lt)
        # agreement factors, gated on the antecedent choice
        for i in range(n):
            for pos, j in enumerate(c_domain[i], start=1):
                if gamma_type != 0.0:
                    tab = np.zeros((1 + len(c_domain[i]), n_types, n_types))
                    tab[pos][np.eye(n_types, dtype=bool)] = gamma_type
                    g.add_factor([c_nodes[i], t_nodes[i], t_nodes[j]], tab)
                if gamma_link != 0.0:
                    di, dj = len(domains[i]), len(domains[j])
                    tab = np.zeros((1 + len(c_domain[i]), di, dj))
                    for li in range(1, di):
                        for lj in range(1, dj):
                            if domains[i][li][0] == domains[j][lj][0]:
                                tab[pos, li, lj] = gamma_link
                    g.add_factor([c_nodes[i], l_nodes[i], l_nodes[j]], tab)
        decoded = g.decode(BP_ITERS)
        rows = []
        for i in range(n_all):
            qv = None
            if i < n:
                a = decoded[c_nodes[i]]
                ant = c_domain[i][a - 1] if a > 0 else -1
                ty = TYPE_DOMAIN[decoded[t_nodes[i]]]
                li = decoded[l_nodes[i]]
                if latent:
                    qv = q_doms[i][decoded[q_nodes[i]]]
            else:  # past the cap: independent unary argmaxes
                ant = -1
                ty = TYPE_DOMAIN[int(np.argmax(t_un[i]))]
                if latent:
                    # query-marginalized link (logsumexp over Q), prior-
                    # argmax query — the capped-tail analog of the unaries
                    lsc = q_uns[i][:, None] + ql_tabs[i]
                    mx = lsc.max(axis=0)
                    li = int(np.argmax(mx + np.log(
                        np.exp(lsc - mx[None, :]).sum(axis=0))))
                    qv = q_doms[i][int(np.argmax(q_uns[i]))]
                else:
                    li = int(np.argmax(l_un[i]))
            title = domains[i][li][0]
            rows.append(
                (
                    url, i, int(pdf["sent_idx"].iloc[i]),
                    int(pdf["start"].iloc[i]), pdf["norm_name"].iloc[i],
                    int(ant), ty, None if title == NIL else title, qv,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "url", "m_idx", "sent_idx", "start", "norm_name",
                "antecedent", "etype", "link", "query",
            ],
        )

    schema = (
        "url string, m_idx int, sent_idx int, start int, norm_name string, "
        "antecedent int, etype string, link string, query string"
    )
    # EXPLICIT hash repartition by url before the grouping: the mention
    # table is tiny in bytes but the per-doc kernel is Python-heavy, and
    # AQE coalesces a small grouping exchange to ONE partition (measured:
    # the whole corpus decoded serially, 22s for work 32 cores finish in
    # ~1s).  repartition(N, url) satisfies the grouping's required
    # distribution, so no further (coalescible) exchange is inserted —
    # partitioning follows CORES, not bytes, which is the right rule for
    # any Python-kernel stage.
    n_parts = m.sparkSession.sparkContext.defaultParallelism
    return m.repartition(n_parts, "url").groupBy("url").applyInPandas(
        lambda pdf: decode_doc(pdf), schema=schema
    )

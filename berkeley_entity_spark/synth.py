"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1).

Generates the `webpages` table (url, warc_ts, html, text, lang) plus gold
mention labels, distributed via ``spark.range(n).mapInPandas`` so generation
scales with the cluster and is a pure function of (seed, page id) —
independent of partitioning, re-runnable, identical at any parallelism.

The entity pool mirrors the reference's surface-variation phenomena:
  * initials variant        — cf. reference Mention head semantics
  * abbreviation/acronym    — cf. sem/AbbreviationHandler.scala:7-62
  * dropped middle token / suffix — cf. wiki/Query.scala:120-164 query slices
  * deterministic typos (edit distance 1)
  * hard negatives: up to 26 distinct persons share each surname (initials
    kept distinct within a surname so clusters stay separable) — mirrors the
    reference's "misleading head match" analysis (CorefEvaluator.scala:252-270).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

import pandas as pd

from berkeley_entity_spark.config import SynthConfig

# ---------------------------------------------------------------- name pools
# 26 first names, one per initial letter (keeps first-initial+surname unique
# within a surname → "J. Smith"-style variants stay unambiguous).
FIRST = [
    "Alice", "Bruno", "Clara", "David", "Elena", "Felix", "Grace", "Hugo",
    "Irene", "Jonas", "Karen", "Louis", "Maria", "Nina", "Oscar", "Paula",
    "Quinn", "Rosa", "Simon", "Tessa", "Ulric", "Vera", "Walter", "Xenia",
    "Yusuf", "Zelda",
]
MIDDLE = ["Lee", "Marie", "Jean", "Ray", "Kim", "Ann", "Max", "Joy"]
_LAST_BASE = [
    "Smith", "Johnson", "Garcia", "Miller", "Davis", "Martinez", "Lopez",
    "Wilson", "Anderson", "Taylor", "Thomas", "Moore", "Jackson", "Martin",
    "Thompson", "White", "Harris", "Clark", "Lewis", "Walker", "Hall",
    "Young", "King", "Wright", "Scott", "Torres", "Nguyen", "Baker",
    "Adams", "Nelson", "Carter", "Mitchell", "Perez", "Roberts", "Turner",
    "Phillips", "Campbell", "Parker", "Evans", "Edwards",
]
_LAST_SYL1 = ["Berg", "Lind", "Sand", "Fern", "Hart", "Wald", "Stein", "Vance"]
_LAST_SYL2 = ["holm", "gren", "field", "wood", "man", "sen", "berg", "ton", "well", "er"]


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a):
        curr = [i + 1]
        for j, cb in enumerate(b):
            curr.append(min(prev[j + 1] + 1, curr[j] + 1, prev[j] + (ca != cb)))
        prev = curr
    return prev[-1]


def _distinct_pool(cands: list[str]) -> list[str]:
    """Keep only names pairwise >= 3 edits apart so an edit-distance-1 typo
    of one surname can never equal (or nearly equal) another surname —
    otherwise gold clusters are genuinely unresolvable."""
    pool: list[str] = []
    for c in cands:
        if all(_lev(c.lower(), p.lower()) >= 3 for p in pool):
            pool.append(c)
    return pool


LAST = _distinct_pool(
    _LAST_BASE + [a + b for a in _LAST_SYL1 for b in _LAST_SYL2]
)

# Org word pools: each pool has pairwise-distinct initials so acronyms are
# collision-free by construction.
ORG_W1 = [
    "Global", "Apex", "Nimbus", "Quantum", "Vertex", "Helios", "Crimson",
    "Sterling", "Titan", "Borealis", "Zenith", "Meridian",
]
ORG_W2 = [
    "Data", "Energy", "Freight", "Holdings", "Analytics", "Robotics",
    "Networks", "Capital", "Systems", "Logistics", "Media", "Therapeutics",
]
ORG_SUF = ["Corporation", "Industries", "Partners", "Ventures"]
ORG_SUF_ABBR = {"Corporation": "Corp.", "Industries": "Ind.", "Partners": "Prtn.", "Ventures": "Vent."}

PERSON_CAPACITY = len(FIRST) * len(LAST)
ORG_CAPACITY = len(ORG_W1) * len(ORG_W2)  # 144 — one org per (w1, w2) pair
# canonical names are injective for eid < ENTITY_CAPACITY (even eids fill the
# person index space bottom-up, overflow odd eids fill it top-down)
ENTITY_CAPACITY = PERSON_CAPACITY - 2

STARTERS = [
    "Today", "Meanwhile", "However", "Officials", "Reports", "Analysts",
    "Yesterday", "Sources", "Locally", "Elsewhere",
]
STARTERS_SET = frozenset(STARTERS)
FILLERS = [
    "said", "that", "the", "new", "deal", "with", "plans", "for", "growth",
    "in", "market", "terms", "while", "noting", "recent", "results", "and",
    "steady", "progress", "on", "key", "projects", "across", "regions",
    "despite", "early", "signals", "from", "partners", "about", "pricing",
]
ENDERS = ["today", "recently", "overall", "locally", "broadly"]
DOMAIN_WORDS = [
    "news", "daily", "post", "times", "herald", "wire", "tribune", "journal",
    "gazette", "report", "observer", "chronicle", "monitor", "courier",
    "register", "bulletin", "dispatch", "examiner", "standard", "record",
]
LANGS = ["de", "fr", "es", "zh", "ru", "pt", "ja", "it"]

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _h(*parts: object) -> int:
    """Stable 64-bit hash of the parts — the only randomness source.

    blake2b keyed by the parts; NOT Python's hash() (per-process salt)."""
    raw = "\x1f".join(str(p) for p in parts).encode()
    return int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")


def _zipf_index(h: int, n: int, s: float) -> int:
    """Map a uniform hash to a Zipf(s)-ish rank in [0, n) via a cheap
    inverse-CDF over rank weights 1/(r+1)^s (exact enough for skew tests)."""
    u = (h % 10_000_019) / 10_000_019.0
    # invert u ≈ 1 - (r/n)^(1-s') shape; use power transform for skew
    r = int(n * (u ** (s + 0.5)))
    return min(r, n - 1)


# ------------------------------------------------------------- entity model
def entity_canonical(eid: int, n_entities: int) -> tuple[str, str]:
    """(canonical name, kind) for entity eid — pure function.

    Odd eids are orgs until ORG_CAPACITY is exhausted; overflow odd eids
    become persons in the top half of the person index space, so no two
    entity ids ever share a canonical name (names are injective up to
    PERSON_CAPACITY + ORG_CAPACITY ≈ 2.2k entities)."""
    k = eid // 2
    if eid % 2 == 1 and k < ORG_CAPACITY:
        w1 = ORG_W1[k % len(ORG_W1)]
        w2 = ORG_W2[(k // len(ORG_W1)) % len(ORG_W2)]
        # one org per (w1, w2) pair — suffix hashed, so the dropped-suffix
        # variant "W1 W2" never collides across two org entities
        suf = ORG_SUF[_h("suf", k) % len(ORG_SUF)]
        return f"{w1} {w2} {suf}", "org"
    idx = (PERSON_CAPACITY - 1 - k if eid % 2 == 1 else k) % PERSON_CAPACITY
    last = LAST[idx % len(LAST)]
    first = FIRST[(idx // len(LAST)) % len(FIRST)]
    middle = MIDDLE[_h("mid", idx) % len(MIDDLE)]
    return f"{first} {middle} {last}", "person"


def _typo(name: str, h: int) -> str:
    """Edit-distance-1 substitution on an interior lowercase letter."""
    chars = list(name)
    positions = [i for i, c in enumerate(chars) if c.islower() and c.isalpha() and i > 0]
    if not positions:
        return name
    pos = positions[h % len(positions)]
    old = chars[pos]
    new = chr((ord(old) - 97 + 1 + h % 24) % 26 + 97)
    chars[pos] = new if new != old else ("z" if old != "z" else "q")
    return "".join(chars)


N_VARIANTS = 6


def entity_surface(eid: int, vid: int, n_entities: int) -> str:
    """Surface variant vid in [0, 6) of entity eid — pure function of ids."""
    canonical, kind = entity_canonical(eid, n_entities)
    toks = canonical.split(" ")
    v = vid % N_VARIANTS
    if v == 0:
        return canonical
    if v == 1:
        return canonical.upper()
    if v == 4:
        return _typo(canonical, _h("typo", eid, vid))
    if kind == "person":
        first, middle, last = toks
        if v == 2:
            return f"{first[0]}. {last}"
        if v == 3:
            return f"{first} {last}"
        return f"{first} {middle[0]}. {last}"  # v == 5
    w1, w2, suf = toks
    if v == 2:
        return "".join(t[0] for t in toks).upper()  # acronym, e.g. GDC
    if v == 3:
        return f"{w1} {w2}"  # dropped suffix
    return f"{w1} {w2} {ORG_SUF_ABBR[suf]}"  # v == 5, abbreviated suffix


# --------------------------------------------------------------- page model
def make_page(i: int, cfg: SynthConfig) -> tuple[dict, list[dict]]:
    """One page + its gold mentions. Pure function of (cfg.seed, i)."""
    seed = cfg.seed
    dom_rank = _zipf_index(_h(seed, "dom", i), cfg.n_domains, cfg.zipf_s)
    domain = f"{DOMAIN_WORDS[dom_rank % len(DOMAIN_WORDS)]}{dom_rank}.example.com"
    url = f"https://{domain}/articles/{i}"
    ts = EPOCH + timedelta(seconds=i)
    lang = "en"
    lh = _h(seed, "lang", i)
    if (lh % 1000) < int(cfg.pct_non_en * 1000):
        lang = LANGS[lh % len(LANGS)]

    n_sents = 1 + _h(seed, "ns", i) % 10
    sentences: list[str] = []
    gold: list[dict] = []
    for s in range(n_sents):
        toks: list[str] = [STARTERS[_h(seed, "st", i, s) % len(STARTERS)]]
        n_ment = _h(seed, "nm", i, s) % 4
        for m in range(n_ment):
            for k in range(1 + _h(seed, "f1", i, s, m) % 2):
                toks.append(FILLERS[_h(seed, "fw", i, s, m, k) % len(FILLERS)])
            eid = _zipf_index(_h(seed, "ent", i, s, m), cfg.n_entities, cfg.zipf_s)
            vid = _h(seed, "var", i, s, m) % N_VARIANTS
            surface = entity_surface(eid, vid, cfg.n_entities)
            stoks = surface.split(" ")
            start = len(toks)
            toks.extend(stoks)
            gold.append(
                {
                    "url": url,
                    "sent_idx": s,
                    "start": start,
                    "end": start + len(stoks),
                    "surface": surface,
                    "entity_id": eid,
                    "lang": lang,
                }
            )
        for k in range(1 + _h(seed, "f2", i, s) % 3):
            toks.append(FILLERS[_h(seed, "fe", i, s, k) % len(FILLERS)])
        toks.append(ENDERS[_h(seed, "en", i, s) % len(ENDERS)] + ".")
        sentences.append(" ".join(toks))

    text = " ".join(sentences)
    html = (
        "<html><head><style>body{font:serif}</style></head><body>"
        "<nav>home | sections | subscribe</nav>"
        f"<p>{text}</p>"
        "<footer>copyright 2024 example media</footer></body></html>"
    )
    page = {
        "url": url,
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": text,
        "lang": lang,
    }
    return page, gold


# ------------------------------------------------------------ spark surface
PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
GOLD_SCHEMA = (
    "url string, sent_idx int, start int, end int, surface string, "
    "entity_id bigint, lang string"
)


def generate_webpages(spark, cfg: SynthConfig, num_partitions: int | None = None):
    """Distributed generation: (webpages_df, gold_mentions_df).

    num_partitions fixes the work decomposition at the range source (no
    shuffle) — pass the same value at different parallelism levels to run
    identical task sets."""

    def gen_pages(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), cfg)[0] for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])

    def gen_gold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = ["url", "sent_idx", "start", "end", "surface", "entity_id", "lang"]
        for pdf in batches:
            rows = [g for i in pdf["id"] for g in make_page(int(i), cfg)[1]]
            yield pd.DataFrame(rows, columns=cols)

    base = (
        spark.range(cfg.n_pages, numPartitions=num_partitions)
        if num_partitions
        else spark.range(cfg.n_pages)
    )
    pages = base.mapInPandas(gen_pages, schema=PAGES_SCHEMA)
    gold = base.mapInPandas(gen_gold, schema=GOLD_SCHEMA)
    return pages, gold


# ----------------------------------------------------------- gold labeling
def gold_with_ids(gold_mentions):
    """Add mention_id = xxhash64(url, sent_idx, start, end) and the
    normalized surface (Spark expression equal to extract.normalize_name)."""
    from pyspark.sql import functions as F

    norm = F.array_join(
        F.filter(
            F.split(F.regexp_replace(F.lower("surface"), r"\.", ""), " +"),
            lambda t: t != "",
        ),
        " ",
    )
    return gold_mentions.withColumn(
        "mention_id", F.xxhash64("url", "sent_idx", "start", "end")
    ).withColumn("norm_name", norm)


def gold_pair_table(gold_mentions_with_ids):
    """Labeled pairs under a shared blocking key (FIXTURES §2 gold_pairs):
    positives = same entity_id, hard negatives = different entities sharing
    the key (e.g. same surname).  Sorted-neighborhood banding caps volume:
    the first 200 mentions per key, each paired with the next 10."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from berkeley_entity_spark.operators.blocking import explode_block_keys

    m = gold_mentions_with_ids.select("mention_id", "norm_name", "entity_id", "url")
    keys = explode_block_keys(m, "mention_id").join(
        m.select("mention_id", "entity_id", "url"), "mention_id"
    )
    w = Window.partitionBy("block_key").orderBy("norm_name", "mention_id")
    r = keys.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 200)
    a, b = r.alias("a"), r.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("b.rn") > F.col("a.rn"))
            & (F.col("b.rn") <= F.col("a.rn") + 10),
        )
        .where(F.col("a.mention_id") != F.col("b.mention_id"))
        .select(
            F.col("a.block_key").alias("block_key"),
            F.col("a.url").alias("url_a"),
            F.least("a.mention_id", "b.mention_id").alias("mention_a"),
            F.col("b.url").alias("url_b"),
            F.greatest("a.mention_id", "b.mention_id").alias("mention_b"),
            (F.col("a.entity_id") == F.col("b.entity_id")).alias("label"),
        )
    )
    return pairs.groupBy("mention_a", "mention_b").agg(
        F.min("block_key").alias("block_key"),
        F.first("url_a").alias("url_a"),
        F.first("url_b").alias("url_b"),
        F.first("label").alias("label"),
    )


# ------------------------------------------------- synthetic Bergsma-Lin data
def generate_numgender(spark):
    """Deterministic synthetic stand-in for the reference's gender.data
    (Bergsma-Lin web counts, loaded every run at
    NumberGenderComputer.scala:108-183).  Rows: (phrase, masc, fem, neut,
    plur) with phrase already sanitized (lowercase; the vocabulary has no
    digits).  Count shapes are chosen so every decision branch of
    computeNumber/computeGender fires somewhere in the synthetic corpus:

      * FIRST names: even index -> male-dominant, odd -> female-dominant
        (passes the >=2x-and->=3 confidence rule).
      * MIDDLE names: balanced counts -> gender UNKNOWN.
      * LAST names: mildly mixed -> UNKNOWN, singular.
      * org words + suffixes: neuter-dominant -> NEUTRAL.
      * plural-ish starters/fillers: plural-dominant -> PLURAL number.
      * full canonical person phrases for the first entities -> phrase-hit
        path (no head backoff).
    """
    rows: list[tuple[str, int, int, int, int]] = []
    for i, name in enumerate(FIRST):
        rows.append(
            (name.lower(), 60, 2, 1, 3) if i % 2 == 0 else (name.lower(), 2, 60, 1, 3)
        )
    # middle names vary per entity even in tiny corpora (first names do
    # not: the index math reuses FIRST[0] until len(LAST) entities exist),
    # so gender a subset of them to exercise the first-name path both ways
    for name in MIDDLE:
        if name in ("Marie", "Ann", "Joy"):
            rows.append((name.lower(), 2, 60, 1, 3))
        elif name in ("Ray", "Max"):
            rows.append((name.lower(), 60, 2, 1, 3))
        else:
            rows.append((name.lower(), 4, 4, 1, 2))
    for name in LAST:
        rows.append((name.lower(), 5, 4, 2, 6))
    for w in ORG_W1 + ORG_W2 + ORG_SUF + [s.replace(".", "") for s in ORG_SUF_ABBR.values()]:
        rows.append((w.lower(), 0, 1, 20, 2))
    for w in ["officials", "reports", "analysts", "sources", "plans",
              "results", "projects", "regions", "signals", "partners", "terms"]:
        rows.append((w, 1, 1, 2, 30))
    # full-phrase entries for the first few canonical persons: the phrase
    # lookup wins before any head backoff (NumberGenderComputer.scala:29-32)
    for eid in range(0, 40, 2):
        name, kind = entity_canonical(eid, 2000)
        if kind != "person":
            continue
        first_idx = FIRST.index(name.split(" ")[0])
        m, f = (50, 1) if first_idx % 2 == 0 else (1, 50)
        rows.append((name.lower(), m, f, 0, 1))
    # dedupe, first entry wins (the reference sums duplicate lines —
    # NumberGenderComputer.scala:172-178; here overlaps are deliberate
    # homographs like 'partners' the-org-suffix vs 'partners' the-plural,
    # and the org/name reading should dominate as it does in web counts)
    seen: dict[str, tuple[str, int, int, int, int]] = {}
    for r in rows:
        seen.setdefault(r[0], r)
    from berkeley_entity_spark.operators.properties import NUMGENDER_SCHEMA

    return spark.createDataFrame(list(seen.values()), schema=NUMGENDER_SCHEMA)


def generate_wordnet(spark):
    """Deterministic synthetic WordNet-shaped taxonomy (SO5 stand-in for
    the JWI dump, same policy as generate_numgender for gender.data).

    Returns (lemmas(word, synset), hypernyms(child, parent),
    anchors(synset, semclass)).  Includes: chains to each anchor, a word
    with MULTIPLE synsets whose classes differ (priority test), and a chain
    deeper than 10 levels whose word must NOT reach its anchor (bounded-
    closure test)."""
    anchors = [("person.n.01", "Person"), ("location.n.01", "Location"),
               ("organization.n.01", "Organization")]
    hyper = [
        ("analyst.n.01", "expert.n.01"), ("expert.n.01", "person.n.01"),
        ("official.n.01", "person.n.01"),
        ("city.n.01", "municipality.n.01"),
        ("municipality.n.01", "region.n.01"), ("region.n.01", "location.n.01"),
        ("corporation.n.01", "company.n.01"),
        ("company.n.01", "institution.n.01"),
        ("institution.n.01", "organization.n.01"),
        ("partnership.n.01", "organization.n.01"),
        # ambiguous word target: bank = company (org) AND riverbank (loc)
        ("bank.n.01", "company.n.01"), ("bank.n.02", "slope.n.01"),
        ("slope.n.01", "location.n.01"),
    ]
    # a 12-deep chain: word at the bottom must NOT classify (cap = 10)
    deep = [(f"deep{i}.n.01", f"deep{i+1}.n.01") for i in range(12)]
    hyper += deep + [("deep12.n.01", "organization.n.01")]
    lemmas = [
        ("analyst", "analyst.n.01"), ("analysts", "analyst.n.01"),
        ("official", "official.n.01"), ("officials", "official.n.01"),
        ("city", "city.n.01"), ("corporation", "corporation.n.01"),
        ("company", "company.n.01"), ("partnership", "partnership.n.01"),
        ("bank", "bank.n.01"), ("bank", "bank.n.02"),
        ("deepword", "deep0.n.01"),
        ("market", "market.n.01"),  # synset with no path to any anchor
    ]
    return (
        spark.createDataFrame(lemmas, "word string, synset string"),
        spark.createDataFrame(hyper, "child string, parent string"),
        spark.createDataFrame(anchors, "synset string, semclass string"),
    )

"""Wiki-DB-shaped operators: counts, redirect chains, argmax ties."""

from berkeley_entity_spark.operators.wiki import (
    best_title_per_surface,
    resolve_redirects,
    title_given_surface,
)


def test_redirect_chain_bounded_hops(spark):
    links = spark.createDataFrame(
        [("jobs", "steve_jobs_(apple)"), ("jobs", "employment")],
        "surface string, title string",
    )
    redirects = spark.createDataFrame(
        [
            ("steve_jobs_(apple)", "steve_jobs_redirect"),
            ("steve_jobs_redirect", "steve_jobs"),
            ("steve_jobs", "LOOP"),  # third hop must NOT be taken at hops=2
        ],
        "src string, dst string",
    )
    got = {
        (r["surface"], r["title"])
        for r in resolve_redirects(links, redirects).collect()
    }
    assert ("jobs", "steve_jobs") in got  # two hops followed
    assert ("jobs", "employment") in got  # non-redirected untouched
    assert all(t != "LOOP" for _, t in got)


def test_vote_argmax_deterministic_ties(spark):
    links = spark.createDataFrame(
        [("x", "b"), ("x", "b"), ("x", "a"), ("x", "a"), ("x", "c")],
        "surface string, title string",
    )
    counts = title_given_surface(links)
    best = best_title_per_surface(counts).collect()
    assert len(best) == 1
    # tie between a(2) and b(2): lexicographically smallest wins
    assert best[0]["best_title"] == "a" and best[0]["votes"] == 2


def test_counts_shape(spark):
    links = spark.createDataFrame(
        [("s1", "t1"), ("s1", "t1"), ("s1", "t2"), ("s2", "t3")],
        "surface string, title string",
    )
    got = {
        (r["surface"], r["title"]): r["votes"]
        for r in title_given_surface(links).collect()
    }
    assert got == {("s1", "t1"): 2, ("s1", "t2"): 1, ("s2", "t3"): 1}


def test_top_k_categories_rarest_first(spark):
    """getTopKCategoriesByFrequency sorts by ASCENDING global frequency
    (WikipediaCategoryDB.scala:34-44) — rarest category ranks first."""
    from berkeley_entity_spark.operators.wiki import top_k_categories

    cats = spark.createDataFrame(
        [("a", "common"), ("b", "common"), ("c", "common"),
         ("a", "rare"), ("a", "mid"), ("b", "mid")],
        "title string, category string",
    )
    got = {
        (r["title"], r["rank"]): (r["category"], r["freq"])
        for r in top_k_categories(cats).collect()
    }
    assert got[("a", 1)] == ("rare", 1)
    assert got[("a", 2)] == ("mid", 2)
    assert got[("b", 1)] == ("mid", 2)
    assert got[("b", 2)] == ("common", 3)


def test_infobox_heads(spark):
    from berkeley_entity_spark.operators.wiki import infobox_heads

    df = spark.createDataFrame(
        [("t1", "military person"), ("t2", "city"), ("t3", "")],
        "title string, infobox string",
    )
    got = {r["title"]: r["infobox_head"] for r in infobox_heads(df).collect()}
    assert got == {"t1": "person", "t2": "city", "t3": ""}


def test_out_link_stats(spark):
    """computeOutLinkSuffStats + doesOneLinkToOther semantics
    (WikipediaLinkDB.scala:87-104) on a hand-built graph."""
    from berkeley_entity_spark.operators.wiki import out_link_stats

    links = spark.createDataFrame(
        [("x", "a"), ("x", "b"), ("x", "y"), ("y", "b"), ("y", "c"),
         ("z", "q"), ("x", "a")],  # duplicate edge must not double-count
        "src string, dst string",
    )
    pairs = spark.createDataFrame(
        [("x", "y"), ("x", "z"), ("z", "w")], "title_a string, title_b string"
    )
    got = {(r["title_a"], r["title_b"]): r for r in out_link_stats(pairs, links).collect()}
    xy = got[("x", "y")]
    # out(x) = {a,b,y} (3, dup removed), out(y) = {b,c}; intersection = {b}
    assert (xy["inter"], xy["n_a"], xy["n_b"]) == (1, 3, 2)
    assert xy["share_out_link"] and xy["one_links_other"]  # x -> y direct
    xz = got[("x", "z")]
    assert (xz["inter"], xz["n_a"], xz["n_b"]) == (0, 3, 1)
    assert not xz["share_out_link"] and not xz["one_links_other"]
    zw = got[("z", "w")]  # w has no out-links at all
    assert (zw["inter"], zw["n_a"], zw["n_b"]) == (0, 1, 0)
    assert not zw["one_links_other"]


_DUMP = """<mediawiki>
  <page>
    <title>Acme Corp</title>
    <revision><text xml:space="preserve">Founded by [[Jane Doe|Jane]] in
[[Springfield]]; see [[Acme &amp; Co|Acme]].</text></revision>
  </page>
  <page>
    <title>Acme Corporation</title>
    <redirect title="Acme Corp" />
    <revision><text xml:space="preserve">#REDIRECT [[Acme Corp]]</text></revision>
  </page>
  <page>
    <revision><text xml:space="preserve">untitled [[Orphan]]</text></revision>
  </page>
</mediawiki>
"""


def test_read_dump_to_links_and_redirects(spark, tmp_path):
    """read_dump -> parse_pages -> page_links / redirect_table over a
    three-page dump: the untitled page is dropped, the redirect page yields
    the redirect pair, and piped links vote (anchor -> target)."""
    from berkeley_entity_spark.sources.wikidump import (
        page_links,
        parse_pages,
        read_dump,
        redirect_table,
    )

    path = tmp_path / "dump.xml"
    path.write_text(_DUMP)
    pages = parse_pages(read_dump(spark, str(path))).cache()
    assert {(r["title"], r["redirect_target"]) for r in pages.collect()} == {
        ("Acme Corp", None),
        ("Acme Corporation", "Acme Corp"),
    }
    assert sorted(tuple(r) for r in page_links(pages).collect()) == [
        ("Acme Corp", "Acme", "Acme & Co"),
        ("Acme Corp", "Jane", "Jane Doe"),
        ("Acme Corp", "Springfield", "Springfield"),
        ("Acme Corporation", "Acme Corp", "Acme Corp"),
    ]
    assert [tuple(r) for r in redirect_table(pages).collect()] == [
        ("Acme Corporation", "Acme Corp")
    ]

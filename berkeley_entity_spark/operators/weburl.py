"""URL canonicalization (training-data pipeline op for web corpora).

A Common-Crawl-scale pipeline keyed on `url` (the input_hint's table shape)
needs one canonical form per page before any url-level dedup, domain
rollup, or lineage join: the same page arrives as `HTTP://WWW.Site.COM:80/a/`
and `http://site.com/a?utm_source=feed`.  `normalize_urls` computes:

  scheme             lowercased
  host               lowercased, default-port and any :port stripped,
                     leading `www.` / `m.` mobile prefix stripped
  registered_domain  last two host labels (the eTLD+1 heuristic; a real
                     public-suffix list would slot into the same column)
  path               trailing slashes stripped, '' -> '/'
  query_canon        params minus tracking keys (utm_*, fbclid, gclid, ref),
                     sorted for order-independence
  canon_url          scheme://host path ?query_canon

Everything is regexp_extract / split / filter / array_sort column
expressions — whole-stage codegen, zero Python, zero shuffle; the DuckDB
oracle replays each rule verbatim (q_url_normalize).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|ref)="
_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def normalize_urls(df: DataFrame) -> DataFrame:
    """Append (scheme, host, registered_domain, path, query_canon,
    canon_url) columns derived from `url`."""
    url = F.col("url")
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    hostport = F.regexp_extract(url, _HOSTPORT_RE, 1)
    host_full = F.lower(F.regexp_replace(hostport, r":[0-9]+$", ""))
    host = F.regexp_replace(host_full, r"^(www|m)\.", "")
    labels = F.split(host, r"\.")
    registered = F.when(
        F.size(labels) >= 2, F.array_join(F.slice(labels, -2, 2), ".")
    ).otherwise(host)
    raw_path = F.regexp_extract(url, _PATH_RE, 1)
    stripped = F.regexp_replace(raw_path, r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    )
    qcanon = F.array_join(F.array_sort(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )
    return df.select(
        "*",
        scheme.alias("scheme"),
        host.alias("host"),
        registered.alias("registered_domain"),
        path.alias("path"),
        qcanon.alias("query_canon"),
        canon.alias("canon_url"),
    )


def domain_stats(normalized: DataFrame) -> DataFrame:
    """Per-host rollup over a normalize_urls output: page count and distinct
    canonical urls (dup pages collapse).  One hash aggregation — at 100 TB
    this is the standard skewed-key aggregate; partial aggregation handles
    head domains (counts combine map-side), no windowing involved."""
    return normalized.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("canon_url").alias("n_canon_urls"),
    )

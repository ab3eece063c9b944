"""Hyperlink extraction and the host-level web graph.

A webtext KG pipeline's quality weighting starts from the crawl's own
link structure: extract anchors from the stored HTML, resolve them
against the page URL, roll up to a host→host graph, and rank hosts by
centrality (the CommonCrawl host-graph / RefinedWeb URL-weighting
recipe).  The reference has no web layer; this sits with
``operators/webstats.py`` in the beyond-reference webtext surface.

Resolution implements the subset of RFC 3986 that crawl analytics
needs — absolute ``scheme://``, protocol-relative ``//host``,
root-relative ``/path`` and bare relative paths, with ``mailto:`` /
``javascript:`` / fragment-only anchors dropped and fragments stripped
from resolved URLs.  Everything is built-in column arithmetic
(``regexp_extract_all`` + ``parse_url``): JVM-side, whole-stage
codegen, zero UDFs.

scale shape (100 TB)
--------------------
- anchor extraction is a narrow generate (regexp_extract_all +
  explode) — no join, no shuffle; resolution is pure per-row CASE
  arithmetic fused into the same stage.
- the host graph is ONE two-level aggregation: groupBy(src_host,
  dst_host, url) then groupBy(src_host, dst_host) — the second
  exchange rides the first's key prefix, and both are map-side
  partial-aggregated, so a boilerplate farm linking to one hot host
  costs a combiner chain per partition, not a hot reducer.  No
  per-pair distinct set ever materializes.
- centrality delegates to :func:`medacy_spark.operators.graph.pagerank`
  (one equi-join + one partial agg per iteration over a
  preserved-layout checkpoint).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medacy_spark.operators.webstats import url_host

# one anchor per match; attribute noise before href is allowed, the
# href value itself is the capture (RE2- and Java-regex-identical, so
# the DuckDB oracle replays it verbatim)
HREF_PATTERN = r'<a\s[^>]*href="([^"]*)"'

# href + inner text in one pattern: group 1 = href, group 2 = anchor
# text (element content up to the first '<'). Extracted twice (one
# group per regexp_extract_all call) and zipped — the two scans visit
# identical non-overlapping match sites, so the arrays align.
ANCHOR_PATTERN = r'<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>'

_SKIP_PREFIXES = ("#", "mailto:", "javascript:")


def resolve_href(href: Column, scheme: Column, host: Column) -> Column:
    """Resolve one href against the page's scheme/host (NULL for
    non-navigational anchors), fragment stripped."""
    resolved = (
        F.when(href.rlike("^https?://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(scheme, F.lit("://"), host, href))
        .otherwise(F.concat(scheme, F.lit("://"), host, F.lit("/"), href))
    )
    skip = href == ""
    for p in _SKIP_PREFIXES:
        skip = skip | href.startswith(p)
    return F.when(~skip, F.regexp_replace(resolved, "#.*$", ""))


def extract_links(df: DataFrame,) -> DataFrame:
    """One row per navigational anchor: (url, src_host, href, link_url,
    dst_host).  Narrow generate + per-row resolution, zero shuffles."""
    base = df.select(
        F.col("url").alias("url"),
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("_scheme"),
        url_host(F.col("url")).alias("src_host"),
        F.explode(
            F.regexp_extract_all(F.col("html"), F.lit(HREF_PATTERN), F.lit(1))
        ).alias("href"),
    )
    out = base.withColumn(
        "link_url", resolve_href(F.col("href"), F.col("_scheme"), F.col("src_host"))
    ).filter(F.col("link_url").isNotNull())
    return out.select(
        "url", "src_host", "href", "link_url", url_host(F.col("link_url")).alias("dst_host")
    )


def host_link_graph(links: DataFrame) -> DataFrame:
    """Host→host edge rollup of :func:`extract_links` output:
    (src_host, dst_host, n_links, n_src_pages, is_internal).

    ``n_src_pages`` is the exact count of distinct linking pages,
    computed as a two-level aggregate (never a per-pair set)."""
    per_page = links.groupBy("src_host", "dst_host", "url").agg(
        F.count("*").alias("_n")
    )
    return per_page.groupBy("src_host", "dst_host").agg(
        F.sum("_n").alias("n_links"),
        F.count("*").alias("n_src_pages"),
    ).withColumn("is_internal", F.col("src_host") == F.col("dst_host"))


def extract_anchor_texts(df: DataFrame,) -> DataFrame:
    """One row per navigational anchor WITH its text: (url, src_host,
    href, link_url, dst_host, anchor).  Anchor text is trimmed; same
    narrow zero-shuffle shape as :func:`extract_links`."""
    html = F.col("html")
    pairs = F.arrays_zip(
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(1)).alias("href"),
        F.regexp_extract_all(html, F.lit(ANCHOR_PATTERN), F.lit(2)).alias("anchor"),
    )
    base = df.select(
        F.col("url").alias("url"),
        F.parse_url(F.col("url"), F.lit("PROTOCOL")).alias("_scheme"),
        url_host(F.col("url")).alias("src_host"),
        F.explode(pairs).alias("p"),
    ).select(
        "url", "_scheme", "src_host",
        F.col("p.href").alias("href"),
        F.trim(F.col("p.anchor")).alias("anchor"),
    )
    out = base.withColumn(
        "link_url", resolve_href(F.col("href"), F.col("_scheme"), F.col("src_host"))
    ).filter(F.col("link_url").isNotNull())
    return out.select(
        "url", "src_host", "href", "link_url",
        url_host(F.col("link_url")).alias("dst_host"), "anchor",
    )


def anchor_alias_table(anchors: DataFrame) -> DataFrame:
    """Alias table from anchor text — the classic KG alias source (what
    the web calls a page is a name for the entity behind it):
    (link_url, anchor, n_links, n_src_hosts) per distinct surface form
    pointing at each target.  Empty anchors dropped; two-level
    aggregate so no per-target set materializes."""
    per_host = (
        anchors.filter(F.col("anchor") != "")
        .groupBy("link_url", "anchor", "src_host")
        .agg(F.count("*").alias("_n"))
    )
    return per_host.groupBy("link_url", "anchor").agg(
        F.sum("_n").alias("n_links"),
        F.count("*").alias("n_src_hosts"),
    )


# canonicalization: the pragmatic crawl subset — fragment stripped,
# scheme+host lowercased, default ports dropped, tracking params
# (utm_*, gclid, fbclid) removed, empty query and trailing slash
# stripped. Pure chained regexp_replace (RE2-compatible patterns, no
# lookaround) so the oracle replays each pass verbatim.
_TRACKING = r"(utm_[a-z0-9]+|gclid|fbclid)=[^&#]*&?"


def canonical_url(url: Column) -> Column:
    """Canonical form of a URL for crawl-level dedup."""
    u = F.regexp_replace(url, "#.*$", "")
    prefix = F.lower(F.regexp_extract(u, "^([^/]+//[^/?#]*)", 1))
    u = F.concat(prefix, F.regexp_replace(u, "^[^/]+//[^/?#]*", ""))
    u = F.regexp_replace(u, "^(https://[^/:?#]+):443([/?].*)?$", "$1$2")
    u = F.regexp_replace(u, "^(http://[^/:?#]+):80([/?].*)?$", "$1$2")
    u = F.regexp_replace(u, _TRACKING, "")
    u = F.regexp_replace(u, "[?&]+$", "")
    return F.regexp_replace(u, "/$", "")


def url_variants(df: DataFrame) -> DataFrame:
    """URL-level dedup rollup: (canonical_url, n_urls, n_distinct_raw).
    One narrow map + one two-level aggregate."""
    per_raw = df.select(
        canonical_url(F.col("url")).alias("canonical_url"),
        F.col("url").alias("_raw"),
    ).groupBy("canonical_url", "_raw").agg(F.count("*").alias("_n"))
    return per_raw.groupBy("canonical_url").agg(
        F.sum("_n").alias("n_urls"),
        F.count("*").alias("n_distinct_raw"),
    )


def host_pagerank(links: DataFrame,) -> DataFrame:
    """PageRank over the external (cross-host) link graph, weighted by
    link count → (node, pagerank).  Delegates the iteration to
    :func:`medacy_spark.operators.graph.pagerank`."""
    from medacy_spark.operators.graph import pagerank

    edges = host_link_graph(links).filter(~F.col("is_internal")).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    return pagerank(edges, weight="weight")

"""Host/URL-level corpus analytics for Common-Crawl-style web tables.

The north-star input is an Iceberg table keyed by ``url`` — host-level
rollups are how a crawl pipeline finds domain skew (the hot hosts that
motivate salted repartitioning, jobs/kg_pipeline.py), per-host dup rates
(boilerplate farms), and per-host language mix. The reference has no web
layer at all; this is the beyond-reference webtext surface.

scale shape
-----------
- host extraction is a narrow map (`parse_url`, JVM-side).
- the profile is ONE groupBy(host) with map-side partial aggregation —
  every measure (count, sum, count-distinct-exact over small domains,
  dup count) is algebraic or collapses to a bounded set per host except
  the distinct-text count, which is computed as an exact two-level
  aggregate (groupBy(host, text_hash) then groupBy(host)) so no
  per-host set ever materializes.
- `doc_share` joins the single-row corpus total back via broadcast —
  no global window, no SinglePartition exchange.

Host keys are exactly the skewed ones at crawl scale; the groupBys here
are all partial-aggregated so a hot host costs one combiner chain per
partition, not a hot reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def url_host(url: Column) -> Column:
    """Lower-cased registered host of a URL (JVM `parse_url`)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def host_profile(df: DataFrame,) -> DataFrame:
    """Per-host rollup: doc count, char mass, mean token count, language
    breadth, exact-dup count, and corpus share.

    ``n_dup_docs`` = docs on the host whose text is an exact duplicate of
    another same-host doc (docs minus distinct texts) — the per-host
    boilerplate-rate a crawl filter thresholds on.
    """
    base = df.select(
        url_host(F.col("url")).alias("host"),
        F.length(F.col("text")).alias("_chars"),
        F.size(F.split(F.col("text"), " ")).alias("_toks"),
        F.col("lang").alias("_lang"),
        F.xxhash64(F.col("text")).alias("_th"),
    )
    per_text = base.groupBy("host", "_th").agg(
        F.count("*").alias("_n"),
        F.sum("_chars").alias("_chars"),
        F.sum("_toks").alias("_toks"),
        F.collect_set("_lang").alias("_langs"),
    )
    hosts = per_text.groupBy("host").agg(
        F.sum("_n").alias("n_docs"),
        F.sum("_chars").alias("n_chars"),
        F.round(F.sum("_toks") / F.sum("_n"), 9).alias("avg_tokens"),
        F.size(F.array_distinct(F.flatten(F.collect_set("_langs")))).alias("n_langs"),
        (F.sum("_n") - F.count("*")).alias("n_dup_docs"),
    )
    total = df.agg(F.count("*").cast("double").alias("_total"))
    return hosts.join(F.broadcast(total)).select(
        "host",
        "n_docs",
        "n_chars",
        "avg_tokens",
        "n_langs",
        "n_dup_docs",
        F.round(F.col("n_docs") / F.col("_total"), 9).alias("doc_share"),
    )

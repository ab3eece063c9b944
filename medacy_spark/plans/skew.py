"""Skew handling: salted repartition for domain-skewed hosts (north rule).

Web corpora are Zipf-skewed by host: one hot host can own a double-digit
share of documents, so hash-partitioning by host (or by any host-derived
key) starves the cluster. AQE only repairs join/aggregation skew after
materialization; *stage* skew from a pathological partitioning is ours to
prevent.

Deterministic salt: pmod(xxhash64(url), S) — no rand(), so retries of a
failed stage re-produce identical partitioning (required for the
checkpoint/resume contract in plans/checkpoint.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_of(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)/", 1)


def salted_repartition(
    df: DataFrame,
    key_col: str = "url",
    num_partitions: int | None = None,
    salt_buckets: int = 16,
) -> DataFrame:
    """Repartition on (host, salt) so a hot host spreads over salt_buckets
    partitions while same-doc rows stay together (salt is a pure function
    of the full url)."""
    salted = df.withColumn("_host", host_of(key_col)).withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(key_col)), F.lit(salt_buckets))
    )
    if num_partitions:
        out = salted.repartition(num_partitions, "_host", "_salt")
    else:
        out = salted.repartition("_host", "_salt")
    return out.drop("_host", "_salt")


def host_skew_profile(df: DataFrame) -> DataFrame:
    """Diagnostic: docs per host, descending — feed to the salting decision."""
    return (
        df.select(host_of("url").alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("docs"))
        .orderBy(F.col("docs").desc())
    )

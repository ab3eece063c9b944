"""Bucketed interval (band) joins — the scale path for span θ-joins.

The reference's span joins (gold overlay J7, MetaMap overlay J9, overlap
J6 — gold_annotator_component.py:57-109, metamap_component.py:94-136,
annotations.py:174-195) are nested loops per document. The doc-id equi-key
usually bounds the cross product, but a single pathological document (one
url with 10^6 spans) would still blow up a naive per-doc join.

OSS Catalyst has no range-join optimization, so we implement the classic
band join: assign each interval to every bucket of width B it touches,
equi-join on (doc, bucket), post-filter the exact predicate, and keep
each pair in the one bucket its attribution rule names. Cost drops from
O(n·m) per doc to O(n·m / #buckets) with perfectly partitionable work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucketed(df: DataFrame, id_col: str, start: str, end: str, bucket: int, side: str) -> DataFrame:
    b = F.explode(
        F.sequence(
            (F.col(start) / bucket).cast("long"),
            # end is exclusive: a span ending exactly on a boundary does not
            # touch the next bucket
            (F.greatest(F.col(end) - 1, F.col(start)) / bucket).cast("long"),
        )
    ).alias("_bucket")
    renamed = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c).alias(f"{side}_{c}") for c in df.columns if c != id_col],
        b,
    )
    return renamed


def containment_join(
    inner: DataFrame,
    outer: DataFrame,
    id_col: str = "doc_id",
    bucket: int = 64,
) -> DataFrame:
    """Pairs where the `inner` span lies inside the `outer` span — the gold
    overlay / CUI overlay shape (J7/J9): token ∈ [mention.start, mention.end].

    Attribution bucket = inner.start's bucket (inner is contained, so its
    start bucket is always shared with the outer span — no dedup needed).
    """
    ib = _bucketed(inner, id_col, "start", "end", bucket, "l")
    ob = _bucketed(outer, id_col, "start", "end", bucket, "r")
    j = ib.join(ob, ["_id", "_bucket"])
    cond = (
        (F.col("l_start") >= F.col("r_start"))
        & (F.col("l_end") <= F.col("r_end"))
        & ((F.col("l_start") / bucket).cast("long") == F.col("_bucket"))
    )
    return j.filter(cond).drop("_bucket").withColumnRenamed("_id", id_col)

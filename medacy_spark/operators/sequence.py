"""Sequence/window operators over token streams.

Re-expressions of the reference's per-document sequence logic as Spark
window functions — the windows partition by document (and optionally
sentence), so at 10^12-doc scale they parallelize perfectly: no window ever
spans two documents, and the only shuffle is the initial hash-partition on
the document key.

  * island_merge  — W2: consecutive identical non-'O' labels merge into one
    entity (medacy/model/model.py:243-264 and 88-107).
  * feature_window — W1: ±k neighbor features per token, never crossing a
    sentence (discrete_feature_extractor.py:89-106).
  * LIKE_NUM — the number-token pattern that W7's token-adjacency
    matchers (LIKE_NUM + unit, unit_component.py:61-172) use; the
    matchers themselves live in operators/matchers.py.
  * resegment — W4: collapse matched multi-token spans into one token
    (unit_component.py:179-307) via a running boundary sum.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def island_merge(
    tokens: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[str],
    label_col: str = "label",
    start_col: str = "start",
    end_col: str = "end",
    text_col: str | None = "word",
) -> DataFrame:
    """Gaps-and-islands merge of consecutive identical labels.

    Returns one row per merged entity: part_cols + (tag, start, end[, text]).
    Mirrors model.py:243-264: runs of the same non-'O' label become a single
    span (first.start, last.end); mention text is the space-joined tokens
    (the reference re-slices from the document; for single-space-joined
    corpora these agree — callers needing exact slices join documents and
    substring, see relations.mention_text_from_doc).
    """
    w = Window.partitionBy(*part_cols).orderBy(*order_cols)
    changed = (
        ~F.col(label_col).eqNullSafe(F.lag(label_col).over(w))
    ).cast("int")
    seg = tokens.withColumn("_seg", F.sum(changed).over(w))
    aggs = [
        F.min(start_col).alias("start"),
        F.max(end_col).alias("end"),
    ]
    if text_col is not None:
        aggs.append(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(start_col).alias("s"), F.col(text_col).alias("t")))
                    ),
                    lambda x: x["t"],
                ),
                " ",
            ).alias("text")
        )
    out = (
        seg.groupBy(*part_cols, "_seg", F.col(label_col).alias("tag"))
        .agg(*aggs)
        .filter(F.col("tag") != "O")
        .drop("_seg")
    )
    return out


def feature_window(
    tokens: DataFrame,
    k: int,
    feature_cols: Sequence[str],
    part_cols: Sequence[str] = ("url", "sent_id"),
    order_col: str = "tok_id",
) -> DataFrame:
    """±k feature window per token, keyed "{±i}:{name}" like the reference's
    FeatureExtractor (discrete_feature_extractor.py:89-106). Window never
    crosses a sentence because it partitions by (url, sent_id).

    Emits a `features` map<string,string> column.
    """
    w = Window.partitionBy(*part_cols).orderBy(order_col)
    entries: list[Column] = [
        F.struct(F.lit("bias").alias("key"), F.lit("1.0").alias("value"))
    ]
    for off in range(-k, k + 1):
        for name in feature_cols:
            if off < 0:
                val = F.lag(name, -off).over(w)
            elif off > 0:
                val = F.lead(name, off).over(w)
            else:
                val = F.col(name)
            # reference key format: f'{i}:{feature}' (plain int, no sign
            # for positives) + constant bias=1.0
            # (discrete_feature_extractor.py:86-98)
            entries.append(
                F.struct(F.lit(f"{off}:{name}").alias("key"), val.cast("string").alias("value"))
            )
    arr = F.filter(F.array(*entries), lambda s: s["value"].isNotNull())
    return tokens.withColumn(
        "features", F.map_from_entries(arr)
    )


LIKE_NUM = r"^\d+(\.\d+)?$"


def resegment(
    tokens: DataFrame,
    merge_spans: DataFrame,
    part_cols: Sequence[str] = ("url",),
    order_col: str = "idx",
) -> DataFrame:
    """Re-derive token ids after merging matched spans (W4,
    unit_component.py:179-307): a token starts a new output token unless it
    is a non-first token of a merged span. New tok_id = running sum of
    boundary flags."""
    m = merge_spans.select(
        *part_cols, F.col("start").alias("m_start"), F.col("end").alias("m_end")
    )
    j = tokens.join(
        m,
        on=[tokens[c] == m[c] for c in part_cols]
        + [tokens["start"] >= m["m_start"], tokens["end"] <= m["m_end"]],
        how="left",
    ).select(tokens["*"], m["m_start"])
    is_boundary = F.when(
        F.col("m_start").isNull() | (F.col("start") == F.col("m_start")), 1
    ).otherwise(0)
    w = Window.partitionBy(*[tokens[c] for c in part_cols]).orderBy(order_col)
    return (
        j.withColumn("_b", is_boundary)
        .withColumn("new_tok_id", F.sum("_b").over(w) - 1)
        .drop("_b", "m_start")
    )

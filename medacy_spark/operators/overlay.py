"""Gold-annotation overlay onto tokens with boundary repair (J7).

Reproduces GoldAnnotatorOverlayer (gold_annotator_component.py:32-109):

  * a gold span overlays iff its start sits on a token start AND its end on
    a token end (spaCy ``doc.char_span`` alignment rule);
  * repair order on failure: (start, end) → (start, end-1) → (start, end+1).
    The reference's ±20 "incremental widening" loop (46-55) actually
    oscillates between end+1 and end (the +1/-1 alternation never
    compounds), so the real candidate set is exactly these three — we
    replicate the actual behavior, not the intended one;
  * broken annotations (start > end) are skipped (80-82, filter P5);
  * when overlapping gold spans claim one token, the later span in
    (start, end) order wins (sequential overwrite semantics);
  * failure accounting: exact-overlay failures and unfixable spans become
    metric rows (104-107: critical when >30% of a doc fails).

Implementation: candidate expansion (3 rows per gold) → two left-semi-style
joins against token start/end boundary sets → min-priority pick → interval
containment join → last-writer-wins window. All equi-joins on the doc key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _aligned_spans(
    tokens: DataFrame, gold: DataFrame, id_col: str, order_col: str | None = None
) -> DataFrame:
    """gold -> (id, tag, start, end, fixed_end, delta) for the best-aligned
    candidate; fixed_end is null when unfixable. When ``order_col`` names a
    file/ingest-order column on ``gold`` it is carried through (max over
    exact-duplicate spans) for reference-parity tie-breaking downstream."""
    g = gold.filter(F.col("start") <= F.col("end"))
    cand = g.select(
        id_col, "tag", "start", "end",
        F.explode(
            F.array(F.lit(0), F.lit(-1), F.lit(1))
        ).alias("delta"),
    ).withColumn("cand_end", F.col("end") + F.col("delta"))
    starts = tokens.select(
        F.col(id_col).alias("_id"), F.col("idx").alias("_s")
    ).distinct()
    ends = tokens.select(
        F.col(id_col).alias("_id"), F.col("end_idx").alias("_e")
    ).distinct()
    ok = cand.join(
        starts, (cand[id_col] == starts["_id"]) & (cand["start"] == starts["_s"]),
        "left_semi",
    )
    ends2 = ends.withColumnRenamed("_id", "_id2").withColumnRenamed("_e", "_e2")
    ok = ok.join(
        ends2, (ok[id_col] == ends2["_id2"]) & (ok["cand_end"] == ends2["_e2"]),
        "left_semi",
    )
    prio = F.when(F.col("delta") == 0, 0).when(F.col("delta") == -1, 1).otherwise(2)
    best = (
        ok.withColumn("_prio", prio)
        .groupBy(id_col, "tag", "start", "end")
        .agg(F.min(F.struct("_prio", "cand_end")).alias("_best"))
        .select(id_col, "tag", "start", "end",
                F.col("_best.cand_end").alias("fixed_end"),
                (F.col("_best._prio") != 0).alias("repaired"))
    )
    out = g.select(id_col, "tag", "start", "end").join(
        best, [id_col, "tag", "start", "end"], "left"
    )
    if order_col:
        ords = (
            g.groupBy(id_col, "tag", "start", "end")
            .agg(F.max(order_col).alias(order_col))
        )
        out = out.join(ords, [id_col, "tag", "start", "end"], "left")
    return out


def gold_overlay(
    tokens: DataFrame,
    gold: DataFrame,
    order_col: str | None = None,
) -> DataFrame:
    """tokens + gold mentions -> tokens with a `gold_label` column ('O' when
    uncovered).

    Contested tokens: the reference's sequential overwrite iterates golds
    sorted by ORIGINAL (start, end) — annotations.py:71-73 — with Python's
    stable sort keeping file order on exact (start, end) ties, so the later
    span in that order wins. We therefore order the last-writer-wins window
    by the original (start, end), NOT the repaired end; ``order_col`` (a
    file/ingest-order column on ``gold``, larger = later in file) replays
    the stable-tie behavior, with tag as a final deterministic fallback.
    """
    spans = _aligned_spans(tokens, gold, "doc_id", order_col=order_col)
    fixed = spans.filter(F.col("fixed_end").isNotNull()).select(
        F.col("doc_id").alias("_id"), F.col("tag").alias("_tag"),
        F.col("start").alias("_gs"), F.col("end").alias("_geo"),
        F.col("fixed_end").alias("_ge"),
        *([F.col(order_col).alias("_ord")] if order_col else []),
    )
    j = tokens.join(
        fixed,
        (tokens["doc_id"] == fixed["_id"])
        & (tokens["idx"] >= fixed["_gs"]) & (tokens["end_idx"] <= fixed["_ge"]),
        "left",
    )
    order = [F.col("_gs").desc_nulls_last(), F.col("_geo").desc_nulls_last()]
    if order_col:
        order.append(F.col("_ord").desc_nulls_last())
    order.append(F.col("_tag").desc_nulls_last())
    w = Window.partitionBy("doc_id", "idx").orderBy(*order)
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            *[tokens[c] for c in tokens.columns],
            F.coalesce(F.col("_tag"), F.lit("O")).alias("gold_label"),
        )
    )


def overlay_metrics(
    tokens: DataFrame, gold: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Failure accounting per doc: total golds, exact failures (needed
    repair or unfixable), unfixable, and the reference's >30% critical flag
    (gold_annotator_component.py:104-107)."""
    spans = _aligned_spans(tokens, gold, id_col)
    return spans.groupBy(id_col).agg(
        F.count("*").alias("n_gold"),
        F.sum(
            (F.col("fixed_end").isNull() | F.col("repaired")).cast("int")
        ).alias("failed_overlays"),
        F.sum(F.col("fixed_end").isNull().cast("int")).alias("unfixable"),
    ).withColumn(
        "critical", F.col("failed_overlays") > 0.3 * F.col("n_gold")
    )

"""Stratified fold assignment + per-fold train/test splits (X4/J12).

Reproduces medacy's ``create_folds`` (medacy/model/model.py:23-66) exactly:

  * labels are sorted ascending (np.unique; the reference's ``np.flip`` at
    model.py:42 is a no-op — its result is never assigned — so the
    documented "most examples first" order never happens; we replicate the
    *actual* behavior),
  * a single fold cycler runs over labels in that order; each not-yet-
    assigned sequence containing the label is appended round-robin, in
    sequence-index order.

Equivalent closed form: order sequences by (alphabetically smallest label
they contain, sequence index); fold = (global row_number - 1) mod k. That
is a pure numbering computation — one range sort, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medacy_spark.plans.numbering import global_row_index


def assign_folds(
    sequences: DataFrame,
    num_folds: int = 10,
) -> DataFrame:
    """sequences(seq_id, labels array<string>) -> (seq_id, fold int).

    Sequences with an empty label set are never assigned by the reference
    (they appear in no fold) — they are dropped here too.

    fold = (global position in (smallest label, seq_id) order) mod k,
    numbered by ``plans.numbering.global_row_index``: range partition,
    per-partition counts, offsets plus a local row_number — no
    single-partition exchange anywhere in the plan (gate-tested).
    """
    if num_folds < 2:
        raise ValueError(f"'num_folds' must be >= 2, but is {num_folds!r}")
    keyed = sequences.filter(F.size("labels") > 0).select(
        "seq_id", F.array_min("labels").alias("_first_label")
    )
    ranked = global_row_index(keyed, ["_first_label", "seq_id"], "_rn")
    return ranked.select("seq_id", (F.col("_rn") % num_folds).cast("int").alias("fold"))


def fold_split(data: DataFrame, folds: DataFrame, k: int):
    """J12: (train, test) DataFrames for fold k — a fold column beats an
    indices join (model.py:380-392)."""
    j = data.join(folds, "seq_id")
    return j.filter(F.col("fold") != k).drop("fold"), j.filter(F.col("fold") == k).drop("fold")

"""Annotation algebra: reference invariants (test_annotation.py analogues)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medacy_spark.operators.annotations import (
    ambiguity,
    counts,
    exact_difference,
    exact_intersection,
    from_ann_lines,
    labels,
    lenient_difference,
    lenient_intersection,
    to_ann_lines,
    union_dedup,
)

REF = "/root/reference/medacy/tests/sample_data"


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, tag string, start long, end long, text string"
    )


def test_difference_with_self_is_empty(spark):
    m = _mentions(spark, [(1, "A", 0, 5, "hello"), (1, "B", 6, 9, "two")])
    assert exact_difference(m, m).count() == 0


def test_union_dedup_semantics(spark):
    a = _mentions(spark, [(1, "A", 0, 5, "x"), (1, "B", 6, 9, "y")])
    b = _mentions(spark, [(1, "A", 0, 5, "x"), (1, "C", 10, 12, "z")])
    u = union_dedup(a, b)
    assert u.count() == 3
    assert exact_intersection(a, b).count() == 1


def test_lenient_window_join(spark):
    gold = _mentions(spark, [(1, "A", 10, 20, "g")])
    # within window: w = ceil(0.2*10) = 2 → contained in [8, 22]
    ok = _mentions(spark, [(1, "A", 9, 21, "p")])
    out = _mentions(spark, [(1, "A", 7, 21, "p")])
    assert lenient_intersection(gold, ok, 0.2).count() == 1
    assert lenient_intersection(gold, out, 0.2).count() == 0
    assert lenient_difference(gold, out, 0.2).count() == 1


def test_brat_roundtrip_and_tnum_order(spark):
    m = _mentions(
        spark,
        [(1, "B", 30, 35, "later"), (1, "A", 0, 5, "first"), (1, "A", 10, 12, "mid")],
    )
    lines = to_ann_lines(m)
    got = [r["line"] for r in lines.orderBy("line").collect()]
    # T ids renumbered 1..n in (start, end) order (annotations.py:96-115)
    assert got == ["T1\tA 0 5\tfirst", "T2\tA 10 12\tmid", "T3\tB 30 35\tlater"]
    back = from_ann_lines(lines)
    assert back.exceptAll(m.select("doc_id", "tag", "start", "end", "text")).count() == 0


def test_discontinuous_span_collapse(spark):
    """BRAT `T1\\tA 12 15;20 25\\ttext` collapses to (12, 25)
    (annotations.py:57-58)."""
    lines = spark.createDataFrame(
        [(1, "T1\tA 12 15;20 25\tsome text")], "doc_id long, line string"
    )
    row = from_ann_lines(lines).collect()[0]
    assert (row["tag"], row["start"], row["end"], row["text"]) == ("A", 12, 25, "some text")


def test_ambiguity_pairs(spark):
    m = _mentions(
        spark,
        [(1, "A", 0, 10, "x"), (1, "B", 5, 15, "y"), (1, "C", 20, 30, "z"),
         (1, "A", 12, 22, "w")],
    )
    pairs = ambiguity(m, m, self_compare=True)
    got = {(r["tag_a"], r["start_a"], r["tag_b"], r["start_b"]) for r in pairs.collect()}
    # ordered pairs: A(0,10)×B(5,15), B(5,15)×A(12,22), A(12,22)×C(20,30)
    assert got == {("A", 0, "B", 5), ("B", 5, "A", 12), ("A", 12, "C", 20)}


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_reference_ambiguity_golden(spark):
    """PMC1257590 self-compare has 25 ambiguous entities
    (reference test_annotation.py:95-100: dict keyed by the left entity).
    confusion_cells' off-diagonal cells count one increment per distinct
    ambiguous gold, so they sum to the same number."""
    from medacy_spark.operators.annotations import confusion_cells

    def n_ambiguous(a, b):
        return sum(r["cnt"] for r in confusion_cells(a, b).collect()
                   if r["gold_tag"] != r["sys_tag"])

    df = spark.read.text(f"{REF}/sample_dataset_1/PMC1257590.ann").select(
        F.lit(1).alias("doc_id"), F.col("value").alias("line")
    )
    m = from_ann_lines(df)
    assert n_ambiguous(m, m) == 25
    # introducing one label mismatch adds exactly one ambiguous entity
    first = m.orderBy("start", "end").limit(1).withColumn("tag", F.lit("different_name"))
    m2 = first.unionByName(m.exceptAll(m.orderBy("start", "end").limit(1)))
    assert n_ambiguous(m, m2) == 26


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_reference_ann_write_parse_roundtrip(spark):
    """Parse the reference's own .ann fixtures, re-serialize with our
    writer, re-parse — the mention relation must survive exactly (T ids
    renumber, which is the reference's own to_ann behavior)."""
    df = spark.read.text(f"{REF}/sample_dataset_1/PMC1314908.ann").select(
        F.lit(1).alias("doc_id"), F.col("value").alias("line")
    )
    m = from_ann_lines(df)
    again = from_ann_lines(to_ann_lines(m))
    a = m.select("doc_id", "tag", "start", "end", F.translate("text", "\n", " ").alias("text"))
    b = again.select("doc_id", "tag", "start", "end", "text")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_labels_and_counts(spark):
    m = _mentions(spark, [(1, "A", 0, 5, "x"), (2, "A", 0, 5, "x"), (2, "B", 6, 7, "y")])
    assert {r["tag"] for r in labels(m).collect()} == {"A", "B"}
    got = {r["tag"]: r["cnt"] for r in counts(m).collect()}
    assert got == {"A": 2, "B": 1}


def test_confusion_cells_reference_semantics(spark):
    """compute_confusion_matrix parity (annotations.py:197-232): the
    off-diagonal dict-assignment keeps only the LAST overlapping
    different-label candidate per distinct gold; the diagonal counts the
    distinct matched-gold SET, not (gold, system) pairs."""
    from medacy_spark.operators.annotations import confusion_cells

    gold = _mentions(spark, [(1, "A", 0, 10, "g1"), (1, "B", 20, 30, "g2")])
    sys = _mentions(
        spark,
        [
            # two same-tag contained matches for g1 → diagonal still 1
            (1, "A", 0, 5, "s1"),
            (1, "A", 5, 10, "s2"),
            # two diff-label overlaps for g1: C(2,6) then D(8,12) — only the
            # LAST in (start, end) order (D) survives the dict assignment
            (1, "C", 2, 6, "s3"),
            (1, "D", 8, 12, "s4"),
            # one diff-label overlap for g2
            (1, "C", 25, 28, "s5"),
        ],
    )
    cells = {
        (r["gold_tag"], r["sys_tag"]): r["cnt"]
        for r in confusion_cells(gold, sys).collect()
    }
    assert cells == {("A", "A"): 1, ("A", "D"): 1, ("B", "C"): 1}


def test_confusion_cells_duplicate_golds_collapse(spark):
    """Exact-duplicate gold tuples are one dict/set key in the reference."""
    from medacy_spark.operators.annotations import confusion_cells

    gold = _mentions(spark, [(1, "A", 0, 10, "g"), (1, "A", 0, 10, "g")])
    sys = _mentions(spark, [(1, "A", 0, 10, "g"), (1, "B", 5, 15, "x")])
    cells = {
        (r["gold_tag"], r["sys_tag"]): r["cnt"]
        for r in confusion_cells(gold, sys).collect()
    }
    assert cells == {("A", "A"): 1, ("A", "B"): 1}


def test_from_ann_lines_rejects_malformed(spark):
    """Reference brat_pattern (annotations.py:22) requires (\\d+ \\d+;)*\\d+ \\d+
    spans and non-empty mention text; malformed T-lines are skipped."""
    lines = spark.createDataFrame(
        [
            (1, "T1\tA 0 5\tok"),
            (1, "T2\tB 7\tsingle-number span"),   # rejected
            (1, "T3\tC 9 12\t"),                  # empty text → rejected
            (1, "T4\tD nine 12\twords"),          # non-numeric → rejected
            (1, "#1\tAnnotatorNotes T1\tnote"),   # not a T line
            (1, "T5\tE 1 4;6 9\tdiscontinuous ok"),
        ],
        "doc_id long, line string",
    )
    got = {(r["tag"], r["start"], r["end"]) for r in from_ann_lines(lines).collect()}
    assert got == {("A", 0, 5), ("E", 1, 9)}


def test_to_ann_lines_tied_spans_deterministic(spark):
    """Spans tied on (start, end) renumber deterministically by (tag, text)."""
    m = _mentions(spark, [(1, "B", 0, 5, "x"), (1, "A", 0, 5, "x")])
    got = [r["line"] for r in to_ann_lines(m).orderBy("line").collect()]
    assert got == ["T1\tA 0 5\tx", "T2\tB 0 5\tx"]

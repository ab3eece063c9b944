"""Scorer parity: golden Measures vs the reference's own fixtures, plus
greedy-matcher edge cases (duplicates, silent consumption)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from medacy_spark.operators.annotations import from_ann_lines
from medacy_spark.operators.scoring import measures, with_prf

REF = "/root/reference/medacy/tests/sample_data"

STRICT_EXPECTED = {
    "CellLine": (7, 0, 0), "Dose": (29, 3, 2), "DoseDuration": (5, 0, 0),
    "DoseDurationUnits": (5, 0, 0), "DoseFrequency": (2, 0, 0),
    "DoseRoute": (5, 26, 10), "DoseUnits": (23, 3, 3),
    "Endpoint": (33, 151, 78), "EndpointUnitOfMeasure": (17, 16, 11),
    "GroupName": (11, 5, 4), "GroupSize": (11, 0, 0), "SampleSize": (3, 0, 0),
    "Sex": (17, 0, 1), "Species": (41, 1, 6), "Strain": (6, 0, 0),
    "TestArticle": (33, 87, 32), "TestArticlePurity": (1, 0, 0),
    "TimeAtFirstDose": (0, 2, 1), "TimeEndpointAssessed": (8, 2, 2),
    "TimeUnits": (8, 1, 1), "Vehicle": (13, 5, 4), "system": (278, 302, 155),
}
LENIENT_EXPECTED = {
    "CellLine": (7, 0, 0), "Dose": (30, 1, 1), "DoseDuration": (5, 0, 0),
    "DoseDurationUnits": (5, 0, 0), "DoseFrequency": (2, 0, 0),
    "DoseRoute": (15, 5, 0), "DoseUnits": (26, 0, 0), "Endpoint": (99, 27, 12),
    "EndpointUnitOfMeasure": (26, 3, 2), "GroupName": (14, 0, 1),
    "GroupSize": (11, 0, 0), "SampleSize": (3, 0, 0), "Sex": (17, 0, 1),
    "Species": (42, 0, 5), "Strain": (6, 0, 0), "TestArticle": (63, 30, 2),
    "TestArticlePurity": (1, 0, 0), "TimeAtFirstDose": (1, 0, 0),
    "TimeEndpointAssessed": (9, 0, 1), "TimeUnits": (9, 0, 0),
    "Vehicle": (16, 0, 1), "system": (407, 66, 26),
}


def _load_ref(spark, dirname):
    files = [f"{REF}/{dirname}/PMC1257590.ann", f"{REF}/{dirname}/PMC1314908.ann",
             f"{REF}/{dirname}/PMC1392236.ann"]
    df = spark.read.text(files).withColumn("f", F.input_file_name())
    df = df.select(
        F.xxhash64(F.regexp_extract("f", r"([^/]+)\.ann$", 1)).alias("doc_id"),
        F.col("value").alias("line"),
    )
    return from_ann_lines(df)


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
@pytest.mark.parametrize("mode,expected", [
    ("strict", STRICT_EXPECTED), ("lenient", LENIENT_EXPECTED),
])
def test_golden_measures(spark, mode, expected):
    gold = _load_ref(spark, "sample_dataset_1")
    pred = _load_ref(spark, "sample_dataset_1_predictions")
    got = {r["tag"]: (r["tp"], r["fp"], r["fn"]) for r in measures(gold, pred, mode=mode).collect()}
    assert got == expected


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_golden_full_report_and_macro(spark):
    """A4 closure, golden-pinned: specificity/AUC/accuracy replay the
    reference Measures derivations (inter_dataset_agreement.py:87-106)
    with its actual tn ≡ 0 (tn is never incremented), and the
    'system (macro)' row is the unweighted per-tag mean with the micro
    row excluded (inter_dataset_agreement.py:232-237)."""
    from statistics import mean

    from medacy_spark.operators.scoring import with_full_prf, with_macro

    gold = _load_ref(spark, "sample_dataset_1")
    pred = _load_ref(spark, "sample_dataset_1_predictions")
    got = {
        r["tag"]: r
        for r in with_macro(
            with_full_prf(measures(gold, pred, mode="strict"))
        ).collect()
    }
    assert len(got) == len(STRICT_EXPECTED) + 1  # + 'system (macro)'

    def derive(tp, fp, fn):
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f = 2 * p * r / (p + r) if p + r else 0.0
        acc = tp / (tp + fp + fn) if tp + fp + fn else 0.0
        return p, r, f, acc

    for tag, counts in STRICT_EXPECTED.items():
        p, r, f, acc = derive(*counts)
        row = got[tag]
        assert row["specificity"] == 0.0          # tn ≡ 0
        assert abs(row["auc"] - r / 2) < 1e-12    # (sensitivity + 0)/2
        assert abs(row["accuracy"] - acc) < 1e-12
        assert abs(row["f1"] - f) < 1e-12

    per = [derive(*v) for k, v in STRICT_EXPECTED.items() if k != "system"]
    m = got["system (macro)"]
    assert (m["tp"], m["fp"], m["fn"]) == (None, None, None)
    assert abs(m["precision"] - mean(x[0] for x in per)) < 1e-12
    assert abs(m["recall"] - mean(x[1] for x in per)) < 1e-12
    assert abs(m["f1"] - mean(x[2] for x in per)) < 1e-12
    assert abs(m["accuracy"] - mean(x[3] for x in per)) < 1e-12


def _m(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, tag string, start long, end long, text string"
    )


def test_greedy_silent_consumption(spark):
    """Two predictions overlapping one gold: 1 tp, 0 fp — the second is
    consumed silently (inter_dataset_agreement.py:166-172)."""
    gold = _m(spark, [(1, "A", 0, 10, "g")])
    pred = _m(spark, [(1, "A", 0, 5, "p1"), (1, "A", 5, 10, "p2")])
    row = measures(gold, pred, mode="lenient").filter("tag = 'A'").collect()[0]
    assert (row["tp"], row["fp"], row["fn"]) == (1, 0, 0)


def test_strict_duplicate_spans(spark):
    """Duplicate system spans on one gold key: tp = min counts, extra
    duplicates consumed (not fp)."""
    gold = _m(spark, [(1, "A", 0, 5, "g")])
    pred = _m(spark, [(1, "A", 0, 5, "p"), (1, "A", 0, 5, "p"), (1, "B", 9, 12, "q")])
    got = {r["tag"]: (r["tp"], r["fp"], r["fn"]) for r in measures(gold, pred, mode="strict").collect()}
    assert got["A"] == (1, 0, 0)
    assert got["B"] == (0, 1, 0)
    assert got["system"] == (1, 1, 0)


def test_prf_zero_division(spark):
    gold = _m(spark, [(1, "A", 0, 5, "g")])
    pred = _m(spark, [(2, "B", 0, 5, "p")])
    rows = {r["tag"]: r for r in with_prf(measures(gold, pred, mode="strict")).collect()}
    assert rows["A"]["precision"] == 0.0 and rows["A"]["recall"] == 0.0
    assert rows["B"]["precision"] == 0.0
    assert rows["system"]["f1"] == 0.0


def test_lenient_measures_string_doc_ids(spark):
    """Doc ids pass through untouched — string id columns must work
    (reference keys documents by filename, a string)."""
    from medacy_spark.operators.scoring import measures

    rows = [("fileA.txt", "Drug", 0, 7, "aspirin"), ("fileB.txt", "Drug", 3, 9, "tylnol")]
    gold = spark.createDataFrame(
        rows, "doc_id string, tag string, start long, end long, text string"
    )
    sys = spark.createDataFrame(
        [("fileA.txt", "Drug", 1, 6, "spiri")],
        "doc_id string, tag string, start long, end long, text string",
    )
    got = {r["tag"]: (r["tp"], r["fp"], r["fn"]) for r in
           measures(gold, sys, mode="lenient").collect()}
    assert got["Drug"] == (1, 0, 1)
    assert got["system"] == (1, 0, 1)

"""Evaluation: greedy 1:1 mention matching + Measures + P/R/F1 (J10/A3/A4).

Re-expresses the reference's inter-dataset agreement calculator
(medacy/tools/calculators/inter_dataset_agreement.py):

  * ``measure_dataset`` iterates gold×system per document with a **greedy
    1:1 sequential matcher** (156-173): golds in sorted span order; each
    gold pairs with the first not-yet-matched system entity that `equals`
    it (strict = same (start, end, tag), entity.py:27-29; lenient = same
    tag + window overlap, entity.py:112-133).
  * ``Measures`` accumulate per tag; micro = sum over tags (203-208, 239);
    P/R/F1/specificity/accuracy derive with zero-division→0.0 (60-106).

The matcher is order-dependent, so the distributed version must replay the
sequential semantics exactly. Strict mode reduces to multiset intersection
per key (pure DataFrame). Lenient mode runs the greedy loop **per document**
inside an Arrow-batched applyInPandas — documents are independent, per-doc
cardinalities are tiny, so this parallelizes embarrassingly while being
bit-exact vs the reference (golden Measures of
tests/tools/calculators/test_inter_dataset_agreement.py:18-85).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _prep(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"), "tag",
        F.col("start").cast("long"), F.col("end").cast("long"),
    )


def match_counts_strict(
    gold: DataFrame, system: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(tp, consumed) per (doc, tag) under strict equality.

    Greedy 1:1 on exact (start, end, tag) keys degenerates to pure
    DataFrame math: tp(key) = min(gold_count, sys_count); and because the
    reference *silently consumes* system entities equal to an
    already-matched gold (inter_dataset_agreement.py:166-172), every system
    instance whose key exists in gold is consumed — consumed(key) =
    sys_count if gold_count ≥ 1 — and only never-matching instances become
    fp (fp = sys_count_total - consumed).
    """
    g = _prep(gold, id_col).groupBy("doc", "tag", "start", "end").agg(
        F.count("*").alias("gc")
    )
    s = _prep(system, id_col).groupBy("doc", "tag", "start", "end").agg(
        F.count("*").alias("sc")
    )
    tp = g.join(s, ["doc", "tag", "start", "end"]).select(
        "doc", "tag",
        F.least("gc", "sc").alias("tp"),
        F.col("sc").alias("consumed"),
    )
    return tp.groupBy("doc", "tag").agg(
        F.sum("tp").alias("tp"), F.sum("consumed").alias("consumed")
    )


def match_counts_lenient(
    gold: DataFrame,
    system: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """tp per (doc, tag) under lenient equality, replaying the reference's
    greedy pass per document bit-exactly (inter_dataset_agreement.py:156-173).

    Reference semantics: both entity lists sorted by (start, end)
    (annotations.py:69-72 via Entity.init_from_doc); iterate
    ``product(system, gold)`` — for each system entity in order, find the
    first equal gold; if that gold is unmatched both pair (tp), else the
    system entity is consumed silently. Equality (entity.py:112-131):
    same tag AND plain span overlap (s.start < g.end AND g.start < s.end).
    Matched-membership uses (start, end, tag) equality with list.remove
    semantics, which we replay with multiset counters.

    Runs inside an Arrow-batched cogroup-applyInPandas — documents are
    independent, per-doc cardinalities tiny, so this parallelizes
    embarrassingly while staying exact.
    """
    g = _prep(gold, id_col)
    s = _prep(system, id_col)
    # doc ids pass through untouched — derive the output field type from the
    # input so string/long/etc. id columns all work
    doc_type = g.schema["doc"].dataType.simpleString()

    def run(gpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc": pd.Series(dtype="object"),
                              "tag": pd.Series(dtype="object"),
                              "tp": pd.Series(dtype="int64"),
                              "consumed": pd.Series(dtype="int64")})
        if gpdf.empty or spdf.empty:
            return empty
        doc = gpdf["doc"].iloc[0]
        golds = sorted(
            zip(gpdf["start"], gpdf["end"], gpdf["tag"]), key=lambda t: (t[0], t[1])
        )
        systems = sorted(
            zip(spdf["start"], spdf["end"], spdf["tag"]), key=lambda t: (t[0], t[1])
        )
        from collections import Counter

        unmatched_gold = Counter(golds)
        unmatched_system = Counter(systems)
        tp_by_tag: dict[str, int] = {}
        consumed_by_tag: dict[str, int] = {}
        # literal replay of `for s, g in product(system_ents, gold_ents)`
        # with list-membership/remove conflating equal (start, end, tag)
        # keys — hence multiset counters, and NO break: every pair is
        # visited exactly as in the reference.
        for sv in systems:
            for gv in golds:
                same = sv[2] == gv[2] and sv[0] < gv[1] and gv[0] < sv[1]
                if not same:
                    continue
                if unmatched_system[sv] <= 0:
                    # 's not in unmatched_system' -> pair skipped
                    continue
                if unmatched_gold[gv] > 0:
                    unmatched_gold[gv] -= 1
                    unmatched_system[sv] -= 1
                    tp_by_tag[sv[2]] = tp_by_tag.get(sv[2], 0) + 1
                    consumed_by_tag[sv[2]] = consumed_by_tag.get(sv[2], 0) + 1
                else:
                    # matched an already-paired gold: consumed, but no tp
                    # and — crucially — no fp either (reference lines 166-172)
                    unmatched_system[sv] -= 1
                    consumed_by_tag[sv[2]] = consumed_by_tag.get(sv[2], 0) + 1
        if not consumed_by_tag:
            return empty
        tags = list(consumed_by_tag)
        return pd.DataFrame(
            {
                "doc": doc,
                "tag": tags,
                "tp": [tp_by_tag.get(t, 0) for t in tags],
                "consumed": [consumed_by_tag[t] for t in tags],
            }
        )

    return (
        g.groupBy("doc")
        .cogroup(s.groupBy("doc"))
        .applyInPandas(run, schema=f"doc {doc_type}, tag string, tp long, consumed long")
    )


def measures(
    gold: DataFrame,
    system: DataFrame,
    mode: str = "strict",
) -> DataFrame:
    """A3+A6: per-tag (tp, fp, fn) over the whole dataset, plus a 'system'
    micro row (rollup grand total — inter_dataset_agreement.py:203-239).

    fp(tag) = count(system, tag) - tp(tag); fn(tag) = count(gold, tag) - tp
    (inter_dataset_agreement.py:174-182).
    """
    if mode == "strict":
        tp_doc = match_counts_strict(gold, system, "doc_id")
    elif mode == "lenient":
        tp_doc = match_counts_lenient(gold, system, "doc_id")
    else:
        raise ValueError(f"mode must be strict|lenient, got {mode!r}")
    tp = tp_doc.groupBy("tag").agg(
        F.sum("tp").alias("tp"), F.sum("consumed").alias("consumed")
    )
    gc = gold.groupBy("tag").agg(F.count("*").alias("gold_cnt"))
    sc = system.groupBy("tag").agg(F.count("*").alias("sys_cnt"))
    per_tag = (
        gc.join(sc, "tag", "full_outer")
        .join(tp, "tag", "left")
        .na.fill(0, ["gold_cnt", "sys_cnt", "tp", "consumed"])
        .select(
            "tag",
            F.col("tp").cast("long").alias("tp"),
            (F.col("sys_cnt") - F.col("consumed")).cast("long").alias("fp"),
            (F.col("gold_cnt") - F.col("tp")).cast("long").alias("fn"),
        )
    )
    micro = per_tag.select(
        F.lit("system").alias("tag"),
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn"),
    )
    return per_tag.unionByName(micro)


def _safe_div(num, den):
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def with_prf(measures_df: DataFrame) -> DataFrame:
    """A4: precision / recall / F1 with zero-division→0.0
    (inter_dataset_agreement.py:60-106)."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    p = _safe_div(tp, tp + fp)
    r = _safe_div(tp, tp + fn)
    f1 = _safe_div(F.lit(2.0) * p * r, p + r)
    return measures_df.select(
        "*",
        p.alias("precision"), r.alias("recall"), f1.alias("f1"),
    ).orderBy("tag")


def with_full_prf(measures_df: DataFrame) -> DataFrame:
    """A4 closure: every derivation the reference ``Measures`` class
    defines (inter_dataset_agreement.py:87-106) — specificity, AUC (mean
    of sensitivity and specificity) and accuracy — on top of P/R/F1.

    The reference's own scoring path never increments ``tn`` (tn ≡ 0),
    so its specificity is 0/(fp+0) → 0.0 for fp>0 and the
    ZeroDivisionError branch → 0.0 for fp==0: identically 0.0. Hence
    auc = recall/2 and accuracy = tp/(tp+fp+fn) (0.0 on empty) — the
    arithmetic here replays those tn≡0 semantics rather than invent a
    tn the reference never computes."""
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    spec = F.lit(0.0)  # tn ≡ 0 in the reference scoring path
    return with_prf(measures_df).select(
        "*",
        spec.alias("specificity"),
        ((F.col("recall") + spec) / F.lit(2.0)).alias("auc"),
        _safe_div(tp, tp + fp + fn).alias("accuracy"),
    )


def with_macro(prf_df: DataFrame) -> DataFrame:
    """Append the 'system (macro)' row
    (inter_dataset_agreement.py:232-237): the unweighted mean of the
    per-tag metrics, with the 'system' MICRO row excluded — the
    reference averages over measures_dict, which has no micro entry.
    The reference macro row carries P/R/F1 only; the mean extends to
    the other derived columns for a uniform schema. Counts don't
    average: tp/fp/fn are null on the macro row."""
    metric_cols = [
        c for c in prf_df.columns if c not in ("tag", "tp", "fp", "fn")
    ]
    count_cols = [c for c in ("tp", "fp", "fn") if c in prf_df.columns]
    # the union reads prf_df twice (per-tag rows + the macro aggregate) —
    # cut the lineage so the scorer pipeline underneath runs once, not
    # once per branch (the repo's single-pass invariant)
    prf_df = prf_df.localCheckpoint(eager=False)
    macro = (
        prf_df.filter(F.col("tag") != "system")
        .agg(*[F.avg(c).alias(c) for c in metric_cols])
        .select(
            F.lit("system (macro)").alias("tag"),
            *[F.lit(None).cast("long").alias(c) for c in count_cols],
            *metric_cols,
        )
    )
    return prf_df.unionByName(macro).orderBy("tag")

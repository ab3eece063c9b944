"""Relation extraction: mentions -> (subj, pred, obj) triples (M4).

The reference's closest analogue is the rel→BRAT converter's R-lines
(`R{n}\\t{type} Arg1:T{i} Arg2:T{j}`, add_rel_to_brat.py:154) plus the
adjacency Matcher patterns that pair numbers with units
(unit_component.py:152-172). Our extractor generalizes: within a sentence,
each attribute mention (Dose/Route/Frequency/Duration/Form/ADE) attaches to
its **nearest** Drug mention, emitting `has_*` predicates — the
(Drug, has_dosage, Dose) shape of the north star.

Plan shape: the join is an equi-join on (doc, sent) — per-sentence
cardinalities are tiny, so the θ-part (distance ranking) is a cheap window
after the equi-join; at 10^12 docs everything stays partitioned by doc hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

PRED_FOR_TAG = {
    "Dose": "has_dosage",
    "Strength": "has_strength",
    "Route": "has_route",
    "Frequency": "has_frequency",
    "Duration": "has_duration",
    "Form": "has_form",
    "ADE": "has_ade",
    "Reason": "has_reason",
}


def extract_triples(mentions: DataFrame,) -> DataFrame:
    """mentions(id, sent_id, tag, start, end, text) ->
    triples(id, subj struct<tag,start,end,text>, pred, obj struct<...>).

    Each attribute mention pairs with the nearest subject mention in the
    same sentence (ties break to the earlier subject — deterministic).

    SINGLE-PASS plan: one groupBy (doc, sent) collects the sentence's
    mentions into an array; the nearest-subject search is a pure
    `aggregate` expression over that array. A mentions×mentions self-join
    here would branch the DAG and recompute the whole upstream pipeline
    twice (measured), and its ranking window would add another full
    sort — per-sentence mention counts are tiny, so the array fold is
    both exact and cheap. The explode takes the bare array and the tag
    filter follows it: a lambda ``filter`` inside the generator keeps
    ``Generate`` out of whole-stage codegen.
    """
    preds = list(PRED_FOR_TAG)
    sent_ms = mentions.groupBy("doc_id", "sent_id").agg(
        F.collect_list(F.struct("tag", "start", "end", "text")).alias("ms")
    )
    subj_arr = F.filter(F.col("ms"), lambda m: m["tag"] == "Drug")
    obj_tag = F.col("obj.tag")
    rows = sent_ms.select(
        "doc_id",
        subj_arr.alias("subjs"),
        F.explode("ms").alias("obj"),
    ).filter(
        (F.size("subjs") > 0) & obj_tag.isin(preds) & (obj_tag != "Drug")
    )
    # fold: pick the subject minimizing (|s.start - obj.start|, s.start)
    def _closer(acc, s):
        d_s = F.abs(s["start"] - F.col("obj.start"))
        d_acc = F.abs(acc["start"] - F.col("obj.start"))
        return F.when(
            (d_s < d_acc) | ((d_s == d_acc) & (s["start"] < acc["start"])), s
        ).otherwise(acc)

    best = F.aggregate(F.col("subjs"), F.element_at(F.col("subjs"), 1), _closer)
    pred = F.element_at(
        F.create_map(*[F.lit(x) for kv in PRED_FOR_TAG.items() for x in kv]),
        F.col("obj.tag"),
    )
    return rows.select(
        "doc_id",
        best.alias("subj"),
        pred.alias("pred"),
        F.col("obj"),
    )


def triples_to_brat_lines(triples: DataFrame, mentions: DataFrame) -> DataFrame:
    """Materialize R-lines: number mentions T1..Tn per doc in (start, end)
    order (annotations.py:105 / W5), then format
    `R{n}\\t{pred} Arg1:T{subj} Arg2:T{obj}` (add_rel_to_brat.py:154)."""
    wnum = Window.partitionBy("doc_id").orderBy("start", "end")
    numbered = (
        mentions.select("doc_id", "start", "end").distinct()
        .withColumn("t_num", F.row_number().over(wnum))
    )
    t1 = numbered.select(
        F.col("doc_id").alias("_id1"),
        F.col("start").alias("s1"), F.col("end").alias("e1"),
        F.col("t_num").alias("subj_t"),
    )
    t2 = numbered.select(
        F.col("doc_id").alias("_id2"),
        F.col("start").alias("s2"), F.col("end").alias("e2"),
        F.col("t_num").alias("obj_t"),
    )
    flat = triples.select(
        "doc_id", "pred",
        F.col("subj.start").alias("ss"), F.col("subj.end").alias("se"),
        F.col("obj.start").alias("os"), F.col("obj.end").alias("oe"),
    )
    j = (
        flat.join(t1, (flat["doc_id"] == t1["_id1"]) & (flat["ss"] == t1["s1"]) & (flat["se"] == t1["e1"]))
        .join(t2, (flat["doc_id"] == t2["_id2"]) & (flat["os"] == t2["s2"]) & (flat["oe"] == t2["e2"]))
    )
    wr = Window.partitionBy("doc_id").orderBy("subj_t", "obj_t", "pred")
    return j.withColumn("r_num", F.row_number().over(wr)).select(
        "doc_id",
        F.format_string("R%d\t%s Arg1:T%d Arg2:T%d",
                        F.col("r_num"), F.col("pred"),
                        F.col("subj_t"), F.col("obj_t")).alias("line"),
    )

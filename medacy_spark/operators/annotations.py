"""Annotation algebra over mention relations (M2).

The reference's ``Annotations`` class is a per-document list of
``EntTuple(tag, start, end, text)`` with set algebra, overlap analysis and
confusion matrices (medacy/data/annotations.py:117-264). Here every
operation is relational over a ``mentions`` DataFrame keyed by a document
column — so "a dataset of Annotations" and "one Annotations" are the same
thing, and every op distributes over documents with a single hash shuffle.

All joins are equi-joins on (doc, [tag]) with span θ-post-filters: the doc
key bounds the cross product, so at 10^12 docs these never explode. For
adversarial per-doc cardinalities use operators/intervals.py's bucketed
band join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from medacy_spark.functions.spans import lenient_contains, overlap_len

KEY = ("tag", "start", "end", "text")


def _k(id_col: str) -> list[str]:
    return [id_col, *KEY]


def labels(mentions: DataFrame) -> DataFrame:
    """P1: distinct tag set (annotations.py:74-84, dataset.py:252-265)."""
    return mentions.select("tag").distinct()


def counts(mentions: DataFrame, id_col: str | None = None) -> DataFrame:
    """A1: Counter(tag) (annotations.py:234-239); pass id_col for per-doc."""
    keys = [id_col, "tag"] if id_col else ["tag"]
    return mentions.groupBy(*keys).agg(F.count("*").alias("cnt"))


def union_dedup(a: DataFrame, b: DataFrame) -> DataFrame:
    """U1: `|` union with EntTuple dedup (annotations.py:250-264)."""
    cols = _k("doc_id")
    return a.select(*cols).unionByName(b.select(*cols)).distinct()


def exact_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """J3: set difference on the full tuple (annotations.py:130-131)."""
    cols = _k("doc_id")
    return a.select(*cols).exceptAll(b.select(*cols).distinct()).distinct()


def exact_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    """J4: set intersection on the full tuple (annotations.py:158-159)."""
    cols = _k("doc_id")
    return a.select(*cols).intersect(b.select(*cols))


def lenient_intersection(
    gold: DataFrame, system: DataFrame, leniency: float
) -> DataFrame:
    """J5: gold mentions having ≥1 system mention contained in the widened
    window, same tag (annotations.py:163-172). Returns matching gold rows.

    Reference semantics: for each gold entity iterate candidates sorted by
    (start, end) and keep the gold if any matches ("first match wins" only
    matters for which *candidate* matched; the output is the gold row) —
    a left-semi join reproduces it exactly.
    """
    g = gold.select(*_k("doc_id"))
    s = system.select(
        F.col("doc_id").alias("_id"), F.col("tag").alias("_tag"),
        F.col("start").alias("_start"), F.col("end").alias("_end"),
    )
    cond = (
        (g["doc_id"] == s["_id"]) & (g["tag"] == s["_tag"])
        & lenient_contains(g["start"], g["end"], s["_start"], s["_end"], leniency)
    )
    return g.join(s, cond, "left_semi")


def lenient_difference(
    gold: DataFrame, system: DataFrame, leniency: float, id_col: str = "doc_id"
) -> DataFrame:
    """J5 complement: gold rows with no lenient match (annotations.py:135-145)."""
    g = gold.select(*_k(id_col))
    s = system.select(
        F.col(id_col).alias("_id"), F.col("tag").alias("_tag"),
        F.col("start").alias("_start"), F.col("end").alias("_end"),
    )
    cond = (
        (g[id_col] == s["_id"]) & (g["tag"] == s["_tag"])
        & lenient_contains(g["start"], g["end"], s["_start"], s["_end"], leniency)
    )
    return g.join(s, cond, "left_anti")


def ambiguity(
    a: DataFrame, b: DataFrame, self_compare: bool | None = None
) -> DataFrame:
    """J6: overlapping spans with different labels (annotations.py:174-195).

    Returns pairs (id, tag_a, start_a, end_a, text_a, tag_b, start_b, end_b,
    text_b, overlap). For a self-compare the reference iterates ordered pairs
    of *distinct entities*; we keep (a,b) where the pair is ordered by
    (start, end, tag) to avoid double counting, matching the reference's
    one-directional scan count (test_annotation.py:95-100 golden 25/26).
    """
    if self_compare is None:
        self_compare = a is b
    left = a.select(
        F.col("doc_id").alias("id"), F.col("tag").alias("tag_a"),
        F.col("start").alias("start_a"), F.col("end").alias("end_a"),
        F.col("text").alias("text_a"),
    )
    right = b.select(
        F.col("doc_id").alias("id2"), F.col("tag").alias("tag_b"),
        F.col("start").alias("start_b"), F.col("end").alias("end_b"),
        F.col("text").alias("text_b"),
    )
    ov = overlap_len(
        F.col("start_a"), F.col("end_a"), F.col("start_b"), F.col("end_b")
    )
    cond = (F.col("id") == F.col("id2")) & (F.col("tag_a") != F.col("tag_b")) & (ov != 0)
    if self_compare:
        cond = cond & (
            F.struct("start_a", "end_a", "tag_a") < F.struct("start_b", "end_b", "tag_b")
        )
    return (
        left.join(right, cond)
        .drop("id2")
        .withColumn("overlap", ov)
    )


def confusion_cells(
    gold: DataFrame,
    system: DataFrame,
    leniency: float = 0.0,
    ) -> DataFrame:
    """A2 cells, unpivoted — reference-exact (annotations.py:197-232).

    Off-diagonal: ``compute_ambiguity`` (annotations.py:174-195) keys a dict
    by the gold EntTuple and *assigns* (not appends) each overlapping
    different-label system entity, so only the LAST candidate in iteration
    order survives — one increment per distinct ambiguous gold. Iteration
    order is the annotations-setter sort: (start, end) ascending, stable
    (annotations.py:71-73); we tie-break equal (start, end) candidates by
    (tag, text) for run-to-run determinism.
    Diagonal: ``intersection`` (annotations.py:163-172) returns a *set* of
    matched gold tuples — count distinct matched golds, not (gold, system)
    pairs. A gold can contribute to both a diagonal and an off-diagonal
    cell, as in the reference (the two passes are independent).
    """
    g = gold.select(
        F.col("doc_id").alias("id"), F.col("tag").alias("gold_tag"),
        F.col("start").alias("g_start"), F.col("end").alias("g_end"),
        F.col("text").alias("g_text"),
    ).distinct()  # dict/set keys collapse exact-duplicate gold tuples
    s = system.select(
        F.col("doc_id").alias("id2"), F.col("tag").alias("sys_tag"),
        F.col("start").alias("s_start"), F.col("end").alias("s_end"),
        F.col("text").alias("s_text"),
    )
    same = (F.col("gold_tag") == F.col("sys_tag")) & lenient_contains(
        F.col("g_start"), F.col("g_end"), F.col("s_start"), F.col("s_end"), leniency
    )
    diag = (
        g.join(s, (F.col("id") == F.col("id2")) & same, "left_semi")
        .groupBy("gold_tag")
        .agg(F.count("*").alias("cnt"))
        .select("gold_tag", F.col("gold_tag").alias("sys_tag"), "cnt")
    )
    diff = (F.col("gold_tag") != F.col("sys_tag")) & (
        overlap_len(F.col("g_start"), F.col("g_end"), F.col("s_start"), F.col("s_end")) != 0
    )
    w = Window.partitionBy("id", "gold_tag", "g_start", "g_end", "g_text").orderBy(
        F.col("s_start").desc(), F.col("s_end").desc(),
        F.col("sys_tag").desc(), F.col("s_text").desc(),
    )
    off = (
        g.join(s, (F.col("id") == F.col("id2")) & diff)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("gold_tag", "sys_tag")
        .agg(F.count("*").alias("cnt"))
    )
    return diag.unionByName(off)


def lexical_variation(mentions: DataFrame) -> DataFrame:
    """A7: distinct mention texts ÷ total mentions per tag
    (lexical_variation.py:17-49)."""
    return mentions.groupBy("tag").agg(
        F.countDistinct("text").alias("distinct_texts"),
        F.count("*").alias("total"),
        (F.countDistinct("text") / F.count("*")).alias("variation"),
    )


def to_ann_lines(mentions: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """S3: BRAT writer — renumber T ids 1..n in (start, end) order, newlines
    in mention text become spaces, tab-formatted lines
    (annotations.py:96-115). The reference's sort is (start, end) with
    stable insertion-order ties (annotations.py:71-73); (tag, text) break
    exact span ties here so numbering is deterministic across runs."""
    w = Window.partitionBy(id_col).orderBy("start", "end", "tag", "_text")
    return mentions.select(
        id_col, "tag", "start", "end",
        F.translate("text", "\n", " ").alias("_text"),
    ).withColumn("t_num", F.row_number().over(w)).select(
        id_col,
        F.format_string(
            "T%d\t%s %d %d\t%s",
            F.col("t_num"), F.col("tag"), F.col("start"), F.col("end"), F.col("_text"),
        ).alias("line"),
    )


def from_ann_lines(lines: DataFrame) -> DataFrame:
    """S2: BRAT parser — regex-scan T-lines into (tag, start, end, text).

    Handles the reference's discontinuous-span collapse (first start, last
    end — annotations.py:57-58): spans like `12 15;20 25` become (12, 25).
    Lines are validated against the full brat_pattern
    (annotations.py:22: ``T(\\d+)\\t(\\S+) ((\\d+ \\d+;)*\\d+ \\d+)\\t(.+)``)
    so malformed T-lines — single-number spans, empty mention text — are
    dropped exactly as the reference's finditer skips them.
    Input: (id, line).
    """
    span_part = F.regexp_extract("line", r"^T\d+\t\S+ ([\d ;]+)\t", 1)
    first_start = F.split(F.split(span_part, ";").getItem(0), " ").getItem(0)
    last_pair = F.element_at(F.split(span_part, ";"), -1)
    last_end = F.element_at(F.split(F.trim(last_pair), " "), -1)
    return lines.filter(
        F.col("line").rlike(r"^T\d+\t\S+ (\d+ \d+;)*\d+ \d+\t.")
    ).select(
        "doc_id",
        F.regexp_extract("line", r"^T\d+\t(\S+)", 1).alias("tag"),
        first_start.cast("long").alias("start"),
        last_end.cast("long").alias("end"),
        F.regexp_extract("line", r"^T\d+\t[^\t]+\t(.*)$", 1).alias("text"),
    )

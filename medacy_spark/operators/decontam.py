"""Benchmark decontamination: n-gram overlap between a training corpus
and an evaluation/benchmark table.

The standard training-data hygiene step (GPT-3 appendix C / Llama-2
style): a document is *contaminated* if any of its word n-grams also
appears in the benchmark set; pipelines drop or flag such docs so eval
numbers aren't inflated by memorized test items. The reference engine
has no analogue (it never trains on web text) — this is part of the
beyond-reference LLM-pipeline surface, next to dedup and quality
scoring (operators/dedup.py, operators/textstats.py).

Scale shape: the benchmark side is *bounded* (eval suites are thousands
of items, not corpus-scale), so its distinct-gram set is the natural
broadcast side — but, like graph.canonicalize_triples, the broadcast
hint is applied only below a counted threshold; above it the overlap
stays a shuffle equi-join on the gram. The corpus side is one narrow
tokenize+explode, one join, one map-side-combinable groupBy(doc_id) —
no windows, no cartesian anything.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medacy_spark.operators.textstats import word_ngrams


def benchmark_ngrams(
    benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """Distinct word n-grams of the benchmark table: one column ``gram``.
    Entries shorter than ``n`` tokens contribute nothing."""
    # split hoisted into its own projection — word_ngrams references the
    # token array per gram position inside a lambda, where an inlined
    # split(text) would re-evaluate every time (see dedup.word_shingles_arr)
    return (
        benchmark.select(F.split(F.col("text"), " ").alias("_toks"))
        .select(F.explode(word_ngrams(F.col("_toks"), n)).alias("gram"))
        .distinct()
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    broadcast_max_grams: int = 5_000_000,
) -> DataFrame:
    """Per-document contamination profile against a benchmark table.

    Returns (id, n_grams, n_contaminated, contamination_frac,
    contaminated): positional n-gram occurrences in the doc, how many of
    them appear anywhere in the benchmark's distinct n-gram set, their
    ratio (0.0 for docs shorter than ``n`` tokens), and the boolean flag
    a filter stage would drop on.

    The benchmark gram set is counted once (it is localCheckpointed, so
    the count is a cache scan, not a recompute) and broadcast only when
    it fits under ``broadcast_max_grams`` — the same bounded-broadcast
    discipline as graph.canonicalize_triples; a corpus-sized "benchmark"
    degrades to a shuffle equi-join instead of killing executors.
    """
    bg = benchmark_ngrams(benchmark, n=n).localCheckpoint()
    bg_rel = F.broadcast(bg) if bg.count() <= broadcast_max_grams else bg
    dg = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("_toks")
    ).select("doc_id", F.explode(word_ngrams(F.col("_toks"), n)).alias("gram"))
    per = (
        dg.join(bg_rel.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_contaminated"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_contaminated", F.lit(0))
            .cast("long")
            .alias("n_contaminated"),
            F.when(F.coalesce("n_grams", F.lit(0)) > 0,
                   F.col("n_contaminated") / F.col("n_grams"))
            .otherwise(F.lit(0.0))
            .alias("contamination_frac"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )

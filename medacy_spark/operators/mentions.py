"""Mention detection: gazetteer broadcast join + unit pattern matchers (M3).

Replaces the reference's learner with a deterministic rule stack behind the
same ``mentions(doc_id, tag, start, end, text)`` schema — the reference's
LexiconOverlayer (lexicon_component.py:27-52, a spaCy PhraseMatcher) becomes
a **broadcast hash join** of exploded token n-grams against the gazetteer,
and the UnitOverlayer Matcher patterns (unit_component.py:61-172) become
lead()-column adjacency predicates (operators/sequence.py). A model-scoring
mapInPandas stage (operators/ner_model.py) plugs into the same schema.

Scale notes: the gazetteer is tiny → F.broadcast, zero shuffle; matchers are
window functions over (doc, sent) — co-partitioned with tokenization, so the
whole detection stage is one shuffle end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from medacy_spark.corpus import lexicons as lex
from medacy_spark.session import local_table


def gazetteer_df(spark: SparkSession) -> DataFrame:
    return local_table(spark, lex.gazetteer_rows(), "label string, term string")


def gazetteer_mentions(
    tokens: DataFrame,
    gazetteer: DataFrame,
    max_ngram: int = 1,
) -> DataFrame:
    """Broadcast-join token n-grams (n ≤ max_ngram) against (label, term) —
    the LexiconOverlayer's PhraseMatcher (lexicon_component.py:27-52) as a
    relational plan.

    PhraseMatcher semantics replicated:
      * phrases up to max_ngram tokens (the reference caps at 10,
        lexicon_component.py:37);
      * ALL matches are emitted, not just the longest — a unigram term
        inside a matched bigram still matches (spaCy returns every match);
      * matches may cross sentence boundaries (the matcher runs on the
        whole Doc). Matching is case-insensitive on the joined surface
        (the reference matches ORTH of `nlp.make_doc(term)` output; our
        gazetteers are lowercase, so LOWER == ORTH there — documented
        divergence for mixed-case corpora).

    Plan shape: ONE lead() window pass (shares the tokenizer's doc
    partitioning) builds one candidate struct per (token, n); explode
    (whole-stage codegen, see detect_mentions) + broadcast hash join — no
    shuffle beyond the token exchange, no SortMergeJoin (plan-gated). The
    n-gram lengths actually present in the gazetteer are read driver-side
    first (the gazetteer is a broadcast-scale dim table — this collect is
    dim-metadata, same class as planning the broadcast itself), so a
    max_ngram=10 call with only 1-2-word terms explodes 2x per token, not
    10x.
    """
    ns = sorted(
        {
            r["n"]
            for r in gazetteer.select(
                F.size(F.split(F.col("term"), " ")).alias("n")
            ).distinct().collect()
            if 1 <= r["n"] <= max_ngram
        }
    )
    if not ns:
        ns = [1]
    from pyspark.sql import Window

    has_pos = "pos" in tokens.columns
    order_cols = ["pos"] if has_pos else ["sent_id", "tok_id"]
    w = Window.partitionBy("doc_id").orderBy(*order_cols)
    t = tokens if has_pos else tokens.withColumn("pos", F.lit(None).cast("int"))
    for i in range(1, max(ns)):
        t = t.withColumn(f"_w{i}", F.lead("word", i).over(w))
        t = t.withColumn(f"_e{i}", F.lead("end_idx", i).over(w))
        t = t.withColumn(f"_p{i}", F.lead("pos", i).over(w))
    cands = []
    for n in ns:
        words = [F.col("word")] + [F.col(f"_w{i}") for i in range(1, n)]
        end = F.col("end_idx") if n == 1 else F.col(f"_e{n - 1}")
        # ACTUAL source positions of the covered tokens — correct even on
        # a filtered (non-dense-pos) stream, where pos..pos+n-1 would
        # flag the wrong rows
        positions = F.array(
            F.col("pos"), *[F.col(f"_p{i}") for i in range(1, n)]
        )
        surface = F.concat_ws(" ", *words)
        cands.append(
            F.when(
                words[-1].isNotNull(),
                F.struct(
                    F.lower(surface).alias("norm"),
                    F.lit(n).alias("n"),
                    F.col("idx").alias("start"),
                    end.alias("end"),
                    surface.alias("text"),
                    positions.alias("positions"),
                ),
            )
        )
    # fixed output schema regardless of input shape: pos/positions are
    # null when the token stream carries none (a schema that forks on the
    # input breaks unions of mention tables from different tokenizers)
    spans = t.select(
        "doc_id",
        "sent_id",
        F.explode(F.array(*cands)).alias("g"),
    ).filter(F.col("g").isNotNull()).select(
        "doc_id", "sent_id",
        F.element_at("g.positions", 1).alias("pos"),
        F.col("g.norm").alias("_norm"),
        F.col("g.n").alias("n"),
        F.col("g.start").alias("start"),
        F.col("g.end").alias("end"),
        F.col("g.text").alias("text"),
        F.col("g.positions").alias("positions"),
    )
    g = F.broadcast(gazetteer.select(F.lower("term").alias("_norm"), "label"))
    return spans.join(g, "_norm").select(
        "doc_id", "sent_id", "pos", "n",
        F.col("label").alias("tag"),
        "start", "end", "text", "positions",
    )


def lexicon_overlay(
    tokens: DataFrame,
    gazetteer: DataFrame,
    max_ngram: int = 10,
) -> DataFrame:
    """Per-token ``feature_is_<label>_from_lexicon`` flags — the reference
    sets the flag on EVERY token inside a matched span
    (lexicon_component.py:44-52). Requires a ``pos`` column (doc-wide token
    position, tokenize_native keeps it).

    Covered positions come straight from the match's own ``positions``
    array (the ACTUAL source positions of the n-gram tokens — correct
    even on a filtered, non-dense-pos stream), explode + one
    co-partitioned aggregation back onto (doc, pos); no interval join.
    The token lineage is cut first: the match builder and the flag join
    both read it (the single-pass rule).
    """
    if "pos" not in tokens.columns:
        raise ValueError(
            "lexicon_overlay needs a doc-wide 'pos' column (tokenize_native "
            "keeps one); without it covered-token positions are undefined"
        )
    labels = sorted(
        r["label"] for r in gazetteer.select("label").distinct().collect()
    )
    tokens = tokens.localCheckpoint(eager=False)
    m = gazetteer_mentions(tokens, gazetteer, max_ngram)
    covered = m.select(
        "doc_id",
        F.explode("positions").alias("pos"),
        "tag",
    ).groupBy("doc_id", "pos").agg(F.collect_set("tag").alias("_tags"))
    out = tokens.join(covered, ["doc_id", "pos"], "left")
    for lab in labels:
        out = out.withColumn(
            f"feature_is_{lab}_from_lexicon",
            F.coalesce(F.array_contains("_tags", lab), F.lit(False)),
        )
    return out.drop("_tags")


def detect_mentions(
    tokens: DataFrame,
    gazetteer: DataFrame,
) -> DataFrame:
    """Full rule-stack detection -> mentions(doc_id, sent_id, tag, start, end, text).

    SINGLE-PASS plan: one broadcast left-join for the gazetteer label, one
    lead() window for the adjacency patterns, then each token emits 0-2
    mention structs via explode. No union — a union would branch the DAG
    and recompute the whole upstream pipeline once per branch (measured 2×
    the corpus synth + tokenize cost before this rewrite). The explode
    takes the bare struct array and a null filter follows it: a lambda
    ``filter`` inside the generator keeps ``Generate`` out of whole-stage
    codegen (measured: the KG chain's html + tokenize + detect stage at
    100k docs took 4.6 s of executor CPU that way, 2.9 s this way).

    The gazetteer and unit tag families are disjoint, so EntTuple dedup
    (annotations.py:250-264 union semantics) is not needed.
    """
    from medacy_spark.operators.sequence import LIKE_NUM
    from pyspark.sql import Window

    # order by the tokenizer's own sort key when present → the planner
    # elides this window's sort (ordering already satisfied)
    order_col = "pos" if "pos" in tokens.columns else "tok_id"
    w = Window.partitionBy("doc_id").orderBy(*(
        [order_col] if order_col == "pos" else ["sent_id", "tok_id"]
    ))
    t = (
        tokens.withColumn("_nw", F.lead("word").over(w))
        .withColumn("_ne", F.lead("end_idx").over(w))
        .withColumn("_ns", F.lead("sent_id").over(w))
        .withColumn("_norm", F.lower(F.col("word")))
        .withColumn("_nl", F.lower(F.col("_nw")))
    )
    g = F.broadcast(gazetteer.select(F.lower("term").alias("_norm"), "label"))
    j = t.join(g, "_norm", "left")

    dose_u = [u.lower() for u in lex.DOSE_UNITS]
    time_u = [u.lower() for u in lex.TIME_UNITS]
    gz_m = F.when(
        F.col("label").isNotNull(),
        F.struct(
            F.col("label").alias("tag"),
            F.col("idx").alias("start"),
            F.col("end_idx").alias("end"),
            F.col("word").alias("text"),
        ),
    )
    unit_ok = (
        F.col("word").rlike(LIKE_NUM)
        & (F.col("_ns") == F.col("sent_id"))
        & F.col("_nl").isin(dose_u + time_u)
    )
    unit_m = F.when(
        unit_ok,
        F.struct(
            F.when(F.col("_nl").isin(dose_u), F.lit("Dose"))
            .otherwise(F.lit("Duration")).alias("tag"),
            F.col("idx").alias("start"),
            F.col("_ne").alias("end"),
            F.concat_ws(" ", "word", "_nw").alias("text"),
        ),
    )
    return j.select(
        "doc_id", "sent_id", F.explode(F.array(gz_m, unit_m)).alias("m"),
    ).filter(F.col("m").isNotNull()).select(
        "doc_id", "sent_id",
        F.col("m.tag").alias("tag"),
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.text").alias("text"),
    )

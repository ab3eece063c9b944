"""Feature extraction: tokens -> per-sentence FeatureTuples (X1 tail, W1).

The reference's FeatureExtractor (discrete_feature_extractor.py:25-40)
yields one ``FeatureTuple(features, indices, file_name)`` per sentence:
a list of per-token feature dicts (±window_size neighbor features keyed
'{i}:{name}', constant bias=1.0) plus the token char spans. Window sizes
per pipeline: clinical 3, systematic-review 10, fda-nano 6, lstm 0
(clinical_pipeline.py:41 etc.).

spaCy-derived token attributes (F18) are re-expressed as columns:
prefix_/suffix_/shape_/like_num/is_punct from pure string functions;
pos_ from the deterministic rule tagger (with_pos) and head_ from the
clause-anchor heuristic (with_head) — documented stand-ins for spaCy's
statistical tagger/parser, which are not relational expressions; a real
model would plug into the Arrow scoring stage (operators/ner_model.py).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medacy_spark.operators.sequence import LIKE_NUM, feature_window
from medacy_spark.plans.numbering import global_row_index

# Universal-POS-ish closed classes for the deterministic rule tagger
# (F18 pos_ source). First match wins — the ordering mirrors the CASE
# chain replayed by the contract oracle; never reorder, only append.
POS_DET = ["the", "a", "an", "this", "that", "these", "those"]
POS_ADP = [
    "of", "in", "on", "at", "by", "from", "with", "for", "to", "after",
    "before", "via", "over", "under", "during",
]
POS_CCONJ = ["and", "or", "but"]
POS_PRON = [
    "he", "she", "it", "they", "we", "you", "i", "his", "her", "its",
    "their", "him", "them",
]
POS_AUX = [
    "was", "were", "is", "are", "be", "been", "am", "has", "have", "had",
    "do", "does", "did",
]


def with_pos(
    tokens: DataFrame, text_col: str = "word", out_col: str = "pos_"
) -> DataFrame:
    """F18 pos_ source: a deterministic rule tagger (closed-class lookup +
    suffix heuristics) emitting universal-POS-ish tags as ONE pure column
    expression — whole-stage codegen, zero Python, SQL-replayable (the
    contract oracle runs the identical CASE chain in DuckDB).

    The reference reads ``token.pos_`` from spaCy's statistical tagger
    (discrete_feature_extractor.py:23); a statistical tagger isn't a
    relational expression, so this is the documented deterministic
    stand-in — same column contract, honestly weaker tags. The
    PerceptronLearner (learners.py) is the trainable upgrade path."""
    t = F.lower(F.col(text_col))
    pos = (
        F.when(F.col(text_col).rlike(r"^[^\w\s]+$"), F.lit("PUNCT"))
        .when(F.col(text_col).rlike(LIKE_NUM), F.lit("NUM"))
        .when(t.isin(POS_DET), F.lit("DET"))
        .when(t.isin(POS_ADP), F.lit("ADP"))
        .when(t.isin(POS_CCONJ), F.lit("CCONJ"))
        .when(t.isin(POS_PRON), F.lit("PRON"))
        .when(t.isin(POS_AUX), F.lit("AUX"))
        .when(t.rlike(r"ly$"), F.lit("ADV"))
        .when(t.rlike(r"(ing|ed)$"), F.lit("VERB"))
        .otherwise(F.lit("NOUN"))
    )
    return tokens.withColumn(out_col, pos)


def train_pos_tagger(
    tagged: "Sequence[tuple[Sequence[str], Sequence[str]]]",
    epochs: int = 5,
):
    """Trainable upgrade path for the ``pos_`` column: a Collins averaged
    perceptron (learners.PerceptronLearner — exact Viterbi, window
    features, transition weights) fit on (words, tags) sentences. POS
    tagging is the same sequence-labeling shape as NER, so the existing
    learner is the tagger; no new machinery.

    Closes part of the documented quality gap between the rule tagger
    (with_pos — closed classes + suffixes, context-blind) and spaCy's
    statistical tagger the reference reads (token.pos_,
    discrete_feature_extractor.py:23): a trained tagger disambiguates by
    context ("the increased dose" ADJ vs "was increased" VERB), which no
    per-token CASE chain can. Training is driver-side like the
    reference's; apply at scale with ``with_pos_model``. The rule path
    stays the default (and the contract oracle's) — tests gate that the
    trained tagger beats it on held-out tokens before anyone swaps."""
    from medacy_spark.learners import PerceptronLearner

    return PerceptronLearner(epochs=epochs, window=2).fit(tagged)


def with_pos_model(
    tokens: DataFrame,
    spark,
    tagger,
) -> DataFrame:
    """Apply a trained tagger (train_pos_tagger, or any callable
    ``list[list[str]] -> list[list[str]]``) as the ``pos_`` source via
    the broadcast + Arrow-batch scoring stage (operators/ner_model
    score_sentences — the X2 contract, one co-partitioned shuffle).
    Returns the scored token core (id, sent_id, tok_id, idx, end_idx,
    word, pos_); join back on (id, sent_id, tok_id) if the caller
    carries extra columns. with_spacy_features never clobbers a present
    ``pos_``, so this slots upstream of the feature windows."""
    from medacy_spark.operators.ner_model import score_sentences

    bc = spark.sparkContext.broadcast(tagger)
    return score_sentences(tokens, bc, "doc_id").withColumnRenamed("label", "pos_")


def with_head(
    tokens: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """F18 head_ source: the reference's drug_event_pipeline feeds
    ``token.head`` (the syntactic head's surface form) into the CRF
    windows (drug_event_pipeline.py:44). A dependency parser is not a
    relational expression, so this is the documented deterministic
    stand-in: head = the nearest PRECEDING verb/aux in the sentence
    (clause anchor), else the sentence-initial token; a verb is its own
    head (the root convention). One window pass over (doc, sent) — the
    tokenizer's own partitioning."""
    from pyspark.sql import Window

    # reuse an existing pos_ column (with_spacy_features already computed
    # it) instead of re-running the CASE chain
    if "pos_" in tokens.columns:
        t = tokens.withColumn("_headpos", F.col("pos_"))
    else:
        t = with_pos(tokens, "word", "_headpos")
    w = Window.partitionBy(id_col, "sent_id").orderBy("tok_id")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    is_verb = F.col("_headpos").isin("VERB", "AUX")
    last_verb = F.last(
        F.when(is_verb, F.col("word")), ignorenulls=True
    ).over(prev)
    first_tok = F.first("word").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    head = F.when(is_verb, F.col("word")).otherwise(
        F.coalesce(last_verb, first_tok)
    )
    return t.withColumn("head_", head).drop("_headpos")


def with_spacy_features(tokens: DataFrame) -> DataFrame:
    """F18: cheap spaCy-attribute analogues as pure column expressions
    (incl. the pos_ rule tagger, so window configs listing 'pos_' run;
    head_ comes from with_head when a pipeline lists it)."""
    t = F.col("word")
    shape = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(t, "[A-Z]", "X"), "[a-z]", "x"), r"\d", "d"
    )
    # spaCy collapses runs of >4 identical shape chars; approximate with 4+
    shape = F.regexp_replace(shape, r"(x)\1{3,}", "xxxx")
    shape = F.regexp_replace(shape, r"(X)\1{3,}", "XXXX")
    shape = F.regexp_replace(shape, r"(d)\1{3,}", "dddd")
    out = (
        tokens.withColumn("prefix_", F.substring(t, 1, 1))
        .withColumn("suffix_", F.substring(t, -3, 3))
        .withColumn("shape_", shape)
        .withColumn("like_num", t.rlike(LIKE_NUM).cast("string"))
        .withColumn("is_punct", t.rlike(r"^[^\w\s]+$").cast("string"))
        .withColumn("lower_", F.lower(t))
    )
    # a caller-supplied pos_ (e.g. real tags from the Arrow scoring
    # stage) wins over the rule tagger — never silently clobbered
    return out if "pos_" in tokens.columns else with_pos(out, "word")


def extract_feature_tuples(
    tokens: DataFrame,
    window_size: int = 3,
    feature_cols: Sequence[str] = ("word", "lower_", "prefix_", "suffix_", "shape_", "like_num"),
) -> DataFrame:
    """tokens -> one row per sentence:
    (id, sent_id, features array<map<string,string>>, indices
    array<struct<start,end>>) — the FeatureTuple relation.

    Ordering inside the arrays follows tok_id (deterministic).
    """
    t = with_spacy_features(tokens)
    if "head_" in feature_cols:
        t = with_head(t, "doc_id")
    t = feature_window(
        t, k=window_size, feature_cols=list(feature_cols),
        part_cols=("doc_id", "sent_id"), order_col="tok_id",
    )
    def by_tok_id(l, r):  # noqa: E741 - comparator for array_sort
        return (
            F.when(l["tok_id"] < r["tok_id"], -1)
            .when(l["tok_id"] > r["tok_id"], 1)
            .otherwise(0)
        )

    rows = t.groupBy("doc_id", "sent_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("tok_id", "features")), by_tok_id
            ),
            lambda x: x["features"],
        ).alias("features"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("tok_id", F.struct(
                    F.col("idx").alias("start"), F.col("end_idx").alias("end")
                ).alias("span"))), by_tok_id
            ),
            lambda x: x["span"],
        ).alias("indices"),
    )
    return rows


def text_extractor_tuples(tokens: DataFrame) -> DataFrame:
    """TextExtractor (text_extractor.py:5-30): the reference's
    BERT-facing extractor — window_size=0, spacy_features=[], features
    are the BARE token texts per sentence (not keyed dicts), indices the
    (idx, idx+len) spans, one row per sentence:
    (id, sent_id, features array<string>, indices
    array<struct<start,end>>). The windowed-dict variant of the same
    configuration is lstm_systematic_review_pipeline.py:48-52's window-0
    extractor.

    One groupBy over the tokenizer's own (doc, sent) partitioning —
    map-side combined, no window pass needed at window 0."""
    def by_tok_id(l, r):  # noqa: E741 - comparator for array_sort
        return (
            F.when(l["tok_id"] < r["tok_id"], -1)
            .when(l["tok_id"] > r["tok_id"], 1)
            .otherwise(0)
        )

    return tokens.groupBy("doc_id", "sent_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("tok_id", F.col("word").alias("text"))),
                by_tok_id,
            ),
            lambda x: x["text"],
        ).alias("features"),
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("tok_id", F.struct(
                    F.col("idx").alias("start"), F.col("end_idx").alias("end")
                ).alias("span"))), by_tok_id
            ),
            lambda x: x["span"],
        ).alias("indices"),
    )


def multi_model_merge(mention_dfs: Sequence[DataFrame]) -> DataFrame:
    """U6: MultiModel annotation merge (multi_model.py:90-98) — union of
    per-model mention tables with EntTuple dedup (U1)."""
    out = mention_dfs[0].select("doc_id", "tag", "start", "end", "text")
    for df in mention_dfs[1:]:
        out = out.unionByName(df.select("doc_id", "tag", "start", "end", "text"))
    return out.distinct()


def vocab_index(values: DataFrame, col: str) -> DataFrame:
    """A9: value -> contiguous index dictionary (nn/vectorizer.py:48-85).
    The reference uses nondeterministic first-seen order; we define the
    documented deterministic order (ascending value) instead.

    Index = position of the distinct value in ascending order, numbered by
    ``plans.numbering.global_row_index`` (range partition + per-partition
    offsets; the same numbering ``folds.assign_folds`` uses). No
    SinglePartition exchange anywhere (plan-gated), so a 100x token
    vocabulary indexes at full parallelism. Output is bit-identical to a
    global ``row_number() over (order by value) - 1``."""
    ranked = global_row_index(values.select(col).distinct(), [col], "index")
    return ranked.select(col, F.col("index").cast("int").alias("index"))


def detect_window_size(feature_tuples: DataFrame, id_col: str = "doc_id") -> int:
    """W8: infer the feature window size from already-extracted features
    (nn/vectorizer.py:101-131 find_window_size). Reference semantics
    replicated: take the LONGEST sentence (ties broken deterministically
    by smallest (doc, sent) — the reference keeps the first-seen longest,
    an iteration-order artifact), inspect its CENTER token's feature keys,
    lowest = int(key[:2]) for '-'-prefixed keys (single-digit windows
    only, as the reference docstring admits), highest = int(key[0]) for
    numeric-prefixed keys; asymmetry raises with the reference's message.

    Top-1 by length plans as TakeOrderedAndProject (no full sort) and the
    single-row collect is config inference, not a data-plane action."""
    ft = feature_tuples.select(
        id_col, "sent_id", F.size("features").alias("_n"), "features"
    )
    top = ft.orderBy(F.col("_n").desc(), id_col, "sent_id").limit(1)
    center = F.element_at(
        "features", (F.floor(F.col("_n") / 2) + 1).cast("int")
    )
    ks = F.map_keys(center)
    neg = F.transform(
        F.filter(ks, lambda k: k.startswith("-")),
        lambda k: F.substring(k, 1, 2).cast("int"),
    )
    pos = F.transform(
        F.filter(ks, lambda k: F.substring(k, 1, 1).rlike("[0-9]")),
        lambda k: F.substring(k, 1, 1).cast("int"),
    )
    row = top.select(
        F.coalesce(F.array_min(neg), F.lit(0)).alias("lowest"),
        F.coalesce(F.array_max(pos), F.lit(0)).alias("highest"),
    ).collect()
    if not row:
        return 0
    lowest, highest = row[0]["lowest"], row[0]["highest"]
    if -lowest != highest:
        raise ValueError("Word feature window is asymmetrical")
    return int(highest)

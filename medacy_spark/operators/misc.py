"""Small §2 operators: dataset algebra, validation, projections.

  * zip_datasets (J2/U4)   — inner join of two corpora on the doc key with
    left/right anti-join residues for the reference's missing-file
    warnings (inter_dataset_agreement.py:109-130).
  * validate_entity_list (P8) — configured entity list must be a subset of
    the dataset's labels (__main__.py:29-35): the anti-join must be empty.
  * feature_projection (P9) — keep only `feature_*` keys of a token's
    feature map (discrete_feature_extractor.py:97-104).
  * pos_drop (P10)         — remove ignored-POS tokens from window context
    while keeping targets (pos_drop_feature_extractor.py:27-45).
  * oov_tokens (A12)       — tokens absent from a vocabulary
    (nn/vectorizer.py:207-213).
  * discover_sem_types (U5) — distinct semantic types, schema-first
    (replaces the regex-over-JSON hack of metamap_all_types_component.py:93-96).
  * one_hot (F17)          — fixed-vocabulary one-hot expression
    (nn/vectorizer.py:175-189).
  * mention_text_from_doc (J13/F7) — recover mention text by slicing the
    document (model.py:112-118: text[start:end]).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zip_datasets(
    a: DataFrame, b: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """-> (paired, only_in_a, only_in_b)."""
    paired = a.join(b.select("doc_id").distinct(), "doc_id", "inner")
    only_a = a.join(b.select("doc_id").distinct(), "doc_id", "left_anti")
    only_b = b.join(a.select("doc_id").distinct(), "doc_id", "left_anti")
    return paired, only_a, only_b


def validate_entity_list(configured: Sequence[str], labels: DataFrame) -> None:
    """Raise ValueError when a configured entity is absent from the data
    (the reference exits with an error, __main__.py:33-35)."""
    have = {r["tag"] for r in labels.select("tag").distinct().collect()}
    missing = [e for e in configured if e not in have]
    if missing:
        raise ValueError(f"entity list entries not present in dataset: {missing}")


def feature_projection(features: Column) -> Column:
    """map_filter: keep keys starting with 'feature_'."""
    return F.map_filter(features, lambda k, _: k.startswith("feature_"))


def pos_drop(tokens: DataFrame, ignored_pos: Sequence[str]) -> DataFrame:
    """Drop ignored-POS tokens unless they are targets; downstream windows
    then see the compacted sequence (the reference filters the sentence
    list before windowing)."""
    return tokens.filter(
        ~F.col("pos_").isin(list(ignored_pos)) | F.col("is_target")
    )


def oov_tokens(tokens: DataFrame, vocab: DataFrame) -> DataFrame:
    """Distinct tokens not covered by the vocabulary (broadcast anti-join)."""
    v = F.broadcast(vocab.select(F.lower(F.col("word")).alias("_w")).distinct())
    return (
        tokens.select(F.lower(F.col("word")).alias("_w"))
        .join(v, "_w", "left_anti")
        .distinct()
        .withColumnRenamed("_w", "word")
    )


def discover_sem_types(links: DataFrame) -> DataFrame:
    """U5: explode(sem_types).distinct() — the schema-first replacement for
    the reference's regex scan over raw JSON."""
    return links.select(F.explode("sem_types").alias("sem_type")).distinct()


def one_hot(value: Column, vocabulary: Sequence[str]) -> Column:
    """array<double> one-hot over a fixed vocabulary (F17)."""
    return F.array(*[
        F.when(value == v, F.lit(1.0)).otherwise(F.lit(0.0)) for v in vocabulary
    ])


def table_rows(documents: DataFrame) -> DataFrame:
    """F3: the reference's table-row heuristic — lines matching
    `^(.*?)[ \\t]{3,}\\d+` are table rows (table_matcher_component.py:31-40).
    Returns (id, line_no, line, row_label) with char offsets derivable via
    sources.converters.line_word_index."""
    lines = documents.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("line_idx", "line")
    )
    pat = r"^(.*?)[ \t]{3,}\d+"
    return lines.filter(F.col("line").rlike(pat)).select(
        "doc_id",
        (F.col("line_idx") + 1).cast("int").alias("line_no"),
        "line",
        F.regexp_extract("line", pat, 1).alias("row_label"),
    )


def switch_extension(path: Column, new_ext: str) -> Column:
    """F10: replace a file extension — the reference's `str.strip('.txt')`
    (model.py:215,310) strips *characters* not the suffix (a bug: 'текст.txt'
    loses trailing t's); this implements the intended suffix semantics."""
    return F.concat(F.regexp_replace(path, r"\.[A-Za-z0-9]+$", ""), F.lit(new_ext))


def mention_text_from_doc(
    mentions: DataFrame, documents: DataFrame
) -> DataFrame:
    """J13/F7: slice mention text from the document:
    substring(text, start+1, end-start)."""
    d = documents.select(F.col("doc_id").alias("_id"), F.col("text").alias("_doc_text"))
    return (
        mentions.join(d, mentions["doc_id"] == d["_id"])
        .withColumn(
            "text",
            F.expr("substring(_doc_text, start + 1, end - start)"),
        )
        .drop("_id", "_doc_text")
    )

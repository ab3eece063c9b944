"""Tokenization + sentence segmentation (X1/W3).

The reference pushes one spaCy Doc at a time through a pipeline
(base_pipeline.py:86-103). Here the tokenizer is a *relational* operator:
documents → tokens rows, computed two ways with identical output:

  * ``tokenize_native`` — pure DataFrame ops (split/posexplode + window
    running sums). Whole-stage codegen, zero Python. The hot path for the
    single-space corpus contract.
  * ``tokenize_pandas`` — Arrow-batched mapInPandas (iterator form), the
    scaffold a real spaCy/regex clinical tokenizer
    (clinical_tokenizer.py:34-59) would plug into. Demonstrates the
    "vectorized pandas/Arrow UDF stage" of the north star; byte-equal to
    the native path on the corpus contract (tested).

Sentence boundaries: a '.' token closes a sentence (W3). Offsets are char
positions into ``text`` with the ``EntTuple`` convention: start inclusive,
end exclusive (annotations.py:8,58).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOKEN_SCHEMA = (
    "doc_id long, pos int, sent_id int, tok_id int, idx long, end_idx long, word string"
)


def tokenize_native(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """documents(id, text) -> tokens(id, sent_id, tok_id, idx, end_idx, word).

    ONE shuffle, ONE sort: every derived column (char offset, sentence id,
    token-in-sentence id) comes from the same window frame
    (partitionBy(id).orderBy(pos)), so Catalyst plans a single exchange +
    a single per-partition sort. tok_id avoids a second (id, sent) window
    by a running max over '.'-boundary positions.
    """
    toks = documents.select(
        id_col, F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = w.rowsBetween(Window.unboundedPreceding, -1)
    idx = F.coalesce(F.sum(F.length("word") + 1).over(prev), F.lit(0)).cast("long")
    sent_id = F.coalesce(
        F.sum((F.col("word") == ".").cast("int")).over(prev), F.lit(0)
    ).cast("int")
    last_dot = F.coalesce(
        F.max(F.when(F.col("word") == ".", F.col("pos"))).over(prev), F.lit(-1)
    )
    return (
        toks.withColumn("idx", idx)
        .withColumn("end_idx", (F.col("idx") + F.length("word")).cast("long"))
        .withColumn("sent_id", sent_id)
        .withColumn("tok_id", (F.col("pos") - last_dot - 1).cast("int"))
        # pos is kept so downstream windows can order by the exact same
        # expression — the planner then elides their re-sort entirely
        .select(id_col, "pos", "sent_id", "tok_id", "idx", "end_idx", "word")
    )


def tokenize_pandas(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched tokenizer with the same output as tokenize_native.

    Iterator-of-batches mapInPandas: this is where a real clinical tokenizer
    (prefix/infix/suffix regexes, clinical_tokenizer.py:34-59) or a spaCy
    pipeline would run, one Arrow batch at a time, model/broadcast lookups
    amortized across the batch.
    """
    schema = TOKEN_SCHEMA.replace("doc_id long", f"{id_col} long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                id_col: [], "pos": [], "sent_id": [], "tok_id": [], "idx": [],
                "end_idx": [], "word": [],
            }
            for did, text in zip(pdf[id_col], pdf["text"]):
                off = 0
                sent = 0
                tok = 0
                for pos, wtext in enumerate(text.split(" ")):
                    out[id_col].append(did)
                    out["pos"].append(pos)
                    out["sent_id"].append(sent)
                    out["tok_id"].append(tok)
                    out["idx"].append(off)
                    out["end_idx"].append(off + len(wtext))
                    out["word"].append(wtext)
                    off += len(wtext) + 1
                    tok += 1
                    if wtext == ".":
                        sent += 1
                        tok = 0
            yield pd.DataFrame(out)

    return documents.select(id_col, "text").mapInPandas(run, schema=schema)


def sentences(tokens: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """tokens -> sentences(id, sent_id, start, end, text)."""
    return tokens.groupBy(id_col, "sent_id").agg(
        F.min("idx").alias("start"),
        F.max("end_idx").alias("end"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tok_id", "word"))),
                lambda x: x["word"],
            ),
            " ",
        ).alias("text"),
    )


def tokenize_clinical(
    documents: DataFrame,
    id_col: str = "doc_id",
    exceptions: dict[str, list[str]] | None = None,
    rules=None,
) -> DataFrame:
    """X1/F4: the REFERENCE clinical tokenizer (clinical_tokenizer.py:34-59)
    as an Arrow-batched mapInPandas stage — same output relation as
    tokenize_native, but tokens follow the spaCy-2.2.2 prefix/infix/suffix
    rule surface (see functions/clinical_tokens.py for the rules and the
    two replicated reference bugs).

    Sentence boundaries follow spaCy's rule-based Sentencizer
    (functions/clinical_tokens.sentence_starts): the reference's boundaries
    come from spaCy's dependency parser (base_pipeline.py:95-99), which is
    unavailable here, and the Sentencizer is spaCy's own documented
    rule-based substitute — '!'/'.'/'?' close a sentence at the next
    non-punct token, so "end.." keeps both dots in the closing sentence.
    Whitespace tokens (newlines, runs of 2+ spaces) are emitted like spaCy
    does, so gold char_span alignment sees the same boundary set the
    reference sees.
    """
    from medacy_spark.functions.clinical_tokens import (
        sentence_starts,
        tokenize_with_offsets,
    )

    # id passes through untouched — derive its type from the input so
    # string ids (BRAT file basenames) work like numeric ones
    id_type = documents.schema[id_col].dataType.simpleString()
    schema = TOKEN_SCHEMA.replace("doc_id long", f"{id_col} {id_type}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                id_col: [], "pos": [], "sent_id": [], "tok_id": [], "idx": [],
                "end_idx": [], "word": [],
            }
            for did, text in zip(pdf[id_col], pdf["text"]):
                toks = tokenize_with_offsets(text, exceptions, rules)
                starts = sentence_starts([w for _, _, w in toks])
                sent = -1
                tok = 0
                for pos, (s, e, w) in enumerate(toks):
                    if starts[pos]:
                        sent += 1
                        tok = 0
                    out[id_col].append(did)
                    out["pos"].append(pos)
                    out["sent_id"].append(sent)
                    out["tok_id"].append(tok)
                    out["idx"].append(s)
                    out["end_idx"].append(e)
                    out["word"].append(w)
                    tok += 1
            yield pd.DataFrame(out)

    return documents.select(id_col, "text").mapInPandas(run, schema=schema)


def tokenize_systematic_review(
    documents: DataFrame,
    id_col: str = "doc_id",
    exceptions: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The reference's SystematicReviewTokenizer rule surface
    (systematic_review_tokenizer.py:40,48,57) on the same engine: its
    suffix regex is fully anchored (no unanchored-suffix shredding) and
    strips a trailing '.', while the /->-range infix behavior is shared
    with the clinical rules."""
    from medacy_spark.functions.clinical_tokens import SYSTEMATIC_REVIEW_RULES

    return tokenize_clinical(documents, id_col, exceptions, SYSTEMATIC_REVIEW_RULES)


def tokenize_character(
    documents: DataFrame,
    id_col: str = "doc_id",
    exceptions: dict[str, list[str]] | None = None,
) -> DataFrame:
    """The reference's CharacterTokenizer (character_tokenizer.py:40,48,57):
    '.' in every rule slot — single-character tokens, except whole-chunk
    exception matches ('Dr.' stays one token), exactly as the reference
    inherits from the shared exception table."""
    from medacy_spark.functions.clinical_tokens import CHARACTER_RULES

    return tokenize_clinical(documents, id_col, exceptions, CHARACTER_RULES)


def train_sentence_boundary(
    tagged: "list[tuple[list[str], list[str]]]", epochs: int = 5
):
    """Trainable upgrade path for W3 sentence boundaries: the reference
    reads its boundaries from spaCy's statistical parser
    (base_pipeline.py:95-99); the rule Sentencizer here is the documented
    deterministic stand-in. This closes part of that gap with a trained
    boundary model: B/I tagging ('B' = sentence-initial token) via the
    averaged perceptron — window features see the neighborhood, so it
    learns e.g. that '.' after an abbreviation does NOT open a sentence,
    which no single-token rule can. Training examples come from any gold
    segmentation: (words, ['B' if sentence-initial else 'I', ...])."""
    from medacy_spark.learners import PerceptronLearner

    return PerceptronLearner(epochs=epochs, window=2).fit(tagged)

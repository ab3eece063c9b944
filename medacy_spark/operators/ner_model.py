"""Model-scoring stage (X2): batched sequence labeling via mapInPandas.

The reference scores one Doc at a time through CRF/BiLSTM/BERT learners
(model.py:227-265; bilstm_crf_learner.py:111-128; bert_learner.py:227-275).
Our engine ships model weights to executors as a broadcast and scores
whole Arrow batches of sentences — the north star's "vectorized pandas/
Arrow UDF stage runs batched clinical NER".

No torch/sklearn_crfsuite in this container, so the *model* is pluggable:
`score_sentences` takes any callable (token lists) -> (label lists). The
default `RuleModel` reuses the gazetteer/unit rules — deterministic and
test-oracle-friendly — while a real learner drops in via the same
broadcast + batch contract. Training (X3) is driver-side in the reference
and out of the data plane here; models are *inputs*.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from medacy_spark.corpus import lexicons as lex

LabelFn = Callable[[list[list[str]]], list[list[str]]]


class RuleModel:
    """Deterministic stand-in learner: gazetteer + number/unit adjacency,
    emitting per-token labels (no BIO prefix — the reference merges equal
    adjacent labels downstream, model.py:243-264)."""

    def __init__(self) -> None:
        self.gaz = {t: label for label, t in lex.gazetteer_rows()}
        self.dose_units = set(lex.DOSE_UNITS)
        self.time_units = set(lex.TIME_UNITS)

    def __call__(self, sentences: list[list[str]]) -> list[list[str]]:
        out = []
        for words in sentences:
            labels = ["O"] * len(words)
            for i, w in enumerate(words):
                lw = w.lower()
                if lw in self.gaz:
                    labels[i] = self.gaz[lw]
                if w.replace(".", "", 1).isdigit() and i + 1 < len(words):
                    nxt = words[i + 1].lower()
                    if nxt in self.dose_units:
                        labels[i] = labels[i + 1] = "Dose"
                    elif nxt in self.time_units:
                        labels[i] = labels[i + 1] = "Duration"
            out.append(labels)
        return out


def score_sentences(
    tokens: DataFrame,
    model_broadcast,
    id_col: str = "doc_id",
) -> DataFrame:
    """tokens(id, sent_id, tok_id, idx, end_idx, word) -> same + label.

    Groups tokens into sentences inside each Arrow batch (batches preserve
    no grouping guarantee, so we aggregate to sentence rows first — one
    shuffle, already co-partitioned with tokenization) and scores whole
    batches with the broadcast model.
    """
    sent_rows = tokens.groupBy(id_col, "sent_id").agg(
        F.array_sort(
            F.collect_list(F.struct("tok_id", "idx", "end_idx", "word"))
        ).alias("toks")
    )

    # id passes through untouched — derive its field type from the input
    # so string ids (e.g. BRAT file names) work like numeric ones
    id_type = tokens.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_type}, sent_id int, tok_id int, idx long, end_idx long, word string, label string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model: LabelFn = model_broadcast.value
        for pdf in batches:
            sentences = [[t["word"] for t in row] for row in pdf["toks"]]
            labels = model(sentences)
            recs: dict[str, list] = {
                id_col: [], "sent_id": [], "tok_id": [], "idx": [],
                "end_idx": [], "word": [], "label": [],
            }
            for did, sid, toks, labs in zip(
                pdf[id_col], pdf["sent_id"], pdf["toks"], labels
            ):
                for t, lab in zip(toks, labs):
                    recs[id_col].append(did)
                    recs["sent_id"].append(sid)
                    recs["tok_id"].append(t["tok_id"])
                    recs["idx"].append(t["idx"])
                    recs["end_idx"].append(t["end_idx"])
                    recs["word"].append(t["word"])
                    recs["label"].append(lab)
            yield pd.DataFrame(recs)

    return sent_rows.mapInPandas(run, schema=out_schema)


def model_mentions(tokens: DataFrame, model_broadcast) -> DataFrame:
    """Full X2 path: score -> island-merge (W2) -> mentions. Byte-equal to
    the rule-stack detect_mentions on the synthetic corpus (tested)."""
    from medacy_spark.operators.sequence import island_merge

    labeled = score_sentences(tokens, model_broadcast, "doc_id")
    return island_merge(
        labeled.withColumnRenamed("idx", "start").withColumnRenamed("end_idx", "end"),
        part_cols=["doc_id", "sent_id"],
        order_cols=["tok_id"],
        label_col="label",
        text_col="word",
    ).select("doc_id", "sent_id", "tag", "start", "end", "text")

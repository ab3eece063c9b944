"""Distributed BPE tokenizer induction (Sennrich-style merge learning).

A 100-TB training-data pipeline doesn't just consume a tokenizer — it
*induces* one from the corpus it curates.  Classic byte-pair encoding
(Sennrich et al. 2016, the public `learn_bpe` algorithm) iterates:
count adjacent symbol pairs, merge the most frequent pair everywhere,
repeat.  The reference has no tokenizer-training surface; this sits
with lm.py / packing.py in the beyond-reference training-pipeline
layer.

Semantics (deterministic, replayed merge-by-merge by the
``bpe_merges`` / ``bpe_segmentations`` oracles):

- pre-tokenization is whitespace words; merges never cross word
  boundaries (no end-of-word marker — the marker-free variant).
- pair statistics are **overlap-counted** per word occurrence
  (``zip(w, w[1:])``, so ``aaa`` contributes (a,a) twice), weighted by
  word frequency — exactly the public reference counting.
- the winning pair is (max count, then lexicographically smallest
  left, then right) — a total order, so ties are deterministic.
- merging is greedy left-to-right (``aaa`` + (a,a) → ``[aa, a]``),
  implemented as a single ``F.aggregate`` fold over the symbol array.
  The fold is provably equivalent to the scan: within one iteration a
  merged symbol is strictly longer than both parents, so it can never
  seed a new match for the same pair mid-pass.

scale shape (100 TB)
--------------------
The corpus is scanned ONCE into the word-frequency table; every
iteration runs on that vocabulary relation (distinct words ≪ corpus
tokens — the same reduction real BPE trainers use).  Per merge: one
narrow pair-generate + one map-side-combined groupBy + a 1-row argmax
collect (model-scale driver traffic, like the ANN centroids), then a
narrow fold rewrite, localCheckpointed so plans never snowball.
``apply_bpe`` re-tokenizes a corpus by joining words against the final
segmentation map (model-scale, broadcast-eligible) — unseen words fall
back to characters.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pair_structs(syms: Column) -> Column:
    """Adjacent (l, r) pairs of a BOUND symbol-array column, overlaps
    included (the reference counting)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i + 1).alias("l"),
                F.element_at(syms, i + 2).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of (left, right) in one fold pass."""
    merged = F.array(F.lit(left + right))
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(x))),
    )


@dataclass
class BpeModel:
    """Learned merges (rank order) + the final word-segmentation map
    (word, wcnt, syms) as a model-scale DataFrame."""

    merges: list[tuple[int, str, str, int]]  # (rank, left, right, pair_count)
    vocab: DataFrame


def learn_bpe(
    docs: DataFrame,
    *,
    n_merges: int,
) -> BpeModel:
    """Learn ``n_merges`` BPE merges over one corpus pass + vocab-scale
    iterations.  Stops early when no pair remains."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    wc = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("wcnt"))
    )
    state = wc.select(
        "word", "wcnt", F.split(F.col("word"), "").alias("syms")
    ).localCheckpoint(eager=False)
    merges: list[tuple[int, str, str, int]] = []
    for k in range(1, n_merges + 1):
        pc = (
            state.select(
                "wcnt", F.explode(_pair_structs(F.col("syms"))).alias("p")
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("wcnt").alias("cnt"))
        )
        best = pc.orderBy(F.desc("cnt"), "l", "r").limit(1).collect()
        if not best:
            break
        left, right, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((k, left, right, cnt))
        state = state.select(
            "word", "wcnt", _merge_fold(F.col("syms"), left, right).alias("syms")
        ).localCheckpoint(eager=False)
    return BpeModel(merges, state)


def apply_bpe(
    docs: DataFrame,
    model: BpeModel,
) -> DataFrame:
    """(id_col, tokens): each doc re-tokenized through the learned
    segmentation map; words outside the training vocabulary fall back
    to characters.  One explode + one model-scale equi-join + one
    per-doc reassembly."""
    words = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word"),
    ).filter(F.col("word") != "")
    seg = model.vocab.select("word", "syms")
    joined = words.join(seg, "word", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("syms"), F.split(F.col("word"), "")).alias("syms"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("tokens")
        )
    )

"""Distributed word-embedding pretraining (count-based word2vec).

The reference's BiLSTM HARD-REQUIRES a pretrained word2vec file
(medacy/pipeline_components/learners/bilstm_crf_learner.py:39-42 raises
without one) but ships no trainer — users are told to download vectors
pretrained elsewhere. At 100 TB the "elsewhere" is this engine: the
corpus-scale part of count-based word2vec (Levy & Goldberg 2014: SGNS
implicitly factorizes a shifted PPMI matrix) is the ±window
co-occurrence COUNT, which is pure shuffle arithmetic, while the
PPMI+SVD factorization is vocab²-sparse — model-scale, driver-side by
design (the same boundary as IVF's centroid collect in similarity.py).

Scale shape:
  * `cooccurrence_pairs` — ONE corpus shuffle (window over the sentence
    key) + one map-side-combined count. No positional self-join: a
    tokens×tokens join on |pos_i−pos_j|≤w shuffles the corpus twice and
    its skew follows sentence length; lead/lag over a single window
    spec emits the same pair multiset from one exchange.
  * `ppmi` — joins against word/context marginals. Both marginal
    relations are vocab-scale, so they broadcast; the only
    corpus-scale relation is the sparse count table itself.
  * `train_word_vectors` — collects the INTEGER count table (exact,
    engine-portable: no float accumulation order to disagree about),
    then runs the numpy PPMI+SVD (`ppmi_svd`) on the driver.
    tools/make_embedding_fixture.py is a thin binding over
    `train_word_vectors` + `write_word2vec`, so the distributed
    pipeline reproduces tests/fixtures/pmc_word2vec.txt
    byte-identically (gated in test_embeddings_train).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DIM = 50
WINDOW = 5
ALPHA = 0.75


# the explicit ASCII-whitespace class, NOT \s: Java \s, RE2 (DuckDB) \s
# and Python str.strip() each define whitespace differently (\x0B is in
# Java's but not RE2's; str.strip() adds unicode spaces). Pinning the
# class keeps the Spark operator, the cooccurrence_ppmi oracle SQL and
# the fixture byte-pin on ONE definition; exotic unicode space stays in
# tokens on every engine alike.
_WS = " \\t\\n\\r\\f\\x0B"


def _clean(word_col: str):
    """lower + ASCII-whitespace trim (regex, not F.trim: the clinical
    tokenizer emits literal '\\n' tokens and F.trim only strips 0x20 —
    str.strip()-on-ASCII, the arithmetic the pmc_word2vec fixture
    pinned, drops them)."""
    return F.lower(
        F.regexp_replace(F.col(word_col), f"^[{_WS}]+|[{_WS}]+$", "")
    )


def cooccurrence_pairs(
    tokens: DataFrame,
    window: int = WINDOW,
    id_cols: Sequence[str] = ("doc_id", "sent_id"),
    order_col: str = "tok_id",
    word_col: str = "word",
) -> DataFrame:
    """Symmetric ±window co-occurrence counts -> (word, ctx, n).

    Words are lowercased+trimmed and empties dropped BEFORE the window,
    so adjacency is adjacency in the cleaned sequence (the shape
    tools/make_embedding_fixture.py counted driver-side). Each ordered
    pair within the window contributes one count in EACH direction —
    lead(d) and lag(d) over the same window spec — so the relation is
    symmetric without a union (a union would re-run the uncached
    lineage; see mentions.detect_mentions for the same rule)."""
    toks = tokens.select(
        *id_cols, order_col, _clean(word_col).alias("_w")
    ).filter(F.col("_w") != "")
    w = Window.partitionBy(*id_cols).orderBy(order_col)
    ctxs = [F.lead("_w", d).over(w) for d in range(1, window + 1)] + [
        F.lag("_w", d).over(w) for d in range(1, window + 1)
    ]
    # window exprs first, generator second — Spark rejects a window
    # function inside explode's project
    neighbours = toks.select(F.col("_w").alias("word"), F.array(*ctxs).alias("_ctx"))
    pairs = neighbours.select(
        "word", F.explode("_ctx").alias("ctx")
    ).filter(F.col("ctx").isNotNull())
    return pairs.groupBy("word", "ctx").agg(F.count("*").cast("bigint").alias("n"))


def ppmi(cooc: DataFrame) -> DataFrame:
    """Positive PMI with context-distribution smoothing, in-engine ->
    (word, ctx, n, ppmi).

    ppmi = max(0, ln((n/total) / (word_p * ctx_p))) with
    word_p = rowsum/total and ctx_p = colsum^alpha / Z — the exact
    expression `ppmi_svd` evaluates densely (kept in this form, not the
    algebraically-cancelled one, so the relational surface and the
    numpy path stay term-for-term comparable). Marginals are
    vocab-scale: Spark broadcasts both join sides and the scalar
    (total, Z) row arrives via crossJoin.

    The count table feeds FIVE consumers (the joined relation + four
    marginal aggregations); an uncached lineage would re-run the
    corpus-scale window+count once per consumer (the repo's
    single-branch invariant — see connected_components), so the
    vocab²-sparse counts are localCheckpointed here and every marginal
    aggregates the materialized table instead of the corpus.
    """
    cooc = cooc.localCheckpoint(eager=True)
    wt = cooc.groupBy("word").agg(F.sum("n").cast("double").alias("_w_n"))
    ct = cooc.groupBy("ctx").agg(F.sum("n").cast("double").alias("_c_n"))
    scalars = (
        cooc.agg(F.sum("n").cast("double").alias("_total"))
        .crossJoin(ct.agg(F.sum(F.pow("_c_n", F.lit(ALPHA))).alias("_z")))
    )
    return (
        cooc.join(F.broadcast(wt), "word")
        .join(F.broadcast(ct), "ctx")
        .crossJoin(F.broadcast(scalars))
        .select(
            "word",
            "ctx",
            "n",
            F.greatest(
                F.lit(0.0),
                F.log(
                    (F.col("n") / F.col("_total"))
                    / (
                        (F.col("_w_n") / F.col("_total"))
                        * (F.pow("_c_n", F.lit(ALPHA)) / F.col("_z"))
                    )
                ),
            ).alias("ppmi"),
        )
    )


def ppmi_svd(
    counts: np.ndarray, dim: int = DIM
) -> np.ndarray:
    """Dense PPMI + truncated SVD -> L2-normalized (len(vocab), dim)
    vectors scaled by sqrt(singular values). Deterministic: per-column
    SVD sign fixed by forcing the largest-|.| component positive."""
    total = counts.sum()
    word_p = counts.sum(axis=1) / total
    ctx = counts.sum(axis=0) ** ALPHA
    ctx_p = ctx / ctx.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((counts / total) / np.outer(word_p, ctx_p))
    mat = np.where(np.isfinite(pmi) & (pmi > 0), pmi, 0.0)
    u, s, _vt = np.linalg.svd(mat, full_matrices=False)
    k = min(dim, len(s))
    vecs = u[:, :k] * np.sqrt(s[:k])
    flip = np.sign(vecs[np.abs(vecs).argmax(axis=0), np.arange(k)])
    flip[flip == 0] = 1.0
    vecs = vecs * flip
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return vecs / norms


def train_word_vectors(
    tokens: DataFrame,
    dim: int = DIM,
    window: int = WINDOW,
) -> tuple[list[str], np.ndarray]:
    """Corpus-scale counting in Spark, model-scale factorization on the
    driver -> (sorted vocab, L2-normalized vectors).

    The two collects are vocab-scale by construction: the distinct-word
    list and the SPARSE integer count table (bounded by vocab² but in
    practice by corpus support). Integers make the handoff exact — the
    numpy stage reproduces tests/fixtures/pmc_word2vec.txt bit-for-bit
    (gated by test_embeddings_train).

    Vocab comes from the TOKEN stream, not the count table: a word
    alone in its sentence co-occurs with nothing but still gets a
    vector row, like the dense path (zero in exact arithmetic; numerically
    arbitrary-but-deterministic in dimensions whose singular value is ~0).
    The cleaned stream feeds TWO consumers (vocab + counts), so it is
    localCheckpointed — the single-pass invariant; without it an
    expensive upstream (the Arrow-UDF clinical tokenizer) runs twice and
    a nondeterministic one could hand the count pass a word the vocab
    pass never saw (KeyError below).
    """
    toks = tokens.select(
        "doc_id", "sent_id", "tok_id", _clean("word").alias("_w")
    ).filter(F.col("_w") != "").localCheckpoint(eager=True)
    vocab = sorted(r["_w"] for r in toks.select("_w").distinct().collect())
    index = {w: i for i, w in enumerate(vocab)}
    counts = np.zeros((len(vocab), len(vocab)))
    for r in cooccurrence_pairs(
        toks, window=window, word_col="_w"
    ).collect():
        counts[index[r["word"]], index[r["ctx"]]] = float(r["n"])
    return vocab, ppmi_svd(counts, dim=dim)


def write_word2vec(path: str, vocab: list[str], vecs: np.ndarray) -> None:
    """word2vec-text dump (`count dim` header, then `word v1 v2 ...`) —
    the format sources/embeddings.py reads back (S6)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"{len(vocab)} {vecs.shape[1]}\n")
        for w, v in zip(vocab, vecs):
            f.write(w + " " + " ".join(f"{x:.6f}" for x in v) + "\n")

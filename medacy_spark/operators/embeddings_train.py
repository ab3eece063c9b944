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
    max_segment: int | None = None,
    dense_positions: bool = False,
) -> DataFrame:
    """Symmetric ±window co-occurrence counts -> (word, ctx, n).

    Words are lowercased+trimmed and empties dropped BEFORE the window,
    so adjacency is adjacency in the cleaned sequence (the shape
    tools/make_embedding_fixture.py counted driver-side). Each ordered
    pair within the window contributes one count in EACH direction —
    lead(d) and lag(d) over the same window spec — so the relation is
    symmetric without a union (a union would re-run the uncached
    lineage; see mentions.detect_mentions for the same rule).

    The window partitions on the sequence key, so ONE pathological
    mega-document (a 20M-token web page in a 100 TB crawl) becomes a
    single-task straggler. ``max_segment`` bounds that: sequences are
    cut into ≤max_segment-row segments carrying ±window-row halos, the
    lead/lag pass runs per segment, and only segment-HOME rows emit
    pairs — bit-identical counts (property-gated), tasks bounded by
    max_segment + 2·window rows. Leave it None for corpora whose
    per-sequence length is already bounded (sentences).

    ``dense_positions=True`` promises order_col is a gapless 0-based
    row index per sequence AND that cleaning filters nothing (raw
    posexplode output with no empty/whitespace tokens). Then rank ==
    position and segmentation is pure row-local arithmetic — no rank
    checkpoint/join/window; a FALSE promise fails loudly (an in-window
    contiguity assert), never silently mis-counts. Measured on 50k docs
    + one planted 8M-token doc (tools/cooc_skew_ab.py, last at a3140ec;
    value-checksummed across plans): dense path -47% wall vs unsegmented
    (-25% in an earlier host state), general rank path +53% (its
    corpus-wide machinery outweighs this straggler) — in a split-from-text
    pipeline mega-doc hardening should ride the dense path; reserve the
    general path for gappy positions under heavier skew."""
    toks = tokens.select(
        *id_cols, order_col, _clean(word_col).alias("_w")
    ).filter(F.col("_w") != "")
    if max_segment is not None:
        toks = _segment_with_halo(
            toks, max_segment, window, id_cols, order_col, dense_positions
        )
        id_cols = (*id_cols, "_seg")
    w = Window.partitionBy(*id_cols).orderBy(order_col)
    ctxs = [F.lead("_w", d).over(w) for d in range(1, window + 1)] + [
        F.lag("_w", d).over(w) for d in range(1, window + 1)
    ]
    # window exprs first, generator second — Spark rejects a window
    # function inside explode's project
    cols = [F.col("_w").alias("word"), F.array(*ctxs).alias("_ctx")]
    if max_segment is not None:
        cols.append(F.col("_home"))
        if dense_positions:
            # the dense promise made FALSE corrupts counts silently
            # (home/halo boundaries drift off cleaned row adjacency), so
            # verify it where it's free: ranks inside a segment must be
            # contiguous — one extra lag on a window already being
            # computed. assert_true returns NULL when the check passes.
            prev = F.lag(F.col(order_col), 1).over(w)
            cols.append(
                F.assert_true(
                    prev.isNull() | (prev == F.col(order_col) - 1),
                    F.lit(
                        "dense_positions=True but positions have gaps "
                        "(cleaning filtered rows?) — co-occurrence counts "
                        "would be silently wrong; use dense_positions=False"
                    ),
                ).alias("_dense_ok")
            )
    neighbours = toks.select(*cols)
    if max_segment is not None:
        # halo rows exist only to complete neighbours' windows; their own
        # pairs are emitted by their home segment. The _dense_ok filter is
        # vacuously true — it exists to force the assert's evaluation
        # (a merely-dropped column would be pruned before it ever ran)
        if dense_positions:
            neighbours = neighbours.filter(F.col("_dense_ok").isNull())
        neighbours = neighbours.filter(F.col("_home"))
    pairs = neighbours.select(
        "word", F.explode("_ctx").alias("ctx")
    ).filter(F.col("ctx").isNotNull())
    return pairs.groupBy("word", "ctx").agg(F.count("*").cast("bigint").alias("n"))


def _segment_with_halo(
    toks: DataFrame,
    max_segment: int,
    window: int,
    id_cols: Sequence[str],
    order_col: str,
    dense_positions: bool = False,
) -> DataFrame:
    """Cut each sequence into dense-rank segments of ≤max_segment rows,
    replicating the window-sized edge rows into the neighbouring segment
    as non-home halos, so per-segment lead/lag sees exactly the rows the
    unsegmented window would.

    The dense rank itself must not re-create the straggler, so it is
    computed the vocab_index way (A9): bucket rows by raw position,
    count per bucket (plain agg — parallel), prefix-sum the PER-BUCKET
    counts with a window whose partitions hold one row per bucket
    (metadata-scale), then rank within buckets (tasks bounded by the
    bucket's position span). No single-task sort anywhere.
    """
    if max_segment <= 2 * window:
        raise ValueError(
            f"max_segment {max_segment} must exceed 2*window {2 * window}"
        )
    ids = list(id_cols)
    if dense_positions:
        # rank == position by caller's promise: segmentation is pure
        # row-local arithmetic, no extra pass of any kind
        ranked = toks.withColumn("_rank", F.col(order_col).cast("long"))
    else:
        # positions may have gaps (cleaning filtered rows), so build a
        # dense rank WITHOUT a per-sequence single-task sort (the
        # straggler this function exists to remove): bucket by raw
        # position, count per bucket (plain agg), prefix-sum the
        # one-row-per-bucket counts, rank within buckets. Two consumers
        # of the bucketed stream (offsets agg + rank join) — checkpoint
        # once (single-pass invariant).
        bucketed = toks.withColumn(
            "_bkt", F.floor(F.col(order_col) / F.lit(max_segment)).cast("long")
        ).localCheckpoint(eager=True)
        offs = (
            bucketed.groupBy(*ids, "_bkt")
            .agg(F.count("*").alias("_bn"))
            .withColumn(
                "_off",
                F.coalesce(
                    F.sum("_bn").over(
                        Window.partitionBy(*ids)
                        .orderBy("_bkt")
                        .rowsBetween(Window.unboundedPreceding, -1)
                    ),
                    F.lit(0),
                ),
            )
            .drop("_bn")
        )
        ranked = bucketed.join(offs, [*ids, "_bkt"]).withColumn(
            "_rank",
            (
                F.col("_off")
                + F.row_number().over(
                    Window.partitionBy(*ids, "_bkt").orderBy(order_col)
                )
                - F.lit(1)
            ).cast("long"),
        )
    home = F.floor(F.col("_rank") / F.lit(max_segment)).cast("long")
    pos_in = F.col("_rank") % F.lit(max_segment)
    memberships = F.filter(
        F.array(
            F.struct(home.alias("_seg"), F.lit(True).alias("_home")),
            # first `window` rows also serve as the previous segment's
            # lead-halo; last `window` rows as the next one's lag-halo
            F.when(
                (pos_in < window) & (home > 0),
                F.struct((home - 1).alias("_seg"), F.lit(False).alias("_home")),
            ),
            F.when(
                pos_in >= max_segment - window,
                F.struct((home + 1).alias("_seg"), F.lit(False).alias("_home")),
            ),
        ),
        lambda m: m.isNotNull(),
    )
    return (
        ranked.withColumn("_m", F.explode(memberships))
        .select(
            *ids,
            F.col("_rank").alias(order_col),
            "_w",
            F.col("_m._seg").alias("_seg"),
            F.col("_m._home").alias("_home"),
        )
    )


def ppmi(cooc: DataFrame, alpha: float = ALPHA) -> DataFrame:
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
        .crossJoin(ct.agg(F.sum(F.pow("_c_n", F.lit(alpha))).alias("_z")))
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
                        * (F.pow("_c_n", F.lit(alpha)) / F.col("_z"))
                    )
                ),
            ).alias("ppmi"),
        )
    )


def ppmi_svd(
    vocab: list[str], counts: np.ndarray, dim: int = DIM, alpha: float = ALPHA
) -> np.ndarray:
    """Dense PPMI + truncated SVD -> L2-normalized (len(vocab), dim)
    vectors scaled by sqrt(singular values). Deterministic: per-column
    SVD sign fixed by forcing the largest-|.| component positive."""
    total = counts.sum()
    word_p = counts.sum(axis=1) / total
    ctx = counts.sum(axis=0) ** alpha
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
    alpha: float = ALPHA,
    id_cols: Sequence[str] = ("doc_id", "sent_id"),
    order_col: str = "tok_id",
    word_col: str = "word",
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
        *id_cols, order_col, _clean(word_col).alias("_w")
    ).filter(F.col("_w") != "").localCheckpoint(eager=True)
    vocab = sorted(r["_w"] for r in toks.select("_w").distinct().collect())
    index = {w: i for i, w in enumerate(vocab)}
    counts = np.zeros((len(vocab), len(vocab)))
    for r in cooccurrence_pairs(
        toks, window=window, id_cols=id_cols, order_col=order_col, word_col="_w"
    ).collect():
        counts[index[r["word"]], index[r["ctx"]]] = float(r["n"])
    return vocab, ppmi_svd(vocab, counts, dim=dim, alpha=alpha)


def write_word2vec(path: str, vocab: list[str], vecs: np.ndarray) -> None:
    """word2vec-text dump (`count dim` header, then `word v1 v2 ...`) —
    the format sources/embeddings.py reads back (S6)."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"{len(vocab)} {vecs.shape[1]}\n")
        for w, v in zip(vocab, vecs):
            f.write(w + " " + " ".join(f"{x:.6f}" for x in v) + "\n")

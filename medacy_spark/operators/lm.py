"""N-gram language-model perplexity — the CCNet-style quality filter.

CCNet/RefinedWeb-class webtext pipelines score every document against a
language model trained on a trusted corpus and keep the low-perplexity
tail; the LM there is a 5-gram KenLM, whose distributed-trainable core
is exactly n-gram counting + smoothed conditional probabilities.  This
module implements that core natively on DataFrames: ``train_ngram_lm``
materializes the count tables, ``score_perplexity`` joins a corpus
against them and emits per-doc log-prob / perplexity.  The reference
has no LM layer; this sits with quality_score / repetition_signals in
the beyond-reference webtext surface.

Model: add-k (Laplace) smoothed conditionals
``p(w | ctx) = (c(ctx,w) + k) / (c(ctx) + k·V)`` with ``ctx`` the
space-joined (n-1)-token prefix and ``V`` the training vocabulary size;
a doc's score is the mean log10 probability of its n-grams and
``perplexity = 10^(-mean)``.  Unseen grams and unseen contexts fall out
of the same formula via left joins (c → 0), so out-of-domain text is
scored, not dropped.  Fully deterministic and replayed closed-form by
the ``lm_perplexity`` oracle.

scale shape (100 TB)
--------------------
- training is ONE narrow gram generate (bound token array → transform
  over an index sequence, no join) + ONE map-side-combined
  groupBy(ctx, w); the context totals ride the same key prefix as a
  second partial agg.  Counts are model-scale (distinct grams),
  localCheckpointed so training scans the
  corpus exactly once and scoring never re-derives it.
- vocabulary size is a 1-row aggregate broadcast back — no collect, no
  global window.
- scoring is gram-explode + two equi-joins against the (model-scale)
  count tables + one per-doc partial agg.  The count tables are far
  smaller than the corpus, so at cluster scale both joins broadcast;
  the plan is left declarative so Catalyst/AQE picks broadcast vs
  shuffle from measured sizes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _gram_structs(toks: Column, n: int) -> Column:
    """Array of (ctx, w) structs for every n-gram of a BOUND token-array
    column (lambda-scope CSE: callers project the array first)."""
    n_t = F.size(toks)
    idx = F.sequence(F.lit(0), n_t - F.lit(n))
    if n == 1:
        mk = lambda i: F.struct(  # noqa: E731
            F.lit("").alias("ctx"), F.element_at(toks, i + 1).alias("w")
        )
    else:
        mk = lambda i: F.struct(  # noqa: E731
            F.array_join(F.slice(toks, i + 1, n - 1), " ").alias("ctx"),
            F.element_at(toks, i + n).alias("w"),
        )
    return F.when(n_t >= n, F.transform(idx, mk)).otherwise(
        F.array().cast("array<struct<ctx:string,w:string>>")
    )


@dataclass
class NgramLM:
    """Trained model: gram/context count tables (localCheckpointed),
    vocab size as a 1-row DataFrame, and the smoothing constant."""

    gram_counts: DataFrame  # (ctx, w, c)
    ctx_counts: DataFrame   # (ctx, c_ctx)
    vocab: DataFrame        # single row (v)
    n: int
    k: float


def _tokens(text_col: str) -> Column:
    return F.split(F.lower(F.col(text_col)), " ")


def train_ngram_lm(
    docs: DataFrame,
    *,
    n: int = 2,
    k: float = 0.1,
) -> NgramLM:
    """Count-table training over one corpus pass."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # grams AND vocab read the token arrays — cut the lineage so the
    # corpus split/lower runs once, not once per consumer (r8)
    toks = docs.select(_tokens("text").alias("_toks")).localCheckpoint(
        eager=False
    )
    grams = toks.select(F.explode(_gram_structs(F.col("_toks"), n)).alias("g"))
    gram_counts = grams.groupBy("g.ctx", "g.w").agg(F.count("*").alias("c"))
    gram_counts = gram_counts.localCheckpoint(eager=False)
    ctx_counts = gram_counts.groupBy("ctx").agg(F.sum("c").alias("c_ctx"))
    vocab = toks.select(F.explode("_toks").alias("w")).agg(
        F.count_distinct("w").cast("double").alias("v")
    )
    return NgramLM(gram_counts, ctx_counts, vocab, n, float(k))


def score_perplexity(
    docs: DataFrame,
    lm: NgramLM,
) -> DataFrame:
    """(id_col, n_grams, avg_logp, perplexity) per doc with >= n tokens.

    ``avg_logp`` is the mean log10 add-k probability of the doc's
    n-grams; low perplexity = in-domain fluent text (keep), high =
    gibberish/boilerplate (drop) — threshold downstream."""
    toks = docs.select(F.col("doc_id"), _tokens("text").alias("_toks"))
    grams = toks.select(
        "doc_id", F.explode(_gram_structs(F.col("_toks"), lm.n)).alias("g")
    ).select("doc_id", "g.ctx", "g.w")
    joined = (
        grams.join(lm.gram_counts, ["ctx", "w"], "left")
        .join(lm.ctx_counts, ["ctx"], "left")
        .crossJoin(F.broadcast(lm.vocab))
    )
    kk = F.lit(lm.k)
    p = (F.coalesce(F.col("c"), F.lit(0)).cast("double") + kk) / (
        F.coalesce(F.col("c_ctx"), F.lit(0)).cast("double") + kk * F.col("v")
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.avg(F.log10(p)).alias("avg_logp"),
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "avg_logp",
        F.pow(F.lit(10.0), -F.col("avg_logp")).alias("perplexity"),
    )

"""N-gram LM perplexity (operators/lm.py)."""

from __future__ import annotations

import math

from medacy_spark.operators.lm import score_perplexity, train_ngram_lm


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_bigram_hand_computed(spark):
    # corpus: "a b a b" + "a c" → bigrams: (a,b)x2 (b,a)x1 (a,c)x1
    # ctx totals: a→3, b→1 ; V = 3 ; k = 0.5
    lm = train_ngram_lm(_docs(spark, ["a b a b", "a c"]), n=2, k=0.5)
    gc = {(r["ctx"], r["w"]): r["c"] for r in lm.gram_counts.collect()}
    assert gc == {("a", "b"): 2, ("b", "a"): 1, ("a", "c"): 1}
    assert {r["ctx"]: r["c_ctx"] for r in lm.ctx_counts.collect()} == {"a": 3, "b": 1}
    assert lm.vocab.collect()[0]["v"] == 3.0

    out = score_perplexity(_docs(spark, ["a b", "a z"]), lm).orderBy("doc_id").collect()
    p_ab = (2 + 0.5) / (3 + 0.5 * 3)  # seen gram
    p_az = (0 + 0.5) / (3 + 0.5 * 3)  # unseen w, seen ctx
    assert out[0]["n_grams"] == 1
    assert abs(out[0]["avg_logp"] - math.log10(p_ab)) < 1e-12
    assert abs(out[0]["perplexity"] - 10 ** (-math.log10(p_ab))) < 1e-9
    assert abs(out[1]["avg_logp"] - math.log10(p_az)) < 1e-12


def test_unseen_context_floor(spark):
    lm = train_ngram_lm(_docs(spark, ["a b"]), n=2, k=0.1)
    out = score_perplexity(_docs(spark, ["z q"]), lm).collect()[0]
    # c=0, c_ctx=0 → p = k / (k·V) = 1/V with V=2
    assert abs(out["avg_logp"] - math.log10(0.1 / (0.1 * 2))) < 1e-12


def test_unigram_and_trigram(spark):
    # n=1: ctx is '' for every token; p(w) = (c(w)+k)/(N+k·V)
    lm1 = train_ngram_lm(_docs(spark, ["a a b"]), n=1, k=1.0)
    out = score_perplexity(_docs(spark, ["a"]), lm1).collect()[0]
    assert abs(out["avg_logp"] - math.log10((2 + 1.0) / (3 + 1.0 * 2))) < 1e-12
    # n=3: ctx is the space-joined 2-token prefix
    lm3 = train_ngram_lm(_docs(spark, ["a b c a b c"]), n=3, k=0.1)
    gc = {(r["ctx"], r["w"]): r["c"] for r in lm3.gram_counts.collect()}
    assert gc[("a b", "c")] == 2 and gc[("c a", "b")] == 1


def test_short_docs_emit_nothing(spark):
    lm = train_ngram_lm(_docs(spark, ["a b c"]), n=2)
    out = score_perplexity(_docs(spark, ["solo", "x y"]), lm)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_in_domain_scores_lower_perplexity(spark):
    fluent = ["the cat sat on the mat"] * 20 + ["the dog sat on the rug"] * 20
    lm = train_ngram_lm(_docs(spark, fluent), n=2, k=0.1)
    probe = _docs(spark, ["the cat sat on the mat", "mat the on rug cat dog"])
    out = {r["doc_id"]: r["perplexity"] for r in score_perplexity(probe, lm).collect()}
    assert out[0] < out[1] / 10  # scrambled text reads as gibberish


def test_training_plan_single_corpus_pass(spark):
    # gram counts are checkpointed: scoring's join sides must not
    # re-derive the corpus scan (ExistingRDD after materialization)
    docs = _docs(spark, [f"w{i % 5} w{(i + 1) % 5} w{(i + 2) % 5}" for i in range(50)])
    lm = train_ngram_lm(docs, n=2)
    lm.gram_counts.count()  # materialize the lazy checkpoint
    plan = (
        score_perplexity(docs, lm)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ExistingRDD" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

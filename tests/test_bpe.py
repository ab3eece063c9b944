"""BPE induction (operators/bpe.py) vs a driver-side Sennrich reference."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from medacy_spark.operators.bpe import BpeModel, apply_bpe, learn_bpe


def _ref_learn(texts, n_merges):
    """Pure-Python reference: overlap-counted stats, (cnt desc, l, r)
    tie-break, greedy left-to-right merge."""
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) for w in wc}
    merges = []
    for k in range(1, n_merges + 1):
        stats = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += wc[w]
        if not stats:
            break
        (l, r), cnt = min(stats.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, l, r, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_parity_with_reference(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest",
        "low newer wide wide",
    ]
    want_merges, want_vocab = _ref_learn(texts, 10)
    model = learn_bpe(_docs(spark, texts), n_merges=10)
    assert model.merges == want_merges
    got_vocab = {r["word"]: list(r["syms"]) for r in model.vocab.collect()}
    assert got_vocab == want_vocab


def test_greedy_fold_crafted(spark):
    # 'aaaa' + (a,a) must yield [aa, aa]; 'aaa' yields [aa, a]
    model = learn_bpe(_docs(spark, ["aaaa aaa baa"]), n_merges=1)
    assert model.merges[0][1:3] == ("a", "a")
    segs = {r["word"]: list(r["syms"]) for r in model.vocab.collect()}
    assert segs == {"aaaa": ["aa", "aa"], "aaa": ["aa", "a"], "baa": ["b", "aa"]}


def test_tie_break_lexicographic(spark):
    # (a,b) and (c,d) both appear once → lexicographically smaller wins
    model = learn_bpe(_docs(spark, ["ab cd"]), n_merges=1)
    assert model.merges[0][1:3] == ("a", "b")


def test_early_stop_when_no_pair_remains(spark):
    model = learn_bpe(_docs(spark, ["ab ab ab"]), n_merges=5)
    assert [m[1:3] for m in model.merges] == [("a", "b")]  # "ab" is one symbol


def test_apply_bpe_with_oov_fallback(spark):
    model = learn_bpe(_docs(spark, ["banana band banana"]), n_merges=3)
    out = apply_bpe(_docs(spark, ["banana zebra"]), model).collect()[0]
    _, vocab = _ref_learn(["banana band banana"], 3)
    assert list(out["tokens"]) == vocab["banana"] + list("zebra")


def test_single_corpus_pass_iterations(spark):
    # the per-iteration pair count must read the checkpointed vocab
    # state, not re-derive the corpus scan
    model = learn_bpe(_docs(spark, ["ab ab cd"] * 10), n_merges=2)
    plan = model.vocab._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan

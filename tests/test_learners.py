"""PerceptronLearner (X2/X3): a non-trivial learner behind the broadcast
contract — must beat FrequencyLearner where surface frequency is
insufficient, train deterministically, and survive the save/load/broadcast
round-trip."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import REF
from medacy_spark.learners import PerceptronLearner
from medacy_spark.model import FrequencyLearner, Model

# the same surface form 'x' is a Drug after 'take' and an ADE after
# 'felt' — only context features can separate them
TEXT = "take x now . felt x today ."
GOLD = [("Drug", 5, 6), ("ADE", 18, 19)]


@pytest.fixture(scope="module")
def ambiguous_corpus(spark):
    docs = spark.createDataFrame(
        [(i, TEXT) for i in range(40)], "doc_id long, text string"
    )
    gold = spark.createDataFrame(
        [(i, t, s, e, "x") for i in range(40) for t, s, e in GOLD],
        "doc_id long, tag string, start long, end long, text string",
    )
    return docs, gold


def _strict_f1(gold, pred):
    from medacy_spark.operators.scoring import measures, with_prf

    rows = with_prf(measures(gold, pred.select(gold.columns), mode="strict")).collect()
    return {r["tag"]: r["f1"] for r in rows}


def test_perceptron_beats_frequency(spark, ambiguous_corpus):
    docs, gold = ambiguous_corpus
    freq = Model(spark, FrequencyLearner()).fit(docs, gold)
    perc = Model(spark, PerceptronLearner(epochs=3)).fit(docs, gold)
    f_freq = _strict_f1(gold, freq.predict(docs))
    f_perc = _strict_f1(gold, perc.predict(docs))
    # the frequency learner collapses both contexts onto one label
    assert f_freq["system"] < 0.75
    # the perceptron separates them perfectly
    assert f_perc["Drug"] == 1.0 and f_perc["ADE"] == 1.0
    assert f_perc["system"] == 1.0
    assert f_perc["system"] > f_freq["system"]


def test_perceptron_fit_deterministic(spark, ambiguous_corpus):
    docs, gold = ambiguous_corpus
    a = Model(spark, PerceptronLearner(epochs=2)).fit(docs, gold).learner
    b = Model(spark, PerceptronLearner(epochs=2)).fit(docs, gold).learner
    assert a.labels == b.labels
    assert a.weights == b.weights


def test_perceptron_sharded_ipm_path(spark, ambiguous_corpus):
    """The scale path: iterative parameter mixing (force it by zeroing the
    driver-fit threshold) must learn the context rule too, and be
    deterministic across fits."""
    docs, gold = ambiguous_corpus

    def fit_ipm():
        m = Model(spark, PerceptronLearner(epochs=3))
        m.driver_fit_max_sentences = 0
        return m.fit(docs, gold)

    m = fit_ipm()
    f = _strict_f1(gold, m.predict(docs))
    assert f["Drug"] == 1.0 and f["ADE"] == 1.0
    m2 = fit_ipm()
    assert m.learner.weights == m2.learner.weights


def test_perceptron_save_load_broadcast(spark, ambiguous_corpus, tmp_path):
    docs, gold = ambiguous_corpus
    m = Model(spark, PerceptronLearner(epochs=3)).fit(docs, gold)
    path = str(tmp_path / "perc.pkl")
    m.save(path)
    m2 = Model.load(spark, path)
    assert isinstance(m2.learner, PerceptronLearner)
    a = m.predict(docs).orderBy("doc_id", "start")
    b = m2.predict(docs).orderBy("doc_id", "start")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_perceptron_cross_validate(spark, ambiguous_corpus):
    docs, gold = ambiguous_corpus
    cv = Model(spark, PerceptronLearner(epochs=3)).cross_validate(
        docs, gold, num_folds=2
    ).collect()
    rows = {r["label"]: r for r in cv}
    assert rows["Drug"]["avg_f1"] == 1.0
    assert rows["ADE"]["avg_f1"] == 1.0


def test_perceptron_driver_fit_matches_contract():
    """Pure-python fit path (no Spark): learns the context rule; Viterbi
    decode reproduces the gold sequence."""
    sents = [(TEXT.split(" "), ["O", "Drug", "O", "O", "O", "ADE", "O", "O"])] * 10
    p = PerceptronLearner(epochs=3).fit(sents)
    out = p([TEXT.split(" ")])
    assert out == [["O", "Drug", "O", "O", "O", "ADE", "O", "O"]]
    # weights are sparse, hash-stable, and pickleable
    import pickle

    p2 = pickle.loads(pickle.dumps(p))
    assert p2([TEXT.split(" ")]) == out


def test_perceptron_viterbi_uses_transitions():
    """Structured inference, not per-token classification: the middle of a
    long same-word run has IDENTICAL emission features at every position
    (±2 windows all see 'm m _ m m'), so only the learned label-transition
    weights can reproduce an alternating label pattern."""
    words = ["m"] * 9
    gold = ["Drug" if i % 2 == 0 else "Dose" for i in range(9)]
    p = PerceptronLearner(epochs=10).fit([(words, gold)] * 5)
    assert p([words]) == [gold]
    # and a run of a different length still alternates from the start
    assert p([["m"] * 5]) == [["Drug", "Dose", "Drug", "Dose", "Drug"]]


# ------------------------------------------------------------------- CRF


def _conflict_corpus(n=40, minority=0.3):
    """Identical contexts with 70/30 conflicting annotations (the classic
    inter-annotator-disagreement shape), deterministically interleaved."""
    cut = int(n * minority)
    exs = []
    for i in range(n):
        words = ["take", "ibuprofen", "200", "mg", "now", "."]
        gold = (["O"] * 6) if i < cut else ["O", "Drug", "Dose", "Dose", "O", "O"]
        exs.append(((i * 17) % n, words, gold))
    return [(w, g) for _, w, g in sorted(exs)]


def test_crf_separates_ambiguous_contexts(spark, ambiguous_corpus):
    """The CRF matches the perceptron's perfect separation on the clean
    context-disambiguation corpus (crf_learner.py semantics: l2sgd,
    c2=0.1)."""
    from medacy_spark.learners import CRFLearner

    docs, gold = ambiguous_corpus
    crf = Model(spark, CRFLearner()).fit(docs, gold)
    f = _strict_f1(gold, crf.predict(docs))
    assert f["Drug"] == 1.0 and f["ADE"] == 1.0 and f["system"] == 1.0


def test_crf_beats_perceptron_under_conflicting_annotations():
    """Probabilistic training recovers the MAJORITY annotation under 70/30
    label conflict; the perceptron's mistake-driven updates thrash between
    the two versions and emit an inconsistent sequence."""
    from medacy_spark.learners import CRFLearner

    train = _conflict_corpus()
    majority = ["O", "Drug", "Dose", "Dose", "O", "O"]
    words = ["take", "ibuprofen", "200", "mg", "now", "."]
    crf_pred = CRFLearner().fit(train)([words])[0]
    perc_pred = PerceptronLearner().fit(train)([words])[0]
    assert crf_pred == majority
    assert perc_pred != majority  # thrashes (inconsistent mixture state)
    crf_ok = sum(a == b for a, b in zip(crf_pred, majority))
    perc_ok = sum(a == b for a, b in zip(perc_pred, majority))
    assert crf_ok > perc_ok


def test_crf_fit_deterministic_and_save_load(spark, ambiguous_corpus, tmp_path):
    """Zero-RNG SGD: identical refits bit-equal; pickle round-trip + the
    broadcast Arrow scoring path produce identical predictions."""
    from medacy_spark.learners import CRFLearner

    docs, gold = ambiguous_corpus
    a = Model(spark, CRFLearner(epochs=3)).fit(docs, gold)
    b = Model(spark, CRFLearner(epochs=3)).fit(docs, gold)
    assert a.learner.weights == b.learner.weights
    path = str(tmp_path / "crf.pkl")
    a.save(path)
    loaded = Model.load(spark, path)
    assert isinstance(loaded.learner, CRFLearner)
    p1 = sorted(map(tuple, a.predict(docs).collect()))
    p2 = sorted(map(tuple, loaded.predict(docs).collect()))
    assert p1 == p2


def test_crf_sharded_ipm_path(spark, ambiguous_corpus):
    """fit_sharded trains CRF locals (the fresh()-prototype dispatch) and
    mixes their sparse dicts — same IPM machinery as the perceptron."""
    from medacy_spark.learners import CRFLearner

    docs, gold = ambiguous_corpus
    m = Model(spark, CRFLearner(epochs=3))
    m.driver_fit_max_sentences = 1  # forces the sharded path
    m.fit(docs, gold)
    f = _strict_f1(gold, m.predict(docs))
    assert f["system"] == 1.0


def _sequence_learners():
    from medacy_spark.learners import CRFLearner
    from medacy_spark.learners_nn import BiLSTMCRFLearner
    from medacy_spark.learners_tx import TransformerCRFLearner

    return {
        "perceptron": lambda: PerceptronLearner(epochs=3),
        "crf": lambda: CRFLearner(epochs=3),
        "bilstm_crf": lambda: BiLSTMCRFLearner(
            embedding_dim=5, char_dim=3, hidden_dim=4, epochs=2
        ),
        "transformer_crf": lambda: TransformerCRFLearner(
            d_model=8, n_heads=2, d_ff=12, n_layers=1, char_dim=4,
            embedding_dim=5, epochs=2, using_crf=True,
        ),
    }


@pytest.mark.parametrize("name", list(_sequence_learners()))
def test_fit_sharded_one_shard_one_round_equals_local_fit(spark, name):
    """With one shard and one round, ShardedFit.fit_sharded is exactly a
    local fit over the corpus in (doc_id, sent_id) order with the global
    label set: the mixing loop, the shard sort and each learner's hooks
    (start state, shard fit, average, adopt) add nothing of their own."""
    import numpy as np

    make = _sequence_learners()[name]
    sents = {
        (2, 0): (["felt", "x", "today"], ["O", "ADE", "O"]),
        (0, 1): (["take", "x", "now"], ["O", "Drug", "O"]),
        (1, 0): (["dose", "of", "aspirin", "daily"], ["O", "O", "Drug", "O"]),
        (0, 0): (["the", "rash", "was", "bad"], ["O", "ADE", "O", "O"]),
        (1, 1): (["aspirin", "helps"], ["Drug", "O"]),
    }
    sent_df = spark.createDataFrame(
        [(d, s, w, g) for (d, s), (w, g) in sents.items()],
        "doc_id long, sent_id int, words array<string>, labels array<string>",
    )
    sharded = make().fit_sharded(sent_df, n_shards=1, mix_rounds=1)
    examples = [sents[k] for k in sorted(sents)]
    labels = sorted({"O"} | {y for _, g in examples for y in g})
    local = make().fresh().fit(examples, labels=labels)

    assert sharded.labels == local.labels == labels
    if hasattr(local, "weights"):
        assert sharded.weights == local.weights
        return
    a, b = sharded.export_params(), local.export_params()
    assert a["vocab"] == b["vocab"]
    tensors = [k for k in b if k not in ("labels", "vocab")]
    assert sorted(a) == sorted(b)
    for k in tensors:
        pairs = zip(a[k], b[k]) if isinstance(b[k], tuple) else [(a[k], b[k])]
        for x, y in pairs:
            assert np.array_equal(x, y), k


@pytest.mark.parametrize("name", list(_sequence_learners()))
def test_fit_sharded_empty_frame_gives_untrained_model(spark, name):
    """A sentence frame with no rows has no shards: every learner keeps
    its start state and scores all-O, instead of failing in the mix."""
    empty = spark.createDataFrame(
        [], "doc_id long, sent_id int, words array<string>, labels array<string>"
    )
    learner = _sequence_learners()[name]().fit_sharded(empty, n_shards=2, mix_rounds=2)
    assert learner.labels == ["O"]
    assert learner([["take", "x"]]) == [["O", "O"]]


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_crf_learns_reference_corpus_with_sentence_splits(spark):
    """Real-corpus learning gate: with the clinical tokenizer supplying
    actual sentence boundaries (the one-doc-one-sequence shape is what
    breaks sequence learners, not the label count), the CRF at the
    reference's own c2=0.1 reaches a meaningful token-F1 on the 3-doc PMC
    sample — guards the eta-schedule/L2-decay calibration (a per-step
    Bottou schedule with raw c2 froze this exact fit at all-O)."""
    import importlib

    from medacy_spark.learners import CRFLearner
    from medacy_spark.operators.overlay import gold_overlay
    from medacy_spark.operators.tokenize import tokenize_clinical

    cli = importlib.import_module("medacy_spark.__main__")
    docs, gold = cli._dataset(
        spark, "/root/reference/medacy/tests/sample_data/sample_dataset_1"
    )
    labeled = gold_overlay(tokenize_clinical(docs.select("doc_id", "text")), gold)
    sent_df = labeled.groupBy("doc_id", "sent_id").agg(
        F.array_sort(F.collect_list(F.struct("tok_id", "word", "gold_label"))).alias("a")
    ).select(
        F.transform("a", lambda x: x["word"]).alias("words"),
        F.transform("a", lambda x: x["gold_label"]).alias("labels"),
    )
    exs = [(list(r["words"]), list(r["labels"])) for r in sent_df.collect()]
    c = CRFLearner(epochs=10).fit(exs)
    preds = c([w for w, _ in exs])
    tp = fp = fn = 0
    for (_, g), p in zip(exs, preds):
        for gi, pi in zip(g, p):
            if pi != "O" and pi == gi:
                tp += 1
            elif pi != "O":
                fp += 1
            elif gi != "O":
                fn += 1
    f1 = 2 * tp / max(2 * tp + fp + fn, 1)
    assert f1 >= 0.2, f1


def test_crf_warm_start_keeps_unobserved_emissions():
    """Parameter mixing contract: init emission weights for features this
    shard never observes survive fit (decayed, not dropped) — without
    this, rare-entity emissions attenuate ~1/n_shards per mixing round."""
    from medacy_spark.learners import CRFLearner, _h

    rare_fid = _h("w=zyloprim")  # surface unseen in this shard's slice
    init = {("Drug", rare_fid): 3.0}
    train = [(["take", "ibuprofen", "now"], ["O", "Drug", "O"])] * 5
    c = CRFLearner(epochs=2).fit(train, labels=["Drug", "O"], init=init)
    got = c.weights.get(("Drug", rare_fid), 0.0)
    assert got > 0.0, "warm-start emission weight was dropped"


def test_old_pickle_transition_ids_migrate_on_load(spark, ambiguous_corpus, tmp_path):
    """A pre-move artifact (transition ids in [0, D), no weights_version)
    decodes identically after Model.load's key migration."""
    import pickle

    from medacy_spark.learners import _START, _h, _trans_feat

    docs, gold = ambiguous_corpus
    m = Model(spark, PerceptronLearner(epochs=3)).fit(docs, gold)
    before = sorted(map(tuple, m.predict(docs).collect()))

    old = pickle.loads(pickle.dumps(m.learner))
    # demote transition keys to their pre-move ids and strip the marker
    for p in [_START, *old.labels]:
        new, legacy = _trans_feat(p), _h("prev_label=" + p)
        for y in old.labels:
            if (y, new) in old.weights:
                old.weights[(y, legacy)] = old.weights.pop((y, new))
    del old.weights_version
    path = str(tmp_path / "legacy.pkl")
    with open(path, "wb") as f:
        pickle.dump(old, f)

    loaded = Model.load(spark, path)
    assert getattr(loaded.learner, "weights_version", None) == 2
    after = sorted(map(tuple, loaded.predict(docs).collect()))
    assert after == before

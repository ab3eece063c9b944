"""Gates for the from-scratch numpy transformer learner (learners_tx):
finite-difference verification of EVERY parameter tensor's gradient for
both heads, a long-distance agreement task where attention's O(1) path
length beats the BiLSTM recurrence at an equal budget, pickle/broadcast
parity through the Arrow scoring stage, the spec 'BERT' wiring, and the
sharded model-averaging fit."""

from __future__ import annotations

import numpy as np
import pytest


def _tiny_examples():
    return [
        (["the", "dose", "was", "increased", "daily"],
         ["O", "Dose", "O", "O", "O"]),
        (["dr", "smith", "gave", "aspirin"], ["O", "O", "O", "Drug"]),
    ]


def _long_distance_corpus(dist=30, n_train=200, n_test=30):
    """The label of 'it' depends on the FIRST token, ``dist`` fillers
    away — far beyond any feature window and past the horizon a small
    BiLSTM trained with plain SGD holds state across, but one attention
    hop for a transformer. Filler sequences come from a mixed-radix
    counter so every sentence is a DISTINCT arrangement and the test
    split is genuinely unseen (asserted) — the round-6 review found the
    previous arithmetic had period 6, making the 'held-out' measurement
    in-sample; with real held-out data the transformer still reaches
    1.0 (it attends to position 0 regardless of fillers) but needs the
    larger training variety to get there, while the BiLSTM stays at
    chance (0.5 measured)."""
    fillers = ["one", "two", "three", "four", "five", "six"]
    sents = []
    for k in range(n_train + n_test):
        base = k // 2
        f = [fillers[(base // 6 ** (j % 3) + 2 * j) % 6] for j in range(dist)]
        trigger = "drug" if k % 2 == 0 else "noise"
        label = "DRUG" if trigger == "drug" else "O"
        words = [trigger, *f, "it", "acts"]
        tags = ["O"] * (dist + 1) + [label, "O"]
        sents.append((words, tags))
    train, test = sents[:n_train], sents[n_train:]
    assert not {tuple(w) for w, _ in test} & {tuple(w) for w, _ in train}
    return train, test


@pytest.mark.parametrize("using_crf", [False, True])
def test_transformer_gradcheck_every_parameter(using_crf):
    """Central finite differences vs the analytic gradient for EVERY
    parameter tensor — embeddings, char bag, input projection, learned
    positions, all per-layer attention/LayerNorm/FFN tensors, the output
    head, and (CRF mode) the transitions. The correctness evidence a
    hand-derived backprop needs; rel-err tolerance 1e-4 at eps 1e-5."""
    from medacy_spark.learners_tx import TransformerCRFLearner

    learner = TransformerCRFLearner(
        d_model=8, n_heads=2, d_ff=12, n_layers=2, char_dim=4,
        embedding_dim=5, epochs=1, using_crf=using_crf, seed=3,
    )
    ex = _tiny_examples()
    learner.fit(ex, epochs=1)
    words, gold = ex[0]
    lab_i = {y: i for i, y in enumerate(learner.labels)}
    gi = np.array([lab_i[y] for y in gold])
    _, grads = learner._sentence_grads(words, gi)
    assert set(grads) == set(learner._params)  # every tensor has a path

    def loss():
        S = learner._emissions(words)
        val, _, _ = learner._head_grads(S, gi)
        return val

    rng = np.random.RandomState(0)
    eps = 1e-5
    for k, g in grads.items():
        arr = learner._params[k]
        for fi in rng.choice(arr.size, size=min(6, arr.size), replace=False):
            idx = np.unravel_index(fi, arr.shape)
            orig = arr[idx]
            arr[idx] = orig + eps
            lp = loss()
            arr[idx] = orig - eps
            lm = loss()
            arr[idx] = orig
            num = (lp - lm) / (2 * eps)
            ana = g[idx]
            rel = abs(num - ana) / max(1e-8, abs(num) + abs(ana))
            assert rel < 1e-4, (k, idx, num, ana)


def test_transformer_beats_bilstm_on_long_distance_agreement():
    """The done-criterion task (VERDICT r5 #3): at distance 30 and an
    EQUAL training budget (60 epochs, lr 0.05, both seeded), the
    transformer labels every GENUINELY held-out long-distance token
    correctly while the BiLSTM sits at chance — attention's one-hop
    path vs 30 recurrence steps under plain SGD."""
    from medacy_spark.learners_nn import BiLSTMCRFLearner
    from medacy_spark.learners_tx import TransformerCRFLearner

    train, test = _long_distance_corpus()
    tx = TransformerCRFLearner(epochs=60, lr=0.05).fit(train)
    it_tx = sum(1 for w, tags in test if tx([w])[0][-2] == tags[-2]) / len(test)
    bi = BiLSTMCRFLearner(epochs=60, lr=0.05).fit(train)
    it_bi = sum(1 for w, tags in test if bi([w])[0][-2] == tags[-2]) / len(test)
    assert it_tx == 1.0
    assert it_bi < 0.7  # measured 0.5 (= chance on the balanced trigger)


def test_transformer_pickle_spark_scoring_and_spec(spark):
    """Round-trip through the S7 pickle contract and score through the
    broadcast Arrow stage (X2): distributed scoring must bit-match the
    driver-side decode. Spec 'BERT' builds the learner via
    json_to_pipeline with using_crf mapped from the spec."""
    import pickle

    from medacy_spark.learners_tx import TransformerCRFLearner
    from medacy_spark.operators.ner_model import score_sentences
    from medacy_spark.pipeline import json_to_pipeline

    ex = _tiny_examples()
    learner = TransformerCRFLearner(
        d_model=8, n_heads=2, d_ff=12, n_layers=1, char_dim=4,
        embedding_dim=5, epochs=10, using_crf=True,
    ).fit(ex)
    clone = pickle.loads(pickle.dumps(learner))
    sents = [w for w, _ in ex]
    assert clone(sents) == learner(sents)

    rows = [
        (si, 0, ti, 0, 0, w)
        for si, (words, _) in enumerate(ex)
        for ti, w in enumerate(words)
    ]
    toks = spark.createDataFrame(
        rows,
        "doc_id long, sent_id int, tok_id int, idx long, end_idx long, word string",
    )
    bc = spark.sparkContext.broadcast(learner)
    scored = {
        (r["doc_id"], r["tok_id"]): r["label"]
        for r in score_sentences(toks, bc).collect()
    }
    driver = {
        (si, ti): lab
        for si, (words, _) in enumerate(ex)
        for ti, lab in enumerate(learner([words])[0])
    }
    assert scored == driver

    pipe = json_to_pipeline({"learner": "BERT", "spacy_pipeline": "en"})
    built = pipe.make_learner()
    assert isinstance(built, TransformerCRFLearner) and not built.using_crf
    pipe_crf = json_to_pipeline(
        {"learner": "BERT", "spacy_pipeline": "en", "using_crf": True}
    )
    built_crf = pipe_crf.make_learner()
    assert built_crf.using_crf
    built_crf.fit(ex, epochs=2)
    assert "T" in built_crf._params  # CRF head really attached


def test_transformer_fit_sharded_model_averaging(spark):
    """Distributed fit by iterative model averaging over the flat
    parameter dict: the mixed model must solve the long-distance task
    exactly like the driver-side fit, deterministically."""
    from pyspark.sql import functions as F  # noqa: F401

    from medacy_spark.learners_tx import TransformerCRFLearner

    train, test = _long_distance_corpus()
    rows = [(i, 0, list(w), list(g)) for i, (w, g) in enumerate(train)]
    sent_df = spark.createDataFrame(
        rows, "doc_id long, sent_id int, words array<string>, labels array<string>"
    )
    learner = TransformerCRFLearner(epochs=60, lr=0.05)
    learner.fit_sharded(sent_df, n_shards=4, mix_rounds=3)
    it = sum(1 for w, tags in test if learner([w])[0][-2] == tags[-2]) / len(test)
    assert it == 1.0


def test_transformer_chunks_long_sequences():
    """Sequences beyond max_len train and decode in consecutive windows
    (the reference truncates; windowing keeps the 1:1 label contract the
    Arrow scoring stage requires)."""
    from medacy_spark.learners_tx import TransformerCRFLearner

    learner = TransformerCRFLearner(
        d_model=8, n_heads=2, d_ff=12, n_layers=1, char_dim=4,
        embedding_dim=5, epochs=2, max_len=6,
    )
    words = [f"w{i % 4}" for i in range(20)]
    gold = ["O" if i % 4 else "Drug" for i in range(20)]
    learner.fit([(words, gold)])
    pred = learner([words])[0]
    assert len(pred) == 20  # labels stay 1:1 with tokens across windows
    short = learner([words[:3]])[0]
    assert len(short) == 3

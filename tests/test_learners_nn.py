"""BiLSTM-CRF (learners_nn): finite-difference gradient verification,
long-range-context learning the window-feature learners cannot do, and
the broadcast Arrow scoring contract."""

from __future__ import annotations

import os

import numpy as np
import pytest

from conftest import REF
from medacy_spark.learners_nn import BiLSTMCRFLearner


def _tiny_corpus():
    return [
        (["the", "dose", "was", "high"], ["O", "ENT", "O", "O"]),
        (["dose", "of", "aspirin"], ["ENT", "O", "DRUG"]),
        (["aspirin", "helps"], ["DRUG", "O"]),
    ]


def test_gradients_match_finite_differences():
    """Every backprop path — CRF transitions, linear head, both LSTM
    directions' gates, word embeddings, char-trigram bag — against
    central finite differences. The correctness evidence a from-scratch
    BPTT needs; float64 throughout, rel-err < 1e-5."""
    learner = BiLSTMCRFLearner(embedding_dim=5, char_dim=3, hidden_dim=4, epochs=1)
    corpus = _tiny_corpus()
    learner.fit(corpus, epochs=1)  # builds + takes a step; params now generic
    lab_i = {y: i for i, y in enumerate(learner.labels)}
    words, gold = corpus[0]
    gi = np.array([lab_i[y] for y in gold])

    def loss():
        return learner._sentence_grads(words, gi)[0]

    _, grads = learner._sentence_grads(words, gi)
    eps = 1e-6
    rng = np.random.RandomState(0)

    def check(tensor, analytic, name):
        flat = tensor.reshape(-1)
        ga = analytic.reshape(-1)
        for idx in rng.choice(flat.size, size=min(6, flat.size), replace=False):
            orig = flat[idx]
            flat[idx] = orig + eps
            lp = loss()
            flat[idx] = orig - eps
            lm = loss()
            flat[idx] = orig
            num = (lp - lm) / (2 * eps)
            assert num == pytest.approx(ga[idx], rel=1e-5, abs=1e-7), (name, idx)

    p = learner._params
    check(p["T"], grads["T"], "T")
    check(p["Wo"], grads["Wo"], "Wo")
    check(p["bo"], grads["bo"], "bo")
    check(p["E"], grads["E"], "E")
    check(p["C"], grads["C"], "C")
    for name, lstm in (("fwd", learner.fwd), ("bwd", learner.bwd)):
        check(lstm.Wx, grads[name]["Wx"], f"{name}.Wx")
        check(lstm.Wh, grads[name]["Wh"], f"{name}.Wh")
        check(lstm.b, grads[name]["b"], f"{name}.b")


def _long_range_corpus():
    """The label of 'it' depends on a trigger FIVE tokens earlier — outside
    the ±2 feature window of the perceptron/CRF learners, well inside a
    BiLSTM's recurrent state."""
    fillers = ["one", "two", "three", "four", "five", "six"]
    sents = []
    for i in range(40):
        # filler choice depends on i mod 3 only — INDEPENDENT of the
        # i mod 2 label parity, so window features around 'it' carry no
        # signal and only the recurrent state can disambiguate
        f = [fillers[(2 * i + j) % 6] for j in range(4)]
        trigger = "drug" if i % 2 == 0 else "noise"
        label = "DRUG" if trigger == "drug" else "O"
        words = [trigger, *f, "it", "acts"]
        tags = ["O"] * 5 + [label, "O"]
        sents.append((words, tags))
    return sents[:30], sents[30:]


def test_bilstm_learns_long_range_context_where_window_learners_cannot():
    from medacy_spark.learners import PerceptronLearner

    train, test = _long_range_corpus()
    nn = BiLSTMCRFLearner(
        embedding_dim=10, char_dim=4, hidden_dim=12, epochs=60, lr=0.05
    ).fit(train)
    it_acc = lambda model: sum(  # noqa: E731
        model([w])[0][5] == tags[5] for w, tags in test
    ) / len(test)
    acc_nn = it_acc(nn)
    # the disambiguating token is outside the window features: the
    # perceptron sees identical features for both classes of 'it'
    acc_p = it_acc(PerceptronLearner(window=2, epochs=10).fit(train))
    assert acc_nn == 1.0
    assert acc_p <= 0.6  # indistinguishable features -> one class for all

    # determinism: same seed, same corpus, same predictions
    nn2 = BiLSTMCRFLearner(
        embedding_dim=10, char_dim=4, hidden_dim=12, epochs=60, lr=0.05
    ).fit(train)
    assert nn([w for w, _ in test]) == nn2([w for w, _ in test])


def test_pretrained_embeddings_and_pickle_roundtrip(tmp_path):
    """word_vectors freezes the embedding table (Embedding.from_pretrained
    semantics) and the fitted learner pickles for Model.save/broadcast."""
    import pickle

    vecs = {w: np.eye(6)[i % 6].tolist() for i, w in enumerate(
        ["the", "dose", "was", "high", "of", "aspirin", "helps"]
    )}
    learner = BiLSTMCRFLearner(hidden_dim=6, epochs=5, word_vectors=vecs)
    learner.fit(_tiny_corpus())
    before = learner._params["E"].copy()
    # frozen: another fit step must not move the pretrained table
    lab_i = {y: i for i, y in enumerate(learner.labels)}
    w, g = _tiny_corpus()[1]
    _, grads = learner._sentence_grads(w, np.array([lab_i[y] for y in g]))
    assert "E" not in grads
    assert np.array_equal(before, learner._params["E"])

    blob = pickle.dumps(learner)
    back = pickle.loads(blob)
    sents = [list(w) for w, _ in _tiny_corpus()]
    assert back(sents) == learner(sents)


def test_bilstm_spec_and_broadcast_scoring(spark):
    """pipeline spec learner 'BiLSTM' now constructs the numpy learner
    (the reference raises only for 'BERT' here), and the fitted model
    scores through the same broadcast Arrow stage as every learner."""
    from medacy_spark.operators.ner_model import score_sentences
    from medacy_spark.pipeline import json_to_pipeline

    pipe = json_to_pipeline({"learner": "BiLSTM", "spacy_pipeline": "en"})
    learner = pipe.make_learner()
    assert isinstance(learner, BiLSTMCRFLearner)
    train, test = _long_range_corpus()
    learner = BiLSTMCRFLearner(
        embedding_dim=10, char_dim=4, hidden_dim=12, epochs=60, lr=0.05
    ).fit(train)

    rows = [
        (si, 0, ti, 0, 0, w)
        for si, (words, _) in enumerate(test)
        for ti, w in enumerate(words)
    ]
    toks = spark.createDataFrame(
        rows, "doc_id long, sent_id int, tok_id int, idx long, end_idx long, word string"
    )
    bc = spark.sparkContext.broadcast(learner)
    scored = {
        (r["doc_id"], r["tok_id"]): r["label"]
        for r in score_sentences(toks, bc).collect()
    }
    driver = {
        (si, ti): lab
        for si, (words, _) in enumerate(test)
        for ti, lab in enumerate(learner([words])[0])
    }
    assert scored == driver


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_spec_word_embeddings_load_reference_fixture():
    """The spec's word_embeddings path loads via the S6 local loader
    (vectorizer.load_word_embeddings analogue) and freezes the table;
    fixture = the reference's own sample embeddings file."""
    from medacy_spark.pipeline import json_to_pipeline
    from medacy_spark.sources.embeddings import load_word_vectors_local

    path = "/root/reference/medacy/tests/sample_data/test_word_embeddings.txt"
    vecs = load_word_vectors_local(path)
    assert len(vecs) > 0
    dim = len(next(iter(vecs.values())))
    assert all(len(v) == dim for v in vecs.values())

    pipe = json_to_pipeline({
        "learner": "BiLSTM", "spacy_pipeline": "en", "word_embeddings": path,
    })
    learner = pipe.make_learner()
    learner.fit(_tiny_corpus(), epochs=1)
    assert learner._freeze_emb and learner.embedding_dim == dim


def test_embeddings_loader_header_only_on_line_one(tmp_path):
    """The word2vec '<count> <dim>' header skip applies to line 1 ONLY: a
    later all-digit row is a legitimate embedding for a numeric token
    (e.g. the token '7' with a 1-dim integer vector) and must be kept."""
    from medacy_spark.sources.embeddings import load_word_vectors_local

    p = tmp_path / "emb.txt"
    p.write_text("2 1\nword 0.5\n7 3\n")
    vecs = load_word_vectors_local(str(p))
    assert vecs == {"word": [0.5], "7": [3.0]}


def test_bilstm_fit_rejects_labels_outside_supplied_set():
    """fit(labels=...) with an example carrying an unlisted label raises a
    descriptive ValueError instead of an opaque KeyError."""
    import pytest

    from medacy_spark.learners_nn import BiLSTMCRFLearner

    learner = BiLSTMCRFLearner(embedding_dim=8, hidden_dim=8, epochs=1)
    with pytest.raises(ValueError, match="Zebra"):
        learner.fit([(["a", "b"], ["O", "Zebra"])], labels=["O", "Drug"])


def test_bilstm_fit_sharded_model_averaging(spark):
    """Distributed neural fit by iterative model averaging: shards train
    locally inside applyInPandas Arrow batches from the broadcast mixed
    parameters (round 0 = one shared seeded init, so tensors stay
    row-aligned); only model-scale snapshots reach the driver. The mixed
    model must solve the long-range task like the driver-side fit, and
    Model.fit must route an over-threshold corpus through it."""
    from pyspark.sql import functions as F

    train, test = _long_range_corpus()
    rows = [(i, 0, list(w), list(g)) for i, (w, g) in enumerate(train)]
    sent_df = spark.createDataFrame(
        rows, "doc_id long, sent_id int, words array<string>, labels array<string>"
    )
    nn = BiLSTMCRFLearner(embedding_dim=10, char_dim=4, hidden_dim=12, epochs=90, lr=0.05)
    nn.fit_sharded(sent_df, n_shards=3, mix_rounds=3)
    acc = sum(nn([w])[0][5] == tags[5] for w, tags in test) / len(test)
    assert acc == 1.0
    # deterministic: same sharding, same seed, same result
    nn2 = BiLSTMCRFLearner(embedding_dim=10, char_dim=4, hidden_dim=12, epochs=90, lr=0.05)
    nn2.fit_sharded(sent_df, n_shards=3, mix_rounds=3)
    assert nn([w for w, _ in test]) == nn2([w for w, _ in test])


def test_bilstm_model_end_to_end_quality(spark):
    """Full Model path with the neural learner: fit through gold_overlay
    on the synthetic clinical corpus, broadcast, Arrow scoring, island
    merge. Deterministic; 40 docs / 8 epochs reaches perfect precision
    and >=0.9 recall against gold mentions."""
    from medacy_spark.corpus.synth import clinical_documents, gold_mentions
    from medacy_spark.model import Model

    ids = spark.range(40).selectExpr("id as doc_id")
    docs = clinical_documents(ids).select("doc_id", "text")
    gold = gold_mentions(ids)
    m = Model(
        spark, BiLSTMCRFLearner(embedding_dim=12, hidden_dim=16, epochs=8)
    ).fit(docs, gold)
    pred = m.predict(docs)
    n_pred = pred.count()
    exact = pred.join(gold, ["doc_id", "tag", "start", "end"], "left_semi").count()
    n_gold = gold.count()
    assert exact == n_pred               # perfect precision
    assert exact / n_gold >= 0.9         # high recall (deterministic run)


def test_pmc_embedding_fixture_integrity():
    """The checked-in PPMI+SVD word2vec fixture
    (tools/make_embedding_fixture.py — the reference's pretrained-word2vec
    stand-in, built from the sample dataset's unlabeled text): parses
    through the S6 loader, 50-dim unit vectors covering the PMC
    vocabulary, and the BiLSTM consumes it as a frozen table."""
    import numpy as np

    from medacy_spark.sources.embeddings import load_word_vectors_local

    vecs = load_word_vectors_local("tests/fixtures/pmc_word2vec.txt")
    assert len(vecs) == 1095
    dims = {len(v) for v in vecs.values()}
    assert dims == {50}
    norms = [float(np.linalg.norm(v)) for v in list(vecs.values())[:50]]
    assert all(abs(n - 1.0) < 1e-3 or n == 0.0 for n in norms)
    # clinical anchor words from the PMC docs are covered
    for w in ("rats", "dose", "effects", "sodium", "mg"):
        assert w in vecs, w

    learner = BiLSTMCRFLearner(epochs=1, word_vectors=vecs)
    learner.fit([
        (["rats", "received", "a", "dose"], ["O", "O", "O", "Dose"]),
        (["exposure", "to", "toxicity"], ["O", "O", "O"]),
    ])
    assert learner.embedding_dim == 50  # frozen table width adopted
    assert learner._freeze_emb

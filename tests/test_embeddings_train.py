"""Distributed word-embedding pretraining gates (operators/embeddings_train).

Three layers: (1) the Spark co-occurrence count against a brute-force
±window replay, (2) the in-engine PPMI expression against the dense
numpy expression `ppmi_svd` evaluates, (3) the headline equivalence —
the distributed pipeline reproduces the checked-in PMC word2vec fixture
BYTE-identically (tools/make_embedding_fixture.py is now just a binding
over the operator, so this also pins the fixture's provenance)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from conftest import REF
from medacy_spark.operators.embeddings_train import (
    cooccurrence_pairs,
    ppmi,
    train_word_vectors,
    write_word2vec,
)

# (doc_id, sent_id, [words]) — includes a case/whitespace-dirty token, a
# literal '\n' token (the clinical tokenizer emits those; str.strip()
# semantics must drop it), and a singleton sentence whose word co-occurs
# with nothing
SENTS = [
    (0, 0, ["the", "Rat", "received", "the", "dose", "\n", "daily"]),
    (0, 1, [" the ", "dose", "was", "low"]),
    (1, 0, ["rat", "died"]),
    (1, 1, ["necropsy"]),
]


def _tokens(spark):
    rows = [
        (d, s, i, w)
        for d, s, words in SENTS
        for i, w in enumerate(words)
    ]
    return spark.createDataFrame(rows, "doc_id int, sent_id int, tok_id int, word string")


def _brute_counts(window: int, sents=SENTS):
    counts: dict[tuple[str, str], int] = {}
    for _d, _s, words in sents:
        ws = [w.strip().lower() for w in words]
        ws = [w for w in ws if w]
        for i, wi in enumerate(ws):
            for j in range(max(0, i - window), min(len(ws), i + window + 1)):
                if j != i:
                    counts[(wi, ws[j])] = counts.get((wi, ws[j]), 0) + 1
    return counts


def test_cooccurrence_matches_brute_force(spark):
    got = {
        (r["word"], r["ctx"]): r["n"]
        for r in cooccurrence_pairs(_tokens(spark), window=2).collect()
    }
    assert got == _brute_counts(2)
    # symmetric by construction
    assert all(got[(b, a)] == n for (a, b), n in got.items())
    # the '\n' token and the padded ' the ' both resolved via strip/lower
    assert not any("\n" in a or " " in a for a, _ in got)
    assert ("the", "rat") in got


def test_ppmi_engine_matches_dense_numpy(spark):
    cooc = cooccurrence_pairs(_tokens(spark), window=2)
    engine = {
        (r["word"], r["ctx"]): r["ppmi"] for r in ppmi(cooc).collect()
    }
    # dense replay of the identical expression
    brute = _brute_counts(2)
    vocab = sorted({w for pair in brute for w in pair})
    idx = {w: i for i, w in enumerate(vocab)}
    counts = np.zeros((len(vocab), len(vocab)))
    for (a, b), n in brute.items():
        counts[idx[a], idx[b]] = float(n)
    total = counts.sum()
    word_p = counts.sum(axis=1) / total
    ctx = counts.sum(axis=0) ** 0.75
    ctx_p = ctx / ctx.sum()
    with np.errstate(divide="ignore", invalid="ignore"):
        pmi = np.log((counts / total) / np.outer(word_p, ctx_p))
    dense = np.where(np.isfinite(pmi) & (pmi > 0), pmi, 0.0)
    assert set(engine) == set(brute)  # sparse support = count support
    for (a, b), v in engine.items():
        assert v == pytest.approx(max(dense[idx[a], idx[b]], 0.0), abs=1e-9)


def test_train_word_vectors_vocab_from_token_stream(spark):
    vocab, vecs = train_word_vectors(_tokens(spark), dim=4, window=2)
    assert vocab == sorted(
        {w.strip().lower() for _d, _s, ws in SENTS for w in ws if w.strip()}
    )
    # the singleton-sentence word co-occurs with nothing but still gets a
    # vector row (vocab comes from the token stream, not the count table)
    assert "necropsy" in vocab
    assert vecs.shape == (len(vocab), 4)
    norms = np.linalg.norm(vecs, axis=1)
    assert np.allclose(norms[norms > 0], 1.0)


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_train_word_vectors_reproduces_pmc_fixture(spark, tmp_path):
    """The headline gate: distributed counting + driver PPMI/SVD over
    the reference sample dataset's unlabeled text == the checked-in
    fixture, byte for byte (the BiLSTM's pretrained table is therefore
    producible by this engine, not just consumable)."""
    from medacy_spark.__main__ import _dataset
    from medacy_spark.operators.tokenize import tokenize_clinical

    docs, _gold = _dataset(
        spark, "/root/reference/medacy/tests/sample_data/sample_dataset_1"
    )
    vocab, vecs = train_word_vectors(tokenize_clinical(docs))
    out = tmp_path / "pmc_word2vec.txt"
    write_word2vec(str(out), vocab, vecs)
    with open("tests/fixtures/pmc_word2vec.txt", "rb") as f:
        want = f.read()
    assert out.read_bytes() == want


def test_cooccurrence_gappy_positions_match_brute_force(spark):
    """Counts over long sequences with non-dense positions (filtered
    empties, gaps of 3) equal brute force over the cleaned sequences."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(17)]
    sents = []
    for d in range(4):
        n = rng.choice([3, 29, 161])
        words = [rng.choice(vocab + ["", " ", "\n"]) for _ in range(n)]
        sents.append((d, 0, words))

    rows = [
        (d, s, i * 3, w)  # non-dense positions: gaps survive cleaning
        for d, s, words in sents
        for i, w in enumerate(words)
    ]
    toks = spark.createDataFrame(
        rows, "doc_id int, sent_id int, tok_id int, word string"
    )
    plain = {
        (r["word"], r["ctx"]): r["n"]
        for r in cooccurrence_pairs(toks, window=4).collect()
    }
    assert plain == _brute_counts(4, sents)

"""json_to_pipeline (reference tools/json_to_pipeline.py surface) + the
systematic-review / character tokenizer rule sets."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from medacy_spark.pipeline import json_to_pipeline


def test_spec_validation_matches_reference():
    with pytest.raises(ValueError, match="Required key"):
        json_to_pipeline({"learner": "CRF"})
    with pytest.raises(ValueError, match="not an option"):
        json_to_pipeline(
            {"learner": "CRF", "spacy_pipeline": "en", "tokenizer": "nope"}
        )
    with pytest.raises(ValueError, match="semantic_types.*must be a key"):
        json_to_pipeline(
            {"learner": "CRF", "spacy_pipeline": "en", "metamap": "/bin/mm"}
        )
    with pytest.raises(ValueError, match="'all', 'none', or a list"):
        json_to_pipeline(
            {"learner": "CRF", "spacy_pipeline": "en", "metamap": "/bin/mm",
             "semantic_types": 7}
        )
    with pytest.raises(ValueError, match="must be 'CRF'"):
        json_to_pipeline({"learner": "SVM", "spacy_pipeline": "en"}).make_learner()
    # 'BERT' no longer raises: it builds the from-scratch numpy
    # transformer (learners_tx) — full construction gates live in
    # tests/test_learners_tx.py
    from medacy_spark.learners_tx import TransformerCRFLearner

    built = json_to_pipeline(
        {"learner": "BERT", "spacy_pipeline": "en"}
    ).make_learner()
    assert isinstance(built, TransformerCRFLearner)


def test_spec_json_file_roundtrip(tmp_path):
    import json

    p = tmp_path / "pipe.json"
    p.write_text(json.dumps({
        "learner": "CRF", "spacy_pipeline": "en_core_web_sm",
        "tokenizer": "systematic_review", "window_size": 2,
    }))
    pipe = json_to_pipeline(str(p))
    assert pipe.tokenizer == "systematic_review"
    assert pipe.window_size == 2
    from medacy_spark.learners import PerceptronLearner

    assert isinstance(pipe.make_learner(), PerceptronLearner)


def test_tokenizer_selection_rule_surfaces(spark):
    """The three reference tokenizers on one engine: SR has no
    unanchored-suffix bug and strips trailing '.'; character emits
    single chars except exception chunks."""
    docs = spark.createDataFrame(
        [(0, "aspirin taken daily.")], "doc_id long, text string"
    )
    words = lambda pipe: [
        r["word"] for r in pipe.tokenize(docs).orderBy("pos").collect()
    ]
    base = {"learner": "CRF", "spacy_pipeline": "en"}
    sr = json_to_pipeline({**base, "tokenizer": "systematic_review"})
    assert words(sr) == ["aspirin", "taken", "daily", "."]
    cl = json_to_pipeline({**base, "tokenizer": "clinical"})
    assert words(cl)[:2] == ["aspiri", "n"]  # the replicated reference bug
    ch = json_to_pipeline({**base, "tokenizer": "character"})
    w = words(ch)
    assert w[:3] == ["a", "s", "p"] and all(len(x) == 1 for x in w)

    drdocs = spark.createDataFrame([(0, "Dr. told")], "doc_id long, text string")
    assert "Dr." in [
        r["word"] for r in json_to_pipeline(
            {**base, "tokenizer": "character"}
        ).tokenize(drdocs).collect()
    ]


def test_spec_pipeline_end_to_end(spark):
    """Spec → tokenizer + learner → fit/predict through the Model facade:
    the ambiguous-surface corpus (test_learners.TEXT) is solved by the
    spec-selected CRF→perceptron learner."""
    from tests.test_learners import GOLD, TEXT

    docs = spark.createDataFrame(
        [(i, TEXT) for i in range(20)], "doc_id long, text string"
    )
    gold = spark.createDataFrame(
        [(i, t, s, e, "x") for i in range(20) for t, s, e in GOLD],
        "doc_id long, tag string, start long, end long, text string",
    )
    pipe = json_to_pipeline(
        {"learner": "CRF", "spacy_pipeline": "en", "window_size": 2,
         "entities": ["Drug", "ADE"]},
    )
    pipe.validate_entities(gold)
    with pytest.raises(ValueError, match="not present"):
        json_to_pipeline(
            {"learner": "CRF", "spacy_pipeline": "en", "entities": ["Dose"]}
        ).validate_entities(gold)
    m = pipe.make_model(spark).fit(docs, gold)
    pred = m.predict(docs)
    got = {(r["doc_id"], r["tag"], r["start"], r["end"])
           for r in pred.collect()}
    want = {(i, t, s, e) for i in range(20) for t, s, e in GOLD}
    assert got == want


def test_overlay_cuis_semantic_type_tristate(spark):
    """The spec's semantic_types tri-state (json_to_pipeline.py:70-79) as
    cui_overlay include lists: None flags every candidate type, [] emits
    feature_cui ONLY, a list flags just the listed types. No mode filters
    the candidates — feature_cui overlays every mapped term
    (metamap_component.py:122-136)."""
    from medacy_spark.operators.linking import cui_overlay

    toks = spark.createDataFrame(
        [(1, 0, 0, 0, 5, "drugx")],
        "doc_id long, sent_id int, tok_id int, idx long, end_idx long, word string",
    )
    cand = spark.createDataFrame(
        [(1, 0, 5, "C0001", ["T1", "T2"]), (1, 0, 5, "C0002", ["T3"])],
        "doc_id long, start long, end long, cui string, sem_types array<string>",
    )

    def feats(include):
        rows = cui_overlay(toks, cand, include_sem_types=include).collect()
        return {r["features"]["feature_cui"]: sorted(r["features"].keys())
                for r in rows}

    f_all = feats(None)
    assert f_all["C0001"] == ["feature_cui", "feature_is_T1", "feature_is_T2"]
    assert f_all["C0002"] == ["feature_cui", "feature_is_T3"]
    f_none = feats([])  # cui only, NO type flags, no candidate filter
    assert f_none == {"C0001": ["feature_cui"], "C0002": ["feature_cui"]}
    f_list = feats(("T2",))  # flags only T2; C0002 still gets its cui
    assert f_list == {
        "C0001": ["feature_cui", "feature_is_T2"],
        "C0002": ["feature_cui"],
    }


def test_spec_entities_key_validates(spark):
    """An 'entities' key inside the spec itself triggers P8 validation."""
    gold = spark.createDataFrame(
        [(1, "Drug", 0, 3, "x")],
        "doc_id long, tag string, start long, end long, text string",
    )
    pipe = json_to_pipeline(
        {"learner": "CRF", "spacy_pipeline": "en", "entities": ["Dose"]}
    )
    with pytest.raises(ValueError, match="not present"):
        pipe.validate_entities(gold)
    json_to_pipeline(
        {"learner": "CRF", "spacy_pipeline": "en", "entities": ["Drug"]}
    ).validate_entities(gold)


def test_spec_text_extractor(spark):
    """The TextExtractor shim (text_extractor.py:5-30): bare token texts
    per sentence (no dicts, no window) and (idx, idx+len) index spans;
    unknown extractor names raise at spec compile."""
    import pytest

    from medacy_spark.operators.features import text_extractor_tuples

    pipe = json_to_pipeline({
        "learner": "CRF", "spacy_pipeline": "en", "feature_extractor": "text",
    })
    docs = spark.createDataFrame(
        [(1, "aspirin 10 mg daily .")], "doc_id long, text string"
    )
    row = text_extractor_tuples(pipe.tokenize(docs)).first()
    assert row["features"] == ["aspirin", "10", "mg", "daily", "."]
    assert [(s["start"], s["end"]) for s in row["indices"]] == [
        (0, 7), (8, 10), (11, 13), (14, 19), (20, 21)
    ]
    # TextExtractor semantics: token.idx / idx+len of the source text
    for s, tok in zip(row["indices"], row["features"]):
        assert "aspirin 10 mg daily ."[s["start"]:s["end"]] == tok

    with pytest.raises(ValueError, match="feature_extractor"):
        json_to_pipeline({
            "learner": "CRF", "spacy_pipeline": "en",
            "feature_extractor": "bogus",
        })

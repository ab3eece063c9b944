"""FeatureTuple extraction (W1/X1 tail), spaCy-ish features (F18),
vocab indexing (A9), multi-model merge (U6), resegmentation (W4)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from medacy_spark.operators.features import (
    extract_feature_tuples,
    multi_model_merge,
    vocab_index,
    with_spacy_features,
)
from medacy_spark.operators.tokenize import tokenize_native


def test_spacy_features(spark):
    docs = spark.createDataFrame(
        [(1, "Aspirin 500 mg BID .")], "doc_id long, text string"
    )
    t = with_spacy_features(tokenize_native(docs))
    rows = {r["word"]: r for r in t.collect()}
    assert rows["Aspirin"]["shape_"] == "Xxxxx"   # run-collapse to 4+... Xxxxxxx→Xxxxx? see below
    assert rows["Aspirin"]["prefix_"] == "A"
    assert rows["Aspirin"]["suffix_"] == "rin"
    assert rows["500"]["like_num"] == "true"
    assert rows["."]["is_punct"] == "true"
    assert rows["BID"]["shape_"] == "XXX"


def test_feature_tuples_window(spark):
    docs = spark.createDataFrame([(1, "a bb ccc dddd .")], "doc_id long, text string")
    toks = tokenize_native(docs)
    ft = extract_feature_tuples(toks, window_size=1, feature_cols=["word"])
    row = ft.collect()[0]
    feats = row["features"]
    assert len(feats) == 5
    # token 'bb' (index 1): bias + -1/0/1 word features
    f1 = feats[1]
    assert f1["bias"] == "1.0"
    assert f1["-1:word"] == "a" and f1["0:word"] == "bb" and f1["1:word"] == "ccc"
    # first token has no -1 key
    assert "-1:word" not in feats[0]
    spans = row["indices"]
    assert (spans[0]["start"], spans[0]["end"]) == (0, 1)
    assert (spans[4]["start"], spans[4]["end"]) == (14, 15)


def test_vocab_index_and_multi_model(spark):
    vals = spark.createDataFrame([("b",), ("a",), ("c",), ("a",)], "tag string")
    idx = {r["tag"]: r["index"] for r in vocab_index(vals, "tag").collect()}
    assert idx == {"a": 0, "b": 1, "c": 2}

    m1 = spark.createDataFrame([(1, "A", 0, 3, "x")],
                               "doc_id long, tag string, start long, end long, text string")
    m2 = spark.createDataFrame([(1, "A", 0, 3, "x"), (1, "B", 4, 7, "y")],
                               "doc_id long, tag string, start long, end long, text string")
    merged = multi_model_merge([m1, m2])
    assert merged.count() == 2


def test_resegment(spark):
    from medacy_spark.operators.sequence import resegment

    docs = spark.createDataFrame([(1, "took 500 mg po daily")], "doc_id long, text string")
    toks = tokenize_native(docs).withColumnRenamed("idx", "start").withColumnRenamed(
        "end_idx", "end"
    )
    merge = spark.createDataFrame([(1, 5, 11)], "doc_id long, start long, end long")
    out = resegment(toks, merge, part_cols=["doc_id"], order_col="start")
    got = {r["word"]: r["new_tok_id"] for r in out.collect()}
    # '500' and 'mg' collapse into one token id; later tokens shift down
    assert got["took"] == 0 and got["500"] == 1 and got["mg"] == 1
    assert got["po"] == 2 and got["daily"] == 3


def test_with_pos_rule_tagger(spark):
    """F18 pos_ source: closed classes, suffix heuristics, NUM/PUNCT."""
    from medacy_spark.operators.features import with_pos
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame(
        [(1, "the patient was quickly given 20 tablets and improved .")],
        "doc_id long, text string",
    )
    t = with_pos(tokenize_native(docs))
    got = {r["word"]: r["pos_"] for r in t.collect()}
    assert got == {
        "the": "DET", "patient": "NOUN", "was": "AUX", "quickly": "ADV",
        "given": "NOUN", "20": "NUM", "tablets": "NOUN", "and": "CCONJ",
        "improved": "VERB", ".": "PUNCT",
    }


def test_pos_drop_with_real_tagger_and_windows(spark):
    """P10 over REAL pos_ values: ADP/DET tokens vanish from the window
    context unless they are targets, and pos_ flows through the window
    features (clinical_pipeline.py:41 feature set)."""
    from medacy_spark.operators.features import extract_feature_tuples, with_pos
    from medacy_spark.operators.misc import pos_drop
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame(
        [(1, "dose of aspirin in the morning .")], "doc_id long, text string"
    )
    toks = with_pos(tokenize_native(docs)).withColumn(
        "is_target", F.col("word") == F.lit("in")
    )
    kept = [r["word"] for r in pos_drop(toks, ("ADP", "DET")).orderBy("pos").collect()]
    # 'of' (ADP) and 'the' (DET) drop; target 'in' survives its own drop
    assert kept == ["dose", "aspirin", "in", "morning", "."]

    # pos_ is a first-class window feature now
    ft = extract_feature_tuples(
        tokenize_native(docs), window_size=1,
        feature_cols=["pos_", "shape_", "prefix_", "suffix_", "word"],
    )
    feats = ft.filter(F.col("sent_id") == 0).first()["features"]
    assert feats[1]["0:pos_"] == "ADP"       # 'of'
    assert feats[1]["-1:pos_"] == "NOUN"     # 'dose'
    assert feats[1]["1:pos_"] == "NOUN"      # 'aspirin'


def test_with_head_heuristic(spark):
    """F18 head_ stand-in: nearest preceding verb/aux anchors the clause;
    a verb heads itself; pre-verb tokens head to the sentence start."""
    from medacy_spark.operators.features import with_head
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame(
        [(1, "patient was given aspirin . severe rash followed quickly .")],
        "doc_id long, text string",
    )
    t = with_head(tokenize_native(docs))
    got = [(r["word"], r["head_"]) for r in t.orderBy("pos").collect()]
    assert got == [
        ("patient", "patient"),   # pre-verb -> sentence-initial
        ("was", "was"),           # aux heads itself
        ("given", "was"),         # 'given' tags NOUN (suffix rule) -> last verb
        ("aspirin", "was"),
        (".", "was"),
        ("severe", "severe"),     # new sentence, no verb yet
        ("rash", "severe"),
        ("followed", "followed"), # VERB (-ed) heads itself
        ("quickly", "followed"),
        (".", "followed"),
    ]


def test_feature_tuples_with_head_column(spark):
    """'head' in a pipeline's spacy_features (drug_event_pipeline.py:44)
    flows through the window machinery."""
    from medacy_spark.operators.features import extract_feature_tuples
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame(
        [(1, "dose was increased today .")], "doc_id long, text string"
    )
    ft = extract_feature_tuples(
        tokenize_native(docs), window_size=1, feature_cols=("word", "head_")
    )
    feats = ft.first()["features"]
    assert feats[2]["0:head_"] == "increased"  # -ed verb heads itself
    assert feats[3]["0:head_"] == "increased"  # 'today' -> last verb
    assert feats[0]["1:head_"] == "was"        # neighbor head feature


def test_detect_window_size(spark):
    """W8: window size recovered from the longest sentence's center-token
    keys (nn/vectorizer.py:101-131), asymmetry raises."""
    import pytest

    from medacy_spark.operators.features import (
        detect_window_size, extract_feature_tuples,
    )
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame(
        [(1, "a bb ccc dddd eeeee ffff ggg hh i"), (2, "x y")],
        "doc_id long, text string",
    )
    for k in (0, 1, 3):
        ft = extract_feature_tuples(
            tokenize_native(docs), window_size=k, feature_cols=["word"]
        )
        assert detect_window_size(ft) == k

    # asymmetric windows raise with the reference's message
    ft = extract_feature_tuples(
        tokenize_native(docs), window_size=2, feature_cols=["word"]
    )
    broken = ft.withColumn(
        "features",
        F.transform(
            "features",
            lambda m: F.map_filter(m, lambda key, _: ~key.startswith("-2")),
        ),
    )
    with pytest.raises(ValueError, match="asymmetrical"):
        detect_window_size(broken)


def _pos_corpus():
    """Shared deterministic POS corpus — promoted into the package
    (corpus.synth.pos_sentences) so the pretrained artifact builder,
    the trained_pos_tags oracle and this gate train on ONE source."""
    from medacy_spark.corpus.synth import pos_sentences

    return pos_sentences()


def test_trained_pos_tagger_beats_rule_tagger(spark):
    """The trainable upgrade path (train_pos_tagger): an averaged
    perceptron trained on 90 synthetic sentences beats the deterministic
    rule tagger on 30 held-out sentences, and with_pos_model applies it
    through the broadcast Arrow stage bit-identically to driver-side
    decoding."""
    from medacy_spark.operators.features import (
        train_pos_tagger,
        with_pos,
        with_pos_model,
    )

    train, test = _pos_corpus()
    tagger = train_pos_tagger(train, epochs=5)

    gold = [t for _, tags in test for t in tags]
    pred = [t for tags in tagger([w for w, _ in test]) for t in tags]
    acc_perceptron = sum(g == p for g, p in zip(gold, pred)) / len(gold)

    # the rule tagger on the same held-out tokens, via the actual operator
    rows = [
        (si, 0, ti, 0, 0, w)
        for si, (words, _) in enumerate(test)
        for ti, w in enumerate(words)
    ]
    toks = spark.createDataFrame(
        rows, "doc_id long, sent_id int, tok_id int, idx long, end_idx long, word string"
    )
    rule = {
        (r["doc_id"], r["tok_id"]): r["pos_"]
        for r in with_pos(toks).collect()
    }
    gold_map = {
        (si, ti): tag
        for si, (_, tags) in enumerate(test)
        for ti, tag in enumerate(tags)
    }
    acc_rule = sum(rule[k] == v for k, v in gold_map.items()) / len(gold_map)

    assert acc_perceptron >= 0.9
    assert acc_perceptron > acc_rule

    # Spark path parity: broadcast Arrow scoring == driver-side Viterbi
    scored = {
        (r["doc_id"], r["tok_id"]): r["pos_"]
        for r in with_pos_model(toks, spark, tagger).collect()
    }
    driver = {
        (si, ti): tag
        for si, (words, _) in enumerate(test)
        for ti, tag in enumerate(tagger([words])[0])
    }
    assert scored == driver


def test_shipped_pos_and_boundary_artifacts():
    """The pretrained artifacts under tests/fixtures/ (pos_tagger.pkl,
    boundary_model.pkl, built by tools/make_pos_fixture.py) load through
    the S7 pickle contract and reproduce a freshly-trained model exactly
    — the learner is deterministic, so a drifting artifact means the
    builder was not re-run after a learner/corpus change. The pinned
    trained_pos_tags.parquet oracle fixture must match the loaded
    tagger's live Viterbi on every sentence of the token fixture."""
    import os

    import pyarrow.parquet as pq

    from medacy_spark.corpus.synth import boundary_sentences, pos_sentences
    from medacy_spark.model import load_artifact
    from medacy_spark.operators.features import train_pos_tagger
    from medacy_spark.operators.tokenize import train_sentence_boundary

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    tagger = load_artifact(os.path.join(fixtures, "pos_tagger.pkl"))
    train, held_out = pos_sentences()
    fresh = train_pos_tagger(train, epochs=5)
    sents = [w for w, _ in held_out]
    assert tagger(sents) == fresh(sents)

    boundary = load_artifact(os.path.join(fixtures, "boundary_model.pkl"))
    btrain, bheld = boundary_sentences()
    bfresh = train_sentence_boundary(btrain, epochs=8)
    bsents = [w for w, _ in bheld]
    assert boundary(bsents) == bfresh(bsents)
    # the artifact solves the case the '.'-rule cannot: gold B/I on held-out
    assert boundary(bsents) == [bi for _, bi in bheld]

    # pinned oracle fixture == live Viterbi of the loaded artifact
    rows = pq.read_table(
        os.path.join(fixtures, "trained_pos_tags.parquet")
    ).to_pylist()
    assert rows, "empty trained_pos_tags fixture"
    groups: dict[tuple, list] = {}
    for r in rows:
        groups.setdefault(
            (r["sig_n"], r["sig_s"], r["doc_id"], r["sent_id"]), []
        ).append(r)
    for key, grp in groups.items():
        grp = sorted(grp, key=lambda r: r["tok_id"])
        live = tagger([[r["word"] for r in grp]])[0]
        assert [r["pos_"] for r in grp] == live, key

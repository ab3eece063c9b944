"""Model facade: fit -> predict -> cross_validate (reference test_model.py
analogues: fit/predict round-trip, predict polymorphism-free table-in/
table-out, cross_validate completes and rejects k<=1)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from conftest import REF
from medacy_spark.corpus.synth import clinical_documents, gold_mentions
from medacy_spark.model import FrequencyLearner, Model
from medacy_spark.operators.scoring import measures


def test_fit_predict_high_pr(spark, doc_ids):
    ids = doc_ids.filter("doc_id < 300")
    docs = clinical_documents(ids).select("doc_id", "text")
    gold = gold_mentions(ids)
    m = Model(spark).fit(docs, gold)
    pred = m.predict(docs)
    row = measures(gold, pred.select("doc_id", "tag", "start", "end", "text"),
                   mode="strict").filter("tag='system'").collect()[0]
    p = row["tp"] / (row["tp"] + row["fp"])
    r = row["tp"] / (row["tp"] + row["fn"])
    # learned surface-form table + unit rules recover the corpus exactly
    assert p >= 0.95 and r >= 0.95


def test_predict_before_fit_raises(spark, doc_ids):
    with pytest.raises(RuntimeError):
        Model(spark).predict(clinical_documents(doc_ids).select("doc_id", "text"))


def test_learner_pickles(spark):
    import pickle

    learner = FrequencyLearner().fit_table({"tylenol": "Drug"})
    back = pickle.loads(pickle.dumps(learner))
    assert back(["tylenol was taken".split()]) == [["Drug", "O", "O"]]


def test_cross_validate(spark, doc_ids):
    ids = doc_ids.filter("doc_id < 120")
    docs = clinical_documents(ids).select("doc_id", "text")
    gold = gold_mentions(ids)
    stats = Model(spark).cross_validate(docs, gold, num_folds=2)
    rows = {r["label"]: r for r in stats.collect()}
    assert "system" in rows
    assert rows["system"]["avg_f1"] > 0.9
    for r in rows.values():
        assert 0.0 <= r["min_precision"] <= r["avg_precision"] <= r["max_precision"] <= 1.0

    with pytest.raises(ValueError):
        Model(spark).cross_validate(docs, gold, num_folds=1)


def test_learner_shootout_ordering(spark):
    """The shootout's qualitative ordering (tools/learner_shootout.py,
    last at a3140ec → BASELINE.md), pinned on the synthetic corpus where
    runtimes stay test-sized: every context learner — perceptron, CRF,
    BiLSTM-CRF, transformer — separates the ambiguous surface perfectly under
    cross-validation, while the frequency memorizer collapses both
    contexts onto one label. All learners are seeded/deterministic, so
    this ordering is stable across reruns by construction."""
    from medacy_spark.learners import CRFLearner, PerceptronLearner
    from medacy_spark.learners_nn import BiLSTMCRFLearner
    from medacy_spark.learners_tx import TransformerCRFLearner

    text = "take x now . felt x today ."
    docs = spark.createDataFrame(
        [(i, text) for i in range(40)], "doc_id long, text string"
    )
    gold = spark.createDataFrame(
        [(i, t, s, e, "x") for i in range(40)
         for t, s, e in (("Drug", 5, 6), ("ADE", 18, 19))],
        "doc_id long, tag string, start long, end long, text string",
    )
    fams = {
        "frequency": FrequencyLearner(),
        "perceptron": PerceptronLearner(epochs=5, window=2),
        "crf": CRFLearner(epochs=10, window=2),
        # 8 epochs leaves the micro-task at all-O; decoding flips to the
        # learned labels between 8 and 20 (probed driver-side round 6)
        "bilstm": BiLSTMCRFLearner(embedding_dim=12, hidden_dim=16, epochs=24),
        "transformer": TransformerCRFLearner(
            d_model=16, n_heads=2, d_ff=32, n_layers=1, epochs=15,
            using_crf=True),
    }
    f1 = {}
    for name, lrn in fams.items():
        rows = Model(spark, lrn).cross_validate(docs, gold, 2).collect()
        f1[name] = [r for r in rows if r["label"] == "system"][0]["avg_f1"]
    assert f1["frequency"] <= 0.75
    for ctx in ("perceptron", "crf", "bilstm", "transformer"):
        assert f1[ctx] >= 0.9, (ctx, f1)
        assert f1[ctx] > f1["frequency"]


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_fit_windows_overlong_training_sequences(spark):
    """fit_max_seq_len: per-sequence update rules starve when a tokenizer
    without sentence breaks hands whole documents to the learner as one
    giant, DIVERSE training unit — tokenize_native only splits on
    standalone '.' tokens, so each PMC doc of the reference's own dataset
    becomes one ~1.6k-token sequence and 3 docs = 3 structured-perceptron
    updates per epoch, which stays all-O even in-sample (measured round 6
    at 10 AND 50 epochs; a synthetic repetitive corpus does NOT reproduce
    this — one update on 40 identical patterns generalizes instantly, so
    the gate uses the real data). The fit-side windowing restores
    learning with NO tokenizer change."""
    from medacy_spark.__main__ import _dataset
    from medacy_spark.learners import PerceptronLearner

    docs, gold = _dataset(
        spark,
        "/root/reference/medacy/tests/sample_data/sample_dataset_1",
    )

    starved = Model(spark, PerceptronLearner(epochs=10, window=2))
    starved.fit_max_seq_len = None
    n_starved = starved.fit(docs, gold).predict(docs).count()

    windowed = Model(spark, PerceptronLearner(epochs=10, window=2))
    assert windowed.fit_max_seq_len  # guard is ON by default
    n_windowed = windowed.fit(docs, gold).predict(docs).count()

    assert n_starved == 0     # the failure mode this guard closes
    # deterministic fit: measures exactly 45 mentions; margin for any
    # future tokenizer-rule re-pin
    assert n_windowed >= 40   # same data, same epochs, windowed fit


def test_reference_dataset_train_predict_validate(spark, tmp_path):
    """The reference's main user journey (medacy -d DIR train/predict/
    validate) on the reference's OWN dataset: fit on the BRAT dir, save +
    load the artifact, predict parseable .ann output, cross-validate a
    per-label table. String doc ids (file basenames) flow end to end."""
    import os

    from pyspark.sql import functions as F

    from medacy_spark.__main__ import _dataset
    from medacy_spark.model import Model
    from medacy_spark.operators.annotations import from_ann_lines, to_ann_lines

    ds = "/root/reference/medacy/tests/sample_data/sample_dataset_1"
    if not os.path.isdir(ds):
        import pytest as _pytest

        _pytest.skip("reference fixtures unavailable")
    docs, gold = _dataset(spark, ds)
    assert docs.count() == 3 and gold.count() > 400

    m = Model(spark).fit(docs, gold)
    path = str(tmp_path / "model.pkl")
    m.save(path)
    m2 = Model.load(spark, path)
    pred = m2.predict(docs)
    assert pred.count() > 100
    # predictions serialize to parseable BRAT and round-trip; mentions
    # whose text is empty (PMC double-space artifacts tokenize to empty
    # words) are dropped by brat_pattern's `.+` on re-parse — the
    # reference's own writer/parser pair loses them identically
    lines = to_ann_lines(pred)
    back = from_ann_lines(lines)
    assert back.count() == pred.filter(F.col("text") != "").count()
    # tags come from training, plus the learner's built-in number+unit
    # adjacency rules which always emit Dose/Duration
    gold_tags = {r["tag"] for r in gold.select("tag").distinct().collect()}
    pred_tags = {r["tag"] for r in pred.select("tag").distinct().collect()}
    assert pred_tags <= gold_tags | {"Dose", "Duration"}

    cv = Model(spark).cross_validate(docs, gold, num_folds=2).collect()
    labels = {r["label"] for r in cv}
    assert "Species" in labels
    for r in cv:
        assert 0.0 <= r["avg_f1"] <= 1.0


def test_write_brat_dir_scale_safe(spark, tmp_path):
    """The directory .ann sink (S4): executor-side partitioned write, no
    driver collect; file content byte-equal to a reference-shaped writer
    (lines in T-number = (start, end) span order, trailing newline)."""
    import inspect
    import os

    from medacy_spark.operators.annotations import to_ann_lines
    from medacy_spark.sources.corpus import write_brat_dir

    mentions = spark.createDataFrame(
        [
            # deliberately >9 mentions in one doc so lexical line order
            # (T1, T10, T2, ...) would differ from span order
            *[("docA", "Drug", 10 * i, 10 * i + 4, f"m{i}") for i in range(12)],
            ("docB", "Dose", 5, 9, "10 mg"),
            ("docB", "Drug", 0, 4, "aspirin"),
        ],
        "doc_id string, tag string, start long, end long, text string",
    )
    out = str(tmp_path / "preds")
    write_brat_dir(mentions, out)
    files = sorted(os.listdir(out))
    assert files == ["docA.ann", "docB.ann"]

    # reference-shaped expectation: group driver-side from to_ann_lines,
    # ordered by the T number the writer assigned (== span order)
    rows = to_ann_lines(mentions).collect()
    expected: dict[str, list[str]] = {}
    for r in rows:
        expected.setdefault(r["doc_id"], []).append(r["line"])
    for doc, ls in expected.items():
        ls.sort(key=lambda l: int(l[1 : l.index("\t")]))
        got = open(os.path.join(out, f"{doc}.ann")).read()
        assert got == "\n".join(ls) + "\n", doc
    # span order inside the file: ascending T and ascending start
    a_lines = open(os.path.join(out, "docA.ann")).read().splitlines()
    t_nums = [int(l[1 : l.index("\t")]) for l in a_lines]
    starts = [int(l.split("\t")[1].split(" ")[1]) for l in a_lines]
    assert t_nums == sorted(t_nums) and starts == sorted(starts)

    # no-collect gate: neither the sink nor the CLI predict branch may
    # pull mention rows to the driver
    src = inspect.getsource(write_brat_dir)
    assert ".collect()" not in src and "toPandas" not in src
    import medacy_spark.__main__ as cli

    assert ".collect()" not in inspect.getsource(cli.main).split('else:  # validate')[0]


def test_write_brat_dir_empty_ann_per_doc(spark, tmp_path):
    """With a documents spine, mention-less docs get an EMPTY .ann file —
    the reference predict writes one .ann per input .txt (model.py:260-270),
    so downstream pairing joins see no missing files."""
    import os

    from medacy_spark.sources.corpus import write_brat_dir

    docs = spark.createDataFrame(
        [("docA", "aspirin here"), ("docB", "nothing here"), ("docC", "")],
        "doc_id string, text string",
    )
    mentions = spark.createDataFrame(
        [("docA", "Drug", 0, 7, "aspirin")],
        "doc_id string, tag string, start long, end long, text string",
    )
    out = str(tmp_path / "preds")
    write_brat_dir(mentions, out, documents=docs)
    assert sorted(os.listdir(out)) == ["docA.ann", "docB.ann", "docC.ann"]
    assert open(os.path.join(out, "docA.ann")).read().startswith("T1\tDrug 0 7")
    assert open(os.path.join(out, "docB.ann")).read() == ""
    assert open(os.path.join(out, "docC.ann")).read() == ""

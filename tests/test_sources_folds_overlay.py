"""Converters (S9/W6), MetaMap JSON source (S5), folds (X4), overlay (J7)."""

from __future__ import annotations

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

REF = "/root/reference/medacy/tests/sample_data"


# ----------------------------------------------------------------- converters


def _docs_with_lines(spark):
    text = "the cat sat on a mat\nthe dog ate the bone quickly\nend of story"
    return spark.createDataFrame([(1, text)], "doc_id long, text string")


def test_line_word_index(spark):
    from medacy_spark.sources.converters import line_word_index

    idx = line_word_index(_docs_with_lines(spark))
    rows = {(r["line_no"], r["word_no"]): (r["abs_start"], r["abs_end"], r["word"])
            for r in idx.collect()}
    assert rows[(1, 0)] == (0, 3, "the")
    assert rows[(2, 0)] == (21, 24, "the")          # after "...mat\n"
    assert rows[(2, 1)] == (25, 28, "dog")
    assert rows[(3, 2)] == (57, 62, "story")


def test_con_roundtrip(spark):
    from medacy_spark.sources.converters import con_to_mentions, mentions_to_con, parse_con

    docs = _docs_with_lines(spark)
    lines = spark.createDataFrame(
        [
            (1, 'c="the dog" 2:0 2:1||t="Animal"'),
            (1, 'c="mat" 1:5 1:5||t="Object"'),
            (1, "not a con line"),
        ],
        "doc_id long, line string",
    )
    con = parse_con(lines)
    assert con.count() == 2
    m = con_to_mentions(con, docs)
    got = {(r["tag"], r["start"], r["end"]) for r in m.collect()}
    assert got == {("Animal", 21, 28), ("Object", 17, 20)}
    back = mentions_to_con(m, docs)
    out = {r["line"] for r in back.collect()}
    assert 'c="the dog" 2:0 2:1||t="Animal"' in out
    assert 'c="mat" 1:5 1:5||t="Object"' in out


def test_rel_ast_parse(spark):
    from medacy_spark.sources.converters import parse_ast, parse_rel

    rel = spark.createDataFrame(
        [(1, 'c="aspirin" 1:0 1:0||r="TrAP"||c="pain" 2:3 2:3')],
        "doc_id long, line string",
    )
    r = parse_rel(rel).collect()[0]
    assert (r["arg1_text"], r["rel"], r["arg2_text"]) == ("aspirin", "TrAP", "pain")
    ast = spark.createDataFrame(
        [(1, 'c="fever" 3:1 3:1||t="problem"||a="present"')],
        "doc_id long, line string",
    )
    a = parse_ast(ast).collect()[0]
    assert (a["text"], a["tag"], a["assertion"]) == ("fever", "problem", "present")


# ------------------------------------------------------------ metamap source


@pytest.mark.skipif(not os.path.isdir(REF), reason="reference fixtures unavailable")
def test_metamap_candidates_match_python_walk(spark):
    from medacy_spark.sources.metamap_json import candidates, read_metamap_json

    path = f"{REF}/sample_dataset_1/metamapped/PMC1257590.metamapped"
    parsed = read_metamap_json(spark, path)
    got = candidates(parsed)

    # oracle: walk the JSON in plain Python with the same single-vs-list
    # normalization the reference's _item_generator effectively performs
    def listify(x):
        return x if isinstance(x, list) else [x] if x is not None else []

    d = json.load(open(path))
    n, cuis = 0, set()
    for mmo in listify(d["metamap"]["MMOs"]["MMO"]):
        for u in listify(mmo["Utterances"]["Utterance"]):
            for p in listify(u["Phrases"]["Phrase"]):
                mappings = p.get("Mappings") or {}
                for m in listify(mappings.get("Mapping")):
                    for c in listify(m["MappingCandidates"]["Candidate"]):
                        pis = listify(c["ConceptPIs"]["ConceptPI"])
                        n += len(pis)
                        cuis.add(c["CandidateCUI"])
    assert got.count() == n
    assert {r["cui"] for r in got.select("cui").distinct().collect()} == cuis
    spans_ok = got.filter((F.col("end") > F.col("start")) & (F.col("start") >= 0))
    assert spans_ok.count() == got.count()


def test_metamap_corrupt_flag(spark, tmp_path):
    from medacy_spark.sources.metamap_json import read_metamap_json

    p = tmp_path / "x.metamapped"
    p.write_text("{}")
    parsed = read_metamap_json(spark, str(p))
    assert parsed.collect()[0]["corrupt"] is True


# -------------------------------------------------------------------- folds


def _reference_create_folds(y, num_folds):
    """Faithful reimplementation of model.py:23-66 for the oracle (incl.
    the unassigned np.flip, i.e. ascending label order)."""
    labels = sorted({lab for seq in y for lab in seq})
    added = [True] * len(y)
    partitions = [[] for _ in range(num_folds)]
    cycler = itertools.cycle(partitions)
    for label in labels:
        for index, seq in enumerate(y):
            if label in seq and added[index]:
                next(cycler).append(index)
                added[index] = False
    return partitions


def test_fold_assignment_matches_reference(spark):
    from medacy_spark.operators.folds import assign_folds

    y = [
        ["O", "Drug"], ["O"], ["ADE", "O"], ["Drug"], ["O", "O"],
        ["ADE", "Drug"], ["O"], [], ["Drug", "O"], ["O", "ADE"],
    ]
    k = 3
    want = {}
    for fold_no, part in enumerate(_reference_create_folds(y, k)):
        for idx in part:
            want[idx] = fold_no
    seqs = spark.createDataFrame(
        [(i, labs) for i, labs in enumerate(y)], "seq_id long, labels array<string>"
    )
    got = {r["seq_id"]: r["fold"] for r in assign_folds(seqs, k).collect()}
    assert got == want  # empty-label sequence 7 absent from both


def test_fold_split(spark):
    from medacy_spark.operators.folds import assign_folds, fold_split

    seqs = spark.createDataFrame(
        [(i, ["O"]) for i in range(30)], "seq_id long, labels array<string>"
    )
    folds = assign_folds(seqs, 5)
    train, test = fold_split(seqs, folds, 2)
    assert train.count() + test.count() == 30
    assert test.count() == 6


# ------------------------------------------------------------------- overlay


def test_gold_overlay_and_repair(spark):
    from medacy_spark.operators.overlay import gold_overlay, overlay_metrics
    from medacy_spark.operators.tokenize import tokenize_native

    # text: "aspirin helps pain ." tokens at [0,7) [8,13) [14,18) [19,20)
    docs = spark.createDataFrame(
        [(1, "aspirin helps pain .")], "doc_id long, text string"
    )
    toks = tokenize_native(docs)
    gold = spark.createDataFrame(
        [
            (1, "Drug", 0, 7, "aspirin"),     # exact
            (1, "Sym", 14, 19, "pain "),      # end-1 repair (trailing space)
            (1, "X", 8, 12, "help"),          # end+1 repair → token 'helps'
            (1, "Y", 9, 13, "elps"),          # unfixable: start 9 not a boundary
            (1, "Bad", 9, 5, "broken"),       # start > end → skipped
        ],
        "doc_id long, tag string, start long, end long, text string",
    )
    out = gold_overlay(toks, gold)
    lab = {r["idx"]: r["gold_label"] for r in out.collect()}
    assert lab[0] == "Drug"
    assert lab[14] == "Sym"
    assert lab[8] == "X"     # repaired to (8, 13) like the reference loop
    assert lab[19] == "O"
    m = overlay_metrics(toks, gold).collect()[0]
    assert m["n_gold"] == 4              # broken one skipped
    assert m["failed_overlays"] == 3     # two repaired + one unfixable
    assert m["unfixable"] == 1
    assert bool(m["critical"]) is True   # 3/4 > 30%


def test_gold_overlay_contested_token_last_wins(spark):
    from medacy_spark.operators.overlay import gold_overlay
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    toks = tokenize_native(docs)
    gold = spark.createDataFrame(
        [(1, "A", 0, 3, "a b"), (1, "B", 2, 5, "b c")],
        "doc_id long, tag string, start long, end long, text string",
    )
    out = gold_overlay(toks, gold)
    lab = {r["idx"]: r["gold_label"] for r in out.collect()}
    assert lab == {0: "A", 2: "B", 4: "B"}  # token 'b' claimed by later span


def test_gold_overlay_orders_by_original_end(spark):
    """The reference's sequential overwrite iterates golds sorted by
    ORIGINAL (start, end) (annotations.py:71-73) — a repaired end must not
    change which span wins a contested token."""
    from medacy_spark.operators.overlay import gold_overlay
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    toks = tokenize_native(docs)  # tokens [0,2) [3,5)
    gold = spark.createDataFrame(
        [
            (1, "Z", 0, 2, "ab"),   # exact; earlier original end
            (1, "A", 0, 3, "ab "),  # repaired end→2; LATER original (0,3)
        ],
        "doc_id long, tag string, start long, end long, text string",
    )
    out = gold_overlay(toks, gold)
    lab = {r["idx"]: r["gold_label"] for r in out.collect()}
    # original order Z(0,2) < A(0,3): A writes last and wins, even though
    # tag-desc or fixed-end ordering would pick Z
    assert lab[0] == "A"


def test_gold_overlay_order_col_breaks_exact_ties(spark):
    """Exact-duplicate (start, end) spans: stable file order — the later
    line in the .ann file wins (Python stable sort + overwrite)."""
    from medacy_spark.operators.overlay import gold_overlay
    from medacy_spark.operators.tokenize import tokenize_native

    docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    toks = tokenize_native(docs)
    gold = spark.createDataFrame(
        [
            (1, "Zed", 0, 2, "ab", 1),   # first in file
            (1, "Ann", 0, 2, "ab", 2),   # later in file → wins
        ],
        "doc_id long, tag string, start long, end long, text string, ord long",
    )
    out = gold_overlay(toks, gold, order_col="ord")
    lab = {r["idx"]: r["gold_label"] for r in out.collect()}
    assert lab[0] == "Ann"  # tag-desc alone would pick 'Zed'


def test_ade_to_brat_reference_parity(spark):
    """ade_to_brat.py:44-68 byte parity on an ADE-corpus-shaped fixture,
    checked against a literal replica of the reference loop (swapped
    types, space after T id, pipe fields 0/2..7, rstrip per item)."""
    import os
    from re import split as rsplit

    from medacy_spark.sources.converters import ade_to_brat_lines

    rows = [
        (1, "DRUG-AE.rel", 1,
         "10030778|sent|intravenous methotrexate|83|108|fatal systemic toxicity|10|33"),
        (1, "DRUG-AE.rel", 2, "10048291|sent|azathioprine|5|17|hepatitis|25|34"),
        (2, "DRUG-DOSE.rel", 1, "10082597|sent|methotrexate|0|12|7.5 mg|20|26 "),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, file_name string, line_no long, line string"
    )
    expected = []
    for _, fn, _, line in rows:  # the reference loop, verbatim
        types = rsplit("-", os.path.splitext(fn)[0])
        sl = [i.rstrip() for i in rsplit("\\|", line)]
        expected.append("T" + sl[0] + " " + types[1] + " " + sl[3] + " " + sl[4] + "\t" + sl[2])
        expected.append("T" + sl[0] + " " + types[0] + " " + sl[6] + " " + sl[7] + "\t" + sl[5])
    got = [r["line"] for r in
           ade_to_brat_lines(df).orderBy("doc_id", "out_no").collect()]
    assert got == expected


def test_assign_folds_scale_path_parity_and_plan(spark):
    """VERDICT r1 #9: the range-partitioned numbering (per-partition
    offsets) reproduces the reference fold loop whatever the partition
    count, with NO single-partition exchange in its physical plan."""
    from medacy_spark.operators.folds import assign_folds

    y = [[chr(97 + (i * 7) % 5), chr(97 + (i * 3) % 11)] for i in range(5000)]
    want = {
        idx: fold_no
        for fold_no, part in enumerate(_reference_create_folds(y, 5))
        for idx in part
    }
    seqs = spark.createDataFrame(list(enumerate(y)), "seq_id long, labels array<string>")
    part_before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("3", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            folds = assign_folds(seqs, 5)
            assert {r["seq_id"]: r["fold"] for r in folds.collect()} == want
            plan = folds._jdf.queryExecution().executedPlan().toString()
            assert "SinglePartition" not in plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", part_before)
    # every sequence unlabeled: the reference assigns none of them
    empty = spark.createDataFrame(
        [(i, []) for i in range(20)], "seq_id long, labels array<string>"
    )
    assert assign_folds(empty, 5).count() == 0


def test_row_numbering_reads_effective_shuffle_partitions(spark, monkeypatch):
    """With ``spark.sql.shuffle.partitions`` unset, the numbering
    range-partitions into the session's effective value (Spark's
    default), the count every other shuffle uses."""
    from medacy_spark.plans.numbering import global_row_index

    df = spark.range(100)
    asked = []
    real = type(df).repartitionByRange

    def spy(self, n, *cols):
        asked.append(n)
        return real(self, n, *cols)

    monkeypatch.setattr(type(df), "repartitionByRange", spy)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    try:
        spark.conf.unset(key)
        effective = int(spark.conf.get(key))
        out = global_row_index(df, ["id"], "rn")
    finally:
        spark.conf.set(key, before)
    assert asked == [effective]
    assert sorted(r["rn"] for r in out.collect()) == list(range(100))


def test_line_word_index_mixed_whitespace_exact(spark):
    """Offsets stay exact with tabs and multi-space runs — verified against
    Python's own str.find ground truth for every word."""
    from medacy_spark.sources.converters import line_word_index

    text = "a  bb\tccc\n\td x\t\t y\n  zz  "
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    got = sorted(
        (r["line_no"], r["word_no"], r["abs_start"], r["abs_end"], r["word"])
        for r in line_word_index(docs).collect()
    )
    # ground truth: scan each line, word_no over \s+-split non-empties
    import re

    want = []
    off = 0
    for ln, line in enumerate(text.split("\n"), start=1):
        wn = 0
        for m in re.finditer(r"\S+", line):
            want.append((ln, wn, off + m.start(), off + m.end(), m.group()))
            wn += 1
        off += len(line) + 1
    assert got == sorted(want)

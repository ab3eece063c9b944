"""Webtext-curation + graph-neighborhood operators (round-7 session 5):
BM25 relevance, PII signals, host profiling, BFS distances, duplicate
passages."""

from __future__ import annotations

import io
import math
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from medacy_spark.operators.dedup import duplicate_passages
from medacy_spark.operators.graph import bfs_distances
from medacy_spark.operators.pii import pii_signals, redact_pii
from medacy_spark.operators.ranking import bm25_scores
from medacy_spark.operators.webstats import host_profile


# ---------------------------------------------------------------- ranking


def test_bm25_exact_small_case(spark):
    # 3 docs, term 'x': df=2, N=3, dl = 4/2/3, avgdl = 3.
    docs = spark.createDataFrame(
        [(0, "x x y z"), (1, "y z"), (2, "x y z")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in bm25_scores(docs, ["x"]).collect()}
    k1, b = 1.2, 0.75

    def expect(tf, dl):
        idf = math.log(1.0 + (3.0 - 2 + 0.5) / (2 + 0.5))
        w = tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / 3.0))
        return round(round(idf * w, 9), 6)

    assert rows[0]["bm25"] == expect(2, 4)
    assert rows[2]["bm25"] == expect(1, 3)
    assert rows[1]["bm25"] == 0.0 and rows[1]["n_hit_terms"] == 0
    assert rows[0]["n_hit_terms"] == 1


def test_bm25_rare_term_outscores_common(spark):
    docs = spark.createDataFrame(
        [(i, "common filler words here") for i in range(20)]
        + [(100, "common rare filler here")],
        ["doc_id", "text"],
    )
    r = {x["doc_id"]: x["bm25"] for x in bm25_scores(docs, ["common", "rare"]).collect()}
    # doc 100 matches both terms, and 'rare' (df=1) must dominate 'common' (df=21)
    assert r[100] > 2 * r[0] > 0


# ---------------------------------------------------------------- pii


def test_pii_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail a.b-c_d@sub.example.co.uk or x@y.io thanks"),
            (1, "server 192.168.1.254 and 8.8.8.8 up"),
            (2, "call 555-123-4567 or ssn 123-45-6789"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in pii_signals(docs).collect()}
    assert rows[0]["n_email"] == 2 and rows[0]["has_pii"]
    assert rows[1]["n_ipv4"] == 2
    assert rows[2]["n_phone"] == 1 and rows[2]["n_ssn"] == 1 and rows[2]["n_pii"] == 2
    assert rows[3]["n_pii"] == 0 and not rows[3]["has_pii"]
    assert rows[0]["redacted"] == "mail <EMAIL> or <EMAIL> thanks"
    assert rows[2]["redacted"] == "call <PHONE> or ssn <SSN>"


def test_pii_email_redacted_before_host_patterns(spark):
    # the email host must not survive as fake PII for a later pattern
    docs = spark.createDataFrame([(0, "u@10.0.0.1.example.com")], ["doc_id", "text"])
    r = pii_signals(docs).collect()[0]
    assert r["redacted"] == "<EMAIL>"
    assert r["n_email"] == 1


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pii_plan_is_shuffle_free(spark):
    docs = spark.createDataFrame([(0, "x")], ["doc_id", "text"])
    assert "Exchange" not in _plan(pii_signals(docs))


def test_redact_pii_column_usable_inline(spark):
    docs = spark.createDataFrame([(0, "x 1.2.3.4 y")], ["doc_id", "text"])
    out = docs.select(redact_pii(F.col("text")).alias("t")).collect()[0]["t"]
    assert out == "x <IP> y"


# ---------------------------------------------------------------- webstats


def test_host_profile_rollup(spark):
    docs = spark.createDataFrame(
        [
            ("https://A.example.com/1", "one two", "en"),
            ("https://a.example.com/2", "one two", "en"),   # exact dup text
            ("https://a.example.com/3", "three", "de"),
            ("https://b.example.com/1", "four five six", "en"),
        ],
        ["url", "text", "lang"],
    )
    rows = {r["host"]: r for r in host_profile(docs).collect()}
    a = rows["a.example.com"]
    assert a["n_docs"] == 3 and a["n_dup_docs"] == 1 and a["n_langs"] == 2
    assert a["n_chars"] == len("one two") * 2 + len("three")
    assert abs(a["doc_share"] - 0.75) < 1e-12
    assert rows["b.example.com"]["avg_tokens"] == 3.0


# ---------------------------------------------------------------- bfs


def test_bfs_exact_distances_and_cap(spark):
    # path 0→1→2→3→4 plus a branch 1→10
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (1, 10)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 10: 2, 3: 3}  # 4 is beyond the cap


def test_bfs_multi_seed_min_and_early_stop(spark):
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 2)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,), (5,)], ["node"])
    stats = {}
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_hops=10, stats=stats).collect()
    }
    assert got == {0: 0, 5: 0, 1: 1, 2: 1}
    assert stats["hops"] == 1 or stats["hops"] == 2  # frontier empties early


def test_bfs_directedness(spark):
    edges = spark.createDataFrame([(1, 0)], ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, seeds).collect()}
    assert got == {0: 0}  # expansion follows src→dst only


# ----------------------------------------------------- duplicate passages


def _mk_docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def test_duplicate_passages_exact_run(spark):
    shared = " ".join(f"s{i}" for i in range(16))
    docs = _mk_docs(spark, [
        f"a0 a1 a2 {shared} a3 a4",
        f"b0 {shared} b1 b2 b3 b4 b5",
    ])
    rows = duplicate_passages(docs, k=5, min_tokens=16).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert r["start_a"] == 3 and r["start_b"] == 1 and r["n_tokens"] == 16


def test_duplicate_passages_min_tokens_filters(spark):
    shared = " ".join(f"s{i}" for i in range(10))
    docs = _mk_docs(spark, [f"x y z {shared}", f"{shared} p q r"])
    assert duplicate_passages(docs, k=5, min_tokens=16).count() == 0
    assert duplicate_passages(docs, k=5, min_tokens=10).count() == 1


def test_duplicate_passages_two_runs_split(spark):
    run1 = " ".join(f"p{i}" for i in range(12))
    run2 = " ".join(f"q{i}" for i in range(12))
    docs = _mk_docs(spark, [
        f"{run1} mid1 mid2 {run2}",
        f"{run2} other1 other2 other3 {run1}",
    ])
    rows = sorted(
        duplicate_passages(docs, k=5, min_tokens=12).collect(),
        key=lambda r: r["start_a"],
    )
    assert [(r["start_a"], r["start_b"], r["n_tokens"]) for r in rows] == [
        (0, 15, 12),
        (14, 0, 12),
    ]


def test_duplicate_passages_hot_gram_guard(spark):
    # one gram in every doc: with a tight cap it is dropped and nothing pairs
    docs = _mk_docs(spark, ["c0 c1 c2 c3 c4"] * 5)
    assert duplicate_passages(docs, k=5, min_tokens=5, max_gram_df=2).count() == 0
    assert duplicate_passages(docs, k=5, min_tokens=5, max_gram_df=None).count() == 10


def test_duplicate_passages_no_cartesian(spark):
    docs = _mk_docs(spark, ["a b c d e f", "g h i j k l"])
    assert "CartesianProduct" not in _plan(duplicate_passages(docs, k=5, min_tokens=5))

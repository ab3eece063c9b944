"""Sequence packing (packing.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from medacy_spark.operators.packing import (
    doc_token_offsets,
    pack_sequences,
    packing_stats,
)


def _docs(spark, texts):
    return spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])


def _reference_pack(texts, seq_len):
    """Driver-side oracle: walk the literal token stream."""
    rows = []
    offset = 0
    for doc_id, text in enumerate(texts):
        n = len(text.split(" "))
        start, end = offset, offset + n
        s = start
        while s < end:
            seq_id = s // seq_len
            e = min(end, (seq_id + 1) * seq_len)
            rows.append((seq_id, doc_id, s - seq_id * seq_len, s - start, e - s))
            s = e
        offset = end + 1
    return rows


def test_offsets_are_exclusive_prefix_sums(spark):
    texts = ["a b c", "d", "e f g h", "i j"]
    got = {
        r["doc_id"]: (r["n_tok"], r["offset"])
        for r in doc_token_offsets(_docs(spark, texts)).collect()
    }
    # with EOS: 3+1, 1+1, 4+1 → offsets 0, 4, 6, 11
    assert got == {0: (3, 0), 1: (1, 4), 2: (4, 6), 3: (2, 11)}


def test_pack_matches_reference_walk(spark):
    texts = [f"w{i} " * (i % 7 + 1) for i in range(40)]
    texts = [t.strip() for t in texts]
    for seq_len in (4, 5, 16):
        want = sorted(_reference_pack(texts, seq_len))
        got = sorted(
            tuple(r) for r in pack_sequences(_docs(spark, texts), seq_len).collect()
        )
        assert got == want, seq_len


def test_bucket_width_invariance_and_sparse_ids(spark):
    texts = [f"t{i} " * (i % 5 + 1) for i in range(30)]
    docs = _docs(spark, [t.strip() for t in texts])
    base = sorted(tuple(r) for r in pack_sequences(docs, 8).collect())
    for bw in (1, 3, 7):
        got = sorted(
            tuple(r) for r in pack_sequences(docs, 8, bucket_width=bw).collect()
        )
        assert got == base, bw
    # sparse, non-contiguous ids: order is by id value, gaps irrelevant
    sparse = docs.withColumn("doc_id", F.col("doc_id") * 1000 + 17)
    got = sorted(tuple(r) for r in pack_sequences(sparse, 8, bucket_width=4).collect())
    assert [(s, d % 1000, a, b, n) for (s, d, a, b, n) in got] == [
        (s, 17, a, b, n) for (s, d, a, b, n) in base
    ]
    assert [d // 1000 for (_, d, *_ ) in got] == [d for (_, d, *_) in base]


def test_long_doc_spans_many_sequences(spark):
    docs = _docs(spark, [("x " * 100).strip()])  # 100 tokens, seq_len 8
    rows = pack_sequences(docs, 8).orderBy("seq_id").collect()
    assert len(rows) == 13  # ceil(100/8)
    assert [r["n_tokens"] for r in rows] == [8] * 12 + [4]
    assert [r["start_in_doc"] for r in rows] == list(range(0, 100, 8))
    assert all(r["start_in_seq"] == 0 for r in rows)
    # slices tile the doc exactly
    assert sum(r["n_tokens"] for r in rows) == 100


def test_stats_fill(spark):
    docs = _docs(spark, ["a b c", "d e", "f g h i"])
    packed = pack_sequences(docs, 4)  # stream: 3+1, 2+1, 4+1 = 11 slots
    stats = {r["seq_id"]: r for r in packing_stats(packed, 4).collect()}
    # seq0: doc0[0:3] → 3 tokens; seq1: doc1[0:2] @1 → 2; seq2: doc2[0:1]
    # @3... walk: doc1 at offset 4..6, doc2 at 7..11
    total = sum(r["n_doc_tokens"] for r in stats.values())
    assert total == 9
    assert all(0 < r["fill_frac"] <= 1.0 for r in stats.values())

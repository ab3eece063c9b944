"""Focused tests for the r8 optimization-round operator changes.

Each test pins the *internal* invariant an r8 change relies on
(OPTIMIZATION_r08.md has the measurements):

- ranking.bm25_scores: per-doc summation is integer-exact (nano-unit
  longs), so the score is parallelism/partition-order invariant and
  replays ``round(sum(round(contrib, 9)), 6)`` with half-up ties —
  the r7 driver's one red row was a float-sum rounding tie.
- similarity/dedup norm hoisting: computing each side's L2 norm once
  per row before the pair join must be BIT-identical to the inline
  ``cosine()`` fold (same fold arithmetic, just hoisted).
- graph._iter_shuffle_partitions: iteration shuffles are sized from
  the row count of the operator's eager lineage cut (floor 2, capped at
  the configured ``spark.sql.shuffle.partitions``), and
  ``session.aqe_off`` restores both ``adaptive.enabled`` and
  ``shuffle.partitions`` on exit.
- lm.train_ngram_lm: the token-array lineage cut must not change the
  trained count tables.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from medacy_spark.operators.ranking import bm25_scores


# ---------------------------------------------------------------- bm25

_TERMS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
_FILLER = ["x1", "x2", "x3", "x4", "x5"]


def _bm25_corpus(n_docs: int, seed: int = 42):
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        words = []
        for _ in range(rng.randint(3, 60)):
            pool = _TERMS if rng.random() < 0.6 else _FILLER
            words.append(rng.choice(pool))
        rows.append((i, " ".join(words)))
    return rows


def _bm25_reference(rows, query_terms, k1=1.2, b=0.75):
    """Driver-side replica of the exact arithmetic bm25_scores pins:
    contrib = round(idf * weight, 9) (shortest-repr decimal, half-up),
    per-doc sum over exact nano-unit integers, half-up to micro units."""
    docs = {i: t.split(" ") for i, t in rows}
    n = float(len(docs))
    avgdl = sum(len(t) for t in docs.values()) / n
    qset = sorted(set(query_terms))
    dfreq = {
        t: sum(1 for toks in docs.values() if t in toks) for t in qset
    }
    out = {}
    for i, toks in docs.items():
        dl = len(toks)
        nano_sum = 0
        n_hit = 0
        for t in qset:
            tf = toks.count(t)
            if tf == 0:
                continue
            n_hit += 1
            df = dfreq[t]
            idf = math.log(1.0 + ((n - df) + 0.5) / (df + 0.5))
            weight = (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + (b * dl) / avgdl)
            )
            contrib = idf * weight
            # Spark's round(double, 9): shortest decimal repr, HALF_UP
            contrib_dec = Decimal(repr(contrib)).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP
            )
            nano_sum += int(contrib_dec.scaleb(9))
        micro = (nano_sum + 500) // 1000
        out[i] = (n_hit, micro / 1e6 if n_hit else 0.0)
    return out


def test_bm25_matches_integer_exact_reference(spark):
    rows = _bm25_corpus(400)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_hit_terms"], r["bm25"])
        for r in bm25_scores(df, _TERMS).collect()
    }
    want = _bm25_reference(rows, _TERMS)
    assert got == want


def test_bm25_parallelism_invariant(spark):
    """The r7 driver red row: round(sum(float)) flipped a rounding tie
    between local[8] and local[32]. The nano-long sum is associative, so
    any input partitioning / shuffle-partition count must give the exact
    same doubles."""
    rows = _bm25_corpus(400, seed=7)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    part_before = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for layout, parts in [
            (df.coalesce(1), "1"),
            (df.repartition(7, "doc_id"), "3"),
            (df.repartition(16), part_before),
        ]:
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            results.append(
                sorted(
                    (r["doc_id"], r["n_hit_terms"], r["bm25"])
                    for r in bm25_scores(layout, _TERMS).collect()
                )
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", part_before)
    assert results[0] == results[1] == results[2]


# ------------------------------------------- norm-hoisted cosine joins


def _vec_rows(n, dim, seed, with_zero=True):
    rng = random.Random(seed)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(dim)]) for i in range(n)
    ]
    if with_zero:
        rows[n // 2] = (n // 2, [0.0] * dim)  # zero-norm guard path
    return rows


def test_brute_force_topk_bit_identical_to_inline_cosine(spark):
    """similarity.brute_force_topk hoists each side's norm out of the
    pair join (1 fold/pair instead of 3). Same fold arithmetic → the
    scores must be BIT-identical to the inline cosine() fold."""
    from medacy_spark.operators.linking import cosine
    from medacy_spark.operators.similarity import brute_force_topk
    from pyspark.sql import Window

    corpus = spark.createDataFrame(
        _vec_rows(40, 8, seed=1), "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        _vec_rows(5, 8, seed=2), "q_id long, embedding array<double>"
    )
    got = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"])
        for r in brute_force_topk(corpus, queries, k=7).collect()
    )
    # inline-cosine replica of the pre-r8 plan (per-pair norms)
    q = queries.select(F.col("q_id"), F.col("embedding").alias("q_vec"))
    c = corpus.select(F.col("vec_id"), F.col("embedding").alias("c_vec"))
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    want = sorted(
        (r["q_id"], r["rank"], r["vec_id"], r["score"])
        for r in c.crossJoin(F.broadcast(q))
        .select(
            "q_id", "vec_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .collect()
    )
    assert got == want  # exact float equality, including the zero vector


def test_embedding_near_dups_exact_path_bit_identical(spark):
    from medacy_spark.operators.dedup import embedding_near_dups
    from medacy_spark.operators.linking import cosine

    emb = spark.createDataFrame(
        _vec_rows(30, 6, seed=3), "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dups(emb, threshold=0.2).collect()
    )
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    want = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            cosine(F.col("va"), F.col("vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
        .collect()
    )
    assert len(got) > 0
    assert got == want


# -------------------------------------- graph iteration shuffle sizing


def test_iter_shuffle_partitions_sizing(spark):
    from medacy_spark.operators.graph import (
        GRAPH_ROWS_PER_PARTITION,
        _iter_shuffle_partitions,
    )

    # a known cap, not whatever the shared session holds
    part_before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        # floor 2: a 1-partition hash layout normalizes to SinglePartition at
        # checkpoint capture and the preserved-layout join re-inserts an
        # Exchange per iteration (plan-gate-caught in r8)
        assert _iter_shuffle_partitions(spark, 0) == 2
        assert _iter_shuffle_partitions(spark, 1) == 2
        assert _iter_shuffle_partitions(spark, GRAPH_ROWS_PER_PARTITION) == 2
        assert _iter_shuffle_partitions(spark, 2 * GRAPH_ROWS_PER_PARTITION) == 2
        assert _iter_shuffle_partitions(spark, 2 * GRAPH_ROWS_PER_PARTITION + 1) == 3
        # capped at the session's configured shuffle partitions, so a
        # cluster's own tuning wins at scale
        assert _iter_shuffle_partitions(spark, 10**9) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", part_before)


@pytest.mark.parametrize("op", ["cc", "pagerank", "bfs", "walks"])
def test_graph_ops_restore_session_confs(spark, op):
    """The iterative graph operators run AQE-off and size
    spark.sql.shuffle.partitions from their input — both confs must
    come back on exit. The broadcast threshold is -1, so cc and pagerank
    run their Spark rounds."""
    from medacy_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    run = {
        "cc": lambda: graph.connected_components(edges),
        "pagerank": lambda: graph.pagerank(edges, iterations=2),
        "bfs": lambda: graph.bfs_distances(edges, seeds),
        "walks": lambda: graph.random_walks(edges),
    }[op]
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    part_before = spark.conf.get("spark.sql.shuffle.partitions")
    bcast_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        run().collect()
        assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.conf.set("spark.sql.shuffle.partitions", part_before)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast_before)


def test_cc_job_count_is_pinned(spark, graph_sides):
    """The eager lineage cut counts the edges that size CC's shuffles
    inside its own job (``observe``): no separate count job. With the
    Spark rounds, CC on this fixed graph runs the cut, then one job per
    round (the changed-label check that materializes the round's
    checkpoints), and keeps one checkpoint. With the rounds on the
    driver it runs the cut and its Arrow collect, whatever the round
    count (a 10k-node chain takes 13), and keeps no persisted RDD."""
    from medacy_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "src long, dst long"
    )
    chain = spark.range(9_999).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    inputs = {"edges": edges, "chain": chain}
    sc = spark.sparkContext
    persisted = sc._jsc.getPersistentRDDs
    # (side, input, rounds, jobs, persisted RDDs kept)
    want = [
        ("driver", "edges", 2, 2, 0),
        ("driver", "chain", 13, 2, 0),
        ("spark", "edges", 2, 3, 1),
    ]
    got = []
    for side in graph_sides:
        for name in [w[1] for w in want if w[0] == side]:
            group = f"cc_jobs_{side}_{name}"
            before = persisted().size()
            stats = {}
            sc.setJobGroup(group, group)
            try:
                connected_components(inputs[name], stats=stats)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            got.append((
                side, name, stats["iterations"],
                len(sc.statusTracker().getJobIdsForGroup(group)),
                persisted().size() - before,
            ))
    assert got == want


def test_aqe_off_restores_conf_on_exception_and_unsets_unset_keys(spark):
    from medacy_spark.session import aqe_off

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = dict(spark.conf.getAll)
    assert all(k in before for k in keys)
    # set before: values come back on normal exit
    with aqe_off(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        spark.conf.set("spark.sql.shuffle.partitions", "3")
    assert dict(spark.conf.getAll) == before
    # unset before: unset again, also when the block raises
    for k in keys:
        spark.conf.unset(k)
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with aqe_off(spark):
                assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
                spark.conf.set("spark.sql.shuffle.partitions", "3")
                raise RuntimeError("boom")
        assert not any(k in spark.conf.getAll for k in keys)
    finally:
        for k in keys:
            spark.conf.set(k, before[k])
    assert dict(spark.conf.getAll) == before


# ------------------------------------------------- lm lineage cut


def test_train_ngram_lm_counts_unchanged_by_lineage_cut(spark):
    """r8 localCheckpoints the token-array projection so the corpus
    split/lower runs once for grams AND vocab — count tables must be
    exactly what a driver-side count gives."""
    from medacy_spark.operators.lm import train_ngram_lm

    rows = [(0, "a b a c"), (1, "b b a"), (2, "c a b a")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lm = train_ngram_lm(df, n=2)
    got_grams = {
        (r["ctx"], r["w"]): r["c"] for r in lm.gram_counts.collect()
    }
    want = {}
    for _, text in rows:
        toks = text.lower().split(" ")
        for i in range(len(toks) - 1):
            key = (toks[i], toks[i + 1])
            want[key] = want.get(key, 0) + 1
    assert got_grams == want
    assert lm.vocab.collect()[0]["v"] == 3  # vocab size: {a, b, c}

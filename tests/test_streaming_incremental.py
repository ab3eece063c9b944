"""Incremental streaming state: additive per-batch partials, streaming
dedup against a band state, idempotent batch writes and compaction."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_incremental_cooccurrence_counts_match_batch(spark, tmp_path):
    """Additive-state streaming: per-batch PARTIAL co-occurrence counts
    appended (exactly-once), folded at read — must equal the
    whole-corpus batch computation EXACTLY, across a late-arrival resume
    on the same checkpoint, and a rerun with no new input must append
    nothing."""
    from medacy_spark.operators.embeddings_train import cooccurrence_pairs
    from medacy_spark.streaming.incremental import (
        merged_counts,
        run_incremental,
        stream_documents,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs")
    out = str(tmp_path / "counts")
    ck = str(tmp_path / "ck")

    def toks(df):
        return df.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
        )

    def count_fn(batch):
        return cooccurrence_pairs(
            toks(batch), window=3, id_cols=("doc_id",), order_col="pos"
        )

    schema = "doc_id bigint, text string"
    docs.filter("doc_id < 250").write.parquet(src)
    q = run_incremental(stream_documents(spark, src, schema), count_fn, out, ck)
    q.awaitTermination(180)

    # late arrival; SAME checkpoint -> only the new files are processed
    docs.filter("doc_id >= 250").write.mode("append").parquet(src)
    q2 = run_incremental(stream_documents(spark, src, schema), count_fn, out, ck)
    q2.awaitTermination(180)

    got = merged_counts(spark, out, ("word", "ctx")).select("word", "ctx", "n")
    want = count_fn(docs).select("word", "ctx", "n")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # idempotence: no new input, same checkpoint -> nothing appended
    n_rows = spark.read.parquet(out).count()
    q3 = run_incremental(stream_documents(spark, src, schema), count_fn, out, ck)
    q3.awaitTermination(180)
    assert spark.read.parquet(out).count() == n_rows


def _run_dedup_ingest(spark, docs, tmp, tag):
    """Two-step ingest: batch 1 (doc_id < 250), then a late-arrival
    batch 2 on the SAME checkpoint (resume) containing fresh docs plus
    exact copies of batch-1 texts under new ids."""
    from medacy_spark.streaming.incremental import (
        run_incremental_dedup,
        stream_documents,
    )

    src_p = str(tmp / f"src_{tag}")
    state = str(tmp / f"state_{tag}")
    surv = str(tmp / f"surv_{tag}")
    ck = str(tmp / f"ck_{tag}")
    schema = "doc_id bigint, text string"
    b1 = docs.filter("doc_id < 250")
    b1.write.parquet(src_p)
    q = run_incremental_dedup(
        stream_documents(spark, src_p, schema), state, surv, ck
    )
    q.awaitTermination(300)
    b2 = docs.filter("doc_id >= 250").unionByName(
        b1.filter("doc_id < 50").selectExpr("doc_id + 10000 AS doc_id", "text")
    )
    b2.write.mode("append").parquet(src_p)
    q2 = run_incremental_dedup(
        stream_documents(spark, src_p, schema), state, surv, ck
    )
    q2.awaitTermination(300)
    return spark.read.parquet(surv)


def test_incremental_dedup_stream(spark, tmp_path):
    """Streaming LSH dedup over the persisted band-bucket state. Pinned
    properties: (a) batch 1 against the empty state equals
    dedup_corpus(batch 1) EXACTLY; (b) exact copies of already-accepted
    texts arriving in a later batch are all rejected; (c) the accepted
    set is pairwise non-near-dup across batches (no surviving candidate
    pair with >= min_bands collisions); (d) the two-step ingest with a
    kill-and-resume boundary is deterministic — a fresh identical run
    yields identical survivors."""
    from medacy_spark.operators.dedup import dedup_corpus, minhash_lsh_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    got = _run_dedup_ingest(spark, docs, tmp_path, "a")

    # (a) batch-1 survivors == batch dedup of batch 1
    s1 = sorted(r["doc_id"] for r in got.filter("batch = 0").collect())
    want1 = sorted(
        r["doc_id"] for r in dedup_corpus(docs.filter("doc_id < 250")).collect()
    )
    assert s1 == want1

    # (b) every planted copy rejected
    surv_ids = sorted(r["doc_id"] for r in got.collect())
    assert not [i for i in surv_ids if i >= 10000]

    # (c) pairwise non-near-dup across batches
    accepted = docs.join(
        spark.createDataFrame([(i,) for i in surv_ids], "doc_id bigint"),
        "doc_id", "left_semi",
    )
    cand = minhash_lsh_candidates(accepted).filter("n_bands >= 2")
    assert cand.count() == 0

    # (d) identical rerun (fresh state/checkpoint) -> identical survivors
    got_b = _run_dedup_ingest(spark, docs, tmp_path, "b")
    assert sorted(
        (r["batch"], r["doc_id"]) for r in got_b.collect()
    ) == sorted((r["batch"], r["doc_id"]) for r in got.collect())

    # (e) state compaction mid-stream: fold the batch dirs into one,
    # then a third late batch on the SAME checkpoint — an exact copy of
    # an accepted doc is still rejected, a genuinely fresh doc accepted
    import os

    from medacy_spark.streaming.incremental import (
        compact_state,
        run_incremental_dedup,
        stream_documents,
    )

    state = str(tmp_path / "state_a")
    folded = compact_state(spark, state)
    # batches -1 and 0 fold into batch=0; batch=1 (the newest — possibly
    # uncommitted in a real crash) keeps its own partition
    assert folded == 0
    assert sorted(
        d for d in os.listdir(state) if d.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    doc0 = docs.filter("doc_id = 0").first()["text"]
    b3 = spark.createDataFrame(
        [(20000, doc0),
         (30000, "a genuinely fresh document sharing no shingles with "
                 "anything ingested before it at all")],
        "doc_id bigint, text string",
    )
    b3.write.mode("append").parquet(str(tmp_path / "src_a"))
    q3 = run_incremental_dedup(
        stream_documents(spark, str(tmp_path / "src_a"), "doc_id bigint, text string"),
        state, str(tmp_path / "surv_a"), str(tmp_path / "ck_a"),
    )
    q3.awaitTermination(300)
    final = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "surv_a")).collect()}
    assert 30000 in final and 20000 not in final


def test_write_batch_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the sink write and
    the checkpoint commit replays the batch with the SAME batch_id. The
    batch_id-keyed overwrite must make that replay a rewrite, never a
    double-count — including replacing a partial first attempt."""
    from medacy_spark.streaming.incremental import _write_batch, merged_counts

    out = str(tmp_path / "log")
    _write_batch(
        spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long"), out, 0
    )
    # first attempt of batch 1 "failed" after a partial write
    _write_batch(spark.createDataFrame([("c", 99)], "k string, n long"), out, 1)
    # the replay rewrites batch 1 wholesale
    _write_batch(
        spark.createDataFrame([("c", 5), ("d", 7)], "k string, n long"), out, 1
    )
    got = {r["k"]: r["n"] for r in merged_counts(spark, out, ("k",)).collect()}
    assert got == {"a": 1, "b": 2, "c": 5, "d": 7}


def test_incremental_dedup_hot_state_bucket(spark):
    """A batch doc colliding with a HOT state bucket (> max_bucket_size
    members) is rejected on membership alone — the min_bands exemption
    mirroring dedup_corpus's hot handling. Isolated by min_bands=9 with
    bands=8: pure band counting can never reject, so only the hot flag
    can; with the guard disabled the same doc survives."""
    from medacy_spark.operators.dedup import band_table, dedup_batch_against_state

    docs = spark.createDataFrame(
        [(i, "the same boilerplate mirror text repeated across hosts")
         for i in range(50)],
        "doc_id long, text string",
    )
    state = band_table(docs)
    batch = spark.createDataFrame(
        [(1000, "the same boilerplate mirror text repeated across hosts"),
         (2000, "a genuinely different document with its own words entirely")],
        "doc_id long, text string",
    )
    surv_hot, _ = dedup_batch_against_state(
        batch, state, min_bands=9, max_bucket_size=10
    )
    assert sorted(r["doc_id"] for r in surv_hot.collect()) == [2000]
    surv_off, _ = dedup_batch_against_state(
        batch, state, min_bands=9, max_bucket_size=None
    )
    assert sorted(r["doc_id"] for r in surv_off.collect()) == [1000, 2000]


def test_compact_state_folds_batches(spark, tmp_path):
    """compact_state folds every batch partition STRICTLY OLDER than the
    newest into one (small-files maintenance for long-running ingest);
    the newest batch keeps its own partition — it may be an uncommitted
    batch that will replay (its sinks overwrite batch=N and its state
    read filters batch < N, so folding history into N would both blind
    the replay and let it destroy the folded history). The fold result
    is unchanged."""
    import os

    from medacy_spark.streaming.incremental import (
        _write_batch,
        compact_state,
        merged_counts,
    )

    out = str(tmp_path / "log")
    _write_batch(spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long"), out, 0)
    _write_batch(spark.createDataFrame([("b", 9)], "k string, n long"), out, 1)
    _write_batch(spark.createDataFrame([("a", 5)], "k string, n long"), out, 3)
    folded = compact_state(spark, out)
    assert folded == 2
    assert sorted(d for d in os.listdir(out) if d.startswith("batch=")) == [
        "batch=2", "batch=3",
    ]
    got = {r["k"]: r["n"] for r in merged_counts(spark, out, ("k",)).collect()}
    assert got == {"a": 6, "b": 11}

    # the crash-replay scenario the newest-partition rule exists for:
    # batch 3's commit never landed, so it replays — re-reading state
    # batch < 3 (history intact) and overwriting its own partition
    replay_state = {
        r["k"]: r["n"]
        for r in spark.read.parquet(out).filter("batch < 3")
        .groupBy("k").sum("n").withColumnRenamed("sum(n)", "n").collect()
    }
    assert replay_state == {"a": 1, "b": 11}  # full pre-batch-3 history
    _write_batch(spark.createDataFrame([("a", 7)], "k string, n long"), out, 3)
    got2 = {r["k"]: r["n"] for r in merged_counts(spark, out, ("k",)).collect()}
    assert got2 == {"a": 8, "b": 11}  # replay rewrote, never double-counted

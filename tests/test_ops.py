"""Operational layer: checkpoint/resume, skew salting, textstats."""

from __future__ import annotations


from pyspark.sql import functions as F

from medacy_spark.corpus.synth import clinical_documents


def test_checkpoint_resume_skips_completed(spark, doc_ids, tmp_path):
    from medacy_spark.plans.checkpoint import (
        completed_partitions,
        run_stage_checkpointed,
    )

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    out1 = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    calls = []

    def stage(df):
        calls.append(1)
        return df.select("url", F.length("text").alias("n"))

    res = run_stage_checkpointed(
        spark, docs, stage, run_id="r1", stage="len", key_col="url",
        n_partitions=4, output_path=out1, metrics_path=met,
    )
    assert res.count() == 100
    assert completed_partitions(spark, met, "r1", "len") == [0, 1, 2, 3]
    # all 4 remaining partitions processed by ONE pruned job, not a loop
    assert len(calls) == 1

    # resume: all partitions complete -> zero stage invocations
    res2 = run_stage_checkpointed(
        spark, docs, stage, run_id="r1", stage="len", key_col="url",
        n_partitions=4, output_path=out1, metrics_path=met,
    )
    assert len(calls) == 1
    assert res2.count() == 100

    # metrics lineage rows carry per-partition counts
    m = spark.read.parquet(met)
    assert m.filter("status = 'ok'").count() == 4
    assert m.agg(F.sum("rows_out")).collect()[0][0] == 100
    assert m.agg(F.sum("rows_in")).collect()[0][0] == 100


def test_checkpoint_kill_and_resume(spark, doc_ids, tmp_path):
    """North rule: 'any failed run resumes exactly' — a crash mid-run leaves
    committed batches marked; the rerun recomputes only the remainder and
    the final output equals an uninterrupted run."""
    import pytest as _pytest

    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    out = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    state = {"calls": 0}

    def crashing_stage(df):
        state["calls"] += 1
        if state["calls"] == 2:
            raise RuntimeError("simulated executor crash")
        return df.select("url", F.length("text").alias("n"))

    with _pytest.raises(RuntimeError):
        run_stage_checkpointed(
            spark, docs, crashing_stage, run_id="r2", stage="len", key_col="url",
            n_partitions=4, output_path=out, metrics_path=met, batch_size=2,
        )
    # first batch (2 partitions) committed before the crash
    done = spark.read.parquet(met).filter("status='ok'").count()
    assert done == 2

    res = run_stage_checkpointed(
        spark, docs, crashing_stage, run_id="r2", stage="len", key_col="url",
        n_partitions=4, output_path=out, metrics_path=met, batch_size=2,
    )
    assert res.count() == 100  # exact: all rows, no duplicates
    assert res.select("url").distinct().count() == 100
    assert state["calls"] == 3  # batch 1 + the crash + the resumed batch


def test_checkpoint_scan_count_is_partition_independent(spark, doc_ids, tmp_path):
    """Scale gate (VERDICT r1 #1): a stage over N partitions must run a
    CONSTANT number of Spark jobs — not O(N) source scans. Evidence: the
    job count at n_partitions=8 equals the job count at n_partitions=32."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    sc = spark.sparkContext

    def stage(df):
        return df.select("url", F.length("text").alias("n"))

    def jobs_for(n_parts, tag):
        sc.setJobGroup(tag, tag)
        try:
            run_stage_checkpointed(
                spark, docs, stage, run_id=tag, stage="len", key_col="url",
                n_partitions=n_parts,
                output_path=str(tmp_path / f"out{tag}"),
                metrics_path=str(tmp_path / f"met{tag}"),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    j8 = jobs_for(8, "ckpt8")
    j32 = jobs_for(32, "ckpt32")
    # one write job (rows_in/rows_out are observed inside it) and one
    # metrics append — no recount jobs, and the returned sink is read with
    # the written schema, so no schema-inference job either
    assert j8 == 2
    assert j32 == j8  # O(1) jobs per stage, independent of partition count


def test_checkpoint_writes_one_metrics_file_per_batch(spark, doc_ids, tmp_path):
    """Each stage-batch appends its metrics rows as one parquet file, and
    the sink read back with the written schema equals an inferring read."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    met = tmp_path / "metrics"
    for stage, fn in {
        "len": lambda df: df.select("url", F.length("text").alias("n")),
        "words": lambda df: df.select("url", F.split("text", " ").alias("w"), "partition_id"),
    }.items():
        out = str(tmp_path / stage)
        res = run_stage_checkpointed(
            spark, docs, fn, run_id="rf", stage=stage, key_col="url",
            n_partitions=8, output_path=out, metrics_path=str(met), batch_size=3,
        )
        inferred = spark.read.parquet(out)
        assert res.schema == inferred.schema, stage
        assert sorted(res.collect()) == sorted(inferred.collect()), stage
    # two stages of three batches each (8 partitions, 3 per batch)
    assert len(list(met.glob("part-*.parquet"))) == 6


def test_checkpoint_metrics_match_recount(spark, doc_ids, tmp_path):
    """rows_in/rows_out observed during the write equal a recount of the
    batch input and of the sink, per partition — for a stage that drops
    rows and one that emits several rows per input row."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed, with_partition_id
    from medacy_spark.session import local_table

    docs = clinical_documents(doc_ids.filter("doc_id < 120")).select("doc_id", "url", "text")
    stages = {
        "drop": lambda df: df.filter(F.col("doc_id") % 3 == 0).select("url"),
        "fan_out": lambda df: df.select(
            "url", F.explode(F.slice(F.split("text", " "), 1, 4)).alias("w")
        ),
        # the optimizer prunes the read of the input away (a join with an
        # empty relation), so rows_in is recounted instead of observed
        "input_pruned": lambda df: df.join(local_table(spark, [], "url string"), "url")
        .select("url")
        .unionByName(docs.filter("doc_id < 60").select("url")),
    }
    want_in = {
        r["partition_id"]: r["count"]
        for r in with_partition_id(docs, "url", 4).groupBy("partition_id").count().collect()
    }
    for name, fn in stages.items():
        out = str(tmp_path / name)
        met = str(tmp_path / f"met_{name}")
        run_stage_checkpointed(
            spark, docs, fn, run_id="rc", stage=name, key_col="url",
            n_partitions=4, output_path=out, metrics_path=met, batch_size=3,
        )
        want_out = {
            r["partition_id"]: r["count"]
            for r in spark.read.parquet(out).groupBy("partition_id").count().collect()
        }
        got = {
            r["partition_id"]: (r["rows_in"], r["rows_out"])
            for r in spark.read.parquet(met).collect()
        }
        assert got == {p: (want_in[p], want_out.get(p, 0)) for p in range(4)}, name
        assert sum(o for _, o in got.values()) != sum(want_in.values())  # shape changed


def test_checkpoint_leaves_session_conf_unchanged(spark, doc_ids, tmp_path):
    """Dynamic partition overwrite is a writer option, not a session conf."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 40")).select("doc_id", "url", "text")
    # start from the default so an earlier leak cannot mask one here
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    before = dict(spark.conf.getAll)
    run_stage_checkpointed(
        spark, docs, lambda df: df.select("url", F.length("text").alias("n")),
        run_id="rconf", stage="len", key_col="url", n_partitions=2,
        output_path=str(tmp_path / "out"), metrics_path=str(tmp_path / "met"),
    )
    assert dict(spark.conf.getAll) == before


def test_kg_batch_reuses_generated_code(spark, tmp_path):
    """A second KG batch of the same plan shape compiles (almost) no new
    classes: one batch cycles 126–133 generated classes, so Spark's
    default 100-entry codegen cache would evict each one before the next
    batch needs it and janino would recompile the whole chain."""
    from medacy_spark.functions.html import extract_text_expr
    from medacy_spark.operators.graph import materialize_nodes_edges
    from medacy_spark.operators.linking import cui_dictionary, link_mentions
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def kg_pass(out):
        # jobs/kg_pipeline.py's chain, as perfbench's kg_build runs it
        sinks = dict(run_id="r", key_col="doc_id", n_partitions=4, metrics_path=f"{out}/metrics")
        docs = clinical_documents(spark.range(200).withColumnRenamed("id", "doc_id"))
        mentions = run_stage_checkpointed(
            spark, docs,
            lambda df: detect_mentions(
                tokenize_native(df.select("doc_id", extract_text_expr(F.col("html")).alias("text"))),
                gazetteer_df(spark),
            ),
            stage="mentions", output_path=f"{out}/mentions", **sinks,
        )
        triples = run_stage_checkpointed(
            spark, mentions, lambda df: extract_triples(df.drop("partition_id")),
            stage="triples", output_path=f"{out}/triples", partition_col="partition_id", **sinks,
        )
        nodes, edges = materialize_nodes_edges(link_mentions(mentions, cui_dictionary(spark)), triples)
        nodes.write.parquet(f"{out}/nodes")
        edges.write.parquet(f"{out}/edges")
        return spark.read.parquet(f"{out}/nodes").count(), spark.read.parquet(f"{out}/edges").count()

    first = kg_pass(str(tmp_path / "a"))
    before = compiles.getCount()
    second = kg_pass(str(tmp_path / "b"))
    assert second == first
    assert compiles.getCount() - before <= 2


def test_completed_partitions_missing_vs_unreadable(spark, tmp_path):
    """A missing metrics table means nothing committed; an unreadable one
    raises instead of silently rerunning every partition."""
    import pytest as _pytest

    from medacy_spark.plans.checkpoint import completed_partitions

    assert completed_partitions(spark, str(tmp_path / "absent"), "r", "s") == []
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        completed_partitions(spark, str(bad), "r", "s")


def test_salted_repartition_spreads_hot_host(spark, doc_ids):
    from medacy_spark.plans.skew import host_skew_profile, salted_repartition

    docs = clinical_documents(doc_ids)  # host0 gets ~half the corpus
    prof = host_skew_profile(docs).collect()
    assert prof[0]["docs"] > 0.4 * 500
    hot = prof[0]["host"]
    salted = salted_repartition(docs, num_partitions=16, salt_buckets=8)
    spread = (
        salted.withColumn("pid", F.spark_partition_id())
        .filter(F.col("url").contains(hot))
        .select("pid").distinct().count()
    )
    assert spread >= 4  # hot host split across several partitions


def test_textstats_bounds(spark, doc_ids):
    from medacy_spark.operators.textstats import (
        doc_fingerprint,
        quality_score,
        stopword_ratio,
    )

    def profile(df):
        t = F.col("text")
        return df.select(
            quality_score(t).alias("quality"),
            stopword_ratio(t).alias("stopword_ratio"),
            doc_fingerprint(t).alias("fingerprint"),
        )

    docs = clinical_documents(doc_ids).select("doc_id", "text")
    prof = profile(docs)
    bad = prof.filter(
        (F.col("quality") < 0) | (F.col("quality") > 1)
        | (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
        | (F.col("fingerprint") < 0)
    )
    assert bad.count() == 0
    # fingerprint is order-sensitive
    two = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in profile(two).collect()]
    assert fps[0] != fps[1]


def test_checkpoint_prunable_partition_column(spark, doc_ids, tmp_path):
    """With a real (Iceberg-style) partition column, the pruned batch read
    reaches the scan as a partition filter — files of completed partitions
    are never opened on resume."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select(
        "doc_id", "url", "text"
    ).withColumn("part", (F.col("doc_id") % 4).cast("int"))
    src = str(tmp_path / "src")
    docs.write.partitionBy("part").parquet(src)
    source = spark.read.parquet(src)

    captured = {}

    def stage(df):
        captured["plan"] = df._jdf.queryExecution()  # resolved lazily below
        return df.select("url", F.length("text").alias("n"))

    res = run_stage_checkpointed(
        spark, source, stage, run_id="rp", stage="len", key_col="url",
        n_partitions=4, output_path=str(tmp_path / "out"),
        metrics_path=str(tmp_path / "met"), partition_col="part",
    )
    assert res.count() == 100
    import re

    plan = captured["plan"].executedPlan().toString()
    # the isin(todo) filter must hit the scan as a NON-EMPTY partition
    # filter (e.g. `PartitionFilters: [part#12 IN (0,1,2,3)]`), not a
    # post-scan Filter over all files
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "part" in m.group(1) and "IN" in m.group(1)


def test_ngram_language_id(spark):
    """Character-trigram language ID (pure column arithmetic): recovers
    en/de/fr/es on real sentences, 'unknown' on gibberish/empty."""
    from medacy_spark.operators.textstats import detect_language_ngram

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and the cat "
                "went to the market", "en"),
            (2, "der schnelle braune fuchs springt und die katze ging ich "
                "schon und der hund", "de"),
            (3, "les enfants que nous avons vus dans le parc et les oiseaux "
                "des arbres", "fr"),
            (4, "de la casa que los niños vieron en el parque y la canción "
                "de ayer", "es"),
            (5, "zzz qqq xxx kkk vvv www", "unknown"),
            (6, "", "unknown"),
        ],
        "doc_id long, text string, want string",
    )
    got = df.select("want", detect_language_ngram(F.col("text")).alias("lang"))
    assert got.filter("want != lang").count() == 0
    # plan stays UDF-free — column arithmetic only
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_repetition_signals_crafted(spark):
    from medacy_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            # "a b" occurs 3x (len 3), text len 11 -> top2 = 9/11;
            # "a b a" 2x, "b a b" 2x -> top3 tie breaks to lexicographically
            # larger "b a b" (len 5): 10/11; no repeated 5-gram
            (1, "a b a b a b"),
            # every gram unique
            (2, "one two three four five six seven"),
            # 5-gram "x y x y x" repeats (positions 1 and 3): dup5 covers
            # 2 * 9 chars over len 17
            (3, "x y x y x y x y x"),
            # shorter than 2 tokens: all signals 0
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            round(r["top2gram_frac"], 9),
            round(r["top3gram_frac"], 9),
            round(r["dup5gram_frac"], 9),
        )
        for r in repetition_signals(docs).collect()
    }
    assert got[1] == (round(9 / 11, 9), round(10 / 11, 9), 0.0)
    # every 2-gram unique (count 1): tie breaks to the lexicographically
    # largest gram "two three" (9 chars), same rule the oracle replays
    assert got[2][0] == round(9 / 33, 9)
    assert got[2][2] == 0.0
    # doc 3: "x y" occurs 4x of len 3 over len 17; dup5 grams: "x y x y x"
    # 3x and "y x y x y" 2x -> (3+2)*9/17 capped at 1.0
    assert got[3][0] == round(12 / 17, 9)
    assert got[3][2] == 1.0
    assert got[4] == (0.0, 0.0, 0.0)


def test_ngram_contamination_planted(spark):
    from medacy_spark.operators.decontam import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "q w e r t y u i o p extra tail words here"),
            (2, "totally clean document with no overlap at all in it"),
            (3, "short doc"),
            # shares the planted 8-gram mid-document
            (4, "prefix q w e r t y u i o suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "q w e r t y u i o")], "bench_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_grams"], r["n_contaminated"], r["contaminated"]
        )
        for r in ngram_contamination(docs, bench, n=8).collect()
    }
    # bench has 9 tokens -> two 8-grams: q..i and w..o
    assert got[1] == (7, 2, True)
    # doc 2 has 10 tokens -> 3 eight-grams, none contaminated
    assert got[2] == (3, 0, False)
    assert got[3] == (0, 0, False)   # < 8 tokens: no grams at all
    assert got[4] == (4, 2, True)


def test_ngram_contamination_broadcast_bounded(spark):
    """Same results whether the benchmark gram set is broadcast (below the
    counted threshold) or joined as a shuffle equi-join (above it) — the
    bounded-broadcast discipline of graph.canonicalize_triples."""
    from medacy_spark.operators.decontam import ngram_contamination

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h i j k{i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "bench_id long, text string"
    )
    a = ngram_contamination(docs, bench, n=8).orderBy("doc_id").collect()
    b = (
        ngram_contamination(docs, bench, n=8, broadcast_max_grams=0)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
    assert all(r["contaminated"] for r in a)

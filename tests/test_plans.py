"""Physical-plan quality gates — the 100 TB checklist as assertions.

These catch regressions in plan shape, not results: a filter that stops
pushing down or a gazetteer join that stops broadcasting would still pass
value tests while being catastrophically slower at scale.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_column_pruning(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "n_chars"
    )
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = [line for line in plan.splitlines() if "ReadSchema" in line][0]
    assert "doc_id" in read_schema and "n_chars" in read_schema
    assert "text" not in read_schema  # unused column never read


def test_parquet_predicate_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").filter(
        F.col("l_quantity") > 30
    ).select("l_orderkey")
    plan = _plan(df)
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line][0]
    assert "GreaterThan(l_quantity" in pushed


def test_gazetteer_join_broadcasts(spark, doc_ids):
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(clinical_documents(doc_ids).select("doc_id", "text"))
    m = detect_mentions(toks, gazetteer_df(spark))
    plan = _plan(m)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_is_exchange_free_from_range(spark):
    """spark.range's range-partitioning satisfies every doc-keyed
    distribution → the whole pipeline plans without shuffle exchanges."""
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.functions.html import extract_text_expr
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native

    ids = spark.range(1000).withColumnRenamed("id", "doc_id")
    docs = clinical_documents(ids)
    texts = docs.select("doc_id", extract_text_expr(F.col("html")).alias("text"))
    tri = extract_triples(detect_mentions(tokenize_native(texts), gazetteer_df(spark)))
    plan = _plan(tri)
    shuffle_exchanges = [
        line for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    ]
    assert shuffle_exchanges == []
    # exactly one sort feeds all windows
    sorts = [line for line in plan.splitlines() if line.strip().startswith("+- Sort")
             or line.strip().startswith(":- Sort") or "(Sort" in line]
    assert len([line for line in plan.splitlines() if "Sort (" in line]) <= 1


def test_whole_stage_codegen_active(spark):
    from medacy_spark.session import aqe_off

    # AQE defers codegen until execution; disable it for the plan check
    with aqe_off(spark):
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").groupBy(
            "l_returnflag"
        ).agg(F.sum("l_quantity").alias("s"))
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("codegen")  # "Found N WholeStageCodegen subtrees"
        out = buf.getvalue()
    assert "WholeStageCodegen subtrees" in out
    assert "Found 0" not in out


def test_kg_chain_explodes_are_whole_stage_compiled(spark, doc_ids):
    """The KG chain's explodes run inside whole-stage codegen: a lambda
    ``filter`` inside the generator would make ``Generate`` fall back to
    row-at-a-time evaluation."""
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.mentions import (
        detect_mentions, gazetteer_df, gazetteer_mentions,
    )
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native
    from medacy_spark.session import aqe_off

    toks = tokenize_native(clinical_documents(doc_ids).select("doc_id", "text"))
    m = detect_mentions(toks, gazetteer_df(spark))
    with aqe_off(spark):
        for df in (m, gazetteer_mentions(toks, gazetteer_df(spark)), extract_triples(m)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            explodes = [ln for ln in plan.splitlines() if " Generate explode(" in ln]
            assert explodes
            assert all(re.search(r"\*\(\d+\) Generate explode\(", ln) for ln in explodes), plan


def test_partition_pruning(spark, doc_ids, tmp_path):
    """Writes partitioned by lang must scan only the filtered partition."""
    from medacy_spark.corpus.synth import clinical_documents

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).withColumn(
        "lang2", F.when(F.col("doc_id") % 2 == 0, "en").otherwise("de")
    )
    path = str(tmp_path / "p")
    docs.select("doc_id", "text", "lang2").write.partitionBy("lang2").parquet(path)
    df = spark.read.parquet(path).filter(F.col("lang2") == "en").select("doc_id")
    plan = _plan(df)
    scan = "\n".join(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "lang2" in scan  # pruning predicate reached the scan
    assert df.count() == 50


def test_measures_strict_no_python(spark):
    """The strict scorer must stay JVM-side (no Python/Arrow eval nodes)."""
    from medacy_spark import contract

    df = contract.QUERIES["measures_strict"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan


def test_sketch_plans_no_cross_product_and_partial_agg(spark):
    """Scale claims encoded as plan gates: the dedup sketches must (a) never
    plan a cartesian product — candidate generation is equi-join only —
    (b) combine signatures map-side (partial aggregation) so the shuffle
    carries one row per doc, not one per shingle, and (c) cut the
    signature lineage before the band self-join (OSS Spark plans BOTH
    branches of a self-join — without the cut the signature aggregation
    runs twice; with it the join scans one checkpointed RDD)."""
    from medacy_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signature_table,
        ngram_jaccard_pairs,
        simhash64_table,
        simhash_candidates,
    )

    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    # (b): the signature tables themselves combine map-side
    p_sig = minhash_signature_table(d)._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in p_sig  # map-side combine of the signature mins
    p_vote = simhash64_table(d)._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in p_vote    # map-side combine of the bit votes

    # (a) + (c) on the candidate joins, lineage cut in effect
    p_mh = minhash_lsh_candidates(d)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p_mh
    assert "ExistingRDD" in p_mh        # both sides scan the checkpoint
    assert "partial_min" not in p_mh    # ...instead of re-aggregating
    p_sh = simhash_candidates(d)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p_sh
    assert "ExistingRDD" in p_sh

    # the uncut all-pairs plan (guard off) really does carry the
    # aggregation on both branches — the measured fact the cut exists for
    p_uncut = minhash_lsh_candidates(
        d, max_bucket_size=None
    )._jdf.queryExecution().executedPlan().toString()
    assert p_uncut.count("partial_min") >= 2

    p_ja = ngram_jaccard_pairs(d)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p_ja


def test_vocab_index_no_global_window(spark, doc_ids):
    """A9 scale gate: vocab_index must not plan a SinglePartition window
    exchange (the global-orderBy shape) — range partition + per-partition
    offsets instead — while staying bit-identical to the global ranking."""
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.features import vocab_index
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(clinical_documents(doc_ids).select("doc_id", "text"))
    vi = vocab_index(toks, "word")
    plan = vi._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    rows = sorted((r["word"], r["index"]) for r in vi.collect())
    words = sorted(set(w for w, _ in rows))
    assert rows == [(w, i) for i, w in enumerate(words)]
    # empty input keeps the schema
    empty = spark.createDataFrame([], "word string")
    assert vocab_index(empty, "word").count() == 0


def test_term_canon_broadcast_is_bounded(spark):
    """materialize_nodes_edges joins triples to term_canon — a CORPUS-
    derived relation (one row per distinct lowercased surface form),
    vocab-like at sandbox scale but unbounded at web scale. Below the
    threshold the hint must force the broadcast even with auto-broadcast
    off; ABOVE it the plan must contain no forced BroadcastExchange of
    the corpus-derived relation (shuffle equi-join on _norm instead) —
    a forced broadcast that outgrows executor memory is the one
    100x-scale killer plan shape here. Values identical either way."""
    from medacy_spark.operators.graph import materialize_nodes_edges

    links = spark.createDataFrame(
        [(1, "Aspirin", "C001"), (1, "ASA", "C001"), (2, "ibuprofen", "C002")],
        "doc_id long, text string, cui string",
    )
    triples = spark.createDataFrame(
        [(1, "has_dosage", ("Aspirin",), ("5 mg",)),
         (2, "has_dosage", ("ASA",), ("5 mg",)),
         (3, "has_route", ("ibuprofen",), ("oral",))],
        "doc_id long, pred string, subj struct<text:string>, "
        "obj struct<text:string>",
    )
    from medacy_spark.operators.graph import canonicalize_triples

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # join strategy pinned on the un-checkpointed canonicalization
        # core (materialize_nodes_edges cuts the lineage before its two
        # consumers, which hides the joins from the outer plans)
        assert "BroadcastHashJoin" in _plan(
            canonicalize_triples(links, triples)  # hint holds below cap
        )
        plan_s = _plan(canonicalize_triples(links, triples, broadcast_max_terms=0))
        assert "BroadcastHashJoin" not in plan_s
        assert "BroadcastExchange" not in plan_s

        nodes_b, edges_b = materialize_nodes_edges(links, triples)
        nodes_s, edges_s = materialize_nodes_edges(
            links, triples, broadcast_max_terms=0
        )

        def same(a, b):
            return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

        assert same(edges_b, edges_s) and same(nodes_b, nodes_s)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_ppmi_single_corpus_pass(spark):
    """Embedding-pretraining scale gate: `ppmi` fans the count table out
    to five consumers — without the internal localCheckpoint each one
    would re-run the corpus-scale window+count (DAG-branch recompute).
    The executed plan must aggregate the MATERIALIZED counts
    (ExistingRDD), never re-plan the corpus scan/window, and keep the
    marginal joins broadcast with no cartesian product."""
    from medacy_spark.operators.embeddings_train import cooccurrence_pairs, ppmi

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    out = ppmi(cooccurrence_pairs(d, window=3, id_cols=("doc_id",), order_col="pos"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan          # marginals read the checkpoint
    assert "FileScan" not in plan         # corpus never re-scanned
    assert "Window" not in plan           # lead/lag pass never re-run
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan    # vocab-scale marginals broadcast


def test_pagerank_iteration_plan_is_constant(spark):
    """PageRank is iterative — the 100x-scale killers are (a) lineage
    snowball (plan grows per round until planning itself dominates) and
    (b) re-derivation of the edge normalization inside the loop. The
    per-iteration physical plan must read BOTH inputs from checkpoints
    (ExistingRDD), never re-scan files, contain no cartesian product,
    and be the SAME SIZE at iteration 8 as at iteration 2."""
    from medacy_spark.operators.graph import pagerank

    edges = spark.range(500).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 500).alias("dst")
    )
    plans = {}
    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for it in (2, 8):
            stats = {}
            pagerank(edges, iterations=it, stats=stats).count()
            plans[it] = stats["last_iter_plan"]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    for p in plans.values():
        assert "ExistingRDD" in p
        assert "FileScan" not in p
        assert "CartesianProduct" not in p
        assert "Range" not in p  # the edge lineage is cut, not re-planned
        # the optimal power-iteration shape: checkpoints are created with
        # AQE off so LogicalRDD keeps the repartition+sortWithinPartitions
        # layout — the edge relation and the rank vector join with ZERO
        # exchange and ZERO sort on the big side; the ONLY shuffle per
        # iteration is the unavoidable groupBy(dst) transpose.
        assert p.count("Exchange") == 1, p
    # no snowball: identical operator counts regardless of iteration count
    def shape(p):
        return (p.count("Exchange"), p.count("Join"), p.count("HashAggregate"))
    assert shape(plans[2]) == shape(plans[8])


def test_decontam_broadcast_is_bounded(spark):
    """The benchmark gram set is the broadcast side of the contamination
    join — bounded for real benchmarks, but the hint must still be
    gated by the counted threshold (an adversarial corpus-sized
    'benchmark' must degrade to a shuffle equi-join, not a forced
    broadcast): the term_canon discipline, applied to decontam."""
    from medacy_spark.operators.decontam import ngram_contamination

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l") for i in range(10)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "bench_id long, text string"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert "BroadcastHashJoin" in _plan(
            ngram_contamination(docs, bench, n=8)
        )
        plan_s = _plan(ngram_contamination(docs, bench, n=8, broadcast_max_grams=0))
        assert "BroadcastHashJoin" not in plan_s
        assert "BroadcastExchange" not in plan_s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_packing_single_corpus_scan(spark):
    """sequence packing: the windowed offsets relation is checkpointed
    AQE-off, so the bucket rollup and the final join BOTH read the
    ExistingRDD (one corpus scan) and the rollup re-uses the reported
    hashpartitioning(_bkt) layout — the only exchanges downstream of
    the checkpoint are the bucket-count-scale SinglePartition window
    and the broadcast."""
    from medacy_spark.operators.packing import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        pack_sequences(docs.select("doc_id", "text"), 64, bucket_width=100)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Scan ExistingRDD") == 2  # rollup + join, same RDD
    import re
    row_scale_exchanges = [
        l for l in plan.splitlines()
        if re.search(r"Exchange hashpartitioning", l)
    ]
    assert row_scale_exchanges == []  # layout preserved through the checkpoint
    assert plan.count("Exchange SinglePartition") == 1  # bucket-scale only

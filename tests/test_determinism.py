"""Determinism gates (SURVEY §5 strategy d): run twice → identical hashes.

Everything in this engine must be seed-free and order-independent; a flaky
hash means a nondeterministic collect_list or a rand() snuck in.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from medacy_spark.corpus.synth import clinical_documents, gold_triples
from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
from medacy_spark.operators.relations import extract_triples
from medacy_spark.operators.tokenize import tokenize_native

# Golden corpus hash, pinned: changing the generator or extractor is a
# contract change and must be deliberate (update the constant + FIXTURES).
GOLDEN_CORPUS_SHA = None  # set on first run below


def _frame_hash(df) -> str:
    cols = sorted(df.columns)
    rows = sorted(
        "\x01".join(str(r[c]) for c in cols) for r in df.collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_pipeline_double_run_identical(spark, doc_ids):
    ids = doc_ids.filter("doc_id < 150")

    def run():
        docs = clinical_documents(ids).select("doc_id", "text")
        tri = extract_triples(
            detect_mentions(tokenize_native(docs), gazetteer_df(spark))
        )
        return _frame_hash(
            tri.select("doc_id", "pred", F.col("subj.text"), F.col("obj.text"))
        )

    assert run() == run()


def test_corpus_text_pinned_hash(spark):
    """Byte-level golden: sha256 of the doc-0..9 corpus text — the
    byte-identical-extraction contract surface."""
    ids = spark.range(10).withColumnRenamed("id", "doc_id")
    docs = clinical_documents(ids).orderBy("doc_id")
    joined = "\x01".join(r["text"] for r in docs.select("text").collect())
    digest = hashlib.sha256(joined.encode()).hexdigest()
    # pinned from the first verified run; any generator change must update
    # this deliberately
    assert digest == "c80c56ef88f41052b24ef4d9057e184c6676f28999bd31d7e0933b6a9921aaba", digest


def test_gold_triples_deterministic(spark, doc_ids):
    ids = doc_ids.filter("doc_id < 100")
    h1 = _frame_hash(gold_triples(ids).select("doc_id", "pred", F.col("obj.text")))
    h2 = _frame_hash(gold_triples(ids).select("doc_id", "pred", F.col("obj.text")))
    assert h1 == h2


def test_no_row_level_python_udfs():
    """Input-hint contract: no per-row Python UDFs anywhere in the engine —
    only Arrow-batched pandas UDFs / mapInPandas (CI grep per SURVEY §7.4).
    The same holds for driver-side tables: ``createDataFrame`` over Python
    data is a pickled PythonRDD whose every scan forks Python workers, so
    the engine builds them only through ``session.local_table`` (Arrow).
    AQE is switched off only through ``session.aqe_off``, which restores
    the session conf. Driver JVM options and the Tungsten page size are set
    only in ``session.get_spark``."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "medacy_spark"
    offenders = []
    local_tables = []
    aqe_flips = []
    jvm_opts = []
    page_size = []
    for p in root.rglob("*.py"):
        src = p.read_text()
        if "spark.sql.adaptive.enabled" in src:
            aqe_flips.append(p.relative_to(root).as_posix())
        if re.search(r"spark\.driver\.(defaultJavaOptions|extraJavaOptions)", src):
            jvm_opts.append(p.relative_to(root).as_posix())
        if "spark.buffer.pageSize" in src:
            page_size.append(p.relative_to(root).as_posix())
        # F.udf( / @udf( — row-at-a-time; pandas_udf is the allowed form
        for m in re.finditer(r"(?<!pandas_)\budf\s*\(", src):
            frag = src[max(0, m.start() - 20):m.start()]
            if "pandas_" not in frag:
                offenders.append(f"{p.name}:{src[:m.start()].count(chr(10)) + 1}")
        for m in re.finditer(r"\bcreateDataFrame\(", src):
            enclosing = re.findall(r"^def (\w+)", src[:m.start()], re.M)
            local_tables.append((p.relative_to(root).as_posix(), enclosing[-1:]))
    assert offenders == [], offenders
    assert local_tables == [("session.py", ["local_table"])], local_tables
    assert aqe_flips == ["session.py"], aqe_flips
    assert jvm_opts == ["session.py"], jvm_opts
    assert page_size == ["session.py"], page_size


def test_driver_jvm_runs_raised_c2_thresholds(spark):
    """The test session passes its own ``extra_conf``, yet its JVM was
    launched with get_spark's collector, young-generation bound and tier-4
    (C2) thresholds: they go through ``spark.driver.defaultJavaOptions``,
    which a caller's conf does not replace."""
    from medacy_spark.session import DRIVER_JAVA_OPTIONS

    mgmt = spark._jvm.java.lang.management.ManagementFactory
    args = list(mgmt.getRuntimeMXBean().getInputArguments())
    opts = DRIVER_JAVA_OPTIONS.split()
    assert [o.split("=")[0] for o in opts] == [
        "-XX:+UseParallelGC", "-XX:NewRatio",
        "-XX:Tier4InvocationThreshold", "-XX:Tier4MinInvocationThreshold",
        "-XX:Tier4CompileThreshold", "-XX:Tier4BackEdgeThreshold",
    ]
    assert [o for o in opts if o not in args] == [], args
    collectors = sorted(b.getName() for b in mgmt.getGarbageCollectorMXBeans())
    assert collectors == ["PS MarkSweep", "PS Scavenge"], collectors
    # the young generation (eden + two survivor spaces) is bounded at
    # 1/(NewRatio + 1) of the heap (young + old generation)
    ratio = int(opts[1].split("=")[1])
    pool_max = {p.getName(): p.getUsage().getMax() for p in mgmt.getMemoryPoolMXBeans()}
    young = pool_max["PS Eden Space"] + 2 * pool_max["PS Survivor Space"]
    heap = young + pool_max["PS Old Gen"]
    assert young <= heap / (ratio + 1) + heap / 100, (young, heap)


def _plan_nodes(plan):
    """Every node of an executed plan, through AQE's final plan and the
    plans inside its query stages."""
    yield plan
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        children = [plan.executedPlan()]
    elif name.endswith("QueryStageExec"):
        children = [plan.plan()]
    else:
        seq = plan.children()
        children = [seq.apply(i) for i in range(seq.size())]
    for c in children:
        yield from _plan_nodes(c)


def test_tungsten_pages_are_1mb(spark):
    """get_spark sets Tungsten's page size to 1 MB, so a sort or hash
    aggregate over a small task allocates 1 MB on its first insert, not
    the 16 MB page Spark derives from the test session's heap and cores.
    In a 100-row, 7-group group-by the final aggregate (one task after AQE
    coalesces the shuffle) takes a page: 17,039,360 bytes of peak memory
    at 16 MB pages. The partial one keeps its groups in the generated
    fast hash map, so it reports only its tasks' pointer arrays."""
    env = spark._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == 1 << 20
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    assert len(df.collect()) == 7
    peaks = {
        n.simpleString(25): n.metrics().get("peakMemory").get().value()
        for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.getClass().getSimpleName() == "HashAggregateExec"
    }
    assert len(peaks) == 2, peaks  # partial and final
    assert all(0 < v <= 2 << 20 for v in peaks.values()), peaks


def test_jobs_submit_lines_carry_driver_java_options():
    """Under ``spark-submit`` get_spark does not launch the JVM, so each
    job's documented submit line passes ``session.DRIVER_JAVA_OPTIONS``
    itself; it must carry exactly the constant."""
    import ast
    import pathlib
    import re

    from medacy_spark.session import DRIVER_JAVA_OPTIONS

    jobs = pathlib.Path(__file__).resolve().parents[1] / "jobs"
    for name in ("kg_pipeline.py", "curation_pipeline.py"):
        doc = ast.get_docstring(ast.parse((jobs / name).read_text()))
        (value,) = re.findall(r'--conf "spark\.driver\.defaultJavaOptions=([^"]*)"', doc)
        # join the shell's continuation lines
        assert " ".join(re.sub(r"\\\n", " ", value).split()) == DRIVER_JAVA_OPTIONS, name


def test_lookup_tables_are_local_relations(spark):
    """The KG chain's dictionaries are Arrow-backed LocalRelations: no job
    that scans them starts a Python worker."""
    from medacy_spark.corpus import lexicons as lex
    from medacy_spark.operators.linking import cui_dictionary

    for df in (gazetteer_df(spark), cui_dictionary(spark)):
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
    # same rows as the lexicons they are built from
    assert sorted(tuple(r) for r in gazetteer_df(spark).collect()) == sorted(lex.gazetteer_rows())
    assert sorted(tuple(r) for r in cui_dictionary(spark).collect()) == sorted(
        lex.cui_dictionary_rows()
    )

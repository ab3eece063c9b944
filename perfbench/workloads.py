"""The benchmark's workloads.

Each workload is one closed loop with one client: the driver issues one
Spark action at a time and the next operation starts only after the
previous one completed. ``iteration`` runs one complete, timed unit of
work and then checks its outputs outside the timed region. Layer
functions are always called through their modules, so the traced run's
wrappers (perfbench.trace) see every call.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.procmem import descendants_cpu_s
from perfbench.trace import Tracer

# the contract tables the suite reads: a copy of the repository's sf0.01
# test tables (generator seed 42), so a run reads only its own checkout
TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool = True
    name: str = ""


@dataclass
class Iteration:
    wall_s: float
    cpu_s: float  # CPU time of the JVM and its Python workers during wall_s
    docs: int
    ops: list[Op] = field(default_factory=list)


def _timed(ops: list[Op], kind: str, fn, name: str = ""):
    t = time.monotonic()
    out = fn()
    ops.append(Op(kind, time.monotonic() - t, name=name))
    return out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _frame_hash(cols: list[str], rows) -> tuple[str, int]:
    from tools.oracle_check import frame_hash

    return frame_hash(cols, [tuple(r) for r in rows])


def _oracle_hash(con, sql: str) -> tuple[str, int]:
    res = con.execute(sql)
    return _frame_hash([d[0] for d in res.description], res.fetchall())


class Workload:
    name = ""
    why = ""  # one line for BENCHMARK.json
    latency_kinds: tuple[str, ...] = ()  # op kinds whose latency is op_s
    latency_label = ""  # what one such op is, for the printed summary
    primes = 1  # untimed first iterations (JIT and code generation warm-up)
    max_iterations: int | None = None  # timed iterations per run, at most

    def __init__(self, seed: int, work_dir: str, tracer: Tracer) -> None:
        self.seed = seed
        self.work = work_dir
        self.tr = tracer

    def prepare(self) -> None:
        """Build inputs and oracle answers that need no Spark (untimed)."""

    def iteration(self, spark: SparkSession, i: int) -> Iteration:
        raise NotImplementedError


# --------------------------------------------------------------- kg_build


class KgBuild(Workload):
    """jobs/kg_pipeline.py's chain over synthesized clinical pages whose
    doc_id spine starts at an offset set by the seed."""

    name = "kg_build"
    latency_kinds = ("stage_write",)
    latency_label = "stage_write_s"
    n_docs = 10_000
    n_prime = 1_000  # docs of the untimed warm-up iteration
    n_partitions = 8  # logical checkpoint partitions (the job's --partitions)
    why = (f"kg_pipeline.py's chain on {n_docs // 1000}k synthetic clinical pages, seed offsets"
           " the doc_id spine: per-doc layers, checkpointed stage sinks, graph canonicalize")

    def prepare(self) -> None:
        from medacy_spark import contract

        self.lo = (self.seed % 1000) * 10_000_000
        oracle = contract.oracle_sql()
        self.expected = {}  # docs -> oracle hash of each output
        for n in (self.n_prime, self.n_docs):
            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW documents AS SELECT range AS doc_id"
                f" FROM range({self.lo}, {self.lo + n})"
            )
            self.expected[n] = {q: _oracle_hash(con, oracle[q]) for q in ("kg_edges", "kg_nodes")}
            con.close()

    def _texts(self, docs: DataFrame) -> DataFrame:
        from medacy_spark.functions import html

        with self.tr.span("html") as sid:
            return self.tr.force(
                sid, docs.select("doc_id", html.extract_text_expr(F.col("html")).alias("text"))
            )

    def iteration(self, spark: SparkSession, i: int) -> Iteration:
        from medacy_spark.corpus.synth import clinical_documents
        from medacy_spark.operators import graph, linking, mentions, relations, tokenize
        from medacy_spark.plans import checkpoint

        run = os.path.join(self.work, f"kg-{i}")
        n_docs = self.n_prime if i < self.primes else self.n_docs
        sinks = dict(
            run_id="perfbench", key_col="doc_id", n_partitions=self.n_partitions,
            metrics_path=f"{run}/metrics",
        )

        def stage_extract(chunk: DataFrame) -> DataFrame:
            toks = tokenize.tokenize_native(self._texts(chunk))
            return mentions.detect_mentions(toks, mentions.gazetteer_df(spark))

        ops: list[Op] = []
        t0, cpu0 = time.monotonic(), descendants_cpu_s()
        docs = clinical_documents(
            spark.range(self.lo, self.lo + n_docs).withColumnRenamed("id", "doc_id")
        )
        ment = _timed(ops, "stage_write", lambda: checkpoint.run_stage_checkpointed(
            spark, docs, stage_extract, stage="mentions",
            output_path=f"{run}/mentions", **sinks,
        ), "mentions")
        triples = _timed(ops, "stage_write", lambda: checkpoint.run_stage_checkpointed(
            spark, ment, lambda df: relations.extract_triples(df.drop("partition_id")),
            stage="triples", output_path=f"{run}/triples", partition_col="partition_id",
            **sinks,
        ), "triples")
        links = linking.link_mentions(ment, linking.cui_dictionary(spark))
        nodes, edges = graph.materialize_nodes_edges(links, triples)
        _timed(ops, "sink_write", lambda: nodes.write.mode("overwrite").parquet(f"{run}/nodes"), "nodes")
        _timed(ops, "sink_write", lambda: edges.write.mode("overwrite").parquet(f"{run}/edges"), "edges")
        wall, cpu = time.monotonic() - t0, descendants_cpu_s() - cpu0

        e = spark.read.parquet(f"{run}/edges").select("src_id", "pred", "dst_id", "weight")
        n = spark.read.parquet(f"{run}/nodes").select(
            "canonical_id", F.array_join("names", ",").alias("names")
        )
        ops[3].ok = _frame_hash(e.columns, e.collect()) == self.expected[n_docs]["kg_edges"]
        ops[2].ok = _frame_hash(n.columns, n.collect()) == self.expected[n_docs]["kg_nodes"]
        if self.tr.active:
            self.tr.add("checkpoint.bytes_written", sum(
                _dir_bytes(f"{run}/{d}") for d in ("mentions", "triples", "metrics")
            ))
        shutil.rmtree(run, ignore_errors=True)
        return Iteration(wall, cpu, n_docs, ops)


# --------------------------------------------------------- contract_suite


class ContractSuite(Workload):
    """Headline contract queries over the contract tables in one session;
    each result is checked against its DuckDB oracle hash."""

    name = "contract_suite"
    latency_kinds = ("query",)
    latency_label = "query_s"
    # the queries whose layers no other workload calls: graph.cc,
    # graph.pagerank, dedup, ingest, lm, packing, textstats and pii
    QUERIES = [
        "connected_components", "kg_pagerank", "minhash_lsh", "incremental_dedup",
        "lm_perplexity", "sequence_packing", "repetition_signals", "pii_signals",
    ]
    # one cold pass: a second pass would not fit the run budget. The order
    # is fixed, not set by the seed: in a cold pass the first queries pay
    # the JIT warm-up, so a seed-set order moved query_s.p50 by 40% across
    # seeds. The tables are fixed too, so the seed changes nothing here.
    primes = 0
    max_iterations = 1
    why = (f"{len(QUERIES)} headline contract queries, one cold pass in a fixed order over the"
           " sf0.01 test tables (seed unused): fixed cost per query, CC/pagerank job chains")

    def prepare(self) -> None:
        from perfbench import oracle

        self.n_docs = pq.read_metadata(f"{TABLES_DIR}/documents.parquet").num_rows
        self.walls: dict[str, float] = {}
        self.persisted_left = 0
        self.conf_changed = 0
        pinned = oracle.load()
        self.expected = {q: pinned[q] for q in self.QUERIES}

    @staticmethod
    def _session_state(spark: SparkSession) -> tuple[int, dict]:
        return spark.sparkContext._jsc.getPersistentRDDs().size(), dict(spark.conf.getAll)

    def iteration(self, spark: SparkSession, i: int) -> Iteration:
        from medacy_spark import contract

        qs = contract.queries()
        ops: list[Op] = []
        # the session probe and per-query walls describe untraced passes
        probe = not self.tr.active
        if probe:
            self.persisted_left = self.conf_changed = 0
        cpu0 = descendants_cpu_s()
        for q in self.QUERIES:
            rdds0, conf0 = self._session_state(spark)
            t = time.monotonic()
            with self.tr.span(f"contract.{q}"):
                df = qs[q](spark, TABLES_DIR)
                rows = df.collect()
            ops.append(Op("query", time.monotonic() - t, name=q))
            rdds1, conf1 = self._session_state(spark)
            if probe:
                self.persisted_left += rdds1 - rdds0
                self.conf_changed += conf1 != conf0
                self.walls[q] = ops[-1].seconds
            ops[-1].ok = _frame_hash(df.columns, rows) == self.expected[q]
        cpu = descendants_cpu_s() - cpu0
        return Iteration(sum(o.seconds for o in ops), cpu, self.n_docs, ops)


WORKLOADS = {w.name: w for w in (KgBuild, ContractSuite)}

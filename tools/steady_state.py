"""Steady-state run of the KG chain: what each batch costs the driver JVM.

  python tools/steady_state.py --tag pagesize-1m
  python tools/steady_state.py --tag newratio4 --java-opts="-XX:NewRatio=4 -Xlog:gc:file=gc.log"
  python tools/steady_state.py --tag pagesize-32m --conf spark.buffer.pageSize=32m

Runs ``jobs/kg_pipeline.py``'s chain the way perfbench's ``kg_build``
calls it (``run_stage_checkpointed`` for the mentions and triples stages,
then linking, ``materialize_nodes_edges`` and the node and edge writes) in
a ``get_spark(cores=N)`` session with the given driver heap: one 10k-doc
warm-up batch, then K batches of M docs, each over its own ``doc_id`` range. For
each batch and stage it reports, from the JVM's own task list
(``/proc/<jvm>/task``), the CPU of the executor threads, the collector's
threads and the VM thread; the collections each collector ran (GC
MXBeans); and the peak summed Pss of the JVM and its Python workers. For
each batch it reports the old generation's use after the batch and the
hash of the batch's edges, the correctness check: the chain is
deterministic, so two settings that run the same batches must write the
same edges.

Untimed and not a benchmark workload: a short benchmark run cannot show
promotion into the old generation, full collections or Pss growth over
many batches. Extra JVM flags (``--java-opts``, appended after
``get_spark``'s own through ``spark.driver.extraJavaOptions``) and extra
session conf (``--conf key=value``) come in as arguments, so a setting is
compared with the tree's own with no edit. Each run appends one record to
``--out`` (default ``STEADY_<tag>.json`` in the repository root), so runs
of two settings can be interleaved into two files. Collection causes are
not in the MXBeans; pass ``-Xlog:gc:file=...`` to see them.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STAGES = ("mentions", "triples", "link")
N_PARTITIONS = 8  # logical checkpoint partitions, as in perfbench's kg_build
_TICKS = os.sysconf("SC_CLK_TCK")


def _thread_class(comm: str) -> str | None:
    if comm.startswith("Executor task"):
        return "executor"
    if comm.startswith("GC Thread"):
        return "gc"
    if comm == "VM Thread":
        return "vm"
    return None


def _thread_cpu(pid: int) -> dict[str, float]:
    """CPU seconds so far per thread class of ``pid``, plus the whole
    process's. A thread that ended takes its CPU out of its class but not
    out of ``process``."""
    out = dict.fromkeys(("executor", "gc", "vm", "process"), 0.0)
    with open(f"/proc/{pid}/stat") as f:
        stat = f.read()
    out["process"] = sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13]) / _TICKS
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread ended
            continue
        cls = _thread_class(stat[stat.index("(") + 1:stat.rindex(")")])
        if cls:
            # utime, stime: fields 14 and 15, 12 and 13 after the ')'
            out[cls] += sum(int(x) for x in stat[stat.rindex(")") + 2:].split()[11:13]) / _TICKS
    return out


class _Jvm:
    """The driver JVM's own view of itself: pid, collectors and pools."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        mgmt = jvm.java.lang.management.ManagementFactory
        self.collectors = list(mgmt.getGarbageCollectorMXBeans())
        self.old = [p for p in mgmt.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]
        self.page_size = int(jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes())

    def collections(self) -> dict[str, dict[str, int]]:
        return {
            b.getName(): {"count": int(b.getCollectionCount()), "ms": int(b.getCollectionTime())}
            for b in self.collectors
        }

    def old_gen_used_mb(self) -> float:
        return sum(p.getUsage().getUsed() for p in self.old) / 2**20


def _measured(jvm: _Jvm, fn) -> dict:
    from perfbench.procmem import PeakMemory

    cpu0, gc0, t0 = _thread_cpu(jvm.pid), jvm.collections(), time.monotonic()
    with PeakMemory(interval_s=0.1) as mem:
        fn()
    wall, cpu1, gc1 = time.monotonic() - t0, _thread_cpu(jvm.pid), jvm.collections()
    return {
        "wall_s": round(wall, 3),
        "cpu_s": {k: round(cpu1[k] - cpu0[k], 2) for k in cpu1},
        "collections": {
            k: {m: gc1[k][m] - gc0[k][m] for m in ("count", "ms")} for k in gc1
        },
        "peak_pss_mb": round(mem.peak_bytes / 2**20, 1),
    }


def _batch(spark, jvm: _Jvm, lo: int, hi: int, run: str) -> dict:
    from pyspark.sql import functions as F

    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.functions import html
    from medacy_spark.operators import graph, linking, mentions, relations, tokenize
    from medacy_spark.plans import checkpoint
    from tools.oracle_check import frame_hash

    sinks = dict(run_id="steady", key_col="doc_id", n_partitions=N_PARTITIONS,
                 metrics_path=f"{run}/metrics")
    docs = clinical_documents(spark.range(lo, hi).withColumnRenamed("id", "doc_id"))

    def stage_extract(chunk):
        texts = chunk.select("doc_id", html.extract_text_expr(F.col("html")).alias("text"))
        return mentions.detect_mentions(tokenize.tokenize_native(texts), mentions.gazetteer_df(spark))

    out: dict = {}

    def extract():
        out["ment"] = checkpoint.run_stage_checkpointed(
            spark, docs, stage_extract, stage="mentions", output_path=f"{run}/mentions", **sinks)

    def triples():
        out["triples"] = checkpoint.run_stage_checkpointed(
            spark, out["ment"], lambda df: relations.extract_triples(df.drop("partition_id")),
            stage="triples", output_path=f"{run}/triples", partition_col="partition_id", **sinks)

    def link():
        links = linking.link_mentions(out["ment"], linking.cui_dictionary(spark))
        nodes, edges = graph.materialize_nodes_edges(links, out["triples"])
        nodes.write.mode("overwrite").parquet(f"{run}/nodes")
        edges.write.mode("overwrite").parquet(f"{run}/edges")

    stages = {name: _measured(jvm, fn) for name, fn in zip(STAGES, (extract, triples, link))}
    old_gen = jvm.old_gen_used_mb()
    e = spark.read.parquet(f"{run}/edges").select("src_id", "pred", "dst_id", "weight")
    edge_hash, n_edges = frame_hash(e.columns, [tuple(r) for r in e.collect()])
    shutil.rmtree(run, ignore_errors=True)
    return {
        "doc_range": [lo, hi],
        "stages": stages,
        "old_gen_used_mb": round(old_gen, 1),
        "peak_pss_mb": max(s["peak_pss_mb"] for s in stages.values()),
        "edge_hash": edge_hash,
        "edges": n_edges,
    }


def run(spark, *, warmup_docs: int, batches: int, batch_docs: int, work: str) -> dict:
    """One warm-up batch of ``warmup_docs`` docs, then ``batches`` batches
    of ``batch_docs``, in ``spark``; sinks go under ``work``."""
    jvm = _Jvm(spark)
    sizes = [warmup_docs] + [batch_docs] * batches
    out, lo = [], 0
    for k, n in enumerate(sizes):
        out.append(_batch(spark, jvm, lo, lo + n, os.path.join(work, f"batch-{k}")))
        out[-1]["warmup"] = k == 0
        lo += n
    return {"page_size_bytes": jvm.page_size, "batches": out, "steady": _summary(out[1:])}


def _summary(steady: list[dict]) -> dict:
    """Per steady batch: full and young collections (means), each stage's
    executor + GC CPU (median), and the run's peak Pss."""
    if not steady:
        return {}

    def per_batch(collector: str) -> float:
        return statistics.mean(
            sum(s["collections"][collector]["count"] for s in b["stages"].values()) for b in steady
        )

    return {
        # get_spark's collector: PS MarkSweep runs the full collections
        "full_per_batch": per_batch("PS MarkSweep"),
        "young_per_batch": per_batch("PS Scavenge"),
        "executor_gc_cpu_s": {
            st: statistics.median(
                b["stages"][st]["cpu_s"]["executor"] + b["stages"][st]["cpu_s"]["gc"] for b in steady
            )
            for st in STAGES
        },
        "peak_pss_mb": max(b["peak_pss_mb"] for b in steady),
    }


def _key_value(arg: str) -> tuple[str, str]:
    key, sep, value = arg.partition("=")
    if not (key and sep):
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {arg!r}")
    return key, value


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--tag", required=True, help="names the default output file")
    p.add_argument("--cores", type=int, default=4)
    p.add_argument("--heap", default="6g", help="spark.driver.memory (no -Xms)")
    p.add_argument("--batches", type=int, default=5)
    p.add_argument("--docs", type=int, default=100_000, help="docs per steady batch")
    p.add_argument("--java-opts", default="", help='extra driver JVM flags, as --java-opts="-X..."')
    p.add_argument("--conf", action="append", default=[], type=_key_value, metavar="KEY=VALUE",
                   help="extra session conf (repeatable)")
    p.add_argument("--out", default=None, help="JSON file the run is appended to")
    args = p.parse_args()
    sys.path.insert(0, ROOT)
    from medacy_spark.session import get_spark

    out = args.out or os.path.join(ROOT, f"STEADY_{args.tag}.json")
    work = tempfile.mkdtemp(prefix="steady-")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    extra = {"spark.driver.memory": args.heap, "spark.ui.showConsoleProgress": "false",
             **dict(args.conf)}
    if args.java_opts:
        extra["spark.driver.extraJavaOptions"] = args.java_opts
    spark = get_spark(app_name=f"steady-{args.tag}", cores=args.cores, extra_conf=extra)
    try:
        result = run(spark, warmup_docs=10_000, batches=args.batches,
                     batch_docs=args.docs, work=work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    record = {"args": vars(args), **result}
    doc = {"tag": args.tag, "runs": []}
    if os.path.exists(out):
        with open(out) as f:
            doc = json.load(f)
    doc["runs"].append(record)
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
    print(json.dumps({"tag": args.tag, "page_size_bytes": result["page_size_bytes"],
                      "steady": result["steady"],
                      "edge_hashes": [b["edge_hash"] for b in result["batches"]]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

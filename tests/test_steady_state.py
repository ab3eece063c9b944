"""Smoke test of tools/steady_state.py: its report's keys, and edges equal
to a direct run of the chain over the same doc_id ranges."""

from __future__ import annotations

from pyspark.sql import functions as F

from medacy_spark.corpus.synth import clinical_documents
from medacy_spark.functions import html
from medacy_spark.operators import graph, linking, mentions, relations, tokenize
from tools import steady_state
from tools.oracle_check import frame_hash


def _direct_edge_hash(spark, lo: int, hi: int) -> str:
    docs = clinical_documents(spark.range(lo, hi).withColumnRenamed("id", "doc_id"))
    texts = docs.select("doc_id", html.extract_text_expr(F.col("html")).alias("text"))
    ment = mentions.detect_mentions(tokenize.tokenize_native(texts), mentions.gazetteer_df(spark))
    links = linking.link_mentions(ment, linking.cui_dictionary(spark))
    _, edges = graph.materialize_nodes_edges(links, relations.extract_triples(ment))
    e = edges.select("src_id", "pred", "dst_id", "weight")
    return frame_hash(e.columns, [tuple(r) for r in e.collect()])[0]


def test_steady_state_smoke(spark, tmp_path):
    out = steady_state.run(spark, warmup_docs=500, batches=2, batch_docs=2000, work=str(tmp_path))
    assert sorted(out) == ["batches", "page_size_bytes", "steady"]
    assert out["page_size_bytes"] == 1 << 20
    assert [b["doc_range"] for b in out["batches"]] == [[0, 500], [500, 2500], [2500, 4500]]
    assert [b["warmup"] for b in out["batches"]] == [True, False, False]
    for b in out["batches"]:
        assert sorted(b) == [
            "doc_range", "edge_hash", "edges", "old_gen_used_mb", "peak_pss_mb", "stages", "warmup",
        ]
        assert list(b["stages"]) == ["mentions", "triples", "link"]
        for s in b["stages"].values():
            assert sorted(s) == ["collections", "cpu_s", "peak_pss_mb", "wall_s"]
            assert sorted(s["cpu_s"]) == ["executor", "gc", "process", "vm"]
            assert sorted(s["collections"]) == ["PS MarkSweep", "PS Scavenge"]
            assert s["cpu_s"]["process"] > 0 and s["peak_pss_mb"] > 0
        assert b["edges"] > 0
        assert b["edge_hash"] == _direct_edge_hash(spark, *b["doc_range"])
    assert sorted(out["steady"]) == [
        "executor_gc_cpu_s", "full_per_batch", "peak_pss_mb", "young_per_batch",
    ]
    assert list(tmp_path.iterdir()) == []  # each batch removes its sinks

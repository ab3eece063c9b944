"""Production entry point: the full KG-construction job, shippable via

  spark-submit --py-files dist/medacy_spark.zip --driver-memory 16g \\
      --conf "spark.driver.defaultJavaOptions=-XX:+UseParallelGC -XX:NewRatio=3 \\
          -XX:Tier4InvocationThreshold=40000 -XX:Tier4MinInvocationThreshold=4800 \\
          -XX:Tier4CompileThreshold=120000 -XX:Tier4BackEdgeThreshold=320000" \\
      jobs/kg_pipeline.py \\
      --input <documents parquet/Iceberg path> \\
      --output <warehouse dir> --run-id r1 --partitions 64

(`tools/package.sh` builds the zip.) spark-submit starts the driver JVM
before `get_spark` runs, so the JVM-launch settings `get_spark` would
apply are passed on the command line: the driver memory and
`medacy_spark.session.DRIVER_JAVA_OPTIONS` (the parallel collector, its
young-generation bound and HotSpot's C2 compile thresholds; the `--conf`
value must equal that constant, which `tests/test_determinism.py`
checks). Tungsten's page size is a SparkContext setting, so `get_spark`
applies it under spark-submit too and the line needs no `--conf` for it.

Stages (all resumable per logical partition via the metrics lineage table):
  documents → extract text (byte-identical) → tokenize → detect mentions →
  extract triples → link to CUIs → canonicalize (same_as components) →
  materialize nodes/edges + metrics.

With --synthesize N the job generates the deterministic clinical corpus
instead of reading one (cluster smoke-testing without data).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="documents table path")
    p.add_argument("--synthesize", type=int, default=0, help="generate N synthetic docs instead")
    p.add_argument("--output", required=True)
    p.add_argument("--run-id", default="run1")
    p.add_argument("--partitions", type=int, default=64)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.functions.html import extract_text_expr
    from medacy_spark.operators.graph import materialize_nodes_edges
    from medacy_spark.operators.linking import cui_dictionary, link_mentions
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native
    from medacy_spark.plans.checkpoint import run_stage_checkpointed
    from medacy_spark.plans.skew import host_skew_profile
    from medacy_spark.session import get_spark

    spark = get_spark(app_name="kg_pipeline", cores=args.cores)
    t0 = time.monotonic()

    if args.synthesize:
        docs = clinical_documents(
            spark.range(args.synthesize).withColumnRenamed("id", "doc_id")
        )
    else:
        docs = spark.read.parquet(args.input)
        if "doc_id" not in docs.columns:
            docs = docs.withColumn("doc_id", F.xxhash64("url"))

    skew = host_skew_profile(docs).limit(5).collect()
    print("top hosts:", [(r["host"], r["docs"]) for r in skew])

    def stage_extract(chunk):
        texts = chunk.select("doc_id", "url", extract_text_expr(F.col("html")).alias("text"))
        toks = tokenize_native(texts.select("doc_id", "text"))
        mentions = detect_mentions(toks, gazetteer_df(spark))
        return mentions

    # key by doc_id: it survives into the stage output (mentions), so the
    # single-job writer re-derives partition_id without carrying url through
    mentions = run_stage_checkpointed(
        spark, docs, stage_extract,
        run_id=args.run_id, stage="mentions", key_col="doc_id",
        n_partitions=args.partitions,
        output_path=f"{args.output}/mentions",
        metrics_path=f"{args.output}/metrics",
    )

    # second checkpointed stage: mentions -> triples. The mentions sink is
    # partitioned by partition_id, so partition_col makes the resume read
    # partition-pruned (completed partitions' files are never opened);
    # re-derivation for the output uses the same doc_id bucketing.
    triples = run_stage_checkpointed(
        spark, mentions,
        lambda df: extract_triples(df.drop("partition_id")),
        run_id=args.run_id, stage="triples", key_col="doc_id",
        n_partitions=args.partitions,
        output_path=f"{args.output}/triples",
        metrics_path=f"{args.output}/metrics",
        partition_col="partition_id",
    )

    links = link_mentions(mentions, cui_dictionary(spark))
    nodes, edges = materialize_nodes_edges(links, triples)
    nodes.write.mode("overwrite").parquet(f"{args.output}/nodes")
    edges.write.mode("overwrite").parquet(f"{args.output}/edges")

    n_tri = triples.count()
    n_nodes = spark.read.parquet(f"{args.output}/nodes").count()
    n_edges = spark.read.parquet(f"{args.output}/edges").count()
    print(
        f"kg_pipeline done in {time.monotonic() - t0:.1f}s: "
        f"triples={n_tri} nodes={n_nodes} edges={n_edges}"
    )
    spark.stop()


if __name__ == "__main__":
    main()

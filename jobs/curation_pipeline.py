"""Production entry point: the full webtext training-data curation job.

  spark-submit --py-files dist/medacy_spark.zip --driver-memory 16g \\
      --conf "spark.driver.defaultJavaOptions=-XX:+UseParallelGC -XX:NewRatio=3 \\
          -XX:Tier4InvocationThreshold=40000 -XX:Tier4MinInvocationThreshold=4800 \\
          -XX:Tier4CompileThreshold=120000 -XX:Tier4BackEdgeThreshold=320000" \\
      jobs/curation_pipeline.py \\
      --input <documents parquet/Iceberg path> \\
      --output <warehouse dir> --seq-len 2048 --cores 32

The driver memory and the `--conf` value are the JVM-launch settings
`get_spark` applies when it starts the JVM itself; the value is
`medacy_spark.session.DRIVER_JAVA_OPTIONS` (see `jobs/kg_pipeline.py`).

Stages (each an operator with its own contract query; this job is the
composition a 100-TB curation run actually ships):

  documents → hygiene gates (Gopher quality + repetition signals)
  → PII scrub → LM perplexity filter (bigram add-k model trained on a
  deterministic 10% sample, threshold at a corpus quantile)
  → MinHash-LSH near-dup removal → epochs-per-source mixture
  → sequence packing (the (doc → training window) map + fill stats).

Every stage is deterministic (hash-keyed sampling, md5 Bernoullis,
fixed tie-breaks) so reruns are byte-identical — the resumability the
north rule demands. With --synthesize N the job generates a
deterministic webtext-shaped corpus (Zipf-ish vocabulary, planted
near-duplicates and PII) for cluster smoke-testing without data.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# direct `python jobs/curation_pipeline.py` runs (no spark-submit
# --py-files) resolve the package from the repo root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthesize_webtext(spark: SparkSession, n_docs: int) -> DataFrame:
    """Deterministic webtext-shaped corpus: 60-word docs over a skewed
    ~20k-word vocabulary, 20 hosts as sources, a near-duplicate planted
    every 50th doc (one word changed from its predecessor's text) and
    an email planted every 37th doc."""
    word = F.concat(
        F.lit("w"),
        F.pmod(
            F.pmod(F.xxhash64(F.col("doc_id"), F.col("i")), F.lit(1000))
            * F.pmod(F.xxhash64(F.col("i"), F.col("doc_id")), F.lit(1000)),
            F.lit(20000),
        ).cast("string"),
    )
    base = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.sequence(F.lit(1), F.lit(60))).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            # near-dup plant: doc 50k+1 re-derives doc 50k's words except
            # position 7 (one-word edit → a true NEAR duplicate)
            F.when(
                (F.col("doc_id") % 50 == 1) & (F.col("i") != 7),
                F.concat(
                    F.lit("w"),
                    F.pmod(
                        F.pmod(F.xxhash64(F.col("doc_id") - 1, F.col("i")), F.lit(1000))
                        * F.pmod(F.xxhash64(F.col("i"), F.col("doc_id") - 1), F.lit(1000)),
                        F.lit(20000),
                    ).cast("string"),
                ),
            ).otherwise(word).alias("w"),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("w")).alias("text"))
    )
    return base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 37 == 0,
            F.concat(F.col("text"), F.lit(" contact bob@example.com now")),
        ).otherwise(F.col("text")).alias("text"),
        F.lit("en").alias("lang"),
        F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
    )


def run_curation(
    spark: SparkSession,
    docs: DataFrame,
    *,
    seq_len: int = 2048,
    min_quality: float = 0.2,
    max_dup5gram: float = 0.5,
    ppl_quantile: float = 0.9,
    benchmark: DataFrame | None = None,
    max_contamination: float = 0.0,
    mix_weights: dict[str, float] | None = None,
    stats: dict | None = None,
) -> dict[str, DataFrame]:
    """The composition; returns the stage outputs (lazy DataFrames).
    ``stats`` (optional dict) collects per-stage row counts — the only
    driver-side values this pipeline ever materializes."""
    from medacy_spark.operators.dedup import dedup_corpus
    from medacy_spark.operators.lm import score_perplexity, train_ngram_lm
    from medacy_spark.operators.packing import pack_sequences, packing_stats
    from medacy_spark.operators.pii import redact_pii
    from medacy_spark.operators.sampling import hash_sample, upsample_sources
    from medacy_spark.operators.textstats import quality_score, repetition_signals

    def note(name: str, df: DataFrame) -> DataFrame:
        if stats is not None:
            stats[name] = df.count()
        return df

    note("input", docs)

    # 1. hygiene: Gopher quality arithmetic (narrow) + repetition
    # signals (one doc-keyed aggregation, joined back on the doc key)
    rep = repetition_signals(docs).select("doc_id", "dup5gram_frac")
    hygiene = (
        docs.withColumn("_q", quality_score(F.col("text")))
        .filter(F.col("_q") >= min_quality)
        .join(rep, "doc_id")
        .filter(F.col("dup5gram_frac") <= max_dup5gram)
        .drop("dup5gram_frac")
    )
    note("hygiene", hygiene)

    # 2. PII scrub — narrow regex projection, fused into the same stage
    scrubbed = hygiene.withColumn("text", redact_pii(F.col("text")))

    # 3. LM perplexity gate: model from a deterministic 10% sample,
    # threshold at the corpus quantile (exact percentile, deterministic)
    model = train_ngram_lm(
        hash_sample(scrubbed, "doc_id", 0.1, salt="lmtrain"), n=2, k=0.1
    )
    ppl = score_perplexity(scrubbed, model).select("doc_id", "perplexity")
    thr_df = ppl.agg(
        F.percentile(F.col("perplexity"), F.lit(ppl_quantile)).alias("thr")
    )
    fluent = (
        scrubbed.join(ppl, "doc_id")
        .join(F.broadcast(thr_df))
        .filter(F.col("perplexity") <= F.col("thr"))
        .drop("perplexity", "thr", "_q")
        .localCheckpoint(eager=False)  # cut the LM-join lineage before dedup
    )
    note("fluent", fluent)

    # 4. near-dup removal (MinHash-LSH → CC → min-id survivor)
    unique = dedup_corpus(fluent)
    note("unique", unique)

    # 4b. benchmark decontamination (optional): drop docs whose word-8-gram
    # overlap with the eval table exceeds max_contamination
    if benchmark is not None:
        from medacy_spark.operators.decontam import ngram_contamination

        cont = ngram_contamination(unique, benchmark).select(
            "doc_id", "contamination_frac"
        )
        unique = (
            unique.join(cont, "doc_id")
            .filter(F.col("contamination_frac") <= max_contamination)
            .drop("contamination_frac")
        )
        note("decontaminated", unique)

    # 5. epochs-per-source mixture (optional)
    if mix_weights:
        mixed = upsample_sources(unique, mix_weights).withColumn(
            "doc_id", F.col("doc_id") * 100 + F.col("copy_id")
        ).drop("copy_id")
    else:
        mixed = unique
    mixed = mixed.localCheckpoint(eager=False)  # packing reads it twice
    note("mixed", mixed)

    # 6. packing map + fill stats
    packed = pack_sequences(mixed, seq_len)
    return {
        "corpus": mixed,
        "packed": packed,
        "pack_stats": packing_stats(packed, seq_len),
    }


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", default=None, help="documents table path")
    p.add_argument("--synthesize", type=int, default=0)
    p.add_argument("--output", required=True)
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--ppl-quantile", type=float, default=0.9)
    p.add_argument("--cores", type=int, default=None)
    args = p.parse_args(argv)

    from medacy_spark.session import get_spark

    spark = get_spark(app_name="curation_pipeline", cores=args.cores)
    t0 = time.monotonic()
    docs = (
        synthesize_webtext(spark, args.synthesize)
        if args.synthesize
        else spark.read.parquet(args.input)
    )
    stats: dict[str, int] = {}
    out = run_curation(
        spark, docs, seq_len=args.seq_len,
        ppl_quantile=args.ppl_quantile, stats=stats,
    )
    out["corpus"].write.mode("overwrite").parquet(f"{args.output}/corpus")
    out["packed"].write.mode("overwrite").parquet(f"{args.output}/packed")
    out["pack_stats"].write.mode("overwrite").parquet(f"{args.output}/pack_stats")
    wall = time.monotonic() - t0
    print(
        f"curation done in {wall:.1f}s: {stats} "
        f"({stats['input'] / wall:.0f} docs/s end-to-end)"
    )
    spark.stop()


if __name__ == "__main__":
    main()

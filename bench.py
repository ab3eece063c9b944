"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "docs_per_sec": ...}

Headline set = the flagship clinical-KG pipeline plus one representative
query per operator family (scan/agg/join/window/set/dedup/ANN/scoring/CC).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time


HEADLINE = [
    "clinical_triples",        # full KG pipeline: synth → extract → tokenize → mentions → triples
    "clinical_mention_counts", # detection + aggregation
    "measures_lenient",        # greedy scorer (Arrow cogroup)
    "measures_strict",         # scorer, pure DataFrame
    "island_merge",            # gaps-and-islands window
    "lenient_intersection",    # span θ-join
    "containment_pairs",       # bucketed interval join
    "ambiguity_counts",        # overlap self-join
    "pricing_summary",         # wide aggregation
    "top_orders",              # 3-way join + top-k
    "events_running_sum",      # analytic window
    "nation_rollup",           # grouping sets
    "exact_dup_groups",        # exact dedup
    "minhash_lsh",             # sketch dedup
    "ngram_jaccard",           # exact near-dup verify
    "simhash_candidates",      # simhash dedup
    "embedding_topk",          # brute-force ANN
    "embedding_topk_lsh",      # bucketed ANN
    "text_hygiene",            # corpus hygiene profile
    "doc_fingerprints",        # rolling-hash fingerprints
    "connected_components",    # iterative canonicalization
    # added in round 6 (subtract from the total when comparing against
    # r5-and-earlier BENCH JSONs / the committed session-start probe)
    "cooccurrence_ppmi",       # embedding pretraining (window co-occurrence + PPMI)
    # added in round 7 session 3 (25 queries total from here on)
    "kg_pagerank",             # iterative KG centrality (6 rounds)
    "repetition_signals",      # Gopher repetition quality signals
    "benchmark_decontam",      # n-gram benchmark decontamination
    # added in round 7 session 4 (27 queries total from here on)
    "events_sessionize",       # gap-based sessionization (one window pass)
    "purchase_attribution",    # as-of join (union-tagged stream, one shuffle)
    # added in round 7 session 7 (30 queries total from here on)
    "sequence_packing",        # two-level distributed prefix sum + chunk map
    "lm_perplexity",           # n-gram LM train + perplexity scoring
    "bpe_merges",              # BPE induction (8 vocab-scale merge iterations)
]


def _calibrate(cpus: int) -> dict:
    """Same-run pure-CPU ceiling (tools/cpu_calibrate.burn): the host's
    single-worker burn wall and its cpus-way parallel speedup, recorded in
    the bench JSON so a slower BENCH_r{N} can be mechanically attributed
    to thermal/co-tenant drift vs a real plan regression (the host swings
    1.5-2x between runs; BENCH.md)."""
    import multiprocessing as mp

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
    from cpu_calibrate import burn

    units = 64

    def wall(workers: int) -> float:
        per = [units // workers + (1 if i < units % workers else 0)
               for i in range(workers)]
        best = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            with mp.Pool(workers) as p:
                p.map(burn, per)
            best = min(best, time.monotonic() - t0)
        return round(best, 3)

    w1, wn = wall(1), wall(cpus)
    return {
        "workers": cpus,
        # wall_1w is the thermal-drift signal (single-core burn rate);
        # the speedup is COARSE (64 units -> pool startup inflates the
        # N-way wall) — the fine ceiling comes from tools/cpu_calibrate.py
        # at 192+ units, run alongside tools/scaling_bench.py
        "wall_1w_sec": w1,
        "wall_nw_sec": wn,
        "parallel_speedup_coarse": round(w1 / wn, 2) if wn else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.0

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from medacy_spark import contract
    from medacy_spark.session import get_spark

    spark = get_spark(app_name="medacy_spark_bench", cores=cpus)
    qs = contract.queries()

    # warm-up: JVM startup plus ONE run of every headline query at the
    # smallest sf, so whole-stage-codegen compilation isn't billed to the
    # first query that happens to use each operator family (round 1 warmed
    # only a parquet count, so ~6-8 s of codegen landed on
    # clinical_triples/measures; the timed numbers now measure
    # data-proportional work, which is what scales)
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            qs[name](spark, warm_dir).count()

    # best-of-2 per query: the sandbox host is noisy (co-tenant/turbo
    # swings of 1.5-2x between runs) — the min is the least-interference
    # estimate of the query's actual cost
    timings: dict[str, float] = {}
    n_docs = 0
    for _pass in range(2):
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.monotonic()
            fn(spark, sf_dir).count()
            sec = round(time.monotonic() - t0, 3)
            if name not in timings or sec < timings[name]:
                timings[name] = sec
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    clinical_sec = timings["clinical_triples"]
    total = round(sum(timings.values()), 3)
    docs_per_sec = round(n_docs / clinical_sec, 1) if n_docs and clinical_sec else None

    # sustained KG-pipeline throughput: 200k docs from a range spine
    # (amortizes the per-stage fixed costs that dominate tiny sf dirs;
    # methodology identical to tools/scaling_bench.py / BENCH.md)
    from pyspark.sql import functions as F  # noqa: PLC0415

    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.functions.html import extract_text_expr
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native

    def kg(n):
        ids = spark.range(n).withColumnRenamed("id", "doc_id")
        docs = clinical_documents(ids)
        texts = docs.select("doc_id", extract_text_expr(F.col("html")).alias("text"))
        return extract_triples(
            detect_mentions(tokenize_native(texts), gazetteer_df(spark))
        ).count()

    kg(2000)  # codegen warm-up
    n_sustained = 200_000
    kg(n_sustained)  # one full-size untimed pass: C2 needs the volume
                     # (same protocol as tools/scaling_bench.py)
    sustained = 0.0
    for _pass in range(3):
        t0 = time.monotonic()
        kg(n_sustained)
        sustained = max(sustained, round(n_sustained / (time.monotonic() - t0), 1))

    # sustained corpus-dedup throughput at PRODUCTION defaults (xxhash64
    # sketches): minhash-LSH candidates → CC clusters → survivor anti-join
    # over 100k web-entropy docs (60 words from a 16k vocab; 0.5% planted
    # exact dups). The clinical template corpus is deliberately NOT used:
    # its shared template shingles make every doc a near-dup of every
    # other — a hot-shingle blow-up, not a throughput measurement. The
    # headline minhash/simhash queries above run in md5 verification mode
    # on 150 docs — this is the scale number.
    from medacy_spark.operators.dedup import dedup_corpus

    def web_docs(n):
        base = F.when(F.col("id") % 200 == 1, F.col("id") - 1).otherwise(F.col("id"))
        words = F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(
                F.lit("w"), F.pmod(F.xxhash64(base, i), F.lit(16384)).cast("string")
            ),
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id"), F.array_join(words, " ").alias("text")
        )

    dedup_corpus(web_docs(2000)).count()  # warm-up
    n_dedup = 100_000
    dedup_corpus(web_docs(n_dedup)).count()  # full-size untimed warm pass
    dedup_rate = 0.0
    for _pass in range(2):
        t0 = time.monotonic()
        survivors = dedup_corpus(web_docs(n_dedup)).count()
        dedup_rate = max(dedup_rate, round(n_dedup / (time.monotonic() - t0), 1))
        assert survivors <= n_dedup - n_dedup // 200 + 1  # planted dups removed

    # incremental-ingest throughput: dedup_batch_against_state dedups a
    # 10k batch against a 100k-doc band_table state persisted to parquet
    # — the number a continuously-growing corpus pays per batch, instead
    # of re-running dedup_corpus over corpus+batch every time
    import shutil
    import tempfile

    from medacy_spark.operators.dedup import band_table, dedup_batch_against_state

    state_dir = tempfile.mkdtemp(prefix="dedup_state_")
    n_batch = 10_000
    try:
        band_table(web_docs(n_dedup)).write.mode("overwrite").parquet(state_dir)

        def ingest() -> None:
            state = spark.read.parquet(state_dir)
            batch = web_docs(n_dedup + n_batch).filter(F.col("doc_id") >= n_dedup)
            survivors, new_state = dedup_batch_against_state(batch, state)
            survivors.count()
            new_state.count()

        ingest()  # warm-up
        inc_rate = 0.0
        for _pass in range(2):
            t0 = time.monotonic()
            ingest()
            inc_rate = max(inc_rate, round(n_batch / (time.monotonic() - t0), 1))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)

    # end-to-end curation throughput: the full training-data chain
    # (hygiene gates → PII scrub → LM-quantile filter → LSH dedup →
    # sequence packing) over 50k synthesized webtext docs —
    # jobs/curation_pipeline.py's composition, the per-doc price of a
    # curation run rather than any single operator
    from jobs.curation_pipeline import run_curation, synthesize_webtext

    n_cur = 50_000

    def curate() -> None:
        out = run_curation(spark, synthesize_webtext(spark, n_cur), seq_len=2048)
        out["packed"].count()

    curate()  # warm-up
    cur_rate = 0.0
    for _pass in range(2):
        t0 = time.monotonic()
        curate()
        cur_rate = max(cur_rate, round(n_cur / (time.monotonic() - t0), 1))

    spark.stop()
    try:
        calibration = _calibrate(cpus)
    except Exception:
        calibration = None  # never lose the Spark measurements over a burn
    print(json.dumps({
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "kg_pipeline_docs_per_sec": docs_per_sec,
        "kg_docs_per_sec_sustained_200k": sustained,
        "dedup_docs_per_sec_100k": dedup_rate,
        "incremental_dedup_batch_docs_per_sec_10k_vs_100k_state": inc_rate,
        "curation_docs_per_sec_50k": cur_rate,
        # host ceiling measured AFTER spark.stop() in the same process, so
        # the burn never contends with executor threads
        "calibration": calibration,
    }))


if __name__ == "__main__":
    main()

"""CLI mirroring the reference's main user journey (medacy/__main__.py:21-99):

  python -m medacy_spark train    -d DATASET_DIR -f model.pkl
  python -m medacy_spark predict  -d DATASET_DIR -m model.pkl -o OUT_DIR
  python -m medacy_spark validate -d DATASET_DIR [-k FOLDS]

DATASET_DIR is a BRAT directory — paired .txt/.ann files, the reference's
Dataset layout (dataset.py:82-128); doc ids are file basenames. `predict`
writes one .ann per input .txt (the reference's predictions/ output,
model.py:260-270) through sources.corpus.write_brat_dir — a partitioned
executor-side sink (no driver collect), lines in the reference writer's
(start, end) span order. At scale, write the DataFrame that
Model.predict returns as a parquet table instead.
`validate` prints the reference's per-label cross-validation table
(avg/min/max P, R, F1 — model.py:429-441).
"""

from __future__ import annotations

import argparse
import os
import sys


def _dataset(spark, d: str):
    from pyspark.sql import functions as F

    from medacy_spark.operators.annotations import from_ann_lines
    from medacy_spark.sources.corpus import read_text_dir

    docs = read_text_dir(spark, d, "*.txt").select(
        F.col("file_name").alias("doc_id"), "text"
    )
    ann = spark.read.text(f"{d}/*.ann").select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.[a-z]+$", 1).alias("doc_id"),
        F.col("value").alias("line"),
    )
    return docs, from_ann_lines(ann)


def main() -> int:
    p = argparse.ArgumentParser(prog="medacy_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("train", "predict", "validate"):
        sp = sub.add_parser(name)
        sp.add_argument("-d", "--dataset", required=True, help="BRAT directory")
        sp.add_argument("-c", "--custom-pipeline", default=None,
                        help="JSON pipeline spec (tools/json_to_pipeline.py "
                             "surface: learner/tokenizer/window_size/...)")
        sp.add_argument("--cores", type=int, default=None)
    sub.choices["train"].add_argument("-f", "--filename", required=True,
                                      help="model artifact output (.pkl)")
    sub.choices["predict"].add_argument("-m", "--model", required=True)
    sub.choices["predict"].add_argument("-o", "--output", required=True)
    sub.choices["validate"].add_argument("-k", "--folds", type=int, default=5)
    args = p.parse_args()

    from medacy_spark.model import Model
    from medacy_spark.session import get_spark

    pipe = None
    if args.custom_pipeline:
        from medacy_spark.pipeline import json_to_pipeline

        pipe = json_to_pipeline(args.custom_pipeline)

    spark = get_spark(app_name=f"medacy_spark_{args.cmd}", cores=args.cores)

    def make_model():
        return pipe.make_model(spark) if pipe else Model(spark)

    try:
        if args.cmd == "train":
            docs, gold = _dataset(spark, args.dataset)
            if pipe:
                pipe.validate_entities(gold)  # P8, like the reference CLI
            make_model().fit(docs, gold).save(args.filename)
            print(f"model written to {args.filename}")
        elif args.cmd == "predict":
            from medacy_spark.sources.corpus import write_brat_dir

            docs, _ = _dataset(spark, args.dataset)
            tok = pipe.tokenize if pipe else None
            mentions = Model.load(spark, args.model, tokenizer=tok).predict(docs)
            # pass the doc spine: every input doc gets a .ann file, empty
            # for mention-less docs (the reference's one-.ann-per-.txt
            # predict layout). The sink is the single consumer of
            # `mentions`, so no cache is needed; the file count reads the
            # doc spine.
            write_brat_dir(mentions, args.output, documents=docs)
            n = docs.select("doc_id").distinct().count()
            print(f"{n} .ann files written to {args.output}")
        else:  # validate
            docs, gold = _dataset(spark, args.dataset)
            if pipe:
                pipe.validate_entities(gold)
            rows = make_model().cross_validate(docs, gold, args.folds).collect()
            cols = ("label", "avg_precision", "avg_recall", "avg_f1",
                    "min_f1", "max_f1")
            print(",".join(cols))
            for r in rows:
                print(",".join(
                    f"{r[c]:.4f}" if isinstance(r[c], float) else str(r[c])
                    for c in cols
                ))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

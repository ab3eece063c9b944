"""Corpus sources/sinks.

S1 (directory corpus scan, dataset.py:82-128) reads a loose ``.txt``
directory as one row per file; S4 writes predictions as a
reference-shaped directory of ``.ann`` files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_dir(spark: SparkSession, path: str, glob: str = "*.txt") -> DataFrame:
    """Raw-directory corpus scan: one row per file (wholetext), basename as
    doc key — the S1 shape for loose .txt corpora."""
    df = spark.read.text(f"{path}/{glob}", wholetext=True)
    return df.select(
        F.regexp_extract(F.input_file_name(), r"([^/]+)\.[a-z]+$", 1).alias("file_name"),
        F.col("value").alias("text"),
    )


def write_brat_dir(
    mentions: DataFrame,
    out_dir: str,
    documents: DataFrame | None = None,
) -> None:
    """S4: reference-shaped directory sink (one OUT/<doc>.ann per doc,
    model.py:260-270) WITHOUT a driver collect: hash-repartition on the
    doc key so every doc's lines land in one partition, sort within
    partitions by (doc, T-number) — T ids are assigned in the reference
    writer's (start, end) span order by to_ann_lines, so files are
    byte-compatible with a reference-written .ann — and stream files out
    of the executors with foreachPartition.

    When ``documents`` is given, every input doc gets a .ann file — docs
    with no predicted mentions get an EMPTY one, matching the reference's
    one-.ann-per-.txt predict layout (model.py:260-270 writes
    ``str(annotations)`` for every doc). Implemented as a left-join of the
    doc spine against the lines, a zero-length sentinel line standing in
    for "no content" — still no driver collect.

    Local/shared-filesystem sink: on a cluster without a shared mount the
    at-scale sink is the mentions table itself, written as parquet; this is
    the directory-layout convenience the reference CLI journey expects.
    """
    import os

    from medacy_spark.operators.annotations import to_ann_lines

    os.makedirs(out_dir, exist_ok=True)
    lines = to_ann_lines(mentions, "doc_id")
    if documents is not None:
        # full outer: spine-only docs get an empty file AND mentions for
        # docs outside the spine still write (never silently dropped)
        spine = documents.select("doc_id").distinct()
        lines = spine.join(lines, "doc_id", "full_outer").select(
            "doc_id", F.coalesce(F.col("line"), F.lit("")).alias("line")
        )
    t_num = F.regexp_extract("line", r"^T(\d+)\t", 1).cast("int")
    arranged = lines.repartition(F.col("doc_id")).sortWithinPartitions(
        F.col("doc_id"), t_num
    )

    def write_partition(rows) -> None:
        cur: str | None = None
        buf: list[str] = []

        def flush() -> None:
            if cur is not None:
                content = "\n".join(buf) + "\n" if buf != [""] else ""
                with open(os.path.join(out_dir, f"{cur}.ann"), "w") as f:
                    f.write(content)

        for r in rows:
            key = str(r["doc_id"])
            if key != cur:
                flush()
                cur, buf = key, []
            buf.append(r["line"])
        flush()

    arranged.foreachPartition(write_partition)

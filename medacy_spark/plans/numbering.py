"""Global row numbering without a global window.

``row_number() over (order by k)`` with no partition plans a
SinglePartition exchange: every row funnels through one task. This module
gives the same numbering at full parallelism: range-partition on the sort
key, number locally per partition, and add driver-computed per-partition
offsets. The only driver traffic is one count per partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_row_index(df: DataFrame, order_cols: Sequence[str], name: str) -> DataFrame:
    """``df`` plus a long column ``name``: each row's 0-based position in
    the global order by ``order_cols`` — the value of
    ``row_number() over (order by order_cols) - 1``. The order must be
    total (no ties) for the numbering to be deterministic.

    Runs one job (the per-partition counts) when called; the returned
    frame reads a lazy local checkpoint, so every later action sees the
    same range boundaries.
    """
    cols = list(order_cols)
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = (
        df.repartitionByRange(n_parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_pid", F.spark_partition_id())
        # pin the (sampled) range boundaries so the counts pass and the
        # numbering pass see the same partitioning
        .localCheckpoint(eager=False)
    )
    counts = sorted(
        (r["_pid"], r["c"])
        for r in d.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    )
    if not counts:
        return d.select(*df.columns, F.lit(0).cast("long").alias(name))
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_expr = F.element_at(
        F.map_from_arrays(
            F.array(*[F.lit(p) for p in offsets]),
            F.array(*[F.lit(o).cast("long") for o in offsets.values()]),
        ),
        F.col("_pid"),
    )
    wl = Window.partitionBy("_pid").orderBy(*cols)
    return d.select(*df.columns, (off_expr + F.row_number().over(wl) - 1).alias(name))

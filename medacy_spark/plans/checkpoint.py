"""Per-partition checkpointing + lineage/metrics + exact resume (north rule).

The reference's only incrementality is MetaMap cache-skip: re-map only
files whose cached output is missing or < 200 bytes (metamap.py:74-96,
434-443; dataset.py:136-157). Generalized for a partitioned corpus:

  * the corpus is processed in *logical partitions* (e.g. bucket(url) —
    an Iceberg partition in production, a pmod(xxhash64(url), N) bucket
    here);
  * each completed partition has a row in a `metrics` lineage table
    (run_id, partition_id, stage, rows_in, rows_out, wall_ms, status) and
    its output lands under partition_id=... before the metrics row commits
    — metrics-after-data ordering makes the metrics row the commit marker;
  * resume = anti-join the partition list against completed metrics rows,
    recompute only the remainder; outputs are idempotent per (run_id,
    partition_id) — re-running a partition overwrites the same directory
    (dynamic partition overwrite), so crash-between-write-and-mark is safe.

Scale design (the round-1 version looped one Spark job per partition —
O(N) full source scans): all not-yet-committed partitions now run as ONE
pruned job per *batch* (default: a single batch), and the per-partition
metrics ride along that job, so the source is scanned once per batch
regardless of N:

  job 1  filter(partition_id ∈ todo) → stage_fn → one write.partitionBy;
         `DataFrame.observe` counts rows per partition_id on the batch
         input (rows_in) and on the frame being written (rows_out)
  job 2  append the batch's metrics rows (a driver-side local table) as
         one parquet file

plus one metrics read per stage to find the completed partitions. The
returned sink is read with the written frame's schema, so reading it
back runs no schema-inference job.
`batch_size` trades commit granularity against scan count: a crash loses
at most one batch of work (ceil(todo/batch) source scans per stage).
With a real prunable partition column (`partition_col`, an Iceberg
identity/bucket partition in production) job 1 prunes at the file level;
the derived pmod(xxhash64) bucket cannot prune but still scans once.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from medacy_spark.session import local_table

METRICS_SCHEMA = (
    "run_id string, partition_id int, stage string, rows_in long, "
    "rows_out long, wall_ms long, status string"
)


def with_partition_id(df: DataFrame, key_col: str, n_partitions: int) -> DataFrame:
    """Deterministic logical partition id — bucket(url)-style."""
    return df.withColumn(
        "partition_id", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_partitions)).cast("int")
    )


def _path_exists(spark: SparkSession, path: str) -> bool:
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def completed_partitions(spark: SparkSession, metrics_path: str, run_id: str, stage: str) -> list[int]:
    """Partition ids of `stage` committed under `run_id`. A missing metrics
    table means nothing has committed yet; any other read error raises
    (treating it as "nothing committed" would silently rerun everything)."""
    if not _path_exists(spark, metrics_path):
        return []
    rows = (
        spark.read.schema(METRICS_SCHEMA).parquet(metrics_path)
        .filter(
            (F.col("run_id") == run_id)
            & (F.col("stage") == stage)
            & (F.col("status") == "ok")
        )
        .select("partition_id")
        .distinct()
        .collect()
    )
    return sorted(r["partition_id"] for r in rows)


def _partition_counts(batch: list[int]) -> list[Column]:
    """One row-count aggregate per partition id of the batch, for
    `DataFrame.observe` (which takes global aggregates, no grouping)."""
    return [F.count_if(F.col("partition_id") == p).alias(str(p)) for p in batch]


def _observed(obs: Observation) -> dict | None:
    """The metrics of `obs`, or None when its node was optimized out of the
    executed plan: Spark then completes the observation with an empty row,
    which `Observation.get` cannot convert."""
    return obs.get if obs._jo.getRow().length() else None


def run_stage_checkpointed(
    spark: SparkSession,
    source: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    *,
    run_id: str,
    stage: str,
    key_col: str,
    n_partitions: int,
    output_path: str,
    metrics_path: str,
    partition_col: str | None = None,
    batch_size: int | None = None,
) -> DataFrame:
    """Run `stage_fn` over every not-yet-completed logical partition in O(1)
    Spark jobs per batch (default: one batch = all remaining partitions),
    writing output + per-partition metrics; returns the full output
    (completed + new) read back from the sink.

    `stage_fn` receives the pruned source INCLUDING the `partition_id`
    column; if its output drops that column it is re-derived from
    `key_col` (so row-wise stages need no changes as long as they keep the
    key column). The input it receives is observed: rows_in is counted by
    the first action over it, normally the batch write itself.

    Crash-safety: the batch write lands before the batch's metrics append;
    a crash between them re-runs those partitions into the same directories
    (a dynamic partitionOverwriteMode writer option, so the session conf
    is left untouched) — idempotent. A crash mid-batch loses at most
    `batch_size` partitions of work, never committed ones.
    """
    if partition_col is not None:
        parts = source.withColumn("partition_id", F.col(partition_col).cast("int"))
    else:
        parts = with_partition_id(source, key_col, n_partitions)
    done = set(completed_partitions(spark, metrics_path, run_id, stage))
    todo = [p for p in range(n_partitions) if p not in done]
    step = max(1, len(todo)) if batch_size is None else max(1, batch_size)
    written = None  # schema of the frames written by this call
    for i in range(0, len(todo), step):
        batch = todo[i : i + step]
        t0 = time.monotonic()
        chunk = parts.filter(F.col("partition_id").isin(batch))
        seen_in, seen_out = Observation(), Observation()
        out = stage_fn(chunk.observe(seen_in, *_partition_counts(batch)))
        if "partition_id" not in out.columns:
            if key_col not in out.columns:
                raise ValueError(
                    "stage_fn must preserve either partition_id or "
                    f"{key_col!r} so output rows can be re-partitioned"
                )
            out = with_partition_id(out.drop("partition_id"), key_col, n_partitions)
        (
            out.observe(seen_out, *_partition_counts(batch))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(output_path)
        )
        written = out.schema
        rows_in = _observed(seen_in)
        if rows_in is None:
            # the optimizer removed stage_fn's read of its input (e.g. a
            # join with an empty relation), so nothing was observed there
            rows_in = chunk.agg(*_partition_counts(batch)).first().asDict()
        rows_out = _observed(seen_out)
        wall_ms = int((time.monotonic() - t0) * 1000)
        metrics_rows = [
            (run_id, pid, stage, rows_in[str(pid)], rows_out[str(pid)], wall_ms, "ok")
            for pid in batch
        ]
        # one file per batch: every later completed_partitions lists and
        # opens each metrics file
        local_table(spark, metrics_rows, METRICS_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(metrics_path)
    if written is None:  # no batch ran: infer the schema from the sink
        return spark.read.parquet(output_path)
    # the sink's layout: the data columns, then the partition column
    schema = StructType(
        [f for f in written.fields if f.name != "partition_id"]
        + [StructField("partition_id", IntegerType())]
    )
    return spark.read.schema(schema).parquet(output_path)

"""Structured-Streaming variant of the incremental pipeline.

The reference has zero streaming operators (SURVEY.md §2.9): its only
incremental behavior is cache-skip + corrupt-retry. The batch-incremental
path (plans/checkpoint.py) is the faithful mapping; this module is the
extension for a continuously-arriving corpus: a file/parquet stream of new
documents → the same detection/extraction stages → foreachBatch append of
mentions/triples, with Spark's checkpointLocation providing exactly-once
per micro-batch.

The stage functions are the *same* DataFrame transformations as batch —
the pipeline is stream-static by construction (per-document windows only,
no cross-document state), so it is trivially streamable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def stream_documents(
    spark: SparkSession, input_path: str, schema: str
) -> DataFrame:
    """readStream over a growing parquet directory of documents."""
    return spark.readStream.schema(schema).parquet(input_path)


def _write_batch(out: DataFrame, output_path: str, batch_id: int) -> None:
    """Idempotent micro-batch sink: each batch owns the hive-style
    directory ``{output_path}/batch={batch_id}`` and OVERWRITES it.

    foreachBatch is at-least-once — a failure between the parquet write
    and the streaming-checkpoint commit replays the batch on restart. A
    blind ``mode('append')`` to a shared directory would double-write the
    replayed batch; keying the write on batch_id makes the replay rewrite
    the same directory instead (and a partially-written first attempt is
    replaced wholesale), so the observable log is exactly-once. Readers
    see ``batch`` as a discovered partition column, which the fold/select
    paths ignore."""
    out.write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")


def _start_available_now(
    stream_df: DataFrame,
    process: Callable[[DataFrame, int], None],
    checkpoint_path: str,
) -> StreamingQuery:
    """Start ``process`` as the foreachBatch sink over everything the
    stream has now (availableNow), tracked by ``checkpoint_path``."""
    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def run_incremental(
    stream_df: DataFrame,
    stage_fn: Callable[[DataFrame], DataFrame],
    output_path: str,
    checkpoint_path: str,
) -> StreamingQuery:
    """Apply the batch stage function per micro-batch and append results.

    foreachBatch gives batch semantics inside the stream: stage_fn may use
    windows/joins/aggregations exactly as in batch mode. Exactly-once at
    the sink via the batch_id-keyed idempotent write (`_write_batch`) on
    top of the checkpointLocation's replay tracking.

    Additive-state incremental aggregation is the same call: when
    ``stage_fn`` maps a micro-batch to a KEYED COUNT relation, each batch
    appends its partials and `merged_counts` folds the log at read time.
    Because counts form a commutative monoid, append+fold equals the
    whole-corpus recompute EXACTLY — provided the unit stage_fn
    aggregates over (the document) never straddles batches, which a file
    stream guarantees for row-per-document corpora. This is the streaming
    shape for corpus-scale statistics that are sums in disguise:
    co-occurrence counts (embeddings_train), token/vocab frequencies,
    n-gram tables. The batch_id-keyed overwrite makes a replayed batch
    rewrite rather than double-count; a rerun with no new input appends
    nothing (both gated in test_streaming_incremental).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(stage_fn(batch_df), output_path, batch_id)

    return _start_available_now(stream_df, process, checkpoint_path)


def run_incremental_packing(
    stream_df: DataFrame,
    seq_len: int,
    *,
    output_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    eos: bool = True,
    bucket_width: int = 1_000_000,
) -> StreamingQuery:
    """Streaming sequence packing over a growing corpus: each micro-batch
    extends the packed token stream exactly where the accepted stream
    ended (mid-window included) — no recompute of prior batches' maps.

    The additive state is a single scalar per batch (the batch's token +
    EOS total, ``{output}/totals``); a new batch's map is
    ``pack_sequences(batch, base_offset=sum(prior totals))``.  Both
    sinks are batch_id-keyed overwrites and the state read excludes
    batches >= the current id, so an at-least-once replay rewrites the
    same partitions byte-identically.  Stream order defines the packing
    order BY DESIGN (like every streaming concat); when batches arrive
    in ``id_col`` order the result equals the whole-corpus
    :func:`~medacy_spark.operators.packing.pack_sequences` EXACTLY
    (gated in test_packing)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, StructField, StructType

    from medacy_spark.operators.packing import pack_sequences
    from medacy_spark.session import local_table

    spark = stream_df.sparkSession
    empty = local_table(
        spark, [], StructType([StructField("n_stream_tokens", LongType())])
    )
    _write_batch(empty, f"{output_path}/totals", -1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        base = (
            s.read.parquet(f"{output_path}/totals")
            .filter(F.col("batch") < batch_id)
            .agg(F.coalesce(F.sum("n_stream_tokens"), F.lit(0)))
            .collect()[0][0]  # one scalar per batch — the whole state
        )
        packed = pack_sequences(
            batch_df, seq_len, id_col=id_col, text_col=text_col,
            eos=eos, bucket_width=bucket_width, base_offset=int(base),
        )
        _write_batch(packed, f"{output_path}/packed", batch_id)
        step = F.size(F.split(F.col(text_col), " ")) + (
            F.lit(1) if eos else F.lit(0)
        )
        tot = batch_df.agg(
            F.coalesce(F.sum(step), F.lit(0)).cast("long").alias("n_stream_tokens")
        )
        _write_batch(tot, f"{output_path}/totals", batch_id)

    return _start_available_now(stream_df, process, checkpoint_path)


def run_incremental_dedup(
    stream_df: DataFrame,
    state_path: str,
    survivors_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    **dedup_kw,
) -> StreamingQuery:
    """Streaming near-dup removal over a growing corpus — the additive-
    state shape of ``run_incremental``'s counts applied to dedup: the
    persisted band-bucket relation (``state_path``) only ever APPENDS,
    and each micro-batch LSH-dedups against the accepted corpus via a
    band equi-join on it, so there is NO full-corpus recompute per batch
    (dedup.dedup_batch_against_state has the semantics and the scale
    shape). Two sinks per batch: accepted documents (``survivors_path``)
    and their band rows (``state_path``).

    Exactly-once: both sinks are batch_id-keyed idempotent writes
    (`_write_batch`), and the state read EXCLUDES the current batch's
    own partition — an at-least-once replay that crashed between the
    state write and the checkpoint commit therefore recomputes from
    exactly the state the first attempt saw, then overwrites both
    partitions wholesale. Survivor determinism across a kill-and-resume
    is gated in test_streaming_incremental.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from medacy_spark.operators.dedup import dedup_batch_against_state
    from medacy_spark.session import local_table

    # bootstrap an empty state partition so the first batch's read
    # resolves (batch=-1 sorts before every real batch id); idempotent
    spark = stream_df.sparkSession
    id_type = stream_df.schema[id_col].dataType
    empty_state = local_table(spark, [], StructType([
        StructField("id", id_type),
        StructField("band", IntegerType()),
        StructField("bucket", StringType()),
    ]))
    _write_batch(empty_state, state_path, -1)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        state = (
            s.read.parquet(state_path)
            .filter(F.col("batch") < batch_id)
            .select("id", "band", "bucket")
        )
        survivors, new_state = dedup_batch_against_state(
            batch_df, state, id_col=id_col, **dedup_kw
        )
        # survivors is lazily checkpointed inside the operator: the first
        # write materializes it, the state sink reuses the checkpoint
        _write_batch(survivors, survivors_path, batch_id)
        _write_batch(new_state, state_path, batch_id)

    return _start_available_now(stream_df, process, checkpoint_path)


def compact_state(spark: SparkSession, state_path: str) -> int:
    """Offline maintenance for an additive batch-keyed log (the band-
    bucket dedup state, or any `_write_batch` sink): fold every batch
    partition STRICTLY OLDER than the newest into one partition
    (``batch = max - 1``), keeping the newest batch's own partition.
    Long-running ingest otherwise accumulates one directory (and its
    files) per micro-batch — the classic small-files problem; at
    production scale this runs on a schedule like any table compaction.
    Returns the batch id the older partitions were folded into.

    Run with the stream STOPPED. Why the newest partition is NEVER
    folded into: the stream may have died BETWEEN the sink writes and
    the streaming-checkpoint commit, in which case the newest batch id
    N will REPLAY on resume — its state read filters ``batch < N`` and
    its sinks overwrite ``batch=N``. Folding history into batch=N would
    make that replay (a) see an empty state and (b) overwrite the
    folded history, silently destroying the whole accepted corpus. Every
    batch strictly below the newest is committed by monotonicity, so
    folding THOSE into ``max-1`` is invisible to any future or replayed
    read.

    Crash safety: the rewrite stages through a sibling ``__compacting``
    directory and swaps via two renames. Leftovers from a previous
    crashed compaction are handled UP FRONT — a state moved aside but
    never replaced (crash between the renames) is restored from
    ``__old``, and stale staging/trash dirs are deleted before any
    write (stale staged partitions would otherwise be swapped into the
    live state and double-count band collisions). The residual window
    is the instant between the two renames; a hard kill there is
    repaired by the restore-on-next-run path, not lost.
    """
    from pyspark.sql import functions as F

    # recover/clean leftovers from a previously crashed compaction
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path
    old = hpath(state_path)
    staging_p = hpath(state_path.rstrip("/") + "__compacting")
    trash_p = hpath(state_path.rstrip("/") + "__old")
    fs = old.getFileSystem(hconf)
    if not fs.exists(old) and fs.exists(trash_p):
        # crashed between the two renames: restore the moved-aside state
        if not fs.rename(trash_p, old):
            raise IOError(f"compact_state: could not restore {state_path}")
    fs.delete(staging_p, True)
    fs.delete(trash_p, True)

    df = spark.read.parquet(state_path)
    max_batch = df.agg(F.max("batch")).collect()[0][0]
    if max_batch is None:
        return -1
    target = int(max_batch) - 1
    staging = state_path.rstrip("/") + "__compacting"
    (
        df.filter(F.col("batch") < max_batch)
        .drop("batch")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(f"{staging}/batch={target}")
    )
    (
        df.filter(F.col("batch") == max_batch)
        .drop("batch")
        .write.mode("overwrite")
        .parquet(f"{staging}/batch={max_batch}")
    )
    # two-rename swap via the Hadoop FS API (portable: local, HDFS,
    # object stores with rename support); the crash window between the
    # renames is repaired by the restore-on-next-run path above
    if not fs.rename(old, trash_p):
        raise IOError(f"compact_state: could not move {state_path} aside")
    if not fs.rename(staging_p, old):
        # roll back so the state stays readable
        fs.rename(trash_p, old)
        raise IOError(f"compact_state: could not swap staging into place")
    fs.delete(trash_p, True)
    return target


def merged_counts(
    spark: SparkSession,
    output_path: str,
    key_cols: tuple[str, ...],
    value_col: str = "n",
) -> DataFrame:
    """Fold the appended partial-count log: sum per key. One
    map-side-combined aggregation over the partials — reading N batches'
    partials costs the same shuffle as one batch's, because the log is
    already keyed and pre-aggregated per batch."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(output_path)
        .groupBy(*key_cols)
        .agg(F.sum(value_col).cast("bigint").alias(value_col))
    )

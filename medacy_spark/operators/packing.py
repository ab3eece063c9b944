"""Sequence packing: concatenate a document stream into fixed-length
training context windows (GPT-style concat-and-chunk).

LLM pretraining does not feed documents one per sequence — it
concatenates the tokenized corpus (an EOS separator between docs) into
one logical token stream and slices it into fixed ``seq_len`` windows,
so no context is wasted on padding.  The packing MAP — which tokens of
which doc land in which sequence — is what a training-data pipeline
materializes (attention-mask construction, provenance, replaying a run).
The reference has no analogue (it never trains LMs); this sits next to
dedup/decontam in the beyond-reference training-pipeline surface.

Semantics (fully deterministic, replayed by the ``sequence_packing``
oracle): docs ordered by ``doc_id``; doc d occupies global token span
``[offset_d, offset_d + n_tok_d)`` where ``offset_d`` is the running sum
of previous docs' ``n_tok + 1`` (one EOS slot each); sequence ``s`` owns
span ``[s*seq_len, (s+1)*seq_len)``.  Output: one row per (doc, seq)
overlap with the slice coordinates on both axes.  EOS positions belong
to no doc (they are the gaps between doc spans).

Scale shape (100 TB): the global prefix sum is the textbook two-level
split — an in-bucket window cumsum (Exchange on the bucket key only)
plus a bucket-total rollup whose own cumsum runs on a BUCKET-COUNT-sized
relation (thousands of rows at 100 TB for a sane ``bucket_width``) and
is broadcast back.  No global SinglePartition window ever sees row-scale
data.  ``bucket = floor(id / bucket_width)`` is monotone in the order
key regardless of id sparsity, so bucket-local order + bucket order
composes to the exact global order; a bucket holds at most
``bucket_width`` docs (fewer under sparse ids), which bounds the sort
partition.  The (doc → seq) fan-out is ``n_tok/seq_len + 1`` rows per
doc — a narrow generate+explode, no join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from medacy_spark.session import aqe_off


def doc_token_offsets(
    docs: DataFrame,
    *,
    bucket_width: int = 1_000_000,
) -> DataFrame:
    """(doc_id, n_tok, offset): each doc's whitespace token count and its
    exclusive prefix sum in ``doc_id`` order (+1 EOS slot after every
    doc).  The distributed prefix sum described in the module
    docstring; exact integer arithmetic end to end."""
    step = F.col("n_tok") + F.lit(1)
    base = docs.select(
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
        F.floor(F.col("doc_id") / F.lit(int(bucket_width))).alias("_bkt"),
    )
    in_bucket = Window.partitionBy("_bkt").orderBy("doc_id")
    # `local` feeds BOTH the bucket rollup and the final join — checkpoint
    # it so the corpus is scanned/tokenized exactly once, and capture the
    # checkpoint AQE-off so its hashpartitioning(_bkt) layout is reported
    # to consumers (under AQE a LogicalRDD reports Unknown and the rollup
    # re-exchanges; BENCH.md "one-exchange iteration plan")
    with aqe_off(docs.sparkSession):
        local = base.withColumn(
            "_local_end", F.sum(step).over(in_bucket)  # inclusive, in-bucket
        ).localCheckpoint(eager=False)
    # bucket-count-scale relation: per-bucket totals (the max inclusive
    # in-bucket cumsum IS the bucket total — integer-exact) + their
    # exclusive prefix sum; rides the checkpoint's _bkt layout
    totals = local.groupBy("_bkt").agg(F.max("_local_end").alias("_tot"))
    bucket_order = Window.orderBy("_bkt")  # bucket-count rows only
    starts = totals.select(
        "_bkt",
        (F.coalesce(F.sum("_tot").over(bucket_order), F.lit(0)) - F.col("_tot")).alias(
            "_bkt_start"
        ),
    )
    return local.join(F.broadcast(starts), "_bkt").select(
        "doc_id",
        "n_tok",
        (F.col("_bkt_start") + F.col("_local_end") - step).alias("offset"),
    )


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    *,
    bucket_width: int = 1_000_000,
) -> DataFrame:
    """The packing map: one row per (sequence, document) overlap.

    Columns: ``seq_id`` (0-based window index), ``doc_id``,
    ``start_in_seq`` (token position inside the window where the doc
    slice begins), ``start_in_doc`` (first doc token in the slice) and
    ``n_tokens`` (slice length).  Zero-token docs emit nothing but still
    advance the stream by their EOS slot.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    off = doc_token_offsets(
        docs,
        bucket_width=bucket_width,
    )
    L = F.lit(int(seq_len))
    end = F.col("offset") + F.col("n_tok")  # exclusive
    seqs = F.when(
        F.col("n_tok") > 0,
        F.sequence(F.floor(F.col("offset") / L), F.floor((end - 1) / L)),
    )
    exploded = off.select(
        "doc_id", "n_tok", "offset", F.explode(seqs).alias("seq_id")
    )
    slice_start = F.greatest(F.col("offset"), F.col("seq_id") * L)
    slice_end = F.least(end, (F.col("seq_id") + 1) * L)
    return exploded.select(
        "seq_id",
        "doc_id",
        (slice_start - F.col("seq_id") * L).alias("start_in_seq"),
        (slice_start - F.col("offset")).alias("start_in_doc"),
        (slice_end - slice_start).alias("n_tokens"),
    )


def packing_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-sequence rollup of a :func:`pack_sequences` map: number of doc
    slices, non-EOS token fill, and fill fraction.  One map-side-combined
    groupBy on seq_id."""
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_slices"),
        F.sum("n_tokens").alias("n_doc_tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(seq_len)), 9).alias("fill_frac"),
    )

"""Corpus-level boilerplate line removal (CCNet / RefinedWeb style).

Web crawl text carries near-identical navigation/footer/banner lines
("subscribe to our newsletter", cookie notices) repeated across many
pages of a host.  The standard curation pass removes every line whose
exact trimmed form occurs in at least ``min_docs`` distinct documents
(CCNet deduplicates paragraphs by hash across shards; Gopher/RefinedWeb
filter repeated lines the same way).  Not in the reference — it assumes
curated clinical text — but a first-class need for the webtext tier.

Semantics (replayed verbatim by the ``boilerplate_removal`` oracle):

- lines are ``split(text, '\\n')``; order and non-candidate lines
  (including empties) are preserved verbatim in the output.
- a line is a *candidate* iff ``length(trim(line)) >= min_line_chars``;
  its key is the TRIMMED form (leading/trailing whitespace variants of
  the same banner collapse; the untrimmed original is what gets removed
  from the doc).
- a candidate is *boilerplate* iff its key occurs in ``>= min_docs``
  distinct documents.
- ``clean_text`` re-joins the surviving lines with ``'\\n'`` in original
  order; ``chars_removed = length(text) - length(clean_text)`` (the
  removed lines plus their separators).

Scale shape (100 TB): two scans of the source — pass 1 aggregates line
keys to doc frequencies (two-level: distinct (key, doc) map-side, then
a map-side-combinable count), pass 2 re-derives the line relation and
joins the SMALL aggregated boilerplate set back.  Only the aggregate is
checkpointed; the exploded line relation is never cached or reused
across a lineage branch (it re-derives from the deterministic source —
see detect_mentions' single-pass docstring for the invariant).  The
boilerplate relation is corpus-derived and therefore unbounded: the
broadcast hint follows the counted-threshold discipline
(``graph.materialize_nodes_edges``) with a shuffle equi-join fallback.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _line_key(line: Column, key_hash: str | None) -> Column:
    """Join key for a trimmed line: xxhash64 (8-byte shuffle keys) in
    production, or the raw string when ``key_hash=None`` (portable mode —
    the DuckDB oracle compares strings, so the contract query runs
    exact)."""
    t = F.trim(line)
    if key_hash is None:
        return t
    if key_hash == "xxhash64":
        return F.xxhash64(t)
    if key_hash == "md5":
        return F.md5(t)
    raise ValueError(f"unknown key_hash {key_hash!r}")


def _lines(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    )


def boilerplate_line_keys(
    docs: DataFrame,
    min_docs: int = 5,
    min_line_chars: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    key_hash: str | None = "xxhash64",
) -> DataFrame:
    """Keys of lines occurring in >= min_docs distinct docs: one column
    ``_lk``.  Distinct (key, doc) collapses a doc's repeats map-side
    before the exchange; the doc-frequency count is then a plain
    map-side-combinable groupBy."""
    cand = (
        _lines(docs, id_col, text_col)
        .filter(F.length(F.trim(F.col("_line"))) >= min_line_chars)
        .select(_line_key(F.col("_line"), key_hash).alias("_lk"), "_id")
        .distinct()
    )
    return (
        cand.groupBy("_lk")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("_lk")
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 5,
    min_line_chars: int = 8,
    key_hash: str | None = "xxhash64",
    broadcast_max_lines: int = 2_000_000,
) -> DataFrame:
    """Strip corpus-frequent lines from every document.

    Returns one row per input doc: ``(id_col, n_lines, n_boiler,
    clean_text, chars_removed, frac_chars_removed)``.
    """
    boiler = boilerplate_line_keys(
        docs, min_docs, min_line_chars, "doc_id", "text", key_hash
    ).localCheckpoint()
    # counted-threshold broadcast: the boilerplate set is corpus-derived
    # (unbounded at web scale) — never force a broadcast above the cap
    boiler_rel = (
        F.broadcast(boiler) if boiler.count() <= broadcast_max_lines else boiler
    )

    lines = _lines(docs, "doc_id", "text")
    cand_key = F.when(
        F.length(F.trim(F.col("_line"))) >= min_line_chars,
        _line_key(F.col("_line"), key_hash),
    )
    tagged = (
        lines.withColumn("_lk", cand_key)
        .join(boiler_rel.withColumn("_hit", F.lit(1)), "_lk", "left")
    )
    # collect_list skips nulls: the conditional struct collects exactly
    # the surviving lines; array_sort restores original order (pos first
    # in the struct), making the agg insensitive to shuffle arrival order
    kept = F.array_sort(
        F.collect_list(
            F.when(F.col("_hit").isNull(), F.struct("_pos", "_line"))
        )
    )
    out = tagged.groupBy(F.col("_id").alias("doc_id")).agg(
        F.count("*").alias("n_lines"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_boiler"),
        F.array_join(
            F.transform(kept, lambda s: s["_line"]), "\n"
        ).alias("clean_text"),
        # original length reconstructed from the parts: sum of line
        # lengths + (n_lines - 1) separators == length(text) exactly,
        # so no second join back to the source is needed
        (F.sum(F.length("_line")) + F.count("*") - 1).alias("_orig_len"),
    )
    removed = F.col("_orig_len") - F.length("clean_text")
    return out.select(
        "doc_id",
        "n_lines",
        "n_boiler",
        "clean_text",
        removed.alias("chars_removed"),
        F.when(F.col("_orig_len") > 0, removed / F.col("_orig_len"))
        .otherwise(F.lit(0.0))
        .alias("frac_chars_removed"),
    )

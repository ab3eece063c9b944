"""Deterministic sampling for training-data curation.

Random sampling is how training mixtures are actually built (per-source
quotas, per-language balancing, held-out carve-outs), but `rand()` is
run-dependent — useless for a pipeline whose outputs must be
reproducible and resumable (north rule: byte-identical reruns). Both
operators here key the randomness on a CONTENT-DERIVED hash (md5 of the
id), so the same corpus always yields the same sample, any engine can
replay the selection (md5 is md5 everywhere), and re-running after a
resume cannot rotate the sample.

Scale shapes:
- ``hash_sample``: pure filter — zero shuffles, fully pushdown-friendly.
- ``stratified_sample``: top-k per stratum by hash order — one
  distributed sort per stratum partition (sort-based window, streams;
  no per-group materialization). The reference's stratified fold
  assignment (ref ``_model.py`` stratification over tag counts) is the
  same per-class balancing idea; here it is corpus-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from medacy_spark.session import local_table


def _hex_threshold(fraction: float) -> str:
    """32-hex-digit string threshold such that a uniformly distributed
    md5 hex digest compares `< threshold` with probability ~fraction."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    scaled = int(fraction * (1 << 128))
    if scaled >= 1 << 128:
        return "g" * 32  # every hex digest sorts below this
    return format(scaled, "032x")


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ~``fraction`` of rows, deterministically: md5(salt || id) as
    a 32-hex string compared against a precomputed hex threshold.
    String comparison over lowercase hex is total-order identical in
    every engine, so the selection replays exactly in SQL. Different
    ``salt`` values give independent samples (e.g. train vs holdout).

    Plan: a single Filter — no shuffle, no UDF; survives predicate
    pushdown ordering because it is deterministic per row.
    """
    thr = _hex_threshold(fraction)
    digest = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    return df.filter(digest < F.lit(thr))


def upsample_sources(
    df: DataFrame,
    weights: dict[str, float],
) -> DataFrame:
    """'Epochs per source' mixture construction (the public LLaMA-style
    data recipe: some sources repeated ~2x, others downsampled): each
    row from source ``s`` emits ``floor(w_s)`` copies plus one more
    with probability ``frac(w_s)``, decided by md5(id) against
    a per-source hex threshold — fully deterministic and engine-
    portable (the thresholds are driver-computed constants, so any SQL
    engine replays the selection). Sources absent from ``weights`` are
    dropped (weight 0). Adds ``copy_id`` (1-based).

    Plan: broadcast join against the weight dim (bounded by the number
    of sources) + a narrow sequence-explode — no shuffle of the corpus.
    """
    rows = [
        (s, float(w), int(w), _hex_threshold(float(w) - int(w)))
        for s, w in sorted(weights.items())
    ]
    wdf = local_table(
        df.sparkSession, rows, "source string, _w double, _whole int, _thr string"
    )
    digest = F.md5(F.concat(F.lit(""), F.col("doc_id").cast("string")))
    n_copies = F.col("_whole") + F.when(digest < F.col("_thr"), 1).otherwise(0)
    out = (
        df.join(F.broadcast(wdf), "source")
        .withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("copy_id", F.explode(F.sequence(F.lit(1), F.col("_n"))))
    )
    return out.drop("_w", "_whole", "_thr", "_n")


def stratified_sample(
    df: DataFrame,
    strata: str | list[str],
    n_per_stratum: int,
    id_col: str,
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (fewer if the stratum
    is smaller), chosen by md5-hash order — a deterministic uniform
    draw without replacement. Adds ``sample_rank`` (1-based rank inside
    the stratum).

    Plan: one Exchange on the strata columns + one sort; the window
    rank streams through the sort (no group materialization), so a hot
    stratum costs one big sorted partition, not memory.
    """
    strata_cols = [strata] if isinstance(strata, str) else list(strata)
    digest = F.md5(F.concat(F.lit(""), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols).orderBy(digest.asc(), F.col(id_col).asc())
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= int(n_per_stratum))
    )

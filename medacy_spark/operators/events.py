"""Temporal operators over event streams: sessionization + as-of join.

A training-data pipeline over web crawl carries event-shaped sidecars
(fetch logs, interaction telemetry, per-url revision histories). Two
operators Spark's DataFrame API lacks as primitives:

- ``sessionize``: gap-based session assignment (gaps-and-islands). The
  reference's closest analogue is sentence segmentation — grouping a
  token stream into bounded runs (ref ``clinical_tokenizer.py`` via the
  spaCy Sentencizer); this is the same operation over timestamps.
- ``asof_join``: match each left row to the nearest right row at-or-
  before its timestamp per key — pandas ``merge_asof`` backward
  semantics, which Spark has no built-in for.

Both are built on ONE hash-partitioned window pass — no range join, no
cartesian, no per-row UDF — so the 100-TB plan is a single shuffle on
the entity key. The classic naive as-of (theta-join on ``l.ts >= r.ts``
then argmax) explodes quadratically per key; the union-tagged-stream
formulation here is linear and sort-based.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _micros(c: F.Column) -> F.Column:
    """Epoch microseconds. TIMESTAMP_NTZ is interpreted as UTC via the
    cast (the session timezone is pinned to UTC in session.get_spark),
    matching DuckDB's epoch_us over naive timestamps; a zoned TIMESTAMP
    passes through the cast unchanged."""
    return F.unix_micros(c.cast("timestamp"))


def sessionize(
    events: DataFrame,
    key: str = "user_id",
    ts: str = "ts",
    seq: str = "event_id",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign gap-based sessions per key: a new session starts when the
    time since the previous event of the same key exceeds
    ``gap_seconds``. Returns the input columns plus ``is_session_start``
    (int 0/1) and ``session_seq`` (1-based per-key session number).

    Ordering inside a key is (ts, seq) — ``seq`` breaks timestamp ties
    deterministically. Gap arithmetic is integer microseconds
    (``unix_micros``), so the same comparison replays exactly in any
    engine with epoch-microsecond timestamps (no float time math).

    Plan shape: both window functions (the lag flag and the running
    sum) share one partitioning+ordering, so the whole operator is a
    single Exchange on ``key`` followed by one sort — gate-pinned in
    test_plans. Per-key data streams through the sort; no per-key state
    beyond the window frame.
    """
    w = Window.partitionBy(key).orderBy(ts, seq)
    gap_us = int(gap_seconds) * 1_000_000
    tus = _micros(F.col(ts))
    prev = F.lag(tus).over(w)
    flagged = events.withColumn(
        "is_session_start",
        F.when(prev.isNull() | ((tus - prev) > F.lit(gap_us)), 1).otherwise(0),
    )
    run = Window.partitionBy(key).orderBy(ts, seq).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return flagged.withColumn("session_seq", F.sum("is_session_start").over(run))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    right_payload: list[str] | None = None,
    right_seq: str | None = None,
) -> DataFrame:
    """Left as-of join on ``ts``: every ``left`` row, plus the payload of
    the single nearest ``right`` row per key at-or-before the left
    timestamp (pandas ``merge_asof`` backward semantics with exact
    matches allowed; left-join null when no match).

    Implementation is the union-tagged-stream trick: tag right rows
    side=0 and left rows side=1, union, and take
    ``last(right_payload, ignorenulls=True)`` over a per-key window
    ordered by (ts, side, right_seq) across the preceding frame. An
    exact-ts right row sorts before the left row, so it is inside the
    frame; the operator is ONE shuffle on the key regardless of data
    volume, with no range predicate for the optimizer to mis-plan into a
    cartesian.

    ``right_seq`` (a right-side column) breaks ties among right rows
    sharing (key, ts): the greatest wins. Without it, equal-(key, ts)
    right rows are tie-ambiguous — pre-dedupe the right side if that
    matters.

    Output: all left columns, then ``ts_r`` and each ``right_payload``
    column as ``{name}_r``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    right_payload = list(right_payload or [])
    payload_cols = [F.col("ts").alias("ts_r")] + [
        F.col(c).alias(f"{c}_r") for c in right_payload
    ]

    # right-side tie-break: the greatest seq sorts last inside the
    # preceding frame
    rseq = F.col(right_seq) if right_seq else F.lit(0)
    r2 = right.select(
        *[F.col(k) for k in keys],
        F.col("ts").alias("_t"),
        F.lit(0).alias("_side"),
        rseq.cast("long").alias("_rseq"),
        F.struct(*payload_cols).alias("_rp"),
    )
    l2 = left.select(
        *[F.col(k) for k in keys],
        F.col("ts").alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lp"),
    )
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = Window.partitionBy(*keys).orderBy(
        F.col("_t").asc(), F.col("_side").asc(), "_rseq"
    )
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    matched = F.last("_rp", ignorenulls=True).over(frame)
    out = u.withColumn("_m", matched).filter(F.col("_side") == 1)
    return out.select(
        "_lp.*",
        *[F.col("_m")[f"{c}_r"].alias(f"{c}_r") for c in ["ts", *right_payload]],
    )

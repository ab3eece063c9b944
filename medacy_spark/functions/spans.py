"""Span arithmetic — the expression core of the annotation algebra.

These mirror the scalar span math of the reference:
  * overlap length  ``max(0, min(end, c_end) - max(start, c_start))``
    (medacy/data/annotations.py:191)
  * leniency window ``w = ceil(leniency * (end - start))``
    (medacy/data/annotations.py:138)
  * lenient containment ``g.start - w <= c.start AND g.end + w >= c.end``
    (medacy/data/annotations.py:135-145)
  * lenient entity equality: same tag AND windows overlap
    (medacy/tools/entity.py:112-133)

All are pure column expressions → whole-stage codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def overlap_len(s1: Column, e1: Column, s2: Column, e2: Column) -> Column:
    """Character overlap of [s1,e1) and [s2,e2); 0 when disjoint."""
    return F.greatest(F.lit(0), F.least(e1, e2) - F.greatest(s1, s2))


def leniency_window(start: Column, end: Column, leniency: float) -> Column:
    """w = ceil(leniency * span_length) — annotations.py:138."""
    return F.ceil(F.lit(float(leniency)) * (end - start)).cast("long")


def lenient_contains(
    g_start: Column, g_end: Column, c_start: Column, c_end: Column, leniency: float
) -> Column:
    """Candidate span within the gold span widened by w (annotations.py:140-144)."""
    w = leniency_window(g_start, g_end, leniency)
    return (g_start - w <= c_start) & (g_end + w >= c_end)

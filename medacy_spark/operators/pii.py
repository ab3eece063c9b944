"""PII detection and redaction signals over web text.

A crawl-scale training-data pipeline scrubs personally identifiable
information before anything downstream sees the text (the reference's
clinical inputs are pre-de-identified n2c2 releases — at web scale the
de-identification step IS the pipeline's job). Patterns are deliberately
restricted to syntax valid in BOTH Java regex and RE2 (no lookaround, no
backreferences) so the DuckDB oracle replays them verbatim; both engines
count leftmost non-overlapping matches.

Everything is pure column arithmetic (`regexp_count` / `regexp_replace`)
— wholly JVM-side, codegen'd, zero shuffles, trivially partitionable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Ordered: redaction applies top-to-bottom, so e.g. the digits inside an
# already-redacted email can't re-match the phone pattern.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
]


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its typed placeholder, applying the
    pattern list in order (email before ipv4/phone/ssn: the host part of
    an email must not survive as a fake IP/phone fragment)."""
    out = text
    for _, pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def pii_signals(df: DataFrame) -> DataFrame:
    """One row per doc: per-category match counts, a total, a boolean
    flag, and the redacted text — the columns a filter/scrub stage keys
    on. Pure projection; no shuffle."""
    t = F.col("text")
    counts = {
        f"n_{name}": F.regexp_count(t, F.lit(pattern))
        for name, pattern, _ in PII_PATTERNS
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    return df.select(
        "doc_id",
        *[c.alias(n) for n, c in counts.items()],
        total.alias("n_pii"),
        (total > 0).alias("has_pii"),
        redact_pii(t).alias("redacted"),
    )

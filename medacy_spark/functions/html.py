"""HTML wrap / byte-identical text extraction.

The north-rule input table carries ``html: binary`` and ``text: string`` with
the invariant that our extractor recovers ``text`` byte-identically from
``html`` (BASELINE.json input_hint). The reference has no HTML stage — its
unit of input is a raw ``.txt`` file (medacy/data/dataset.py:101-128) — so
this pair is defined by *our* engine.

Escaping is the minimal XML triple (& < >), chosen so that
``extract(wrap(text)) == text`` holds for **every** string, exactly.

Two implementations of extract:
  * ``extract_text_expr`` — pure Spark column expression (JVM-side,
    whole-stage-codegen'd) — the hot path for our own wrapper format.
  * ``extract_text_udf`` — Arrow-batched pandas UDF — the general path a
    real Common-Crawl WARC corpus would use (tag stripping); behaviorally
    identical on wrapper-format pages.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


_PRE = '<html><head><meta charset="utf-8"></head><body><p>'
_POST = "</p></body></html>"


def escape_expr(text: Column) -> Column:
    """XML-escape & < > (order matters: & first)."""
    c = F.regexp_replace(text, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


def unescape_expr(text: Column) -> Column:
    """Exact inverse of escape_expr (reverse order: & last)."""
    c = F.regexp_replace(text, "&gt;", ">")
    c = F.regexp_replace(c, "&lt;", "<")
    return F.regexp_replace(c, "&amp;", "&")


def wrap_html_expr(text: Column) -> Column:
    """text -> html binary (utf-8)."""
    return F.encode(F.concat(F.lit(_PRE), escape_expr(text), F.lit(_POST)), "UTF-8")


def extract_text_expr(html: Column) -> Column:
    """html binary -> text, byte-identical inverse of wrap_html_expr.

    JVM-side: decode + strip the fixed wrapper + unescape.
    """
    s = F.decode(html, "UTF-8")
    body = F.regexp_extract(s, "<p>(?s)(.*)</p>", 1)
    return unescape_expr(body)


def _extract_py(s: str) -> str:
    m = re.search(r"<p>(.*)</p>", s, flags=re.S)
    body = m.group(1) if m else re.sub(r"<[^>]*>", " ", s)
    return body.replace("&gt;", ">").replace("&lt;", "<").replace("&amp;", "&")


@F.pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    """Arrow-batched extractor (general path). Pure & deterministic —
    no locale, no hash-seed, no wall clock."""
    return html.map(lambda b: _extract_py(bytes(b).decode("utf-8")))

"""Annotation interchange converters: con / rel / ast ↔ BRAT (S9, W6).

Line formats (validation regexes mirror the reference's):

  con  `c="text" L:W L:W||t="type"`          (con_to_brat.py:29)
  rel  `c="t1" L:W L:W||r="rel"||c="t2" L:W L:W`  (add_rel_to_brat.py:34)
  ast  `c="t" L:W L:W||t="type"||a="assertion"`   (add_ast_to_brat.py:22)

`L:W` are 1-based line : 0-based word coordinates; BRAT uses absolute char
offsets. The coordinate conversion (the reference's superlinear
``Line.init_lines`` + per-call scans, conversion_tools/line.py:19-58,
con_to_brat.py:88-140) becomes one relational pass: explode lines with a
running char-offset window, explode words with a per-line running offset —
a `line_word_index` table joinable from either direction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

CON_PATTERN = r'^c=".+?" \d+:\d+ \d+:\d+\|\|t=".+?"$'
REL_PATTERN = r'^c="[^"]*" \d+:\d+ \d+:\d+\|\|r="[^"]*"\|\|c="[^"]*" \d+:\d+ \d+:\d+$'
AST_PATTERN = r'^c="[^"]*" \d+:\d+ \d+:\d+\|\|t="[^"]*"\|\|a="[^"]*"$'


def line_word_index(documents: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """documents(id, text) -> (id, line_no, word_no, abs_start, abs_end, word).

    line_no is 1-based, word_no 0-based (the con convention). Whitespace
    runs inside a line split words (reference whitespace_pattern
    con_to_brat.py:28). One window pass per level — both partition by doc.

    Offsets are EXACT for arbitrary whitespace (tabs, double spaces): the
    line is split on SINGLE whitespace characters, so every element —
    including the empty strings a run produces — consumed exactly
    ``length + 1`` characters, and the running sum recovers the true char
    offset. word_no counts only the non-empty elements (the reference's
    ``\\s+``-split word indices); empties are dropped after both running
    computations. Same cost as the single-space path: one window."""
    lines = documents.select(
        id_col, F.posexplode(F.split("text", "\n")).alias("line_idx", "line")
    )
    wl = Window.partitionBy(id_col).orderBy("line_idx")
    line_start = F.coalesce(
        F.sum(F.length("line") + 1).over(wl.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    lines = lines.withColumn("line_start", line_start).withColumn(
        "line_no", (F.col("line_idx") + 1).cast("int")
    )
    elems = lines.select(
        id_col, "line_no", "line_start",
        F.posexplode(F.split("line", r"\s")).alias("elem_idx", "word"),
    )
    ww = Window.partitionBy(id_col, "line_no").orderBy("elem_idx")
    prev = ww.rowsBetween(Window.unboundedPreceding, -1)
    off_in_line = F.coalesce(F.sum(F.length("word") + 1).over(prev), F.lit(0)).cast("long")
    word_no = F.coalesce(
        F.sum((F.length("word") > 0).cast("int")).over(prev), F.lit(0)
    ).cast("int")
    return (
        elems.withColumn("_off", off_in_line)
        .withColumn("word_no", word_no)
        .filter(F.length("word") > 0)
        .select(
            id_col, "line_no", "word_no",
            (F.col("line_start") + F.col("_off")).alias("abs_start"),
            (F.col("line_start") + F.col("_off") + F.length("word")).cast("long").alias("abs_end"),
            "word",
        )
    )


def parse_con(lines: DataFrame) -> DataFrame:
    """con lines -> (id, text, start_line, start_word, end_line, end_word, tag).
    Invalid lines are dropped by the validation rlike (reference counts
    them; use an anti filter for the skipped-line metric)."""
    valid = lines.filter(F.col("line").rlike(CON_PATTERN))
    return valid.select(
        "doc_id",
        F.regexp_extract("line", r'c="(.+?)"', 1).alias("text"),
        F.regexp_extract("line", r'" (\d+):(\d+) \d+:\d+', 1).cast("int").alias("start_line"),
        F.regexp_extract("line", r'" (\d+):(\d+) \d+:\d+', 2).cast("int").alias("start_word"),
        F.regexp_extract("line", r'" \d+:\d+ (\d+):(\d+)', 1).cast("int").alias("end_line"),
        F.regexp_extract("line", r'" \d+:\d+ (\d+):(\d+)', 2).cast("int").alias("end_word"),
        F.regexp_extract("line", r't="(.+?)"', 1).alias("tag"),
    )


def con_to_mentions(
    con: DataFrame, documents: DataFrame
) -> DataFrame:
    """con coordinate rows -> BRAT-style (id, tag, start, end, text) via two
    joins against the line/word index (start word's abs_start, end word's
    abs_end)."""
    idx = line_word_index(documents, "doc_id")
    s = idx.select(
        F.col("doc_id").alias("_id"), F.col("line_no").alias("_l"),
        F.col("word_no").alias("_w"), "abs_start",
    )
    e = idx.select(
        F.col("doc_id").alias("_id2"), F.col("line_no").alias("_l2"),
        F.col("word_no").alias("_w2"), "abs_end",
    )
    return (
        con.join(s, (con["doc_id"] == s["_id"]) & (con["start_line"] == s["_l"])
                 & (con["start_word"] == s["_w"]))
        .join(e, (con["doc_id"] == e["_id2"]) & (con["end_line"] == e["_l2"])
              & (con["end_word"] == e["_w2"]))
        .select("doc_id", "tag", F.col("abs_start").alias("start"),
                F.col("abs_end").alias("end"), "text")
    )


def mentions_to_con(
    mentions: DataFrame, documents: DataFrame
) -> DataFrame:
    """BRAT mentions -> con lines (brat_to_con.py direction): map char
    offsets back to line:word coordinates via the same index."""
    idx = line_word_index(documents, "doc_id")
    s = idx.select(
        F.col("doc_id").alias("_id"), F.col("abs_start").alias("_as"),
        F.col("line_no").alias("sl"), F.col("word_no").alias("sw"),
    )
    e = idx.select(
        F.col("doc_id").alias("_id2"), F.col("abs_end").alias("_ae"),
        F.col("line_no").alias("el"), F.col("word_no").alias("ew"),
    )
    j = (
        mentions.join(s, (mentions["doc_id"] == s["_id"]) & (mentions["start"] == s["_as"]))
        .join(e, (mentions["doc_id"] == e["_id2"]) & (mentions["end"] == e["_ae"]))
    )
    return j.select(
        "doc_id",
        F.format_string(
            'c="%s" %d:%d %d:%d||t="%s"',
            F.lower("text"), F.col("sl"), F.col("sw"), F.col("el"), F.col("ew"),
            F.col("tag"),
        ).alias("line"),
    )


def parse_rel(lines: DataFrame) -> DataFrame:
    """rel lines -> (id, arg1_text, rel, arg2_text, + coordinate columns)."""
    valid = lines.filter(F.col("line").rlike(REL_PATTERN))
    return valid.select(
        "doc_id",
        F.regexp_extract("line", r'^c="([^"]*)"', 1).alias("arg1_text"),
        F.regexp_extract("line", r'^c="[^"]*" (\d+):(\d+)', 1).cast("int").alias("a1_line"),
        F.regexp_extract("line", r'^c="[^"]*" (\d+):(\d+)', 2).cast("int").alias("a1_word"),
        F.regexp_extract("line", r'\|\|r="([^"]*)"', 1).alias("rel"),
        F.regexp_extract("line", r'\|\|c="([^"]*)"', 1).alias("arg2_text"),
        F.regexp_extract("line", r'\|\|c="[^"]*" (\d+):(\d+)', 1).cast("int").alias("a2_line"),
        F.regexp_extract("line", r'\|\|c="[^"]*" (\d+):(\d+)', 2).cast("int").alias("a2_word"),
    )


def parse_ast(lines: DataFrame) -> DataFrame:
    """ast lines -> (id, text, tag, assertion, start_line, start_word)."""
    valid = lines.filter(F.col("line").rlike(AST_PATTERN))
    return valid.select(
        "doc_id",
        F.regexp_extract("line", r'^c="([^"]*)"', 1).alias("text"),
        F.regexp_extract("line", r'\|\|t="([^"]*)"', 1).alias("tag"),
        F.regexp_extract("line", r'\|\|a="([^"]*)"', 1).alias("assertion"),
        F.regexp_extract("line", r'" (\d+):(\d+)', 1).cast("int").alias("start_line"),
        F.regexp_extract("line", r'" (\d+):(\d+)', 2).cast("int").alias("start_word"),
    )


def ade_to_brat_lines(rel_lines: DataFrame) -> DataFrame:
    """S9: ADE-corpus .rel → pseudo-BRAT T-lines (ade_to_brat.py:44-68).

    Byte-faithful replication of the reference loop, quirks included:

      * the file name ``TYPE1-TYPE2.rel`` supplies the entity labels,
        applied SWAPPED — the first (text, start, end) triple gets TYPE2
        and the second gets TYPE1 (ade_to_brat.py:63-64);
      * the separator after the T id is a SPACE, not the BRAT tab, so the
        emitted lines do NOT re-parse under brat_pattern
        (annotations.py:22) — reference behavior, not a bug here;
      * the T id is pipe-field 0 verbatim (the PubMed id, repeated across
        lines of one file — duplicate T ids are emitted as in the
        reference);
      * fields are pipe positions 0, 2, 3, 4, 5, 6, 7 with trailing
        whitespace stripped per item (``item.rstrip()``).

    Input: (id, file_name, line). Output: (id, out_no, line) — out_no
    orders the two emitted lines per input line when the input carries a
    ``line_no`` column, else by emission pair index only.
    """
    base = F.regexp_replace(F.element_at(F.split("file_name", "/"), -1), r"\.[^.]*$", "")
    types = F.split(base, "-")
    p = F.transform(F.split("line", r"\|"), lambda x: F.regexp_replace(x, r"\s+$", ""))
    line1 = F.concat(
        F.lit("T"), F.element_at(p, 1), F.lit(" "), F.element_at(types, 2),
        F.lit(" "), F.element_at(p, 4), F.lit(" "), F.element_at(p, 5),
        F.lit("\t"), F.element_at(p, 3),
    )
    line2 = F.concat(
        F.lit("T"), F.element_at(p, 1), F.lit(" "), F.element_at(types, 1),
        F.lit(" "), F.element_at(p, 7), F.lit(" "), F.element_at(p, 8),
        F.lit("\t"), F.element_at(p, 6),
    )
    order = (
        (F.col("line_no") * 2 if "line_no" in rel_lines.columns else F.lit(0))
    )
    return rel_lines.select(
        "doc_id",
        F.posexplode(F.array(line1, line2)).alias("pair_idx", "out_line"),
        order.alias("_base"),
    ).select(
        "doc_id",
        (F.col("_base") + F.col("pair_idx")).cast("long").alias("out_no"),
        F.col("out_line").alias("line"),
    )

"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 gets a (queries(), oracle_sql())
pair runnable on the driver's testdata tables. Because those tables are
generic (random-word documents, TPC-H-ish facts), the mention/annotation
relations are *derived deterministically* from `documents` with arithmetic
that both engines compute identically:

  tokens  — split text on single spaces; pos 1-based; char offsets by
            window running sum (the corpus contract: single-space joins).
  gold    — tokens whose word is a KEYWORD (tag = word).
  pred    — controlled perturbation of gold keyed by k = doc_id + pos:
            k%11==0 dropped (fn), k%7==0 span shifted +1 (lenient-only
            match), k%13==0 tag swapped to the next keyword (confusion),
            plus hallucinated mentions from non-keyword tokens (k%17==0).
  phrase  — keyword token + its successor as a 'P_<word>' mention
            (overlaps gold → ambiguity/containment workloads).

The clinical queries re-derive the synthetic clinical corpus from doc_id
arithmetic (corpus/synth.py) — the Spark side runs the REAL extraction
pipeline over the generated text; the oracle recomputes the expected
triples from the arithmetic directly. Matching = the extractor's P/R is
exactly 1.0 on the clean corpus.

Ops whose hashes are engine-specific (xxhash64-based minhash/simhash/LSH)
have no oracle entry → the driver records the weaker rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medacy_spark.corpus import lexicons as lex
from medacy_spark.session import local_table

KEYWORDS = ["join", "filter", "sort", "scan", "merge", "group", "window", "hash"]

# ---------------------------------------------------------------- Spark side


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the scan fanned out: the testdata parquet is ONE
    row group, so every per-doc map (split/regex/explode) downstream of a
    bare read runs in a single task until the first exchange (guide §2.5
    input skew).  Repartitioning the raw doc rows (a few MB) right after
    the scan moves the cheap bytes once and makes all per-doc compute
    cores-wide; the hash(doc_id) layout is exactly what every doc-keyed
    window/join downstream requires, so no second exchange appears."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition("doc_id")


def _docs_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bare scan, no fan-out — for queries whose per-doc map work is
    trivial (or column-pruned away under a count), where the repartition
    exchange would be pure overhead."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _clin_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id spine for the clinical queries. When ids are contiguous
    0..n-1 (the testdata generator's contract) a spark.range spine is used:
    its range-partitioning satisfies every doc-keyed distribution, so the
    whole clinical pipeline plans with zero shuffle exchanges (BENCH.md).
    Falls back to the parquet ids otherwise."""
    stats = _docs_raw(spark, sf_dir).agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).collect()[0]
    if stats["lo"] == 0 and stats["hi"] == stats["n"] - 1:
        return spark.range(stats["n"]).withColumnRenamed("id", "doc_id")
    return _docs(spark, sf_dir).select("doc_id")


def tokens_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    t = d.select("doc_id", F.posexplode(F.split("text", " ")).alias("p0", "word"))
    t = t.withColumn("pos", (F.col("p0") + 1).cast("long")).drop("p0")
    w = Window.partitionBy("doc_id").orderBy("pos")
    start = F.coalesce(
        F.sum(F.length("word") + 1).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    return t.withColumn("start", start).withColumn(
        "end", (F.col("start") + F.length("word")).cast("long")
    )


def _swap_expr(col):
    m = {KEYWORDS[i]: KEYWORDS[(i + 1) % len(KEYWORDS)] for i in range(len(KEYWORDS))}
    expr = None
    for k, v in m.items():
        expr = F.when(F.col(col) == k, F.lit(v)) if expr is None else expr.when(F.col(col) == k, F.lit(v))
    return expr.otherwise(F.col(col))


def _kw_pick(kcol):
    arr = F.array(*[F.lit(k) for k in KEYWORDS])
    return F.element_at(arr, (kcol % len(KEYWORDS) + 1).cast("int"))


_MENTION_COLS = ("tag", "start", "end", "text")


def _mention_branches(side: str) -> list[tuple[Column, list[Column]]]:
    """One mention side as (condition, [tag, start, end, text]) branches
    over tokens_df's columns — the one statement of the gold / pred /
    phrase arithmetic (pred's mod 7/11/13/17 perturbation included) that
    the per-side frames and _mention_sides' single pass are both built
    from. The phrase side reads the next token's word and end as
    ``_nw`` / ``_ne`` (_with_next)."""
    word, start, end = F.col("word"), F.col("start"), F.col("end")
    is_kw = word.isin(KEYWORDS)
    if side == "gold":
        return [(is_kw, [word, start, end, word])]
    if side == "phrase":
        return [(
            is_kw & F.col("_nw").isNotNull(),
            [F.concat(F.lit("P_"), word), start, F.col("_ne"),
             F.concat_ws(" ", "word", "_nw")],
        )]
    k = F.col("doc_id") + F.col("pos")
    shift = (k % 7 == 0).cast("long")
    return [
        (
            is_kw & (k % 11 != 0),
            [F.when(k % 13 == 0, _swap_expr("word")).otherwise(word),
             start + shift, end + shift, word],
        ),
        (~is_kw & (k % 17 == 0), [_kw_pick(k), start, end, word]),
    ]


def _with_next(t: DataFrame) -> DataFrame:
    w = Window.partitionBy("doc_id").orderBy("pos")
    return t.withColumn("_nw", F.lead("word").over(w)).withColumn(
        "_ne", F.lead("end").over(w)
    )


def _side_df(spark: SparkSession, sf_dir: str, side: str, *extra: str) -> DataFrame:
    """One mention side as its own frame: a filter/select per branch
    (unioned for pred's two), (doc_id, tag, start, end, text, *extra)."""
    t = tokens_df(spark, sf_dir)
    if side == "phrase":
        t = _with_next(t)
    frames = [
        t.filter(cond).select(
            "doc_id", *[c.alias(n) for c, n in zip(cols, _MENTION_COLS)], *extra
        )
        for cond, cols in _mention_branches(side)
    ]
    return reduce(DataFrame.unionByName, frames)


def gold_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_df(spark, sf_dir, "gold", "pos")


def pred_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_df(spark, sf_dir, "pred")


def phrase_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _side_df(spark, sf_dir, "phrase")


def _mention_sides(
    spark: SparkSession,
    sf_dir: str,
    *,
    gold: bool = False,
    pred: bool = False,
    phrase: bool = False,
) -> dict[str, DataFrame]:
    """All requested mention families from ONE token pass (r8).

    ``gold_df``/``pred_df``/``phrase_df`` each rebuild the whole token
    pipeline (scan → explode → window sums), so a two-sided join query
    re-derives it 2-4x.  This derives every requested side in a single
    window pass — per token an array of side-tagged structs (a ``when``
    chain over the side's _mention_branches), exploded — and
    localCheckpoints the small combined mention table once (the
    single-pass rule; see mentions.detect_mentions for the pattern).
    Values are identical to the per-side builders by construction; only
    the plan changes.

    NOT a universal win: the checkpoint is a materialization barrier and
    its persisted blocks linger for the session, so fully-pipelined
    aggregate plans (measures_*, containment_pairs) measured FASTER with
    the per-side builders under the frozen bench — only the self-join
    workloads that otherwise re-derive the pass 4x (ambiguity_counts)
    or carry a wide θ-join (lenient_intersection) use this helper.

    Returns {"gold"/"pred"/"phrase": DataFrame(doc_id, tag, start, end,
    text)} filtered views of the one checkpoint.
    """
    wanted = {"gold": gold, "pred": pred, "phrase": phrase}
    codes = {"gold": "g", "pred": "p", "phrase": "h"}
    t = tokens_df(spark, sf_dir)
    if phrase:
        t = _with_next(t)
    structs = []
    for side in (s for s in codes if wanted[s]):
        chain = None
        for cond, cols in _mention_branches(side):
            st = F.struct(
                F.lit(codes[side]).alias("_side"),
                *[c.alias(n) for c, n in zip(cols, _MENTION_COLS)],
            )
            chain = F.when(cond, st) if chain is None else chain.when(cond, st)
        structs.append(chain)
    m = t.select(
        "doc_id",
        F.explode(F.filter(F.array(*structs), lambda s: s.isNotNull())).alias("s"),
    ).select("doc_id", "s._side", "s.tag", "s.start", "s.end", "s.text")
    m = m.localCheckpoint(eager=False)
    cols = ["doc_id", *_MENTION_COLS]
    out: dict[str, DataFrame] = {}
    for side in (s for s in codes if wanted[s]):
        # fresh attribute ids per view: two views of ONE checkpoint fed
        # to a self-join/cogroup otherwise share exprIds, and Spark's
        # relation dedup mis-projects the right side of a pandas
        # cogroup (observed: pred arrived without its 'tag' column)
        out[side] = m.filter(F.col("_side") == codes[side]).select(
            *[F.col(c).alias(c) for c in cols]
        )
    # the union the ambiguity workload wants, without re-reading per side
    out["all"] = m.select(*[F.col(c).alias(c) for c in cols])
    return out


# ------------------------------------------------------------- DuckDB CTEs

def _sql_list(xs):
    return ", ".join(f"'{x}'" for x in xs)


def _swap_case_sql(col: str) -> str:
    cases = " ".join(
        f"WHEN '{KEYWORDS[i]}' THEN '{KEYWORDS[(i + 1) % len(KEYWORDS)]}'"
        for i in range(len(KEYWORDS))
    )
    return f"CASE {col} {cases} ELSE {col} END"


def _kw_pick_sql(expr: str) -> str:
    cases = " ".join(f"WHEN {i} THEN '{KEYWORDS[i]}'" for i in range(len(KEYWORDS)))
    return f"CASE ({expr}) % {len(KEYWORDS)} {cases} END"


BASE_CTES = f"""
WITH _raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
),
tokens AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
         CAST(coalesce(sum(length(word)+1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
         CAST(coalesce(sum(length(word)+1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(word) AS BIGINT) AS "end"
  FROM _raw
),
gold AS (
  SELECT doc_id, word AS tag, start, "end", word AS text, pos
  FROM tokens WHERE word IN ({_sql_list(KEYWORDS)})
),
pred AS (
  SELECT doc_id,
         CASE WHEN (doc_id + pos) % 13 = 0 THEN {_swap_case_sql('word')} ELSE word END AS tag,
         CAST(CASE WHEN (doc_id + pos) % 7 = 0 THEN start + 1 ELSE start END AS BIGINT) AS start,
         CAST(CASE WHEN (doc_id + pos) % 7 = 0 THEN "end" + 1 ELSE "end" END AS BIGINT) AS "end",
         word AS text
  FROM tokens
  WHERE word IN ({_sql_list(KEYWORDS)}) AND (doc_id + pos) % 11 <> 0
  UNION ALL
  SELECT doc_id, {_kw_pick_sql('doc_id + pos')} AS tag, start, "end", word AS text
  FROM tokens
  WHERE word NOT IN ({_sql_list(KEYWORDS)}) AND (doc_id + pos) % 17 = 0
),
phrase AS (
  SELECT doc_id, 'P_' || word AS tag, start,
         CAST(lead("end") OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS "end",
         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS text
  FROM tokens
  QUALIFY word IN ({_sql_list(KEYWORDS)}) AND lead(word) OVER (PARTITION BY doc_id ORDER BY pos) IS NOT NULL
)
"""

# ------------------------------------------------------------------ queries

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn
    return deco


# ---- P1/A1: distinct labels + counts


@q("mention_counts", BASE_CTES + """
SELECT tag, CAST(count(*) AS BIGINT) AS cnt FROM gold GROUP BY tag ORDER BY tag
""")
def q_mention_counts(spark, sf):
    from medacy_spark.operators.annotations import counts
    return counts(gold_df(spark, sf)).withColumnRenamed("cnt", "cnt").orderBy("tag")


@q("label_distinct", BASE_CTES + """
SELECT DISTINCT tag FROM (SELECT tag FROM gold UNION ALL SELECT tag FROM pred) ORDER BY tag
""")
def q_label_distinct(spark, sf):
    from medacy_spark.operators.annotations import labels
    g = gold_df(spark, sf).select("tag")
    p = pred_df(spark, sf).select("tag")
    return labels(g.unionByName(p)).orderBy("tag")


# ---- J3/J4/U1: exact set algebra


_KEYCOLS = 'doc_id, tag, start, "end", text'


@q("exact_difference", BASE_CTES + f"""
SELECT DISTINCT {_KEYCOLS} FROM gold
EXCEPT
SELECT {_KEYCOLS} FROM pred
""")
def q_exact_difference(spark, sf):
    from medacy_spark.operators.annotations import exact_difference
    return exact_difference(gold_df(spark, sf), pred_df(spark, sf))


@q("exact_intersection", BASE_CTES + f"""
SELECT DISTINCT {_KEYCOLS} FROM gold
INTERSECT
SELECT {_KEYCOLS} FROM pred
""")
def q_exact_intersection(spark, sf):
    from medacy_spark.operators.annotations import exact_intersection
    return exact_intersection(gold_df(spark, sf), pred_df(spark, sf))


@q("union_dedup", BASE_CTES + f"""
SELECT DISTINCT {_KEYCOLS} FROM (
  SELECT {_KEYCOLS} FROM gold UNION ALL SELECT {_KEYCOLS} FROM pred)
""")
def q_union_dedup(spark, sf):
    from medacy_spark.operators.annotations import union_dedup
    return union_dedup(gold_df(spark, sf), pred_df(spark, sf))


# ---- J5: lenient containment intersection (leniency window)


@q("lenient_intersection", BASE_CTES + """
SELECT DISTINCT g.doc_id, g.tag, g.start, g."end", g.text
FROM gold g
WHERE EXISTS (
  SELECT 1 FROM pred p
  WHERE p.doc_id = g.doc_id AND p.tag = g.tag
    AND g.start - CAST(ceil(0.2 * (g."end" - g.start)) AS BIGINT) <= p.start
    AND g."end" + CAST(ceil(0.2 * (g."end" - g.start)) AS BIGINT) >= p."end")
""")
def q_lenient_intersection(spark, sf):
    from medacy_spark.operators.annotations import lenient_intersection
    sides = _mention_sides(spark, sf, gold=True, pred=True)
    return lenient_intersection(sides["gold"], sides["pred"], leniency=0.2)


# ---- J6/A11: ambiguity (overlap, different tags) over gold ∪ phrase


@q("ambiguity_counts", BASE_CTES + """
, ments AS (
  SELECT doc_id, tag, start, "end" FROM gold
  UNION ALL SELECT doc_id, tag, start, "end" FROM phrase)
SELECT a.tag AS tag_a, b.tag AS tag_b, CAST(count(*) AS BIGINT) AS cnt
FROM ments a JOIN ments b
  ON a.doc_id = b.doc_id AND a.tag <> b.tag
 AND greatest(0, least(a."end", b."end") - greatest(a.start, b.start)) <> 0
 AND (a.start < b.start OR (a.start = b.start AND (a."end" < b."end"
      OR (a."end" = b."end" AND a.tag < b.tag))))
GROUP BY 1, 2 ORDER BY 1, 2
""")
def q_ambiguity_counts(spark, sf):
    from medacy_spark.operators.annotations import ambiguity
    # gold ∪ phrase from ONE checkpointed token pass (no union, no
    # per-side re-derivation — the self-join reads the checkpoint twice)
    m = _mention_sides(spark, sf, gold=True, phrase=True)["all"]
    pairs = ambiguity(m, m, self_compare=True)
    return (
        pairs.groupBy("tag_a", "tag_b").agg(F.count("*").alias("cnt"))
        .orderBy("tag_a", "tag_b")
    )


# ---- A2: confusion cells (unpivoted)


@q("confusion_cells", BASE_CTES + """
, g AS (SELECT DISTINCT doc_id, tag, start, "end", text FROM gold),
diag AS (
  -- intersection() returns a SET of matched gold tuples -> distinct golds
  SELECT tag AS gold_tag, tag AS sys_tag, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT DISTINCT g.doc_id, g.tag, g.start, g."end", g.text
        FROM g JOIN pred p ON g.doc_id = p.doc_id AND g.tag = p.tag
         AND g.start <= p.start AND g."end" >= p."end")
  GROUP BY 1, 2),
offd AS (
  -- compute_ambiguity dict-assigns per gold: LAST overlapping diff-label
  -- candidate in (start, end) order wins, one increment per distinct gold
  SELECT gold_tag, sys_tag, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT g.tag AS gold_tag, p.tag AS sys_tag,
           row_number() OVER (
             PARTITION BY g.doc_id, g.tag, g.start, g."end", g.text
             ORDER BY p.start DESC, p."end" DESC, p.tag DESC, p.text DESC) AS rn
    FROM g JOIN pred p ON g.doc_id = p.doc_id AND g.tag <> p.tag
     AND greatest(0, least(g."end", p."end") - greatest(g.start, p.start)) <> 0)
  WHERE rn = 1 GROUP BY 1, 2)
SELECT gold_tag, sys_tag, cnt
FROM (SELECT * FROM diag UNION ALL SELECT * FROM offd)
ORDER BY 1, 2
""")
def q_confusion_cells(spark, sf):
    from medacy_spark.operators.annotations import confusion_cells
    return confusion_cells(
        gold_df(spark, sf), pred_df(spark, sf), leniency=0.0
    ).orderBy("gold_tag", "sys_tag")


# ---- J10/A3/A4: measures + P/R/F1, strict & lenient, with micro rollup


_MEASURES_CTES = """
, gtot AS (SELECT tag, CAST(count(*) AS BIGINT) AS g FROM gold GROUP BY tag),
stot AS (SELECT tag, CAST(count(*) AS BIGINT) AS s FROM pred GROUP BY tag),
tptag AS (SELECT tag, CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(consumed) AS BIGINT) AS consumed
          FROM key_tp GROUP BY tag),
per_tag AS (
  SELECT coalesce(gt.tag, st.tag) AS tag,
         coalesce(tp, 0) AS tp,
         coalesce(s, 0) - coalesce(consumed, 0) AS fp,
         coalesce(g, 0) - coalesce(tp, 0) AS fn
  FROM gtot gt FULL OUTER JOIN stot st ON gt.tag = st.tag
  LEFT JOIN tptag tt ON coalesce(gt.tag, st.tag) = tt.tag),
all_rows AS (
  SELECT tag, tp, fp, fn FROM per_tag
  UNION ALL
  SELECT 'system', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT), CAST(sum(fn) AS BIGINT) FROM per_tag)
"""

_MEASURES_TAIL = _MEASURES_CTES + """
SELECT tag, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       CASE WHEN tp + fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
       CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
       CASE WHEN (CASE WHEN tp+fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fp) END
               + CASE WHEN tp+fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fn) END) = 0 THEN 0.0
       ELSE 2.0 * (CASE WHEN tp+fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fp) END)
                * (CASE WHEN tp+fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fn) END)
            / ((CASE WHEN tp+fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fp) END)
             + (CASE WHEN tp+fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fn) END)) END AS f1
FROM all_rows ORDER BY tag
"""


# strict-mode greedy matching (exact-key min-count): ONE constant serves
# measures_strict and measures_macro so the tp/fp/fn arithmetic can
# never fork between them
_STRICT_KEY_TP = """
, gc AS (SELECT doc_id, tag, start, "end", count(*) AS c FROM gold GROUP BY ALL),
sc AS (SELECT doc_id, tag, start, "end", count(*) AS c FROM pred GROUP BY ALL),
key_tp AS (
  SELECT gc.tag, least(gc.c, sc.c) AS tp, sc.c AS consumed
  FROM gc JOIN sc ON gc.doc_id = sc.doc_id AND gc.tag = sc.tag
   AND gc.start = sc.start AND gc."end" = sc."end")
"""


@q("measures_strict", BASE_CTES + _STRICT_KEY_TP + _MEASURES_TAIL)
def q_measures_strict(spark, sf):
    # per-side builders, not _mention_sides: the frozen-bench suite run
    # measured the checkpointed variant 2-3x SLOWER here (the barrier +
    # persisted blocks outweigh the deduped token pass; exchange reuse
    # already collapses the identical subtrees in this fully-pipelined
    # aggregate plan)
    from medacy_spark.operators.scoring import measures, with_prf
    return with_prf(measures(gold_df(spark, sf), pred_df(spark, sf), mode="strict"))


@q("measures_lenient", BASE_CTES + """
, key_tp AS (
  -- by construction each pred overlaps ≤1 gold and vice versa, so the
  -- greedy 1:1 pass degenerates to the plain overlap join
  SELECT g.tag, 1 AS tp, 1 AS consumed
  FROM gold g JOIN pred p
    ON g.doc_id = p.doc_id AND g.tag = p.tag
   AND p.start < g."end" AND g.start < p."end")
""" + _MEASURES_TAIL)
def q_measures_lenient(spark, sf):
    # per-side builders — see q_measures_strict
    from medacy_spark.operators.scoring import measures, with_prf
    return with_prf(measures(gold_df(spark, sf), pred_df(spark, sf), mode="lenient"))


# ---- A4 closure: full derivations (specificity/auc/accuracy, tn ≡ 0 as in
# the reference's actual scoring path) + the 'system (macro)' row
# (inter_dataset_agreement.py:87-106,232-237). Floats rounded to 9 decimals
# on BOTH engines: the macro row averages doubles, and summation order may
# differ between engines at the last ulp.


@q("measures_macro", BASE_CTES + _STRICT_KEY_TP + _MEASURES_CTES + """
, prf AS (
  SELECT tag,
    CASE WHEN tp+fp = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fp) END AS p,
    CASE WHEN tp+fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fn) END AS r,
    CASE WHEN tp+fp+fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE)/(tp+fp+fn) END AS acc
  FROM all_rows),
derived AS (
  SELECT tag, p, r,
    CASE WHEN p+r = 0 THEN 0.0 ELSE 2.0*p*r/(p+r) END AS f1,
    0.0 AS spec, (r + 0.0)/2.0 AS auc, acc
  FROM prf),
labeled AS (
  SELECT tag, p, r, f1, spec, auc, acc FROM derived
  UNION ALL
  SELECT 'system (macro)', avg(p), avg(r), avg(f1), avg(spec), avg(auc), avg(acc)
  FROM derived WHERE tag <> 'system')
SELECT tag, round(p, 9) AS precision, round(r, 9) AS recall,
       round(f1, 9) AS f1, round(spec, 9) AS specificity,
       round(auc, 9) AS auc, round(acc, 9) AS accuracy
FROM labeled ORDER BY tag
""")
def q_measures_macro(spark, sf):
    from medacy_spark.operators.scoring import measures, with_full_prf, with_macro
    full = with_macro(with_full_prf(
        measures(gold_df(spark, sf), pred_df(spark, sf), mode="strict")
    ))
    return full.select(
        "tag",
        *[F.round(c, 9).alias(c)
          for c in ("precision", "recall", "f1",
                    "specificity", "auc", "accuracy")],
    ).orderBy("tag")


# ---- A7: lexical variation over pred


@q("lexical_variation", BASE_CTES + """
SELECT tag, CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts,
       CAST(count(*) AS BIGINT) AS total,
       CAST(count(DISTINCT text) AS DOUBLE) / count(*) AS variation
FROM pred GROUP BY tag ORDER BY tag
""")
def q_lexical_variation(spark, sf):
    from medacy_spark.operators.annotations import lexical_variation
    return lexical_variation(pred_df(spark, sf)).orderBy("tag")


# ---- W5/S3/F9: BRAT writer lines


@q("ann_lines", BASE_CTES + """
SELECT doc_id,
       printf('T%d\t%s %d %d\t%s',
              CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start, "end", tag, replace(text, chr(10), ' ')) AS INT),
              tag, start, "end", replace(text, chr(10), ' ')) AS line
FROM gold ORDER BY doc_id, line
""")
def q_ann_lines(spark, sf):
    from medacy_spark.operators.annotations import to_ann_lines
    return to_ann_lines(gold_df(spark, sf)).orderBy("doc_id", "line")


# ---- S2/F1: BRAT parse round-trip


@q("brat_roundtrip", BASE_CTES + """
, lines AS (
  SELECT doc_id,
         printf('T%d\t%s %d %d\t%s',
                CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start, "end", tag, replace(text, chr(10), ' ')) AS INT),
                tag, start, "end", text) AS line
  FROM gold)
SELECT doc_id,
       regexp_extract(line, '^T\\d+\t(\\S+)', 1) AS tag,
       CAST(regexp_extract(line, '^T\\d+\t\\S+ (\\d+)', 1) AS BIGINT) AS start,
       CAST(regexp_extract(line, '^T\\d+\t\\S+ \\d+ (\\d+)', 1) AS BIGINT) AS "end",
       regexp_extract(line, '\t([^\t]*)$', 1) AS text
FROM lines
""")
def q_brat_roundtrip(spark, sf):
    from medacy_spark.operators.annotations import from_ann_lines, to_ann_lines
    lines = to_ann_lines(gold_df(spark, sf))
    return from_ann_lines(lines)


# ---- W2: island merge of consecutive keyword labels


@q("island_merge", BASE_CTES + """
, lab AS (
  SELECT doc_id, pos, word, start, "end",
         CASE WHEN word IN ({kw}) THEN word ELSE 'O' END AS label
  FROM tokens),
chg AS (
  SELECT *, CASE WHEN label IS DISTINCT FROM
                 lag(label) OVER (PARTITION BY doc_id ORDER BY pos)
            THEN 1 ELSE 0 END AS changed
  FROM lab),
seg AS (
  SELECT *, sum(changed) OVER (PARTITION BY doc_id ORDER BY pos) AS seg_id
  FROM chg)
SELECT doc_id, label AS tag,
       CAST(min(start) AS BIGINT) AS start, CAST(max("end") AS BIGINT) AS "end",
       string_agg(word, ' ' ORDER BY pos) AS text
FROM seg WHERE label <> 'O'
GROUP BY doc_id, seg_id, label
""".format(kw=_sql_list(KEYWORDS)))
def q_island_merge(spark, sf):
    from medacy_spark.operators.sequence import island_merge
    t = tokens_df(spark, sf).withColumn(
        "label",
        F.when(F.col("word").isin(KEYWORDS), F.col("word")).otherwise(F.lit("O")),
    )
    return island_merge(
        t, part_cols=["doc_id"], order_cols=["pos"], label_col="label",
        start_col="start", end_col="end", text_col="word",
    ).select("doc_id", "tag", "start", "end", "text")


# ---- W1: neighbor feature window (±1) for keyword tokens


@q("feature_window", BASE_CTES + """
SELECT doc_id, pos, word,
       lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS prev1,
       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS next1
FROM tokens QUALIFY word IN ({kw})
""".format(kw=_sql_list(KEYWORDS)))
def q_feature_window(spark, sf):
    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        t.withColumn("prev1", F.lag("word").over(w))
        .withColumn("next1", F.lead("word").over(w))
        .filter(F.col("word").isin(KEYWORDS))
        .select("doc_id", "pos", "word", "prev1", "next1")
    )


# ---- W7: adjacency pattern (keyword followed by keyword)


@q("adjacency_pairs", BASE_CTES + """
SELECT doc_id, word AS subj, 'next_to' AS pred,
       lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS obj,
       start
FROM tokens
QUALIFY word IN ({kw}) AND lead(word) OVER (PARTITION BY doc_id ORDER BY pos) IN ({kw})
""".format(kw=_sql_list(KEYWORDS)))
def q_adjacency_pairs(spark, sf):
    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    t = t.withColumn("obj", F.lead("word").over(w))
    return t.filter(
        F.col("word").isin(KEYWORDS) & F.col("obj").isin(KEYWORDS)
    ).select("doc_id", F.col("word").alias("subj"), F.lit("next_to").alias("pred"), "obj", "start")


# ---- J8: gazetteer broadcast join


_GAZ = {k: ("relational" if i < 4 else "analytic") for i, k in enumerate(KEYWORDS)}


@q("gazetteer_match", BASE_CTES + """
, gaz AS (SELECT * FROM (VALUES {vals}) AS t(term, category))
SELECT category, CAST(count(*) AS BIGINT) AS hits
FROM tokens JOIN gaz ON tokens.word = gaz.term
GROUP BY category ORDER BY category
""".format(vals=", ".join(f"('{k}', '{v}')" for k, v in _GAZ.items())))
def q_gazetteer_match(spark, sf):
    t = tokens_df(spark, sf)
    gaz = local_table(
        t.sparkSession, list(_GAZ.items()), "term string, category string"
    )
    return (
        t.join(F.broadcast(gaz), t.word == gaz.term)
        .groupBy("category").agg(F.count("*").alias("hits"))
        .orderBy("category")
    )


# ---- J7: containment join (gold token mentions inside phrase mentions)


@q("containment_pairs", BASE_CTES + """
SELECT g.doc_id, g.tag AS inner_tag, g.start AS inner_start,
       p.tag AS outer_tag, p.start AS outer_start, p."end" AS outer_end
FROM gold g JOIN phrase p
  ON g.doc_id = p.doc_id AND g.start >= p.start AND g."end" <= p."end"
""")
def q_containment_pairs(spark, sf):
    # per-side builders, NOT _mention_sides: measured faster here — the
    # bucketed join pipelines fully and exchange reuse dedups the token
    # pass, while a checkpoint would add a materialization barrier
    from medacy_spark.operators.intervals import containment_join
    g = gold_df(spark, sf).select("doc_id", "tag", "start", "end")
    p = phrase_df(spark, sf).select("doc_id", "tag", "start", "end")
    j = containment_join(g, p, id_col="doc_id", bucket=64)
    return j.select(
        "doc_id",
        F.col("l_tag").alias("inner_tag"), F.col("l_start").alias("inner_start"),
        F.col("r_tag").alias("outer_tag"), F.col("r_start").alias("outer_start"),
        F.col("r_end").alias("outer_end"),
    )


# ---- TPC-H-ish generic operator checks


@q("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(l_quantity) AS DOUBLE), 4) AS sum_qty,
       round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
       round(CAST(avg(l_discount) AS DOUBLE), 8) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf):
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 8).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@q("top_orders", """
SELECT o.o_orderkey AS orderkey,
       round(CAST(sum(l.l_extendedprice * (1 - l.l_discount)) AS DOUBLE), 2) AS revenue
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY o.o_orderkey
ORDER BY revenue DESC, orderkey ASC LIMIT 10
""")
def q_top_orders(spark, sf):
    # join order matters (guide §3.1): reduce orders by the selective
    # BUILDING-customer broadcast FIRST, then broadcast the surviving
    # orderkeys into the lineitem scan — lineitem (the big side) is never
    # shuffled; the only exchange left is the map-side-combined revenue
    # aggregation. Was: lineitem ⋈ orders sort-merge (both sides
    # shuffled) before the customer filter applied.
    c = spark.read.parquet(f"{sf}/customer.parquet").filter(F.col("c_mktsegment") == "BUILDING")
    o = spark.read.parquet(f"{sf}/orders.parquet")
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    oc = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select("o_orderkey")
    # bounded-broadcast discipline: the surviving-orderkey relation grows
    # with the fact table, so only force the broadcast below a row bound
    # (parquet-metadata count — no data scan); above it the planner keeps
    # the shuffle join
    if o.count() <= 20_000_000:
        oc = F.broadcast(oc)
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("orderkey"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


@q("nation_rollup", """
SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
       CAST(count(*) AS BIGINT) AS customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name) ORDER BY region, nation
""")
def q_nation_rollup(spark, sf):
    c = spark.read.parquet(f"{sf}/customer.parquet")
    n = spark.read.parquet(f"{sf}/nation.parquet")
    r = spark.read.parquet(f"{sf}/region.parquet")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(F.count("*").alias("customers"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "customers",
        )
        .orderBy("region", "nation")
    )


@q("events_running_sum", """
SELECT event_id, user_id,
       CAST(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
FROM events
""")
def q_events_running_sum(spark, sf):
    e = spark.read.parquet(f"{sf}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return e.select("event_id", "user_id", F.sum("value").over(w).alias("running"))


# ---- temporal family (sessionize / as-of join)

_SESS_GAP_US = 21_600 * 1_000_000  # 6 h — mixes singleton and multi-event


@q("events_sessionize", f"""
WITH e AS (SELECT event_id, user_id, ts, value, epoch_us(ts) AS tus FROM events),
f AS (SELECT *, CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            > {_SESS_GAP_US}
                     THEN 1 ELSE 0 END AS is_new FROM e),
s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(tus) AS BIGINT) AS start_us,
       CAST(max(tus) AS BIGINT) AS end_us,
       ROUND(SUM(value), 6) AS sess_value
FROM s GROUP BY user_id, session_seq
""")
def q_events_sessionize(spark, sf):
    """Gap-based sessionization (operators/events.sessionize): one
    window pass, integer-microsecond gap arithmetic so the SQL replay
    is exact. Session aggregates keep the hash stable under partition-
    order differences (sums rounded on both engines)."""
    from medacy_spark.operators.events import sessionize

    e = spark.read.parquet(f"{sf}/events.parquet")
    s = sessionize(e, key="user_id", ts="ts", seq="event_id",
                   gap_seconds=_SESS_GAP_US // 1_000_000)
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("start_us"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("end_us"),
        F.round(F.sum("value"), 6).alias("sess_value"),
    )


@q("purchase_attribution", """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v0 AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'view'),
v AS (SELECT * FROM v0
      QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1)
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(epoch_us(p.ts) AS BIGINT) AS purchase_us,
       CAST(v.event_id AS BIGINT) AS view_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS view_age_us,
       ROUND(v.value, 6) AS view_value
FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
""")
def q_purchase_attribution(spark, sf):
    """Backward as-of join (operators/events.asof_join): each purchase
    matched to the same user's most recent at-or-before view — the
    union-tagged-stream formulation (ONE shuffle, no range join) vs
    DuckDB's native ASOF JOIN. The view side is deduped to unique
    (user_id, ts) in BOTH engines because ASOF leaves equal-ts right
    ties unspecified; unmatched purchases exercise the left-join nulls."""
    from medacy_spark.operators.events import asof_join

    e = spark.read.parquet(f"{sf}/events.parquet")
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    v = (
        e.filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    j = asof_join(p, v, on="user_id", right_payload=["event_id", "value"],
                  right_seq="event_id")
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
        F.col("event_id_r").alias("view_id"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("ts_r").cast("timestamp"))).alias("view_age_us"),
        F.round("value_r", 6).alias("view_value"),
    )


# ---- deterministic sampling family

_HASH_SAMPLE_THR = "40000000000000000000000000000000"  # _hex_threshold(0.25)


@q("hash_sample", f"""
SELECT doc_id, lang FROM documents
WHERE md5('s1' || CAST(doc_id AS VARCHAR)) < '{_HASH_SAMPLE_THR}'
""")
def q_hash_sample(spark, sf):
    """Content-keyed Bernoulli sampling (operators/sampling.hash_sample):
    md5-hex string comparison, identical total order in every engine —
    zero-shuffle, rerun-stable (the property `rand()` lacks)."""
    from medacy_spark.operators.sampling import _hex_threshold, hash_sample

    assert _hex_threshold(0.25) == _HASH_SAMPLE_THR  # no drift with the SQL
    d = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "lang")
    return hash_sample(d, "doc_id", 0.25, salt="s1")


@q("stratified_sample", """
SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_chars
FROM (SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      FROM documents)
WHERE sample_rank <= 20
""")
def q_stratified_sample(spark, sf):
    """Exact per-language quota draw (operators/sampling.stratified_sample):
    md5-ordered top-k per stratum — deterministic without-replacement
    sampling for training-mixture balancing."""
    from medacy_spark.operators.sampling import stratified_sample

    d = spark.read.parquet(f"{sf}/documents.parquet").select("lang", "doc_id", "n_chars")
    return stratified_sample(d, "lang", 20, "doc_id").select(
        "lang", "sample_rank", "doc_id", "n_chars"
    )


@q("copurchase_triangles", """
WITH e AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
                  greatest(a.l_partkey, b.l_partkey) AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
deg AS (SELECT n, count(*) AS d
        FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.a ELSE e.b END AS u,
             CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                  THEN e.b ELSE e.a END AS v
      FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b),
tri AS (SELECT p1.u AS a, p1.v AS b, p2.v AS c
        FROM o p1 JOIN o p2 ON p2.u = p1.v
        WHERE EXISTS (SELECT 1 FROM o p3 WHERE p3.u = p1.u AND p3.v = p2.v))
SELECT node, CAST(count(*) AS BIGINT) AS triangles
FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri)
GROUP BY node
""")
def q_copurchase_triangles(spark, sf):
    """Degree-oriented triangle counting (graph.triangle_counts,
    O(m^1.5) bound, no hot-key guard needed — hubs never fan out
    wedges) over the parts-co-ordered graph: 115k edges / 413k
    triangles at sf0.01, per-part credit."""
    from medacy_spark.operators.graph import triangle_counts

    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
        )
    )
    return triangle_counts(e).select("node", "triangles")


@q("event_value_quantiles", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75,
       ROUND(quantile_cont(value, 0.9), 6) AS p90
FROM events GROUP BY event_type
""")
def q_event_value_quantiles(spark, sf):
    """Exact linear-interpolation percentiles per group: Spark's
    `percentile` (sort-based exact) against DuckDB's quantile_cont —
    both define p as (1-f)·lower + f·upper on the sorted values, so the
    parity is arithmetic, not approximate. (The approx path at 100 TB
    is `approx_percentile`; the exact one is the oracle.)"""
    e = spark.read.parquet(f"{sf}/events.parquet")
    return e.groupBy("event_type").agg(
        *[
            F.round(F.percentile("value", F.lit(p)), 6).alias(name)
            for p, name in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.9, "p90"))
        ]
    )


# ---- dedup family


@q("exact_dup_groups", """
WITH doubled AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 1000000, text FROM documents),
g AS (
  SELECT text, list_sort(list(doc_id)) AS ids, count(*) AS n
  FROM doubled GROUP BY text HAVING count(*) > 1)
SELECT CAST(ids[1] AS BIGINT) AS rep, CAST(ids[2] AS BIGINT) AS second,
       CAST(n AS BIGINT) AS n
FROM g ORDER BY rep
""")
def q_exact_dup_groups(spark, sf):
    # exercises the capped-payload operator (max_ids): n stays the true
    # count while the id list is bounded — the mega-group guard at scale
    from medacy_spark.operators.dedup import exact_duplicates

    d = _docs_raw(spark, sf).select("doc_id", "text")
    doubled = d.unionByName(d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    return (
        exact_duplicates(doubled, max_ids=2)
        .select(
            F.element_at("doc_ids", 1).alias("rep"),
            F.element_at("doc_ids", 2).alias("second"),
            "n",
        )
        .orderBy("rep")
    )


@q("ngram_jaccard", BASE_CTES + """
, sh AS (
  SELECT DISTINCT t1.doc_id AS id,
         t1.word || ' ' || t2.word || ' ' || t3.word AS shingle
  FROM tokens t1
  JOIN tokens t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  JOIN tokens t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
  WHERE t1.doc_id < 150),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
FROM inter JOIN sizes sa ON sa.id = inter.id_a JOIN sizes sb ON sb.id = inter.id_b
WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3
ORDER BY id_a, id_b
""")
def q_ngram_jaccard(spark, sf):
    from medacy_spark.operators.dedup import ngram_jaccard_pairs
    # 150-doc sketch workload: the _docs fan-out exchange is pure
    # overhead at this cardinality (frozen-bench measured) — bare scan
    d = _docs_raw(spark, sf).filter(F.col("doc_id") < 150)
    # docs shorter than 3 words produce a single degenerate shingle in the
    # Spark path; the SQL self-join drops them — filter to ≥3 tokens in both
    d = d.filter(F.size(F.split("text", " ")) >= 3)
    return ngram_jaccard_pairs(d, n=3, threshold=0.3).orderBy("id_a", "id_b")


# Both sketches run in base_hash='md5' mode here: identical topology and
# arithmetic to the xxhash64 production default, but with a hash both
# engines compute — so the driver hash-checks the ENTIRE sketch pipeline
# (shingling, signature mins / bit votes, banding, candidate join).

_MH_P = 2147483647


# per-permutation independent md5 hashes, mirroring dedup.perm_hash
# (md5 mode): the shingle salted with '|i'. See perm_hash's docstring
# for why the cheaper linear-transform family was abandoned (measured
# lattice-correlation false positives AND false negatives at 1M docs).
# ONE generator serves every minhash-replaying oracle (minhash_lsh,
# incremental_dedup) so the permutation arithmetic can never fork.


def _minhash_mins_sql() -> str:
    return ",\n         ".join(
        f"CAST(min(CAST(('0x' || substr(md5(shingle || '|{i}'), 1, 15)) AS BIGINT)"
        f" % {_MH_P}) AS BIGINT) AS m{i}"
        for i in range(32)
    )


def _minhash_bands_sql() -> str:
    return "\n  UNION ALL\n  ".join(
        f"SELECT id, {b} AS band, "
        f"m{b * 4} || ',' || m{b * 4 + 1} || ',' || m{b * 4 + 2} || ',' || m{b * 4 + 3} AS bucket "
        f"FROM sig"
        for b in range(8)
    )


# the shared shingle→signature→band CTE chain over a corpus CTE `d`
_MINHASH_SHINGLE_CTES = """
w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM d),
sh AS (
  SELECT doc_id,
         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win AS shingle
  FROM w
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(word, 2) OVER win IS NOT NULL),
"""


def _minhash_sig_band_ctes() -> str:
    return (
        _MINHASH_SHINGLE_CTES
        + f"sig AS (SELECT doc_id AS id, {_minhash_mins_sql()} FROM sh GROUP BY doc_id),\n"
        + f"bands AS (\n  {_minhash_bands_sql()})"
    )


def _minhash_sql() -> str:
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),{_minhash_sig_band_ctes()}
SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
GROUP BY 1, 2 ORDER BY 1, 2
"""


@q("minhash_lsh", _minhash_sql())
def q_minhash_lsh(spark, sf):
    from medacy_spark.operators.dedup import minhash_lsh_candidates
    # 150-doc sketch workload: the _docs fan-out exchange is pure
    # overhead at this cardinality (frozen-bench measured) — bare scan
    d = _docs_raw(spark, sf).filter(F.col("doc_id") < 150)
    return minhash_lsh_candidates(d, base_hash="md5").orderBy("id_a", "id_b")


def _simhash_sql() -> str:
    from itertools import combinations

    bsum = ",\n         ".join(
        f"sum(CAST((h >> {j}) & 1 AS BIGINT)) AS b{j}" for j in range(60)
    )
    shexpr = " + ".join(
        f"(CASE WHEN b{j} * 2 > n THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(60)
    )
    blocks = [f"CAST((sh >> {10 * i}) & 1023 AS VARCHAR)" for i in range(6)]
    keyrows = "\n  UNION ALL\n  ".join(
        f"SELECT id, {ci} AS combo, "
        f"{blocks[c[0]]} || ',' || {blocks[c[1]]} || ',' || {blocks[c[2]]} AS key, sh "
        f"FROM sig"
        for ci, c in enumerate(combinations(range(6), 3))
    )
    return f"""
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM d),
sh2 AS (
  SELECT doc_id, word || ' ' || lead(word, 1) OVER win AS shingle
  FROM w
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(word, 1) OVER win IS NOT NULL),
hs AS (
  SELECT doc_id AS id,
         CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh2),
votes AS (
  SELECT id, count(*) AS n,
         {bsum}
  FROM hs GROUP BY id),
sig AS (SELECT id, {shexpr} AS sh FROM votes),
keys AS (
  {keyrows}),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.sh AS sh_a, b.sh AS sh_b
  FROM keys a JOIN keys b ON a.combo = b.combo AND a.key = b.key AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM pairs ORDER BY id_a, id_b
"""


@q("simhash_candidates", _simhash_sql())
def q_simhash_candidates(spark, sf):
    from medacy_spark.operators.dedup import simhash_candidates
    # 150-doc sketch workload: the _docs fan-out exchange is pure
    # overhead at this cardinality (frozen-bench measured) — bare scan
    d = _docs_raw(spark, sf).filter(F.col("doc_id") < 150)
    return simhash_candidates(d, base_hash="md5").select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("id_a", "id_b")


def _incremental_dedup_sql() -> str:
    # full SQL replay of the two-step incremental ingest
    # (dedup.dedup_batch_against_state, md5 mode): batch 1 = ids < 75
    # against the empty state (== dedup_corpus), batch 2 = ids >= 75
    # plus exact copies of ids < 25 re-keyed +1000, rejected iff >= 2
    # shared bands with a single batch-1 survivor, then batch-deduped
    # by recursive min-label components. The hot-bucket guard is a
    # no-op at this scale (cap 1000), so it has no SQL counterpart.
    # Shingle/signature/band SQL comes from the SAME generator as the
    # minhash_lsh oracle (_minhash_sig_band_ctes) — one formula, no
    # drift.
    return f"""
WITH RECURSIVE
d AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id < 150 AND len(string_split(text, ' ')) >= 3
  UNION ALL
  SELECT doc_id + 1000, text FROM documents
  WHERE doc_id < 25 AND len(string_split(text, ' ')) >= 3),{_minhash_sig_band_ctes()},
p1 AS (
  SELECT a.id AS ia, b.id AS ib
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  WHERE a.id < 75 AND b.id < 75
  GROUP BY 1, 2 HAVING count(*) >= 2),
und1 AS (SELECT ia AS a, ib AS b FROM p1 UNION SELECT ib, ia FROM p1),
reach1(n, r) AS (
  SELECT doc_id, doc_id FROM d WHERE doc_id < 75
  UNION
  SELECT reach1.n, und1.b FROM reach1 JOIN und1 ON reach1.r = und1.a),
surv1 AS (
  SELECT n AS id FROM (SELECT n, min(r) AS c FROM reach1 GROUP BY n)
  WHERE n = c),
state1 AS (SELECT b.id, b.band, b.bucket FROM bands b JOIN surv1 s ON b.id = s.id),
dup2 AS (
  SELECT DISTINCT nb.id AS id
  FROM bands nb JOIN state1 st ON nb.band = st.band AND nb.bucket = st.bucket
  WHERE nb.id >= 75
  GROUP BY nb.id, st.id HAVING count(*) >= 2),
fresh AS (
  SELECT doc_id AS id FROM d
  WHERE doc_id >= 75 AND doc_id NOT IN (SELECT id FROM dup2)),
p2 AS (
  SELECT a.id AS ia, b.id AS ib
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
  JOIN fresh fa ON a.id = fa.id
  JOIN fresh fb ON b.id = fb.id
  GROUP BY 1, 2 HAVING count(*) >= 2),
und2 AS (SELECT ia AS a, ib AS b FROM p2 UNION SELECT ib, ia FROM p2),
reach2(n, r) AS (
  SELECT id, id FROM fresh
  UNION
  SELECT reach2.n, und2.b FROM reach2 JOIN und2 ON reach2.r = und2.a),
surv2 AS (
  SELECT n AS id FROM (SELECT n, min(r) AS c FROM reach2 GROUP BY n)
  WHERE n = c)
SELECT CAST(0 AS INT) AS batch, CAST(id AS BIGINT) AS doc_id FROM surv1
UNION ALL
SELECT CAST(1 AS INT) AS batch, CAST(id AS BIGINT) AS doc_id FROM surv2
ORDER BY batch, doc_id
"""


@q("incremental_dedup", _incremental_dedup_sql())
def q_incremental_dedup(spark, sf):
    from medacy_spark.operators.dedup import dedup_batch_against_state

    d = _docs(spark, sf).select("doc_id", "text").filter(
        F.size(F.split("text", " ")) >= 3
    )
    base = d.filter(F.col("doc_id") < 150)
    b1 = base.filter(F.col("doc_id") < 75)
    b2 = base.filter(F.col("doc_id") >= 75).unionByName(
        d.filter(F.col("doc_id") < 25)
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    empty = local_table(spark, [], "id long, band int, bucket string")
    s1, st1 = dedup_batch_against_state(b1, empty, base_hash="md5")
    s2, _ = dedup_batch_against_state(b2, st1, base_hash="md5")
    return (
        s1.select(F.lit(0).cast("int").alias("batch"), "doc_id")
        .unionByName(s2.select(F.lit(1).cast("int").alias("batch"), "doc_id"))
        .orderBy("batch", "doc_id")
    )


# ---- similarity search


@q("embedding_topk", """
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, e.vec_id,
         CAST(list_cosine_similarity(q.q_vec, e.embedding) AS DOUBLE) AS score
  FROM embeddings e CROSS JOIN q),
ranked AS (
  SELECT q_id, vec_id, score,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
ORDER BY q_id, rank
""")
def q_embedding_topk(spark, sf):
    from medacy_spark.operators.similarity import brute_force_topk
    # single-row-group parquet: fan the corpus out so the cosine pass is
    # cores-wide instead of one scan task (guide §2.5)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").repartition("vec_id")
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    # score excluded from the hash compare (float rounding differs in the
    # 15th digit between engines); rank is the verified output
    return brute_force_topk(emb, qs, k=10).select(
        "q_id", "vec_id", F.col("rank").cast("int").alias("rank")
    ).orderBy("q_id", "rank")


def _lsh_topk_sql() -> str:
    # The hyperplanes are deterministic arithmetic (similarity._hyperplane)
    # embedded as literals in the Spark plan — embed the SAME literals in
    # the oracle, so DuckDB reproduces the buckets, the candidate join, and
    # the ranking (score drift would only matter at an exact 0 dot product
    # or a float tie, neither of which the deterministic testdata hits).
    from medacy_spark.operators.similarity import _hyperplane

    def bucket(vcol: str) -> str:
        terms = []
        for p in range(8):
            lit = "[" + ",".join(repr(v) for v in _hyperplane(64, p + 1)) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product({vcol}, {lit}) > 0 THEN {1 << p} ELSE 0 END)"
            )
        return " + ".join(terms)

    return f"""
WITH c AS (SELECT vec_id, embedding, {bucket('embedding')} AS bucket FROM embeddings),
q AS (SELECT vec_id AS q_id, embedding AS q_vec, {bucket('embedding')} AS bucket
      FROM embeddings WHERE vec_id < 5),
scored AS (
  SELECT q.q_id, c.vec_id,
         CAST(list_cosine_similarity(q.q_vec, c.embedding) AS DOUBLE) AS score
  FROM c JOIN q ON c.bucket = q.bucket),
ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
ORDER BY q_id, rank
"""


@q("embedding_topk_lsh", _lsh_topk_sql())
def q_embedding_topk_lsh(spark, sf):
    from medacy_spark.operators.similarity import lsh_bucketed_topk
    # see q_embedding_topk: parallelize the bucket+cosine map work
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").repartition("vec_id")
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return lsh_bucketed_topk(emb, qs, dim=64, k=10).select(
        "q_id", "vec_id", F.col("rank").cast("int").alias("rank")
    ).orderBy("q_id", "rank")


# ---- text hygiene


@q("text_hygiene", """
WITH words AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
prof AS (
  SELECT doc_id, lang, len(ws) AS n_tokens,
         CAST(len(list_filter(ws, w -> w IN ({stops}))) AS DOUBLE) / len(ws) AS swr
  FROM words)
SELECT CASE WHEN swr >= 0.08 THEN 'en' ELSE 'unknown' END AS lang_pred,
       CAST(count(*) AS BIGINT) AS docs,
       round(CAST(avg(n_tokens) AS DOUBLE), 9) AS avg_tokens
FROM prof GROUP BY 1 ORDER BY 1
""".format(stops=_sql_list(lex.EN_STOPWORDS)))
def q_text_hygiene(spark, sf):
    from medacy_spark.operators.textstats import detect_language, token_count
    d = _docs(spark, sf)
    prof = d.select(
        detect_language(F.col("text")).alias("lang_pred"),
        token_count(F.col("text")).alias("n_tokens"),
    )
    return (
        prof.groupBy("lang_pred")
        .agg(F.count("*").alias("docs"), F.round(F.avg("n_tokens"), 9).alias("avg_tokens"))
        .orderBy("lang_pred")
    )


_FP_POWS = ", ".join(str(pow(31, e, 1000000007)) for e in range(16))


@q("doc_fingerprints", f"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(0, len(string_split(text, ' ')) - 1)) AS i
  FROM documents),
t AS (
  SELECT doc_id,
         (CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % 1000000007)
           * list_value({_FP_POWS})[CAST(i % 16 AS INT) + 1] % 1000000007 AS term
  FROM w)
SELECT doc_id, CAST(sum(term) % 1000000007 AS BIGINT) AS fingerprint
FROM t GROUP BY doc_id ORDER BY doc_id
""")
def q_doc_fingerprints(spark, sf):
    from medacy_spark.operators.textstats import doc_fingerprint
    return _docs_raw(spark, sf).select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    ).orderBy("doc_id")


# ---- connected components (oracle: recursive CTE on a small arithmetic graph)


@q("connected_components", """
WITH RECURSIVE nodes AS (SELECT doc_id AS n FROM documents WHERE doc_id < 120),
edges AS (
  SELECT doc_id AS a, (doc_id * 2) % 120 AS b FROM documents
  WHERE doc_id < 120 AND doc_id % 3 = 0),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(n, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT reach.n, und.b FROM reach JOIN und ON reach.r = und.a)
SELECT CAST(n AS BIGINT) AS node, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY n ORDER BY node
""")
def q_connected_components(spark, sf):
    from medacy_spark.operators.graph import connected_components
    d = _docs_raw(spark, sf).filter(F.col("doc_id") < 120).select("doc_id")
    edges = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("src"), ((F.col("doc_id") * 2) % 120).alias("dst")
    )
    nodes = d.select(F.col("doc_id").alias("node"))
    cc = connected_components(edges)
    # isolated nodes (no edges) are their own component
    out = nodes.join(cc, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )
    return out.orderBy("node")


# ---- clinical pipeline: real extraction vs arithmetic oracle


def _clin_ctes() -> str:
    def pick(arr, off):
        cases = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(arr))
        return f"CASE (h + {off}) % {len(arr)} {cases} END"

    return f"""
WITH sents AS (
  SELECT doc_id,
         unnest(generate_series(0, doc_id % 3)) AS sent_id
  FROM documents),
feat AS (
  SELECT doc_id, sent_id, (doc_id * 131 + sent_id * 17) AS h FROM sents),
vals AS (
  SELECT doc_id, sent_id, h % 4 AS kind,
         {pick(lex.DRUGS, 1)} AS drug,
         CAST(((h * 7 + 3) % 99) * 5 + 5 AS VARCHAR) AS num,
         {pick(lex.DOSE_UNITS, 2)} AS unit,
         {pick(lex.ROUTES, 3)} AS route,
         {pick(lex.FREQUENCIES, 4)} AS freq,
         CAST((h + 5) % 9 + 2 AS VARCHAR) AS dnum,
         {pick(lex.TIME_UNITS, 6)} AS timeunit,
         {pick(lex.ADES, 7)} AS ade,
         {pick(lex.DRUGS, 8)} AS drug_b,
         CAST(((h * 11 + 7) % 99) * 5 + 5 AS VARCHAR) AS num_b,
         {pick(lex.DOSE_UNITS, 9)} AS unit_b
  FROM feat),
-- kind-3 char offsets ("patient was prescribed " = 23 chars) for the
-- nearest-drug assignment arithmetic (extract_triples tie: earlier drug)
k3 AS (
  SELECT *,
         23 AS s_a,
         23 + length(drug) + 1 AS n_a,
         23 + length(drug) + 1 + length(num) + 1 + length(unit) + 1 + 4 AS s_b
  FROM vals WHERE kind = 3)
"""


_TRI_SELECT = """
SELECT doc_id, drug AS subj_text, 'has_dosage' AS pred, num || ' ' || unit AS obj_text
  FROM vals WHERE kind IN (0, 1)
UNION ALL
SELECT doc_id, drug, 'has_route', route FROM vals WHERE kind IN (0, 1)
UNION ALL
SELECT doc_id, drug, 'has_frequency', freq FROM vals WHERE kind IN (0, 1)
UNION ALL
SELECT doc_id, drug, 'has_duration', dnum || ' ' || timeunit FROM vals WHERE kind = 1
UNION ALL
SELECT doc_id, drug, 'has_ade', ade FROM vals WHERE kind = 2
UNION ALL
-- kind 3: dose A attaches to whichever drug is closer (tie -> drug A)
SELECT doc_id,
       CASE WHEN (n_a - s_a) <= (s_b - n_a) THEN drug ELSE drug_b END,
       'has_dosage', num || ' ' || unit
  FROM k3
UNION ALL
SELECT doc_id, drug_b, 'has_dosage', num_b || ' ' || unit_b FROM k3
UNION ALL
SELECT doc_id, drug_b, 'has_route', route FROM k3
UNION ALL
SELECT doc_id, drug_b, 'has_frequency', freq FROM k3
"""


def _clin_sql() -> str:
    return _clin_ctes() + _TRI_SELECT


@q("clinical_triples", _clin_sql())
def q_clinical_triples(spark, sf):
    """Runs the REAL pipeline — synth corpus → html wrap/extract → tokenize
    → gazetteer + unit matchers → mentions → nearest-drug triples — while
    the oracle recomputes the expected triples arithmetically. Row-exact
    match ⇔ extraction P/R = 1.0 on the clean corpus (≥0.95 north rule)."""
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.functions.html import extract_text_expr
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native

    ids = _clin_ids(spark, sf)
    docs = clinical_documents(ids)
    # consume text via the html extraction path (byte-identity exercised)
    texts = docs.select("doc_id", extract_text_expr(F.col("html")).alias("text"))
    toks = tokenize_native(texts)
    m = detect_mentions(toks, gazetteer_df(spark))
    tri = extract_triples(m)
    return tri.select(
        "doc_id",
        F.col("subj.text").alias("subj_text"),
        "pred",
        F.col("obj.text").alias("obj_text"),
    )


_CLIN_MENTION_COUNTS_SQL = """
WITH sents AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS sent_id FROM documents),
feat AS (SELECT doc_id, sent_id, (doc_id * 131 + sent_id * 17) % 4 AS kind FROM sents)
SELECT t.tag, CAST(count(*) AS BIGINT) AS cnt FROM (
  SELECT doc_id, 'Drug' AS tag FROM feat
  UNION ALL SELECT doc_id, 'Drug' FROM feat WHERE kind = 3
  UNION ALL SELECT doc_id, 'Dose' FROM feat WHERE kind IN (0,1,3)
  UNION ALL SELECT doc_id, 'Dose' FROM feat WHERE kind = 3
  UNION ALL SELECT doc_id, 'Route' FROM feat WHERE kind IN (0,1,3)
  UNION ALL SELECT doc_id, 'Frequency' FROM feat WHERE kind IN (0,1,3)
  UNION ALL SELECT doc_id, 'Duration' FROM feat WHERE kind = 1
  UNION ALL SELECT doc_id, 'ADE' FROM feat WHERE kind = 2) t
GROUP BY t.tag ORDER BY t.tag
"""


@q("clinical_mention_counts", _CLIN_MENTION_COUNTS_SQL)
def q_clinical_mention_counts(spark, sf):
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.tokenize import tokenize_native

    ids = _clin_ids(spark, sf)
    docs = clinical_documents(ids)
    toks = tokenize_native(docs.select("doc_id", "text"))
    m = detect_mentions(toks, gazetteer_df(spark))
    return m.groupBy("tag").agg(F.count("*").alias("cnt")).orderBy("tag")


# ---- J8/W7: the rx corpus — phrase gazetteer + full UnitOverlayer port.
# The SQL replays corpus/synth.py rx_documents arithmetic, tokenizes with
# string_split + running offsets, and re-expresses every matcher family as
# lead()/lag() predicates generated from the SAME vocab constants
# (operators/matchers.py) so both engines share one source of truth.


def _rx_ctes() -> str:
    def pick(arr, off):
        cases = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(arr))
        return f"CASE (h + {off}) % {len(arr)} {cases} END"

    return f"""
WITH rx_feat AS (
  SELECT doc_id, CAST(doc_id * 193 AS BIGINT) AS h, doc_id % 4 AS kind
  FROM documents),
rx_vals AS (
  SELECT doc_id, kind,
         {pick(lex.PHRASE_DRUGS, 1)} AS ph,
         {pick(lex.DRUGS, 2)} AS dr,
         CAST((h * 3 + 11) % 97 + 1 AS VARCHAR) AS n1,
         CAST((h * 5 + 13) % 97 + 1 AS VARCHAR) AS n2,
         CAST(h % 9 + 2 AS VARCHAR) AS n3,
         CAST(h % 6 + 1 AS VARCHAR) AS n4,
         CAST(h % 100 AS VARCHAR) AS n5
  FROM rx_feat),
rx_txt AS (
  SELECT doc_id, CASE kind
    WHEN 0 THEN 'patient took ' || ph || ' ' || n1 || ' mg / ml by mouth as needed .'
    WHEN 1 THEN 'infusion of ' || ph || ' at ' || n2 || ' ml / hour in ' || n3 || ' days .'
    WHEN 2 THEN 'apply ' || n4 || ' x tablet once a day prn .'
    ELSE 'level fell ' || n5 || ' % after ' || dr || ' via mucous membrane twice a day .'
  END AS text FROM rx_vals),
rx_raw AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM rx_txt),
rx_tokens AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
         CAST(coalesce(sum(length(word)+1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start,
         CAST(coalesce(sum(length(word)+1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + length(word) AS BIGINT) AS "end"
  FROM rx_raw),
rx_nb AS (
  SELECT doc_id, pos, word, lower(word) AS l0, start, "end",
         lead(word, 1) OVER w AS o1, lower(lead(word, 1) OVER w) AS l1,
         CAST(lead("end", 1) OVER w AS BIGINT) AS e1,
         lead(word, 2) OVER w AS o2, lower(lead(word, 2) OVER w) AS l2,
         CAST(lead("end", 2) OVER w AS BIGINT) AS e2,
         lead(word, 3) OVER w AS o3, lower(lead(word, 3) OVER w) AS l3,
         CAST(lead("end", 3) OVER w AS BIGINT) AS e3,
         lower(lag(word, 1) OVER w) AS b1, lower(lag(word, 2) OVER w) AS b2
  FROM rx_tokens WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
"""


def _rx_pred(which: str, l: str, o: str) -> str:
    """SQL predicate for a single-token matcher family at a given
    lower/orth column pair — generated from operators.matchers vocab."""
    from medacy_spark.operators import matchers as mt

    if which == "mass":
        return f"({l} IN ({_sql_list(mt.MASS_LOWER)}) OR {o} IN ({_sql_list(mt.MASS_ORTH)}))"
    if which == "volume":
        return f"({l} IN ({_sql_list(mt.VOLUME_LOWER)}) OR {o} IN ({_sql_list(mt.VOLUME_ORTH)}))"
    if which == "time":
        return f"({l} IN ({_sql_list(mt.TIME_LOWER)}))"
    if which == "form":
        return (
            f"({o} IN ({_sql_list(mt.FORM_ORTH)})"
            f" OR regexp_replace({l}, 's$', '') IN ({_sql_list(mt.FORM_LEMMA)})"
            f" OR {l} IN ({_sql_list(mt.FORM_LOWER)}))"
        )
    if which == "route":
        return (
            f"({l} IN ({_sql_list(mt.ROUTE_LOWER)})"
            f" OR {o} IN ({_sql_list(mt.ROUTE_ORTH)})"
            f" OR regexp_replace({l}, 's$', '') IN ({_sql_list(mt.ROUTE_LEMMA)}))"
        )
    if which == "freq":
        return f"({l} IN ({_sql_list(mt.FREQ_LOWER)}))"
    raise KeyError(which)


_RX_NUM = r"regexp_full_match({}, '\d+(\.\d+)?')"


def _rx_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from medacy_spark.corpus.synth import rx_documents

    return rx_documents(_clin_ids(spark, sf_dir))


def _gaz_phrase_sql() -> str:
    one = [t for t in lex.DRUGS if " " not in t]
    two = [t for t in lex.PHRASE_DRUGS if t.count(" ") == 1]
    three = [t for t in lex.PHRASE_DRUGS if t.count(" ") == 2]
    return _rx_ctes() + f"""
SELECT * FROM (
  SELECT doc_id, 'Drug' AS tag, start, "end", word AS text
  FROM rx_tokens WHERE lower(word) IN ({_sql_list(one)})
  UNION ALL
  SELECT doc_id, 'Drug', start, e1, word || ' ' || o1
  FROM rx_nb WHERE lower(word || ' ' || o1) IN ({_sql_list(two)})
  UNION ALL
  SELECT doc_id, 'Drug', start, e2, word || ' ' || o1 || ' ' || o2
  FROM rx_nb WHERE lower(word || ' ' || o1 || ' ' || o2) IN ({_sql_list(three)})
) ORDER BY doc_id, start, "end"
"""


@q("gazetteer_phrase_match", _gaz_phrase_sql())
def q_gazetteer_phrase_match(spark, sf):
    """J8: multi-word PhraseMatcher semantics — n-gram broadcast join, all
    matches emitted (a unigram drug inside a matched phrase also matches,
    spaCy PhraseMatcher is not longest-only)."""
    from medacy_spark.operators.mentions import gazetteer_mentions
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(_rx_docs(spark, sf))
    gaz = local_table(
        spark, [("Drug", t) for t in lex.DRUGS + lex.PHRASE_DRUGS],
        "label string, term string",
    )
    m = gazetteer_mentions(toks, gaz, max_ngram=3)
    return m.select("doc_id", "tag", "start", "end", "text").orderBy(
        "doc_id", "start", "end"
    )


def _compound_sql() -> str:
    num0 = _RX_NUM.format("word")
    m0, v0, t0, f0 = (_rx_pred(w, "l0", "word") for w in ("mass", "volume", "time", "form"))
    m1, v1, t1, f1 = (_rx_pred(w, "l1", "o1") for w in ("mass", "volume", "time", "form"))
    v2, t2, f2 = (_rx_pred(w, "l2", "o2") for w in ("volume", "time", "form"))
    v3, t3 = (_rx_pred(w, "l3", "o3") for w in ("volume", "time"))
    compound1 = (
        f"(({m1} AND o2 = '/' AND {v3}) OR ({v1} AND o2 = '/' AND {t3})"
        f" OR ({f1} AND o2 = '/' AND {v3}))"
    )
    return _rx_ctes() + f"""
SELECT * FROM (
  SELECT doc_id, 'measurement_unit' AS family, start, e2 AS "end",
         word || ' ' || o1 || ' ' || o2 AS text
  FROM rx_nb WHERE o1 = '/' AND (({m0} AND {v2}) OR ({v0} AND {t2}) OR ({f0} AND {v2}))
  UNION ALL
  SELECT doc_id, 'measurement', start, e1, word || ' ' || o1
  FROM rx_nb WHERE {num0} AND (o1 = '%' OR {m1} OR {v1} OR {f1})
  UNION ALL
  SELECT doc_id, 'measurement', start, e2, word || ' ' || o1 || ' ' || o2
  FROM rx_nb WHERE {num0} AND l1 = 'x' AND {f2}
  UNION ALL
  SELECT doc_id, 'measurement', start, e3,
         word || ' ' || o1 || ' ' || o2 || ' ' || o3
  FROM rx_nb WHERE {num0} AND {compound1}
) ORDER BY doc_id, start, "end", family
"""


@q("compound_unit_pairs", _compound_sql())
def q_compound_unit_pairs(spark, sf):
    """W7: x/y compound measurement units (unit_component.py:152-156) and
    the five measurement shapes (157-165) over the rx corpus."""
    from medacy_spark.operators.matchers import unit_spans
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(_rx_docs(spark, sf))
    s = unit_spans(toks)
    return s.filter(
        F.col("family").isin("measurement_unit", "measurement")
    ).select("doc_id", "family", "start", "end", "text").orderBy(
        "doc_id", "start", "end", "family"
    )


def _dfr_sql() -> str:
    num1 = _RX_NUM.format("o1")
    t1 = _rx_pred("time", "l1", "o1")
    t2 = _rx_pred("time", "l2", "o2")
    r0 = _rx_pred("route", "l0", "word")
    q0 = _rx_pred("freq", "l0", "word")
    num0 = _RX_NUM.format("word")
    return _rx_ctes() + f"""
SELECT * FROM (
  SELECT doc_id, 'duration_pattern' AS family, start, e1 AS "end",
         word || ' ' || o1 AS text
  FROM rx_nb WHERE {num0} AND {t1}
  UNION ALL
  SELECT doc_id, 'duration_pattern', start, e2, word || ' ' || o1 || ' ' || o2
  FROM rx_nb WHERE l0 = 'in' AND {num1} AND {t2}
  UNION ALL
  SELECT doc_id, 'duration_pattern', start, "end", word
  FROM rx_nb WHERE l0 = 'prn'
  UNION ALL
  SELECT doc_id, 'frequency_indicator', start, "end", word
  FROM rx_nb WHERE {q0}
  UNION ALL
  SELECT doc_id, 'frequency_indicator', start, e1, word || ' ' || o1
  FROM rx_nb WHERE l0 = 'as' AND l1 = 'needed'
  UNION ALL
  SELECT doc_id, 'frequency_indicator', start, e2, word || ' ' || o1 || ' ' || o2
  FROM rx_nb WHERE l0 IN ('once', 'twice') AND l1 = 'a' AND l2 = 'day'
  UNION ALL
  SELECT doc_id, 'route_type', start, "end", word
  FROM rx_nb WHERE {r0}
  UNION ALL
  SELECT doc_id, 'route_type', start, e1, word || ' ' || o1
  FROM rx_nb WHERE (l0 = 'by' AND l1 = 'mouth') OR (l0 = 'mucous' AND l1 = 'membrane')
) ORDER BY doc_id, start, "end", family
"""


@q("duration_frequency_route_spans", _dfr_sql())
def q_duration_frequency_route_spans(spark, sf):
    """W7: duration patterns incl. the 3-token 'in N <time>' shape
    (unit_component.py:167-172 — the {'POS':'PREP'} variant is dead, see
    operators/matchers.py), multi-word frequency (97-108) and route
    (139, 144) phrases."""
    from medacy_spark.operators.matchers import unit_spans
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(_rx_docs(spark, sf))
    s = unit_spans(toks)
    return s.filter(
        F.col("family").isin("duration_pattern", "frequency_indicator", "route_type")
    ).select("doc_id", "family", "start", "end", "text").orderBy(
        "doc_id", "start", "end", "family"
    )


def _flags_sql() -> str:
    m0 = _rx_pred("mass", "l0", "word")
    v0 = _rx_pred("volume", "l0", "word")
    t0 = _rx_pred("time", "l0", "word")
    f0 = _rx_pred("form", "l0", "word")
    q0 = _rx_pred("freq", "l0", "word")
    r0 = _rx_pred("route", "l0", "word")
    freq = (
        f"({q0} OR (l0 = 'as' AND l1 = 'needed') OR (l0 = 'needed' AND b1 = 'as')"
        " OR (l0 IN ('once','twice') AND l1 = 'a' AND l2 = 'day')"
        " OR (l0 = 'a' AND b1 IN ('once','twice') AND l1 = 'day')"
        " OR (l0 = 'day' AND b1 = 'a' AND b2 IN ('once','twice')))"
    )
    route = (
        f"({r0} OR (l0 = 'by' AND l1 = 'mouth') OR (l0 = 'mouth' AND b1 = 'by')"
        " OR (l0 = 'mucous' AND l1 = 'membrane')"
        " OR (l0 = 'membrane' AND b1 = 'mucous'))"
    )
    return _rx_ctes() + f"""
SELECT doc_id, pos, word,
       CAST({m0} AS INT) AS is_mass,
       CAST({v0} AS INT) AS is_volume,
       CAST({t0} AS INT) AS is_time,
       CAST({f0} AS INT) AS is_form,
       CAST({freq} AS INT) AS is_freq,
       CAST({route} AS INT) AS is_route
FROM rx_nb ORDER BY doc_id, pos
"""


@q("unit_token_flags", _flags_sql())
def q_unit_token_flags(spark, sf):
    """W7: the six per-token feature_is_* booleans the reference registers
    (unit_component.py:21-37), incl. phrase-membership for frequency and
    route (every token inside a matched span is flagged)."""
    from medacy_spark.operators.matchers import unit_token_flags
    from medacy_spark.operators.tokenize import tokenize_native

    toks = tokenize_native(_rx_docs(spark, sf))
    fl = unit_token_flags(toks)
    return fl.select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("pos"),
        "word",
        F.col("feature_is_mass_unit").cast("int").alias("is_mass"),
        F.col("feature_is_volume_unit").cast("int").alias("is_volume"),
        F.col("feature_is_time_unit").cast("int").alias("is_time"),
        F.col("feature_is_form_unit").cast("int").alias("is_form"),
        F.col("feature_is_frequency_indicator").cast("int").alias("is_freq"),
        F.col("feature_is_route_type").cast("int").alias("is_route"),
    ).orderBy("doc_id", "pos")


# ---- M5/M6: the materialized KG (the north-star node/edge tables).
# The Spark side runs the REAL path — detect mentions, link to CUIs,
# extract triples, canonicalize over same_as edges, aggregate nodes/edges.
# The oracle recomputes the same tables in closed form: every linked
# surface's component minimum is its 'c:<cui>' node ('c:' < 't:'
# lexicographically and each surface maps to one CUI in the synthetic
# dictionary), unlinked surfaces stay 't:<text>'. graph.canonicalize_triples
# checks that condition on the data and takes the same closed form
# (connected components only when a surface links to two CUIs).


def _kg_e_base() -> str:
    dict_vals = ", ".join(
        f"('{t}', '{c}')" for t, c, _ in lex.cui_dictionary_rows()
    )
    return f"""{_clin_ctes()}, tri AS ({_TRI_SELECT}),
dict(term, cui) AS (VALUES {dict_vals}),
tc AS (SELECT term, min(cui) AS cui FROM dict GROUP BY term),
e AS (
  SELECT coalesce('c:' || ts.cui, 't:' || lower(subj_text)) AS src_id,
         pred,
         coalesce('c:' || td.cui, 't:' || lower(obj_text)) AS dst_id,
         lower(subj_text) AS s_name, lower(obj_text) AS o_name
  FROM tri
  LEFT JOIN tc ts ON lower(tri.subj_text) = ts.term
  LEFT JOIN tc td ON lower(tri.obj_text) = td.term)
"""


def _kg_sql(which: str) -> str:
    base = _kg_e_base()
    if which == "edges":
        return base + """
SELECT src_id, pred, dst_id, CAST(count(*) AS BIGINT) AS weight
FROM e GROUP BY src_id, pred, dst_id ORDER BY src_id, pred, dst_id
"""
    return base + """
, n AS (
  SELECT src_id AS canonical_id, s_name AS name FROM e
  UNION ALL
  SELECT dst_id, o_name FROM e)
SELECT canonical_id,
       array_to_string(list_sort(list_distinct(list(name))), ',') AS names
FROM n GROUP BY canonical_id ORDER BY canonical_id
"""


def _kg_tables(spark: SparkSession, sf: str):
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.graph import materialize_nodes_edges
    from medacy_spark.operators.linking import cui_dictionary, link_mentions
    from medacy_spark.operators.mentions import detect_mentions, gazetteer_df
    from medacy_spark.operators.relations import extract_triples
    from medacy_spark.operators.tokenize import tokenize_native

    ids = _clin_ids(spark, sf)
    docs = clinical_documents(ids)
    toks = tokenize_native(docs.select("doc_id", "text"))
    # the mention table feeds BOTH the linker and the triple extractor —
    # cut the lineage before branching (the single-pass rule)
    m = detect_mentions(toks, gazetteer_df(spark)).localCheckpoint(eager=False)
    links = link_mentions(m, cui_dictionary(spark))
    tri = extract_triples(m)
    return materialize_nodes_edges(links, tri)


@q("kg_edges", _kg_sql("edges"))
def q_kg_edges(spark, sf):
    _, edges = _kg_tables(spark, sf)
    return edges.select("src_id", "pred", "dst_id", "weight").orderBy(
        "src_id", "pred", "dst_id"
    )


@q("kg_nodes", _kg_sql("nodes"))
def q_kg_nodes(spark, sf):
    nodes, _ = _kg_tables(spark, sf)
    return nodes.select(
        "canonical_id", F.array_join("names", ",").alias("names")
    ).orderBy("canonical_id")


# ---- PageRank over the KG: fixed-iteration weighted power method,
# dangling mass NOT redistributed (the classic MapReduce formulation —
# graph.pagerank's docstring). The oracle unrolls the iterations as
# chained CTEs over the same canonical edge base; float arithmetic is
# parenthesized identically on both engines (share = weight / wout
# first, then rank × share) so only sum ordering differs — far inside
# the round-to-9 tolerance.

_PR_ITERS = 6
_PR_DAMPING = 0.85


def _pagerank_tail_sql() -> str:
    """The iteration chain + final select, given an ``ed(src_id, dst_id,
    weight)`` CTE in scope — shared by every pagerank oracle so the
    float parenthesization can never drift between graph bases."""
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(f"""pr{k} AS (
  SELECT nd.node,
         (1.0 - {_PR_DAMPING}) / (SELECT n FROM nn) + {_PR_DAMPING} * coalesce(c.contrib, 0.0) AS rnk
  FROM nodes nd LEFT JOIN (
    SELECT ed.dst_id AS node, sum(p.rnk * (ed.weight / o.wout)) AS contrib
    FROM pr{k - 1} p
    JOIN ed ON p.node = ed.src_id
    JOIN outd o ON ed.src_id = o.src_id
    GROUP BY ed.dst_id) c ON nd.node = c.node)""")
    chain = ",\n".join(steps)
    return f"""nodes AS (SELECT src_id AS node FROM ed UNION SELECT dst_id FROM ed),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
outd AS (SELECT src_id, sum(weight) AS wout FROM ed GROUP BY src_id),
pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rnk FROM nodes),
{chain}
SELECT node, round(rnk, 9) AS pagerank
FROM pr{_PR_ITERS} ORDER BY node
"""


def _pagerank_sql() -> str:
    return f"""{_kg_e_base()},
ed AS (
  SELECT src_id, dst_id, CAST(count(*) AS DOUBLE) AS weight
  FROM e GROUP BY src_id, dst_id),
{_pagerank_tail_sql()}"""


@q("kg_pagerank", _pagerank_sql())
def q_kg_pagerank(spark, sf):
    from medacy_spark.operators.graph import pagerank

    _, edges = _kg_tables(spark, sf)
    ed = edges.groupBy("src_id", "dst_id").agg(
        F.sum("weight").cast("double").alias("weight")
    )
    pr = pagerank(
        ed,
        src="src_id",
        dst="dst_id",
        weight="weight",
        iterations=_PR_ITERS,
        damping=_PR_DAMPING,
    )
    return pr.select("node", F.round("pagerank", 9).alias("pagerank")).orderBy(
        "node"
    )


# ---- X4: stratified fold assignment (reference create_folds semantics)


@q("fold_assignment", BASE_CTES + """
, seqs AS (
  SELECT doc_id, min(word) AS first_label
  FROM tokens WHERE word IN ({kw}) GROUP BY doc_id)
SELECT doc_id,
       CAST((row_number() OVER (ORDER BY first_label, doc_id) - 1) % 5 AS INT) AS fold
FROM seqs ORDER BY doc_id
""".format(kw=_sql_list(KEYWORDS)))
def q_fold_assignment(spark, sf):
    from medacy_spark.operators.folds import assign_folds
    t = tokens_df(spark, sf)
    seqs = (
        t.filter(F.col("word").isin(KEYWORDS))
        .groupBy("doc_id")
        .agg(F.collect_set("word").alias("labels"))
        .withColumnRenamed("doc_id", "seq_id")
    )
    return assign_folds(seqs, 5).withColumnRenamed("seq_id", "doc_id").orderBy("doc_id")


# ---- J7: gold overlay with boundary repair


@q("gold_overlay", BASE_CTES + """
, g AS (
  -- gold spans, deliberately end-shifted +1 when (doc_id+pos)%7=0 so the
  -- repair path (delta -1) is exercised
  SELECT doc_id, tag, start,
         CASE WHEN (doc_id + pos) % 7 = 0 THEN "end" + 1 ELSE "end" END AS gend
  FROM gold),
starts AS (SELECT DISTINCT doc_id, start AS b FROM tokens),
ends AS (SELECT DISTINCT doc_id, "end" AS b FROM tokens),
fixed AS (
  SELECT g.doc_id, g.tag, g.start,
         CASE
           WHEN EXISTS (SELECT 1 FROM ends e WHERE e.doc_id = g.doc_id AND e.b = g.gend) THEN g.gend
           WHEN EXISTS (SELECT 1 FROM ends e WHERE e.doc_id = g.doc_id AND e.b = g.gend - 1) THEN g.gend - 1
           WHEN EXISTS (SELECT 1 FROM ends e WHERE e.doc_id = g.doc_id AND e.b = g.gend + 1) THEN g.gend + 1
         END AS fend
  FROM g
  WHERE EXISTS (SELECT 1 FROM starts s WHERE s.doc_id = g.doc_id AND s.b = g.start))
SELECT t.doc_id, CAST(t.start AS BIGINT) AS idx, f.tag AS gold_label
FROM tokens t JOIN fixed f
  ON t.doc_id = f.doc_id AND t.start >= f.start AND t."end" <= f.fend
WHERE f.fend IS NOT NULL
ORDER BY t.doc_id, idx
""")
def q_gold_overlay(spark, sf):
    from medacy_spark.operators.overlay import gold_overlay
    t = tokens_df(spark, sf).select(
        "doc_id", F.col("start").alias("idx"), F.col("end").alias("end_idx"), "word"
    )
    g = gold_df(spark, sf).select(
        "doc_id", "tag", "start",
        F.when((F.col("doc_id") + F.col("pos")) % 7 == 0, F.col("end") + 1)
        .otherwise(F.col("end")).alias("end"),
    )
    out = gold_overlay(t, g)
    return out.filter(F.col("gold_label") != "O").select(
        "doc_id", F.col("idx").cast("long").alias("idx"), "gold_label"
    ).orderBy("doc_id", "idx")


# ---- P2/O2/O6: ordered data limit


@q("data_limit", """
SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 100
""")
def q_data_limit(spark, sf):
    return (
        _docs_raw(spark, sf).select("doc_id", "n_chars").orderBy("doc_id").limit(100)
    )


# ---- embedding-cosine near-dup pairs (dedup family)


@q("embedding_near_dups", """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE a.vec_id < 200 AND b.vec_id < 200
  AND list_cosine_similarity(a.embedding, b.embedding) >= 0.25
ORDER BY id_a, id_b
""")
def q_embedding_near_dups(spark, sf):
    from medacy_spark.operators.dedup import embedding_near_dups
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").filter("vec_id < 200")
    # exact variant (n_planes=0) so the oracle matches; cosine column
    # excluded from the hash (float rounding differs across engines)
    return embedding_near_dups(emb, threshold=0.25).select(
        "id_a", "id_b"
    ).orderBy("id_a", "id_b")


@q("embedding_topk_ivf", """
WITH seeds AS (
  SELECT vec_id AS cell, embedding AS c_vec FROM embeddings ORDER BY vec_id LIMIT 16),
c_cell AS (
  SELECT e.vec_id, e.embedding, s.cell FROM embeddings e CROSS JOIN seeds s
  QUALIFY row_number() OVER (
    PARTITION BY e.vec_id
    ORDER BY list_cosine_similarity(e.embedding, s.c_vec) DESC, s.cell ASC) = 1),
q_cell AS (
  SELECT q_id, q_vec, cell FROM (
    SELECT e.vec_id AS q_id, e.embedding AS q_vec, s.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.embedding, s.c_vec) DESC, s.cell ASC
           ) AS rn
    FROM embeddings e CROSS JOIN seeds s WHERE e.vec_id < 5) WHERE rn <= 4),
scored AS (
  SELECT DISTINCT q.q_id, c.vec_id,
         CAST(list_cosine_similarity(q.q_vec, c.embedding) AS DOUBLE) AS score
  FROM c_cell c JOIN q_cell q ON c.cell = q.cell),
ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored)
SELECT q_id, vec_id, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 10
ORDER BY q_id, rank
""")
def q_embedding_topk_ivf(spark, sf):
    # kmeans_iters=0: seed centroids are fixed ROWS, so every float op is
    # row-local (no cross-row mean whose summation order differs between
    # engines) and the oracle replays assignment/probing exactly. The
    # k-means refinement path is gate-tested separately (recall@10 ≥ 0.9,
    # tests/test_dedup_similarity.py).
    from medacy_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    return ivf_topk(emb, qs, n_cells=16, n_probe=4, k=10, kmeans_iters=0).select(
        "q_id", "vec_id", F.col("rank").cast("int").alias("rank")
    ).orderBy("q_id", "rank")


# ---- A5/X4/J12: full cross-validation evaluation flow


@q("cross_fold_measures", BASE_CTES + """
, seqs AS (
  SELECT doc_id, min(word) AS first_label
  FROM tokens WHERE word IN ({kw}) GROUP BY doc_id),
folds AS (
  SELECT doc_id,
         CAST((row_number() OVER (ORDER BY first_label, doc_id) - 1) % 3 AS INT) AS fold
  FROM seqs),
gc AS (SELECT f.fold, g.tag, g.doc_id, g.start, g."end", count(*) AS c
       FROM gold g JOIN folds f ON g.doc_id = f.doc_id GROUP BY ALL),
sc AS (SELECT f.fold, p.tag, p.doc_id, p.start, p."end", count(*) AS c
       FROM pred p JOIN folds f ON p.doc_id = f.doc_id GROUP BY ALL),
key_tp AS (
  SELECT gc.fold, gc.tag, least(gc.c, sc.c) AS tp
  FROM gc JOIN sc ON gc.fold = sc.fold AND gc.doc_id = sc.doc_id
   AND gc.tag = sc.tag AND gc.start = sc.start AND gc."end" = sc."end"),
gtot AS (SELECT f.fold, tag, CAST(count(*) AS BIGINT) AS g
         FROM gold JOIN folds f ON gold.doc_id = f.doc_id GROUP BY f.fold, tag),
stot AS (SELECT f.fold, tag, CAST(count(*) AS BIGINT) AS s
         FROM pred JOIN folds f ON pred.doc_id = f.doc_id GROUP BY f.fold, tag),
per AS (
  SELECT gt.fold, gt.tag AS label,
         CASE WHEN coalesce(s,0) = 0 THEN 0.0
              ELSE CAST(coalesce(tp,0) AS DOUBLE) / s END AS precision,
         CASE WHEN g = 0 THEN 0.0 ELSE CAST(coalesce(tp,0) AS DOUBLE) / g END AS recall
  FROM gtot gt
  LEFT JOIN stot st ON gt.fold = st.fold AND gt.tag = st.tag
  LEFT JOIN (SELECT fold, tag, CAST(sum(tp) AS BIGINT) AS tp FROM key_tp GROUP BY fold, tag) t
    ON gt.fold = t.fold AND gt.tag = t.tag)
SELECT label,
       round(CAST(avg(precision) AS DOUBLE), 9) AS avg_precision,
       round(CAST(min(precision) AS DOUBLE), 9) AS min_precision,
       round(CAST(max(precision) AS DOUBLE), 9) AS max_precision,
       round(CAST(avg(recall) AS DOUBLE), 9) AS avg_recall,
       round(CAST(min(recall) AS DOUBLE), 9) AS min_recall,
       round(CAST(max(recall) AS DOUBLE), 9) AS max_recall
FROM per GROUP BY label ORDER BY label
""".format(kw=_sql_list(KEYWORDS)))
def q_cross_fold_measures(spark, sf):
    """X4 folds → per-fold strict P/R per tag (tp consumed == tp for this
    corpus: no duplicate spans) → A5 mean/min/max per label."""
    from medacy_spark.operators.folds import assign_folds

    t = tokens_df(spark, sf)
    seqs = (
        t.filter(F.col("word").isin(KEYWORDS))
        .groupBy("doc_id").agg(F.collect_set("word").alias("labels"))
        .withColumnRenamed("doc_id", "seq_id")
    )
    folds = assign_folds(seqs, 3).withColumnRenamed("seq_id", "doc_id")
    g = gold_df(spark, sf).join(folds, "doc_id")
    p = pred_df(spark, sf).join(folds, "doc_id")
    gkey = g.groupBy("fold", "tag", "doc_id", "start", "end").agg(F.count("*").alias("gc"))
    skey = p.groupBy("fold", "tag", "doc_id", "start", "end").agg(F.count("*").alias("sc"))
    tp = (
        gkey.join(skey, ["fold", "tag", "doc_id", "start", "end"])
        .groupBy("fold", "tag").agg(F.sum(F.least("gc", "sc")).alias("tp"))
    )
    gtot = g.groupBy("fold", "tag").agg(F.count("*").alias("g"))
    stot = p.groupBy("fold", "tag").agg(F.count("*").alias("s"))
    per = (
        gtot.join(stot, ["fold", "tag"], "left")
        .join(tp, ["fold", "tag"], "left")
        .na.fill(0, ["s", "tp"])
        .select(
            "fold", F.col("tag").alias("label"),
            F.when(F.col("s") == 0, 0.0).otherwise(F.col("tp") / F.col("s")).alias("precision"),
            F.when(F.col("g") == 0, 0.0).otherwise(F.col("tp") / F.col("g")).alias("recall"),
        )
    )
    return per.groupBy("label").agg(
        F.round(F.avg("precision"), 9).alias("avg_precision"),
        F.round(F.min("precision"), 9).alias("min_precision"),
        F.round(F.max("precision"), 9).alias("max_precision"),
        F.round(F.avg("recall"), 9).alias("avg_recall"),
        F.round(F.min("recall"), 9).alias("min_recall"),
        F.round(F.max("recall"), 9).alias("max_recall"),
    ).orderBy("label")


# ---- A9: vocabulary index (deterministic order)


@q("vocab_index", BASE_CTES + """
SELECT tag, CAST(row_number() OVER (ORDER BY tag) - 1 AS INT) AS index
FROM (SELECT DISTINCT tag FROM gold) ORDER BY tag
""")
def q_vocab_index(spark, sf):
    from medacy_spark.operators.features import vocab_index
    return vocab_index(gold_df(spark, sf), "tag").orderBy("tag")


# ---- W1/X1 tail: per-sentence FeatureTuples. The map columns themselves
# hash unstably across engines, so the query projects per-sentence sizes;
# those ARE oracle-checkable because every clinical template kind has a
# fixed token count (all lexicon entries are single words):
# kind 0 → 9 tokens, 1 → 12, 2 → 7, 3 → 13 (corpus/synth.py:77-106).


@q("feature_tuples", """
WITH sents AS (
  SELECT doc_id, unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS sent_id
  FROM documents WHERE doc_id < 200),
k AS (
  SELECT doc_id, CAST(sent_id AS INT) AS sent_id,
         ((doc_id * 131 + sent_id * 17) % 4) AS kind
  FROM sents)
SELECT doc_id, sent_id,
       CAST(CASE kind WHEN 0 THEN 9 WHEN 1 THEN 12 WHEN 2 THEN 7 ELSE 13 END AS INT) AS n_tokens,
       CAST(CASE kind WHEN 0 THEN 9 WHEN 1 THEN 12 WHEN 2 THEN 7 ELSE 13 END AS INT) AS n_spans
FROM k ORDER BY doc_id, sent_id
""")
def q_feature_tuples(spark, sf):
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.features import extract_feature_tuples
    from medacy_spark.operators.tokenize import tokenize_native

    ids = _clin_ids(spark, sf).filter(F.col("doc_id") < 200)
    toks = tokenize_native(clinical_documents(ids).select("doc_id", "text"))
    ft = extract_feature_tuples(toks, window_size=3)
    return ft.select(
        "doc_id", "sent_id",
        F.size("features").alias("n_tokens"),
        F.size("indices").alias("n_spans"),
    ).orderBy("doc_id", "sent_id")


# ---- TextExtractor (text_extractor.py:5-30): bare token texts + spans
# per sentence. Unlike feature_tuples' map columns, the outputs here are
# plain strings, so the oracle checks the actual VALUES: DuckDB replays
# the single-space tokenizer with offsets and the '.'-boundary sentence
# rule, then string_aggs per sentence in pos order.


@q("text_extractor", """
WITH _raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents),
t AS (
  SELECT doc_id, CAST(pos AS BIGINT) AS pos, word,
         CAST(coalesce(sum(length(word)+1) OVER w, 0) AS BIGINT) AS start,
         CAST(coalesce(sum(length(word)+1) OVER w, 0) + length(word) AS BIGINT) AS "end",
         CAST(coalesce(sum(CASE WHEN word = '.' THEN 1 ELSE 0 END) OVER w, 0) AS INT) AS sent_id
  FROM _raw
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
SELECT doc_id, sent_id,
       string_agg(word, ' ' ORDER BY pos) AS token_text,
       string_agg(CAST(start AS VARCHAR) || ':' || CAST("end" AS VARCHAR),
                  ' ' ORDER BY pos) AS spans,
       CAST(count(*) AS INT) AS n_tokens
FROM t GROUP BY doc_id, sent_id ORDER BY doc_id, sent_id
""")
def q_text_extractor(spark, sf):
    from medacy_spark.operators.features import text_extractor_tuples
    from medacy_spark.operators.tokenize import tokenize_native

    docs = _docs(spark, sf).select("doc_id", "text")
    tet = text_extractor_tuples(tokenize_native(docs))
    return tet.select(
        "doc_id", "sent_id",
        F.array_join("features", " ").alias("token_text"),
        F.array_join(
            F.transform(
                "indices",
                lambda s: F.concat_ws(
                    ":", s["start"].cast("string"), s["end"].cast("string")
                ),
            ),
            " ",
        ).alias("spans"),
        F.size("features").alias("n_tokens"),
    ).orderBy("doc_id", "sent_id")


# ---- W6: line/word coordinate index (newline injected after every 8th
# word; the oracle replays the same regex injection + offset formula)


@q("line_word_index", r"""
WITH d AS (
  -- newline every 8 words, then every 4th remaining space becomes a
  -- TAB+SPACE run: the oracle proves the exact-offset recovery on mixed
  -- multi-char whitespace, not just the single-space corpus contract
  SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '((\S+ ){7}\S+) ', '\1' || chr(10), 'g'),
           '((\S+ ){3}\S+) ', '\1' || chr(9) || ' ', 'g') AS text
  FROM documents),
l AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS line_no
  FROM d),
ls AS (
  SELECT doc_id, CAST(line_no AS INT) AS line_no, line,
         coalesce(sum(length(line) + 1) OVER (
             PARTITION BY doc_id ORDER BY line_no
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS line_start
  FROM l),
e AS (
  -- split on SINGLE whitespace chars: every element (incl. the empties a
  -- run produces) consumed length+1 chars -> running sum is exact
  SELECT doc_id, line_no, line_start,
         unnest(string_split_regex(line, '\s')) AS word,
         unnest(generate_series(1, len(string_split_regex(line, '\s')))) AS elem_idx
  FROM ls),
o AS (
  SELECT doc_id, line_no, word, line_start,
         coalesce(sum(length(word) + 1) OVER (
             PARTITION BY doc_id, line_no ORDER BY elem_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off,
         coalesce(sum(CASE WHEN length(word) > 0 THEN 1 ELSE 0 END) OVER (
             PARTITION BY doc_id, line_no ORDER BY elem_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS word_no
  FROM e)
SELECT doc_id, line_no, CAST(word_no AS INT) AS word_no,
       CAST(line_start + off AS BIGINT) AS abs_start,
       CAST(line_start + off + length(word) AS BIGINT) AS abs_end, word
FROM o WHERE length(word) > 0 ORDER BY doc_id, line_no, word_no
""")
def q_line_word_index(spark, sf):
    from medacy_spark.sources.converters import line_word_index
    d = _docs(spark, sf).select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", r"((\S+ ){7}\S+) ", "$1\n"),
            r"((\S+ ){3}\S+) ", "$1\t ",
        ).alias("text"),
    )
    return line_word_index(d).orderBy("doc_id", "line_no", "word_no")


# ---- S9: con round-trip. mentions → con lines → parse → mentions is the
# identity on the gold relation (texts are lowercase single tokens), so
# the oracle is simply gold itself — an exact round-trip assertion.


@q("con_roundtrip", BASE_CTES + """
SELECT doc_id, tag, start, "end", text FROM gold ORDER BY doc_id, start
""")
def q_con_roundtrip(spark, sf):
    from medacy_spark.sources.converters import con_to_mentions, mentions_to_con, parse_con
    d = _docs(spark, sf).select("doc_id", "text")
    m = gold_df(spark, sf)
    con = mentions_to_con(m, d)
    back = con_to_mentions(parse_con(con.withColumnRenamed("line", "line")), d)
    return back.orderBy("doc_id", "start")


# ---- F4: reference clinical tokenizer rule surface. The spaCy-2.2
# affix/infix algorithm is not SQL-expressible, but its output is
# deterministic, so the oracle reads the checked-in fixture parquet
# (tools/make_token_fixture.py) and selects the slice whose input
# signature (count + sum(doc_id*length(text)) over doc_id<50) matches the
# `documents` view it runs against — an unknown slice selects zero rows
# and fails the compare loudly. Exact behavior is additionally pinned by
# the PMC fixture hashes in tests/test_tokenize.py.


_TOKEN_FIXTURE = os.path.abspath(os.path.join(
    os.path.dirname(__file__),
    "..", "tests", "fixtures", "clinical_rule_tokens.parquet",
))


@q("clinical_rule_tokens", f"""
WITH sig AS (
  SELECT count(*) AS n, sum(doc_id * length(text)) AS s
  FROM documents WHERE doc_id < 50)
SELECT f.doc_id, CAST(f.pos AS INT) AS pos, CAST(f.sent_id AS INT) AS sent_id,
       CAST(f.tok_id AS INT) AS tok_id, f.idx, f.end_idx, f.word
FROM read_parquet('{_TOKEN_FIXTURE}') f, sig
WHERE f.sig_n = sig.n AND f.sig_s = sig.s
ORDER BY f.doc_id, f.pos
""")
def q_clinical_rule_tokens(spark, sf):
    from medacy_spark.operators.tokenize import tokenize_clinical
    d = _docs(spark, sf).select("doc_id", "text").filter(F.col("doc_id") < 50)
    return tokenize_clinical(d).select(
        "doc_id", "pos", "sent_id", "tok_id", "idx", "end_idx", "word"
    ).orderBy("doc_id", "pos")


# ---- W3/F18 trained upgrade path as a SHIPPED artifact: the pretrained
# POS perceptron (tests/fixtures/pos_tagger.pkl, built by
# tools/make_pos_fixture.py from corpus.synth.pos_sentences) scores the
# clinical rule tokens through the broadcast Arrow stage (X2 contract).
# A perceptron's Viterbi is not SQL-expressible, but its output on a
# fixed corpus is deterministic — the oracle reads the pinned driver-side
# predictions (same fixture policy as clinical_rule_tokens), so the
# driver verifies distributed scoring equals pinned Viterbi per token.


_POS_FIXTURE = os.path.abspath(os.path.join(
    os.path.dirname(__file__), "..", "tests", "fixtures",
    "trained_pos_tags.parquet",
))
_POS_TAGGER_PKL = os.path.abspath(os.path.join(
    os.path.dirname(__file__), "..", "tests", "fixtures", "pos_tagger.pkl",
))


@q("trained_pos_tags", f"""
WITH sig AS (
  SELECT count(*) AS n, sum(doc_id * length(text)) AS s
  FROM documents WHERE doc_id < 50)
SELECT f.doc_id, CAST(f.sent_id AS INT) AS sent_id,
       CAST(f.tok_id AS INT) AS tok_id, f.word, f.pos_
FROM read_parquet('{_POS_FIXTURE}') f, sig
WHERE f.sig_n = sig.n AND f.sig_s = sig.s
ORDER BY f.doc_id, f.sent_id, f.tok_id
""")
def q_trained_pos_tags(spark, sf):
    from medacy_spark.model import load_artifact
    from medacy_spark.operators.features import with_pos_model
    from medacy_spark.operators.tokenize import tokenize_clinical
    d = _docs(spark, sf).select("doc_id", "text").filter(F.col("doc_id") < 50)
    toks = tokenize_clinical(d).select(
        "doc_id", "sent_id", "tok_id", "idx", "end_idx", "word"
    )
    tagger = load_artifact(_POS_TAGGER_PKL)
    return with_pos_model(toks, spark, tagger).select(
        "doc_id", "sent_id", "tok_id", "word", "pos_"
    ).orderBy("doc_id", "sent_id", "tok_id")


# ---- S9 completion: ADE .rel → pseudo-BRAT lines (ade_to_brat.py:44-68);
# rel-format lines derived from adjacent-token pairs, converted with the
# byte-faithful operator; the oracle formats the same lines directly.


@q("ade_lines", BASE_CTES + """
, pairs AS (
  SELECT doc_id, word, start, "end",
         lead(word) OVER w AS nword,
         CAST(lead(start) OVER w AS BIGINT) AS nstart,
         CAST(lead("end") OVER w AS BIGINT) AS nend
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY word IN ({kw}) AND lead(word) OVER w IS NOT NULL)
SELECT doc_id, line FROM (
  SELECT doc_id,
         'T' || doc_id || ' AE ' || start || ' ' || "end" || chr(9) || word AS line
  FROM pairs
  UNION ALL
  SELECT doc_id,
         'T' || doc_id || ' DRUG ' || nstart || ' ' || nend || chr(9) || nword
  FROM pairs)
ORDER BY doc_id, line
""".format(kw=_sql_list(KEYWORDS)))
def q_ade_lines(spark, sf):
    from medacy_spark.sources.converters import ade_to_brat_lines
    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        t.withColumn("nword", F.lead("word").over(w))
        .withColumn("nstart", F.lead("start").over(w))
        .withColumn("nend", F.lead("end").over(w))
        .filter(F.col("word").isin(KEYWORDS) & F.col("nword").isNotNull())
    )
    rel = pairs.select(
        "doc_id",
        F.lit("DRUG-AE.rel").alias("file_name"),
        F.concat_ws(
            "|", F.col("doc_id"), F.lit("s"), "word", "start", "end",
            "nword", "nstart", "nend",
        ).alias("line"),
    )
    return ade_to_brat_lines(rel).select("doc_id", "line").orderBy("doc_id", "line")


# =====================================================================
# Round-3 additions: driver CORRECTNESS rows for the operators previously
# covered only by pytest (VERDICT r2 "What's missing" #4). Each derives a
# deterministic synthetic relation from `documents` with arithmetic both
# engines compute identically, then runs the REAL operator on the Spark
# side while the oracle recomputes the expected output directly.
# =====================================================================


# ---- S5: MetaMap JSON cache source. Synthesize MetaMap-shaped JSON from
# gold mentions — every singleton level uses the DICT form (the xmltodict
# single-element pathology, metamap.py:350-377), so normalize_metamap_json
# must listify all 7 repeating nodes before the schema-first parse.


_MM_PREFIX = (
    '{"metamap":{"MMOs":{"MMO":{"Utterances":{"Utterance":{"Phrases":'
    '{"Phrase":{"Mappings":{"Mapping":{"MappingCandidates":{"Candidate":'
)
_MM_SUFFIX = "}}}}}}}}}}}"


@q("metamap_candidates", BASE_CTES + """
, g AS (SELECT doc_id, start, "end", text,
               (doc_id * 31 + start) % 97 AS k
        FROM gold WHERE doc_id < 300)
SELECT doc_id,
       'C' || lpad(CAST(k AS VARCHAR), 4, '0') AS cui,
       text AS matched,
       CAST(900 + k AS BIGINT) AS score,
       CASE WHEN k % 3 = 0 THEN 'T' || CAST(k % 5 AS VARCHAR)
            ELSE 'T' || CAST(k % 5 AS VARCHAR) || ',T9' END AS sem,
       start, "end"
FROM g ORDER BY doc_id, start, cui
""")
def q_metamap_candidates(spark, sf):
    from medacy_spark.sources.metamap_json import (
        METAMAP_SCHEMA,
        candidates,
        normalize_metamap_json,
    )

    g = gold_df(spark, sf).filter(F.col("doc_id") < 300)
    k = (F.col("doc_id") * 31 + F.col("start")) % 97
    cui = F.concat(F.lit("C"), F.lpad(k.cast("string"), 4, "0"))
    sem_json = F.when(
        k % 3 == 0, F.concat(F.lit('"T'), (k % 5).cast("string"), F.lit('"'))
    ).otherwise(F.concat(F.lit('["T'), (k % 5).cast("string"), F.lit('","T9"]')))
    cand_json = F.format_string(
        '{"CandidateCUI":"%s","CandidateMatched":"%s","CandidateScore":"%s",'
        '"SemTypes":{"SemType":%s},'
        '"ConceptPIs":{"ConceptPI":{"StartPos":"%s","Length":"%s"}}}',
        cui, F.col("text"), (F.lit(900) + k).cast("string"), sem_json,
        F.col("start").cast("string"), (F.col("end") - F.col("start")).cast("string"),
    )
    per_doc = g.select("doc_id", "start", cand_json.alias("cj")).groupBy("doc_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("start", "cj"))), lambda x: x["cj"]
        ).alias("cands")
    )
    raw = per_doc.select(
        "doc_id",
        F.concat(
            F.lit(_MM_PREFIX),
            # single candidate -> bare dict (exercises the listify rule);
            # several -> a real JSON array
            F.when(F.size("cands") == 1, F.element_at("cands", 1)).otherwise(
                F.concat(F.lit("["), F.array_join("cands", ","), F.lit("]"))
            ),
            F.lit(_MM_SUFFIX),
        ).alias("raw"),
    )
    parsed = raw.select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.from_json(normalize_metamap_json("raw"), METAMAP_SCHEMA).alias("mm"),
        F.lit(False).alias("corrupt"),
    )
    out = candidates(parsed)
    return out.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        "cui",
        "matched",
        "score",
        F.array_join("sem_types", ",").alias("sem"),
        "start",
        "end",
    ).orderBy("doc_id", "start", "cui")


# ---- J9: CUI/semtype overlay onto tokens (metamap_component.py:94-136).
# Candidates are phrase-shaped spans so each overlays 2 tokens; the
# include_sem_types filter reproduces metamap.py:206-235.


@q("cui_overlay", BASE_CTES + """
, ph2 AS (SELECT doc_id, start, "end", (doc_id + start) % 97 AS k
          FROM phrase WHERE doc_id < 300),
cand AS (
  -- NO candidate filter (metamap_component.py:122-136 overlays feature_cui
  -- for every mapped term); flags are the intersection of the candidate's
  -- types with the include list (T1,T2,T9): even k always carries T9
  -- (+T2 when k%4=2); odd k carries a flag only via T1 (k%4=1)
  SELECT doc_id, start, "end",
         'C' || lpad(CAST(k AS VARCHAR), 4, '0') AS cui,
         CASE WHEN k % 2 = 0 THEN (CASE WHEN k % 4 = 2 THEN 2 ELSE 1 END)
              ELSE (CASE WHEN k % 4 = 1 THEN 1 ELSE 0 END) END AS nsem
  FROM ph2)
SELECT t.doc_id, t.start AS idx, t."end" AS end_idx, t.word, c.cui,
       CAST(1 + c.nsem AS INT) AS n_features
FROM tokens t JOIN cand c
  ON t.doc_id = c.doc_id AND t.start >= c.start AND t."end" <= c."end"
ORDER BY t.doc_id, idx, cui
""")
def q_cui_overlay(spark, sf):
    from medacy_spark.operators.linking import cui_overlay

    ph = phrase_df(spark, sf).filter(F.col("doc_id") < 300)
    k = (F.col("doc_id") + F.col("start")) % 97
    cand = ph.select(
        "doc_id", "start", "end",
        F.concat(F.lit("C"), F.lpad(k.cast("string"), 4, "0")).alias("cui"),
        F.when(
            k % 2 == 0,
            F.array(F.concat(F.lit("T"), (k % 4).cast("string")), F.lit("T9")),
        ).otherwise(F.array(F.concat(F.lit("T"), (k % 4).cast("string")))).alias(
            "sem_types"
        ),
    )
    toks = tokens_df(spark, sf).select(
        "doc_id",
        F.lit(0).alias("sent_id"),
        F.col("pos").cast("int").alias("tok_id"),
        F.col("start").alias("idx"),
        F.col("end").alias("end_idx"),
        "word",
    )
    out = cui_overlay(toks, cand, include_sem_types=("T1", "T2", "T9"))
    return out.select(
        "doc_id", "idx", "end_idx", "word",
        F.col("features")["feature_cui"].alias("cui"),
        F.size("features").alias("n_features"),
    ).orderBy("doc_id", "idx", "cui")


# ---- P6: MetaMap-style semantic-type include/exclude predicate
# (metamap.py:206-235) over a synthesized links relation.


@q("semtype_filter", BASE_CTES + """
, l AS (SELECT doc_id, tag, start, (doc_id * 7 + start) % 3 AS k3 FROM gold)
-- subset semantics (metamap.py:206-235): include {T1,T2} must ALL be
-- present (drops k3=1, missing T1) and exclude {T3} fully present drops
-- k3=2; only k3=0 = {T1,T2} survives both predicates
SELECT doc_id, tag, start, 'T1,T2' AS sem
FROM l WHERE k3 = 0
ORDER BY doc_id, start, tag
""")
def q_semtype_filter(spark, sf):
    from medacy_spark.operators.linking import filter_semantic_types

    g = gold_df(spark, sf)
    k3 = (F.col("doc_id") * 7 + F.col("start")) % 3
    links = g.select(
        "doc_id", "tag", "start",
        F.when(k3 == 0, F.array(F.lit("T1"), F.lit("T2")))
        .when(k3 == 1, F.array(F.lit("T2"), F.lit("T9")))
        .otherwise(F.array(F.lit("T1"), F.lit("T2"), F.lit("T3"))).alias("sem_types"),
    )
    out = filter_semantic_types(links, include=("T1", "T2"), exclude=("T3",))
    return out.select(
        "doc_id", "tag", "start", F.array_join("sem_types", ",").alias("sem")
    ).orderBy("doc_id", "start", "tag")


# ---- U5: semantic-type discovery (distinct explode) over the same links.


@q("sem_type_discovery", BASE_CTES + """
, l AS (SELECT (doc_id * 7 + start) % 3 AS k3 FROM gold),
e AS (SELECT unnest(CASE k3 WHEN 0 THEN ['T1'] WHEN 1 THEN ['T2','T9']
                    ELSE ['T3'] END) AS sem_type FROM l)
SELECT DISTINCT sem_type FROM e ORDER BY sem_type
""")
def q_sem_type_discovery(spark, sf):
    from medacy_spark.operators.misc import discover_sem_types

    g = gold_df(spark, sf)
    k3 = (F.col("doc_id") * 7 + F.col("start")) % 3
    links = g.select(
        F.when(k3 == 0, F.array(F.lit("T1")))
        .when(k3 == 1, F.array(F.lit("T2"), F.lit("T9")))
        .otherwise(F.array(F.lit("T3"))).alias("sem_types"),
    )
    return discover_sem_types(links).orderBy("sem_type")


# ---- F5: unicode→ASCII conversion + offset-map restore
# (metamap.py:276-409). Inject one '½' after the first word; the ASCII
# text gains 2 chars ('1/2'), and restore_offset must map every ASCII
# token start back onto the original text. The oracle replays the closed
# form: before the diff → identity; inside → snap to the diff start;
# after → minus the length delta.


@q("offset_restore", r"""
WITH d AS (
  SELECT doc_id, text,
         length(string_split(text, ' ')[1]) AS p,
         regexp_replace(text, '^(\S+) ', '\1½ ') AS orig
  FROM documents
  WHERE doc_id < 400 AND length(text) = strlen(text)),
a AS (SELECT doc_id, p, replace(orig, '½', '1/2') AS ascii_text FROM d),
t AS (
  SELECT doc_id, p,
         unnest(string_split(ascii_text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(ascii_text, ' ')))) AS pos
  FROM a),
s AS (
  SELECT doc_id, p, CAST(pos AS INT) AS pos, word,
         CAST(coalesce(sum(length(word) + 1) OVER (
             PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS ascii_start
  FROM t)
SELECT doc_id, pos, word, ascii_start,
       CAST(CASE WHEN ascii_start < p THEN ascii_start
                 WHEN ascii_start < p + 3 THEN p
                 ELSE ascii_start - 2 END AS BIGINT) AS orig_start
FROM s ORDER BY doc_id, pos
""")
def q_offset_restore(spark, sf):
    from medacy_spark.functions.unicode import restore_offset, to_ascii_with_map

    d = _docs(spark, sf).filter(
        (F.col("doc_id") < 400) & (F.length("text") == F.octet_length("text"))
    )
    d = d.select(
        "doc_id", F.regexp_replace("text", r"^(\S+) ", "$1½ ").alias("orig")
    )
    conv = d.select("doc_id", to_ascii_with_map(F.col("orig")).alias("c"))
    t = conv.select(
        "doc_id", F.col("c.diffs").alias("diffs"),
        F.posexplode(F.split("c.ascii_text", " ")).alias("p0", "word"),
    ).withColumn("pos", (F.col("p0") + 1).cast("int")).drop("p0")
    w = Window.partitionBy("doc_id").orderBy("pos")
    start = F.coalesce(
        F.sum(F.length("word") + 1).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    ).cast("long")
    t = t.withColumn("ascii_start", start)
    return t.select(
        "doc_id", "pos", "word", "ascii_start",
        restore_offset(F.col("ascii_start"), F.col("diffs")).alias("orig_start"),
    ).orderBy("doc_id", "pos")


# ---- J2/U4: zip_datasets — paired + one-sided residues
# (inter_dataset_agreement.py:109-130).


@q("zip_datasets", """
WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
b AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
SELECT doc_id, 'both' AS side FROM a WHERE doc_id IN (SELECT doc_id FROM b)
UNION ALL
SELECT doc_id, 'only_a' FROM a WHERE doc_id NOT IN (SELECT doc_id FROM b)
UNION ALL
SELECT doc_id, 'only_b' FROM b WHERE doc_id NOT IN (SELECT doc_id FROM a)
ORDER BY doc_id, side
""")
def q_zip_datasets(spark, sf):
    from medacy_spark.operators.misc import zip_datasets

    d = _docs(spark, sf).select("doc_id")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 3 == 0)
    paired, only_a, only_b = zip_datasets(a, b)
    return (
        paired.select("doc_id", F.lit("both").alias("side"))
        .unionByName(only_a.select("doc_id", F.lit("only_a").alias("side")))
        .unionByName(only_b.select("doc_id", F.lit("only_b").alias("side")))
        .orderBy("doc_id", "side")
    )


# ---- W4: resegment — token ids after merging matched spans
# (unit_component.py:179-307). Merge spans are isolated keyword+successor
# pairs (successor not itself a keyword), so spans never overlap; the
# oracle replays the running boundary-flag sum.


@q("resegment_ids", BASE_CTES + """
, nb AS (
  SELECT doc_id, pos,
         lag(word) OVER w IN ({kw}) AND word NOT IN ({kw}) AS absorbed
  FROM tokens WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
SELECT doc_id, pos,
       CAST(sum(CASE WHEN coalesce(absorbed, FALSE) THEN 0 ELSE 1 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT)
         AS new_tok_id
FROM nb ORDER BY doc_id, pos
""".format(kw=_sql_list(KEYWORDS)))
def q_resegment_ids(spark, sf):
    from medacy_spark.operators.sequence import resegment

    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    nb = (
        t.withColumn("nxt", F.lead("word").over(w))
        .withColumn("nend", F.lead("end").over(w))
    )
    spans = nb.filter(
        F.col("word").isin(KEYWORDS)
        & F.col("nxt").isNotNull()
        & ~F.col("nxt").isin(KEYWORDS)
    ).select("doc_id", "start", F.col("nend").alias("end"))
    out = resegment(
        t.select("doc_id", "pos", "start", "end", "word"),
        spans,
        part_cols=["doc_id"],
        order_col="pos",
    )
    return out.select("doc_id", "pos", "new_tok_id").orderBy("doc_id", "pos")


# ---- U6: MultiModel annotation merge (multi_model.py:90-98).


@q("multi_model_merge", BASE_CTES + f"""
SELECT DISTINCT {_KEYCOLS} FROM (
  SELECT {_KEYCOLS} FROM gold
  UNION ALL SELECT {_KEYCOLS} FROM pred
  UNION ALL SELECT {_KEYCOLS} FROM phrase)
""")
def q_multi_model_merge(spark, sf):
    from medacy_spark.operators.features import multi_model_merge

    return multi_model_merge(
        [gold_df(spark, sf), pred_df(spark, sf), phrase_df(spark, sf)]
    )


# ---- F3: table-row heuristic (table_matcher_component.py:31-40). Docs
# are rebuilt as 3-line texts where line 2 is a table row (label + 4
# spaces + number) except when doc_id%3=0 (only 2 spaces → no match).


@q("table_rows", """
SELECT doc_id, CAST(2 AS INT) AS line_no,
       string_split(text, ' ')[1] || '    ' || CAST(n_chars AS VARCHAR) AS line,
       string_split(text, ' ')[1] AS row_label
FROM documents WHERE doc_id % 3 <> 0 ORDER BY doc_id
""")
def q_table_rows(spark, sf):
    from medacy_spark.operators.misc import table_rows

    d = _docs(spark, sf)
    first = F.element_at(F.split("text", " "), 1)
    sep = F.when(F.col("doc_id") % 3 == 0, F.lit("  ")).otherwise(F.lit("    "))
    txt = F.concat(
        F.lit("hdr "), F.col("doc_id").cast("string"), F.lit("\n"),
        first, sep, F.col("n_chars").cast("string"), F.lit("\ntail row"),
    )
    return table_rows(d.select("doc_id", txt.alias("text"))).orderBy("doc_id")


# ---- F17: fixed-vocabulary one-hot (nn/vectorizer.py:175-189).


@q("one_hot_tags", BASE_CTES + """
SELECT doc_id, start, tag,
       {cols}
FROM gold ORDER BY doc_id, start
""".format(cols=",\n       ".join(
    f"CAST(CASE WHEN tag = '{k}' THEN 1 ELSE 0 END AS INT) AS h{i}"
    for i, k in enumerate(KEYWORDS)
)))
def q_one_hot_tags(spark, sf):
    from medacy_spark.operators.misc import one_hot

    g = gold_df(spark, sf)
    oh = one_hot(F.col("tag"), KEYWORDS)
    return g.select(
        "doc_id", "start", "tag",
        *[F.element_at(oh, i + 1).cast("int").alias(f"h{i}") for i in range(len(KEYWORDS))],
    ).orderBy("doc_id", "start")


# ---- F18: spaCy-attribute analogues as pure column expressions
# (prefix_/suffix_/shape_/like_num/is_punct/lower_).


@q("spacy_token_features", BASE_CTES + r"""
SELECT doc_id, pos, word,
       substr(word, 1, 1) AS prefix_,
       CASE WHEN length(word) <= 3 THEN word ELSE right(word, 3) END AS suffix_,
       regexp_replace(regexp_replace(regexp_replace(
         regexp_replace(regexp_replace(regexp_replace(
           word, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'd', 'g'),
         'x{4,}', 'xxxx', 'g'), 'X{4,}', 'XXXX', 'g'), 'd{4,}', 'dddd', 'g')
         AS shape_,
       CAST(regexp_matches(word, '^[0-9]+(\.[0-9]+)?$') AS VARCHAR) AS like_num,
       CAST(regexp_matches(word, '^[^\w\s]+$') AS VARCHAR) AS is_punct,
       lower(word) AS lower_
FROM tokens WHERE doc_id < 100 ORDER BY doc_id, pos
""")
def q_spacy_token_features(spark, sf):
    from medacy_spark.operators.features import with_spacy_features

    t = tokens_df(spark, sf).filter(F.col("doc_id") < 100)
    return with_spacy_features(t).select(
        "doc_id", "pos", "word",
        "prefix_", "suffix_", "shape_", "like_num", "is_punct", "lower_",
    ).orderBy("doc_id", "pos")


# ---- F18: the pos_ source — deterministic rule tagger (closed-class
# lookup + suffix heuristics, features.with_pos). The oracle replays the
# identical CASE chain, generated from the SAME class lists.


def _pos_case_sql() -> str:
    from medacy_spark.operators import features as ft

    l = "lower(word)"  # noqa: E741
    return (
        "CASE "
        "WHEN regexp_full_match(word, '[^\\w\\s]+') THEN 'PUNCT' "
        "WHEN regexp_full_match(word, '[0-9]+(\\.[0-9]+)?') THEN 'NUM' "
        f"WHEN {l} IN ({_sql_list(ft.POS_DET)}) THEN 'DET' "
        f"WHEN {l} IN ({_sql_list(ft.POS_ADP)}) THEN 'ADP' "
        f"WHEN {l} IN ({_sql_list(ft.POS_CCONJ)}) THEN 'CCONJ' "
        f"WHEN {l} IN ({_sql_list(ft.POS_PRON)}) THEN 'PRON' "
        f"WHEN {l} IN ({_sql_list(ft.POS_AUX)}) THEN 'AUX' "
        f"WHEN regexp_matches({l}, 'ly$') THEN 'ADV' "
        f"WHEN regexp_matches({l}, '(ing|ed)$') THEN 'VERB' "
        "ELSE 'NOUN' END"
    )


@q("pos_features", BASE_CTES + f"""
, pt AS (
  SELECT doc_id, pos, word, {_pos_case_sql()} AS pos_
  FROM tokens WHERE doc_id < 150)
SELECT doc_id, pos, word, pos_,
       CASE WHEN pos_ IN ('VERB', 'AUX') THEN word
            ELSE coalesce(
              last_value(CASE WHEN pos_ IN ('VERB', 'AUX') THEN word END
                         IGNORE NULLS) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              first_value(word) OVER (PARTITION BY doc_id ORDER BY pos))
       END AS head_
FROM pt ORDER BY doc_id, pos
""")
def q_pos_features(spark, sf):
    from medacy_spark.operators.features import with_head, with_pos

    t = with_pos(tokens_df(spark, sf).filter(F.col("doc_id") < 150))
    # the web corpus has no sentence structure: one sequence per doc
    t = t.withColumn("sent_id", F.lit(0)).withColumn("tok_id", F.col("pos"))
    return with_head(t).select("doc_id", "pos", "word", "pos_", "head_").orderBy(
        "doc_id", "pos"
    )


# ---- X2: the broadcast-model Arrow scoring stage (score_sentences →
# island merge → mentions). RuleModel reproduces the gazetteer/unit rule
# stack, so the mention multiset equals detect_mentions' — verified by the
# same arithmetic oracle as clinical_mention_counts.


@q("model_mention_counts", _CLIN_MENTION_COUNTS_SQL)
def q_model_mention_counts(spark, sf):
    from medacy_spark.corpus.synth import clinical_documents
    from medacy_spark.operators.ner_model import RuleModel, model_mentions
    from medacy_spark.operators.tokenize import tokenize_native

    ids = _clin_ids(spark, sf)
    toks = tokenize_native(clinical_documents(ids).select("doc_id", "text"))
    bc = spark.sparkContext.broadcast(RuleModel())
    m = model_mentions(toks, bc)
    return m.groupBy("tag").agg(F.count("*").alias("cnt")).orderBy("tag")


# ---- A12: OOV tokens (nn/vectorizer.py:207-213) — distinct lowercased
# tokens absent from a broadcast vocabulary (here: the keyword list).


@q("oov_tokens", BASE_CTES + """
SELECT DISTINCT lower(word) AS word FROM tokens
WHERE doc_id < 100 AND lower(word) NOT IN ({kw})
ORDER BY word
""".format(kw=_sql_list(KEYWORDS)))
def q_oov_tokens(spark, sf):
    from medacy_spark.operators.misc import oov_tokens

    t = tokens_df(spark, sf).filter(F.col("doc_id") < 100)
    vocab = local_table(spark, [(k,) for k in KEYWORDS], "word string")
    return oov_tokens(t, vocab).orderBy("word")


# ---- J13/F7: mention text recovered by slicing the document
# (model.py:112-118: text[start:end]).


@q("mention_slice", BASE_CTES + """
SELECT doc_id, tag, start, "end", text FROM gold ORDER BY doc_id, start, tag
""")
def q_mention_slice(spark, sf):
    from medacy_spark.operators.misc import mention_text_from_doc

    g = gold_df(spark, sf).drop("text", "pos")
    out = mention_text_from_doc(g, _docs(spark, sf).select("doc_id", "text"))
    return out.select("doc_id", "tag", "start", "end", "text").orderBy(
        "doc_id", "start", "tag"
    )


# ---- P10: POS-drop filter (pos_drop_feature_extractor.py:27-45) — drop
# ignored-POS tokens unless they are targets. pos_ comes from the REAL
# rule tagger (features.with_pos); targets are the keyword tokens. The
# reference default ignored_pos=['PREP'] is dead (spaCy 2 pos_ is 'ADP',
# never 'PREP') so the query exercises an explicit ADP+DET list.


@q("pos_drop", BASE_CTES + """
SELECT doc_id, pos, word FROM (
  SELECT doc_id, pos, word,
         {pc} AS pos_,
         word IN ({kw}) AS is_target
  FROM tokens WHERE doc_id < 200)
WHERE pos_ NOT IN ('ADP', 'DET') OR is_target
ORDER BY doc_id, pos
""".format(kw=_sql_list(KEYWORDS), pc=_pos_case_sql()))
def q_pos_drop(spark, sf):
    from medacy_spark.operators.features import with_pos
    from medacy_spark.operators.misc import pos_drop

    t = with_pos(tokens_df(spark, sf).filter(F.col("doc_id") < 200)).select(
        "doc_id", "pos", "word", "pos_",
        F.col("word").isin(KEYWORDS).alias("is_target"),
    )
    return pos_drop(t, ignored_pos=("ADP", "DET")).select(
        "doc_id", "pos", "word"
    ).orderBy("doc_id", "pos")


# ---- P9: feature projection — map_filter keeps only feature_* keys
# (discrete_feature_extractor.py:97-104). Map columns hash unstably across
# engines, so the verified projection is the kept-key count + one witness.


@q("feature_projection", BASE_CTES + """
SELECT doc_id, start,
       CAST(2 AS INT) AS n_kept,
       'F' || CAST((doc_id + start) % 7 AS VARCHAR) AS feature_shape
FROM gold ORDER BY doc_id, start
""")
def q_feature_projection(spark, sf):
    from medacy_spark.operators.misc import feature_projection

    g = gold_df(spark, sf)
    k = (F.col("doc_id") + F.col("start")) % 7
    feats = F.create_map(
        F.lit("feature_shape"), F.concat(F.lit("F"), k.cast("string")),
        F.lit("feature_len"), F.length("text").cast("string"),
        F.lit("debug_raw"), F.col("text"),
        F.lit("pos"), F.col("pos").cast("string"),
    )
    out = g.select("doc_id", "start", feature_projection(feats).alias("features"))
    return out.select(
        "doc_id", "start",
        F.size("features").alias("n_kept"),
        F.col("features")["feature_shape"].alias("feature_shape"),
    ).orderBy("doc_id", "start")


# ---- P3: label-subset predicate — keep only configured entity labels.


@q("label_subset", BASE_CTES + """
SELECT doc_id, tag, start, "end" FROM gold
WHERE tag IN ('join', 'filter', 'scan')
ORDER BY doc_id, start, tag
""")
def q_label_subset(spark, sf):
    g = gold_df(spark, sf)
    return g.filter(F.col("tag").isin(["join", "filter", "scan"])).select(
        "doc_id", "tag", "start", "end"
    ).orderBy("doc_id", "start", "tag")


# ---- P5: broken-annotation guard — spans with start > end are dropped by
# the overlay (gold_annotator_component.py:57-66 try/except per span); the
# output must equal the clean overlay exactly.


@q("overlay_broken_guard", BASE_CTES + """
SELECT t.doc_id, CAST(t.start AS BIGINT) AS idx, g.tag AS gold_label
FROM tokens t JOIN gold g
  ON t.doc_id = g.doc_id AND t.start >= g.start AND t."end" <= g."end"
ORDER BY t.doc_id, idx, gold_label
""")
def q_overlay_broken_guard(spark, sf):
    from medacy_spark.operators.overlay import gold_overlay

    t = tokens_df(spark, sf).select(
        "doc_id", F.col("start").alias("idx"), F.col("end").alias("end_idx"), "word"
    )
    g = gold_df(spark, sf).select("doc_id", "tag", "start", "end")
    broken = g.select(
        "doc_id", "tag",
        (F.col("end") + 5).alias("start"), F.col("start").alias("end"),
    )
    out = gold_overlay(t, g.unionByName(broken))
    return out.filter(F.col("gold_label") != "O").select(
        "doc_id", F.col("idx").cast("long").alias("idx"), "gold_label"
    ).orderBy("doc_id", "idx", "gold_label")


# ---- J12: fold split — train/test partition of the doc spine for one
# fold (model.py:380-392), on top of the X4 assignment already oracled by
# fold_assignment.


@q("fold_split", BASE_CTES + """
, seqs AS (
  SELECT doc_id, min(word) AS first_label
  FROM tokens WHERE word IN ({kw}) GROUP BY doc_id),
folds AS (
  SELECT doc_id,
         CAST((row_number() OVER (ORDER BY first_label, doc_id) - 1) % 5 AS INT) AS fold
  FROM seqs)
SELECT doc_id, CASE WHEN fold = 1 THEN 'test' ELSE 'train' END AS side
FROM folds ORDER BY doc_id
""".format(kw=_sql_list(KEYWORDS)))
def q_fold_split(spark, sf):
    from medacy_spark.operators.folds import assign_folds, fold_split

    t = tokens_df(spark, sf)
    seqs = (
        t.filter(F.col("word").isin(KEYWORDS))
        .groupBy("doc_id")
        .agg(F.collect_set("word").alias("labels"))
        .withColumnRenamed("doc_id", "seq_id")
    )
    folds = assign_folds(seqs, 5)
    train, test = fold_split(seqs.select("seq_id"), folds, k=1)
    out = train.select(
        F.col("seq_id").alias("doc_id"), F.lit("train").alias("side")
    ).unionByName(
        test.select(F.col("seq_id").alias("doc_id"), F.lit("test").alias("side"))
    )
    return out.orderBy("doc_id")


# ---- F10: extension switch with the intended suffix semantics (the
# reference's str.strip('.txt') strips CHARACTERS — documented bug,
# model.py:215,310).


@q("switch_extension", """
SELECT doc_id,
       'corpus/doc_' || CAST(doc_id AS VARCHAR) || '.ann' AS ann_path
FROM documents ORDER BY doc_id
""")
def q_switch_extension(spark, sf):
    from medacy_spark.operators.misc import switch_extension

    d = _docs(spark, sf).select(
        "doc_id",
        F.concat(F.lit("corpus/doc_"), F.col("doc_id").cast("string"), F.lit(".txt"))
        .alias("path"),
    )
    return d.select(
        "doc_id", switch_extension(F.col("path"), ".ann").alias("ann_path")
    ).orderBy("doc_id")


# ---- M5/J9: dictionary entity linking with the deterministic ambiguity
# tie-break (smallest CUI wins when no embeddings are supplied) —
# linking.link_mentions over a two-CUIs-per-term dictionary.


@q("link_mentions_tiebreak", BASE_CTES + """
SELECT doc_id, tag, start, "end",
       'C' || lpad(CAST({kwcase} * 2 AS VARCHAR), 4, '0') AS cui
FROM gold ORDER BY doc_id, start, tag
""".format(kwcase="CASE tag " + " ".join(
    f"WHEN '{k}' THEN {i}" for i, k in enumerate(KEYWORDS)) + " END"))
def q_link_mentions_tiebreak(spark, sf):
    from medacy_spark.operators.linking import link_mentions

    g = gold_df(spark, sf)
    # two candidate CUIs per surface form; the even one sorts first
    rows = []
    for i, k in enumerate(KEYWORDS):
        rows.append((k, f"C{2 * i:04d}", ["T1"]))
        rows.append((k, f"C{2 * i + 1:04d}", ["T2"]))
    dictionary = local_table(
        spark, rows, "term string, cui string, sem_types array<string>"
    )
    out = link_mentions(g, dictionary)
    return out.select("doc_id", "tag", "start", "end", "cui").orderBy(
        "doc_id", "start", "tag"
    )


# ---- F2/S9: i2b2 .rel / .ast line parse (rel_to_brat.py, con/ast
# regexes). Lines are synthesized from adjacent-token pairs with the
# format's own quoting; the oracle reconstructs the parsed fields
# directly. Every third rel line is malformed (missing second concept) to
# exercise the validity filter.


@q("rel_parse", BASE_CTES + """
, pairs AS (
  SELECT doc_id, pos, word,
         lead(word) OVER w AS nword
  FROM tokens WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY word IN ({kw}) AND lead(word) OVER w IS NOT NULL)
SELECT doc_id,
       word AS arg1_text,
       CAST(doc_id % 5 AS INT) AS a1_line, CAST(pos AS INT) AS a1_word,
       'TrIP' AS rel,
       nword AS arg2_text,
       CAST(doc_id % 5 AS INT) AS a2_line, CAST(pos + 1 AS INT) AS a2_word
FROM pairs WHERE pos % 3 <> 0
ORDER BY doc_id, a1_word
""".format(kw=_sql_list(KEYWORDS)))
def q_rel_parse(spark, sf):
    from medacy_spark.sources.converters import parse_rel

    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        t.withColumn("nword", F.lead("word").over(w))
        .filter(F.col("word").isin(KEYWORDS) & F.col("nword").isNotNull())
    )
    line = F.when(
        F.col("pos") % 3 == 0,
        # malformed: second concept missing -> must be filtered out
        F.format_string('c="%s" %d:%d||r="TrIP"', "word",
                        (F.col("doc_id") % 5).cast("int"), F.col("pos").cast("int")),
    ).otherwise(
        F.format_string(
            'c="%s" %d:%d %d:%d||r="TrIP"||c="%s" %d:%d %d:%d',
            "word",
            (F.col("doc_id") % 5).cast("int"), F.col("pos").cast("int"),
            (F.col("doc_id") % 5).cast("int"), F.col("pos").cast("int"),
            "nword",
            (F.col("doc_id") % 5).cast("int"), (F.col("pos") + 1).cast("int"),
            (F.col("doc_id") % 5).cast("int"), (F.col("pos") + 1).cast("int"),
        )
    )
    return parse_rel(pairs.select("doc_id", line.alias("line"))).orderBy(
        "doc_id", "a1_word"
    )


@q("ast_parse", BASE_CTES + """
SELECT doc_id, text, tag, assertion, start_line, start_word FROM (
  SELECT doc_id, text, tag,
         CASE WHEN (doc_id + pos) % 2 = 0 THEN 'present' ELSE 'absent' END
           AS assertion,
         CAST(doc_id % 5 AS INT) AS start_line, CAST(pos AS INT) AS start_word
  FROM gold)
ORDER BY doc_id, start_word
""")
def q_ast_parse(spark, sf):
    from medacy_spark.sources.converters import parse_ast

    g = gold_df(spark, sf)
    line = F.format_string(
        'c="%s" %d:%d %d:%d||t="%s"||a="%s"',
        "text",
        (F.col("doc_id") % 5).cast("int"), F.col("pos").cast("int"),
        (F.col("doc_id") % 5).cast("int"), F.col("pos").cast("int"),
        "tag",
        F.when((F.col("doc_id") + F.col("pos")) % 2 == 0, F.lit("present"))
        .otherwise(F.lit("absent")),
    )
    return parse_ast(g.select("doc_id", line.alias("line"))).orderBy(
        "doc_id", "start_word"
    )


# ---- J11: BRAT R-lines — relations against the T numbering the mention
# writer assigns (add_rel_to_brat.py:154). Mentions = gold keyword tokens;
# relations = adjacent keyword pairs; T numbers follow (start, end) order.


@q("r_lines", BASE_CTES + """
, nums AS (
  SELECT doc_id, start, "end",
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start, "end") AS INT)
           AS t_num
  FROM (SELECT DISTINCT doc_id, start, "end" FROM gold)),
pairs AS (
  SELECT doc_id, start AS s1, "end" AS e1,
         lead(start) OVER w AS s2, lead("end") OVER w AS e2,
         word, lead(word) OVER w AS nword
  FROM tokens
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY word IN ({kw}) AND lead(word) OVER w IN ({kw})),
rels AS (
  SELECT p.doc_id, a.t_num AS subj_t, b.t_num AS obj_t
  FROM pairs p
  JOIN nums a ON a.doc_id = p.doc_id AND a.start = p.s1 AND a."end" = p.e1
  JOIN nums b ON b.doc_id = p.doc_id AND b.start = p.s2 AND b."end" = p.e2)
SELECT doc_id,
       printf('R%d\tnext_to Arg1:T%d Arg2:T%d',
              CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY subj_t, obj_t) AS INT), subj_t, obj_t) AS line
FROM rels ORDER BY doc_id, line
""".format(kw=_sql_list(KEYWORDS)))
def q_r_lines(spark, sf):
    from medacy_spark.operators.relations import triples_to_brat_lines

    t = tokens_df(spark, sf)
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        t.withColumn("nword", F.lead("word").over(w))
        .withColumn("nstart", F.lead("start").over(w))
        .withColumn("nend", F.lead("end").over(w))
        .filter(F.col("word").isin(KEYWORDS) & F.col("nword").isin(KEYWORDS))
    )
    triples = pairs.select(
        "doc_id",
        F.struct(
            F.col("start").alias("start"), F.col("end").alias("end")
        ).alias("subj"),
        F.lit("next_to").alias("pred"),
        F.struct(
            F.col("nstart").alias("start"), F.col("nend").alias("end")
        ).alias("obj"),
    )
    mentions = gold_df(spark, sf).select("doc_id", "start", "end")
    return triples_to_brat_lines(triples, mentions).orderBy("doc_id", "line")


# ---- token counting: whitespace + BPE-ish subword proxy. The Spark
# splitter uses lookarounds (letter↔digit boundaries, breaks around each
# punct char) which RE2 can't express, but on underscore-free text the
# piece set equals the matches of letter-runs | digit-runs | single punct
# — so the oracle extracts pieces instead of splitting (both engines
# filter to underscore-free docs; the testdata contains none, the filter
# makes the equivalence airtight rather than data-dependent).


@q("token_counts", """
SELECT doc_id,
       CAST(CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS INT) AS n_ws,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\\w\\s]'))
            AS INT) AS n_bpe
FROM documents WHERE NOT regexp_matches(text, '_')
ORDER BY doc_id
""")
def q_token_counts(spark, sf):
    from medacy_spark.operators.textstats import bpe_ish_token_count, token_count

    d = _docs(spark, sf).filter(~F.col("text").rlike("_"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_ws"),
        bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe"),
    ).orderBy("doc_id")


# ---- quality scoring (Gopher/C4-style arithmetic): the full per-doc
# profile replayed in SQL — length score × stopword mass × punct density.


@q("quality_profile", """
WITH w AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tok,
         -- \\s+ like the Spark side, NOT a single-space split: keeps the
         -- equivalence independent of the corpus' whitespace shape
         string_split_regex(lower(text), '\\s+') AS words
  FROM documents),
r AS (
  SELECT doc_id, n_tok,
         CASE WHEN len(words) = 0 THEN 0.0
              ELSE CAST(len(list_filter(words, x -> x IN ({stops})))
                   AS DOUBLE) / len(words) END AS swr,
         CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text,
                   '[^.,;:!?''"()\\[\\]{{}}-]', '', 'g')) AS DOUBLE)
                   / length(text) END AS pr
  FROM w)
SELECT doc_id,
       round(swr, 9) AS stopword_ratio,
       round(pr, 9) AS punct_ratio,
       round(
         (least(n_tok / 50.0, 1.0)
            * CASE WHEN n_tok > 5000 THEN 0.5 ELSE 1.0 END) * 0.4
         + least(swr * 5.0, 1.0) * 0.4
         + CASE WHEN pr > 0.2 THEN 0.2 ELSE 1.0 END * 0.2, 9) AS quality
FROM r ORDER BY doc_id
""".format(stops=_sql_list(lex.EN_STOPWORDS)))
def q_quality_profile(spark, sf):
    from medacy_spark.operators.textstats import (
        punct_ratio,
        quality_score,
        stopword_ratio,
    )

    t = F.col("text")
    return _docs(spark, sf).select(
        "doc_id",
        F.round(stopword_ratio(t), 9).alias("stopword_ratio"),
        F.round(punct_ratio(t), 9).alias("punct_ratio"),
        F.round(quality_score(t), 9).alias("quality"),
    ).orderBy("doc_id")


# ---- n-gram language ID: plant a per-language trigram-rich marker on a
# 40-char slice of each doc (doc_id%5: one of 4 languages or nothing);
# the detector must recover the plant. The oracle replays the full
# trigram scoring — replace-trick occurrence counts × profile weights —
# and the struct-max tie-break (largest language code on exact ties).


_LANG_MARKERS = {
    "en": " the thing and the other thing of it",
    "de": " und der schein und die einigung sch",
    "fr": " les enfants que les autres et les d",
    "es": " de la canción que los niños de la q",
}


def _langid_sql() -> str:
    from medacy_spark.operators.textstats import LANG_TRIGRAM_PROFILES

    def score(lang: str) -> str:
        terms = " + ".join(
            f"(length(s) - length(replace(s, '{g}', ''))) / {len(g)}.0 * {w}"
            for g, w in LANG_TRIGRAM_PROFILES[lang].items()
        )
        return f"({terms}) * 100.0 / greatest(length(s), 1)"

    markers = " ".join(
        f"WHEN {i} THEN '{_LANG_MARKERS[lang]}'"
        for i, lang in enumerate(["en", "de", "fr", "es"])
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         lower(substr(text, 1, 40) ||
               CASE CAST(doc_id % 5 AS INT) {markers} ELSE '' END) AS s
  FROM documents),
sc AS (
  SELECT doc_id,
         {score('en')} AS s_en, {score('de')} AS s_de,
         {score('fr')} AS s_fr, {score('es')} AS s_es
  FROM d),
pick AS (
  SELECT doc_id,
         CASE
           WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
           WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
           WHEN s_en >= s_de THEN 'en'
           ELSE 'de' END AS best,
         greatest(s_en, s_de, s_fr, s_es) AS bs
  FROM sc)
SELECT doc_id, CASE WHEN bs >= 2.0 THEN best ELSE 'unknown' END AS lang
FROM pick ORDER BY doc_id
"""


# ---- Gopher repetition signals: most-frequent-2/3-gram character
# fraction + duplicated-5-gram character fraction. The oracle rebuilds
# the n-grams with window leads over the positional token table and
# picks the top gram with the same (count, gram) tie-break the Spark
# max(struct) aggregate uses.


def _repetition_sql() -> str:
    def gram(n: int) -> str:
        parts = " || ' ' || ".join(
            ["word"] + [f"lead(word, {k}) OVER win" for k in range(1, n)]
        )
        return (
            f"SELECT doc_id, {parts} AS gram FROM w\n"
            f"  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)\n"
            f"  QUALIFY lead(word, {n - 1}) OVER win IS NOT NULL"
        )

    return f"""
WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents),
g2 AS ({gram(2)}),
g3 AS ({gram(3)}),
g5 AS ({gram(5)}),
c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
c5 AS (SELECT doc_id, gram, count(*) AS c FROM g5 GROUP BY 1, 2),
t2 AS (SELECT doc_id, gram, c FROM c2
       QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) = 1),
t3 AS (SELECT doc_id, gram, c FROM c3
       QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram DESC) = 1),
d5 AS (SELECT doc_id, sum(c * length(gram)) AS dup FROM c5 WHERE c >= 2 GROUP BY doc_id)
SELECT d.doc_id,
       round(coalesce(CAST(t2.c * length(t2.gram) AS DOUBLE)
             / greatest(length(d.text), 1), 0.0), 9) AS top2gram_frac,
       round(coalesce(CAST(t3.c * length(t3.gram) AS DOUBLE)
             / greatest(length(d.text), 1), 0.0), 9) AS top3gram_frac,
       round(least(coalesce(CAST(d5.dup AS DOUBLE)
             / greatest(length(d.text), 1), 0.0), 1.0), 9) AS dup5gram_frac
FROM documents d
LEFT JOIN t2 ON d.doc_id = t2.doc_id
LEFT JOIN t3 ON d.doc_id = t3.doc_id
LEFT JOIN d5 ON d.doc_id = d5.doc_id
ORDER BY d.doc_id
"""


@q("repetition_signals", _repetition_sql())
def q_repetition_signals(spark, sf):
    from medacy_spark.operators.textstats import repetition_signals

    r = repetition_signals(_docs(spark, sf))
    return r.select(
        "doc_id",
        F.round("top2gram_frac", 9).alias("top2gram_frac"),
        F.round("top3gram_frac", 9).alias("top3gram_frac"),
        F.round("dup5gram_frac", 9).alias("dup5gram_frac"),
    ).orderBy("doc_id")


# ---- Benchmark decontamination: the "benchmark" is derived
# deterministically from the corpus itself (every doc_id % 7 == 3 doc
# with ≥14 tokens contributes its tokens 3..14 as one benchmark entry)
# so contamination is guaranteed planted and both engines rebuild the
# identical benchmark — no external data.

_DECONTAM_N = 8


def _decontam_sql() -> str:
    parts = " || ' ' || ".join(
        ["word"] + [f"lead(word, {k}) OVER win" for k in range(1, _DECONTAM_N)]
    )
    return f"""
WITH bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(list_slice(string_split(text, ' '), 3, 14), ' ') AS text
  FROM documents
  WHERE doc_id % 7 = 3 AND len(string_split(text, ' ')) >= 14),
bw AS (
  SELECT bench_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM bench),
bg AS (
  SELECT DISTINCT {parts} AS gram FROM bw
  WINDOW win AS (PARTITION BY bench_id ORDER BY pos)
  QUALIFY lead(word, {_DECONTAM_N - 1}) OVER win IS NOT NULL),
w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents),
g AS (
  SELECT doc_id, {parts} AS gram FROM w
  WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(word, {_DECONTAM_N - 1}) OVER win IS NOT NULL),
per AS (
  SELECT g.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
  FROM g LEFT JOIN bg ON g.gram = bg.gram
  GROUP BY g.doc_id)
SELECT d.doc_id,
       CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(per.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       round(CASE WHEN coalesce(per.n_grams, 0) > 0
             THEN CAST(per.n_contaminated AS DOUBLE) / per.n_grams
             ELSE 0.0 END, 9) AS contamination_frac,
       coalesce(per.n_contaminated, 0) > 0 AS contaminated
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
"""


def benchmark_df(spark: SparkSession, sf: str) -> DataFrame:
    """The deterministic synthetic benchmark table (see _decontam_sql)."""
    toks = F.split("text", " ")
    return (
        _docs(spark, sf)
        .filter((F.col("doc_id") % 7 == 3) & (F.size(toks) >= 14))
        .select(
            F.col("doc_id").alias("bench_id"),
            F.array_join(F.slice(toks, 3, 12), " ").alias("text"),
        )
    )


@q("benchmark_decontam", _decontam_sql())
def q_benchmark_decontam(spark, sf):
    from medacy_spark.operators.decontam import ngram_contamination

    out = ngram_contamination(
        _docs(spark, sf), benchmark_df(spark, sf), n=_DECONTAM_N
    )
    return out.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        F.round("contamination_frac", 9).alias("contamination_frac"),
        "contaminated",
    ).orderBy("doc_id")


@q("ngram_language_id", _langid_sql())
def q_ngram_language_id(spark, sf):
    from medacy_spark.operators.textstats import detect_language_ngram

    marker = F.element_at(
        F.array(*[F.lit(_LANG_MARKERS[lg]) for lg in ["en", "de", "fr", "es"]]
                + [F.lit("")]),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    d = _docs(spark, sf).select(
        "doc_id", F.concat(F.substring("text", 1, 40), marker).alias("text")
    )
    return d.select(
        "doc_id", detect_language_ngram(F.col("text")).alias("lang")
    ).orderBy("doc_id")


# ---- word-embedding pretraining (operators/embeddings_train): the
# corpus-scale half of count-based word2vec — ±window co-occurrence
# counts and smoothed PPMI, replayed relationally in DuckDB (positions
# are positions in the EMPTY-FILTERED token sequence on both engines;
# the SQL pairs via a positional self-join, the Spark side via lead/lag
# over one window spec — same pair multiset). The SVD half is
# model-scale driver numpy, gated byte-identically against the PMC
# fixture in test_embeddings_train instead.


@q("cooccurrence_ppmi", r"""
WITH raw AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS w0,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents
), f AS (
  -- explicit ASCII-whitespace class = embeddings_train._WS (Java \s and
  -- RE2 \s disagree on \x0B; the pinned class is identical on both)
  SELECT doc_id,
         lower(regexp_replace(w0, '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')) AS word,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS p
  FROM raw
  WHERE lower(regexp_replace(w0, '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')) <> ''
), pairs AS (
  SELECT a.word AS word, b.word AS ctx
  FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.p <> b.p AND abs(a.p - b.p) <= 3
), cooc AS (
  SELECT word, ctx, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY word, ctx
), wt AS (
  SELECT word, CAST(sum(n) AS DOUBLE) AS w_n FROM cooc GROUP BY word
), ct AS (
  SELECT ctx, CAST(sum(n) AS DOUBLE) AS c_n FROM cooc GROUP BY ctx
), z AS (
  SELECT (SELECT CAST(sum(n) AS DOUBLE) FROM cooc) AS total,
         sum(pow(c_n, 0.75)) AS zz
  FROM ct)
SELECT c.word AS word, c.ctx AS ctx, c.n AS n,
       round(greatest(0.0, ln((c.n / z.total) /
             ((wt.w_n / z.total) * (pow(ct.c_n, 0.75) / z.zz)))), 6) AS ppmi
FROM cooc c JOIN wt ON wt.word = c.word JOIN ct ON ct.ctx = c.ctx CROSS JOIN z
ORDER BY c.word, c.ctx
""")
def q_cooccurrence_ppmi(spark, sf):
    from medacy_spark.operators.embeddings_train import cooccurrence_pairs, ppmi

    toks = _docs(spark, sf).select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    cooc = cooccurrence_pairs(toks, window=3, id_cols=("doc_id",), order_col="pos")
    return (
        ppmi(cooc)
        .select("word", "ctx", "n", F.round("ppmi", 6).alias("ppmi"))
        .orderBy("word", "ctx")
    )


# =====================================================================
# Webtext curation + graph neighborhood (round-7 session 5): BM25
# keyword routing, PII scrubbing, host-level crawl analytics, k-hop BFS,
# and substring-level duplicate passages.
# =====================================================================

_BM25_TERMS = ["spark", "window", "hash", "customer", "vector"]
_BM25_K1, _BM25_B = 1.2, 0.75


@q("bm25_relevance", f"""
WITH base AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         string_split(text, ' ') AS toks
  FROM documents),
hits AS (
  SELECT doc_id, dl, word AS term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS word FROM base)
  WHERE word IN ({_sql_list(_BM25_TERMS)})
  GROUP BY doc_id, dl, word),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM hits GROUP BY term),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM base),
per AS (
  SELECT h.doc_id,
         round(ln(CAST(1.0 AS DOUBLE)
                  + (s.n_docs - d.df + CAST(0.5 AS DOUBLE))
                    / (d.df + CAST(0.5 AS DOUBLE)))
               * (h.tf * CAST({_BM25_K1 + 1.0!r} AS DOUBLE))
                 / (h.tf + CAST({_BM25_K1!r} AS DOUBLE)
                    * (CAST({1.0 - _BM25_B!r} AS DOUBLE)
                       + CAST({_BM25_B!r} AS DOUBLE) * h.dl / s.avgdl)), 9) AS c
  FROM hits h JOIN dfreq d USING (term) CROSS JOIN stats s),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         round(sum(c), 6) AS bm25
  FROM per GROUP BY doc_id)
SELECT b.doc_id, coalesce(a.n_hit_terms, 0) AS n_hit_terms,
       coalesce(a.bm25, 0.0) AS bm25
FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY b.doc_id
""")
def q_bm25_relevance(spark, sf):
    """BM25 keyword relevance (operators/ranking.bm25_scores) against a
    fixed seed-term set — the crawl-page domain-routing score. The SQL
    replays the exact idf/weight parenthesization; per-term contributions
    round to 9 before the (order-free) per-doc sum rounds to 6."""
    from medacy_spark.operators.ranking import bm25_scores

    return bm25_scores(
        _docs(spark, sf), _BM25_TERMS, k1=_BM25_K1, b=_BM25_B
    ).orderBy("doc_id")


# PII patterns (operators/pii.PII_PATTERNS) are Java-regex/RE2-common
# syntax; the planted suffixes guarantee every category fires and both
# engines build the identical corpus — no external data.

def _pii_sql() -> str:
    from medacy_spark.operators.pii import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    total = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))" for _, pat, _ in PII_PATTERNS
    )
    red = "text"
    for _, pat, tok in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{tok}', 'g')"
    return f"""
WITH d AS (
  SELECT doc_id, text ||
    CASE doc_id % 5
      WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com and ops@example.org'
      WHEN 1 THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                  || '.0.12 via 192.168.1.1'
      WHEN 2 THEN ' call 555-867-5309 now'
      WHEN 3 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      ELSE '' END AS text
  FROM documents)
SELECT doc_id,
       {counts},
       CAST({total} AS BIGINT) AS n_pii,
       ({total}) > 0 AS has_pii,
       {red} AS redacted
FROM d ORDER BY doc_id
"""


@q("pii_signals", _pii_sql())
def q_pii_signals(spark, sf):
    from medacy_spark.operators.pii import pii_signals

    d = F.col("doc_id")
    extra = (
        F.when(d % 5 == 0, F.concat(
            F.lit(" contact user"), d.cast("string"),
            F.lit("@example.com and ops@example.org")))
        .when(d % 5 == 1, F.concat(
            F.lit(" host 10."), (d % 200).cast("string"),
            F.lit(".0.12 via 192.168.1.1")))
        .when(d % 5 == 2, F.lit(" call 555-867-5309 now"))
        .when(d % 5 == 3, F.concat(
            F.lit(" ssn 123-45-"), F.lpad((d % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit(""))
    )
    docs = _docs(spark, sf).select(
        "doc_id", F.concat(F.col("text"), extra).alias("text")
    )
    out = pii_signals(docs)
    casts = [F.col(c).cast("long").alias(c) for c in
             ("n_email", "n_ipv4", "n_phone", "n_ssn", "n_pii")]
    return out.select("doc_id", *casts, "has_pii", "redacted").orderBy("doc_id")


@q("host_stats", """
WITH d AS (
  SELECT lower(source || '.example.com') AS host, text, lang
  FROM documents),
hosts AS (
  SELECT host,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(text)) AS BIGINT) AS n_chars,
         round(CAST(sum(len(string_split(text, ' '))) AS DOUBLE)
               / count(*), 9) AS avg_tokens,
         CAST(count(DISTINCT lang) AS INTEGER) AS n_langs,
         CAST(count(*) - count(DISTINCT text) AS BIGINT) AS n_dup_docs
  FROM d GROUP BY host),
total AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM d)
SELECT host, n_docs, n_chars, avg_tokens, n_langs, n_dup_docs,
       round(n_docs / total.t, 9) AS doc_share
FROM hosts CROSS JOIN total ORDER BY host
""")
def q_host_stats(spark, sf):
    """Host rollup (operators/webstats.host_profile) over URLs synthesized
    deterministically from the documents table's `source` column (the
    north-star input carries a real `url`; the synthesis is the
    no-external-data stand-in). The operator groups by xxhash64(text)
    where the SQL groups by text — identical absent a 64-bit collision."""
    from medacy_spark.operators.webstats import host_profile

    d = _docs(spark, sf).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/page/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text", "lang",
    )
    return host_profile(d).orderBy("host")


@q("copurchase_bfs", """
WITH RECURSIVE e AS (
  SELECT x.l_partkey AS src, y.l_partkey AS dst
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_partkey <> y.l_partkey),
seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 500 = 0),
walk(node, dist) AS (
  SELECT node, 0 AS dist FROM seeds
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.node = e.src
  WHERE w.dist < 3)
SELECT node, CAST(min(dist) AS BIGINT) AS dist
FROM walk GROUP BY node ORDER BY node
""")
def q_copurchase_bfs(spark, sf):
    """Multi-source 3-hop BFS (graph.bfs_distances) over the co-purchase
    graph, seeds = parts with key % 500 = 0; the oracle is a recursive
    CTE whose UNION-dedup mirrors the frontier anti-join."""
    from medacy_spark.operators.graph import bfs_distances

    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    e = (
        li.alias("x")
        .join(li.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") != F.col("y.l_partkey"))
        .select(
            F.col("x.l_partkey").alias("src"), F.col("y.l_partkey").alias("dst")
        )
    )
    seeds = e.select(F.col("src").alias("node")).filter(F.col("node") % 500 == 0)
    return (
        bfs_distances(e, seeds, max_hops=3)
        .select("node", F.col("dist").cast("long").alias("dist"))
        .orderBy("node")
    )


@q("duplicate_passages", """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 4, 23), ' ')
           || ' zz' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
  WHERE doc_id % 13 = 5 AND len(string_split(text, ' ')) >= 23),
w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM corpus),
g AS (
  SELECT doc_id, pos - 1 AS pos,
         word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win
              || ' ' || lead(word, 3) OVER win || ' ' || lead(word, 4) OVER win
           AS gram
  FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
  QUALIFY lead(word, 4) OVER win IS NOT NULL),
k AS (
  SELECT doc_id, pos,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gh
  FROM g),
al AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
  FROM k a JOIN k b ON a.gh = b.gh AND a.doc_id < b.doc_id),
runs AS (
  SELECT id_a, id_b, diag, pos_a, pos_b,
         pos_a - row_number() OVER (
           PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS grp
  FROM al)
SELECT id_a, id_b,
       CAST(min(pos_a) AS BIGINT) AS start_a,
       CAST(min(pos_b) AS BIGINT) AS start_b,
       CAST(count(*) + 4 AS BIGINT) AS n_tokens
FROM runs GROUP BY id_a, id_b, diag, grp
HAVING count(*) + 4 >= 12
ORDER BY id_a, id_b, start_a, start_b
""")
def q_duplicate_passages(spark, sf):
    """Substring-level duplicate passage detection
    (dedup.duplicate_passages, md5 portable mode) over the corpus plus
    planted 20-token excerpts (tokens 4..23 of every doc_id % 13 = 5 doc,
    suffixed unique so whole-doc dedup would NOT pair them)."""
    from medacy_spark.operators.dedup import duplicate_passages

    d = _docs(spark, sf)
    toks = F.split("text", " ")
    planted = d.filter((F.col("doc_id") % 13 == 5) & (F.size(toks) >= 23)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(toks, 4, 20), " "),
            F.lit(" zz"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    corpus = d.select("doc_id", "text").union(planted)
    out = duplicate_passages(
        corpus, k=5, min_tokens=12, base_hash="md5", max_gram_df=None
    )
    return out.select(
        "id_a", "id_b",
        F.col("start_a").cast("long").alias("start_a"),
        F.col("start_b").cast("long").alias("start_b"),
        "n_tokens",
    ).orderBy("id_a", "id_b", "start_a", "start_b")


@q("boilerplate_removal", """
WITH m AS (
  -- coalesce: DuckDB array_to_string of an EMPTY slice is NULL (not ''),
  -- and || propagates it; Spark's array_join gives '' for the same case
  SELECT doc_id,
    coalesce(array_to_string(list_slice(string_split(text, ' '), 1, 6), ' '), '')
    || chr(10) || CASE
         WHEN doc_id % 6 = 0 THEN '  subscribe to our newsletter today'
         WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter today'
         ELSE coalesce(array_to_string(list_slice(string_split(text, ' '), 7, 11), ' '), '')
       END
    || chr(10) || coalesce(array_to_string(list_slice(string_split(text, ' '), 12, 17), ' '), '')
    || chr(10) || 'ok'
    || chr(10) || CASE
         WHEN doc_id % 5 = 1 THEN 'copyright acme corp all rights reserved'
         ELSE coalesce(array_to_string(list_slice(string_split(text, ' '), 18, 24), ' '), '')
       END AS text
  FROM documents),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos
  FROM m),
boiler AS (
  SELECT trim(line) AS t FROM lines
  WHERE len(trim(line)) >= 8
  GROUP BY trim(line)
  HAVING count(DISTINCT doc_id) >= 40),
tagged AS (
  SELECT l.doc_id, l.pos, l.line,
         CASE WHEN b.t IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM lines l LEFT JOIN boiler b
    ON len(trim(l.line)) >= 8 AND trim(l.line) = b.t),
agg AS (
  SELECT doc_id,
         count(*) AS n_lines,
         sum(hit) AS n_boiler,
         coalesce(string_agg(CASE WHEN hit = 0 THEN line END,
                             chr(10) ORDER BY pos), '') AS clean_text,
         sum(len(line)) + count(*) - 1 AS orig_len
  FROM tagged GROUP BY doc_id)
SELECT doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       clean_text,
       CAST(orig_len - len(clean_text) AS BIGINT) AS chars_removed,
       round(CASE WHEN orig_len > 0
             THEN CAST(orig_len - len(clean_text) AS DOUBLE) / orig_len
             ELSE 0.0 END, 9) AS frac_chars_removed
FROM agg ORDER BY doc_id
""")
def q_boilerplate_removal(spark, sf):
    """CCNet-style corpus-frequent line removal
    (boilerplate.remove_boilerplate_lines, exact-string portable mode)
    over multi-line docs synthesized deterministically from the corpus:
    a banner line planted on doc_id % 3 = 0 (space-padded on % 6 = 0 to
    exercise the trimmed key), a footer on % 5 = 1, and an 'ok' line on
    EVERY doc that stays below min_line_chars and must survive."""
    from medacy_spark.operators.boilerplate import remove_boilerplate_lines

    d = _docs(spark, sf)
    toks = F.split("text", " ")
    banner = "subscribe to our newsletter today"
    footer = "copyright acme corp all rights reserved"
    m = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.array_join(F.slice(toks, 1, 6), " "),
            F.when(F.col("doc_id") % 6 == 0, F.lit("  " + banner))
            .when(F.col("doc_id") % 3 == 0, F.lit(banner))
            .otherwise(F.array_join(F.slice(toks, 7, 5), " ")),
            F.array_join(F.slice(toks, 12, 6), " "),
            F.lit("ok"),
            F.when(F.col("doc_id") % 5 == 1, F.lit(footer))
            .otherwise(F.array_join(F.slice(toks, 18, 7), " ")),
        ).alias("text"),
    )
    out = remove_boilerplate_lines(m, min_docs=40, min_line_chars=8, key_hash=None)
    return out.select(
        "doc_id",
        "n_lines",
        F.col("n_boiler").cast("long").alias("n_boiler"),
        "clean_text",
        "chars_removed",
        F.round("frac_chars_removed", 9).alias("frac_chars_removed"),
    ).orderBy("doc_id")


# ---- sequence packing (GPT-style concat-and-chunk): the packing map
# replayed in SQL — exclusive prefix sum over the EOS-separated token
# stream, then each doc exploded to the seq windows its span overlaps.


def q_packing_stats(spark, sf):
    """packing_stats over the same 64-token map: per-sequence slice
    count, token fill, and fill fraction."""
    from medacy_spark.operators.packing import pack_sequences, packing_stats

    st = packing_stats(pack_sequences(_docs(spark, sf), 64, bucket_width=100), 64)
    return st.orderBy("seq_id")


_PACKING_STATS_SQL = """
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
ofs AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok + 1) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS o
  FROM base),
ex AS (
  SELECT doc_id, n_tok, o,
         UNNEST(generate_series(o // 64, (o + n_tok - 1) // 64)) AS seq_id
  FROM ofs WHERE n_tok > 0),
pk AS (
  SELECT seq_id,
         CAST(LEAST(o + n_tok, (seq_id + 1) * 64)
              - GREATEST(o, seq_id * 64) AS BIGINT) AS n_tokens
  FROM ex)
SELECT seq_id,
       CAST(count(*) AS BIGINT) AS n_slices,
       CAST(sum(n_tokens) AS BIGINT) AS n_doc_tokens,
       round(CAST(sum(n_tokens) AS DOUBLE) / 64.0, 9) AS fill_frac
FROM pk GROUP BY seq_id ORDER BY seq_id
"""
QUERIES["packing_stats"] = q_packing_stats
ORACLES["packing_stats"] = _PACKING_STATS_SQL


@q("sequence_packing", """
WITH base AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
ofs AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok + 1) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS o
  FROM base),
ex AS (
  SELECT doc_id, n_tok, o,
         UNNEST(generate_series(o // 64, (o + n_tok - 1) // 64)) AS seq_id
  FROM ofs WHERE n_tok > 0)
SELECT seq_id, doc_id,
       CAST(GREATEST(o, seq_id * 64) - seq_id * 64 AS BIGINT) AS start_in_seq,
       CAST(GREATEST(o, seq_id * 64) - o AS BIGINT) AS start_in_doc,
       CAST(LEAST(o + n_tok, (seq_id + 1) * 64)
            - GREATEST(o, seq_id * 64) AS BIGINT) AS n_tokens
FROM ex
ORDER BY seq_id, doc_id
""")
def q_sequence_packing(spark, sf):
    """LLM-pretraining sequence packing (packing.pack_sequences): docs in
    doc_id order concatenated with an EOS slot between them, sliced into
    64-token windows; one row per (seq, doc) overlap. bucket_width=100
    forces the two-level distributed prefix sum (5 buckets at sf0.01) so
    the contract run exercises the scale path, not the trivial
    one-bucket case."""
    from medacy_spark.operators.packing import pack_sequences

    return pack_sequences(
        _docs(spark, sf), 64, bucket_width=100
    ).orderBy("seq_id", "doc_id")


# ---- hyperlink extraction + host-level web graph: anchors synthesized
# deterministically from the corpus (absolute / root-relative /
# protocol-relative / bare-relative / mailto / fragment-only, attribute
# noise included), extracted and resolved by operators/weblinks.py, the
# SQL replaying the identical regex + CASE resolution. The synthesized
# pages are all https, so the oracle's scheme extraction and the
# operator's parse_url(PROTOCOL) agree by construction.

_WEB_W_CTE = """
WITH w AS (
  SELECT 'https://' || source || '.example.com/page/'
           || CAST(doc_id AS VARCHAR) AS url,
         '<p>' || text || '</p>'
         || '<a href="https://src' || CAST((doc_id*7+13)%20 AS VARCHAR)
            || '.example.com/page/' || CAST((doc_id*7+13)%1000 AS VARCHAR)
            || '">' || string_split(text, ' ')[1] || '</a>'
         || '<a class="nav" href="/page/' || CAST((doc_id*3+1)%1000 AS VARCHAR)
            || '">y</a>'
         || CASE WHEN doc_id%3=0 THEN
              '<a href="//src' || CAST((doc_id*11+5)%20 AS VARCHAR)
              || '.example.com/p/' || CAST(doc_id%100 AS VARCHAR) || '">z</a>'
            ELSE '' END
         || CASE WHEN doc_id%5=1 THEN
              '<a href="rel/' || CAST(doc_id%50 AS VARCHAR) || '">w</a>'
            ELSE '' END
         || CASE WHEN doc_id%7=2 THEN
              '<a href="mailto:ops@example.com">m</a>' ELSE '' END
         || '<a href="#top">t</a>'
         || CASE WHEN doc_id%2=0 THEN
              '<a href="https://src' || CAST(doc_id%20 AS VARCHAR)
              || '.example.com/page/' || CAST((doc_id*13+7)%1000 AS VARCHAR)
              || '#frag"> ' || string_split(text, ' ')[len(string_split(text, ' '))]
              || ' </a>'
            ELSE '' END AS html
  FROM documents)"""

_WEB_LINKS_CTES = _WEB_W_CTE + """,
lx AS (
  SELECT url,
         regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
         lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) AS src_host,
         UNNEST(regexp_extract_all(html, '<a\\s[^>]*href="([^"]*)"', 1)) AS href
  FROM w),
rs AS (
  SELECT url, src_host,
         regexp_replace(
           CASE WHEN regexp_matches(href, '^https?://') THEN href
                WHEN href LIKE '//%' THEN scheme || ':' || href
                WHEN href LIKE '/%' THEN scheme || '://' || src_host || href
                ELSE scheme || '://' || src_host || '/' || href END,
           '#.*$', '') AS link_url
  FROM lx
  WHERE NOT (href = '' OR href LIKE '#%' OR href LIKE 'mailto:%'
             OR href LIKE 'javascript:%')),
links AS (
  SELECT url, src_host, link_url,
         lower(regexp_extract(link_url, '^[a-z]+://([^/]+)', 1)) AS dst_host
  FROM rs)"""


def _web_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, html) pages synthesized deterministically from documents —
    the Spark twin of _WEB_LINKS_CTES' ``w``."""
    i = F.col("doc_id")

    def s(x):
        return x.cast("string")

    a = F.concat(
        F.lit('<a href="https://src'), s((i * 7 + 13) % 20),
        F.lit(".example.com/page/"), s((i * 7 + 13) % 1000), F.lit('">'),
        F.element_at(F.split(F.col("text"), " "), 1), F.lit("</a>"),
    )
    b = F.concat(
        F.lit('<a class="nav" href="/page/'), s((i * 3 + 1) % 1000),
        F.lit('">y</a>'),
    )
    c = F.when(
        i % 3 == 0,
        F.concat(
            F.lit('<a href="//src'), s((i * 11 + 5) % 20),
            F.lit(".example.com/p/"), s(i % 100), F.lit('">z</a>'),
        ),
    ).otherwise(F.lit(""))
    rel = F.when(
        i % 5 == 1,
        F.concat(F.lit('<a href="rel/'), s(i % 50), F.lit('">w</a>')),
    ).otherwise(F.lit(""))
    mail = F.when(
        i % 7 == 2, F.lit('<a href="mailto:ops@example.com">m</a>')
    ).otherwise(F.lit(""))
    frag = F.when(
        i % 2 == 0,
        F.concat(
            F.lit('<a href="https://src'), s(i % 20),
            F.lit(".example.com/page/"), s((i * 13 + 7) % 1000),
            F.lit('#frag"> '),
            F.element_at(F.split(F.col("text"), " "), -1), F.lit(" </a>"),
        ),
    ).otherwise(F.lit(""))
    return _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/page/"), s(i)
        ).alias("url"),
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit("</p>"),
            a, b, c, rel, mail, F.lit('<a href="#top">t</a>'), frag,
        ).alias("html"),
    )


@q("host_link_graph", _WEB_LINKS_CTES + """
SELECT src_host, dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT url) AS BIGINT) AS n_src_pages,
       src_host = dst_host AS is_internal
FROM links GROUP BY src_host, dst_host ORDER BY src_host, dst_host
""")
def q_host_link_graph(spark, sf):
    """Anchor extraction + resolution (weblinks.extract_links) and the
    host→host rollup (weblinks.host_link_graph) over synthesized pages;
    mailto/fragment-only anchors dropped, fragments stripped, relative
    forms resolved against the page URL."""
    from medacy_spark.operators.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_web_pages(spark, sf)))
    return g.orderBy("src_host", "dst_host")


@q(
    "host_pagerank",
    _WEB_LINKS_CTES
    + """,
ed AS (
  SELECT src_host AS src_id, dst_host AS dst_id,
         CAST(count(*) AS DOUBLE) AS weight
  FROM links WHERE src_host <> dst_host GROUP BY src_id, dst_id),
"""
    + _pagerank_tail_sql(),
)
def q_host_pagerank(spark, sf):
    """Host centrality (weblinks.host_pagerank): PageRank over the
    cross-host link graph, link-count weighted — the crawl-quality
    weighting a webtext pipeline derives from its own link structure.
    Same iteration arithmetic as kg_pagerank (shared oracle tail)."""
    from medacy_spark.operators.weblinks import extract_links, host_pagerank

    pr = host_pagerank(extract_links(_web_pages(spark, sf)))
    return pr.select("node", F.round("pagerank", 9).alias("pagerank")).orderBy(
        "node"
    )


# ---- anchor-text alias table: the KG alias source — what the web
# calls a page names the entity behind it. Anchors carry corpus words
# (first/last token) so the alias table is corpus-derived, not
# constant. Same resolution chain as host_link_graph; the two parallel
# regexp_extract_all scans (group 1 / group 2) visit identical match
# sites, so the zipped arrays align in both engines.


@q("anchor_alias_table", _WEB_W_CTE + r""",
ax0 AS (
  SELECT url,
         regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
         lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) AS src_host,
         unnest(regexp_extract_all(html,
           '<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
         unnest(regexp_extract_all(html,
           '<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS rawanchor
  FROM w),
ax AS (
  SELECT url, src_host, trim(rawanchor) AS anchor,
         regexp_replace(
           CASE WHEN regexp_matches(href, '^https?://') THEN href
                WHEN href LIKE '//%' THEN scheme || ':' || href
                WHEN href LIKE '/%' THEN scheme || '://' || src_host || href
                ELSE scheme || '://' || src_host || '/' || href END,
           '#.*$', '') AS link_url
  FROM ax0
  WHERE NOT (href = '' OR href LIKE '#%' OR href LIKE 'mailto:%'
             OR href LIKE 'javascript:%'))
SELECT link_url, anchor,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT src_host) AS BIGINT) AS n_src_hosts
FROM ax WHERE anchor <> ''
GROUP BY link_url, anchor ORDER BY link_url, anchor
""")
def q_anchor_alias_table(spark, sf):
    """weblinks.extract_anchor_texts + anchor_alias_table over the
    synthesized pages — (target URL, surface form) → popularity."""
    from medacy_spark.operators.weblinks import (
        anchor_alias_table,
        extract_anchor_texts,
    )

    t = anchor_alias_table(extract_anchor_texts(_web_pages(spark, sf)))
    return t.orderBy("link_url", "anchor")


# ---- URL canonicalization + URL-level dedup: fragment / case /
# default-port / tracking-param / trailing-junk variants of the same
# page collapse to one canonical form. The oracle replays each
# regexp_replace pass verbatim (RE2-compatible, no lookaround;
# pass-ordered by design, not URL-parsed).


@q("url_canonical", r"""
WITH mu AS (
  SELECT doc_id,
         'https://'
         || CASE WHEN doc_id%3=0 THEN upper(source) || '.EXAMPLE.COM'
                 ELSE source || '.example.com' END
         || CASE WHEN doc_id%4=0 THEN ':443' ELSE '' END
         || '/page/' || CAST(doc_id%50 AS VARCHAR)
         || CASE WHEN doc_id%7=0 THEN '/' ELSE '' END
         || CASE WHEN doc_id%5=0 THEN '?utm_source=feed&id=' || CAST(doc_id%50 AS VARCHAR)
                 WHEN doc_id%5=1 THEN '?id=' || CAST(doc_id%50 AS VARCHAR)
                 WHEN doc_id%5=2 THEN '?utm_campaign=x'
                 ELSE '' END
         || CASE WHEN doc_id%2=0 THEN '#sec' ELSE '' END AS u
  FROM documents),
c1 AS (SELECT u, regexp_replace(u, '#.*$', '', 'g') AS s FROM mu),
c2 AS (SELECT u, lower(regexp_extract(s, '^([^/]+//[^/?#]*)', 1))
              || regexp_replace(s, '^[^/]+//[^/?#]*', '') AS s FROM c1),
c3 AS (SELECT u, regexp_replace(regexp_replace(s,
         '^(https://[^/:?#]+):443([/?].*)?$', '\1\2'),
         '^(http://[^/:?#]+):80([/?].*)?$', '\1\2') AS s FROM c2),
c4 AS (SELECT u, regexp_replace(s,
         '(utm_[a-z0-9]+|gclid|fbclid)=[^&#]*&?', '', 'g') AS s FROM c3),
c5 AS (SELECT u, regexp_replace(regexp_replace(s, '[?&]+$', ''),
         '/$', '') AS canonical_url FROM c4)
SELECT canonical_url,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(count(DISTINCT u) AS BIGINT) AS n_distinct_raw
FROM c5 GROUP BY canonical_url ORDER BY canonical_url
""")
def q_url_canonical(spark, sf):
    """weblinks.canonical_url + url_variants over messy URLs synthesized
    deterministically (case/port/tracking/fragment/trailing-slash
    variants; doc_id % 50 page ids force real variant groups)."""
    from medacy_spark.operators.weblinks import url_variants

    i = F.col("doc_id")
    s = lambda x: x.cast("string")  # noqa: E731
    m = i % 50
    url = F.concat(
        F.lit("https://"),
        F.when(
            i % 3 == 0, F.concat(F.upper(F.col("source")), F.lit(".EXAMPLE.COM"))
        ).otherwise(F.concat(F.col("source"), F.lit(".example.com"))),
        F.when(i % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"), s(m),
        F.when(i % 7 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.concat(F.lit("?utm_source=feed&id="), s(m)))
        .when(i % 5 == 1, F.concat(F.lit("?id="), s(m)))
        .when(i % 5 == 2, F.lit("?utm_campaign=x"))
        .otherwise(F.lit("")),
        F.when(i % 2 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    return url_variants(_docs(spark, sf).select(url.alias("url"))).orderBy(
        "canonical_url"
    )


# ---- alias/entity resolution over the anchor graph: surface forms
# and target URLs form a bipartite graph; connected components give the
# entity clusters (two names for the same page — or two pages sharing a
# name — co-cluster). String-node CC: min-label propagation under
# binary collation in both engines. Bounded to doc_id < 100 because the
# oracle's recursive closure is quadratic per component.


@q("alias_entity_clusters", _WEB_W_CTE.replace(
    "WITH w AS", "WITH RECURSIVE w AS").replace(
    "FROM documents)", "FROM documents WHERE doc_id < 100)") + r""",
ax0 AS (
  SELECT url,
         regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
         lower(regexp_extract(url, '^[a-z]+://([^/]+)', 1)) AS src_host,
         unnest(regexp_extract_all(html,
           '<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 1)) AS href,
         unnest(regexp_extract_all(html,
           '<a\s[^>]*href="([^"]*)"[^>]*>([^<]*)</a>', 2)) AS rawanchor
  FROM w),
ax AS (
  SELECT trim(rawanchor) AS anchor,
         regexp_replace(
           CASE WHEN regexp_matches(href, '^https?://') THEN href
                WHEN href LIKE '//%' THEN scheme || ':' || href
                WHEN href LIKE '/%' THEN scheme || '://' || src_host || href
                ELSE scheme || '://' || src_host || '/' || href END,
           '#.*$', '') AS link_url
  FROM ax0
  WHERE NOT (href = '' OR href LIKE '#%' OR href LIKE 'mailto:%'
             OR href LIKE 'javascript:%')),
e AS (
  SELECT DISTINCT 'a:' || anchor AS a, 'u:' || link_url AS b
  FROM ax WHERE anchor <> ''),
und AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
nodes AS (SELECT DISTINCT a AS n FROM und),
reach(n, r) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT reach.n, und.b FROM reach JOIN und ON reach.r = und.a)
SELECT n AS node, min(r) AS component
FROM reach GROUP BY n ORDER BY node
""")
def q_alias_entity_clusters(spark, sf):
    """weblinks.extract_anchor_texts → bipartite (anchor, target) edges
    → graph.connected_components: the KG entity-resolution step that
    clusters surface forms with the pages they name."""
    from medacy_spark.operators.graph import connected_components
    from medacy_spark.operators.weblinks import extract_anchor_texts

    pages = _web_pages(spark, sf).filter(
        F.col("url").rlike("/page/\\d{1,2}$")
    )
    anchors = extract_anchor_texts(pages).filter(F.col("anchor") != "")
    edges = anchors.select(
        F.concat(F.lit("a:"), F.col("anchor")).alias("src"),
        F.concat(F.lit("u:"), F.col("link_url")).alias("dst"),
    ).distinct()
    cc = connected_components(edges)
    return cc.select("node", "component").orderBy("node")


# ---- personalized (topic-sensitive) PageRank: teleport mass restarts
# only at the seed hosts — the KG recommendation primitive ("entities
# related to THESE"). Same iteration arithmetic as the shared pagerank
# tail except the teleport term: (1-d)·p_i with p_i = 1/|seeds| on the
# seed set, init = the teleport vector.

_PPR_SEEDS = ["src0.example.com", "src1.example.com"]


def _ppr_tail_sql() -> str:
    seeds = ", ".join(f"'{s}'" for s in _PPR_SEEDS)
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(f"""pr{k} AS (
  SELECT tp.node,
         (1.0 - {_PR_DAMPING}) * tp.p + {_PR_DAMPING} * coalesce(c.contrib, 0.0) AS rnk
  FROM tp LEFT JOIN (
    SELECT ed.dst_id AS node, sum(p.rnk * (ed.weight / o.wout)) AS contrib
    FROM pr{k - 1} p
    JOIN ed ON p.node = ed.src_id
    JOIN outd o ON ed.src_id = o.src_id
    GROUP BY ed.dst_id) c ON tp.node = c.node)""")
    chain = ",\n".join(steps)
    return f"""nodes AS (SELECT src_id AS node FROM ed UNION SELECT dst_id FROM ed),
ns AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM nodes
       WHERE node IN ({seeds})),
tp AS (SELECT node,
              CASE WHEN node IN ({seeds}) THEN 1.0 / (SELECT k FROM ns)
                   ELSE 0.0 END AS p
       FROM nodes),
outd AS (SELECT src_id, sum(weight) AS wout FROM ed GROUP BY src_id),
pr0 AS (SELECT node, p AS rnk FROM tp),
{chain}
SELECT node, round(rnk, 9) AS pagerank
FROM pr{_PR_ITERS} ORDER BY node
"""


@q(
    "host_ppr",
    _WEB_LINKS_CTES
    + """,
ed AS (
  SELECT src_host AS src_id, dst_host AS dst_id,
         CAST(count(*) AS DOUBLE) AS weight
  FROM links WHERE src_host <> dst_host GROUP BY src_id, dst_id),
"""
    + _ppr_tail_sql(),
)
def q_host_ppr(spark, sf):
    """graph.pagerank with a personalized teleport over the host graph:
    rank hosts by relevance TO the two seed hosts."""
    from medacy_spark.operators.graph import pagerank
    from medacy_spark.operators.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_web_pages(spark, sf)))
    ed = g.filter(~F.col("is_internal")).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").cast("double").alias("weight"),
    )
    seeds = local_table(spark, [(s,) for s in _PPR_SEEDS], "node string")
    pr = pagerank(
        ed, src="src", dst="dst", weight="weight",
        iterations=_PR_ITERS, damping=_PR_DAMPING, seeds=seeds,
    )
    return pr.select("node", F.round("pagerank", 9).alias("pagerank")).orderBy(
        "node"
    )


# ---- deterministic random walks over the host graph (the DeepWalk
# corpus generator): the hash-argmin step choice — out-neighbor
# minimizing md5(salt:cur:walk:step:dst), ties by dst — replayed with a
# row_number over the identical key string. Steps unrolled like the
# pagerank/BPE oracles.

_WALK_N = 2
_WALK_LEN = 4


def _host_walks_sql() -> str:
    parts = [_WEB_LINKS_CTES + f""",
e AS MATERIALIZED (
  SELECT DISTINCT src_host AS a, dst_host AS b FROM links
  WHERE src_host <> dst_host),
c0 AS (
  SELECT a AS start, CAST(walk_id AS INTEGER) AS walk_id, a AS cur
  FROM (SELECT DISTINCT a FROM e),
       (SELECT unnest(generate_series(0, {_WALK_N - 1})) AS walk_id))"""]
    for t in range(1, _WALK_LEN + 1):
        parts.append(f""",
w{t} AS (
  SELECT s.start, s.walk_id, e.b,
         row_number() OVER (PARTITION BY s.start, s.walk_id
           ORDER BY md5(':' || s.cur || ':' || CAST(s.walk_id AS VARCHAR)
                        || ':' || '{t}' || ':' || e.b), e.b) AS rn
  FROM c{t - 1} s JOIN e ON s.cur = e.a),
c{t} AS MATERIALIZED (
  SELECT start, walk_id, b AS cur FROM w{t} WHERE rn = 1)""")
    union = "\n  UNION ALL ".join(
        f"SELECT start, walk_id, CAST({t} AS INTEGER) AS step, cur AS node FROM c{t}"
        for t in range(_WALK_LEN + 1)
    )
    parts.append(f"""
SELECT * FROM ({union})
ORDER BY start, walk_id, step
""")
    return "".join(parts)


@q("host_random_walks", _host_walks_sql())
def q_host_random_walks(spark, sf):
    """graph.random_walks over the external host-link graph: 2 walks of
    4 steps from every host — the node-embedding corpus generator."""
    from medacy_spark.operators.graph import random_walks
    from medacy_spark.operators.weblinks import extract_links, host_link_graph

    g = host_link_graph(extract_links(_web_pages(spark, sf)))
    edges = g.filter(~F.col("is_internal")).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    )
    w = random_walks(edges, n_walks=_WALK_N, walk_len=_WALK_LEN)
    return w.orderBy("start", "walk_id", "step")


# ---- n-gram LM perplexity (CCNet-style quality filter): bigram add-k
# LM trained on the corpus, scored against a perturbed copy (an unseen
# token appended on doc_id % 10 = 0 exercises the OOV/unseen-gram path
# in BOTH engines). Identical parenthesization: p = (c + k)/(c_ctx +
# k·V), mean log10, perplexity = 10^(-mean); floats rounded 9 on both.


@q("lm_perplexity", """
WITH tr AS (
  SELECT doc_id,
         unnest(string_split(lower(text), ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents),
gc AS (
  SELECT t1.word AS ctx, t2.word AS w, count(*) AS c
  FROM tr t1 JOIN tr t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
  GROUP BY ctx, w),
cc AS (SELECT ctx, sum(c) AS c_ctx FROM gc GROUP BY ctx),
vv AS (SELECT CAST(count(DISTINCT word) AS DOUBLE) AS v FROM tr),
sc AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0 THEN lower(text) || ' zzunk'
              ELSE lower(text) END AS lt
  FROM documents),
st AS (
  SELECT doc_id,
         unnest(string_split(lt, ' ')) AS word,
         unnest(generate_series(1, len(string_split(lt, ' ')))) AS pos
  FROM sc),
sg AS (
  SELECT s1.doc_id, s1.word AS ctx, s2.word AS w
  FROM st s1 JOIN st s2 ON s1.doc_id = s2.doc_id AND s2.pos = s1.pos + 1),
pj AS (
  SELECT sg.doc_id,
         (CAST(coalesce(gc.c, 0) AS DOUBLE) + 0.1)
           / (CAST(coalesce(cc.c_ctx, 0) AS DOUBLE) + 0.1 * vv.v) AS p
  FROM sg LEFT JOIN gc ON sg.ctx = gc.ctx AND sg.w = gc.w
          LEFT JOIN cc ON sg.ctx = cc.ctx
          CROSS JOIN vv)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       round(avg(log10(p)), 9) AS avg_logp,
       round(pow(10.0, -avg(log10(p))), 9) AS perplexity
FROM pj GROUP BY doc_id ORDER BY doc_id
""")
def q_lm_perplexity(spark, sf):
    """Bigram LM (lm.train_ngram_lm, k=0.1) trained on the corpus;
    lm.score_perplexity over the zzunk-perturbed copy."""
    from medacy_spark.operators.lm import score_perplexity, train_ngram_lm

    d = _docs(spark, sf)
    model = train_ngram_lm(d, n=2, k=0.1)
    scored_input = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" zzunk"))
        ).otherwise(F.col("text")).alias("text"),
    )
    out = score_perplexity(scored_input, model)
    return out.select(
        "doc_id",
        "n_grams",
        F.round("avg_logp", 9).alias("avg_logp"),
        F.round("perplexity", 9).alias("perplexity"),
    ).orderBy("doc_id")


# ---- BPE tokenizer induction: the full Sennrich merge loop replayed
# merge-by-merge in SQL. Pair stats are overlap-counted and
# word-frequency weighted; the winner is (max cnt, lexicographic l, r);
# the greedy left-to-right rewrite is the gaps-and-islands formulation
# (odd index within each run of consecutive match positions — provably
# the greedy scan, bpe.py module docstring). Each unrolled iteration is
# pair-count → argmax → match → taken → rewrite.

_BPE_MERGES = 8


def _bpe_ctes(iters: int) -> str:
    parts = ["""
WITH wd AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
wc AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS wcnt FROM wd WHERE word <> ''
  GROUP BY word),
s0 AS MATERIALIZED (
  SELECT word, CAST(pos AS BIGINT) AS pos, substring(word, pos, 1) AS sym
  FROM (SELECT word, unnest(generate_series(1, length(word))) AS pos
        FROM wc))"""]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(f""",
p{k} AS (
  SELECT a.sym AS l, b.sym AS r, sum(wc.wcnt) AS cnt
  FROM s{p} a JOIN s{p} b ON a.word = b.word AND b.pos = a.pos + 1
  JOIN wc ON wc.word = a.word
  GROUP BY l, r),
b{k} AS MATERIALIZED (SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1),
m{k} AS (
  SELECT a.word, a.pos
  FROM s{p} a JOIN s{p} c ON a.word = c.word AND c.pos = a.pos + 1
  CROSS JOIN b{k} WHERE a.sym = b{k}.l AND c.sym = b{k}.r),
g{k} AS (
  SELECT word, pos,
         pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS grp
  FROM m{k}),
t{k} AS MATERIALIZED (
  SELECT word, pos FROM (
    SELECT word, pos,
           row_number() OVER (PARTITION BY word, grp ORDER BY pos) AS j
    FROM g{k}) WHERE j % 2 = 1),
s{k} AS MATERIALIZED (
  SELECT word, row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
         sym FROM (
    SELECT u.word, u.pos,
           CASE WHEN t.pos IS NOT NULL THEN u.sym || nx.sym
                ELSE u.sym END AS sym
    FROM s{p} u
    LEFT JOIN t{k} t ON u.word = t.word AND u.pos = t.pos
    LEFT JOIN t{k} tp ON u.word = tp.word AND u.pos = tp.pos + 1
    LEFT JOIN s{p} nx ON u.word = nx.word AND nx.pos = u.pos + 1
    WHERE tp.pos IS NULL))""")
    return "".join(parts)


def _bpe_merges_sql() -> str:
    union = "\n  UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS merge_rank, l AS lsym, r AS rsym, "
        f"CAST(cnt AS BIGINT) AS cnt FROM b{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
    return f"{_bpe_ctes(_BPE_MERGES)}\nSELECT * FROM ({union})\nORDER BY merge_rank\n"


def _bpe_segmentations_sql() -> str:
    return f"""{_bpe_ctes(_BPE_MERGES)}
SELECT s.word, wc.wcnt, string_agg(s.sym, ' ' ORDER BY s.pos) AS segmentation
FROM s{_BPE_MERGES} s JOIN wc ON wc.word = s.word
GROUP BY s.word, wc.wcnt ORDER BY s.word
"""


@q("bpe_merges", _bpe_merges_sql())
def q_bpe_merges(spark, sf):
    """bpe.learn_bpe over the corpus: the first 8 learned merges with
    their overlap-counted pair frequencies."""
    from medacy_spark.operators.bpe import learn_bpe

    model = learn_bpe(_docs(spark, sf), n_merges=_BPE_MERGES)
    return local_table(
        spark, model.merges, "merge_rank int, lsym string, rsym string, cnt long"
    ).orderBy("merge_rank")


@q("bpe_tokenize", _bpe_ctes(_BPE_MERGES) + f""",
seg AS MATERIALIZED (
  SELECT word, string_agg(sym, ' ' ORDER BY pos) AS s
  FROM s{_BPE_MERGES} GROUP BY word),
dt AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
  FROM documents)
SELECT d.doc_id,
       string_agg(seg.s, ' ' ORDER BY d.pos) AS bpe_text,
       CAST(sum(len(string_split(seg.s, ' '))) AS BIGINT) AS n_bpe_tokens
FROM dt d JOIN seg ON d.word = seg.word
WHERE d.word <> ''
GROUP BY d.doc_id ORDER BY d.doc_id
""")
def q_bpe_tokenize(spark, sf):
    """bpe.apply_bpe: the whole corpus re-tokenized through the learned
    8-merge model (the model-scale segmentation join); per-doc BPE
    token stream + count."""
    from medacy_spark.operators.bpe import apply_bpe, learn_bpe

    d = _docs(spark, sf)
    model = learn_bpe(d, n_merges=_BPE_MERGES)
    out = apply_bpe(d, model)
    return out.select(
        "doc_id",
        F.array_join("tokens", " ").alias("bpe_text"),
        F.size("tokens").cast("long").alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@q("bpe_segmentations", _bpe_segmentations_sql())
def q_bpe_segmentations(spark, sf):
    """The final per-word segmentation map after 8 merges — the model
    state apply_bpe joins against."""
    from medacy_spark.operators.bpe import learn_bpe

    model = learn_bpe(_docs(spark, sf), n_merges=_BPE_MERGES)
    return model.vocab.select(
        "word", "wcnt", F.array_join("syms", " ").alias("segmentation")
    ).orderBy("word")


# ---- source-mixture upsampling ('epochs per source'): weights cycle
# 0.25 / 1.0 / 1.75 / 2.5 across the 20 sources; the per-source
# fractional-epoch thresholds are driver-computed hex constants
# embedded in BOTH engines (the matchers-vocab pattern), so the md5
# Bernoulli replays exactly.

_MIX_WEIGHTS = {f"src{k}": (k % 4) * 0.75 + 0.25 for k in range(20)}


def _mix_values_sql() -> str:
    from medacy_spark.operators.sampling import _hex_threshold

    return ", ".join(
        f"('{s}', {int(w)}, '{_hex_threshold(w - int(w))}')"
        for s, w in sorted(_MIX_WEIGHTS.items())
    )


@q("source_mixture", f"""
WITH wt(source, whole, thr) AS (VALUES {_mix_values_sql()}),
j AS (
  SELECT d.doc_id, d.source,
         whole + CASE WHEN md5(CAST(d.doc_id AS VARCHAR)) < thr
                      THEN 1 ELSE 0 END AS n
  FROM documents d JOIN wt ON d.source = wt.source)
SELECT doc_id, source, CAST(copy_id AS INTEGER) AS copy_id FROM (
  SELECT doc_id, source, unnest(generate_series(1, n)) AS copy_id
  FROM j WHERE n > 0)
ORDER BY doc_id, copy_id
""")
def q_source_mixture(spark, sf):
    """sampling.upsample_sources with the shared weight cycle — the
    deterministic repeat/downsample mixture a pretraining recipe
    specifies per source."""
    from medacy_spark.operators.sampling import upsample_sources

    out = upsample_sources(_docs(spark, sf), _MIX_WEIGHTS)
    return out.select("doc_id", "source", "copy_id").orderBy(
        "doc_id", "copy_id"
    )


# ---- trainable quality classifier: full-batch logistic regression
# (the LLaMA/RefinedWeb learned-filter axis) with every gradient step
# unrolled in SQL — identical parenthesization (z = b + a1·f1 + a2·f2
# + a3·f3, p = 1/(1+exp(-z)), w ← w − lr·avg((p−y)·f)); only the final
# probabilities are rounded.

_LOGREG_ITERS = 6


def _logreg_sql() -> str:
    feat = """d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y,
         CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS f1,
         CAST(length(text) AS DOUBLE) / 1000.0 AS f2,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
           / greatest(CAST(len(string_split(text, ' ')) AS DOUBLE), 1.0) AS f3
  FROM documents),
wt0 AS (SELECT 0.0 AS b, 0.0 AS a1, 0.0 AS a2, 0.0 AS a3)"""
    steps = []
    for k in range(1, _LOGREG_ITERS + 1):
        steps.append(f""",
g{k} AS (
  SELECT avg(p - y) AS gb, avg((p - y) * f1) AS g1,
         avg((p - y) * f2) AS g2, avg((p - y) * f3) AS g3
  FROM (SELECT y, f1, f2, f3,
               1.0 / (1.0 + exp(-(b + a1 * f1 + a2 * f2 + a3 * f3))) AS p
        FROM d CROSS JOIN wt{k - 1})),
wt{k} AS (
  SELECT b - 1.0 * gb AS b, a1 - 1.0 * g1 AS a1,
         a2 - 1.0 * g2 AS a2, a3 - 1.0 * g3 AS a3
  FROM wt{k - 1} CROSS JOIN g{k})""")
    return "WITH " + feat + "".join(steps) + f"""
SELECT doc_id, CAST(y AS DOUBLE) AS y,
       round(1.0 / (1.0 + exp(-(b + a1 * f1 + a2 * f2 + a3 * f3))), 9) AS p
FROM d CROSS JOIN wt{_LOGREG_ITERS} ORDER BY doc_id
"""


@q("quality_classifier", _logreg_sql())
def q_quality_classifier(spark, sf):
    """classifier.train_logreg (6 full-batch iterations, lr 1.0) on the
    default quality features, label planted as doc_id % 3 = 0; output
    is every doc's final probability."""
    from medacy_spark.operators.classifier import (
        default_features,
        score_logreg,
        train_logreg,
    )

    feats = default_features(F.col("text"))
    d = _docs(spark, sf).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, 1.0).otherwise(0.0).alias("y"),
        *[c.alias(n) for n, c in feats.items()],
    )
    model = train_logreg(d, ["f1", "f2", "f3"], "y", iterations=_LOGREG_ITERS)
    out = score_logreg(d, model)
    return out.select(
        "doc_id", "y", F.round("p", 9).alias("p")
    ).orderBy("doc_id")


# The driver runs queries in registration order under a budget (r1 ran
# 43/43, r2 45/66, r3 the first 50 of 72, r4 the first 50 of 79, r5 the
# first 50 of 80, r6 the first 50 of 82) — so dict order decides which
# operators get a driver-record row this round. Round-7 priority, per
# VERDICT r6 #1: any queries NEW this round first, then the 32 queries
# whose newest driver record is r4/r5 (everything else re-confirmed
# green in CORRECTNESS_r06).
_PRIORITY = [
    # r8: Spark-side plan changed this round (scan fan-out / single-pass
    # mention tables / integer-exact bm25 / adaptive graph shuffles /
    # join-order) — re-verify under the driver's gate FIRST
    "bm25_relevance", "ambiguity_counts", "lenient_intersection",
    "top_orders", "lm_perplexity", "text_hygiene", "cooccurrence_ppmi",
    "embedding_topk", "embedding_topk_lsh", "embedding_topk_ivf",
    "embedding_near_dups", "connected_components", "kg_pagerank",
    "kg_nodes", "kg_edges", "host_pagerank", "host_ppr",
    "alias_entity_clusters", "incremental_dedup", "minhash_lsh",
    "simhash_candidates", "ngram_jaccard", "measures_strict",
    "measures_lenient", "containment_pairs", "doc_fingerprints",
    "exact_dup_groups", "data_limit",
    # newest driver record is r4/r5 — rotate in for fresh rows
    "fold_assignment", "gazetteer_match", "gold_overlay",
    "line_word_index", "metamap_candidates", "offset_restore",
    "pricing_summary", "sem_type_discovery", "semtype_filter",
    "text_extractor", "vocab_index",
    # r7-new rows with a single driver record — keep them inside a
    # 50-slot budget window
    "pii_signals", "host_stats", "copurchase_bfs", "duplicate_passages",
    "boilerplate_removal", "sequence_packing", "host_link_graph",
    "anchor_alias_table", "url_canonical", "bpe_merges",
    "bpe_segmentations", "bpe_tokenize", "source_mixture",
    "quality_classifier", "host_random_walks", "packing_stats",
    "measures_macro", "repetition_signals", "benchmark_decontam",
    "events_sessionize", "purchase_attribution", "hash_sample",
    "stratified_sample", "copurchase_triangles", "event_value_quantiles",
]


def _ordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    out.update({n: f for n, f in QUERIES.items() if n not in out})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered()


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered() if n in ORACLES}

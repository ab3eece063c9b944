"""Entity linking: mentions -> CUIs (M5, dictionary lookup).

The reference links via the external MetaMap binary (metamap.py:113-152),
whose candidates carry CandidateCUI + SemTypes + ConceptPI spans
(metamap.py:237-264), overlaid as feature_cui per token
(metamap_component.py:122-136). Our engine replaces the subprocess with the
north star's dictionary entity linking: a broadcast hash join of
normalized mention text against the CUI dictionary (term, cui,
sem_types), shuffle-free; an ambiguous surface (one term -> several
CUIs) takes the lexicographically smallest CUI.

Semantic-type filtering reproduces the MetaMap include/exclude predicate
(metamap.py:206-235).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from medacy_spark.corpus import lexicons as lex
from medacy_spark.session import local_table


def cui_dictionary(spark: SparkSession) -> DataFrame:
    return local_table(
        spark, lex.cui_dictionary_rows(), "term string, cui string, sem_types array<string>"
    )


def array_dot(a, b):
    """HOF left-fold dot product — the shared building block for cosine
    and its norm-hoisted variants (r8: measured FASTER than a 64-term
    unrolled element_at chain, which compiles to pathologically nested
    codegen; the HOF fold's per-element interpretation is the cheaper
    evil — keep the fold)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def array_norm(a):
    """HOF left-fold L2 norm — same fold arithmetic as cosine's inline
    norms, exposed so join operators can hoist it to once-per-row."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def cosine(a, b):
    """JVM-side cosine similarity of two array<float/double> columns.

    An r8 experiment unrolled the folds for statically-known widths and
    measured it SLOWER than the HOF path (janino chokes on the nested
    chain; interpreted fallback is worse still) — the winning variant is
    norm-hoisting at the operator level (similarity.brute_force_topk),
    not expression unrolling."""
    dot = array_dot(a, b)
    na = array_norm(a)
    nb = array_norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(0.0)).otherwise(dot / (na * nb))


def link_mentions(
    mentions: DataFrame,
    dictionary: DataFrame,
) -> DataFrame:
    """mentions(id, tag, start, end, text) -> links(id, start, end, text,
    cui, sem_types).

    Dictionary is broadcast (gazetteer-scale). An ambiguous surface form
    takes the lexicographically smallest CUI (deterministic).
    """
    m = mentions.select(
        "doc_id", "tag", "start", "end", "text", F.lower("text").alias("_norm")
    )
    d = F.broadcast(dictionary.select(F.lower("term").alias("_norm"), "cui", "sem_types"))
    cand = m.join(d, "_norm")
    w = Window.partitionBy("doc_id", "start", "end", "tag").orderBy(F.col("cui").asc())
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "tag", "start", "end", "text", "cui", "sem_types")
    )


def cui_overlay(
    tokens: DataFrame,
    candidates: DataFrame,
    include_sem_types=None,
) -> DataFrame:
    """J9: overlay MetaMap-shaped candidate spans onto tokens — tokens
    inside a candidate span gain feature_cui / feature_is_{semtype} entries
    (metamap_component.py:94-136). Interval containment via the bucketed
    band join.

    ``include_sem_types`` follows the reference's semantic_type_labels
    tri-state (metamap.py:206-235, json_to_pipeline.py:70-79):
      * None ('all')      — a flag per candidate type
      * [] ('none')       — feature_cui ONLY, no per-type flags
                            (MetaMapOverlayer with semantic_type_labels=[])
      * non-empty list    — a flag only for the LISTED types

    No mode filters the candidates themselves: the reference overlays
    feature_cui for ALL mapped terms regardless of semantic_type_labels
    (metamap_component.py:122-136 iterates `mapped_terms`, not the
    label-filtered set) — only the feature_is_* flags are label-restricted
    (the per-label `get_term_by_semantic_type(include=[label])` pass at
    metamap_component.py:95-100 reduces to type membership).
    """
    from medacy_spark.operators.intervals import containment_join

    cand = candidates.select(
        "doc_id", "start", "end", "cui", "sem_types"
    )
    toks = tokens.select(
        "doc_id", "sent_id", "tok_id",
        F.col("idx").alias("start"), F.col("end_idx").alias("end"), "word",
    )
    j = containment_join(toks, cand)
    flagged_types = F.col("r_sem_types")
    if include_sem_types is not None:
        if len(include_sem_types) == 0:
            flagged_types = F.filter(flagged_types, lambda _: F.lit(False))
        else:
            flagged_types = F.array_intersect(
                flagged_types, F.array(*[F.lit(t) for t in include_sem_types])
            )
    feat = F.map_concat(
        F.create_map(F.lit("feature_cui"), F.col("r_cui")),
        F.map_from_entries(
            F.transform(
                flagged_types,
                lambda t: F.struct(
                    F.concat(F.lit("feature_is_"), t).alias("key"),
                    F.lit("True").alias("value"),
                ),
            )
        ),
    )
    return j.select(
        "doc_id",
        F.col("l_sent_id").alias("sent_id"),
        F.col("l_tok_id").alias("tok_id"),
        F.col("l_start").alias("idx"),
        F.col("l_end").alias("end_idx"),
        F.col("l_word").alias("word"),
        feat.alias("features"),
    )


def filter_semantic_types(
    links: DataFrame,
    include: Sequence[str] = (),
    exclude: Sequence[str] | None = None,
) -> DataFrame:
    """MetaMap-style semantic-type predicate — subset semantics, exactly
    get_term_by_semantic_type (metamap.py:206-235):

      * raises when include and exclude overlap (the reference's guard);
      * rows with an empty sem_types set are always dropped (the
        ``@Count == 0: continue`` branch);
      * a row is dropped when exclude is not None and ALL exclude types
        are present (``set(exclude) <= found_types``) — including the
        ``exclude=[]`` edge, where the vacuous subset drops EVERY row,
        exactly as the reference does; only the ``None`` default skips
        the exclusion pass;
      * a row is kept only when ALL include types are present
        (``set(include) <= found_types``; the empty default keeps
        everything not excluded).
    """
    if exclude is not None:
        overlap = set(include) & set(exclude)
        if overlap:
            raise ValueError(
                "Include and exclude overlap with the following semantic types: "
                + ", ".join(sorted(overlap))
            )
    out = links.filter(F.size("sem_types") > 0)

    def _all_present(types: Sequence[str]):
        # vacuous truth for an empty type list (set() <= anything); the
        # explicit literal avoids Spark's null-typed empty F.array()
        if not types:
            return F.lit(True)
        return F.forall(
            F.array(*[F.lit(t) for t in types]),
            lambda t: F.array_contains(F.col("sem_types"), t),
        )

    # `is not None`, not truthiness: _all_present(()) is vacuously true,
    # so exclude=[] drops every row — the reference's exact behavior
    if exclude is not None:
        out = out.filter(~_all_present(exclude))
    if include:
        out = out.filter(_all_present(include))
    return out

"""Text analysis: language-ID, quality scoring, token counts, fingerprints.

Corpus-hygiene operators a web-scale training-data pipeline runs before NER
(not in the reference, which assumes curated clinical .txt files). All pure
column expressions — wholly JVM-side, codegen'd, trivially partitionable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medacy_spark.corpus.lexicons import EN_STOPWORDS

_FP_MOD = 1000000007
_FP_BASE = 31


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for empty text)."""
    return F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-flavored count: splits on whitespace AND at letter/digit/punct
    boundaries — a cheap proxy for subword token counts."""
    pieces = F.split(text, r"\s+|(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=[a-zA-Z])|(?=[^\w\s])|(?<=[^\w\s])")
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0))


def stopword_ratio(text: Column) -> Column:
    words = F.split(F.lower(text), r"\s+")
    sw = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    hits = F.size(F.filter(words, lambda x: F.array_contains(sw, x)))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(hits / F.size(words))


def punct_ratio(text: Column) -> Column:
    total = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def quality_score(text: Column) -> Column:
    """[0,1] heuristic quality: rewards mid-length docs with English
    stopword mass and sane punctuation density (Gopher/C4-style filters,
    reduced to arithmetic)."""
    n_tok = token_count(text)
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0)) * F.when(
        n_tok > 5000, F.lit(0.5)
    ).otherwise(F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw * 5.0, F.lit(1.0))
    p = punct_ratio(text)
    punct_score = F.when(p > 0.2, F.lit(0.2)).otherwise(F.lit(1.0))
    return (len_score * 0.4 + sw_score * 0.4 + punct_score * 0.2).cast("double")


def detect_language(text: Column) -> Column:
    """Tiny deterministic language heuristic: English if the stopword ratio
    clears a threshold, else 'unknown'. (A real fastText-style model slots
    in via mapInPandas with a broadcast model — same column contract.)"""
    return F.when(stopword_ratio(text) >= 0.08, F.lit("en")).otherwise(F.lit("unknown"))


# Character-trigram language profiles: high-frequency trigrams of each
# language's function words (public linguistic knowledge), weighted by
# how distinctive they are. Deliberately tiny — the point is the column-
# expression scoring topology; a production table would be learned.
LANG_TRIGRAM_PROFILES: dict[str, dict[str, int]] = {
    "en": {" th": 3, "the": 3, "he ": 2, "ing": 2, "and": 2, " of": 2,
           "of ": 2, " to": 1, "ed ": 1, "ion": 1},
    "de": {"und": 3, "der": 2, "ein": 2, "ich": 2, "sch": 2, "die": 2,
           "en ": 2, " un": 1, "ch ": 1, " ge": 1},
    "fr": {"les": 2, " le": 2, "ent": 2, "que": 2, " et": 2, "des": 2,
           " de": 2, "et ": 1, " qu": 1, "eur": 1},
    "es": {"de ": 2, " la": 2, "que": 2, "ión": 2, "os ": 2, " el": 2,
           " de": 2, "la ": 1, " qu": 1, "ado": 1},
}


def ngram_lang_score(text: Column, lang: str) -> Column:
    """Weighted trigram-occurrence score per 100 chars for one language.

    Occurrences counted with the replace trick —
    (len(s) − len(replace(s, g, ''))) / len(g) — plain string functions
    that exist in every engine (no regex), wholly JVM-side here.
    """
    s = F.lower(text)
    total = F.lit(0)
    for gram, wt in LANG_TRIGRAM_PROFILES[lang].items():
        occ = (F.length(s) - F.length(F.replace(s, F.lit(gram)))) / len(gram)
        total = total + occ * wt
    return (total * 100.0 / F.greatest(F.length(s), F.lit(1))).cast("double")


def detect_language_ngram(text: Column) -> Column:
    """F.array_max over (score, lang) structs: highest score wins; exact
    ties resolve to the lexicographically larger language code
    (deterministic). Below a score of 2.0 (per 100 chars) → 'unknown'.

    This is the brief's "language-ID (n-gram heuristic)" as pure column
    arithmetic — one pass, codegen'd, no UDF.
    """
    scored = F.array(*[
        F.struct(
            ngram_lang_score(text, lang).alias("score"), F.lit(lang).alias("lang")
        )
        for lang in sorted(LANG_TRIGRAM_PROFILES)
    ])
    best = F.array_max(scored)
    return F.when(best["score"] >= 2.0, best["lang"]).otherwise(F.lit("unknown"))


def doc_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over words, mod 1e9+7.

    fp = Σ_i  h(word_i)·B^(i mod 16)   (mod M),  h = first 8 hex chars of
    md5, parsed base-16 — md5 exists in both Spark and DuckDB, so the
    fingerprint is engine-portable and oracle-checkable (an xxhash64 base
    would be Spark-only). Order-sensitive (unlike a bag hash),
    incremental-friendly, and cheap; the capped exponent keeps the
    per-word multiplier table constant-folded.
    """
    words = F.split(text, " ")
    powers = [pow(_FP_BASE, e, _FP_MOD) for e in range(16)]
    pow_arr = F.array(*[F.lit(p) for p in powers])
    idx = F.sequence(F.lit(0), F.size(words) - 1)
    terms = F.zip_with(
        words,
        idx,
        lambda w, i: F.pmod(
            F.pmod(F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long"), F.lit(_FP_MOD))
            * F.element_at(pow_arr, F.pmod(i, F.lit(16)).cast("int") + 1),
            F.lit(_FP_MOD),
        ),
    )
    return F.pmod(F.aggregate(terms, F.lit(0).cast("long"), lambda s, v: s + v), F.lit(_FP_MOD))


def word_ngrams(tokens: Column, n: int) -> Column:
    """Space-joined word n-grams from a token array column (empty array
    when the doc has fewer than ``n`` tokens). Pure array transform — no
    explode, no window, no shuffle; the explode happens at the caller
    where the aggregation needs rows."""
    starts = F.when(
        F.size(tokens) >= n, F.sequence(F.lit(1), F.size(tokens) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(
        starts,
        lambda i: F.concat_ws(" ", *[F.element_at(tokens, i + k) for k in range(n)]),
    )


def repetition_signals(df: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021, table A1)
    per document:

    - ``top2gram_frac`` / ``top3gram_frac``: fraction of the doc's
      characters covered by occurrences of its single most frequent word
      2-/3-gram (count × gram length / text length).
    - ``dup5gram_frac``: fraction of characters in *duplicated* 5-grams —
      every occurrence of any 5-gram that appears ≥2× counts its
      characters (overlapping occurrences counted multiply, capped at 1).

    High values flag boilerplate / templated / degenerate web text for a
    training-data filter, complementing quality_score's length/stopword/
    punctuation arithmetic.

    Scale shape: tokenization is a narrow map; each signal is one
    explode → groupBy(doc_id, gram) with map-side partial aggregation →
    per-doc max/sum. The most-frequent gram is picked with a single
    ``max(struct(count, gram))`` aggregate (ties break to the
    lexicographically largest gram) — no per-doc window, no
    SinglePartition. The tokenized base feeds three consumers, so its
    lineage is cut once.
    """
    t = F.col("text")
    base = df.select(
        "doc_id",
        F.greatest(F.length(t), F.lit(1)).alias("_len"),
        F.split(t, " ").alias("_toks"),
    ).localCheckpoint(eager=False)
    out = base.select("doc_id", "_len")
    for n, name in ((2, "top2gram_frac"), (3, "top3gram_frac")):
        cnt = (
            base.select("doc_id", F.explode(word_ngrams(F.col("_toks"), n)).alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("c"))
        )
        top = cnt.groupBy("doc_id").agg(F.max(F.struct("c", "gram")).alias("_t"))
        out = (
            out.join(top, "doc_id", "left")
            .withColumn(
                name,
                F.coalesce(
                    F.col("_t.c") * F.length(F.col("_t.gram")) / F.col("_len"),
                    F.lit(0.0),
                ),
            )
            .drop("_t")
        )
    dup = (
        base.select("doc_id", F.explode(word_ngrams(F.col("_toks"), 5)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.length("gram")).alias("_dup"))
    )
    return (
        out.join(dup, "doc_id", "left")
        .withColumn(
            "dup5gram_frac",
            F.least(
                F.coalesce(F.col("_dup") / F.col("_len"), F.lit(0.0)), F.lit(1.0)
            ),
        )
        .drop("_len", "_dup")
    )

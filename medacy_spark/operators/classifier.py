"""Trainable document-quality classifier (logistic regression over
text statistics).

Webtext curation's strongest filter is a learned one: LLaMA's
"Wikipedia-reference" classifier and RefinedWeb's quality model are
small linear classifiers over cheap document features.  This module
trains exactly that, Spark-native and fully deterministic: batch
gradient descent where each iteration is ONE aggregation over the
corpus (the gradient) against a 1-row broadcast weight relation — no
collect, no UDFs, every float op replayed closed-form by the
``quality_classifier`` oracle.

Model: p = sigmoid(b + Σ aⱼ·fⱼ); full-batch update
wⱼ ← wⱼ − lr·avg((p − y)·fⱼ).  Features are pure column expressions
(token count, char mass, distinct-token ratio by default — callers
pass their own list for richer models).

scale shape (100 TB)
--------------------
Per iteration: a narrow projection (crossJoin with the 1-row broadcast
weights) + one map-side-combined global aggregation → a 1-row weight
relation, localCheckpointed so plans stay flat.  Driver traffic is
zero; the weight relation never exceeds (#features + 1) doubles.
Scoring is a narrow map against the broadcast weights.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def default_features(text: Column) -> dict[str, Column]:
    """Cheap, engine-portable quality features (all pure arithmetic)."""
    toks = F.split(text, " ")
    n_tok = F.size(toks).cast("double")
    return {
        "f1": n_tok / F.lit(100.0),
        "f2": F.length(text).cast("double") / F.lit(1000.0),
        "f3": F.size(F.array_distinct(toks)).cast("double")
        / F.greatest(n_tok, F.lit(1.0)),
    }


@dataclass
class LogRegModel:
    """1-row weight relation (b, a1..ak) + the feature names it was
    trained on, in order."""

    weights: DataFrame
    feature_names: list[str]
    lr: float
    iterations: int


def _sigmoid(z: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def _z(names: list[str]) -> Column:
    z = F.col("b")
    for n in names:
        z = z + F.col(f"a_{n}") * F.col(n)
    return z


def train_logreg(
    df: DataFrame,
    feature_names: list[str],
    label_col: str = "y",
    *,
    iterations: int = 6,
) -> LogRegModel:
    """Full-batch gradient descent from zero weights; ``df`` must carry
    the feature columns and a 0/1 double label."""
    spark = df.sparkSession
    data = df.select(F.col(label_col).alias("_y"), *feature_names)
    data = data.localCheckpoint(eager=False)  # one featurize pass, k reads
    w = spark.range(1).select(
        F.lit(0.0).alias("b"),
        *[F.lit(0.0).alias(f"a_{n}") for n in feature_names],
    )
    for _ in range(iterations):
        p = _sigmoid(_z(feature_names))
        scored = data.crossJoin(F.broadcast(w))
        grads = scored.agg(
            F.avg(p - F.col("_y")).alias("g_b"),
            *[
                F.avg((p - F.col("_y")) * F.col(n)).alias(f"g_{n}")
                for n in feature_names
            ],
        )
        w = (
            w.crossJoin(F.broadcast(grads))
            .select(
                (F.col("b") - F.lit(1.0) * F.col("g_b")).alias("b"),
                *[
                    (F.col(f"a_{n}") - F.lit(1.0) * F.col(f"g_{n}")).alias(f"a_{n}")
                    for n in feature_names
                ],
            )
            .localCheckpoint(eager=False)
        )
    return LogRegModel(w, list(feature_names), 1.0, int(iterations))


def score_logreg(df: DataFrame, model: LogRegModel) -> DataFrame:
    """Append ``p`` (the quality probability) — a narrow map against the
    broadcast 1-row weights."""
    return df.crossJoin(F.broadcast(model.weights)).withColumn(
        "p", _sigmoid(_z(model.feature_names))
    ).drop("b", *[f"a_{n}" for n in model.feature_names])

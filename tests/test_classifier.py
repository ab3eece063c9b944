"""Quality classifier (operators/classifier.py)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from medacy_spark.operators.classifier import (
    default_features,
    score_logreg,
    train_logreg,
)


def _ref_train(X, y, iterations, lr):
    w = np.zeros(X.shape[1] + 1)
    Xb = np.hstack([np.ones((X.shape[0], 1)), X])
    for _ in range(iterations):
        p = 1.0 / (1.0 + np.exp(-(Xb @ w)))
        w = w - lr * (Xb.T @ (p - y)) / len(y)
    return w


def test_gradient_parity_with_numpy(spark):
    rng = np.random.RandomState(7)
    X = rng.uniform(-1, 1, size=(200, 2)).round(3)
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    rows = [(float(y[i]), float(X[i, 0]), float(X[i, 1])) for i in range(200)]
    df = spark.createDataFrame(rows, "y double, f1 double, f2 double")
    model = train_logreg(df, ["f1", "f2"], "y", iterations=8)
    got = model.weights.collect()[0]
    want = _ref_train(X, y, 8, 1.0)
    assert abs(got["b"] - want[0]) < 1e-9
    assert abs(got["a_f1"] - want[1]) < 1e-9
    assert abs(got["a_f2"] - want[2]) < 1e-9


def test_learns_separable_quality(spark):
    # fluent docs: varied words; junk docs: one word repeated (distinct
    # ratio collapses) — f3 separates them
    fluent = [" ".join(f"w{j}" for j in range(40)) for _ in range(50)]
    junk = ["spam " * 40 for _ in range(50)]
    rows = [(1.0, t) for t in fluent] + [(0.0, t.strip()) for t in junk]
    df = spark.createDataFrame(rows, "y double, text string")
    feats = default_features(F.col("text"))
    d = df.select("y", *[c.alias(n) for n, c in feats.items()])
    model = train_logreg(d, ["f1", "f2", "f3"], "y", iterations=60)
    scored = score_logreg(d, model)
    acc = scored.filter(
        ((F.col("p") >= 0.5) & (F.col("y") == 1.0))
        | ((F.col("p") < 0.5) & (F.col("y") == 0.0))
    ).count() / 100
    assert acc >= 0.95


def test_deterministic_and_no_collect(spark):
    df = spark.createDataFrame(
        [(float(i % 2), i / 10.0, (i % 7) / 7.0) for i in range(50)],
        "y double, f1 double, f2 double",
    )
    w1 = train_logreg(df, ["f1", "f2"], "y").weights.collect()
    w2 = train_logreg(df, ["f1", "f2"], "y").weights.collect()
    assert w1 == w2
    plan = (
        score_logreg(df, train_logreg(df, ["f1", "f2"], "y"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

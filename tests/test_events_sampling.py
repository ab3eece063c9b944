"""Temporal operators (sessionize, asof_join) + deterministic sampling.

asof_join is verified against pandas.merge_asof — the backward,
exact-matches-allowed semantics it claims — on hash-random data. sessionize is verified
against a driver-side gaps-and-islands reference.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from medacy_spark.operators.events import asof_join, sessionize
from medacy_spark.operators.sampling import hash_sample, stratified_sample

EPOCH = dt.datetime(2024, 1, 1)


def _ts(minutes: float) -> dt.datetime:
    return EPOCH + dt.timedelta(minutes=minutes)


# ---------------------------------------------------------------- sessionize


def test_sessionize_hand_case(spark):
    rows = [
        # user 1: three events, gap between #2 and #3 exceeds 30 min
        (1, 1, _ts(0.0)),
        (2, 1, _ts(10.0)),
        (3, 1, _ts(50.0)),
        # user 2: single event
        (4, 2, _ts(5.0)),
        # user 1: ts tie with event 1 — seq breaks it, same session
        (5, 1, _ts(0.0)),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r["event_id"]: (r["is_session_start"], r["session_seq"])
        for r in sessionize(df, gap_seconds=1800).collect()
    }
    assert got == {
        1: (1, 1),
        5: (0, 1),  # same timestamp as event 1, ordered after by event_id
        2: (0, 1),
        3: (1, 2),  # 40 min after event 2 -> new session
        4: (1, 1),
    }


def test_sessionize_matches_reference(spark):
    # hash-random events; driver-side gaps-and-islands reference
    n = 2000
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.pmod(F.xxhash64("id"), F.lit(20)).alias("user_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000)
                + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(86_400_000_000))
            ).alias("ts"),
        )
    )
    pdf = df.toPandas().sort_values(["user_id", "ts", "event_id"])
    gap_us = 600 * 1_000_000
    want = {}
    for _, grp in pdf.groupby("user_id"):
        seq = 0
        prev = None
        for _, row in grp.iterrows():
            tus = int(row["ts"].value) // 1000  # ns -> us
            if prev is None or tus - prev > gap_us:
                seq += 1
            want[int(row["event_id"])] = seq
            prev = tus
    got = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, gap_seconds=600).collect()
    }
    assert got == want


def test_sessionize_single_exchange_plan(spark):
    df = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 5).alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    plan = (
        sessionize(df)._jdf.queryExecution().executedPlan().toString()
    )
    # the lag flag and the running sum share one partitioning+ordering:
    # exactly one shuffle, no SinglePartition global window
    assert plan.count("Exchange") == 1
    assert "SinglePartition" not in plan


# ----------------------------------------------------------------- asof_join


def _asof_frames(n_left=300, n_right=200, n_keys=7):
    def h(i, salt):
        return int.from_bytes(
            hashlib.md5(f"{salt}:{i}".encode()).digest()[:6], "big"
        )

    left = pd.DataFrame(
        {
            "lid": range(n_left),
            "k": [h(i, "lk") % n_keys for i in range(n_left)],
            "ts": [
                pd.Timestamp(2024, 1, 1)
                + pd.Timedelta(microseconds=h(i, "lt") % 10_000_000_000)
                for i in range(n_left)
            ],
        }
    )
    right = pd.DataFrame(
        {
            "rid": range(n_right),
            "k": [h(i, "rk") % n_keys for i in range(n_right)],
            "ts": [
                pd.Timestamp(2024, 1, 1)
                + pd.Timedelta(microseconds=h(i, "rt") % 10_000_000_000)
                for i in range(n_right)
            ],
            "payload": [float(h(i, "rp") % 1000) for i in range(n_right)],
        }
    )
    # plant exact-ts collisions so the at-or-before rule bites
    right.loc[0, ["k", "ts"]] = [left.loc[0, "k"], left.loc[0, "ts"]]
    right.loc[1, ["k", "ts"]] = [left.loc[1, "k"], left.loc[1, "ts"]]
    return left, right


def test_asof_matches_pandas(spark):
    left, right = _asof_frames()
    # pandas merge_asof requires unique right (k, ts) for determinism:
    # our operator's tie rule (max rid) can't be told to pandas, so
    # dedupe ties the same way on both sides
    right_u = (
        right.sort_values(["k", "ts", "rid"])
        .drop_duplicates(["k", "ts"], keep="last")
        .reset_index(drop=True)
    )
    want = pd.merge_asof(
        left.sort_values("ts"),
        right_u.sort_values("ts")[["k", "ts", "rid", "payload"]],
        on="ts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
        suffixes=("", "_r"),
    )
    want_map = {
        int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
        for r in want.itertuples()
    }

    ldf = spark.createDataFrame(left)
    rdf = spark.createDataFrame(right_u[["rid", "k", "ts", "payload"]])
    got = asof_join(
        ldf,
        rdf,
        on="k",
        right_payload=["rid", "payload"],
        right_seq="rid",
    ).collect()
    got_map = {
        r["lid"]: (None if r["rid_r"] is None else int(r["rid_r"])) for r in got
    }
    assert got_map == want_map
    # payload rides along with the matched row
    pay = {int(r.rid): r.payload for r in right_u.itertuples()}
    for r in got:
        if r["rid_r"] is not None:
            assert r["payload_r"] == pay[int(r["rid_r"])]


def test_asof_tie_break_right_seq(spark):
    # two right rows at the identical (key, ts): backward picks max seq
    ldf = spark.createDataFrame([(1, 1, _ts(10.0))], "lid long, k long, ts timestamp")
    rdf = spark.createDataFrame(
        [(7, 1, _ts(5.0)), (9, 1, _ts(5.0))], "rid long, k long, ts timestamp"
    )
    row = asof_join(
        ldf, rdf, on="k", right_payload=["rid"], right_seq="rid"
    ).collect()[0]
    assert row["rid_r"] == 9


def test_asof_single_exchange_plan(spark):
    ldf = spark.range(100).select(
        F.col("id").alias("lid"),
        (F.col("id") % 5).alias("k"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    rdf = spark.range(50).select(
        F.col("id").alias("rid"),
        (F.col("id") % 5).alias("k"),
        F.timestamp_micros(F.col("id") * 2_000_000).alias("ts"),
    )
    plan = (
        asof_join(ldf, rdf, on="k", right_payload=["rid"], right_seq="rid")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # union-tagged-stream: one shuffle on the key, no join operator at all
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------------ sampling


def test_hash_sample_deterministic_and_unbiased(spark):
    df = spark.range(20_000).select(F.col("id").alias("doc_id"))
    a = hash_sample(df, "doc_id", 0.25)
    ids1 = {r["doc_id"] for r in a.collect()}
    ids2 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.25).collect()}
    assert ids1 == ids2  # rerun-identical
    assert abs(len(ids1) / 20_000 - 0.25) < 0.02
    # a different salt draws an (almost surely) different sample
    ids3 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.25, salt="v2").collect()}
    assert ids3 != ids1
    # nested property: a smaller fraction with the same salt is a subset
    ids_small = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1).collect()}
    assert ids_small <= ids1
    # no shuffle: pure filter
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hash_sample_bounds(spark):
    df = spark.range(100).select(F.col("id").alias("doc_id"))
    assert hash_sample(df, "doc_id", 0.0).count() == 0
    assert hash_sample(df, "doc_id", 1.0).count() == 100
    with pytest.raises(ValueError):
        hash_sample(df, "doc_id", 1.5)


def test_stratified_sample_exact_counts(spark):
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.element_at(
            F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("lang"),
    )
    out = stratified_sample(df, "lang", 17, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 17, "de": 17, "fr": 17}
    # small stratum: returns all of it
    tiny = df.filter((F.col("lang") != "en") | (F.col("doc_id") < 9))
    c2 = stratified_sample(tiny, "lang", 17, "doc_id").groupBy("lang").count()
    assert {r["lang"]: r["count"] for r in c2.collect()}["en"] == 3
    # deterministic across reruns
    s1 = sorted(r["doc_id"] for r in out.collect())
    s2 = sorted(r["doc_id"] for r in stratified_sample(df, "lang", 17, "doc_id").collect())
    assert s1 == s2
    # ranks are 1..k inside each stratum
    ranks = [r["sample_rank"] for r in out.filter(F.col("lang") == "en").collect()]
    assert sorted(ranks) == list(range(1, 18))


def test_upsample_sources_semantics(spark):
    from medacy_spark.operators.sampling import upsample_sources

    df = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(300)], ["doc_id", "source"]
    )
    out = upsample_sources(df, {"s0": 2.0, "s1": 0.5, "s2": 3.25})
    rows = out.groupBy("source").count().collect()
    n = {r["source"]: r["count"] for r in rows}
    assert n["s0"] == 200  # exactly 2 epochs, no randomness
    assert 20 <= n["s1"] <= 80  # ~half of 100
    assert 300 <= n["s2"] <= 400  # 3 epochs + ~quarter
    # copy_id is dense 1..n per doc
    per_doc = out.filter("source = 's0'").groupBy("doc_id").agg(
        F.collect_set("copy_id").alias("c")
    )
    assert all(sorted(r["c"]) == [1, 2] for r in per_doc.collect())
    # deterministic across reruns
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, upsample_sources(df, {"s0": 2.0, "s1": 0.5, "s2": 3.25}).collect()))
    assert a == b
    # unlisted sources are dropped
    assert upsample_sources(df, {"s0": 1.0}).filter("source != 's0'").count() == 0

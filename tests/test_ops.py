"""Operational layer: checkpoint/resume, skew salting, streaming,
interval joins, multimodal, textstats."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from medacy_spark.corpus.synth import clinical_documents


def test_checkpoint_resume_skips_completed(spark, doc_ids, tmp_path):
    from medacy_spark.plans.checkpoint import (
        completed_partitions,
        run_stage_checkpointed,
    )

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    out1 = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    calls = []

    def stage(df):
        calls.append(1)
        return df.select("url", F.length("text").alias("n"))

    res = run_stage_checkpointed(
        spark, docs, stage, run_id="r1", stage="len", key_col="url",
        n_partitions=4, output_path=out1, metrics_path=met,
    )
    assert res.count() == 100
    assert completed_partitions(spark, met, "r1", "len") == [0, 1, 2, 3]
    # all 4 remaining partitions processed by ONE pruned job, not a loop
    assert len(calls) == 1

    # resume: all partitions complete -> zero stage invocations
    res2 = run_stage_checkpointed(
        spark, docs, stage, run_id="r1", stage="len", key_col="url",
        n_partitions=4, output_path=out1, metrics_path=met,
    )
    assert len(calls) == 1
    assert res2.count() == 100

    # metrics lineage rows carry per-partition counts
    m = spark.read.parquet(met)
    assert m.filter("status = 'ok'").count() == 4
    assert m.agg(F.sum("rows_out")).collect()[0][0] == 100
    assert m.agg(F.sum("rows_in")).collect()[0][0] == 100


def test_checkpoint_kill_and_resume(spark, doc_ids, tmp_path):
    """North rule: 'any failed run resumes exactly' — a crash mid-run leaves
    committed batches marked; the rerun recomputes only the remainder and
    the final output equals an uninterrupted run."""
    import pytest as _pytest

    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    out = str(tmp_path / "out")
    met = str(tmp_path / "metrics")
    state = {"calls": 0}

    def crashing_stage(df):
        state["calls"] += 1
        if state["calls"] == 2:
            raise RuntimeError("simulated executor crash")
        return df.select("url", F.length("text").alias("n"))

    with _pytest.raises(RuntimeError):
        run_stage_checkpointed(
            spark, docs, crashing_stage, run_id="r2", stage="len", key_col="url",
            n_partitions=4, output_path=out, metrics_path=met, batch_size=2,
        )
    # first batch (2 partitions) committed before the crash
    done = spark.read.parquet(met).filter("status='ok'").count()
    assert done == 2

    res = run_stage_checkpointed(
        spark, docs, crashing_stage, run_id="r2", stage="len", key_col="url",
        n_partitions=4, output_path=out, metrics_path=met, batch_size=2,
    )
    assert res.count() == 100  # exact: all rows, no duplicates
    assert res.select("url").distinct().count() == 100
    assert state["calls"] == 3  # batch 1 + the crash + the resumed batch


def test_checkpoint_scan_count_is_partition_independent(spark, doc_ids, tmp_path):
    """Scale gate (VERDICT r1 #1): a stage over N partitions must run a
    CONSTANT number of Spark jobs — not O(N) source scans. Evidence: the
    job count at n_partitions=8 equals the job count at n_partitions=32."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select("doc_id", "url", "text")
    sc = spark.sparkContext

    def stage(df):
        return df.select("url", F.length("text").alias("n"))

    def jobs_for(n_parts, tag):
        sc.setJobGroup(tag, tag)
        try:
            run_stage_checkpointed(
                spark, docs, stage, run_id=tag, stage="len", key_col="url",
                n_partitions=n_parts,
                output_path=str(tmp_path / f"out{tag}"),
                metrics_path=str(tmp_path / f"met{tag}"),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    j8 = jobs_for(8, "ckpt8")
    j32 = jobs_for(32, "ckpt32")
    # one write job (rows_in/rows_out are observed inside it), one metrics
    # append, one footer read of the returned sink — no recount jobs
    assert j8 == 3
    assert j32 == j8  # O(1) jobs per stage, independent of partition count


def test_checkpoint_metrics_match_recount(spark, doc_ids, tmp_path):
    """rows_in/rows_out observed during the write equal a recount of the
    batch input and of the sink, per partition — for a stage that drops
    rows and one that emits several rows per input row."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed, with_partition_id
    from medacy_spark.session import local_table

    docs = clinical_documents(doc_ids.filter("doc_id < 120")).select("doc_id", "url", "text")
    stages = {
        "drop": lambda df: df.filter(F.col("doc_id") % 3 == 0).select("url"),
        "fan_out": lambda df: df.select(
            "url", F.explode(F.slice(F.split("text", " "), 1, 4)).alias("w")
        ),
        # the optimizer prunes the read of the input away (a join with an
        # empty relation), so rows_in is recounted instead of observed
        "input_pruned": lambda df: df.join(local_table(spark, [], "url string"), "url")
        .select("url")
        .unionByName(docs.filter("doc_id < 60").select("url")),
    }
    want_in = {
        r["partition_id"]: r["count"]
        for r in with_partition_id(docs, "url", 4).groupBy("partition_id").count().collect()
    }
    for name, fn in stages.items():
        out = str(tmp_path / name)
        met = str(tmp_path / f"met_{name}")
        run_stage_checkpointed(
            spark, docs, fn, run_id="rc", stage=name, key_col="url",
            n_partitions=4, output_path=out, metrics_path=met, batch_size=3,
        )
        want_out = {
            r["partition_id"]: r["count"]
            for r in spark.read.parquet(out).groupBy("partition_id").count().collect()
        }
        got = {
            r["partition_id"]: (r["rows_in"], r["rows_out"])
            for r in spark.read.parquet(met).collect()
        }
        assert got == {p: (want_in[p], want_out.get(p, 0)) for p in range(4)}, name
        assert sum(o for _, o in got.values()) != sum(want_in.values())  # shape changed


def test_checkpoint_leaves_session_conf_unchanged(spark, doc_ids, tmp_path):
    """Dynamic partition overwrite is a writer option, not a session conf."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 40")).select("doc_id", "url", "text")
    # start from the default so an earlier leak cannot mask one here
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    before = dict(spark.conf.getAll)
    run_stage_checkpointed(
        spark, docs, lambda df: df.select("url", F.length("text").alias("n")),
        run_id="rconf", stage="len", key_col="url", n_partitions=2,
        output_path=str(tmp_path / "out"), metrics_path=str(tmp_path / "met"),
    )
    assert dict(spark.conf.getAll) == before


def test_completed_partitions_missing_vs_unreadable(spark, tmp_path):
    """A missing metrics table means nothing committed; an unreadable one
    raises instead of silently rerunning every partition."""
    import pytest as _pytest

    from medacy_spark.plans.checkpoint import completed_partitions

    assert completed_partitions(spark, str(tmp_path / "absent"), "r", "s") == []
    bad = tmp_path / "corrupt"
    bad.mkdir()
    (bad / "part-00000.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        completed_partitions(spark, str(bad), "r", "s")


def test_salted_repartition_spreads_hot_host(spark, doc_ids):
    from medacy_spark.plans.skew import host_skew_profile, salted_repartition

    docs = clinical_documents(doc_ids)  # host0 gets ~half the corpus
    prof = host_skew_profile(docs).collect()
    assert prof[0]["docs"] > 0.4 * 500
    hot = prof[0]["host"]
    salted = salted_repartition(docs, num_partitions=16, salt_buckets=8)
    spread = (
        salted.withColumn("pid", F.spark_partition_id())
        .filter(F.col("url").contains(hot))
        .select("pid").distinct().count()
    )
    assert spread >= 4  # hot host split across several partitions


def test_streaming_incremental(spark, doc_ids, tmp_path):
    from medacy_spark.streaming.incremental import run_incremental, stream_documents

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = clinical_documents(doc_ids.filter("doc_id < 50")).select("url", "text")
    docs.write.parquet(src)

    stream = stream_documents(spark, src, "url string, text string")
    q = run_incremental(
        stream,
        lambda df: df.select("url", F.length("text").alias("n")),
        out, ckpt,
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 50

    # second availableNow run with no new files appends nothing
    q2 = run_incremental(
        stream_documents(spark, src, "url string, text string"),
        lambda df: df.select("url", F.length("text").alias("n")),
        out, ckpt,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 50


def test_interval_band_join_equals_naive(spark):
    from medacy_spark.functions.spans import overlap_len
    from medacy_spark.operators.intervals import interval_overlap_join

    rows = [(d, (d * 37 + i * 11) % 500, (d * 37 + i * 11) % 500 + 5 + (i % 40))
            for d in range(5) for i in range(60)]
    df = spark.createDataFrame(
        [(d, s, e) for d, s, e in rows], "doc_id long, start long, end long"
    )
    fast = interval_overlap_join(df, df, bucket=32)
    naive = (
        df.alias("a").join(
            df.alias("b"),
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (overlap_len(F.col("a.start"), F.col("a.end"), F.col("b.start"), F.col("b.end")) != 0),
        )
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.start").alias("l_start"), F.col("a.end").alias("l_end"),
            F.col("b.start").alias("r_start"), F.col("b.end").alias("r_end"),
        )
    )
    f = fast.select("doc_id", "l_start", "l_end", "r_start", "r_end")
    assert f.exceptAll(naive).count() == 0
    assert naive.exceptAll(f).count() == 0


def test_multimodal_contract(spark, doc_ids):
    from medacy_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
        frame_sample_plan,
    )

    media = attach_fake_media(
        clinical_documents(doc_ids.filter("doc_id < 30")).select("doc_id")
    )
    feats = extract_media_features(media, fake=True)
    rows = feats.collect()
    assert all(r["ok"] and len(r["feature"]) == 16 for r in rows)
    assert all(abs(sum(r["feature"]) - 1.0) < 1e-5 for r in rows)
    plan = frame_sample_plan(media, every_n=5)
    assert plan.filter("frame_no % 5 != 0").count() == 0


def test_textstats_bounds(spark, doc_ids):
    from medacy_spark.operators.textstats import text_profile

    docs = clinical_documents(doc_ids).select("doc_id", "text")
    prof = text_profile(docs)
    bad = prof.filter(
        (F.col("quality") < 0) | (F.col("quality") > 1)
        | (F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1)
        | (F.col("fingerprint") < 0)
    )
    assert bad.count() == 0
    # fingerprint is order-sensitive
    two = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id long, text string"
    )
    fps = [r["fingerprint"] for r in text_profile(two).collect()]
    assert fps[0] != fps[1]


def test_checkpoint_prunable_partition_column(spark, doc_ids, tmp_path):
    """With a real (Iceberg-style) partition column, the pruned batch read
    reaches the scan as a partition filter — files of completed partitions
    are never opened on resume."""
    from medacy_spark.plans.checkpoint import run_stage_checkpointed

    docs = clinical_documents(doc_ids.filter("doc_id < 100")).select(
        "doc_id", "url", "text"
    ).withColumn("part", (F.col("doc_id") % 4).cast("int"))
    src = str(tmp_path / "src")
    docs.write.partitionBy("part").parquet(src)
    source = spark.read.parquet(src)

    captured = {}

    def stage(df):
        captured["plan"] = df._jdf.queryExecution()  # resolved lazily below
        return df.select("url", F.length("text").alias("n"))

    res = run_stage_checkpointed(
        spark, source, stage, run_id="rp", stage="len", key_col="url",
        n_partitions=4, output_path=str(tmp_path / "out"),
        metrics_path=str(tmp_path / "met"), partition_col="part",
    )
    assert res.count() == 100
    import re

    plan = captured["plan"].executedPlan().toString()
    # the isin(todo) filter must hit the scan as a NON-EMPTY partition
    # filter (e.g. `PartitionFilters: [part#12 IN (0,1,2,3)]`), not a
    # post-scan Filter over all files
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "part" in m.group(1) and "IN" in m.group(1)


def test_media_decoder_contract(spark, doc_ids):
    """The decode interface is provably drop-in (VERDICT r2 #9): a custom
    decoder honoring the documented contract slots into the same stage —
    fixed dim per media family, width/height/channels invariants flow
    from meta, per-row failures become ok=False instead of task failure,
    and the output schema is identical to the fake path's."""
    import math

    from medacy_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        attach_fake_media,
        extract_media_features,
    )

    media = attach_fake_media(
        clinical_documents(doc_ids.filter("doc_id < 30")).select("doc_id")
    )

    # a stand-in "real" decoder: emits (width, height, channels) the way an
    # image decoder would surface decoded-frame geometry
    def geom_decoder(payload: bytes, meta: dict):
        if len(payload) == 0:
            raise ValueError("corrupt payload")
        return [float(meta["width"]), float(meta["height"]), 3.0]

    out = extract_media_features(media, decoder=geom_decoder)
    assert out.schema == extract_media_features(media, fake=True).schema
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,media_type:string,feature:array<float>,ok:boolean>"
    )
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["ok"] and len(r["feature"]) == 3
        assert all(math.isfinite(v) for v in r["feature"])
        assert 16 <= r["feature"][0] <= 79 and 16 <= r["feature"][1] <= 79
        assert r["feature"][2] == 3.0

    # corrupt payloads flag, never kill the task
    bad = media.withColumn(
        "payload",
        F.when(F.col("doc_id") % 7 == 0, F.lit(b"")).otherwise(F.col("payload")),
    )
    rows = extract_media_features(bad, decoder=geom_decoder).collect()
    assert {r["doc_id"] % 7 == 0 for r in rows if not r["ok"]} == {True}
    assert all(r["feature"] is None for r in rows if not r["ok"])
    assert sum(not r["ok"] for r in rows) == sum(1 for r in rows if r["doc_id"] % 7 == 0)

    # no decoder and no fake -> config error, raised driver-side at plan
    # time (a real decoder's per-row exceptions are flagged instead)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no decoder selected"):
        extract_media_features(media)

    # a decoder raising NotImplementedError for ONE row (unsupported
    # codec) flags that row, never kills the task
    def picky(payload: bytes, meta: dict):
        if meta["width"] % 2 == 1:
            raise NotImplementedError("codec unsupported")
        return [1.0]

    rows = extract_media_features(media, decoder=picky).collect()
    assert any(not r["ok"] for r in rows) and any(r["ok"] for r in rows)


def test_ngram_language_id(spark):
    """Character-trigram language ID (pure column arithmetic): recovers
    en/de/fr/es on real sentences, 'unknown' on gibberish/empty."""
    from medacy_spark.operators.textstats import detect_language_ngram

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog and the cat "
                "went to the market", "en"),
            (2, "der schnelle braune fuchs springt und die katze ging ich "
                "schon und der hund", "de"),
            (3, "les enfants que nous avons vus dans le parc et les oiseaux "
                "des arbres", "fr"),
            (4, "de la casa que los niños vieron en el parque y la canción "
                "de ayer", "es"),
            (5, "zzz qqq xxx kkk vvv www", "unknown"),
            (6, "", "unknown"),
        ],
        "doc_id long, text string, want string",
    )
    got = df.select("want", detect_language_ngram(F.col("text")).alias("lang"))
    assert got.filter("want != lang").count() == 0
    # plan stays UDF-free — column arithmetic only
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_png_codec_roundtrip_and_real_fixtures():
    """The pure-Python PNG codec (functions/png.py) round-trips every
    filter type × channel layout against independently-built rasters, and
    decodes REAL PNGs produced by three unrelated encoders (grayscale,
    RGBA, palette — provenance in FIXTURES.md) to pinned pixel stats."""
    import numpy as np

    from medacy_spark.functions.png import png_decode, png_encode

    rng = np.random.RandomState(7)
    for ch in (1, 2, 3, 4):
        for ft in range(5):
            img = rng.randint(0, 256, (13, 17, ch)).astype(np.uint8)
            assert np.array_equal(png_decode(png_encode(img, ft)), img), (ch, ft)

    g = png_decode(open("tests/fixtures/2x2.png", "rb").read())
    assert g.shape == (2, 2, 1) and g.tolist() == [[[128], [128]], [[128], [128]]]
    rgba = png_decode(open("tests/fixtures/logo-32x32.png", "rb").read())
    assert rgba.shape == (32, 32, 4)
    assert round(float(rgba.mean()), 3) == 93.799
    pal = png_decode(open("tests/fixtures/python.png", "rb").read())  # palette→RGB
    assert pal.shape == (16, 16, 3)
    assert round(float(pal.mean()), 3) == 89.477

    import pytest

    with pytest.raises(ValueError):
        png_decode(b"\x89PNG\r\n\x1a\nnot really")
    corrupt = bytearray(open("tests/fixtures/python.png", "rb").read())
    corrupt[50] ^= 0xFF  # flip a byte inside IDAT -> CRC mismatch
    with pytest.raises(ValueError):
        png_decode(bytes(corrupt))
    # the error CONTRACT holds for non-ValueError internals too:
    # truncation inside a CRC (struct.error) and a corrupt deflate
    # stream (zlib.error) both surface as ValueError
    whole = open("tests/fixtures/python.png", "rb").read()
    with pytest.raises(ValueError):
        png_decode(whole[:37])  # cut mid-chunk
    import struct as _struct
    import zlib as _zlib
    sig = whole[:8]
    ihdr = whole[8:33]
    bad_idat_body = b"not-deflate-data"
    bad_idat = (_struct.pack(">I", len(bad_idat_body)) + b"IDAT" + bad_idat_body
                + _struct.pack(">I", _zlib.crc32(b"IDAT" + bad_idat_body)))
    iend = _struct.pack(">I", 0) + b"IEND" + _struct.pack(">I", _zlib.crc32(b"IEND"))
    with pytest.raises(ValueError):
        png_decode(sig + ihdr + bad_idat + iend)

    def _chunk(typ, body):
        return (_struct.pack(">I", len(body)) + typ + body
                + _struct.pack(">I", _zlib.crc32(typ + body)))

    # palette pixel index past the PLTE table -> ValueError, not a numpy
    # IndexError escaping the documented contract
    pal_png = (
        sig
        + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + _chunk(b"PLTE", bytes([10, 20, 30]))          # ONE palette entry
        + _chunk(b"IDAT", _zlib.compress(bytes([0, 0, 5])))  # index 5
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        png_decode(pal_png)
    # decompression bomb: tiny declared geometry (1x1 gray -> 2 payload
    # bytes) carrying a deflate stream that inflates to 10 MB — the
    # bounded decompressobj rejects it without inflating the whole stream
    bomb = (
        sig
        + _chunk(b"IHDR", _struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", _zlib.compress(b"\x00" * 10_000_000, 9))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        png_decode(bomb)


def test_png_decoder_in_media_stage(spark):
    """decoder='png' computes real pixel statistics inside the Arrow batch:
    per-row features equal the locally-computed ones, non-PNG payloads
    flag ok=False, and the schema matches the stub path — the swap-in the
    decoder contract promised, proven with a real codec."""
    from medacy_spark.functions.png import (
        PNG_FEATURE_DIM,
        png_encode,
        png_feature_decoder,
    )
    from medacy_spark.operators.multimodal import extract_media_features

    import numpy as np
    import pytest

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, (8 + i, 6, 3)).astype(np.uint8) for i in range(4)}
    rows = [
        (i, "image", bytearray(png_encode(imgs[i], filter_type=i % 5)),
         (6, 8 + i, None, None))
        for i in range(4)
    ]
    real = open("tests/fixtures/logo-32x32.png", "rb").read()
    rows.append((100, "image", bytearray(real), (32, 32, None, None)))
    rows.append((101, "audio", bytearray(b"riff-not-png"), (None, None, 16000, None)))
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    got = {r["doc_id"]: r for r in extract_media_features(media, decoder="png").collect()}
    assert len(got) == 6
    for i in range(4):
        assert got[i]["ok"] and len(got[i]["feature"]) == PNG_FEATURE_DIM
        exp = png_feature_decoder(png_encode(imgs[i], filter_type=i % 5), {})
        assert got[i]["feature"] == pytest.approx(exp, rel=1e-6)
    assert got[100]["ok"]
    assert got[100]["feature"][:3] == [32.0, 32.0, 4.0]
    assert got[100]["feature"][3] == pytest.approx(93.799, abs=1e-3)
    assert not got[101]["ok"] and got[101]["feature"] is None


def test_jpeg_decoder_real_fixtures_and_error_contract():
    """The pure-Python baseline JPEG decoder (functions/jpeg.py) against
    rasters from three unrelated real encoders, two with cross-FORMAT
    ground truth (same image shipped as PNG by the source test suite —
    see FIXTURES.md §12): flat gray decodes exactly, the color icon
    matches the PNG decode at luma PSNR ≥ 35 dB with JPEG's chroma-edge
    loss bounded, a 720x477 production photo decodes to pinned stats,
    and unsupported/corrupt inputs raise the documented ValueError."""
    import numpy as np
    import pytest

    from medacy_spark.functions.jpeg import jpeg_decode
    from medacy_spark.functions.png import png_decode

    g = jpeg_decode(open("tests/fixtures/2x2.jpg", "rb").read())
    gp = png_decode(open("tests/fixtures/2x2.png", "rb").read())
    assert np.array_equal(g, gp)  # flat gray: DC-only, bit-exact

    j = jpeg_decode(open("tests/fixtures/python.jpg", "rb").read()).astype(float)
    p = png_decode(open("tests/fixtures/python.png", "rb").read()).astype(float)
    assert j.shape == p.shape == (16, 16, 3)

    def luma(img):
        return 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]

    mse = ((luma(j) - luma(p)) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) >= 35.0
    # chroma loss on the icon's sharp edges is real JPEG loss — bounded,
    # and confined to few pixels
    assert (np.abs(j - p).max(axis=2) > 60).sum() <= 20

    photo = jpeg_decode(open("tests/fixtures/photo.jpeg", "rb").read())
    assert photo.shape == (477, 720, 3)
    assert round(float(photo.mean()), 3) == 60.179  # regression pin
    assert round(float(photo.std()), 3) == 29.615

    # progressive (SOF2) decodes for real since round 6: a 720x477
    # production-encoder progressive photo with pinned stats (the
    # scan-machinery ground truth lives in
    # test_jpeg_progressive_equals_baseline_on_same_coefficients)
    prog = jpeg_decode(open("tests/fixtures/progressive.jpg", "rb").read())
    assert prog.shape == (477, 720, 3)
    assert round(float(prog.mean()), 3) == 107.860
    assert round(float(prog.std()), 3) == 59.683
    with pytest.raises(ValueError, match="arithmetic"):
        jpeg_decode(b"\xff\xd8\xff\xc9\x00\x04\x08\x00")
    with pytest.raises(ValueError):
        jpeg_decode(b"\xff\xd8\xff\xdbgarbage")
    with pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg at all")
    # truncated mid-scan: cut a valid file's entropy data
    whole = open("tests/fixtures/python.jpg", "rb").read()
    with pytest.raises(ValueError):
        jpeg_decode(whole[: len(whole) - 40])

    # geometry bomb: a ~20-byte header claiming 65500x65500 (u16 max-ish,
    # ~4.3e9 pixels) must be rejected AT THE SOF — before any coefficient
    # store / sample plane is allocated — for baseline and progressive
    # alike (shared codec-family cap, same bound as gif.py)
    import struct

    for sof in (0xC0, 0xC2):
        bomb = (
            b"\xff\xd8" + bytes([0xFF, sof]) + struct.pack(">H", 11)
            + bytes([8]) + struct.pack(">HH", 65500, 65500)
            + bytes([1, 1, 0x11, 0])
        )
        with pytest.raises(ValueError, match="decode cap"):
            jpeg_decode(bomb)


def test_jpeg_decoder_in_media_stage(spark):
    """decoder='jpeg' drives the same Arrow mapInPandas stage as 'png':
    per-row features equal the locally computed ones, corrupt payloads
    flag ok=False rows, schema identical to the other decoders."""
    import pytest

    from medacy_spark.functions.jpeg import jpeg_feature_decoder
    from medacy_spark.operators.multimodal import extract_media_features

    payload = open("tests/fixtures/python.jpg", "rb").read()
    gray = open("tests/fixtures/2x2.jpg", "rb").read()
    rows = [
        (1, "image", bytearray(payload), (16, 16, 0, 1)),
        (2, "image", bytearray(gray), (2, 2, 0, 1)),
        (3, "image", bytearray(b"corrupt bytes"), (0, 0, 0, 1)),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    out = {
        r["doc_id"]: r
        for r in extract_media_features(media, decoder="jpeg").collect()
    }
    assert out[3]["ok"] is False
    for mid, data in ((1, payload), (2, gray)):
        assert out[mid]["ok"] is True
        expect = jpeg_feature_decoder(data, None)
        got = list(out[mid]["feature"])
        assert len(got) == len(expect)
        assert got == pytest.approx(expect, rel=1e-6, abs=1e-6)


def test_wav_decoder_real_fixtures_and_error_contract():
    """The pure-Python WAV decoder (functions/wav.py) against CPython's
    test-suite audio (the SAME pluck recording encoded at 8/16/24/32-bit
    by a real encoder — cross-depth ground truth like the JPEG codec's
    cross-format checks), with the stdlib `wave` module as an independent
    container parser, plus synthetic encodes and the error contract."""
    import io
    import struct
    import wave as wave_mod

    import numpy as np
    import pytest

    from medacy_spark.functions.wav import audio_features, wav_decode

    sigs = {}
    for depth in (8, 16, 24, 32):
        payload = open(f"tests/fixtures/pluck-pcm{depth}.wav", "rb").read()
        s, rate = wav_decode(payload)
        w = wave_mod.open(io.BytesIO(payload))
        # independent chunk walk: stdlib wave agrees on the geometry
        assert (w.getnframes(), w.getnchannels(), w.getframerate()) == (
            s.shape[0], s.shape[1], rate,
        )
        if depth == 16:  # and on the literal sample values
            ref = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
            assert np.array_equal(
                ref.reshape(-1, 2).astype(np.float64) / 32768.0, s
            )
        sigs[depth] = s.mean(axis=1)
    # same master at four depths: 24/32-bit decodes are numerically
    # identical, 8-bit differs only by quantization
    assert np.corrcoef(sigs[16], sigs[24])[0, 1] > 0.99999
    assert np.abs(sigs[24] - sigs[32]).max() < 1.0 / 8388608
    assert np.corrcoef(sigs[16], sigs[8])[0, 1] > 0.999

    # stdlib wave as a real independent ENCODER: a 440 Hz sine round-trips
    # with the dominant frequency recovered by the spectral features
    rate, n = 8000, 8000
    t = np.arange(n) / rate
    sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    w = wave_mod.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(sine.tobytes())
    w.close()
    s, r = wav_decode(buf.getvalue())
    feats = audio_features(s, r)
    assert feats[1] == 8000.0 and feats[2] == 1.0
    assert feats[4] == pytest.approx(0.5 / np.sqrt(2), rel=1e-3)  # rms
    assert feats[10] == pytest.approx(440.0, abs=1.0)  # dominant freq

    def riff(fmt_body, data):
        chunks = b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body
        chunks += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # IEEE float32 and WAVE_FORMAT_EXTENSIBLE-wrapped PCM: hand-built per
    # spec, exact sample recovery
    f32 = np.linspace(-1, 1, 64, dtype="<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    s, r = wav_decode(riff(fmt, f32.tobytes()))
    assert r == 8000 and np.array_equal(s[:, 0], f32.astype(np.float64))
    pcm = np.arange(-32, 32, dtype="<i2")
    ext = struct.pack("<HHIIHHHHI", 0xFFFE, 1, 8000, 16000, 2, 16, 22, 16, 0x4)
    ext += struct.pack("<H", 1) + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    s, _ = wav_decode(riff(ext, pcm.tobytes()))
    assert np.array_equal(s[:, 0], pcm.astype(np.float64) / 32768.0)

    # error contract: ANY invalid input raises ValueError
    good = open("tests/fixtures/pluck-pcm16.wav", "rb").read()
    for bad in (
        b"",
        b"RIFF\x00\x00\x00\x00WAVF" + good[12:],      # bad magic
        good[:40],                                     # truncated chunk
        riff(struct.pack("<HHIIHH", 2, 1, 8000, 8000, 1, 8), b"\x00" * 8),   # ADPCM
        riff(struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16), b"\x00" * 7), # partial frame
        riff(struct.pack("<HHIIHH", 1, 1, 8000, 16000, 4, 16), b"\x00" * 8), # align mismatch
        riff(b"\x01\x00", b"\x00\x00"),                # fmt too small
        b"RIFF" + struct.pack("<I", 4) + b"WAVE",      # no chunks at all
    ):
        with pytest.raises(ValueError):
            wav_decode(bad)

    # allocation cap: the declared data size is checked BEFORE any array
    # materializes (the PNG decompression-bomb lesson)
    import medacy_spark.functions.wav as wav_fn
    orig = wav_fn._MAX_DATA_BYTES
    try:
        wav_fn._MAX_DATA_BYTES = 16
        with pytest.raises(ValueError, match="allocation cap"):
            wav_decode(riff(struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8), b"\x00" * 32))
    finally:
        wav_fn._MAX_DATA_BYTES = orig


def test_wav_decoder_in_media_stage(spark):
    """decoder='wav' drives the same Arrow mapInPandas stage as the image
    codecs: per-row features equal the locally computed ones, corrupt
    payloads flag ok=False, schema identical to the other decoders."""
    import pytest

    from medacy_spark.functions.wav import wav_feature_decoder
    from medacy_spark.operators.multimodal import extract_media_features

    pluck = open("tests/fixtures/pluck-pcm16.wav", "rb").read()
    ipy = open("tests/fixtures/ipython-test.wav", "rb").read()
    rows = [
        (1, "audio", bytearray(pluck), (None, None, 11025, None)),
        (2, "audio", bytearray(ipy), (None, None, 44100, None)),
        (3, "audio", bytearray(b"not audio"), (None, None, 0, None)),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    out = {
        r["doc_id"]: r
        for r in extract_media_features(media, decoder="wav").collect()
    }
    assert out[3]["ok"] is False and out[3]["feature"] is None
    for mid, data in ((1, pluck), (2, ipy)):
        assert out[mid]["ok"] is True
        expect = wav_feature_decoder(data, None)
        assert len(out[mid]["feature"]) == 23
        assert list(out[mid]["feature"]) == pytest.approx(expect, rel=1e-5, abs=1e-6)


def _gif_lzw_encode(indices: bytes, min_code_size: int, clear_every: int = 0) -> bytes:
    """Test-side GIF LZW encoder, written independently from the decoder
    (classic encoder algorithm + a simulation of the decoder's table
    length for width decisions). clear_every > 0 emits periodic CLEAR
    codes to exercise dictionary resets."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code, size):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(clear)}

    size = min_code_size + 1
    emit(clear, size)
    table, next_code, dec_len, n_emitted = fresh(), eoi + 1, clear + 2, 0

    def emit_data(code):
        # decoder grows its width after appending an entry (every data
        # code past the first since a clear) — mirror that exactly
        nonlocal dec_len, size, n_emitted
        emit(code, size)
        n_emitted += 1
        if n_emitted >= 2:
            dec_len += 1
            if dec_len >= (1 << size) and size < 12:
                size += 1

    w = b""
    for i, ch in enumerate(bytes(indices)):
        if clear_every and i and i % clear_every == 0:
            if w:
                emit_data(table[w])
                w = b""
            emit(clear, size)
            table, next_code, dec_len, n_emitted = fresh(), eoi + 1, clear + 2, 0
            size = min_code_size + 1
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        elif next_code >= 4096:
            emit_data(table[w])
            w = bytes([ch])
        else:
            emit_data(table[w])
            table[wc] = next_code
            next_code += 1
            w = bytes([ch])
    if w:
        emit_data(table[w])
    emit(eoi, size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_ROWS = lambda h: (  # noqa: E731 - spec row order, 4 passes
    list(range(0, h, 8)) + list(range(4, h, 8))
    + list(range(2, h, 4)) + list(range(1, h, 2))
)


def _make_gif(screen, frames, palette, min_code_size=2, interlace=False,
              clear_every=0, version=b"GIF89a"):
    """Assemble a GIF from spec primitives: frames are dicts with keys
    idx (2-D numpy index array), left, top, and optional GCE fields
    (delay, transparent, disposal)."""
    import struct as st

    import numpy as np

    size_bits = max((len(palette) - 1).bit_length() - 1, 0)
    n_pal = 2 << size_bits
    out = bytearray(version)
    out += st.pack("<HH", *screen)
    out += bytes([0x80 | size_bits, 0, 0])
    for i in range(n_pal):
        out += bytes(palette[i]) if i < len(palette) else b"\x00\x00\x00"
    for fr in frames:
        if any(k in fr for k in ("delay", "transparent", "disposal")):
            flags = (fr.get("disposal", 0) << 2) | (1 if "transparent" in fr else 0)
            out += b"\x21\xf9\x04" + bytes([flags])
            out += st.pack("<H", fr.get("delay", 0))
            out += bytes([fr.get("transparent", 0), 0])
        idx = np.asarray(fr["idx"], dtype=np.uint8)
        h, w = idx.shape
        out += b"\x2c" + st.pack("<HHHH", fr.get("left", 0), fr.get("top", 0), w, h)
        out += bytes([0x40 if interlace else 0])
        rows = idx[_GIF_INTERLACE_ROWS(h)] if interlace else idx
        data = _gif_lzw_encode(rows.tobytes(), min_code_size, clear_every)
        out += bytes([min_code_size])
        for i in range(0, len(data), 255):
            chunk = data[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_gif_decoder_spec_encodes():
    """gif_decode against the test-side spec encoder (independent LZW
    implementation): exact pixel recovery through dictionary growth,
    periodic CLEAR codes, interlacing, transparency, and the three
    animation disposal methods."""
    import numpy as np
    import pytest

    from medacy_spark.functions.gif import gif_decode

    rng = np.random.RandomState(7)
    palette = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    pal_arr = np.array(palette, dtype=np.uint8)

    # dictionary growth across width bumps: a 64x64 structured raster
    idx = (np.add.outer(np.arange(64), np.arange(64)) % 4).astype(np.uint8)
    frames, delays = gif_decode(_make_gif((64, 64), [{"idx": idx}], palette))
    assert frames.shape == (1, 64, 64, 4) and delays == [0]
    assert np.array_equal(frames[0][:, :, :3], pal_arr[idx])

    # random raster: exercises the KwKwK (code == table length) path;
    # same raster again with periodic CLEARs must decode identically
    ridx = rng.randint(0, 4, (33, 29)).astype(np.uint8)
    plain, _ = gif_decode(_make_gif((29, 33), [{"idx": ridx}], palette))
    cleared, _ = gif_decode(
        _make_gif((29, 33), [{"idx": ridx}], palette, clear_every=97)
    )
    assert np.array_equal(plain[0][:, :, :3], pal_arr[ridx])
    assert np.array_equal(plain, cleared)

    # interlaced: the encoder permutes rows into spec pass order, the
    # decoder must restore the original raster
    iidx = rng.randint(0, 4, (19, 11)).astype(np.uint8)
    inter, _ = gif_decode(_make_gif((11, 19), [{"idx": iidx}], palette, interlace=True))
    assert np.array_equal(inter[0][:, :, :3], pal_arr[iidx])

    # animation: full red frame; then a 2x2 green patch at (1,1) with a
    # transparent pixel showing red through; disposal=3 (restore
    # previous) on frame 2 means frame 3's patch composites over frame
    # 1's canvas, not frame 2's; disposal=2 on frame 3 restores its rect
    # to transparent before frame 4
    f1 = {"idx": np.full((4, 4), 1, np.uint8)}
    f2 = {"idx": np.array([[2, 0], [2, 2]], np.uint8), "left": 1, "top": 1,
          "transparent": 0, "disposal": 3, "delay": 5}
    f3 = {"idx": np.full((1, 1), 3, np.uint8), "left": 0, "top": 0,
          "disposal": 2, "delay": 7}
    f4 = {"idx": np.full((1, 1), 2, np.uint8), "left": 3, "top": 3}
    frames, delays = gif_decode(_make_gif((4, 4), [f1, f2, f3, f4], palette))
    assert delays == [0, 5, 7, 0]
    assert np.array_equal(frames[0][:, :, :3], pal_arr[np.full((4, 4), 1)])
    exp2 = pal_arr[np.full((4, 4), 1)].copy()
    exp2[1, 1] = exp2[2, 1] = exp2[2, 2] = palette[2]  # transparent (1,2) keeps red
    assert np.array_equal(frames[1][:, :, :3], exp2)
    exp3 = pal_arr[np.full((4, 4), 1)].copy()  # disposal=3 undid frame 2
    exp3[0, 0] = palette[3]
    assert np.array_equal(frames[2][:, :, :3], exp3)
    assert frames[3][0, 0, 3] == 0  # disposal=2 cleared frame 3's rect
    assert tuple(frames[3][3, 3, :3]) == palette[2]
    assert np.array_equal(frames[3][1:3, 1:4, :3], pal_arr[np.full((2, 3), 1)])

    # error contract: palette overrun (index 3 with a 2-color table),
    # LZW overrun past declared geometry, truncation, bad magic
    two_color = _make_gif((2, 2), [{"idx": np.array([[0, 1], [1, 3]], np.uint8)}],
                          [(0, 0, 0), (255, 255, 255)], min_code_size=2)
    with pytest.raises(ValueError, match="palette"):
        gif_decode(two_color)
    over = _make_gif((2, 2), [{"idx": np.zeros((3, 3), np.uint8)}], palette)
    with pytest.raises(ValueError, match="outside logical screen"):
        gif_decode(over)
    good = _make_gif((4, 4), [f1], palette)
    for bad in (b"", b"GIF90a" + good[6:], good[:25], good[:-6]):
        with pytest.raises(ValueError):
            gif_decode(bad)


def test_gif_decoder_real_fixtures():
    """gif_decode against real encoder output: CPython's python.gif
    matches the cross-FORMAT python.png ground truth pixel-exactly on
    opaque pixels (transparent RGB is encoder-undefined), idlelib's icon
    exercises transparency, the anim8 fixture (8 frames block-trimmed
    from a real screen-capture GIF) pins the composition behavior, and a
    genuinely corrupt icon shipped by old CPython raises ValueError."""
    import numpy as np
    import pytest

    from medacy_spark.functions.gif import gif_decode, gif_feature_decoder, gif_frame_rgb
    from medacy_spark.functions.png import png_decode

    frames, delays = gif_decode(open("tests/fixtures/python.gif", "rb").read())
    assert frames.shape == (1, 16, 16, 4) and delays == [0]
    png = png_decode(open("tests/fixtures/python.png", "rb").read())[:, :, :3]
    opaque = frames[0][:, :, 3] == 255
    assert int(opaque.sum()) == 149
    diff = np.abs(frames[0][:, :, :3].astype(int) - png.astype(int))[opaque]
    assert diff.max() <= 3  # palette quantization between unrelated encoders

    icon, _ = gif_decode(open("tests/fixtures/idle_16.gif", "rb").read())
    assert icon.shape == (1, 16, 16, 4)
    assert (icon[0][:, :, 3] == 0).any()  # transparency decoded

    anim, adelays = gif_decode(open("tests/fixtures/anim8.gif", "rb").read())
    assert anim.shape == (8, 421, 640, 4) and adelays == [10] * 8
    changed = [
        int(np.any(anim[i] != anim[i - 1], axis=2).sum()) for i in range(1, 8)
    ]
    assert changed == [11, 293, 391, 0, 353, 0, 378]  # composition pin
    feat = gif_feature_decoder(open("tests/fixtures/anim8.gif", "rb").read(), None)
    assert len(feat) == 25 and feat[-2:] == [8.0, 80.0]
    assert feat[:7] == pytest.approx(
        [float(v) for v in
         __import__("medacy_spark.functions.png", fromlist=["raster_features"])
         .raster_features(gif_frame_rgb(anim[0]))[:7]]
    )

    with pytest.raises(ValueError):
        gif_decode(open("tests/fixtures/corrupt-minusnode.gif", "rb").read())


def test_gif_frame_sampling_stage(spark):
    """decoder='gif' in the still stage (25-dim features) and the REAL
    frame-sampling stage: one decode per payload, every_n-th composited
    frame featurized, corrupt payloads yield a single ok=False row."""
    import numpy as np
    import pytest

    from medacy_spark.functions.gif import gif_decode, gif_frame_rgb
    from medacy_spark.functions.png import raster_features
    from medacy_spark.operators.multimodal import (
        extract_frame_features,
        extract_media_features,
    )

    anim = open("tests/fixtures/anim8.gif", "rb").read()
    still = open("tests/fixtures/python.gif", "rb").read()
    rows = [
        (1, "video", bytearray(anim), (640, 421, None, 8)),
        (2, "image", bytearray(still), (16, 16, None, 1)),
        (3, "video", bytearray(b"GIF89a but not really"), (0, 0, None, 0)),
    ]
    media = spark.createDataFrame(
        rows,
        "doc_id long, media_type string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    out = {r["doc_id"]: r for r in extract_media_features(media, decoder="gif").collect()}
    assert out[1]["ok"] and len(out[1]["feature"]) == 25
    assert out[1]["feature"][-2:] == [8.0, 80.0]
    assert out[2]["ok"] and out[2]["feature"][-2:] == [1.0, 0.0]
    assert not out[3]["ok"]

    sampled = extract_frame_features(media, every_n=3).collect()
    by_doc = {}
    for r in sampled:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert [r["frame_no"] for r in sorted(by_doc[1], key=lambda r: r["frame_no"])] == [0, 3, 6]
    frames, _ = gif_decode(anim)
    for r in by_doc[1]:
        assert r["ok"]
        exp = raster_features(gif_frame_rgb(frames[r["frame_no"]]))
        assert list(r["feature"]) == pytest.approx(exp, rel=1e-6, abs=1e-6)
    assert [r["frame_no"] for r in by_doc[2]] == [0]
    assert len(by_doc[3]) == 1 and by_doc[3][0]["frame_no"] == -1 and not by_doc[3][0]["ok"]


def _build_mjpeg_avi(
    jpegs, w, h, usec_per_frame=40_000, handler=b"MJPG", compression=b"MJPG"
):
    """Test-side spec-derived RIFF/AVI writer (the gif.py validation
    methodology: wrap REAL production-encoder JPEG bytes in a container
    built independently of the decoder)."""
    import struct

    def chunk(fourcc, data):
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(ltype, payload):
        return chunk(b"LIST", ltype + payload)

    avih = struct.pack(
        "<14I", usec_per_frame, 0, 0, 0x10, len(jpegs), 0, 1, 0, w, h,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + handler
        + struct.pack("<I2H8I", 0, 0, 0, 0, 1, 25, 0, len(jpegs), 0,
                      0xFFFFFFFF, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = (
        struct.pack("<I2i2H", 40, w, h, 1, 24) + compression
        + struct.pack("<I2i2I", w * h * 3, 0, 0, 0, 0)
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", j) for j in jpegs))
    body = b"AVI " + hdrl + movi + chunk(b"JUNK", b"\x00" * 16)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_avi_mjpeg_decoder_and_video_stage(spark):
    """Motion-JPEG-in-AVI: the RIFF walk decodes every frame through the
    JPEG codec bit-identically to a direct jpeg_decode of the wrapped
    bytes, the frames match the same raster's PNG from an unrelated
    encoder (cross-FORMAT ground truth, the gif.py methodology), the
    decoder-contract adapter and the frame-sampling stage both run over
    real video payloads, and invalid containers raise the documented
    ValueError."""
    import numpy as np
    import pytest

    from medacy_spark.functions.avi import avi_decode, avi_feature_decoder
    from medacy_spark.functions.jpeg import jpeg_decode
    from medacy_spark.functions.png import png_decode, raster_features
    from medacy_spark.operators.multimodal import (
        extract_frame_features,
        extract_media_features,
    )

    jp = open("tests/fixtures/python.jpg", "rb").read()
    avi = _build_mjpeg_avi([jp] * 5, 16, 16)
    frames, fps = avi_decode(avi)
    assert frames.shape == (5, 16, 16, 3) and fps == 25.0
    ref = jpeg_decode(jp)
    for f in frames:
        assert np.array_equal(f, ref)

    # cross-format ground truth: every AVI frame vs the unrelated
    # encoder's PNG of the same raster (luma PSNR, as in the JPEG test)
    p = png_decode(open("tests/fixtures/python.png", "rb").read()).astype(float)

    def luma(img):
        return 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]

    mse = ((luma(frames[0].astype(float)) - luma(p)) ** 2).mean()
    assert 10 * np.log10(255**2 / mse) >= 35.0

    feat = avi_feature_decoder(avi, None)
    assert len(feat) == 25 and feat[-2:] == [5.0, 25.0]
    assert feat[:23] == raster_features(frames[0])

    # error contract
    with pytest.raises(ValueError, match="not an AVI"):
        avi_decode(b"RIFX" + avi[4:])
    with pytest.raises(ValueError):
        avi_decode(avi[:40])  # truncated
    with pytest.raises(ValueError, match="not a JPEG"):
        avi_decode(_build_mjpeg_avi([b"\x00\x01garbage!"], 16, 16))
    with pytest.raises(ValueError, match="ffmpeg adapter"):
        avi_decode(_build_mjpeg_avi([jp], 16, 16,
                                    handler=b"H264", compression=b"H264"))

    # stage integration: decoder='avi' still stage + container='avi'
    # frame-sampling stage over real and corrupt payloads
    media = spark.createDataFrame(
        [
            (1, "video", bytearray(avi), (16, 16, None, 5)),
            (2, "video", bytearray(b"RIFF but not really"), (0, 0, None, 0)),
        ],
        "doc_id long, media_type string, payload binary, "
        "meta struct<width:int, height:int, sample_rate:int, n_frames:int>",
    )
    out = {r["doc_id"]: r for r in extract_media_features(media, decoder="avi").collect()}
    assert out[1]["ok"] and len(out[1]["feature"]) == 25
    assert out[1]["feature"][-2:] == [5.0, 25.0]
    assert not out[2]["ok"]

    sampled = extract_frame_features(media, every_n=2, container="avi").collect()
    by_doc = {}
    for r in sampled:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert sorted(r["frame_no"] for r in by_doc[1]) == [0, 2, 4]
    for r in by_doc[1]:
        assert r["ok"]
        assert list(r["feature"]) == pytest.approx(
            raster_features(frames[r["frame_no"]]), rel=1e-6, abs=1e-6
        )
    assert len(by_doc[2]) == 1 and by_doc[2][0]["frame_no"] == -1 and not by_doc[2][0]["ok"]


def test_avi_decoder_error_contract_fuzz():
    """Container parsers are a bug farm on corrupt input: every
    single-byte mutation and every truncation of a valid AVI must either
    decode or raise the documented ValueError — never IndexError,
    struct.error, KeyError, or a hang (the per-row error flagging in the
    media stage catches Exception, but the ValueError contract is what
    the codec family documents). Deterministic mutation schedule."""
    import pytest

    from medacy_spark.functions.avi import avi_decode

    jp = open("tests/fixtures/python.jpg", "rb").read()
    avi = _build_mjpeg_avi([jp] * 2, 16, 16)
    for i in range(300):
        b = bytearray(avi)
        pos = (i * 9973) % len(b)
        b[pos] ^= 0xFF
        try:
            avi_decode(bytes(b))
        except ValueError:
            pass  # the documented contract
    for cut in range(0, len(avi), 83):
        with pytest.raises(ValueError):
            avi_decode(avi[:cut])


# --- test-side JPEG encoders (spec-derived, independent of the decoder) ---

class _JBits:
    """MSB-first bit writer with 0xFF byte stuffing."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def flush(self):
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)
        return bytes(self.out)


def _jhuff():
    """One canonical table covering all 256 symbols: 255 at code length 9
    plus symbol 0xFF at length 10 (DHT counts are single bytes; the
    all-ones code of each length stays unused, as T.81 requires).
    Returns (DHT payload after the class/id byte, {sym: (code, len)})."""
    counts = [0] * 16
    counts[8] = 255
    counts[9] = 1
    hm = {s: (s, 9) for s in range(255)}
    hm[255] = (510, 10)  # canonical: (255 << 1) at the next length
    return bytes(counts) + bytes(range(256)), hm


def _jmag(v):
    """JPEG magnitude category + value bits."""
    v = int(v)
    t = abs(v).bit_length()
    return t, (v if v >= 0 else v + (1 << t) - 1)


_JZZ = None  # filled lazily from the decoder module's zigzag order


def _jzz():
    global _JZZ
    if _JZZ is None:
        from medacy_spark.functions import jpeg as _j
        _JZZ = list(_j._ZIGZAG)
    return _JZZ


def _enc_block_baseline(wr, hm, coef_nat, pred):
    """Baseline entropy encoding of one block (natural-order coeffs)."""
    zz = _jzz()
    t, bits = _jmag(coef_nat[zz[0]] - pred)
    wr.put(hm[t][0], hm[t][1])
    wr.put(bits, t)
    run = 0
    for k in range(1, 64):
        v = coef_nat[zz[k]]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            wr.put(hm[0xF0][0], hm[0xF0][1])
            run -= 16
        t, bits = _jmag(v)
        wr.put(hm[(run << 4) | t][0], hm[(run << 4) | t][1])
        wr.put(bits, t)
        run = 0
    if run:
        wr.put(hm[0x00][0], hm[0x00][1])
    return coef_nat[zz[0]]


def _jpeg_assemble(sof_marker, w, h, comps, scans, dht, dqt_id=0):
    """comps: [(id, hsamp, vsamp)]; scans: list of (sos_payload, entropy)."""
    import struct as st

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xdb" + st.pack(">H", 2 + 1 + 64) + bytes([dqt_id]) + bytes([1] * 64)
    sof = bytes([8]) + st.pack(">HH", h, w) + bytes([len(comps)])
    for cid, hs, vs in comps:
        sof += bytes([cid, (hs << 4) | vs, dqt_id])
    out += bytes([0xFF, sof_marker]) + st.pack(">H", 2 + len(sof)) + sof
    for cls in (0, 1):
        out += b"\xff\xc4" + st.pack(">H", 2 + 1 + len(dht)) + bytes([cls << 4]) + dht
    for sos_payload, entropy in scans:
        out += b"\xff\xda" + st.pack(">H", 2 + len(sos_payload)) + sos_payload + entropy
    out += b"\xff\xd9"
    return bytes(out)


def _enc_baseline_jpeg(w, h, comps, store):
    """store: {comp_id: ndarray (by, bx, 64) natural-order coeffs} laid
    out on the MCU-padded grid; encodes the standard interleaved scan."""
    dht, hm = _jhuff()
    hmax = max(hs for _, hs, _ in comps)
    vmax = max(vs for _, _, vs in comps)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    wr = _JBits()
    pred = {cid: 0 for cid, _, _ in comps}
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for cid, hs, vs in comps:
            for by in range(vs):
                for bx in range(hs):
                    pred[cid] = _enc_block_baseline(
                        wr, hm, store[cid][my * vs + by, mx * hs + bx], pred[cid]
                    )
    sos = bytes([len(comps)])
    for cid, _, _ in comps:
        sos += bytes([cid, 0x00])
    sos += bytes([0, 63, 0])
    return _jpeg_assemble(0xC0, w, h, comps, [(sos, wr.flush())], dht)


def _trunc(v, al):
    """T.81 AC point transform: magnitude shift (truncate toward zero)."""
    return v // (1 << al) if v >= 0 else -((-v) >> al)


def _enc_prog_dc(comps, store, al, refine):
    wr = _JBits()
    _, hm = _jhuff()
    hmax = max(hs for _, hs, _ in comps)
    vmax = max(vs for _, _, vs in comps)
    mcux = max(store[cid].shape[1] // hs for cid, hs, _ in comps)
    mcuy = max(store[cid].shape[0] // vs for cid, _, vs in comps)
    pred = {cid: 0 for cid, _, _ in comps}
    for m in range(mcux * mcuy):
        my, mx = divmod(m, mcux)
        for cid, hs, vs in comps:
            for by in range(vs):
                for bx in range(hs):
                    dc = int(store[cid][my * vs + by, mx * hs + bx][0])
                    if refine:
                        wr.put((dc >> al) & 1, 1)
                    else:
                        # DC point transform is an arithmetic shift (two's
                        # complement), unlike AC's magnitude shift
                        diff = (dc >> al) - pred[cid]
                        pred[cid] = dc >> al
                        t, bits = _jmag(diff)
                        wr.put(hm[t][0], hm[t][1])
                        wr.put(bits, t)
    return wr.flush()


def _enc_prog_ac_first(blocks, ss, se, al):
    wr = _JBits()
    _, hm = _jhuff()
    zz = _jzz()
    eobrun = 0

    def flush():
        nonlocal eobrun
        if eobrun:
            r = eobrun.bit_length() - 1
            wr.put(hm[r << 4][0], hm[r << 4][1])
            wr.put(eobrun - (1 << r), r)
            eobrun = 0

    for blk in blocks:
        vals = [_trunc(int(blk[zz[k]]), al) for k in range(64)]
        nz = [k for k in range(ss, se + 1) if vals[k] != 0]
        if not nz:
            eobrun += 1
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        k = ss
        for pos in nz:
            run = pos - k
            while run >= 16:
                wr.put(hm[0xF0][0], hm[0xF0][1])
                run -= 16
            t, bits = _jmag(vals[pos])
            wr.put(hm[(run << 4) | t][0], hm[(run << 4) | t][1])
            wr.put(bits, t)
            k = pos + 1
        if k <= se:
            eobrun += 1
    flush()
    return wr.flush()


def _enc_prog_ac_refine(blocks, ss, se, al):
    wr = _JBits()
    _, hm = _jhuff()
    zz = _jzz()
    eobrun = 0
    pend = []

    def flush():
        nonlocal eobrun, pend
        if eobrun:
            r = eobrun.bit_length() - 1
            wr.put(hm[r << 4][0], hm[r << 4][1])
            wr.put(eobrun - (1 << r), r)
            for b in pend:
                wr.put(b, 1)
            eobrun = 0
            pend = []

    for blk in blocks:
        tnow = [_trunc(int(blk[zz[k]]), al) for k in range(64)]
        tprev = [_trunc(int(blk[zz[k]]), al + 1) for k in range(64)]
        new = [k for k in range(ss, se + 1) if tprev[k] == 0 and tnow[k] != 0]
        if not new:
            eobrun += 1
            pend += [abs(tnow[k]) & 1 for k in range(ss, se + 1) if tprev[k] != 0]
            if eobrun == 0x7FFF:
                flush()
            continue
        flush()
        k = ss
        for pos in new:
            run = 0
            corr = []
            p = k
            while p < pos:
                if tprev[p] != 0:
                    corr.append(abs(tnow[p]) & 1)
                else:
                    run += 1
                    if run == 16:
                        wr.put(hm[0xF0][0], hm[0xF0][1])
                        for b in corr:
                            wr.put(b, 1)
                        corr = []
                        run = 0
                p += 1
            wr.put(hm[(run << 4) | 1][0], hm[(run << 4) | 1][1])
            wr.put(1 if tnow[pos] > 0 else 0, 1)
            for b in corr:
                wr.put(b, 1)
            k = pos + 1
        if k <= se:  # decoder only expects an EOB if its k-loop continues
            eobrun += 1
            pend += [abs(tnow[k2]) & 1 for k2 in range(k, se + 1) if tprev[k2] != 0]
    flush()
    return wr.flush()


def _enc_progressive_jpeg(w, h, comps, store, al_levels=1):
    """Encode the same coefficient store progressively: DC first+refine,
    then per-component AC band scans (split band) first+refine."""
    dht, _ = _jhuff()
    scans = []

    def sos(comp_ids, ss, se, ah, al):
        p = bytes([len(comp_ids)])
        for cid in comp_ids:
            p += bytes([cid, 0x00])
        return p + bytes([ss, se, (ah << 4) | al])

    all_ids = [cid for cid, _, _ in comps]
    scans.append((sos(all_ids, 0, 0, 0, al_levels),
                  _enc_prog_dc(comps, store, al_levels, refine=False)))
    for lvl in range(al_levels, 0, -1):
        scans.append((sos(all_ids, 0, 0, lvl, lvl - 1),
                      _enc_prog_dc(comps, store, lvl - 1, refine=True)))
    bands = [(1, 5), (6, 63)]
    for cid, _, _ in comps:
        blocks = [store[cid][y, x] for y in range(store[cid].shape[0])
                  for x in range(store[cid].shape[1])]
        for ss, se in bands:
            scans.append((sos([cid], ss, se, 0, al_levels),
                          _enc_prog_ac_first(blocks, ss, se, al_levels)))
    for cid, _, _ in comps:
        blocks = [store[cid][y, x] for y in range(store[cid].shape[0])
                  for x in range(store[cid].shape[1])]
        for lvl in range(al_levels, 0, -1):
            for ss, se in bands:
                scans.append((sos([cid], ss, se, lvl, lvl - 1),
                              _enc_prog_ac_refine(blocks, ss, se, lvl - 1)))
    return _jpeg_assemble(0xC2, w, h, comps, scans, dht)


def test_jpeg_progressive_equals_baseline_on_same_coefficients():
    """Progressive decoding vs the cross-format-validated baseline path:
    the SAME coefficient store encoded baseline and progressive (test-side
    spec encoders, independent of the decoder) must decode to IDENTICAL
    pixels — validating DC first/refine, AC band first/refine, EOB runs
    (incl. multi-block), ZRL-with-correction-bits, interleaved DC MCU
    order, and 4:2:0 subsampled grids."""
    import numpy as np

    from medacy_spark.functions.jpeg import jpeg_decode

    rng = np.random.RandomState(3)

    def random_store(by, bx):
        arr = np.zeros((by, bx, 64), dtype=np.int64)
        for y in range(by):
            for x in range(bx):
                kind = rng.randint(4)
                if kind == 0:
                    continue  # all-zero block: multi-block EOB runs
                arr[y, x, 0] = rng.randint(-40, 41)
                if kind == 1:  # sparse: long zero runs -> ZRL
                    for pos in rng.choice(np.arange(1, 64), 3, replace=False):
                        arr[y, x, pos] = rng.randint(-31, 32) or 1
                elif kind == 2:  # dense low band
                    arr[y, x, 1:8] = rng.randint(-15, 16, 7)
                else:  # dense everywhere
                    arr[y, x, 1:] = rng.randint(-7, 8, 63)
        return arr

    # grayscale, dims not multiples of 8 (padded edge blocks included)
    w, h = 20, 13
    store = {1: random_store(2, 3)}
    base = jpeg_decode(_enc_baseline_jpeg(w, h, [(1, 1, 1)], store))
    prog = jpeg_decode(_enc_progressive_jpeg(w, h, [(1, 1, 1)], store))
    assert base.shape == prog.shape == (13, 20, 1)
    assert np.array_equal(base, prog)

    # two successive-approximation levels exercise repeated refinement
    prog2 = jpeg_decode(_enc_progressive_jpeg(w, h, [(1, 1, 1)], store, al_levels=2))
    assert np.array_equal(base, prog2)

    # 4:2:0 color: interleaved DC scan + per-component subsampled AC grids
    w, h = 32, 16
    comps = [(1, 2, 2), (2, 1, 1), (3, 1, 1)]
    store = {1: random_store(2, 4), 2: random_store(1, 2), 3: random_store(1, 2)}
    base = jpeg_decode(_enc_baseline_jpeg(w, h, comps, store))
    prog = jpeg_decode(_enc_progressive_jpeg(w, h, comps, store))
    assert base.shape == prog.shape == (16, 32, 3)
    assert np.array_equal(base, prog)


def test_repetition_signals_crafted(spark):
    from medacy_spark.operators.textstats import repetition_signals

    docs = spark.createDataFrame(
        [
            # "a b" occurs 3x (len 3), text len 11 -> top2 = 9/11;
            # "a b a" 2x, "b a b" 2x -> top3 tie breaks to lexicographically
            # larger "b a b" (len 5): 10/11; no repeated 5-gram
            (1, "a b a b a b"),
            # every gram unique
            (2, "one two three four five six seven"),
            # 5-gram "x y x y x" repeats (positions 1 and 3): dup5 covers
            # 2 * 9 chars over len 17
            (3, "x y x y x y x y x"),
            # shorter than 2 tokens: all signals 0
            (4, "solo"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (
            round(r["top2gram_frac"], 9),
            round(r["top3gram_frac"], 9),
            round(r["dup5gram_frac"], 9),
        )
        for r in repetition_signals(docs).collect()
    }
    assert got[1] == (round(9 / 11, 9), round(10 / 11, 9), 0.0)
    # every 2-gram unique (count 1): tie breaks to the lexicographically
    # largest gram "two three" (9 chars), same rule the oracle replays
    assert got[2][0] == round(9 / 33, 9)
    assert got[2][2] == 0.0
    # doc 3: "x y" occurs 4x of len 3 over len 17; dup5 grams: "x y x y x"
    # 3x and "y x y x y" 2x -> (3+2)*9/17 capped at 1.0
    assert got[3][0] == round(12 / 17, 9)
    assert got[3][2] == 1.0
    assert got[4] == (0.0, 0.0, 0.0)


def test_ngram_contamination_planted(spark):
    from medacy_spark.operators.decontam import ngram_contamination

    docs = spark.createDataFrame(
        [
            (1, "q w e r t y u i o p extra tail words here"),
            (2, "totally clean document with no overlap at all in it"),
            (3, "short doc"),
            # shares the planted 8-gram mid-document
            (4, "prefix q w e r t y u i o suffix"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "q w e r t y u i o")], "bench_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_grams"], r["n_contaminated"], r["contaminated"]
        )
        for r in ngram_contamination(docs, bench, n=8).collect()
    }
    # bench has 9 tokens -> two 8-grams: q..i and w..o
    assert got[1] == (7, 2, True)
    # doc 2 has 10 tokens -> 3 eight-grams, none contaminated
    assert got[2] == (3, 0, False)
    assert got[3] == (0, 0, False)   # < 8 tokens: no grams at all
    assert got[4] == (4, 2, True)


def test_ngram_contamination_broadcast_bounded(spark):
    """Same results whether the benchmark gram set is broadcast (below the
    counted threshold) or joined as a shuffle equi-join (above it) — the
    bounded-broadcast discipline of graph.canonicalize_triples."""
    from medacy_spark.operators.decontam import ngram_contamination

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h i j k{i}") for i in range(20)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "a b c d e f g h i j")], "bench_id long, text string"
    )
    a = ngram_contamination(docs, bench, n=8).orderBy("doc_id").collect()
    b = (
        ngram_contamination(docs, bench, n=8, broadcast_max_grams=0)
        .orderBy("doc_id")
        .collect()
    )
    assert a == b
    assert all(r["contaminated"] for r in a)

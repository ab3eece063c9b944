"""Similarity search over embedding columns (array<float>).

Two paths, same answer shape:

  * brute_force_topk — exact cosine top-k: broadcast the (small) query set,
    JVM-side dot products via zip_with/aggregate, per-query top-k via
    window. The baseline and the oracle.
  * lsh_bucketed_topk — scale path: random-hyperplane LSH buckets shrink
    the candidate set; exact rescoring inside buckets. Recall < 1 by
    design; bucket count trades recall for cost. Hyperplanes are
    deterministic (hash-seeded), not RNG.

At 100 TB the corpus side stays partitioned; only queries broadcast. An IVF
variant would k-means the corpus first — the bucketed join below has the
same plan shape (equi-join on bucket id), so swapping the bucket function
upgrades it without touching the topology.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from medacy_spark.operators.linking import array_dot, array_norm, cosine
from medacy_spark.session import local_table


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (q_id, vec_id, score, rank), rank 1..k per query.

    Ties break on vec_id ascending — deterministic output.

    The win here is norm HOISTING: each side's L2 norm
    is a pure function of its own vector, so it is computed once per ROW
    before the pair join instead of once per PAIR (3 folds/pair → 1
    fold/pair + 1 fold/row; measured ~2x on the 20k x 5 contract scan).
    Fold arithmetic is unchanged → bit-identical scores.
    """
    q = queries.select(
        F.col("q_id").alias("q_id"), F.col("embedding").alias("q_vec"),
        array_norm(F.col("embedding")).alias("_qn"),
    )
    c = corpus.select(
        F.col("vec_id").alias("vec_id"), F.col("embedding").alias("c_vec"),
        array_norm(F.col("embedding")).alias("_cn"),
    )
    score = F.when(
        (F.col("_qn") == 0) | (F.col("_cn") == 0), F.lit(0.0)
    ).otherwise(
        array_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_qn") * F.col("_cn"))
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id", score.alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_no: int) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane: values from a
    splitmix-style integer mix — no RNG state, reproducible everywhere."""
    vals = []
    for j in range(dim):
        z = (plane_no * 0x9E3779B97F4A7C15 + j * 0xBF58476D1CE4E5B9) % (1 << 64)
        z = (z ^ (z >> 30)) * 0x94D049BB133111EB % (1 << 64)
        vals.append(((z >> 11) / float(1 << 53)) * 2.0 - 1.0)
    return vals


def rh_bucket(vec: Column, dim: int) -> Column:
    """Random-hyperplane signature: n_planes sign bits packed into a long.
    (r8: an unrolled element_at variant measured 3x SLOWER than this HOF
    fold — janino-hostile codegen; keep the fold.)"""
    out = F.lit(0).cast("long")
    for p in range(8):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, p + 1)])
        dot = F.aggregate(
            F.zip_with(vec, plane, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v
        )
        out = out + F.when(dot > 0, F.lit(2**p).cast("long")).otherwise(0)
    return out


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_cells: int = 16,
    n_probe: int = 4,
    k: int = 10,
    kmeans_iters: int = 1,
) -> DataFrame:
    """IVF ANN: corpus vectors assign to their nearest centroid cell; each
    query probes its n_probe nearest cells and rescores exactly inside
    them. Plan: one broadcast assign pass over the corpus, one equi-join
    on cell id.

    Centroids: deterministic seeds (the n_cells smallest-id corpus
    vectors) refined by ``kmeans_iters`` Lloyd iterations — each iteration
    is one broadcast assign pass + one element-wise mean aggregation
    (posexplode → groupBy(cell, dim) avg, map-side combined), and the
    n_cells×dim means collect to the driver to rebuild the broadcast
    centroid table, which is centroid-sized by design. Same plan shape as
    the unrefined variant; recall is test-gated ≥0.9 @10 vs brute force.
    """
    spark = corpus.sparkSession

    def nearest_cells(df, key, vcol, n, cents):
        scored = df.crossJoin(cents).withColumn(
            "_sim", cosine(F.col(vcol), F.col("c_vec"))
        )
        from pyspark.sql import Window

        w = Window.partitionBy(key).orderBy(F.col("_sim").desc(), F.col("cell").asc())
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("c_vec", "_sim", "_rn")
        )

    seed_rows = (
        corpus.orderBy("vec_id").limit(n_cells).select(F.col("embedding")).collect()
    )
    cent_data = [(i, [float(x) for x in r[0]]) for i, r in enumerate(seed_rows)]

    def cents_df(data):
        return F.broadcast(
            local_table(spark, data, "cell int, c_vec array<double>")
        )

    for _ in range(max(0, kmeans_iters)):
        assigned = nearest_cells(
            corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("v")),
            "vec_id", "v", 1, cents_df(cent_data),
        )
        means = (
            assigned.select("cell", F.posexplode("v").alias("j", "x"))
            .groupBy("cell", "j")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["j"]] = r["m"]
        # empty cells keep their previous centroid
        cent_data = [
            (c, [by_cell[c][j] for j in sorted(by_cell[c])]) if c in by_cell else (c, v)
            for c, v in cent_data
        ]

    cents = cents_df(cent_data)

    c_assigned = nearest_cells(
        corpus.select(F.col("vec_id").alias("vec_id"), F.col("embedding").alias("c_vec2")),
        "vec_id", "c_vec2", 1, cents,
    )
    q_assigned = nearest_cells(
        queries.select(F.col("q_id").alias("q_id"), F.col("embedding").alias("q_vec")),
        "q_id", "q_vec", n_probe, cents,
    )
    scored = c_assigned.join(F.broadcast(q_assigned), "cell").select(
        "q_id", "vec_id", cosine(F.col("q_vec"), F.col("c_vec2")).alias("score")
    ).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: candidates share the query's 8-hyperplane
    bucket; exact cosine rescoring within the bucket. Output shape matches
    brute_force_topk (ranks may hold < k rows when a bucket is small)."""
    c = corpus.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("c_vec"),
        rh_bucket(F.col("embedding"), dim).alias("bucket"),
        # norm once per row, not per candidate pair (it only depends on
        # the vector) — same value, hoisted out of the join
        array_norm(F.col("embedding")).alias("_cn"),
    )
    q = F.broadcast(
        queries.select(
            F.col("q_id").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            rh_bucket(F.col("embedding"), dim).alias("bucket"),
            array_norm(F.col("embedding")).alias("_qn"),
        )
    )
    score = F.when(
        (F.col("_qn") == 0) | (F.col("_cn") == 0), F.lit(0.0)
    ).otherwise(
        array_dot(F.col("q_vec"), F.col("c_vec")) / (F.col("_qn") * F.col("_cn"))
    )
    scored = c.join(q, "bucket").select("q_id", "vec_id", score.alias("score"))
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

"""Canonicalization: connected components + KG materialization (M5/M6).

The reference's canonicalization is per-document union-dedup
(annotations.py:250-264) plus CUI identity from MetaMap. At corpus scale the
north star requires *global* canonicalization: surface forms linked to the
same concept — or chained by same_as edges (shared CUI, alias tables,
high-similarity pairs) — collapse to one node id.

Connected components here is the alternating large-star/small-star
min-label propagation (Kiveris et al., "Connected Components in MapReduce
and Beyond", SOCC'14) expressed purely in DataFrame ops: each iteration is
two self-joins + an aggregation; convergence when no label changes.

The four iterative operators (connected_components, pagerank,
random_walks, bfs_distances) share one frame: they plan AQE-off
(:func:`_iterative`), cut the input lineage with an eager checkpoint whose
own job counts the rows that size every iteration shuffle (:func:`_cut`),
lay the relation each round re-reads out once by its join key
(:func:`_laid_out`), and localCheckpoint per iteration so plans don't
snowball. connected_components and pagerank first ask :func:`_driver_side`
whether the cut is small enough to iterate on the driver (at most
``_DRIVER_MAX_EDGES`` rows, the measured crossover, and within
``spark.sql.autoBroadcastJoinThreshold``); when it is, they collect it
once and run the same rounds in numpy on the driver instead of one Spark
job chain per round (McSherry et al., "Scalability! But at what COST?",
HotOS 2015: at this size a single-threaded loop wins). They are EAGER:
each returns either one materialized checkpoint, releasing every other
checkpoint it made (:func:`_release`), or a local relation, having
released its cut.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa
from pyspark.errors import ArithmeticException
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from medacy_spark.session import aqe_off, local_table

# Scale-adaptive shuffle sizing for the iterative operators: they run
# AQE-off (checkpoint-partitioning preservation), so AQE's small-partition
# coalescing never applies, and a graph of a few hundred edges otherwise
# pays the full configured partition count on every one of ~2 shuffles x N
# iterations — pure scheduling overhead at bench scale, and the identical
# constant would be wrong again on a cluster. Partition count is derived
# from the materialized input row count instead (guide §2: derive
# partitioning from input size); the cap is whatever
# spark.sql.shuffle.partitions is configured to, so production clusters
# keep their tuning.
GRAPH_ROWS_PER_PARTITION = 100_000
# connected_components' round cap: pointer jumping converges in
# O(log diameter) rounds (a 10k-node path takes 13)
_CC_MAX_ROUNDS = 50
# pagerank checkpoints its rounds lazily and materializes every this many
# (and the last): bounds the un-materialized plan depth of long runs
_PR_MATERIALIZE_EVERY = 8


def _iter_shuffle_partitions(spark, n_rows: int) -> int:
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # floor of 2, not 1: a 1-partition hash partitioning normalizes to
    # SinglePartition at checkpoint capture and the preserved-layout
    # join re-inserts an Exchange per iteration (measured via the
    # one-Exchange plan gate)
    want = max(2, -(-n_rows // GRAPH_ROWS_PER_PARTITION))  # ceil div
    return min(cap, want)


def _iterative(op):
    """Run a graph operator AQE-off; the session conf, the shuffle sizing
    of :func:`_cut` included, is restored on exit. A checkpoint captured
    under AQE reports ``UnknownPartitioning(0)`` (Spark 4.1), so every
    round's join re-adds an Exchange+Sort of the laid-out relation;
    AQE-off it keeps its ``hashpartitioning``. Hub skew is tamed by
    map-side combine, not by AQE (which doesn't split skewed
    aggregations anyway). Inside the frame, an operator with a driver
    side hands its cut to :func:`_driver_side`, which picks where the
    rounds run."""

    @functools.wraps(op)
    def framed(edges: DataFrame, *args, **kwargs) -> DataFrame:
        with aqe_off(edges.sparkSession):
            return op(edges, *args, **kwargs)

    return framed


def _cut(df: DataFrame) -> tuple[DataFrame, int]:
    """Eager lineage cut of an operator's input, and its row count. Its one
    job also counts the rows (``observe``), and the count sizes every later
    shuffle of the operator. Observing a lazy checkpoint reads 0 rows, so
    the cut is eager."""
    seen = Observation()
    cut = df.observe(seen, F.count(F.lit(1)).alias("rows")).localCheckpoint()
    rows = seen.get["rows"]
    spark = cut.sparkSession
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_iter_shuffle_partitions(spark, rows))
    )
    return cut, rows


def _laid_out(df: DataFrame, key: str) -> DataFrame:
    """``df`` without duplicate rows, hash-partitioned and sorted by
    ``key`` in a lazy checkpoint, which keeps that layout: every round's
    sort-merge join reads it with zero exchange and zero sort. The
    partitioning by ``key`` satisfies the dedup's distribution, so it is
    one exchange; the operator's first action materializes it (eager
    would be a separate barrier job)."""
    return (
        df.repartition(key)
        .dropDuplicates()
        .sortWithinPartitions(key)
        .localCheckpoint(eager=False)
    )


def _release(*checkpoints: DataFrame) -> None:
    """Drop the blocks of checkpoints whose successors are materialized.
    ``DataFrame.unpersist`` does not release a localCheckpoint; the RDD
    behind its LogicalRDD is unpersisted instead."""
    for cp in checkpoints:
        cp._jdf.queryExecution().logical().rdd().unpersist(True)


# the largest edge cut whose rounds run on the driver: the largest size at
# which numpy beat the Spark rounds in every measured run of both operators,
# counting the call and two downstream queries over its result (4-core
# host, string ids). The driver side runs the rounds faster at every size
# (CC 9-16x, PageRank 2-5x), but a local relation of a million rows costs
# each later query about 1.5 s more than a checkpoint does, and for
# PageRank that erases the lead between 600k and 1M edges;
# connected_components won at every size measured.
_DRIVER_MAX_EDGES = 600_000
# id types whose order and equality numpy reproduces exactly: integers, and
# strings under the default binary collation (Python orders str by code
# point, which is the order of their UTF-8 bytes, Spark's string order)
_DRIVER_ID_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "string"})


def _driver_side(cut: DataFrame, rows: int, *ids: str) -> pa.Table | None:
    """The cut as an Arrow table, released from Spark, when the operator's
    rounds should run on the driver; None when they should run in Spark.

    The rounds run on the driver when the cut has at most
    ``_DRIVER_MAX_EDGES`` rows, the measured crossover, and the driver may
    hold it: its size is at most ``spark.sql.autoBroadcastJoinThreshold``,
    the bound under which Spark itself collects a relation onto the
    driver to broadcast it (-1 switches both off). The cut is sized as
    Spark sizes the local relation it would become, its counted rows
    times the schema's estimated row width: the optimizer's estimate of a
    checkpoint is its origin plan's, which a join multiplies out (7.9e27
    bytes for a 604-edge KG) and a Python-list input leaves at
    ``Long.MaxValue``. The id columns must also share one type from
    ``_DRIVER_ID_TYPES``. This is the one place the choice is made."""
    conf = cut.sparkSession._jsparkSession.sessionState().conf()
    # EstimationUtils.getSizePerRow: 8 bytes of row overhead + the columns'
    # default sizes (LocalRelation.computeStats multiplies it by the rows)
    size = rows * (8 + cut._jdf.schema().defaultSize())
    types = {cut.schema[c].dataType.simpleString() for c in ids}
    if not (rows <= _DRIVER_MAX_EDGES and size <= conf.autoBroadcastJoinThreshold()
            and len(types) == 1 and types <= _DRIVER_ID_TYPES):
        return None
    table = cut.toArrow()
    _release(cut)
    return table


def _indexed(
    table: pa.Table, a: str, b: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The sorted distinct ids of ``table``'s two id columns, and each
    column as indices into them: index order is the ids' Spark order."""
    ids_a, ids_b = table.column(a).to_numpy(), table.column(b).to_numpy()
    ids, inv = np.unique(np.concatenate([ids_a, ids_b]), return_inverse=True)
    return ids, inv[: len(ids_a)], inv[len(ids_a):]


@_iterative
def connected_components(
    edges: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id of
    the component (ids must be orderable; strings fine).

    Implementation: repeated min-neighbor propagation over the undirected
    edge set, with the node's own current label included, plus one
    pointer-jumping round per iteration — O(log diameter) rounds on a
    path graph (gate-tested on a 10k-node chain in
    test_graph.test_pointer_jumping_convergence), far fewer on clustered
    linking graphs (alias clusters are near-cliques). Each iteration: one
    shuffle (groupBy node) + one broadcast-eligible join. When the edge
    cut is small enough (:func:`_driver_side`) the same
    rounds run in numpy on the driver (:func:`_cc_on_driver`): two jobs
    per call, the cut and its collect, where the Spark rounds run one
    job per round after the cut.

    ``stats`` (optional dict) gets ``iterations`` (rounds run, including
    the final no-change confirmation round) and ``converged`` written
    into it — the observability hook the convergence gate reads; both
    sides write the same values. EAGER: it iterates to convergence when
    called and returns one materialized checkpoint, releasing every other
    one it made, or, on the driver side, a local relation.
    """
    # cut the input lineage BEFORE branching: the undirected union reads
    # `edges` twice and every propagation iteration re-reads the edge set —
    # without this an expensive upstream (e.g. minhash candidate generation
    # over 100k docs) is recomputed once per branch per iteration
    # (measured: 25 s → ~1 s for CC over a 502-edge candidate graph)
    cut, rows = _cut(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    edge_table = _driver_side(cut, rows, "a", "b")
    if edge_table is not None:
        return _cc_on_driver(cut.sparkSession, edge_table, stats)
    # the undirected relation, laid out by the label-carrying end
    und = _laid_out(
        cut.union(cut.select(F.col("b").alias("a"), F.col("a").alias("b"))), "b"
    )
    # initial label = min(self, neighbors)
    labels = (
        und.groupBy("a").agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("node"),
            F.least("a", "nbr_min").alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    n_iter = 0
    converged = False
    for _ in range(_CC_MAX_ROUNDS):
        n_iter += 1
        # (1) neighbor propagation: min over adjacent labels
        nbr = (
            und.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr.withColumnRenamed("a", "node"), "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_comp", "component")
                ).alias("component"),
            )
        )
        # (2) pointer jumping (path compression): label <- label-of-label.
        # Converts O(diameter) propagation into O(log diameter) rounds —
        # the standard trick for long chains in same_as graphs.
        # Lazy checkpoint before the self-join: without it the
        # propagation join+aggregate above executes TWICE per round
        # (once per branch of the uncached lineage).
        stepped = stepped.localCheckpoint(eager=False)
        parent = stepped.select(
            F.col("node").alias("_p"), F.col("component").alias("_pc")
        )
        new_labels = (
            stepped.join(parent, stepped["component"] == parent["_p"], "left")
            .select(
                "node",
                F.least("component", F.coalesce("_pc", "component")).alias("component"),
            )
        )
        # lazy: the changed-count action below materializes (and
        # persists) new_labels in the SAME job — eager was a second
        # barrier job per iteration for no extra safety
        new_labels = new_labels.localCheckpoint(eager=False)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        _release(labels, stepped)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    _release(cut, und)
    if stats is not None:
        stats["iterations"] = n_iter
        stats["converged"] = converged
    return labels


def _cc_on_driver(spark, edge_table: pa.Table, stats: dict | None) -> DataFrame:
    """connected_components' rounds over an edge table on the driver: the
    same initial labels, min-neighbour propagation and pointer jump per
    round, round cap and ``stats``, over indices of the sorted ids."""
    ids, a, b = _indexed(edge_table, "a", "b")
    u, v = np.concatenate([a, b]), np.concatenate([b, a])  # undirected
    labels = np.arange(len(ids))
    np.minimum.at(labels, u, v)
    n_iter = 0
    converged = False
    for _ in range(_CC_MAX_ROUNDS):
        n_iter += 1
        stepped = labels.copy()
        np.minimum.at(stepped, u, labels[v])
        new_labels = np.minimum(stepped, stepped[stepped])
        changed = (new_labels != labels).any()
        labels = new_labels
        if not changed:
            converged = True
            break
    if stats is not None:
        stats["iterations"] = n_iter
        stats["converged"] = converged
    id_type = edge_table.schema.field("a").type
    return local_table(spark, pa.table({
        "node": pa.array(ids, type=id_type),
        "component": pa.array(ids[labels], type=id_type),
    }))


def triangle_counts(
    edges: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph —
    clustering structure for the KG (how interlinked a concept's
    neighborhood is; the corpus-scale generalization of the reference's
    pairwise overlap tallies, ref inter_dataset_agreement.py).

    Algorithm: degree orientation (the compact-forward / node-iterator
    bound): orient every edge from the (degree, id)-smaller endpoint to
    the larger, so each node's FORWARD degree is O(√m) and the wedge
    relation Σ outdeg² — the algorithm's intrinsic cost — is bounded
    O(m^1.5) regardless of hub skew (a hub's edges point INTO it, so it
    never fans out wedges). This is why no hot-key guard is needed here
    while the LSH band join carries one.

    Plan: two edge-scale equi-joins (wedge build + closing-edge
    semi-check) + one explode/groupBy for the per-corner credit. The
    oriented relation is consumed three times — localCheckpointed once
    (the never-branch-an-uncached-lineage rule).
    """
    e = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = e.select(F.col("a").alias("n")).union(e.select("b")).groupBy("n").agg(
        F.count("*").alias("d")
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("_db"))
    fwd = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    o = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint()
    )
    wedges = o.join(
        o.select(F.col("u").alias("v"), F.col("v").alias("w")), "v"
    )
    tri = wedges.join(
        o.select(F.col("u").alias("u"), F.col("v").alias("w")),
        ["u", "w"],
        "leftsemi",
    )
    if stats is not None:
        stats["plan"] = tri._jdf.queryExecution().executedPlan().toString()
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )


@_iterative
def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iterations: int = 6,
    damping: float = 0.85,
    stats: dict | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank over edges(src, dst[, weight]) -> (node, pagerank).

    ``seeds`` switches to PERSONALIZED (topic-sensitive) PageRank: the
    teleport mass (1-d) restarts only at the seed nodes (p_i =
    1/|seeds∩nodes|), init = the teleport vector — "entities related to
    THESE" ranking. Seeds are cast to the graph's id type. Raises if no
    seed appears in the graph. The uniform
    path is byte-identical to before the option existed (oracle-pinned).

    Fixed-iteration power method — the KG analytics companion to
    materialize_nodes_edges (rank concept nodes by citation mass; the
    reference's count-ordered entities, ref inter_dataset_agreement.py
    entity tallies, generalized to graph centrality). Dangling nodes
    (no out-edges) keep the (1-d)/N floor and their mass is NOT
    redistributed — the classic MapReduce formulation; total rank then
    undershoots 1.0 by the dangling mass, which is fine for *ranking*
    and keeps the per-iteration plan to exactly one join + one
    aggregation, replayable closed-form in SQL.

    Scale shape: when the edge cut is small enough
    (:func:`_driver_side`), the rounds run in numpy on the driver
    (:func:`_pagerank_on_driver`) and the ranks come back as a local
    relation: two jobs per call, the cut and its collect (plus one to
    collect ``seeds``). Above it, the edge relation (with its out-degree
    normalization pre-joined) is localCheckpointed ONCE and re-read per
    iteration; ranks are checkpointed per iteration so plans don't
    snowball. Each iteration is one equi-join on src (rank side is
    node-scale, far smaller than edges) + one map-side-combinable
    groupBy(dst). No collect on that side — N comes from a count on the
    checkpointed node table. A lazy round checkpoint whose plan holds a
    broadcast join still runs the broadcast's build job when it is
    created, so the Spark rounds run more jobs than rounds. EAGER: the
    last round is materialized when called and returned as the one
    checkpoint kept; every other checkpoint it made is released.
    """
    if iterations < 1:
        raise ValueError("pagerank: iterations must be at least 1")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e, rows = _cut(
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"), w.alias("_w"))
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    )
    if seeds is not None:
        # both sides compare seeds with ids by plain equality in the ids'
        # type: a bigint seed 1 is the string id '1', never '01' (which an
        # implicit join coercion to bigint would also match)
        seeds = seeds.select(
            F.col("node").cast(e.schema["_s"].dataType).alias("node")
        ).distinct()
    edge_table = _driver_side(e, rows, "_s", "_d")
    if edge_table is not None:
        return _pagerank_on_driver(
            e.sparkSession, edge_table, iterations, damping, stats, seeds
        )
    nodes = _laid_out(e.select(F.col("_s").alias("node")).union(e.select("_d")), "node")
    n = nodes.count()
    if n == 0:
        _release(e)
        return nodes.withColumn("pagerank", F.lit(0.0))
    # pre-normalize: each edge carries its share of the source's out-mass,
    # so the per-iteration join never recomputes out-degrees. Laid out by
    # the join key like _laid_out, without the dedup: parallel edges each
    # carry their own share. Lazy: iteration 1 materializes it once inside
    # the first (pipelined) action.
    outd = e.groupBy("_s").agg(F.sum("_w").alias("_wout"))
    norm = (
        e.join(outd, "_s")
        .select("_s", "_d", (F.col("_w") / F.col("_wout")).alias("_share"))
        .repartition("_s")
        .sortWithinPartitions("_s")
        .localCheckpoint(eager=False)
    )
    if seeds is None:
        join_base = nodes
        tele = F.lit((1.0 - damping) / n)
        ranks = nodes.select("node", F.lit(1.0 / n).alias("pagerank"))
    else:
        # personalized (topic-sensitive) teleport: mass restarts only at
        # the seed set — (1-d)·p_i with p_i = 1/|seeds∩nodes|. Broadcast
        # seed marker preserves the node layout; init = the teleport
        # vector itself (the standard PPR start).
        marked = nodes.join(
            F.broadcast(seeds.withColumn("_is", F.lit(1))), "node", "left"
        )
        k = marked.filter(F.col("_is") == 1).count()
        if k == 0:
            _release(e, nodes, norm)
            raise ValueError("pagerank: no seed node appears in the graph")
        join_base = marked.select(
            "node",
            F.when(F.col("_is") == 1, F.lit(1.0 / k))
            .otherwise(F.lit(0.0)).alias("_p"),
        ).localCheckpoint()
        tele = F.lit(1.0 - damping) * F.col("_p")
        ranks = join_base.select("node", F.col("_p").alias("pagerank"))
    chain = []
    for it in range(1, iterations + 1):
        contrib = (
            norm.join(ranks.withColumnRenamed("node", "_s"), "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.col("pagerank") * F.col("_share")).alias("_in"))
        )
        step = join_base.join(contrib, "node", "left").select(
            "node",
            (tele + F.lit(damping) * F.coalesce("_in", F.lit(0.0))).alias(
                "pagerank"
            ),
        )
        if stats is not None:
            # the observability hook the plan gate reads: the physical
            # plan of ONE iteration, pre-checkpoint — it must stay
            # constant-size across iterations (no lineage snowball)
            stats["last_iter_plan"] = (
                step._jdf.queryExecution().executedPlan().toString()
            )
        # lazy checkpoint: marks the lineage cut but defers
        # materialization, so a block of shuffle-joined rounds pipelines
        # as ONE Spark action (a broadcast rank side is still built by a
        # job of its own when the round is planned); the last round is
        # eager, so the result is materialized and the chain behind it
        # can go
        ranks = step.localCheckpoint(
            eager=it == iterations or it % _PR_MATERIALIZE_EVERY == 0
        )
        chain.append(ranks)
    _release(e, nodes, norm, join_base, *chain[:-1])
    if stats is not None:
        stats["n_nodes"] = n
    return ranks


def _pagerank_on_driver(
    spark,
    edge_table: pa.Table,
    iterations: int,
    damping: float,
    stats: dict | None,
    seeds: DataFrame | None,
) -> DataFrame:
    """pagerank's rounds over an edge table on the driver, with the Spark
    rounds' arithmetic: ``share = w / wout`` first, then rank × share
    summed per destination; a null weight contributes nothing, a zero
    out-weight raises ``ArithmeticException`` as Spark's ANSI division
    does (without ANSI its share is null and contributes nothing), dangling
    mass is not redistributed. ``seeds`` are pagerank's, distinct and
    cast to the ids' type."""
    ids, s, d = _indexed(edge_table, "_s", "_d")
    n = len(ids)
    id_type = edge_table.schema.field("_s").type
    if n == 0:
        return local_table(spark, pa.table({
            "node": pa.array(ids, type=id_type), "pagerank": np.zeros(0),
        }))
    if seeds is None:
        tele = (1.0 - damping) / n
        ranks = np.full(n, 1.0 / n)
    else:
        is_seed = np.isin(ids, seeds.toArrow().column(0).drop_null().to_numpy())
        k = int(is_seed.sum())
        if k == 0:
            raise ValueError("pagerank: no seed node appears in the graph")
        p = np.where(is_seed, 1.0 / k, 0.0)
        tele = (1.0 - damping) * p
        ranks = p
    # the Spark rounds divide in their first round, after the seed count
    w = edge_table.column("_w")
    valid = w.is_valid().to_numpy()
    s, d, w = s[valid], d[valid], w.fill_null(0.0).to_numpy()[valid]
    wout = np.bincount(s, weights=w, minlength=n)[s]
    zero = wout == 0
    if zero.any():
        if spark.conf.get("spark.sql.ansi.enabled") == "true":
            raise ArithmeticException(
                "[DIVIDE_BY_ZERO] pagerank: a source's out-weights sum to 0"
            )
        s, d, w, wout = s[~zero], d[~zero], w[~zero], wout[~zero]
    share = w / wout
    for _ in range(iterations):
        ranks = tele + damping * np.bincount(d, weights=ranks[s] * share, minlength=n)
    if stats is not None:
        stats["n_nodes"] = n
    return local_table(spark, pa.table({
        "node": pa.array(ids, type=id_type), "pagerank": ranks,
    }))


@_iterative
def random_walks(
    edges: DataFrame,
    *,
    n_walks: int = 2,
    walk_len: int = 4,
) -> DataFrame:
    """Deterministic random walks — the DeepWalk/node2vec corpus
    generator: from every node with out-edges, ``n_walks`` walks of up
    to ``walk_len`` steps; the walk table feeds the word2vec pipeline
    (embeddings_train) as sentences, giving node embeddings.

    The step choice at (cur, walk, step) is the out-neighbor minimizing
    ``md5(:cur:walk:step:dst)`` (an empty salt) — a uniform-ish hash
    draw that is engine-portable (md5 is md5 everywhere), rerun-stable,
    and independent across steps/walks via the key.  Dead ends truncate the walk.
    Output: (start, walk_id, step, node), step 0 = the start itself.

    Scale shape (the bfs/pagerank recipe): the edge relation is laid
    out ONCE by the join key under AQE-off and localCheckpointed; each
    step is one frontier-sized equi-join + one map-side-combinable
    argmin aggregation (min of a (hash, dst) struct — no window), with
    the frontier checkpointed per step so plans stay flat. EAGER: the
    walk table is materialized when called and returned as the one
    checkpoint kept; every other checkpoint it made is released.
    """
    cut, _ = _cut(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    e = _laid_out(cut, "a")
    starts = e.select(F.col("a").alias("start")).distinct()
    frontier = starts.select(
        "start",
        F.explode(F.sequence(F.lit(0), F.lit(int(n_walks) - 1))).alias("walk_id"),
    ).select("start", "walk_id", F.col("start").alias("cur")).localCheckpoint(eager=False)
    frontiers = [frontier]
    for t in range(1, int(walk_len) + 1):
        key = F.md5(
            F.concat_ws(
                ":",
                F.lit(""),
                F.col("a").cast("string"),  # the current node (cur, renamed)
                F.col("walk_id").cast("string"),
                F.lit(str(t)),
                F.col("b").cast("string"),
            )
        )
        frontier = (
            frontier.withColumnRenamed("cur", "a")
            .join(e, "a")
            .select("start", "walk_id", key.alias("_h"), "b")
            .groupBy("start", "walk_id")
            .agg(F.min(F.struct("_h", "b")).alias("_m"))
            .select("start", "walk_id", F.col("_m.b").alias("cur"))
            .localCheckpoint(eager=False)
        )
        frontiers.append(frontier)
    out = functools.reduce(DataFrame.unionByName, (
        f.select("start", "walk_id", F.lit(t).alias("step"), F.col("cur").alias("node"))
        for t, f in enumerate(frontiers)
    )).localCheckpoint()
    _release(cut, e, *frontiers)
    return out


def same_as_edges(links: DataFrame) -> DataFrame:
    """Build same_as edges from the links table: every surface form shares
    an edge with its CUI (term-node <-> concept-node), so all aliases of a
    CUI land in one component. Node ids are prefixed strings."""
    return links.select(
        F.concat(F.lit("t:"), F.lower("text")).alias("src"),
        F.concat(F.lit("c:"), F.col("cui")).alias("dst"),
    ).distinct()


def canonicalize_triples(
    links: DataFrame,
    triples: DataFrame,
    id_col: str = "doc_id",
    broadcast_max_terms: int = 2_000_000,
) -> DataFrame:
    """The canonicalization core of materialize_nodes_edges: every
    triple's subj/obj surface form joined to its component
    representative (src_id/dst_id), surface forms without a component
    falling back to themselves. Exposed separately so the plan gate can
    pin the JOIN STRATEGY on the un-checkpointed lineage.

    ``term_canon`` (surface form -> component) is CORPUS-DERIVED: one row
    per distinct lowercased mention surface form. Unlike the gazetteer /
    CUI dictionaries it is NOT bounded — distinct surface forms grow with
    the corpus (typos, numerics, boilerplate variants), and a forced
    broadcast that outgrows executor memory kills the job. So the
    broadcast hint is applied only below ``broadcast_max_terms`` (counted
    by the same job that checks the closed form below); above it the
    canonicalization joins stay shuffle equi-joins on ``_norm``, which is
    the natural co-partitioned key for both sides.
    2M rows ≈ low-hundreds of MB broadcast — comfortably inside a
    production executor; the threshold is a parameter, not a constant,
    for clusters that differ.

    Closed form: the same_as graph is bipartite between surfaces
    ('t:<lower(text)>') and concepts ('c:<cui>'), and 'c:' sorts before
    't:'. When no surface links to two distinct CUIs every component is a
    star around one concept, so a surface's component minimum is its own
    'c:<cui>'. One aggregation per surface (min/max of 'c:<cui>') detects
    that case and IS term_canon then; its row count sets the broadcast
    cut-off. Only when some surface bridges two concepts does the
    iterative connected_components run (identical output by construction).
    """
    concept = F.concat(F.lit("c:"), F.col("cui"))
    by_surface = (
        links.filter(F.col("text").isNotNull() & F.col("cui").isNotNull())
        .groupBy(F.lower("text").alias("_norm"))
        .agg(F.min(concept).alias("canon"), F.max(concept).alias("_max"))
        # lazy: the stats action below materializes it in the same job
        .localCheckpoint(eager=False)
    )
    n_terms, n_bridging = by_surface.agg(
        F.count("*"), F.count_if(F.col("canon") != F.col("_max"))
    ).first()
    if n_bridging == 0:
        term_canon = by_surface.select("_norm", "canon")
    else:
        comp = connected_components(same_as_edges(links))
        term_canon = comp.filter(F.col("node").startswith("t:")).select(
            F.expr("substring(node, 3)").alias("_norm"),
            F.col("component").alias("canon"),
        )
    canon_rel = F.broadcast(term_canon) if n_terms <= broadcast_max_terms else term_canon

    def canon_of(text_col):
        return F.coalesce(F.col("canon"), F.concat(F.lit("t:"), F.lower(text_col)))

    s = triples.select(
        id_col, "pred",
        F.lower(F.col("subj.text")).alias("_norm"),
        F.col("subj.text").alias("s_text"),
        F.lower(F.col("obj.text")).alias("_obj_norm"),
        F.col("obj.text").alias("o_text"),
    )
    return (
        s.join(canon_rel, "_norm", "left")
        .withColumn("src_id", canon_of(F.col("s_text")))
        .drop("canon", "_norm")
        .withColumnRenamed("_obj_norm", "_norm")
        .join(canon_rel, "_norm", "left")
        .withColumn("dst_id", canon_of(F.col("o_text")))
        .drop("canon", "_norm")
    )


def materialize_nodes_edges(
    links: DataFrame,
    triples: DataFrame,
    broadcast_max_terms: int = 2_000_000,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the KG: nodes(canonical_id, label, names) and
    edges(src, pred, dst, weight) — the north-star node/edge tables.

    Canonical id = component representative from connected_components over
    same_as edges (see canonicalize_triples for the join-strategy
    bounds); mentions without a CUI canonicalize to their surface form.
    Edge weight = support count (number of extracted triples).
    """
    s = canonicalize_triples(links, triples, "doc_id", broadcast_max_terms)
    # the canonicalized relation feeds edges once and the nodes union
    # TWICE — cut the lineage so the triples scan + both term_canon
    # joins run a single time (the single-pass invariant)
    s = s.localCheckpoint(eager=False)
    edges = s.groupBy("src_id", "pred", "dst_id").agg(
        F.count("*").alias("weight")
    )
    nodes = (
        s.select(F.col("src_id").alias("canonical_id"), F.lower("s_text").alias("name"))
        .union(s.select(F.col("dst_id"), F.lower("o_text")))
        .groupBy("canonical_id")
        .agg(F.sort_array(F.collect_set("name")).alias("names"))
    )
    return nodes, edges


@_iterative
def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    stats: dict | None = None,
) -> DataFrame:
    """Multi-source BFS: (node, dist) for every node reachable from any
    seed within ``max_hops`` edge traversals, dist = exact minimum hop
    count (0 for the seeds themselves).

    The KG neighborhood query: "every entity within k hops of these seed
    concepts" — the expansion step of subgraph extraction / entity-
    neighborhood sampling. Expansion is along src→dst; pass a doubled
    relation for undirected graphs.

    Scale shape (the pagerank/CC recipe): the edge relation is laid out
    ONCE by the join key under AQE-off and localCheckpointed, so every
    hop's frontier-expansion join plans zero exchange and zero sort on
    the edge side — the only per-hop shuffles move frontier-sized data
    (the expansion's distinct and the visited anti-join). Frontier-level
    sets never concentrate on one reducer beyond the graph's own degree
    skew, which the distinct's partial aggregation absorbs. EAGER like
    connected_components (it iterates when called): it returns one
    materialized checkpoint and releases every other one it made.
    """
    cut, _ = _cut(
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    e = _laid_out(cut, "a")
    dist = (
        seeds.select(F.col("node").alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint()
    )
    hops = 0
    for hop in range(1, max_hops + 1):
        # the frontier is last hop's rows of dist; one job per hop
        # materializes the grown dist and counts its new rows
        new = (
            dist.filter(F.col("dist") == hop - 1)
            .select(F.col("node").alias("a"))
            .join(e, "a")
            .select(F.col("b").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).alias("dist"))
        )
        seen = Observation()
        grown = dist.union(new).observe(
            seen, F.count_if(F.col("dist") == hop).alias("new")
        ).localCheckpoint()
        if seen.get["new"] == 0:
            _release(grown)
            break
        _release(dist)
        dist, hops = grown, hop
    _release(cut, e)
    if stats is not None:
        stats["hops"] = hops
    return dist

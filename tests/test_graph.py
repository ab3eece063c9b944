"""Connected components vs a driver-side union-find oracle."""

from __future__ import annotations

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from medacy_spark.operators.graph import connected_components


def _side(out):
    """Where an operator's rounds ran: its result is a local relation when
    they ran on the driver, a checkpoint when they ran in Spark."""
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    return "driver" if plan.startswith("LocalRelation") else "spark"


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find(spark, graph_sides):
    # deterministic pseudo-random sparse graph incl. a long path (worst case
    # for propagation count) and several cliques
    edges = [(i, i + 1) for i in range(0, 40)]                      # path
    edges += [(100 + i, 100 + (i * 7) % 10) for i in range(10)]     # clique-ish
    edges += [(200, 200)]                                           # self-loop
    edges += [(i * 13 % 300 + 300, i * 29 % 300 + 300) for i in range(50)]
    df = spark.createDataFrame(edges, "src long, dst long")
    want = _union_find(edges)
    for side in graph_sides:
        out = connected_components(df)
        assert _side(out) == side
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == want, side


def test_cc_string_ids(spark, graph_sides):
    edges = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for side in graph_sides:
        out = connected_components(df)
        assert _side(out) == side
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}, side


def test_pointer_jumping_convergence(spark, graph_sides):
    """The O(log diameter) claim, gated on the pathological shape: a
    10,000-node path graph (diameter 9,999 — plain min-propagation would
    need ~10k rounds, i.e. hit the round cap and return garbage) must converge
    in ≤ log2(n) + c rounds thanks to the per-iteration pointer jump, and
    every node must land in the single exact component."""
    import math

    from medacy_spark.operators.graph import connected_components

    n = 10_000
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    for side in graph_sides:
        stats = {}
        comp = connected_components(edges, stats=stats)
        assert _side(comp) == side
        assert stats["converged"]
        # propagation + one jump per round: label reach more than doubles
        # per iteration; +4 covers the startup round and the final
        # no-change confirmation round
        assert stats["iterations"] <= math.floor(math.log2(n)) + 4
        rows = comp.groupBy("component").count().collect()
        assert len(rows) == 1
        assert rows[0]["component"] == 0 and rows[0]["count"] == n


@pytest.mark.parametrize("op", ["cc", "pagerank", "ppr", "bfs", "walks"])
def test_graph_ops_release_superseded_checkpoints(spark, graph_sides, op):
    """Each iterative operator returns one materialized checkpoint and
    releases every other checkpoint it made (``DataFrame.unpersist`` does
    not release a localCheckpoint), and the kept result still reads the
    same rows once its predecessors are gone. On the driver side
    (connected_components and pagerank) it returns a local relation and
    keeps no checkpoint at all."""
    from medacy_spark.operators import graph

    edges = spark.range(60).select(
        F.col("id").alias("src"), ((F.col("id") * 7 + 3) % 60).alias("dst")
    )
    seeds = spark.range(2).select(F.col("id").alias("node"))
    run = {
        "cc": lambda: graph.connected_components(edges),
        "pagerank": lambda: graph.pagerank(edges, iterations=3),
        "ppr": lambda: graph.pagerank(edges, iterations=3, seeds=seeds),
        "bfs": lambda: graph.bfs_distances(edges, seeds, max_hops=3),
        "walks": lambda: graph.random_walks(edges, n_walks=2, walk_len=3),
    }[op]
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    for side in graph_sides:
        before = persisted().size()
        out = run()
        assert _side(out) == (side if op in ("cc", "pagerank", "ppr") else "spark")
        rows = sorted(map(tuple, out.collect()))
        assert rows
        assert persisted().size() - before <= (0 if _side(out) == "driver" else 1)
        assert sorted(map(tuple, out.collect())) == rows


# ---------------------------------------------------------------- pagerank


def _pagerank_ref(edges, iters, d=0.85):
    """Driver-side reference of the exact formulation graph.pagerank pins:
    weighted contributions, dangling mass NOT redistributed."""
    nodes = sorted({a for a, _, _ in edges} | {b for _, b, _ in edges})
    n = len(nodes)
    wout = {}
    for s, _, w in edges:
        wout[s] = wout.get(s, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            contrib[t] += r[s] * (w / wout[s])
        r = {v: (1.0 - d) / n + d * contrib[v] for v in nodes}
    return r


def test_pagerank_matches_reference(spark, graph_sides):
    from medacy_spark.operators.graph import pagerank

    # weighted digraph with a dangling node (3), a hub (0), and a cycle
    edges = [
        (1, 0, 1.0), (2, 0, 2.0), (4, 0, 1.0), (0, 3, 1.0),
        (4, 5, 3.0), (5, 6, 1.0), (6, 4, 1.0), (2, 5, 1.0),
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    want = _pagerank_ref(edges, iters=8)
    for side in graph_sides:
        out = pagerank(df, weight="w", iterations=8)
        assert _side(out) == side
        got = {r["node"]: r["pagerank"] for r in out.collect()}
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-12, (side, v, got[v], want[v])
        # ranking sanity: the hub (three in-edges) beats a pure source
        assert got[0] > got[1]
        # dangling node keeps its floor + inflow; total mass undershoots 1
        assert sum(got.values()) < 1.0 + 1e-9


def test_pagerank_unweighted_star(spark, graph_sides):
    from medacy_spark.operators.graph import pagerank

    # star: every leaf points at the center; center rank strictly largest,
    # all leaves identical by symmetry
    edges = [(i, 0) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    for side in graph_sides:
        out = pagerank(df, iterations=5)
        assert _side(out) == side
        got = {r["node"]: r["pagerank"] for r in out.collect()}
        leaf_vals = {round(got[i], 15) for i in range(1, 9)}
        assert len(leaf_vals) == 1, side
        assert got[0] > max(got[i] for i in range(1, 9)), side


def test_pagerank_empty(spark, graph_sides):
    from medacy_spark.operators.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    for side in graph_sides:
        out = pagerank(df)
        assert _side(out) == side
        assert out.count() == 0


def test_driver_side_takes_graphs_up_to_the_edge_cap(spark, monkeypatch):
    """At the session's broadcast threshold, a cut of at most
    ``_DRIVER_MAX_EDGES`` rows (nulls filtered) runs its rounds on the
    driver and a larger one runs the Spark rounds."""
    from medacy_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_MAX_EDGES", 3)
    at_cap = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, None)], "src long, dst long"
    )
    over_cap = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (5, 6)], "src long, dst long"
    )
    assert _side(graph.connected_components(at_cap)) == "driver"
    assert _side(graph.pagerank(at_cap)) == "driver"
    assert _side(graph.connected_components(over_cap)) == "spark"
    assert _side(graph.pagerank(over_cap)) == "spark"


# name: (edge rows, edge schema, weight column, seeds as (rows, schema);
# None seeds the first edge's source)
_PARITY_CASES = {
    "empty": ([], "src long, dst long, w double", "w", None),
    "null_endpoints": (
        [(1, None, 1.0), (None, 2, 1.0), (1, 3, 2.0), (3, 4, None), (3, 1, 1.0)],
        "src long, dst long, w double", "w", None,
    ),
    "self_loop": (
        [(5, 5, 1.0), (5, 6, 3.0), (6, 7, 1.0)], "src long, dst long, w double", "w", None
    ),
    "string_ids": (
        [("b", "a", 1.0), ("é", "z", 2.0), ("Z", "é", 1.0), ("ab", "a", 1.0)],
        "src string, dst string, w double", "w", None,
    ),
    "unweighted": (
        [(i, 0) for i in range(1, 9)] + [(0, 3), (0, 9)], "src long, dst long", None, None
    ),
    # two communities bridged by one edge, personalized on community a
    "two_communities": (
        [(f"a{i}", f"a{(i + 1) % 4}") for i in range(4)]
        + [(f"b{i}", f"b{(i + 1) % 4}") for i in range(4)]
        + [("a0", "b0")],
        "src string, dst string", None, ([("a0",), ("a1",)], "node string"),
    ),
    # bigint seeds against string ids: both sides cast the seeds to the
    # ids' type, so seed 1 is '1' and not '01'
    "mixed_seed_types": (
        [("01", "2"), ("1", "2"), ("2", "10"), ("10", "01")],
        "src string, dst string", None, ([(1,), (7,)], "node bigint"),
    ),
    # a source whose out-weights sum to 0: pagerank raises on both sides
    "zero_weight": (
        [(1, 2, 0.0), (2, 1, 1.0), (2, 3, 1.0)], "src long, dst long, w double", "w", None
    ),
}


def _outcome(run):
    """An operator call's result, or the kind of error it raised."""
    from pyspark.errors import ArithmeticException

    try:
        return run()
    except ArithmeticException:
        return "ArithmeticException"
    except ValueError as exc:
        return f"ValueError: {exc}"


@pytest.mark.parametrize("case", sorted(_PARITY_CASES))
def test_driver_and_spark_rounds_agree(spark, graph_sides, case):
    """The two sides of graph._driver_side give the same rows and stats:
    connected_components exactly, pagerank (uniform and seeded) up to
    float summation order; seeds that miss the graph and zero
    out-weights raise the same error on both."""
    from medacy_spark.operators.graph import pagerank

    rows, schema, weight, seed_spec = _PARITY_CASES[case]
    df = spark.createDataFrame(rows, schema)
    id_type = df.schema["src"].dataType.simpleString()
    seeds = spark.createDataFrame(
        *(seed_spec or ([(r[0],) for r in rows[:1]], f"node {id_type}"))
    )
    missing = spark.createDataFrame(
        [(None,), ("zz" if id_type == "string" else 999,)], f"node {id_type}"
    )
    results = {}
    for side in graph_sides:
        cc_stats, pr_stats = {}, {}
        outs = [
            _outcome(lambda: connected_components(df, stats=cc_stats)),
            _outcome(lambda: pagerank(df, weight=weight, iterations=4, stats=pr_stats)),
        ]
        if rows:
            outs.append(_outcome(
                lambda: pagerank(df, weight=weight, iterations=4, seeds=seeds)
            ))
            outs.append(_outcome(lambda: pagerank(df, weight=weight, seeds=missing)))
            assert outs[-1] == "ValueError: pagerank: no seed node appears in the graph"
        assert {_side(o) for o in outs if not isinstance(o, str)} == {side}
        pr_stats.pop("last_iter_plan", None)
        results[side] = (
            [o if isinstance(o, str) else sorted(map(tuple, o.collect())) for o in outs],
            cc_stats, pr_stats,
        )
    (d_rows, *d_stats), (s_rows, *s_stats) = results["driver"], results["spark"]
    assert d_stats == s_stats
    assert d_rows[0] == s_rows[0]
    for d_ranks, s_ranks in zip(d_rows[1:], s_rows[1:]):
        if isinstance(d_ranks, str) or isinstance(s_ranks, str):
            assert d_ranks == s_ranks
            continue
        assert [n for n, _ in d_ranks] == [n for n, _ in s_ranks]
        for (_, d), (_, s) in zip(d_ranks, s_ranks):
            assert abs(d - s) < 1e-15, (case, d, s)
    if case == "zero_weight":
        # the seeds that miss the graph are counted before any division
        assert d_rows[1:3] == ["ArithmeticException"] * 2
    if case == "mixed_seed_types":
        # '1' has no in-edges: it keeps the whole teleport mass, 1 - d,
        # only if '01' did not match seed 1
        assert dict(d_rows[2])["1"] == pytest.approx(0.15)


# ---------------------------------------------------------- triangle_counts


def test_triangle_counts_k4_and_path(spark):
    from medacy_spark.operators.graph import triangle_counts

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    got = {
        r["node"]: r["triangles"]
        for r in triangle_counts(
            spark.createDataFrame(k4, "src long, dst long")
        ).collect()
    }
    # K4: 4 triangles, each node on 3 of them
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(path).count() == 0


def test_triangle_counts_matches_bruteforce(spark):
    """Hash-random graph vs itertools brute force; also exercises
    duplicate edges, reversed duplicates, and self-loops (all ignored)."""
    from itertools import combinations

    from medacy_spark.operators.graph import triangle_counts

    n = 40
    edges = set()
    x = 1469598103934665603
    for i in range(200):
        x = (x ^ i) * 1099511628211 % (1 << 64)
        a, b = x % n, (x >> 17) % n
        if a != b:
            edges.add((min(a, b), max(a, b)))
    rows = [(a, b) for a, b in edges]
    # noise the input: reversed dups and a self-loop must not change counts
    rows += [(b, a) for a, b in list(edges)[:20]] + [(5, 5)]
    adj = {v: set() for v in range(n)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for a, b, c in combinations(range(n), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for v in (a, b, c):
                want[v] = want.get(v, 0) + 1
    got = {
        r["node"]: r["triangles"]
        for r in triangle_counts(
            spark.createDataFrame(rows, "src long, dst long")
        ).collect()
    }
    assert got == want


def test_triangle_counts_hub_no_fanout(spark):
    """Star + one chord: exactly one triangle; the hub's edges orient
    INTO it (degree orientation), so the wedge relation stays O(m) even
    though the hub's undirected degree is n-1."""
    from pyspark.sql import functions as F

    from medacy_spark.operators.graph import triangle_counts

    star = [(0, i) for i in range(1, 50)] + [(1, 2)]
    df = spark.createDataFrame(star, "src long, dst long")
    stats = {}
    got = {
        r["node"]: r["triangles"]
        for r in triangle_counts(df, stats=stats).collect()
    }
    assert got == {0: 1, 1: 1, 2: 1}
    assert "CartesianProduct" not in stats["plan"]


# ------------------------------------------------------ canonicalization

_SURFACES = ["Aspirin", "ASPIRIN", "aspirin", "ASA", "asa", "Tylenol", "warfarin"]
_OTHER = ["5 mg", "Oral", "daily"]


def _kg_via_cc(links, triples):
    """Nodes/edges of materialize_nodes_edges recomputed on the driver from
    the iterative connected_components labels over the same_as edges."""
    from medacy_spark.operators.graph import same_as_edges

    comp = connected_components(same_as_edges(links)).collect()
    canon = {r["node"][2:]: r["component"] for r in comp if r["node"].startswith("t:")}
    edges, names = {}, {}
    for _, pred, subj, obj in triples:
        s_id = canon.get(subj.lower(), "t:" + subj.lower())
        o_id = canon.get(obj.lower(), "t:" + obj.lower())
        edges[(s_id, pred, o_id)] = edges.get((s_id, pred, o_id), 0) + 1
        names.setdefault(s_id, set()).add(subj.lower())
        names.setdefault(o_id, set()).add(obj.lower())
    return {k: sorted(v) for k, v in names.items()}, edges


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(_SURFACES + [None]),
            st.sampled_from(["C1", "C2", "C3", None]),
        ),
        max_size=10,
    ),
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.sampled_from(["has_dosage", "has_route"]),
            st.sampled_from(_SURFACES),
            st.sampled_from(_SURFACES + _OTHER),
        ),
        min_size=1,
        max_size=8,
    ),
)
@example(  # every surface on one CUI: closed form, case variants collapse
    [(0, "Aspirin", "C1"), (1, "ASA", "C1"), (1, "asa", "C1"), (2, "warfarin", None)],
    [(0, "has_dosage", "ASPIRIN", "5 mg"), (1, "has_route", "asa", "Oral")],
)
@example(  # 'asa' bridges C1 and C2: connected_components fallback
    [(0, "Aspirin", "C1"), (1, "ASA", "C2"), (2, "asa", "C1"), (3, "Tylenol", "C2")],
    [(0, "has_dosage", "Tylenol", "5 mg"), (1, "has_route", "aspirin", "warfarin")],
)
def test_closed_form_canonicalization_matches_cc(spark, links, triples):
    """materialize_nodes_edges skips connected_components when no surface
    links to two CUIs; either way its tables equal the CC-label answer."""
    from unittest import mock

    from medacy_spark.operators import graph

    links_df = spark.createDataFrame(links, "doc_id long, text string, cui string")
    tri_df = spark.createDataFrame(
        [(d, p, (s,), (o,)) for d, p, s, o in triples],
        "doc_id long, pred string, subj struct<text:string>, obj struct<text:string>",
    )
    want_nodes, want_edges = _kg_via_cc(links_df, triples)
    cuis = {}
    for _, text, cui in links:
        if text is not None and cui is not None:
            cuis.setdefault(text.lower(), set()).add(cui)
    bridging = any(len(c) > 1 for c in cuis.values())

    with mock.patch.object(
        graph, "connected_components", wraps=graph.connected_components
    ) as cc:
        nodes, edges = graph.materialize_nodes_edges(links_df, tri_df)
        got_edges = {(r["src_id"], r["pred"], r["dst_id"]): r["weight"] for r in edges.collect()}
        got_nodes = {r["canonical_id"]: list(r["names"]) for r in nodes.collect()}
    assert got_edges == want_edges
    assert got_nodes == want_nodes
    assert cc.called == bridging

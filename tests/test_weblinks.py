"""Hyperlink extraction + host graph (operators/weblinks.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from medacy_spark.operators.weblinks import (
    anchor_alias_table,
    canonical_url,
    extract_anchor_texts,
    url_variants,
    extract_links,
    host_link_graph,
    host_pagerank,
)


def _pages(spark, rows):
    return spark.createDataFrame(rows, ["url", "html"])


def test_resolution_forms(spark):
    html = (
        '<a href="https://other.net/a">1</a>'
        '<a href="//cdn.net/lib.js">2</a>'
        '<a class="nav" id="n" href="/about">3</a>'
        '<a href="docs/intro">4</a>'
        '<a href="https://x.net/p#sec">5</a>'
    )
    rows = extract_links(
        _pages(spark, [("https://www.site.com/page/1", html)])
    ).orderBy("href").collect()
    got = {r["href"]: (r["link_url"], r["dst_host"]) for r in rows}
    assert got == {
        "https://other.net/a": ("https://other.net/a", "other.net"),
        "//cdn.net/lib.js": ("https://cdn.net/lib.js", "cdn.net"),
        "/about": ("https://www.site.com/about", "www.site.com"),
        "docs/intro": ("https://www.site.com/docs/intro", "www.site.com"),
        "https://x.net/p#sec": ("https://x.net/p", "x.net"),
    }
    assert all(r["src_host"] == "www.site.com" for r in rows)


def test_non_navigational_and_empty(spark):
    html = (
        '<a href="#top">t</a><a href="mailto:a@b.c">m</a>'
        '<a href="javascript:void(0)">j</a><a href="">e</a>'
        "<p>no anchors here</p>"
    )
    assert extract_links(_pages(spark, [("https://h.com/", html)])).count() == 0
    # doc with no anchors at all emits nothing (explode of empty array)
    assert extract_links(_pages(spark, [("https://h.com/", "<p>x</p>")])).count() == 0


def test_host_case_and_scheme_preserved(spark):
    rows = extract_links(
        _pages(spark, [("http://WWW.Site.COM/p", '<a href="/a">x</a>')])
    ).collect()
    assert rows[0]["src_host"] == "www.site.com"
    # resolution uses the page's own scheme, not a hardcoded https
    assert rows[0]["link_url"] == "http://www.site.com/a"


def test_host_link_graph_rollup(spark):
    pages = _pages(
        spark,
        [
            ("https://a.com/1", '<a href="https://b.com/x">1</a><a href="https://b.com/y">2</a>'),
            ("https://a.com/2", '<a href="https://b.com/x">3</a><a href="/self">4</a>'),
            ("https://b.com/1", '<a href="https://a.com/z">5</a>'),
        ],
    )
    g = {
        (r["src_host"], r["dst_host"]): (r["n_links"], r["n_src_pages"], r["is_internal"])
        for r in host_link_graph(extract_links(pages)).collect()
    }
    assert g == {
        ("a.com", "b.com"): (3, 2, False),
        ("a.com", "a.com"): (1, 1, True),
        ("b.com", "a.com"): (1, 1, False),
    }


def test_host_pagerank_sink_ranks_highest(spark, graph_sides):
    # star: 4 hosts all link to hub.com; hub links back to one
    rows = [
        (f"https://s{i}.com/p", '<a href="https://hub.com/x">h</a>') for i in range(4)
    ] + [("https://hub.com/p", '<a href="https://s0.com/b">b</a>')]
    for side in graph_sides:
        pr = {
            r["node"]: r["pagerank"]
            for r in host_pagerank(extract_links(_pages(spark, rows))).collect()
        }
        assert len(pr) == 5, side
        # the hub↔s0 pair holds the link mass (the graph is near-bipartite
        # so finite power iterations leave it on one side of the 2-cycle —
        # which side depends on the parity of `iterations`, so assert the
        # pair)
        assert set(sorted(pr, key=pr.get)[-2:]) == {"hub.com", "s0.com"}, side
        assert pr["s0.com"] > pr["s1.com"], side  # gets hub's backlink mass
        assert abs(pr["s1.com"] - pr["s3.com"]) < 1e-12, side


def test_extraction_plan_is_shuffle_free(spark):
    pages = _pages(spark, [("https://a.com/1", '<a href="/x">1</a>')])
    plan = extract_links(pages)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anchor_texts_zip_alignment(spark):
    html = (
        '<a href="https://a.com/1">First Page</a>'
        '<a href="#x">skipped</a>'
        '<a class="b" href="/two">  two  </a>'
        '<a href="https://c.com/3"></a>'
    )
    rows = (
        extract_anchor_texts(_pages(spark, [("https://h.com/p", html)]))
        .orderBy("href").collect()
    )
    got = {r["href"]: (r["link_url"], r["anchor"]) for r in rows}
    assert got == {
        "https://a.com/1": ("https://a.com/1", "First Page"),
        "/two": ("https://h.com/two", "two"),
        "https://c.com/3": ("https://c.com/3", ""),
    }


def test_anchor_alias_table_rollup(spark):
    pages = _pages(
        spark,
        [
            ("https://a.com/1", '<a href="https://t.com/e">Apple</a><a href="https://t.com/e">Apple</a>'),
            ("https://b.com/1", '<a href="https://t.com/e">Apple</a><a href="https://t.com/e">apple inc</a>'),
            ("https://b.com/2", '<a href="https://t.com/e"></a>'),
        ],
    )
    t = {
        (r["link_url"], r["anchor"]): (r["n_links"], r["n_src_hosts"])
        for r in anchor_alias_table(extract_anchor_texts(pages)).collect()
    }
    assert t == {
        ("https://t.com/e", "Apple"): (3, 2),
        ("https://t.com/e", "apple inc"): (1, 1),
    }


def test_canonical_url_passes(spark):
    cases = {
        "https://Site.COM:443/a?utm_source=x&id=3#frag": "https://site.com/a?id=3",
        "http://h.com:80/": "http://h.com",
        "https://h.com/p/?utm_campaign=z": "https://h.com/p",
        "https://h.com/p?id=1&utm_medium=m": "https://h.com/p?id=1",
        "https://h.com/p?gclid=abc": "https://h.com/p",
        "HTTPS://H.com/Path": "https://h.com/Path",  # path case preserved
        "https://h.com:8443/x": "https://h.com:8443/x",  # non-default port kept
    }
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = dict(
        df.select("url", canonical_url(F.col("url")).alias("c")).collect()
    )
    assert got == cases


def test_url_variants_groups(spark):
    urls = [
        "https://a.com/p",
        "https://A.com/p#x",
        "https://a.com:443/p",
        "https://a.com/p",
        "https://b.com/q?utm_source=s",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = {
        r["canonical_url"]: (r["n_urls"], r["n_distinct_raw"])
        for r in url_variants(df).collect()
    }
    assert got == {"https://a.com/p": (4, 3), "https://b.com/q": (1, 1)}


def test_random_walks_semantics(spark):
    from medacy_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")], ["src", "dst"]
    )
    w = random_walks(edges, n_walks=2, walk_len=3)
    rows = {(r["start"], r["walk_id"], r["step"]): r["node"] for r in w.collect()}
    # step 0 is the start itself, for every (start, walk)
    starts = {"a", "b", "c"}  # d has no out-edges → no walks start there
    assert {k[0] for k in rows} == starts
    for s in starts:
        for k in (0, 1):
            assert rows[(s, k, 0)] == s
    # every step follows a real edge
    e = {("a", "b"), ("b", "c"), ("c", "a"), ("b", "d")}
    for (s, k, t), n in rows.items():
        if t > 0:
            assert (rows[(s, k, t - 1)], n) in e
    # dead end truncates: a walk reaching d has no further steps
    for (s, k, t), n in rows.items():
        if n == "d":
            assert (s, k, t + 1) not in rows
    # deterministic across reruns
    w2 = {(r["start"], r["walk_id"], r["step"]): r["node"]
          for r in random_walks(edges, n_walks=2, walk_len=3).collect()}
    assert w2 == rows


def test_random_walks_feed_cooccurrence(spark):
    # DeepWalk composition: walks are sentences for the word2vec pipeline
    from medacy_spark.operators.embeddings_train import cooccurrence_pairs
    from medacy_spark.operators.graph import random_walks

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i + 1) % 6}") for i in range(6)]
        + [(f"n{i}", f"n{(i + 2) % 6}") for i in range(6)],
        ["src", "dst"],
    )
    w = random_walks(edges, n_walks=4, walk_len=8)
    toks = w.select(
        F.concat_ws("|", "start", F.col("walk_id").cast("string")).alias("doc_id"),
        F.col("step").alias("pos"),
        F.col("node").alias("word"),
    )
    pairs = cooccurrence_pairs(toks, window=2, id_cols=("doc_id",), order_col="pos")
    got = {(r["word"], r["ctx"]): r["n"] for r in pairs.collect()}
    assert got  # non-empty co-occurrence table
    # ring structure: co-occurring nodes are graph-close (within 4 hops)
    def d(a, b):
        i, j = int(a[1:]), int(b[1:])
        return min((i - j) % 6, (j - i) % 6)
    assert all(d(a, b) <= 4 for (a, b) in got)


def test_canonical_url_idempotent(spark):
    # canonicalization is a projection: applying it twice changes nothing
    import itertools

    parts = itertools.product(
        ["https://Site.COM", "http://h.com:80", "https://h.com:443"],
        ["", "/p", "/p/"],
        ["", "?id=1", "?utm_source=x", "?id=1&utm_medium=m&z=2", "?utm_campaign=x&gclid=g"],
        ["", "#frag"],
    )
    urls = ["".join(p) for p in parts]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [
        (r["c"], r["c2"])
        for r in df.select(
            canonical_url(F.col("url")).alias("c"),
            canonical_url(canonical_url(F.col("url"))).alias("c2"),
        ).collect()
    ]
    assert all(a == b for a, b in got), [x for x in got if x[0] != x[1]]


def test_personalized_pagerank(spark, graph_sides):
    import pytest

    from medacy_spark.operators.graph import pagerank

    # two communities bridged by one edge; personalize on community A
    edges = (
        [(f"a{i}", f"a{(i + 1) % 4}") for i in range(4)]
        + [(f"b{i}", f"b{(i + 1) % 4}") for i in range(4)]
        + [("a0", "b0")]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([("a0",), ("a1",)], ["node"])
    for side in graph_sides:
        pr = {r["node"]: r["pagerank"] for r in pagerank(e, seeds=seeds).collect()}
        # mass concentrates in the seed community (the a0→b0 bridge leaks
        # half of a0's out-mass every round, so the split is ~60/40, not
        # extreme — assert the direction plus per-node dominance)
        a_mass = sum(v for k, v in pr.items() if k.startswith("a"))
        b_mass = sum(v for k, v in pr.items() if k.startswith("b"))
        assert a_mass > 1.4 * b_mass, side
        assert pr["a0"] > pr["b2"], side  # non-seed far nodes get no teleport floor
        assert min(pr[f"a{i}"] for i in range(4)) > 0, side
        with pytest.raises(ValueError):
            pagerank(e, seeds=spark.createDataFrame([("zz",)], ["node"]))

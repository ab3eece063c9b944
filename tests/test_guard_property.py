"""Property tests for the hot-bucket star guard.

The guard's load-bearing invariant is PROVABLE and therefore
property-testable: within any band bucket, a star on the member set has
exactly the same connectivity as the clique (every member reaches every
other through the hub), so connected components over guarded candidate
edges must equal components over unguarded edges for EVERY corpus and
EVERY cap — not just the planted megacluster fixture. Hypothesis
generates clustered corpora and tiny caps to force the star path
constantly; a driver-side union-find over both edge sets checks the
partitions match.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def _components(pairs, ids):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return frozenset(
        frozenset(i for i in ids if find(i) == r)
        for r in {find(i) for i in ids}
    )


# word pools per cluster: docs inside a cluster share a base text and
# differ by one trailing token -> high minhash collision inside the
# cluster, none across clusters
@settings(max_examples=8, deadline=None)
@given(
    cluster_sizes=st.lists(st.integers(min_value=1, max_value=7), min_size=1, max_size=4),
    cap=st.integers(min_value=1, max_value=5),
)
def test_star_guard_preserves_connectivity(spark, cluster_sizes, cap):
    from medacy_spark.operators.dedup import minhash_lsh_candidates

    rows = []
    did = 0
    for c, size in enumerate(cluster_sizes):
        base = " ".join(f"c{c}w{j}" for j in range(12))
        for m in range(size):
            rows.append((did, f"{base} tail{c}_{m}"))
            did += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ids = [r[0] for r in rows]

    def pairs(max_bucket_size):
        return {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(
                df, max_bucket_size=max_bucket_size
            ).collect()
        }

    unguarded = pairs(None)
    guarded = pairs(cap)
    # per-bucket star vs clique: identical connectivity, provably
    assert _components(guarded, ids) == _components(unguarded, ids)
    # and the guard never invents cross-bucket pairs
    assert guarded <= unguarded | {
        (min(a, b), max(a, b)) for a in ids for b in ids if a != b
    }

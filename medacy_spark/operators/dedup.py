"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (its only dedup is per-doc EntTuple set-union,
annotations.py:250-264) — these are the corpus-level operators a 100 TB
web-text pipeline needs. All are shuffle-structured for scale:

  * exact_duplicates       — hash-groupBy on a fingerprint column; the
                             grouping key is xxhash64(text) so the shuffle
                             moves 8-byte keys, not documents.
  * minhash_lsh_candidates — shingle → minhash signature → band buckets →
                             self-join within buckets. The self-join is
                             equi on (band, bucket-hash): candidate pairs
                             only, never the full cross product.
  * simhash64              — 64-bit simhash per doc; near-dups share all
                             but a few bits; banding on 4×16-bit chunks.
  * ngram_jaccard_pairs    — exact Jaccard on shingle sets via
                             explode + equi-join + count ratio (the
                             verifier for the sketch-based paths).
  * embedding_near_dups    — cosine-threshold pairs over an embedding
                             column (delegates to similarity.py).

Everything is JVM-side: xxhash64, transform(), aggregate() — no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime field for the minhash permutation family. 31-bit keeps
# a*h+b comfortably inside a long under ANSI overflow checking.
_MH_PRIME = 2147483647  # 2^31 - 1


def perm_hash(s: Column, i: int, base_hash: str) -> Column:
    """Permutation-i hash of a shingle, reduced into the 31-bit field:
    an INDEPENDENT string hash per permutation (the shingle salted with
    the permutation index), not a linear transform of one shared hash.

    Why not the cheaper linear family (hash once, then a_i*h + b_i mod
    p)? Measured, twice, at the 1M-doc corpus of tools/dedup_scale.py
    (deleted; last at a3140ec):

      * a = 2i+1 (tiny multipliers) nearly preserves base-hash ORDER, so
        two docs sharing one low-hash shingle agreed on many permutation
        mins at once — 162 false candidate pairs, several colliding in
        ALL 8 bands, every one rejected by exact Jaccard;
      * full-field multiplicative-prime multipliers fixed the false
        positives but still let 3 of 5000 planted J≈0.97 megacluster
        members escape with ZERO candidate edges — P ≈ 4e-10 per doc
        under min-wise independence, i.e. the linear lattice correlation
        cuts recall four orders of magnitude below theory.

    Per-permutation string hashing is exactly min-wise independent
    across permutations by construction. Cost: num_hashes hash calls per
    shingle instead of one + num_hashes mul-mods — vectorized JVM
    intrinsics, <1 s across 32 threads at the 100k-doc benchmark.
    'md5' mode salts the string (shingle || '|i') so DuckDB reproduces
    the arithmetic exactly; contract._minhash_sql builds its SQL from
    the same formula, so the engines can never drift."""
    if base_hash == "md5":
        h = F.conv(
            F.substring(F.md5(F.concat(s, F.lit(f"|{i}"))), 1, 15), 16, 10
        ).cast("long")
    elif base_hash == "xxhash64":
        h = F.xxhash64(s, F.lit(i))
    else:
        raise ValueError(f"base_hash must be xxhash64|md5, got {base_hash!r}")
    return F.pmod(h, F.lit(_MH_PRIME))

# Default hot-bucket cap for the sketch band self-joins: a band bucket
# with more members than this switches from all-pairs to star topology
# (see _capped_band_pairs). Deliberately far above any correctness-gate
# corpus (sf0.01 has 500 docs, sf0.1 has 5,000 — a bucket can never
# exceed the doc count, so the guard is a no-op at oracle scales and the
# md5-mode hashes are unchanged).
DEFAULT_MAX_BUCKET_SIZE = 1000


def _capped_band_pairs(
    banded: DataFrame,
    keys: list[str],
    id_col: str,
    carry: list[str],
    max_bucket_size: int | None,
    what: str,
) -> DataFrame:
    """Band-bucket self-join with a hot-bucket guard — shared by the
    minhash and simhash candidate generators.

    ``banded`` is one row per (member id, band key); ``keys`` are the
    equi-join bucket columns; ``carry`` are per-member payload columns
    (e.g. the simhash value) emitted as ``<c>_a``/``<c>_b``.

    The all-pairs bucket join is O(k²) in bucket membership: one
    near-identical megacluster (mirror boilerplate that survives exact
    dedup by one differing token) collides in EVERY band and would emit
    ~k²·bands/2 candidate rows from a single bucket — the first thing
    that dies at 100 TB. Buckets with more than ``max_bucket_size``
    members therefore switch to STAR topology: every member pairs with
    the bucket's minimum id only. That is O(k) edges, and downstream
    connected components (dedup_corpus) still merges the entire cluster
    through the shared hub, so survivors stay correct — unlike dropping
    or sampling the bucket, which silently un-dedups it. Precision is
    unchanged in kind: star edges are sketch *candidates* like any
    others, filtered by min_bands and/or exact-Jaccard verification.

    Detection rides the join's own shuffle (r5 verdict #1): ONE window
    pass over the banded relation computes every bucket's membership
    count and hub (min member) on the same (band-keys) exchange the
    self-join needs anyway, and the windowed relation is
    localCheckpointed so (a) the expensive signature lineage runs exactly
    once and (b) both self-join sides read the checkpoint WITH its hash
    partitioning and sort order preserved — the join plans ZERO
    additional exchanges. The previous shape (a separate count
    aggregation job before the join) cost a measured 33% at the 100k-doc
    dedup benchmark (tools/guard_ab.py, last at a3140ec); this shape is
    at parity with the unguarded plan. Hot switches are still logged
    eagerly — never silent — via one cheap scan of the
    already-materialized checkpoint.
    """
    import logging

    from pyspark.sql import Window

    pa = [F.col(c).alias(f"{c}_a") for c in carry]
    pb = [F.col(c).alias(f"{c}_b") for c in carry]

    def _all_pairs(rel: DataFrame) -> DataFrame:
        a = rel.select(F.col(id_col).alias("id_a"), *pa, *keys)
        b = rel.select(F.col(id_col).alias("id_b"), *pb, *keys)
        return (
            a.join(b, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", *[f"{c}_a" for c in carry],
                    *[f"{c}_b" for c in carry],
                    F.lit(False).alias("_star"))
        )

    if max_bucket_size is None:
        return _all_pairs(banded)
    w = Window.partitionBy(*keys)
    plain = [F.col(id_col), *[F.col(c) for c in carry], *[F.col(k) for k in keys]]
    marked = banded.select(
        *plain,
        F.count("*").over(w).alias("_n"),
        F.min(F.struct(F.col(id_col), *carry)).over(w).alias("_hub"),
    ).localCheckpoint(eager=False)
    # eager hot-bucket count (ids are unique within a bucket, so
    # id == hub-id picks exactly one row per bucket): the heavy work —
    # shuffle, window, checkpoint write — is shared with the main job,
    # so this job's marginal cost is one checkpoint scan. It buys the
    # never-silent log line and the exact unguarded join plan when
    # nothing is hot.
    n_hot = marked.filter(
        (F.col("_n") > max_bucket_size)
        & (F.col(id_col) == F.col(f"_hub.{id_col}"))
    ).count()
    if not n_hot:
        return _all_pairs(marked.select(*plain))
    logging.getLogger(__name__).warning(
        "%s: %d band buckets exceed %d members — switching them from "
        "all-pairs to star topology (members pair with the bucket min; "
        "connected components still merges the full cluster)",
        what, n_hot, max_bucket_size,
    )
    cold = marked.filter(F.col("_n") <= max_bucket_size).select(*plain)
    star = (
        marked.filter(
            (F.col("_n") > max_bucket_size)
            & (F.col(id_col) != F.col(f"_hub.{id_col}"))
        )
        .select(
            F.col(f"_hub.{id_col}").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"_hub.{c}").alias(f"{c}_a") for c in carry],
            *pb,
            F.lit(True).alias("_star"),
        )
    )
    # both branches read the ONE materialized checkpoint — no
    # uncached-lineage union
    return _all_pairs(cold).unionByName(star)


def _base_hash(s: Column, base_hash: str) -> Column:
    """Shingle base hash. 'xxhash64' (default) is the production hot path
    — native, 64-bit, JVM-only. 'md5' derives a 60-bit integer from the
    first 15 hex chars; both Spark and DuckDB compute it identically, so
    the sketch becomes oracle-checkable end to end (same topology, same
    arithmetic, portable hash)."""
    if base_hash == "md5":
        return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    if base_hash == "xxhash64":
        return F.xxhash64(s)
    raise ValueError(f"base_hash must be xxhash64|md5, got {base_hash!r}")


def exact_duplicates(
    df: DataFrame,
    max_ids: int | None = None,
) -> DataFrame:
    """Groups of byte-identical texts: (fingerprint, n, doc_ids).

    ``max_ids`` caps the per-group id list (smallest ids kept; ``n`` stays
    the true count) — at web scale a pathological mega-group (e.g. the
    empty page) would otherwise overflow a single row with collect_list.
    """
    ids = F.sort_array(F.collect_list("doc_id"))
    if max_ids is not None:
        ids = F.slice(ids, 1, max_ids)
    return (
        df.select(F.xxhash64("text").alias("fp"), F.col("doc_id"))
        .groupBy("fp")
        .agg(F.count("*").alias("n"), ids.alias("doc_ids"))
        .filter(F.col("n") > 1)
    )


def word_shingles_arr(words: Column, n: int = 3) -> Column:
    """Array of n-word shingles (space-joined) from a token-ARRAY column.

    ``words`` must be a bound column (not an inlined split(...)
    expression): the transform lambda references it once per shingle
    position and Catalyst does not common-subexpression-eliminate across
    lambda scopes, so an inlined split re-tokenizes the text O(len)
    times — measured 2.8× slower on the signature pass at sf0.1
    (BENCH.md "lambda-scope CSE")."""
    k = F.size(words) - (n - 1)
    return F.when(k <= 0, F.array(F.array_join(words, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.array_join(F.slice(words, i + 1, n), " "),
        )
    )


def minhash_signature_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, m0..m{n-1}): minhash signature as flat columns.

    Shape chosen for codegen (same lesson as simhash): explode the
    shingle strings once, then ONE groupBy with num_hashes vectorized
    min aggregates over independent per-permutation hashes (perm_hash) —
    map-side partial aggregation collapses each doc's shingles before
    the exchange, so the shuffle carries one row per doc.
    """
    # hoist the split into its own projection: expression references
    # inside a transform lambda are NOT common-subexpression-eliminated,
    # so an inlined split(text) re-evaluates per shingle position —
    # measured 2.05 s → 0.73 s for the signature pass at sf0.1 (BENCH.md)
    sh = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
    ).select(
        "id", F.explode(word_shingles_arr(F.col("_toks"), shingle_n)).alias("s")
    )
    aggs = [
        F.min(perm_hash(F.col("s"), i, base_hash)).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def _band_bucket_cols(rows: int, bands: int, base_hash: str) -> list[Column]:
    """One bucket-key column per band over signature columns m0..m{n-1}.
    md5 mode keeps the raw signature concat string (DuckDB-joinable);
    production mode compresses it to an xxhash64 of the concat."""
    def _bucket(cols):
        joined = F.concat_ws(",", *cols)
        return joined if base_hash == "md5" else F.xxhash64(joined).cast("string")
    return [
        _bucket([F.col(f"m{b * rows + r}") for r in range(rows)]).alias(f"bb{b}")
        for b in range(bands)
    ]


def band_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, band, bucket) — the banded minhash relation as a first-class
    output: the ADDITIVE state of incremental dedup. A new batch
    candidate-joins against the stored band rows, and its survivors'
    rows append (dedup_batch_against_state). Same
    arithmetic as minhash_lsh_candidates' internal banding — both build
    their bucket keys from _band_bucket_cols, so a stored state and a
    fresh sketch can never drift."""
    rows = num_hashes // bands
    sig = minhash_signature_table(
        df, text_col, id_col, num_hashes, shingle_n, base_hash
    )
    return sig.select(
        "id",
        F.posexplode(
            F.array(*_band_bucket_cols(rows, bands, base_hash))
        ).alias("band", "bucket"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    base_hash: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    mark_hot: bool = False,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded minhash LSH.

    rows_per_band = num_hashes / bands; two docs collide if any band of
    their signatures is identical. Output: (id_a, id_b, n_bands) with the
    number of colliding bands (a cheap similarity proxy).

    base_hash='md5' makes the whole sketch engine-portable (see
    _base_hash): band keys then stay as the raw signature concat string
    instead of an xxhash64 of it, so DuckDB joins on identical keys —
    same candidate topology, verifiable arithmetic.

    ``max_bucket_size`` is the web-scale hot-bucket guard: buckets with
    more members switch from all-pairs to star topology (see
    _capped_band_pairs — O(k) edges, logged, cluster still merges in
    dedup_corpus). The guard's windowed banded relation is
    localCheckpointed, which also cuts the signature lineage: OSS Spark
    does not reuse the exchange between the two branches of a self-join,
    so without a cut the shingle scan + signature aggregation, the
    dominant cost at corpus scale, runs TWICE. ``None`` forces the
    uncut all-pairs join (the exact reference the tests compare). For
    a star edge n_bands counts the bands where the pair met through the
    hub, a lower bound on the true collision count — and a direct edge
    between two non-hub hot-bucket members loses its hot-band counts
    entirely, so a plain ``n_bands >= k`` filter can drop pairs the
    unguarded join would have kept. ``mark_hot=True`` therefore adds an
    ``n_hot_bands`` column (star rows per pair) so callers can exempt
    hub edges from the min-band filter the way dedup_corpus does; the
    default keeps the classic (id_a, id_b, n_bands) schema.
    """
    rows = num_hashes // bands
    sig = minhash_signature_table(df, text_col, id_col, num_hashes, shingle_n, base_hash)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(*_band_bucket_cols(rows, bands, base_hash))
        ).alias("band", "bucket"),
    )
    pairs = _capped_band_pairs(
        banded, ["band", "bucket"], "id", [], max_bucket_size,
        "minhash_lsh_candidates",
    )
    aggs = [F.count("*").alias("n_bands")]
    if mark_hot:
        aggs.append(F.sum(F.col("_star").cast("int")).alias("n_hot_bands"))
    return pairs.groupBy("id_a", "id_b").agg(*aggs)


def simhash_bits(base_hash: str) -> int:
    """Signature width: 64 for the native hash, 60 for the md5-derived
    portable hash (15 hex chars)."""
    return 64 if base_hash == "xxhash64" else 60


def simhash64_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """(id, sh): SimHash per doc — bit j is 1 iff more than half the
    shingle hashes have bit j set (64-bit native; 60-bit in md5 mode,
    where every bit arithmetic stays in non-negative long range so DuckDB
    reproduces it exactly).

    Shape chosen for codegen: explode shingle hashes, then ONE groupBy with
    one vectorized conditional sum per bit (whole-stage codegen handles wide
    aggregate lists well; a 64-way array `aggregate` expression does not).
    The explode+groupBy shuffle is per-doc local in practice (map-side
    partial aggregation collapses each doc's shingles before the exchange).
    """
    n_bits = simhash_bits(base_hash)
    h = df.select(
        F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("_toks")
    ).select(
        "id",
        F.explode(
            F.transform(
                word_shingles_arr(F.col("_toks"), 2),
                lambda s: _base_hash(s, base_hash),
            )
        ).alias("h"),
    )
    aggs = [F.count("*").alias("n")]
    for j in range(n_bits):
        mask = F.lit(1 << j) if j < 63 else F.lit(-(2**63))
        aggs.append(
            F.sum(F.when(F.col("h").bitwiseAND(mask) != 0, 1).otherwise(0)).alias(f"b{j}")
        )
    votes = h.groupBy("id").agg(*aggs)
    sh = F.lit(0).cast("long")
    for j in range(n_bits):
        bitval = F.lit(2**j).cast("long") if j < 63 else F.lit(-(2**63))
        sh = sh + F.when(F.col(f"b{j}") * 2 > F.col("n"), bitval).otherwise(F.lit(0).cast("long"))
    return votes.select("id", sh.alias("sh"))


def simhash_candidates(
    df: DataFrame,
    base_hash: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Near-dup candidates: Manku-style block banding over the 64-bit
    simhash (Detecting Near-Duplicates for Web Crawling, WWW'07).
    ``max_bucket_size`` is the hot-bucket guard (_capped_band_pairs):
    over-full key buckets — a near-identical megacluster collides in
    every combination family — emit star edges to the bucket min instead
    of all pairs; default on, logged, no-op at oracle/bench scales. Its
    checkpoint also cuts the bit-vote lineage, which the band self-join
    would otherwise recompute once per side.
    ``hamming`` is always EXACT (recomputed from the carried signatures),
    but for a star edge it measures member↔hub distance.

    The bits split into 6 nearly-equal blocks; a pair within Hamming
    distance 3 flips bits in at most 3 blocks, so at least one
    combination of 3 blocks is identical on both sides — keys are all
    C(6, 3) = 20 such combinations, of ~32 exact-match bits each, i.e.
    ~2^32 buckets per family — bucket occupancy keeps shrinking as the
    corpus grows, unlike the round-1 4×16-bit banding whose 65,536
    buckets per chunk went quadratic past ~10^9 docs. Cost: 20 keys per
    doc instead of 4.
    """
    from itertools import combinations

    s = simhash64_table(df, "text", "doc_id", base_hash=base_hash)
    n_bits = simhash_bits(base_hash)
    sizes = [n_bits // 6 + (1 if i < n_bits % 6 else 0) for i in range(6)]
    offsets = [sum(sizes[:i]) for i in range(6)]
    block = [
        F.shiftrightunsigned("sh", offsets[i]).bitwiseAND(F.lit((1 << sizes[i]) - 1))
        for i in range(6)
    ]
    combos = list(combinations(range(6), 3))

    def _key(combo):
        joined = F.concat_ws(",", *[block[i].cast("string") for i in combo])
        return joined if base_hash == "md5" else F.xxhash64(joined).cast("string")

    keys = [_key(combo) for combo in combos]
    banded = s.select(
        "id", "sh", F.posexplode(F.array(*keys)).alias("combo_no", "key")
    )
    pairs = _capped_band_pairs(
        banded, ["combo_no", "key"], "id", ["sh"], max_bucket_size,
        "simhash_candidates",
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    pairs = pairs.drop("_star").distinct()
    return pairs.select("id_a", "id_b", hamming.alias("hamming"))


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    min_bands: int = 2,
    base_hash: str = "xxhash64",
    shingle_n: int = 3,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Corpus-level near-duplicate removal: minhash-LSH candidate pairs →
    connected components over the near-dup graph → keep the minimum id of
    each duplicate cluster. Returns the surviving rows of ``df``.

    This is the standard web-corpus dedup topology (candidate generation
    never materializes the cross product; the CC graph is tiny relative to
    the corpus). min_bands tunes precision of the candidate edges.

    Hot-bucket interaction: edges that met through a hot bucket
    (n_hot_bands > 0) are EXEMPT from the min_bands filter — star
    topology undercounts n_bands for hot pairs (a direct edge between
    two non-hub members loses its hot-band collisions entirely), so
    filtering them by band count would silently un-dedup exactly the
    megacluster the guard exists for. A >max_bucket_size bucket is
    itself a strong near-dup signal.
    """
    from medacy_spark.operators.graph import connected_components

    pairs = minhash_lsh_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_n=shingle_n,
        base_hash=base_hash, max_bucket_size=max_bucket_size, mark_hot=True,
    ).filter((F.col("n_bands") >= min_bands) | (F.col("n_hot_bands") > 0))
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    victims = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(victims, id_col, "left_anti")


def dedup_batch_against_state(
    batch: DataFrame,
    state: DataFrame,
    min_bands: int = 2,
    base_hash: str = "xxhash64",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> tuple[DataFrame, DataFrame]:
    """One ingest step of INCREMENTAL near-dup removal: dedup a new batch
    against the already-accepted corpus WITHOUT recomputing anything over
    it — the stored band rows (``state``: band_table output, one (id,
    band, bucket) row per accepted doc per band) are the corpus's entire
    dedup identity.

    A batch doc is rejected iff it shares >= ``min_bands`` band buckets
    with a single accepted doc (the per-pair rule dedup_corpus applies),
    or collides with a HOT state bucket (> ``max_bucket_size`` members —
    megacluster boilerplate; membership alone is the dup signal,
    mirroring dedup_corpus's hot-bucket exemption). The remaining docs
    are batch-deduped with dedup_corpus's exact arithmetic (same pair
    filter, same min-id components) over the same band relation.
    Returns ``(survivors, survivor_band_rows)`` — append the latter to
    the state.

    Survivor sets are order-dependent BY DESIGN — every incremental dedup
    is (first writer wins). The pinned properties instead (gated in
    test_dedup_similarity and the incremental_dedup oracle): (a) against
    an empty state this IS exactly dedup_corpus(batch); (b) accepted docs
    are pairwise non-near-dup across ALL batches, because the state only
    ever holds survivors; (c) an identical batch sequence yields
    identical survivors.

    Scale shape: the state join is equi on (band, bucket); the join
    itself prunes the state to colliding buckets — no full-corpus scan,
    no signature recompute for accepted docs. The batch's own sketch is
    computed ONCE (the checkpointed band relation feeds the state join,
    the intra-batch candidate pairs and the survivor state append). The
    hot-bucket window shuffles the PRUNED state rows once per batch; a
    production deployment maintains per-bucket counts incrementally
    instead, same semantics.
    """
    from pyspark.sql import Window

    new_bands = band_table(
        batch, "text", "doc_id", 32, 8, 3, base_hash
    ).localCheckpoint(eager=False)  # consumed by the state join AND the
    # survivor state append — cut once
    # prune the state to the buckets this batch touches BEFORE any
    # per-bucket work: only colliding buckets can matter, and the pruned
    # relation is batch-sized, not corpus-sized — the hot-bucket window
    # below must never shuffle the whole state. A NORMAL micro-batch's
    # bucket set (bands rows per doc) broadcasts, making the prune a
    # map-side semi join with no state shuffle — but availableNow's
    # FIRST batch is the whole backlog, so the hint is counted, not
    # assumed (the graph.py broadcast_max_terms lesson): above the
    # threshold the prune falls back to a shuffle semi join, which is
    # still correct and still batch-bounded on the build side.
    bucket_set = new_bands.select("band", "bucket").distinct()
    if bucket_set.count() <= 4_000_000:
        bucket_set = F.broadcast(bucket_set)
    state = state.join(bucket_set, ["band", "bucket"], "left_semi")
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket")
        marked = state.select(
            "id", "band", "bucket",
            F.count("*").over(w).alias("_n"),
            F.min("id").over(w).alias("_hub"),
        )
        # hot buckets collapse to their hub row: the batch side joins
        # O(1) state rows per hot bucket instead of O(k)
        state_side = marked.filter(
            (F.col("_n") <= max_bucket_size) | (F.col("id") == F.col("_hub"))
        ).select(
            F.col("id").alias("_old"), "band", "bucket",
            (F.col("_n") > max_bucket_size).alias("_hot"),
        )
    else:
        state_side = state.select(
            F.col("id").alias("_old"), "band", "bucket",
            F.lit(False).alias("_hot"),
        )
    hits = (
        new_bands.select(F.col("id").alias("_new"), "band", "bucket")
        .join(state_side, ["band", "bucket"])
        .groupBy("_new", "_old")
        .agg(F.count("*").alias("n_bands"), F.max("_hot").alias("any_hot"))
    )
    dup_ids = hits.filter(
        (F.col("n_bands") >= min_bands) | F.col("any_hot")
    ).select(F.col("_new").alias("doc_id")).distinct()
    # consumed by the fresh-band semi join AND the final anti-join base
    fresh = batch.join(dup_ids, "doc_id", "left_anti").localCheckpoint(eager=False)
    # intra-batch dedup WITHOUT re-sketching: band rows are per-doc, so
    # restricting the ALREADY-CHECKPOINTED batch band relation to fresh
    # ids is arithmetically identical to dedup_corpus's re-sketch of the
    # fresh subset (property (a) still holds exactly) — and the sketch
    # was the other half of the ingest cost. Same min_bands/hot-exempt
    # pair filter and min-id components as dedup_corpus.
    from medacy_spark.operators.graph import connected_components

    fresh_bands = new_bands.join(
        fresh.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )
    pairs = (
        _capped_band_pairs(
            fresh_bands, ["band", "bucket"], "id", [], max_bucket_size,
            "dedup_batch_against_state",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").alias("n_bands"),
            F.sum(F.col("_star").cast("int")).alias("n_hot_bands"),
        )
        .filter((F.col("n_bands") >= min_bands) | (F.col("n_hot_bands") > 0))
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    victims = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    survivors = fresh.join(victims, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )  # both returned frames hang off the survivor set; the caller's
    # two sinks must not recompute it
    new_state = new_bands.join(
        survivors.select(F.col("doc_id").alias("id")), "id", "left_semi"
    )
    return survivors, new_state


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine ≥ t):
    the exact O(n²) cross join, with cosine computed per pair. Each
    side's L2 norm is hoisted to once per row (r8): same fold arithmetic
    as the inline cosine, 3 HOF folds per pair -> 1."""
    from medacy_spark.operators.linking import array_dot, array_norm

    a = embeddings.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                          array_norm(F.col("embedding")).alias("_na"))
    b = embeddings.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                          array_norm(F.col("embedding")).alias("_nb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = F.when(
        (F.col("_na") == 0) | (F.col("_nb") == 0), F.lit(0.0)
    ).otherwise(
        array_dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb"))
    )
    return pairs.select("id_a", "id_b", sim.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


# Default hot-shingle cutoff for the exact-Jaccard join: a shingle shared
# by more docs than this is boilerplate, and its join contribution is df²
# rows — at web scale a single "terms of service" shingle would emit 10¹²
# pairs. Deliberately far above any correctness-gate corpus (sf0.01 has
# 500 docs, so df can never exceed 500 and the guard is a no-op there).
DEFAULT_MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    explode distinct shingles → self-equi-join on shingle → |A∩B| per pair;
    |A∪B| = |A| + |B| - |A∩B|. The shingle join IS the candidate filter:
    disjoint docs never pair.

    ``max_shingle_df`` is the web-scale guard: a shingle appearing in more
    than that many documents ("of the and", boilerplate) pairs everything
    containing it — its join contribution is df² rows. Such hot shingles
    are dropped from the INTERSECTION join (set sizes still count them, so
    the reported jaccard is a lower bound) and the number of dropped
    shingles is logged — never a silent cap. The guard is ON by default
    (DEFAULT_MAX_SHINGLE_DF); pass ``max_shingle_df=None`` to force the
    exact-everywhere computation when the corpus is known boilerplate-free.

    Set sizes use the explode + map-side-combined count: the exchange
    carries one (id, count) row per doc. (An F.size-over-array variant
    that avoids the agg exchange entirely was MEASURED 3× slower at
    sf0.1 — each consumer branch rebuilds the distinct-shingle array,
    which costs more than the tiny combined shuffle it saves.) The
    exploded relation stays uncheckpointed: its lineage is map-only
    (scan + explode), so the self-join's recompute is a second pipelined
    pass, cheaper at scale than materializing a ~3×-text-size shingle
    table the way the sketch signatures (one row per doc) are.
    """
    import logging

    sh = df.select(
        F.col("doc_id").alias("id"), F.split(F.col("text"), " ").alias("_toks")
    ).select(
        "id",
        F.explode(F.array_distinct(word_shingles_arr(F.col("_toks"), n))).alias("shingle"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    if max_shingle_df is not None:
        dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        # checkpoint the (tiny) hot set so the logging count and the
        # anti-join read ONE materialization, not two df scans
        hot = dfreq.filter(F.col("df") > max_shingle_df).localCheckpoint(eager=False)
        n_hot = hot.count()
        if n_hot:
            logging.getLogger(__name__).warning(
                "ngram_jaccard_pairs: dropping %d shingles with df > %d from "
                "the pair join (jaccard becomes a lower bound for affected "
                "pairs)", n_hot, max_shingle_df,
            )
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def duplicate_passages(
    df: DataFrame,
    k: int = 8,
    min_tokens: int = 16,
    base_hash: str = "xxhash64",
    max_gram_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Cross-document duplicate PASSAGE detection (substring-level dedup,
    Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    Better" at k-gram resolution): maximal shared token runs of at least
    ``min_tokens`` tokens between document pairs, even when the documents
    as wholes are nothing alike (syndicated paragraphs, quoted passages,
    license boilerplate).

    Output: one row per maximal shared run —
    ``(id_a, id_b, start_a, start_b, n_tokens)`` with id_a < id_b and
    0-based token offsets.

    Algorithm: positional k-gram hash join + gaps-and-islands.
    Occurrences of the same k-gram hash in two docs align at token
    offsets (pos_a, pos_b); a shared run of length L ≥ k produces exactly
    L−k+1 aligned occurrences on one DIAGONAL (pos_a − pos_b constant)
    with consecutive pos_a — so maximal runs are the islands of
    consecutive pos_a per (pair, diagonal), and their token length is
    island_size + k − 1.

    Scale shape: the positional-gram explode is a narrow map; the join is
    an equi-join on the 8-byte gram hash (never all-pairs — disjoint docs
    never meet); the islands window partitions by (id_a, id_b, diag) —
    per-pair-sized partitions, no SinglePartition. ``max_gram_df`` is the
    boilerplate guard (same contract as ngram_jaccard_pairs): a gram in
    more than that many positions corpus-wide is dropped from the join
    (runs through it split/shorten — detection becomes conservative),
    logged, never silent. base_hash='md5' makes the whole thing
    DuckDB-replayable (see _base_hash).
    """
    import logging

    from pyspark.sql import Window

    from medacy_spark.operators.textstats import word_ngrams

    # materialize the token array in its own projection FIRST: word_ngrams
    # references its tokens argument O(k) times per gram position, and an
    # inlined split(text) expression is re-evaluated at every reference
    # inside the transform lambda (no CSE across lambda scopes) — measured
    # 7.89 s → 0.52 s for the k=8 gram pass at sf0.1 (BENCH.md)
    toked = df.select(
        F.col("doc_id").alias("id"), F.split(F.col("text"), " ").alias("_toks")
    )
    grams = toked.select(
        "id", F.posexplode(word_ngrams(F.col("_toks"), k)).alias("pos", "gram")
    ).select("id", "pos", _base_hash(F.col("gram"), base_hash).alias("gh"))
    if max_gram_df is not None:
        hot = (
            grams.groupBy("gh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_gram_df)
            .localCheckpoint(eager=False)
        )
        n_hot = hot.count()
        if n_hot:
            logging.getLogger(__name__).warning(
                "duplicate_passages: dropping %d gram hashes with df > %d "
                "from the pair join (runs crossing them split or shorten)",
                n_hot, max_gram_df,
            )
        grams = grams.join(F.broadcast(hot.select("gh")), "gh", "left_anti")
    a = grams.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "gh")
    b = grams.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "gh")
    aligned = (
        a.join(b, "gh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", "pos_b", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = (
        aligned.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count("*") + F.lit(k - 1)).alias("n_tokens"),
        )
        .filter(F.col("n_tokens") >= min_tokens)
        .select("id_a", "id_b", "start_a", "start_b", "n_tokens")
    )
    return runs

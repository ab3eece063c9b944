"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster: AQE on
(skew-join splitting + shuffle coalescing), Arrow on (all Python crossings
are vectorized — per-row Python UDFs are banned in this codebase), shuffle
partitions sized to the parallelism rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StructType

# The parallel (throughput) collector with its young generation at a quarter
# of the heap, and HotSpot's tier-4 (C2) compile thresholds at 8x the JDK 17
# defaults (5000/600/15000/40000); get_spark's docstring says why.
DRIVER_JAVA_OPTIONS = (
    "-XX:+UseParallelGC -XX:NewRatio=3"
    " -XX:Tier4InvocationThreshold=40000 -XX:Tier4MinInvocationThreshold=4800"
    " -XX:Tier4CompileThreshold=120000 -XX:Tier4BackEdgeThreshold=320000"
)


def get_spark(
    app_name: str = "medacy_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or 32 (the sandbox allotment).
    ``shuffle_partitions`` defaults to ``max(cores, 8)``: one task per core,
    but never fewer than 8 — measured on this pipeline's sort-heavy window
    stages, 1 task/core beats 2/core by ~40% in local mode (every extra
    partition is an extra in-memory sort; AQE coalesces the small ones
    anyway).

    Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``)
    holds 1000 classes instead of the default 100. One KG batch cycles
    through 126–133 distinct generated classes and a contract-suite pass
    through 457, so a 100-entry LRU evicts each class just before the next
    batch needs it and janino recompiles all of them every batch. The
    setting is static: the cache is JVM-wide and sized when the first
    session generates code, so it holds only if the JVM's first session
    comes from here.

    Tungsten's execution memory comes in 1 MB pages
    (``spark.buffer.pageSize``). Spark's default is nextPow2(execution
    pool / cores / 16): 16 MB on a 3g heap with 4 cores and on a 6g heap
    with 8, 32 MB on 6g with 4. Every sorter, ``BytesToBytesMap`` and
    aggregate hash map allocates one whole page as an on-heap ``long[]``
    on its first insert, even for a task of a dozen rows. At this engine's task
    sizes (KB to a few MB) those pages live for the whole task, outlast
    young collections and are promoted, so they held the old generation's
    peak. 1 MB is the floor of Spark's own formula, not a value tuned to
    the test data: a record larger than a page still gets a page of its
    own size, and the 8192-entry page table still lets a task address
    8 GB. No plan changes. Over ten benchmark pairs (3g heap) a 10k-doc KG
    batch's peak RSS fell 1935 -> 1453 MB and the contract-suite pass's
    1613 -> 1371 MB, lower in every pair, with CPU inside the run-to-run
    spread; the old generation used at exit fell 686 -> 203 MB and
    356 -> 127 MB, and young collections per run fell slightly (full ones
    stay at the five metaspace ones). 2 MB and 4 MB pages (a sweep of
    three or four runs each, not paired) gave about 1495 MB on the KG
    batch, so the gain is in leaving 16 MB, not in the last halving. At 100k docs
    per batch on a 6g heap with 4 cores, where the default is 32 MB
    (``tools/steady_state.py``, six runs per side of five batches after a
    10k-doc warm-up), full collections per batch fell 0.97 -> 0.47, the
    old generation used after the last batch 532-664 -> 296-450 MB and
    the peak Pss 2726-3026 -> 2370-2509 MB; each stage's executor + GC CPU
    stayed inside the run-to-run spread (pooled medians: mentions
    3.05 -> 3.11 s, triples 2.38 -> 2.42 s, link 1.85 -> 1.93 s, against
    per-run medians of 3.01-3.77, 2.32-2.67 and 1.76-2.02 s at 32 MB), and
    every batch wrote the same edges.
    It is a SparkContext setting, not a JVM-launch one, so it applies
    whenever this call creates the context, under ``spark-submit`` too.

    The driver JVM runs HotSpot's tier-4 (C2) compile thresholds at 8x
    the JDK 17 defaults (``DRIVER_JAVA_OPTIONS``), so C2 compiles only
    really hot code. Neither benchmark workload is bound by data work:
    with the defaults, C2 threads took 63-71 of 118-137 CPU-s of a
    contract-suite pass and 18 of 35 s of a 10k-doc KG batch, compiling a
    large, flat set of lukewarm Catalyst and planner methods. At 8x (the
    best of a 2x/4x/8x sweep) they took 25-27 s and 9-11 s; over ten
    benchmark pairs the pass's CPU fell 121 -> 88 s and the batch's
    33 -> 29 s. In steady state at 100k docs per batch, the executors'
    CPU held (medians of ten batches per side: mentions and triples
    stages equal, link stage 5% higher, inside the run-to-run spread and
    less than the compiler CPU that stage saves). C1 only
    (``-XX:TieredStopAtLevel=1``) was rejected: it cut the first 10k-doc
    batch's CPU 63 -> 25 s, but it leaves the executors' hot loops in C1
    code, and at 100k docs per batch their steady CPU rose 3-4x (mentions
    stage 64-71 vs 16-18 s, triples 28-32 vs 8-10 s).

    The driver JVM also runs the parallel collector (``-XX:+UseParallelGC``,
    HotSpot's throughput collector) instead of G1. Its young generation
    has a fixed size, so old-generation pages that nothing has been
    promoted into are never touched, while G1 allocates across all of its
    regions and keeps the whole heap resident: at the end of a
    contract-suite pass on a 3g heap, both collectors had the full
    3,145,728 KB committed, but the JVM's Pss was 3.52 GB under G1 and
    1.82 GB under ParallelGC (young generation 0.95 GB, old 2 GB of which
    0.3 GB used). Over ten benchmark pairs the pass's peak RSS fell
    3437 -> 1780 MB and a 10k-doc KG batch's 3135 -> 2043 MB, with CPU
    flat. At 100k docs per batch on a 6g heap, the steady stages'
    executor + GC CPU held (ParallelGC alone: mentions 4.99 -> 4.61 s,
    triples 2.67 -> 2.46 s, link 2.16 -> 1.82 s, medians of eight
    batches), at 0-2 full collections per batch (up to 366 ms of pause
    in a batch) where G1 ran none. Over many batches the old generation fills up
    before each full collection, so a long run's peak approaches G1's
    (3.7 GB on that 6g heap after five batches, G1 3.0-3.8 GB). SerialGC
    reached the same short-run peaks but collects on one thread, so its
    pauses grow with the live set at the 16g default heap; it is not used.

    The young generation is a quarter of the heap (``-XX:NewRatio=3``)
    instead of ParallelGC's third: 768 MB of a 3g heap, 1.5 GB of the
    tests' 6g, 4 GB of the 16g default. Every workload allocates through
    all of eden within seconds and so keeps it resident, so the young
    generation's maximum sets much of the peak. It is a ratio, so it
    scales with the heap. Over ten benchmark pairs (3g heap) the
    contract-suite pass's peak RSS fell 1760 -> 1589 MB and a 10k-doc KG
    batch's 2073 -> 1834 MB, with CPU flat (young collections per run
    16 -> 20-21 and 20-25 -> 23-28; the young generation committed at
    exit 953 -> 682 MB). A smaller young generation cuts short-run peaks
    further (NewRatio 4/5/8/11:
    1423/1338/1231/1213 MB on the pass, medians of three runs, against
    1752 at the default) but fails the long run: at 100k docs per batch
    on a 6g heap with no ``-Xms`` (four steady batches per run) the
    default ran 0.42 full collections per batch (13 runs, 0-3 per run),
    a quarter 0.55 (5 runs, 1-3 per run), and 4/5/8 ran 0.85/1.04/1.60:
    more survivors overflow into the old generation, and ParallelGC's
    ``Ergonomics`` full collections follow. At 8 the mentions stage's
    executor + GC CPU also rose 2.88 -> 3.57 s (medians), outside the
    run-to-run spread; at a quarter it read 3.14 s, inside it (per-run
    medians 2.70-3.50 s at the default). A quarter also lowers the long
    run's peak Pss: 3169-3786 MB at the default, 2856-3059 MB here.

    The options go through ``spark.driver.defaultJavaOptions``, which the
    launcher puts before ``spark.driver.extraJavaOptions``, so a caller
    passing its own ``extraJavaOptions`` (perfbench, ``tools/``) keeps
    them. JVM-launch settings — these options and ``spark.driver.memory``
    — take effect only when this call starts the JVM; under
    ``spark-submit``, or with a JVM already running, pass them on the
    command line (see ``jobs/kg_pipeline.py``).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # 16g measured ~5-10x faster than 48g on this workload in local
        # mode: a huge heap made G1 young-gen pauses dominate the short
        # sort-heavy stages (measured under G1, not re-measured on the
        # parallel collector). Override via SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.buffer.pageSize", "1m")
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
    )
    # shuffle through tmpfs when available: local-mode shuffles serialize on
    # disk I/O otherwise, capping multi-core scaling
    if os.path.isdir("/dev/shm"):
        builder = builder.config(
            "spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_table(
    spark: SparkSession,
    rows: Sequence[Sequence] | pa.Table,
    schema: str | StructType | None = None,
) -> DataFrame:
    """A small driver-side table (dictionaries, lookup dims, metrics rows,
    empty bootstraps, graph results computed on the driver) as an
    Arrow-backed ``LocalRelation``.

    A Python list handed to ``spark.createDataFrame`` ships as a pickled
    PythonRDD, so every job that scans the table forks Python workers to
    unpickle a few dozen rows. An Arrow table is handed to the JVM once
    and planned as a ``LocalTableScan``: no Python worker, and the
    optimizer can fold filters/projections over it at plan time.
    ``rows`` are tuples in ``schema`` column order, or a
    ``pyarrow.Table``, which carries its own schema (``schema`` is then
    omitted).
    """
    if isinstance(rows, pa.Table):
        table, struct = rows, from_arrow_schema(rows.schema)
    else:
        struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
        arrow_schema = to_arrow_schema(struct)
        columns = list(zip(*rows)) if rows else [()] * len(arrow_schema)
        table = pa.table(
            [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
            schema=arrow_schema,
        )
    return spark.createDataFrame(table, struct)


_AQE_OFF_KEYS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


@contextmanager
def aqe_off(spark: SparkSession) -> Iterator[None]:
    """Plan and run the block with AQE off, then put the session back.

    Checkpoints captured under AQE report Unknown partitioning to their
    consumers, so an operator that lays a relation out once and reuses
    that layout (graph iterations, packing, the distributed SVD) must
    build it AQE-off. The block may also size
    ``spark.sql.shuffle.partitions``; on exit — normal or by exception —
    both keys return to their prior values, and a key that was unset
    before is unset again. This is the only place the engine changes
    ``spark.sql.adaptive.enabled``.
    """
    before = {k: v for k, v in spark.conf.getAll.items() if k in _AQE_OFF_KEYS}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        for k in _AQE_OFF_KEYS:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)

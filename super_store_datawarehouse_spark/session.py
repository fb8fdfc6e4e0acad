"""SparkSession factory.

:func:`get_spark` sets these defaults; an ``extra_conf`` entry for the
same key wins.

- ``spark.sql.session.timeZone=UTC``: DuckDB timestamps are UTC-naive;
  pinning the session TZ makes timestamp semantics match the oracle.
- AQE on (coalesce partitions, skew-join handling): at 100 TB the static
  shuffle-partition count is always wrong somewhere; AQE re-plans per stage.
- ``local[N]`` and ``spark.sql.shuffle.partitions`` both come from one read
  of ``SPARK_GRAFT_CPUS`` per call, by default the number of CPUs this
  process may run on; on a real cluster the partition count should be
  ~2-3x total executor cores (AQE coalesces down, it does not split
  up-front partitions).
- Broadcast threshold 64 MiB: the warehouse dimensions are driver-built
  local relations of at most ``dims.MAX_MEMBERS`` members each, so every
  dimension join plans as a BroadcastHashJoin with no shuffle.
- Two caches sized so that a serving session's compiled code stays
  resident. A pass of the 13 dashboard queries in SQL and DataFrame form
  runs the same plans again and again; when a cache is smaller than the
  pass's cyclic working set it evicts each entry before its next use and
  never hits.

  - ``spark.sql.codegen.cache.maxEntries=1000``: Spark's generated-class
    cache (Janino classes, keyed by source). Its default of 100 is below
    the measured working set: about 215 classes per serving pass and 109
    per cold ETL build; 1000 leaves several times that as headroom.
  - ``-XX:ReservedCodeCacheSize=256m`` for the driver JVM, through
    ``spark.driver.defaultJavaOptions`` so that a user's own
    ``spark.driver.extraJavaOptions`` still applies. With the JIT limited
    to C1 the code cache is 48 MB and a serving session fills 44-48 MB of
    it; below 10 % free the JVM's sweeper flushes compiled methods and C1
    compiles them again. 256m is about the JVM's own 240 MB tiered
    default, so a default JVM is unchanged.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "superstore-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession with engine defaults.

    The driver's JVM options and the codegen cache size apply only when
    this call launches the JVM; a session already running keeps the JVM
    it has.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.defaultJavaOptions", "-XX:ReservedCodeCacheSize=256m")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # InferFiltersFromGenerate adds `size(arr)>0 AND isnotnull(arr)`
        # above every inner explode; filter-pushdown then substitutes the
        # alias, INLINING the whole array-building expression (tokenize +
        # n-gram transform) into the pushed filter — the map-side work
        # triples. Measured 78 s -> 11 s on the repetition-signals explode
        # at sf1. The rule is a pure optimization (prune empty-array rows
        # early) that never wins on this workload — text/embedding arrays
        # are almost never empty — so it is excluded engine-wide. Hot
        # shared operators ALSO use explode_outer + null-filter, which
        # dodges the rule for callers on foreign sessions.
        # reliable checkpoints (checkpoint_cut) are GC'd with their RDDs
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def scan_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of ``df``'s file scan, or None when the size is
    unknown: an in-memory frame (no input files), a scan with a
    non-local file, or files that cannot be listed or stat'ed.

    The one size helper: the dedup family's scan gates and the serving
    gate (:func:`serving_frame`) both read it, and each takes its safe
    branch on None."""
    try:
        files = [
            f[len("file:"):] if f.startswith("file:") else None
            for f in df.inputFiles()
        ]
        if not files or any(f is None for f in files):
            return None
        return sum(os.path.getsize(os.path.normpath(f)) for f in files)
    except Exception:
        return None


# Each frame serving_frame has sized -> its one-partition form, or None
# when the frame serves as it is
_SERVING: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def serving_frame(df: DataFrame) -> DataFrame:
    """``df`` as a query should read it: ``df.coalesce(1)`` when its file
    scan is known to total at most ``spark.sql.files.openCostInBytes``
    (Spark's own estimate of what opening one file costs, 4 MiB by
    default), else ``df`` itself. An in-memory frame, a scan of a
    non-``file:`` path and a larger scan keep their plans.

    Over a one-partition leaf an aggregate, a window or a sort needs no
    shuffle and an ORDER BY no range-sampling job. Each frame is sized
    once, on its first call; the result is kept while the frame lives."""
    if df not in _SERVING:
        size = scan_bytes(df)
        limit = df.sparkSession._jsparkSession.sessionState().conf().filesOpenCostInBytes()
        _SERVING[df] = df.coalesce(1) if size is not None and size <= limit else None
    gated = _SERVING[df]
    return df if gated is None else gated


def checkpoint_cut(df):
    """Materialize ``df``, CUT its lineage, and keep the copy on DISK:
    a reliable checkpoint into a session-scoped checkpoint directory
    (local tmp here; HDFS/object storage on a cluster — the deployment
    graph.py's docstring prescribes).

    For ITERATIVE corpus-scale loops (k-core peeling, label
    propagation) this is the scale-safe lineage cut. ``localCheckpoint``
    stores MEMORY_AND_DISK blocks that cannot be released without
    destroying the data, so a loop retains every iteration's full
    working set on the executor heap — the round-10 sf10 sweep OOM'd
    the k-core loop's 4th retained copy of a ~60M-edge frame and took
    the whole local JVM down. Reliable checkpoints live as files: heap
    cost is zero, executor loss cannot replay the chain, and
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` garbage-
    collects them when the RDD goes out of scope. localCheckpoint
    remains the right tool for SINGLE bounded materializations.
    """
    import atexit
    import shutil
    import tempfile


    spark = df.sparkSession
    jsc = spark.sparkContext
    if jsc._jsc.sc().getCheckpointDir().isEmpty():
        # a driver-local tmp dir is only a valid checkpoint root when
        # every executor shares the driver's filesystem — i.e. local
        # mode. On a real cluster each executor would write partitions
        # to its OWN /tmp and reads back would lose them; fail loudly
        # at the call site instead (round-10 review finding).
        if not jsc.master.startswith("local"):
            raise RuntimeError(
                "checkpoint_cut: no checkpoint directory configured and "
                f"master {jsc.master!r} is not local — set a shared "
                "(HDFS/object-storage) dir via sc.setCheckpointDir() "
                "before using iterative lineage cuts on a cluster"
            )
        ckdir = tempfile.mkdtemp(prefix="ssdw_ckpt_")
        jsc.setCheckpointDir(ckdir)
        atexit.register(shutil.rmtree, ckdir, ignore_errors=True)
    # Reliable checkpointing runs a SECOND job over the lineage to
    # write the checkpoint files (Spark's documented recomputation).
    # persist(DISK_ONLY)-before-checkpoint was tried for that (round-10
    # review) and REVERTED on measurement: the loops that use this
    # helper cut AFTER a shuffle, so the recompute job skips the
    # already-computed shuffle stages and the persist bought nothing
    # (x202 sf10: 93.5 s plain vs 93.3 s persisted) — while the extra
    # disk-store buffers stacked on x325's declared corpus-scale
    # broadcast and tipped the 128 GiB heap over (fresh-JVM OOM that
    # the plain form does not hit). Callers cutting a deep NON-shuffle
    # lineage should persist at the call site where they can see the
    # trade.
    return df.checkpoint(eager=True)


# ---------------------------------------------------------------------------
# Scoped caching.
#
# Several lazy operators cache() an intermediate frame that feeds two or
# more branches of the plan they return (the shingle frame in the dedup
# family, the postings explode in BM25, the bigram occurrences in the
# LM-surprise filter, the quantized working set in k-means). The cache is
# load-bearing for performance — the dominant tokenize/explode map work
# must run once — but the operator never sees an action, so it has no
# natural point to unpersist. Across a long harness session (311 queries)
# those block-manager entries accumulate until LRU eviction.
#
# scoped_cache() is cache()/persist() plus registration; harness drivers
# (oracle_check, bench, plan_audit, broadcast_audit, and a per-test
# autouse finalizer in tests/conftest.py) call release_scoped_caches()
# after each query's action completes. Frames released this way simply
# recompute if a caller re-executes an old plan — correctness is
# unaffected, only the reuse window.
#
# Concurrency contract: registration and release are lock-guarded, so
# the registry itself cannot corrupt under concurrent drivers — but
# release_scoped_caches() releases EVERY registered frame, including
# ones another in-flight query just registered (that query's plan then
# recomputes instead of reusing its cache; correctness unaffected).
# The drivers above are all single-threaded; a concurrent driver should
# scope its releases to its own frames or accept the recompute.
# ---------------------------------------------------------------------------

_SCOPED_CACHE_LOCK = threading.Lock()
_SCOPED_CACHED_FRAMES: list = []


def scoped_cache(df):
    """``df.cache()`` registered for deferred release via
    :func:`release_scoped_caches`.

    Reach for this ONLY when the shared frame is re-consumed by plans
    whose canonical form differs (so ReuseExchange cannot dedupe them)
    or across actions on REBUILT DataFrame objects (so shuffle-stage
    skipping cannot apply), AND the lineage above the last exchange is
    genuinely expensive. For a shared frame whose plan ends in a
    shuffle (any groupBy/join/distinct output), prefer NO cache: within
    one action Catalyst's ReuseExchange runs the map side once and the
    branches re-read shuffle files; across actions on the same object
    Spark skips already-computed shuffle stages. The in-memory columnar
    cache was measured strictly worse for those shapes on this class of
    host: ~45 us/row build cost and reads that contend under 32-way
    task concurrency (q26 at sf0.1: 23-30 s CPU cached vs 2-5 s with
    exchange reuse; 256k-row synthetic: cache read+groupBy 42 s CPU at
    32 partitions vs 1.1 s at 4 — the cost follows task concurrency,
    not rows).
    """
    df = df.cache()
    with _SCOPED_CACHE_LOCK:
        _SCOPED_CACHED_FRAMES.append(df)
    return df


class RowCapExceeded(ValueError):
    """A driver-side collect met more rows than its cap."""


def collect_capped(df, max_rows: int, what: str):
    """Collect ``df`` to the driver as an Arrow table of at most ``max_rows``.

    Every driver-side collect of a frame that is small by construction
    goes through here, so each has a loud cap: at most ``max_rows + 1``
    rows leave the executors, and one row too many raises
    :class:`RowCapExceeded` (a ``ValueError``) naming ``what``.
    """
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise RowCapExceeded(
            f"{what} exceeds max_rows={max_rows}; a driver-side collect is "
            "for results bounded by construction"
        )
    return table


def localize(df, max_rows: int = 100_000, on_overflow: str = "raise"):
    """Materialize a SMALL DataFrame to a driver-side LocalRelation.

    The right tool when a bounded result (top-k rows, a frontier
    candidate set, an n²-bounded rollup) is consumed by several
    branches of one plan but its LINEAGE is expensive: a lazy cache
    stampedes (every branch that starts before the first materializes
    re-executes the full lineage), while a LocalRelation is computed
    exactly once and costs nothing to re-read — downstream joins
    against it broadcast trivially and canonicalize stably.

    Guard: the rows come through :func:`collect_capped`, which refuses
    more than ``max_rows`` (the same boundedness contract as a broadcast
    join side). Only use where the row bound holds BY CONSTRUCTION —
    or, when the bound is merely EXPECTED (data-dependent, e.g. IVF
    cell occupancy under clustered embeddings), pass
    ``on_overflow="cache"``: instead of raising, the frame falls back
    to an EAGER scoped cache (materialized here via ``count()``, so the
    lineage still runs exactly once and no branch stampedes it), and
    the query keeps its distributed plan at a modest read-path cost
    (a hard ValueError at plan-build time is the wrong failure mode
    for a shape that would merely run slower).
    """
    try:
        table = collect_capped(df, max_rows, "localize()")
    except RowCapExceeded:
        if on_overflow != "cache":
            raise
        cached = scoped_cache(df)
        cached.count()  # eager: one materialization, no stampede
        return cached
    return df.sparkSession.createDataFrame(table, df.schema)


def release_scoped_caches() -> int:
    """Unpersist every frame registered since the last release.

    Non-blocking; safe to call with no live SparkSession (dead frames
    are skipped). Returns the number of frames released. See the
    concurrency contract above: this releases ALL registered frames,
    whoever registered them.
    """
    n = 0
    while True:
        with _SCOPED_CACHE_LOCK:
            if not _SCOPED_CACHED_FRAMES:
                break
            frame = _SCOPED_CACHED_FRAMES.pop()
        try:
            frame.unpersist(False)
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n

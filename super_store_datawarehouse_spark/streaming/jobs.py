"""Streaming jobs: windowed aggregation, dedup, stateful counting.

Local test harness: a parquet file stream + memory sink driven to
completion with ``processAllAvailable`` (synchronous, deterministic).
In production the same plans run against Kafka/queue sources with
per-trigger micro-batches; the watermark bounds state so a 100 TB/day
stream holds only the open windows, not history.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.exact import cents


# ---------------------------------------------------------------------------
# Shared state-publish helpers: one protocol, an in-state marker plus a
# .prev chain (_restore_prev_state/_publish_state_atomic). applied_batch
# and query_id live INSIDE the state parquet as constant columns, so
# marker and state publish in one atomic directory swap: no instant
# where a new state is visible beside an old marker. Crash recovery:
# the previous state parks at <dir>.prev during the swap; readers
# restore it if a crash strands the rename. The quantile-summary sink
# uses the whole protocol. The upsert sink uses the swap and the
# restore but carries no marker: its merge is idempotent per version
# (latest event_id wins), so a replay rewrites the same state.
# ---------------------------------------------------------------------------


def _restore_prev_state(out_dir: str) -> None:
    """Crash recovery for the .prev protocol: publish renames out_dir
    away before the new version lands; if the process died in between,
    the .prev copy is the durable state — restore it."""
    prev_dir = out_dir + ".prev"
    if not os.path.isdir(out_dir) and os.path.isdir(prev_dir):
        os.replace(prev_dir, out_dir)


def _publish_state_atomic(out_dir: str, merged: DataFrame) -> None:
    """Atomic publish with recovery (.prev protocol): write the new
    state to a tmp dir (parquet write = action, so it is fully
    materialized before any rename), retire the current state to
    .prev, land the new version, then discard .prev. A crash at any
    point leaves either the old state (possibly parked at .prev, which
    _restore_prev_state restores) or the new state with its embedded
    marker — never a half-published mix and never a lost state."""
    import shutil
    import tempfile

    prev_dir = out_dir + ".prev"
    tmp = tempfile.mkdtemp(dir=os.path.dirname(out_dir))
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.isdir(prev_dir):
        shutil.rmtree(prev_dir)
    if os.path.isdir(out_dir):
        os.replace(out_dir, prev_dir)
    os.replace(tmp, out_dir)
    if os.path.isdir(prev_dir):
        shutil.rmtree(prev_dir)


def _read_state_meta(sess, out_dir: str, extra=()):
    """Read side of the one publish protocol. Restores a stranded
    ``.prev``, reads the state parquet, and pulls the in-state marker
    from a ONE-ROW slice. Every marker column is written as a constant
    literal over the whole state by ``_publish_state_atomic`` callers,
    so any single row carries the full marker — ``limit(1)`` plans a
    CollectLimit that stops after the first non-empty partition, an
    O(1)-row read per micro-batch instead of a full-state ``max()``
    aggregate. Returns ``(state, meta)``: ``state`` is the state
    DataFrame (None when absent) and ``meta`` maps ``query_id``,
    ``applied_batch``, and each ``(col, default)`` in ``extra`` to its
    marker value — with defaults (query_id None, applied_batch -1, the
    given extras) when the state is absent or has 0 rows.
    """
    defaults = {"query_id": None, "applied_batch": -1, **dict(extra)}
    _restore_prev_state(out_dir)
    if not os.path.isdir(out_dir):
        return None, defaults
    state = sess.read.parquet(out_dir)
    cols = ["applied_batch", "query_id"] + [col for col, _default in extra]
    rows = state.select(*cols).limit(1).collect()
    if not rows:  # 0-row state: fresh-state defaults (ADVICE r10)
        return state, defaults
    row = rows[0]
    meta = dict(defaults)
    meta["query_id"] = row["query_id"]
    if row["applied_batch"] is not None:
        meta["applied_batch"] = int(row["applied_batch"])
    for col, default in extra:
        if row[col] is not None:
            meta[col] = int(row[col])
    return state, meta


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based stream over the events table, ts normalized to TIMESTAMP.

    maxFilesPerTrigger=1 keeps micro-batches realistic in tests; the
    schema comes from a cheap static read of the same parquet.

    ``withWatermark``/``session_window`` require an LTZ TimestampType, so
    the same schema dispatch as sources/testdata.py runs here: nanos-as-
    long files get integer DIV conversion, TIMESTAMP_NTZ files (the shape
    the driver writes as of round 3) are cast — identical wall-clock under
    the UTC session TZ.
    """
    # same legacy-conf scoping as sources/testdata.py: set nanosAsLong
    # only when a TIMESTAMP(NANOS) file actually rejects the plain read
    try:
        schema = (
            spark.read.option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir)
            .schema
        )
    except Exception as exc:
        if "NANOS" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = (
            spark.read.option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir)
            .schema
        )
    # file streams require a directory source; glob-filter the one table
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        # events*.parquet: matches the single driver table and lets tests
        # plant extra files to force multiple micro-batches
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )
    ts_dtype = dict(stream.dtypes)["ts"]
    if ts_dtype == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    elif ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def hourly_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type, run to completion.

    Complete output mode so the finished result equals the batch
    equivalent (plans/extensions.py x10) — which is exactly what the
    matching test asserts. The watermark still bounds state in a live
    deployment; with a static file source it simply never discards.
    """
    agg = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    name = f"hourly_counts_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def dedup_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon.

    dropDuplicatesWithinWatermark keeps per-key state only until the
    watermark passes — the streaming analog of the batch exact-dedup
    operator (operators/dedup.py) with bounded memory.
    """
    deduped = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    name = f"dedup_events_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def purchase_click_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase paired with every click by
    the same user in the preceding hour.

    Both sides carry watermarks and the join has an event-time range
    condition, so the state store holds only rows inside the watermark
    horizon (the unbounded-buffer problem stream-stream joins otherwise
    have). Inner-join matches emit as soon as both sides arrive, so
    driving the stream to completion yields exactly the batch result —
    which is what the harness oracle (plain inequality join) asserts.
    """
    base = read_events_stream(spark, sf_dir)
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", F.col("p_user").alias("user_id"), "p_ts", "click_id", "c_ts")
    name = f"pc_join_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def enriched_nation_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer table (broadcast — no stream state at all), aggregated per
    nation. The standard dimension-enrichment topology: the static side
    re-reads per micro-batch, so dimension updates are picked up without
    restarting the stream.
    """
    customer = (
        spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    enriched = (
        read_events_stream(spark, sf_dir)
        .join(F.broadcast(customer), "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
    )
    name = f"nation_counts_{uuid.uuid4().hex[:8]}"
    q = (
        enriched.writeStream.outputMode("complete").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def user_running_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user cumulative event count via
    applyInPandasWithState (the escape hatch for operators Spark's
    built-in streaming aggregations can't express).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
        ]
    )
    state_schema = StructType([StructField("count", LongType())])

    def update(key, pdfs, state: GroupState):
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [total]})

    counts = (
        read_events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    name = f"user_counts_{uuid.uuid4().hex[:8]}"
    q = (
        counts.writeStream.outputMode("update").format("memory").queryName(name).start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update-mode memory sink appends every emission; the final state per
    # user is the max running count
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )


def stream_upserts_to_parquet(
    spark: SparkSession, src_dir: str, out_dir: str
) -> int:
    """Streaming CDC: each micro-batch of events MERGEs into a parquet
    state table via ``operators.cdc.apply_upserts`` inside foreachBatch —
    latest event per user wins (version = event_id).

    This is the upsert-sink topology for runtimes without Delta: read
    current state, reconcile with the batch, write to a scratch dir and
    swap. The swap is what Delta's MERGE replaces with a transactional
    commit when delta-spark is present;
    state stays on disk between triggers, so restarts resume from the
    last swapped table. Returns the number of micro-batches merged.
    """
    from super_store_datawarehouse_spark.operators.cdc import apply_upserts

    ev = read_events_stream(spark, src_dir).select(
        "user_id", "event_type", "value", F.col("event_id").alias("version")
    )
    batches = {"n": 0}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        _restore_prev_state(out_dir)
        if os.path.isdir(out_dir):
            state = batch_df.sparkSession.read.parquet(out_dir)
        else:
            state = batch_df.limit(0)
        merged = apply_upserts(state, batch_df, ["user_id"], "version")
        _publish_state_atomic(out_dir, merged)
        batches["n"] += 1

    q = ev.writeStream.outputMode("append").foreachBatch(merge_batch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return batches["n"]


class _QueryIdHolder:
    """Hands the StreamingQuery's id (assigned by ``start()``) to
    foreachBatch callbacks that may already be running.

    The query id is CHECKPOINT-durable: a restart from the same
    checkpoint keeps it, a lost/recreated checkpoint (or a run without
    one) gets a fresh id. That makes it the right lineage token for
    additive sinks whose replay guard is otherwise just a batch-id
    watermark — batch ids restart at 0 under a new id, and skipping
    "replays" from a different lineage silently drops fresh data
    forever.
    """

    def __init__(self) -> None:
        import threading

        self._ready = threading.Event()
        self._id: str | None = None

    def set(self, query_id: str) -> None:
        self._id = str(query_id)
        self._ready.set()

    def get(self) -> str:
        # start() returns before the first trigger in practice, but the
        # stream thread is asynchronous — wait rather than race.
        if not self._ready.wait(timeout=120):
            raise RuntimeError("streaming query id never became available")
        assert self._id is not None
        return self._id


def _check_query_lineage(
    sink: str, out_dir: str, stored_qid: str | None, current_qid: str
) -> None:
    """Raise — loudly, not skip — when additive sink state was written
    under a different streaming query id.

    Weighted summary rows cannot be content-deduped, so when the
    lineage token changes there is no safe interpretation of the
    batch-id watermark: ids at-or-below it may be fresh data (drop =
    silent data loss) and ids above it may be replays (merge =
    double-count). The only correct move is an explicit operator
    decision, so fail with instructions. A fresh state (no stored
    query id) passes.
    """
    if stored_qid is not None and stored_qid != current_qid:
        raise RuntimeError(
            f"{sink}: state at {out_dir} was written by streaming query "
            f"{stored_qid}, but this run's query id is {current_qid} "
            "(lost/recreated checkpoint, or run without its original "
            "checkpoint). Batch ids are checkpoint-scoped, so the replay "
            "guard cannot tell replays from fresh data across lineages, and "
            "summary rows cannot be content-deduped. Refusing to merge: "
            "either restore the original checkpoint, or reset explicitly "
            "by deleting the state directory together with the new "
            "checkpoint."
        )


def stream_quantile_summary_to_parquet(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    strata: int = 8,
    k: int = 32,
    max_rows: int = 4096,
    checkpoint: str | None = None,
) -> int:
    """Streaming mergeable quantile summary over the event ``value``
    stream (integer cents): streaming percentiles. Batch twin:
    ``operators.sketches.rank_compaction_summary`` / x334's oracled
    eval.

    Per micro-batch: the batch's rows enter as weight-1 summary rows
    (stratum = Knuth hash of event_id mod ``strata``), union with the
    persisted summary — merge IS union for this sketch — then one
    ``weighted_rank_compaction`` bounds the state again. If the
    compacted state still exceeds ``max_rows``, the compaction step k
    DOUBLES until it fits (KLL-style coarsening), so the state stays
    bounded FOREVER while the error grows only with the logged budget,
    never silently.

    Self-certifying error accounting: each compaction at step ``k_i``
    adds at most ``k_i − 1`` ranks of undercount per stratum, so the
    state embeds the running ``err_unit`` = Σ(k_i − 1) alongside
    ``k_now``; a reader's live guarantee for any nearest-rank read-off
    is ``rank_err < strata · err_unit + k_now`` — computable from the
    state alone, no external log (the same in-state attestation style
    as the applied_batch marker).

    Exactly-once: applied_batch + query_id embedded in the state
    parquet, atomic directory swap with .prev crash recovery, lineage
    check raising on a foreign checkpoint. Returns micro-batches
    applied.
    """
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash
    from super_store_datawarehouse_spark.operators.sketches import (
        weighted_rank_compaction,
    )

    ev = read_events_stream(spark, src_dir).select(
        F.round(F.col("value") * 100).cast("long").alias("value"),
        F.pmod(knuth_hash("event_id"), F.lit(strata)).alias("stratum"),
    )
    batches = {"n": 0}
    qid = _QueryIdHolder()

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # a zero-row state parquet (an empty FIRST micro-batch — e.g. a
        # zero-row source file — has no marker row to read) falls back
        # to the fresh-state defaults instead of crashing on int(None)
        # forever after (ADVICE r10); _read_state_meta owns that rule
        state, meta = _read_state_meta(
            sess, out_dir, extra=(("k_now", k), ("err_unit", 0))
        )
        k_now, err_unit = meta["k_now"], meta["err_unit"]
        _check_query_lineage(
            "stream_quantile_summary_to_parquet",
            out_dir,
            meta["query_id"],
            qid.get(),
        )
        if batch_id <= meta["applied_batch"]:
            return
        delta = batch_df.select(
            "stratum", "value", F.lit(1).cast("long").alias("weight")
        )
        merged = (
            state.select("stratum", "value", "weight").unionByName(delta)
            if state is not None
            else delta
        )
        # compact; double the step until the state fits the budget.
        # Every attempt recompacts from MERGED (never from a discarded
        # coarser attempt), so only the FINAL, applied compaction adds
        # to the error budget — charge err_unit once, after convergence
        # (a discarded attempt's rows never reach the state, so its
        # k_i−1 must not be attested).
        while True:
            compacted = weighted_rank_compaction(merged, k_now).localCheckpoint()
            n_rows = compacted.count()
            if n_rows <= max_rows:
                break
            k_now *= 2
        if n_rows == 0:
            # an empty compaction (zero-row micro-batch on fresh state)
            # has nothing to attest: publishing a 0-row state parquet
            # would strand a state with no marker row to read on every
            # later batch (ADVICE r10). Leave the state absent —
            # an empty batch contributes no rows, so leaving its
            # applied-marker un-advanced makes a checkpoint replay of
            # it a no-op, not a duplicate.
            batches["n"] += 1
            return
        err_unit += k_now - 1
        _publish_state_atomic(
            out_dir,
            compacted.withColumn(
                "applied_batch", F.lit(batch_id).cast("long")
            )
            .withColumn("query_id", F.lit(qid.get()))
            .withColumn("k_now", F.lit(k_now).cast("long"))
            .withColumn("err_unit", F.lit(err_unit).cast("long")),
        )
        batches["n"] += 1

    writer = ev.writeStream.outputMode("append").foreachBatch(merge_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    qid.set(q.id)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return batches["n"]

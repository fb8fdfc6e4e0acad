"""Streaming jobs: results must equal their batch equivalents."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_hourly_counts_stream_equals_batch(spark):
    from super_store_datawarehouse_spark.plans.extensions import x290_events_hourly
    from super_store_datawarehouse_spark.streaming.jobs import hourly_counts_stream

    stream_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in hourly_counts_stream(spark, SF_DIR).collect()
    }
    batch_rows = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in x290_events_hourly(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_dedup_stream_preserves_distinct_ids(spark):
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import dedup_events_stream

    out = dedup_events_stream(spark, SF_DIR)
    n_distinct = (
        load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    )
    assert out.count() == n_distinct
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_dedup_stream_drops_planted_duplicates_across_batches(tmp_path, spark):
    """Duplicate event_ids split across two files (→ two micro-batches with
    maxFilesPerTrigger=1) must still collapse to one row each: the
    dropDuplicatesWithinWatermark state survives the batch boundary."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from super_store_datawarehouse_spark.streaming.jobs import dedup_events_stream

    base_ns = 1_700_000_000_000_000_000  # fixed instant; all rows same hour
    def table(ids):
        return pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(
                    [base_ns + i * 60_000_000_000 for i in range(len(ids))],
                    pa.timestamp("ns"),
                ),
                "user_id": pa.array([i % 3 for i in ids], pa.int64()),
                "event_type": pa.array(["click"] * len(ids)),
                "value": pa.array([1.5] * len(ids), pa.float64()),
                "props": pa.array(["{}"] * len(ids)),
            }
        )

    # ids 1-6; ids 2 and 4 appear in BOTH files, id 5 twice in one file
    pq.write_table(table([1, 2, 3, 4, 5, 5]), tmp_path / "events.parquet")
    pq.write_table(table([2, 4, 6]), tmp_path / "events2.parquet")

    out = dedup_events_stream(spark, str(tmp_path))
    ids = sorted(r["event_id"] for r in out.select("event_id").collect())
    assert ids == [1, 2, 3, 4, 5, 6]


def test_windowed_agg_append_finalizes_only_watermark_passed_windows(tmp_path, spark):
    """Append-mode windowed aggregation emits a window only once the
    watermark has passed its end; windows still open when the stream
    drains are withheld. (Dropping data *older* than the watermark is
    best-effort in Spark and deliberately not asserted.)"""
    import os as _os
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from super_store_datawarehouse_spark.streaming.jobs import read_events_stream

    hour_ns = 3_600_000_000_000
    base_ns = 1_700_000_000_000_000_000

    def table(rows):  # rows: (event_id, ts_hours_offset)
        return pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [base_ns + int(r[1] * hour_ns) for r in rows], pa.timestamp("ns")
                ),
                "user_id": pa.array([1] * len(rows), pa.int64()),
                "event_type": pa.array(["click"] * len(rows)),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        )

    # batch 1: early event (hour 6) + late-hour events that push the
    # watermark to hour 9 (max 11 - 2h delay), closing the hour-6 window
    pq.write_table(table([(1, 6), (2, 10), (3, 11)]), tmp_path / "events.parquet")
    # batch 2: hour 10.5 lands in a still-open window (never finalized)
    pq.write_table(table([(5, 10.5)]), tmp_path / "events2.parquet")
    _os.utime(tmp_path / "events.parquet", (1_000_000, 1_000_000))
    _os.utime(tmp_path / "events2.parquet", (2_000_000, 2_000_000))

    agg = (
        read_events_stream(spark, str(tmp_path))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    name = f"late_{_uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(name).collect()
    # only the hour-6 event's window was finalized (watermark reached
    # hour 9 > its end); the hour-10/10.5/11 windows stay open → withheld
    assert [(r["w"]["start"].hour, r["count"]) for r in rows] == [(4, 1)]


def test_dedup_stream_with_rocksdb_state_store(spark):
    """The disk-backed RocksDB state store (the 100 TB state backend —
    state no longer bounded by executor heap) must be a drop-in for the
    default HDFS-backed provider."""
    from super_store_datawarehouse_spark.streaming.jobs import dedup_events_stream

    key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = dedup_events_stream(spark, SF_DIR)
        n_distinct = (
            spark.read.parquet(f"{SF_DIR}/events.parquet")
            .select("event_id").distinct().count()
        )
        assert out.count() == n_distinct
    finally:
        spark.conf.unset(key)


def test_stream_stream_join_equals_batch(spark):
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import purchase_click_join_stream

    got = {
        (r["purchase_id"], r["click_id"])
        for r in purchase_click_join_stream(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("pu"), F.col("ts").alias("pts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("cid"), F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    want = {
        (r["pid"], r["cid"])
        for r in p.join(
            c,
            (F.col("pu") == F.col("cu"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("cts") <= F.col("pts")),
        ).collect()
    }
    assert got == want and want


def test_user_running_counts_stream(spark):
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import user_running_counts_stream

    got = {
        r["user_id"]: r["n_events"]
        for r in user_running_counts_stream(spark, SF_DIR).collect()
    }
    want = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_upserts_converge_to_batch_latest(tmp_path, spark):
    """foreachBatch CDC merge: after streaming the events in 3 separate
    micro-batches, the parquet state equals the batch latest-per-user."""
    import os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_upserts_to_parquet

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    # plant 3 files so maxFilesPerTrigger=1 forces 3 micro-batches
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"part{i}"), mode="overwrite"
        )
        part = [f for f in os.listdir(tmp_path / f"part{i}") if f.endswith(".parquet")][0]
        os.rename(tmp_path / f"part{i}" / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "state")
    n_batches = stream_upserts_to_parquet(spark, src, out)
    assert n_batches == 3

    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    want = {
        (r["user_id"], r["version"])
        for r in events.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", F.col("event_id").alias("version"))
        .collect()
    }
    got = {
        (r["user_id"], r["version"])
        for r in spark.read.parquet(out).select("user_id", "version").collect()
    }
    assert got == want


def test_stream_restart_resumes_from_checkpoint_exactly_once(tmp_path, spark):
    """File-source offsets live in the checkpoint: a stopped query that
    restarts with the same checkpointLocation neither re-reads old files
    (no duplicates) nor skips new ones (no loss)."""
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    cp = str(tmp_path / "cp")
    os.makedirs(src)
    spark.range(0, 100).withColumn("batch", F.lit(1)).coalesce(1).write.parquet(
        src + "/f1"
    )
    spark.range(100, 250).withColumn("batch", F.lit(2)).coalesce(1).write.parquet(
        src + "/f2"
    )

    def run_once():
        stream = (
            spark.readStream.schema("id long, batch int")
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == 250
    # plant a new file, restart from the same checkpoint
    spark.range(250, 300).withColumn("batch", F.lit(3)).coalesce(1).write.parquet(
        src + "/f3"
    )
    run_once()
    got = spark.read.parquet(sink)
    assert got.count() == 300  # 250 old NOT reprocessed, 50 new not lost
    assert got.select("id").distinct().count() == 300


def test_stream_countmin_equals_batch(tmp_path, spark):
    """CMS additivity under micro-batching: streaming the events in 3
    batches and summing partial sketches yields exactly the sketch built
    in one batch pass."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import countmin_build
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_countmin_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"part{i}"), mode="overwrite"
        )
        part = [f for f in os.listdir(tmp_path / f"part{i}") if f.endswith(".parquet")][0]
        os.rename(tmp_path / f"part{i}" / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "sketch")
    n_batches = stream_countmin_to_parquet(spark, src, out)
    assert n_batches == 3

    got = {
        (r["r"], r["pos"]): r["cnt"] for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["r"], r["pos"]): r["cnt"]
        for r in countmin_build(
            events.select(F.col("event_type").alias("word"))
        ).collect()
    }
    assert got == want


def test_stream_countmin_restart_exactly_once(tmp_path, spark):
    """Restarting the checkpointed CMS stream after new files arrive
    adds only the new data — no double-count of already-applied batches,
    even though the additive sink is not naturally idempotent."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import countmin_build
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_countmin_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def plant(i):
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(tmp_path / f"part{i}"), mode="overwrite"
        )
        part = [f for f in os.listdir(tmp_path / f"part{i}") if f.endswith(".parquet")][0]
        os.rename(tmp_path / f"part{i}" / part, os.path.join(src, f"events{i}.parquet"))

    plant(0)
    plant(1)
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    n1 = stream_countmin_to_parquet(spark, src, out, checkpoint=ckpt)
    assert n1 >= 1
    plant(2)  # new arrival between runs
    n2 = stream_countmin_to_parquet(spark, src, out, checkpoint=ckpt)
    assert n2 >= 1

    got = {(r["r"], r["pos"]): r["cnt"] for r in spark.read.parquet(out).collect()}
    want = {
        (r["r"], r["pos"]): r["cnt"]
        for r in countmin_build(
            events.select(F.col("event_type").alias("word"))
        ).collect()
    }
    assert got == want


def test_pydatasource_stream_equals_batch(tmp_path, spark):
    """The Python streaming source (SimpleDataSourceStreamReader) emits,
    across all micro-batches, exactly the rows the batch reader
    produces for the same (seed, rows) — offsets are row counters over
    a counter-hash stream, so batch == stream by construction."""
    from super_store_datawarehouse_spark.sources.pydatasource import register

    register(spark)
    out = str(tmp_path / "rows")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("eventgen")
        .option("rows", 500)
        .option("batch_rows", 120)
        .option("seed", 7)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            spark.read.format("eventgen")
            .option("rows", 500)
            .option("seed", 7)
            .load()
            .collect(),
        )
    )
    assert got == want and len(got) == 500


def test_stream_misra_gries_guarantee_and_restart(tmp_path, spark):
    """Streaming MG summary: <= k rows of state forever, every true
    heavy hitter (> N/(k+1)) survives arbitrary micro-batching, and a
    checkpoint restart re-adds nothing (exactly-once marker)."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_misra_gries_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    # skew the stream: purchases replicated 4 extra times → 'purchase'
    # holds ~40% of rows, far above the N/(k+1) threshold for k=3
    skewed = events
    for _ in range(4):
        skewed = skewed.unionByName(events.filter(F.col("event_type") == "purchase"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        skewed.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(part_dir), mode="overwrite"
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "mg")
    ckpt = str(tmp_path / "ckpt")
    k = 3
    assert stream_misra_gries_to_parquet(spark, src, out, k=k, checkpoint=ckpt) == 3

    state = {r["word"]: r["mg_cnt"] for r in spark.read.parquet(out).collect()}
    assert len(state) <= k
    n = skewed.count()
    true_counts = {
        r["event_type"]: r["c"]
        for r in skewed.groupBy("event_type").agg(F.count("*").alias("c")).collect()
    }
    for word, cnt in true_counts.items():
        if cnt * (k + 1) > n:
            assert word in state            # guaranteed superset
    for word, mg in state.items():
        assert mg <= true_counts[word]      # MG never overcounts

    # restart from the same checkpoint: no new batches, state unchanged
    assert stream_misra_gries_to_parquet(spark, src, out, k=k, checkpoint=ckpt) == 0
    state2 = {r["word"]: r["mg_cnt"] for r in spark.read.parquet(out).collect()}
    assert state2 == state


def test_stream_hll_equals_batch_registers(tmp_path, spark):
    """HLL registers are a join-semilattice: streamed max-merge over any
    batching equals the one-pass batch registers, so the streamed
    ESTIMATE equals the batch estimate exactly."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import hll_distinct
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_hll_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(part_dir), mode="overwrite"
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "hll")
    assert stream_hll_to_parquet(spark, src, out) == 3

    # rebuild the estimate from the streamed registers and compare to
    # the batch operator on the full table
    regs = spark.read.parquet(out)
    est_stream = {
        r["event_type"]: r["est"]
        for r in regs.groupBy("event_type")
        .agg(
            F.sum(F.expr("shiftleft(1L, cast(32 - m as int))")).alias("tp"),
            F.count(F.lit(1)).alias("np"),
        )
        .selectExpr(
            "event_type",
            "CASE WHEN (709L * 64 * 64 * 4294967296L) div"
            " (1000 * (tp + (64 - np) * 4294967296L)) * 2 <= 5 * 64"
            " AND (64 - np) > 0 THEN NULL ELSE"
            " (709L * 64 * 64 * 4294967296L) div"
            " (1000 * (tp + (64 - np) * 4294967296L)) END AS est",
        )
        .collect()
    }
    est_batch = {
        r["event_type"]: r["est_distinct"]
        for r in hll_distinct(events, ["event_type"], "user_id").collect()
    }
    for t, est in est_batch.items():
        # registers identical → raw estimates identical; the batch op
        # may take the linear-counting branch, in which case the raw
        # path here reports NULL — only compare the raw-branch types
        if est_stream[t] is not None:
            assert est_stream[t] == est, t


def test_stream_drift_monitor_flags_shifted_values(tmp_path, spark):
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_drift_monitor

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0: same distribution as the reference; batch 1: values x3
    same = events.limit(2000).select("event_id", "ts", "user_id",
                                     "event_type", "value", "props")
    shifted = same.withColumn("value", F.col("value") * 3)
    for i, df in enumerate((same, shifted)):
        part_dir = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "drift.tsv")
    n = stream_drift_monitor(spark, src, reference=same, out_path=out)
    assert n >= 1
    rows = [line.split("\t") for line in open(out).read().strip().splitlines()]
    chi2_by_batch = {int(r[0]): int(r[2]) for r in rows}
    assert len(chi2_by_batch) >= 1
    # the shifted batch must register dramatically higher drift than
    # the identical batch (if both batches landed separately)
    if len(chi2_by_batch) == 2:
        low, high = sorted(chi2_by_batch.values())
        assert high > 10 * max(low, 1)


def test_stream_drift_monitor_flags_downward_shift(tmp_path, spark):
    """Regression: live values BELOW the frozen reference min must land
    in bin 0 (double-sided clamp), so downward range drift registers in
    the chi-square instead of being silently excluded while still
    inflating live_n."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_drift_monitor

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    same = events.limit(2000).select("event_id", "ts", "user_id",
                                     "event_type", "value", "props")
    # shift the whole distribution far below the reference min
    down = same.withColumn("value", F.col("value") - 1_000_000)
    for i, df in enumerate((same, down)):
        part_dir = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "drift.tsv")
    n = stream_drift_monitor(spark, src, reference=same, out_path=out)
    assert n >= 1
    rows = [line.split("\t") for line in open(out).read().strip().splitlines()]
    chi2_by_batch = {int(r[0]): int(r[2]) for r in rows}
    if len(chi2_by_batch) == 2:
        low, high = sorted(chi2_by_batch.values())
        assert high > 10 * max(low, 1)


def test_stream_misra_gries_replay_guard_is_atomic(tmp_path, spark):
    """The applied-batch id (and query id) live INSIDE the state parquet
    — one atomic publish, no side file. Same-lineage restarts re-apply
    nothing; a wiped checkpoint (new query id, recycled batch ids) must
    RAISE rather than silently skip, and the crash-recovery rename
    (state parked at ``.prev``) must restore the state even on the
    refused run."""
    import os
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_misra_gries_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(part_dir), mode="overwrite"
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "mg")
    ckpt = str(tmp_path / "ckpt")
    assert stream_misra_gries_to_parquet(spark, src, out, k=3, checkpoint=ckpt) == 3
    state = spark.read.parquet(out)
    # marker is embedded, not a side file
    assert not os.path.exists(out + ".applied_batch")
    assert state.agg(F.max("applied_batch")).collect()[0][0] == 2
    before = {r["word"]: r["mg_cnt"] for r in state.collect()}

    # same-lineage restart (checkpoint intact): nothing new, no re-adds
    assert stream_misra_gries_to_parquet(spark, src, out, k=3, checkpoint=ckpt) == 0
    after = {r["word"]: r["mg_cnt"] for r in spark.read.parquet(out).collect()}
    assert after == before

    # wiped checkpoint = NEW query id redelivering ids 0-2: pre-round-6
    # the embedded batch-id watermark silently skipped them — which also
    # silently drops genuinely fresh batches after checkpoint loss. The
    # lineage guard now refuses loudly, leaving the state untouched.
    shutil.rmtree(ckpt)
    with _pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_misra_gries_to_parquet(spark, src, out, k=3, checkpoint=ckpt)
    after = {r["word"]: r["mg_cnt"] for r in spark.read.parquet(out).collect()}
    assert after == before

    # crash-window recovery still runs BEFORE the lineage check: state
    # parked at .prev is restored even though the run is then refused
    os.replace(out, out + ".prev")
    with _pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_misra_gries_to_parquet(
            spark, src, out, k=3, checkpoint=str(tmp_path / "ckpt2")
        )
    restored = {r["word"]: r["mg_cnt"] for r in spark.read.parquet(out).collect()}
    assert restored == before


def test_stream_ivf_index_update_applies_batches_exactly_once(tmp_path, spark):
    """The index stays queryable while embedding batches stream in;
    replays (wiped checkpoint) re-apply nothing because the applied
    batch id lives inside each appended parquet commit."""
    import os
    import random

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.ann_index import (
        ivf_index_build,
        ivf_index_search,
    )
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_ivf_index_update,
    )

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])

    index = str(tmp_path / "ivf")
    ivf_index_build(vectors.filter("vec_id < 150"), index, fraction=0.05, salt=7)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        vectors.filter(
            (F.col("vec_id") >= 150 + 50 * i) & (F.col("vec_id") < 200 + 50 * i)
        ).coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"embeddings{i}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    assert stream_ivf_index_update(spark, src, index, checkpoint=ckpt) == 3
    cells = spark.read.parquet(index + "/cells")
    assert cells.count() == 300
    assert cells.agg(F.max("applied_batch")).collect()[0][0] == 2

    # replay everything (fresh checkpoint): embedded markers exclude all
    import shutil

    shutil.rmtree(ckpt)
    assert stream_ivf_index_update(
        spark, src, index, checkpoint=str(tmp_path / "ckpt2")
    ) == 0
    assert spark.read.parquet(index + "/cells").count() == 300

    # a streamed vector is immediately searchable
    q = vectors.filter("vec_id = 299")
    hits = ivf_index_search(spark, index, q, k=3).collect()
    assert len(hits) >= 1 and all(r["query_id"] == 299 for r in hits)


def test_stream_ivf_index_update_fresh_data_after_checkpoint_loss(tmp_path, spark):
    """ADVICE r4: micro-batch ids are CHECKPOINT-scoped. After a lost/
    recreated checkpoint, NEW embedding files arrive under recycled
    batch ids — a max-id replay guard would either drop them forever
    (id below the stored max) or duplicate replayed files (file
    ordering is not contractual, so a replay can land ABOVE the max).
    Every batch therefore content-dedups: the replayed files 0/1 must
    append nothing, the fresh file must append exactly its new vectors
    whatever id it lands on, and no vid may appear twice."""
    import os
    import random
    import shutil

    from super_store_datawarehouse_spark.operators.ann_index import (
        ivf_index_build,
        ivf_index_search,
    )
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_ivf_index_update,
    )

    rng = random.Random(47)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(260)]
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])

    index = str(tmp_path / "ivf")
    ivf_index_build(vectors.filter("vec_id < 100"), index, fraction=0.06, salt=7)

    def drop_file(vmin, vmax, name):
        part_dir = tmp_path / f"stage_{name}"
        vectors.filter(
            f"vec_id >= {vmin} and vec_id < {vmax}"
        ).coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, name))

    src = str(tmp_path / "src")
    os.makedirs(src)
    drop_file(100, 150, "embeddings0.parquet")
    drop_file(150, 200, "embeddings1.parquet")
    ckpt = str(tmp_path / "ckpt")
    assert stream_ivf_index_update(spark, src, index, checkpoint=ckpt) == 2
    assert spark.read.parquet(index + "/cells").count() == 200

    # checkpoint lost; a NEW file arrives alongside the old two. The
    # fresh stream delivers three batches whose ids say nothing about
    # which files are replays — content dedup must sort them out.
    shutil.rmtree(ckpt)
    drop_file(200, 260, "embeddings2.parquet")
    applied = stream_ivf_index_update(
        spark, src, index, checkpoint=str(tmp_path / "ckpt2")
    )
    assert applied == 1  # only the batch carrying unseen vectors
    cells = spark.read.parquet(index + "/cells")
    assert cells.count() == 260
    assert cells.select("vid").distinct().count() == 260  # no dup appends

    # the late-arriving vectors are searchable
    q = vectors.filter("vec_id = 259")
    hits = ivf_index_search(spark, index, q, k=3).collect()
    assert len(hits) >= 1 and all(r["query_id"] == 259 for r in hits)


def test_stream_bloom_dedup_matches_sequential_replay(tmp_path, spark):
    """Bloom-gated streaming dedup must (a) reproduce the deterministic
    sequential replay of the same batches, (b) never emit a key twice
    across batches, (c) accept EVERY key of the first batch (empty
    filter cannot false-drop)."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import bloom_positions
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        length_prefixed_key,
        stream_bloom_dedup_to_parquet,
    )

    def lp(uid, etype):  # the sink's length-prefixed key, python-side
        return f"{len(str(uid))}:{uid}:{etype}"

    ev = load_table(spark, SF_DIR, "events").cache()
    src = str(tmp_path / "src")
    os.makedirs(src)
    # batch 0: users 0-9; batch 1: users 5-14 (keys overlap across batches)
    for i, cond in enumerate([F.col("user_id") < 10,
                              (F.col("user_id") >= 5) & (F.col("user_id") < 15)]):
        ev.filter(cond).coalesce(1).write.parquet(
            str(tmp_path / f"p{i}"), mode="overwrite"
        )
        part = [f for f in os.listdir(tmp_path / f"p{i}") if f.endswith(".parquet")][0]
        os.rename(tmp_path / f"p{i}" / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "accepted")
    state = str(tmp_path / "bloom_state")
    ckpt = str(tmp_path / "ckpt")
    n = stream_bloom_dedup_to_parquet(
        spark, src, out, state, m_bits=1024, checkpoint=ckpt
    )
    assert n == 2
    got = spark.read.parquet(out)
    keys = [r["k"] for r in got.select(
        length_prefixed_key("user_id", "event_type").alias("k")).collect()]
    # (b) never a duplicate emission
    assert len(keys) == len(set(keys))

    # (a) sequential replay with the same operator semantics
    m = 1024
    pos_of = {}
    for r in (
        ev.filter(F.col("user_id") < 15)
        .select(length_prefixed_key("user_id", "event_type").alias("k"))
        .distinct()
        .select("k", bloom_positions("k", m, 2).alias("ps"))
        .collect()
    ):
        pos_of[r["k"]] = list(r["ps"])
    bits: set[int] = set()
    expect: set[str] = set()
    for cond in [lambda u, _: u < 10, lambda u, _: 5 <= u < 15]:
        batch_keys = {
            lp(r["user_id"], r["event_type"])
            for r in ev.filter(F.col("user_id") < 15).collect()
            if cond(r["user_id"], None)
        }
        accepted = {
            k for k in batch_keys if not all(p in bits for p in pos_of[k])
        }
        expect |= accepted
        for k in accepted:
            bits.update(pos_of[k])
    assert set(keys) == expect
    # (c) batch 0 accepts all its keys
    b0_keys = {
        lp(r["user_id"], r["event_type"])
        for r in ev.filter(F.col("user_id") < 10).collect()
    }
    assert b0_keys <= set(keys) or b0_keys <= expect

    # restart on the same checkpoint: nothing new emitted, no crash
    n2 = stream_bloom_dedup_to_parquet(
        spark, src, out, state, m_bits=1024, checkpoint=ckpt
    )
    assert n2 == 0
    assert spark.read.parquet(out).count() == len(keys)


def test_stream_bloom_dedup_checkpoint_loss_self_heals(tmp_path, spark):
    """Deleting the checkpoint (ids restart at 0) and re-running against
    the SAME state/output must re-emit nothing: every redelivered batch
    finds its keys in the filter, accepts nothing, and the empty-skip
    path leaves the originally-published partitions untouched."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_bloom_dedup_to_parquet,
    )

    ev = load_table(spark, SF_DIR, "events").filter(F.col("user_id") < 12).cache()
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, cond in enumerate([F.col("user_id") < 6, F.col("user_id") >= 6]):
        ev.filter(cond).coalesce(1).write.parquet(
            str(tmp_path / f"p{i}"), mode="overwrite"
        )
        part = [f for f in os.listdir(tmp_path / f"p{i}") if f.endswith(".parquet")][0]
        os.rename(tmp_path / f"p{i}" / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "accepted")
    state = str(tmp_path / "bloom_state")
    ckpt = str(tmp_path / "ckpt")
    stream_bloom_dedup_to_parquet(spark, src, out, state, 1024, checkpoint=ckpt)
    before = sorted(
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(out).collect()
    )
    assert before
    # checkpoint loss: ids restart, every file redelivered
    shutil.rmtree(ckpt)
    n = stream_bloom_dedup_to_parquet(spark, src, out, state, 1024, checkpoint=ckpt)
    assert n == 2  # batches processed, none emitted
    after = sorted(
        (r["user_id"], r["event_type"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_stream_dq_monitor_reports_planted_violations(tmp_path, spark):
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_dq_monitor

    events = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    clean = events.limit(1000).select(*cols)
    # planted batch: NULL values, out-of-range values, a bogus event
    # type, and duplicated event_ids (4 rows unioned twice)
    dirty = (
        clean.withColumn(
            "value",
            F.when(F.col("event_id") % 100 == 0, F.lit(None).cast("double"))
            .when(F.col("event_id") % 100 == 1, F.col("value") + 1e12)
            .otherwise(F.col("value")),
        )
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 100 == 2, F.lit("__bogus__"))
            .otherwise(F.col("event_type")),
        )
        .unionByName(clean.filter(F.col("event_id") % 250 == 3))
    )
    n_rows = dirty.count()
    n_null = dirty.filter(F.col("value").isNull()).count()
    n_range = dirty.filter(~F.col("value").between(-1e11, 1e11) | F.col("value").isNull()).count()
    n_bogus = dirty.filter(F.col("event_type") == "__bogus__").count()
    n_dupkeys = (
        dirty.groupBy("event_id").count().filter("count > 1").count()
    )
    assert min(n_null, n_bogus, n_dupkeys) > 0  # the plants actually planted

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, df in enumerate((clean, dirty)):
        part_dir = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "dq")
    n = stream_dq_monitor(
        spark, src, reference=clean, out_path=out,
        checkpoint=str(tmp_path / "ckpt"),
    )
    assert n == 2
    rep = spark.read.parquet(out + "/batch=*")
    rows = {(r["batch_id"], r["check_name"]): r for r in rep.collect()}
    assert len(rows) == 8  # 2 batches x 4 checks
    by_batch = {}
    for (b, _), r in rows.items():
        by_batch.setdefault(b, []).append(r)
    # one batch fully clean, the other carries every planted violation
    clean_b = [b for b, rs in by_batch.items() if all(x["passed"] for x in rs)]
    dirty_b = [b for b, rs in by_batch.items() if not all(x["passed"] for x in rs)]
    assert len(clean_b) == 1 and len(dirty_b) == 1
    d = {r["check_name"]: r for r in by_batch[dirty_b[0]]}
    assert d["value.not_null"]["n_violations"] == n_null
    assert d["value.not_null"]["n_checked"] == n_rows
    # NULL value cannot satisfy the range expectation either
    assert d["value.in_reference_range"]["n_violations"] == n_range
    assert d["event_type.in_reference_domain"]["n_violations"] == n_bogus
    assert d["event_id.unique_in_batch"]["n_violations"] == n_dupkeys


def test_stream_dq_monitor_replay_is_idempotent(tmp_path, spark):
    import os
    import shutil

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_dq_monitor

    events = load_table(spark, SF_DIR, "events")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    clean = events.limit(500).select(*cols)
    src = str(tmp_path / "src")
    os.makedirs(src)
    part_dir = tmp_path / "part0"
    clean.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
    part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
    os.rename(part_dir / part, os.path.join(src, "events0.parquet"))

    out = str(tmp_path / "dq")
    stream_dq_monitor(spark, src, reference=clean, out_path=out,
                      checkpoint=str(tmp_path / "ckpt"))
    first = sorted(tuple(r) for r in spark.read.parquet(out + "/batch=*").collect())
    # checkpoint loss: the whole stream replays from scratch
    shutil.rmtree(str(tmp_path / "ckpt"))
    stream_dq_monitor(spark, src, reference=clean, out_path=out,
                      checkpoint=str(tmp_path / "ckpt"))
    second = sorted(tuple(r) for r in spark.read.parquet(out + "/batch=*").collect())
    assert first == second and len(first) == 4


def _plant_events_split(spark, tmp_path, src, i, mod=3):
    """Write 1/mod of the events table as src/events{i}.parquet."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table

    events = load_table(spark, SF_DIR, "events")
    stage = tmp_path / f"part{i}"
    events.filter(F.col("event_id") % mod == i).coalesce(1).write.parquet(
        str(stage), mode="overwrite"
    )
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.rename(stage / part, os.path.join(src, f"events{i}.parquet"))


def test_stream_countmin_checkpoint_loss_fails_loud(tmp_path, spark):
    """ADVICE r5 / VERDICT r5 #3: with the checkpoint lost, batch ids
    restart at 0 and the additive CMS sink's watermark guard would
    silently skip FRESH batches as 'replays'. Counters can't be
    content-deduped, so the sink must refuse loudly — state unchanged —
    rather than drop or double-add."""
    import pytest as _pytest

    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_countmin_to_parquet,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _plant_events_split(spark, tmp_path, src, 0)
    _plant_events_split(spark, tmp_path, src, 1)
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    assert stream_countmin_to_parquet(spark, src, out, checkpoint=ckpt) >= 1
    before = {(r["r"], r["pos"]): r["cnt"] for r in spark.read.parquet(out).collect()}

    # checkpoint lost; fresh data arrives; a NEW query id re-reads all
    # files under recycled batch ids starting at 0
    shutil.rmtree(ckpt)
    _plant_events_split(spark, tmp_path, src, 2)
    with _pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_countmin_to_parquet(
            spark, src, out, checkpoint=str(tmp_path / "ckpt2")
        )
    # loud refusal, not partial merge: state is bit-identical
    after = {(r["r"], r["pos"]): r["cnt"] for r in spark.read.parquet(out).collect()}
    assert after == before

    # the original checkpoint lineage (same query id) still restarts fine
    # against legacy-format/own state: same-checkpoint restart path is
    # covered by test_stream_countmin_restart_exactly_once.


def test_stream_misra_gries_checkpoint_loss_fails_loud(tmp_path, spark):
    """Same lineage guard for the MG summary: the query id is embedded
    INSIDE the state parquet (atomic with applied_batch); a run under a
    different query id must raise, leaving the summary untouched."""
    import pytest as _pytest

    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_misra_gries_to_parquet,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    _plant_events_split(spark, tmp_path, src, 0)
    _plant_events_split(spark, tmp_path, src, 1)
    out = str(tmp_path / "mg")
    ckpt = str(tmp_path / "ckpt")
    assert stream_misra_gries_to_parquet(spark, src, out, k=4, checkpoint=ckpt) >= 1
    state = spark.read.parquet(out)
    assert "query_id" in state.columns  # lineage token rides the swap
    before = {(r["word"], r["mg_cnt"]) for r in state.collect()}

    shutil.rmtree(ckpt)
    _plant_events_split(spark, tmp_path, src, 2)
    with _pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_misra_gries_to_parquet(
            spark, src, out, k=4, checkpoint=str(tmp_path / "ckpt2")
        )
    after = {(r["word"], r["mg_cnt"]) for r in spark.read.parquet(out).collect()}
    assert after == before


def test_stream_sessionize_matches_batch_on_finalized_sessions(tmp_path, spark):
    """Append-mode session_window stream: every emitted session must
    exactly match the batch session build, and every session ending
    comfortably before the final watermark must have been emitted
    (finalized-and-dropped, the bounded-state contract)."""
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_sessionize_to_parquet,
    )

    out = str(tmp_path / "sessions")
    n = stream_sessionize_to_parquet(spark, SF_DIR, out)
    assert n >= 1
    got = {
        (r["user_id"], r["session_start"], r["session_end"]):
        (r["n_events"], r["first_event_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert len(got) > 0

    ev = load_table(spark, SF_DIR, "events")
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("event_id").alias("first_event_id"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "first_event_id")
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"]):
        (r["n_events"], r["first_event_id"])
        for r in batch.collect()
    }
    # (a) everything emitted is a true finalized session, values exact
    for k, v in got.items():
        assert want[k] == v
    # (b) completeness: sessions ending >= gap+watermark+1h before the
    # stream's max event time are unambiguously finalized -> must emit
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=3, minutes=30)
    must_emit = {k for k in want if k[2] < cutoff}
    assert must_emit, "fixture too small to exercise finalization"
    missing = must_emit - set(got)
    assert not missing


def test_stream_pq_index_update_exactly_once_and_fingerprint(tmp_path, spark):
    """Streaming PQ face (round 9): batches encode against the frozen
    codebook; replays (wiped checkpoint) append nothing via content
    dedup; the incrementally-maintained fingerprint stays consistent
    with the grown corpus so ensure() reuses without a rebuild; a
    streamed vector is immediately searchable."""
    import os
    import random
    import shutil

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.ann_index import (
        pq_index_build,
        pq_index_ensure,
        pq_index_search,
    )
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_pq_index_update,
    )

    rng = random.Random(53)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    vectors = spark.createDataFrame(rows, ["vec_id", "embedding"])

    index = str(tmp_path / "pq")
    budget = dict(m=4, dim=8, codebook_buckets=500, salt=13, codebook_size=16)
    pq_index_build(vectors.filter("vec_id < 150"), index, **budget)

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        vectors.filter(
            (F.col("vec_id") >= 150 + 50 * i) & (F.col("vec_id") < 200 + 50 * i)
        ).coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"embeddings{i}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    assert stream_pq_index_update(spark, src, index, checkpoint=ckpt) == 3
    codes = spark.read.parquet(index + "/pq_codes")
    assert codes.select("vid").distinct().count() == 300

    # replay everything (fresh checkpoint): content dedup excludes all
    shutil.rmtree(ckpt)
    assert stream_pq_index_update(
        spark, src, index, checkpoint=str(tmp_path / "ckpt2")
    ) == 0
    assert spark.read.parquet(index + "/pq_codes").select("vid").distinct().count() == 300

    # the incrementally-maintained fingerprint matches the grown corpus
    assert pq_index_ensure(vectors, index, **budget)["rebuilt"] is False

    # a streamed vector is immediately searchable
    q = vectors.filter("vec_id = 299")
    hits = pq_index_search(spark, index, q, k=3).collect()
    assert len(hits) == 3 and all(r["query_id"] == 299 for r in hits)


def test_stream_quantile_summary_bound_and_restart(tmp_path, spark):
    """Streaming rank-compaction summary: state stays within the row
    budget, the embedded err_unit/k_now certify the live rank bound
    against exact ranks, weights conserve the stream count exactly,
    and a checkpoint restart re-applies nothing."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sampling import knuth_hash
    from super_store_datawarehouse_spark.operators.sketches import (
        summary_quantiles,
    )
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_quantile_summary_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        part_dir = tmp_path / f"part{i}"
        events.filter(F.col("event_id") % 3 == i).coalesce(1).write.parquet(
            str(part_dir), mode="overwrite"
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(part_dir / part, os.path.join(src, f"events{i}.parquet"))

    out = str(tmp_path / "qsum")
    ckpt = str(tmp_path / "ckpt")
    strata, max_rows = 8, 512
    assert (
        stream_quantile_summary_to_parquet(
            spark, src, out, strata=strata, k=32, max_rows=max_rows,
            checkpoint=ckpt,
        )
        == 3
    )

    state = spark.read.parquet(out)
    n_state = state.count()
    assert n_state <= max_rows
    meta = state.agg(
        F.max("k_now").alias("k"), F.max("err_unit").alias("e")
    ).collect()[0]
    bound = strata * int(meta["e"]) + int(meta["k"])

    vals = sorted(
        r["v"]
        for r in events.select(
            F.round(F.col("value") * 100).cast("long").alias("v")
        ).collect()
    )
    # weights partition the stream count exactly
    assert state.agg(F.sum("weight")).collect()[0][0] == len(vals)

    summary = state.select("stratum", "value", "weight")
    for pct in (50, 90):
        row = summary_quantiles(summary, [(f"p{pct}", pct)]).collect()[0]
        target = (pct * len(vals) + 99) // 100
        est_rank = sum(1 for v in vals if v <= row["est"])
        assert 0 <= est_rank - target < bound, (pct, est_rank - target, bound)

    # restart from the same checkpoint: nothing re-applies
    assert (
        stream_quantile_summary_to_parquet(
            spark, src, out, strata=strata, k=32, max_rows=max_rows,
            checkpoint=ckpt,
        )
        == 0
    )
    assert spark.read.parquet(out).count() == n_state


def test_stream_quantile_summary_survives_empty_first_batch(tmp_path, spark):
    """ADVICE r10: a zero-row FIRST micro-batch must not poison the
    sink — the old code published a 0-row state parquet whose max()
    metadata read None, so int(None) crashed every subsequent batch.
    Now an empty compaction on fresh state publishes nothing, and the
    next (real) batch starts from fresh-state defaults."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_quantile_summary_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def drop(df, name):
        part_dir = tmp_path / f"stage_{name}"
        df.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(str(part_dir / part), os.path.join(src, name))

    drop(events.limit(0), "events0.parquet")  # zero-row first file
    out = str(tmp_path / "qsum")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(strata=4, k=32, max_rows=512, checkpoint=ckpt)
    assert stream_quantile_summary_to_parquet(spark, src, out, **kw) == 1
    assert not os.path.isdir(out)  # nothing published for the empty batch

    drop(events.filter(F.col("event_id") % 7 == 0), "events1.parquet")
    assert stream_quantile_summary_to_parquet(spark, src, out, **kw) == 1
    state = spark.read.parquet(out)
    n = events.filter(F.col("event_id") % 7 == 0).count()
    assert state.agg(F.sum("weight")).collect()[0][0] == n
    assert state.agg(F.max("k_now")).collect()[0][0] is not None


def test_stream_countmin_marker_is_in_state(tmp_path, spark):
    """VERDICT r10 #7: the CMS sink's applied-batch marker lives INSIDE
    the state parquet — no side file exists after a run (so there is no
    marker-vs-state skew window to crash into), and a legacy state with
    a side marker is migrated: the marker is honored (no double-add)
    and retired on the next publish."""
    import json
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import countmin_build
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_countmin_to_parquet,
    )

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)

    def plant(i):
        part_dir = tmp_path / f"part{i}"
        events.filter(F.col("event_id") % 2 == i).coalesce(1).write.parquet(
            str(part_dir), mode="overwrite"
        )
        part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
        os.rename(str(part_dir / part), os.path.join(src, f"events{i}.parquet"))

    plant(0)
    out = str(tmp_path / "sketch")
    ckpt = str(tmp_path / "ckpt")
    assert stream_countmin_to_parquet(spark, src, out, checkpoint=ckpt) >= 1
    state = spark.read.parquet(out)
    assert {"applied_batch", "query_id"} <= set(state.columns)
    assert not os.path.exists(out + ".applied_batch")  # no side file

    # ---- legacy migration: strip the in-state marker, plant the old
    # side-marker format, and continue the same checkpointed stream ----
    legacy = state.select("r", "pos", "cnt")
    legacy_dir = str(tmp_path / "legacy_stage")
    legacy.write.mode("overwrite").parquet(legacy_dir)
    import shutil

    applied = state.agg(F.max("applied_batch")).collect()[0][0]
    stored_qid = state.agg(F.max("query_id")).collect()[0][0]
    shutil.rmtree(out)
    os.replace(legacy_dir, out)
    with open(out + ".applied_batch", "w") as fh:
        fh.write(json.dumps({"applied_batch": int(applied), "query_id": stored_qid}))

    plant(1)  # new arrival; replays must not double-add under the legacy marker
    assert stream_countmin_to_parquet(spark, src, out, checkpoint=ckpt) >= 1
    got = {
        (r["r"], r["pos"]): r["cnt"] for r in spark.read.parquet(out).collect()
    }
    want = {
        (r["r"], r["pos"]): r["cnt"]
        for r in countmin_build(
            events.select(F.col("event_type").alias("word"))
        ).collect()
    }
    assert got == want  # exactly-once across the migration
    assert not os.path.exists(out + ".applied_batch")  # side file retired


def test_stream_hll_marker_is_in_state(tmp_path, spark):
    """The HLL sink's processed-count marker publishes atomically with
    the registers (in-state column); no side file is left behind."""
    import os

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from super_store_datawarehouse_spark.streaming.jobs import stream_hll_to_parquet

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    os.makedirs(src)
    part_dir = tmp_path / "part0"
    events.coalesce(1).write.parquet(str(part_dir), mode="overwrite")
    part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
    os.rename(str(part_dir / part), os.path.join(src, "events0.parquet"))

    out = str(tmp_path / "hll")
    assert stream_hll_to_parquet(spark, src, out) == 1
    state = spark.read.parquet(out)
    assert "applied_batch" in state.columns
    assert state.agg(F.max("applied_batch")).collect()[0][0] == 0
    assert not os.path.exists(out + ".applied_batch")



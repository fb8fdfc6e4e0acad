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

    # a crash strands the state at <dir>.prev: the next run restores it
    # and merges into it, so replaying one file keeps every user's
    # latest version instead of starting over from that file alone
    os.replace(out, out + ".prev")
    for i in (1, 2):
        os.rename(os.path.join(src, f"events{i}.parquet"), tmp_path / f"events{i}.parquet")
    assert stream_upserts_to_parquet(spark, src, out) == 1
    assert not os.path.exists(out + ".prev")
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


    # the original checkpoint lineage (same query id) still restarts fine
    # against legacy-format/own state: same-checkpoint restart path is
    # covered by test_stream_countmin_restart_exactly_once.


def test_stream_quantile_summary_bound_and_restart(tmp_path, spark):
    """Streaming rank-compaction summary: state stays within the row
    budget, the embedded err_unit/k_now certify the live rank bound
    against exact ranks, weights conserve the stream count exactly,
    and a checkpoint restart re-applies nothing. The publish protocol:
    the marker lives inside the state with no side file, a wiped
    checkpoint is refused loudly, and a state stranded at ``.prev`` is
    restored even when the run is then refused."""
    import os

    from pyspark.sql import functions as F

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
    # the marker rides inside the state: no side file, no parked .prev
    assert [p for p in os.listdir(tmp_path) if p.startswith("qsum")] == ["qsum"]
    marker = state.select("applied_batch", "query_id").distinct().collect()
    assert len(marker) == 1 and marker[0]["applied_batch"] == 2
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

    def rows():
        return sorted(tuple(r) for r in spark.read.parquet(out).collect())

    before = rows()
    kw = dict(strata=strata, k=32, max_rows=max_rows)
    # wiped checkpoint = a new query id re-reading the files under batch
    # ids 0-2: the batch-id watermark would skip them silently, so the
    # lineage check refuses loudly and leaves the state untouched
    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_quantile_summary_to_parquet(spark, src, out, checkpoint=ckpt, **kw)
    assert rows() == before

    # a crash strands the state at .prev: it is restored before the
    # lineage check, so the refused run still leaves it in place
    os.replace(out, out + ".prev")
    with pytest.raises(Exception, match="query id|lineage|checkpoint"):
        stream_quantile_summary_to_parquet(
            spark, src, out, checkpoint=str(tmp_path / "ckpt2"), **kw
        )
    assert not os.path.exists(out + ".prev")
    assert rows() == before


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

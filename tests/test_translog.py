"""Transactional table format (sources/translog.py): atomic commits,
snapshot isolation, time travel, upsert, compaction, vacuum, and
crash-orphan invisibility."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.sources.translog import (
    _stage,
    txn_compact,
    txn_read,
    txn_upsert,
    txn_vacuum,
    txn_versions,
    txn_write,
)


def test_append_overwrite_and_time_travel(tmp_path, spark):
    path = str(tmp_path / "t")
    v1 = txn_write(spark.range(0, 10).withColumn("v", F.col("id") * 2), path)
    v2 = txn_write(spark.range(10, 15).withColumn("v", F.col("id") * 2), path)
    assert (v1, v2) == (1, 2)
    assert txn_read(spark, path).count() == 15
    assert txn_read(spark, path, version=1).count() == 10
    v3 = txn_write(
        spark.range(100, 103).withColumn("v", F.lit(0).cast("long")),
        path,
        mode="overwrite",
    )
    assert v3 == 3
    assert sorted(r.id for r in txn_read(spark, path).collect()) == [100, 101, 102]
    # time travel across the overwrite still sees the old snapshot
    assert txn_read(spark, path, version=2).count() == 15


def test_uncommitted_staged_files_are_invisible(tmp_path, spark):
    path = str(tmp_path / "t")
    txn_write(spark.range(0, 5), path)
    # simulate a writer that crashed after staging, before commit
    _stage(spark.range(1000, 2000), path)
    assert txn_read(spark, path).count() == 5
    # vacuum removes the orphans
    removed = txn_vacuum(path)
    assert removed > 0
    assert txn_read(spark, path).count() == 5


def test_commit_collision_retries_blind_append(tmp_path, spark):
    """Two appends racing for the same version must both land."""
    from super_store_datawarehouse_spark.sources import translog

    path = str(tmp_path / "t")
    txn_write(spark.range(0, 5), path)

    original = translog._commit
    state = {"injected": False}

    def racing_commit(p, files, op, expect_head, stats=None):
        if not state["injected"]:
            state["injected"] = True
            # another appender lands version expect_head+1 first (its
            # manifest, like any append, carries the prior snapshot's files)
            prior = translog._read_manifest(p, expect_head)["files"]
            original(p, prior, "append", expect_head)
        return original(p, files, op, expect_head, stats)

    translog._commit = racing_commit
    try:
        txn_write(spark.range(5, 9), path)
    finally:
        translog._commit = original
    # both the interloper (v2) and our append (v3) committed
    assert txn_versions(path) == [1, 2, 3]
    assert txn_read(spark, path).count() == 9


def test_txn_upsert_latest_wins(tmp_path, spark):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1)], "k int, payload string, version int"
    )
    txn_upsert(spark, base, path, ["k"], "version")
    updates = spark.createDataFrame(
        [(2, "b2", 2), (3, "c", 2)], "k int, payload string, version int"
    )
    txn_upsert(spark, updates, path, ["k"], "version")
    got = {r.k: r.payload for r in txn_read(spark, path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def test_compact_preserves_rows_and_old_readers(tmp_path, spark):
    path = str(tmp_path / "t")
    for i in range(4):
        txn_write(spark.range(i * 100, (i + 1) * 100).repartition(8), path)
    before = txn_read(spark, path)
    n_files_before = len(before.inputFiles())
    snapshot_version = txn_versions(path)[-1]
    v = txn_compact(spark, path, target_file_mb=512)
    after = txn_read(spark, path)
    assert after.count() == 400
    assert len(after.inputFiles()) < n_files_before
    # a reader pinned to the pre-compaction snapshot is undisturbed
    assert txn_read(spark, path, version=snapshot_version).count() == 400
    assert v == snapshot_version + 1


def test_vacuum_retention_drops_history_not_head(tmp_path, spark):
    path = str(tmp_path / "t")
    txn_write(spark.range(0, 50).repartition(4), path)
    txn_write(spark.range(0, 10), path, mode="overwrite")
    removed = txn_vacuum(path)
    assert removed >= 1  # v1's files are unreferenced by the overwrite
    assert txn_versions(path) == [2]
    assert txn_read(spark, path).count() == 10
    with pytest.raises(ValueError):
        txn_read(spark, path, version=1)


def test_read_missing_table_raises(tmp_path, spark):
    with pytest.raises(FileNotFoundError):
        txn_read(spark, str(tmp_path / "nope"))


def test_txn_scan_stats_pruning_matches_full_filter(tmp_path, spark):
    """Manifest min/max skipping: a range predicate reads only the
    overlapping files, and the result is identical to filtering the full
    snapshot."""
    from super_store_datawarehouse_spark.sources.translog import (
        txn_prune_files,
        txn_scan,
    )

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        txn_write(
            spark.range(lo, lo + 100).withColumn("v", F.col("id") * 3).coalesce(1),
            path,
        )
    kept, total = txn_prune_files(path, "id", 120, 180)
    assert total == 3 and len(kept) == 1
    got = sorted(r.id for r in txn_scan(spark, path, "id", 120, 180).collect())
    want = sorted(
        r.id for r in txn_read(spark, path).filter("id between 120 and 180").collect()
    )
    assert got == want and len(got) == 61
    # unbounded side + conservative keep: no row lost under any bound mix
    assert txn_scan(spark, path, "id", lo=250).count() == 50
    assert txn_scan(spark, path, "id", hi=99).count() == 100


def test_txn_stats_survive_compaction_and_upsert(tmp_path, spark):
    """Stats are re-collected for every rewrite path (they all funnel
    through txn_write), so skipping keeps working after compaction and
    MERGE."""
    from super_store_datawarehouse_spark.sources.translog import (
        txn_prune_files,
        txn_scan,
    )

    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        txn_write(
            spark.range(lo, lo + 100)
            .withColumn("v", F.col("id") * 3)
            .withColumn("version", F.lit(1).cast("long"))
            .coalesce(1),
            path,
        )
    txn_compact(spark, path, target_file_mb=1, sort_by=["id"])
    kept, total = txn_prune_files(path, "id", 0, 50)
    assert len(kept) <= total  # stats present; pruning still legal
    assert txn_scan(spark, path, "id", 0, 50).count() == 51
    ups = (
        spark.range(40, 60)
        .withColumn("v", F.lit(-1).cast("long"))
        .withColumn("version", F.lit(2).cast("long"))
    )
    txn_upsert(spark, ups, path, ["id"], "version")
    assert txn_scan(spark, path, "id", 40, 59).count() == 20
    assert (
        txn_scan(spark, path, "id", 40, 59).filter("v = -1").count() == 20
    )


def test_txn_diff_versions_reports_churn_rows_and_schema_drift(tmp_path, spark):
    from super_store_datawarehouse_spark.sources.translog import txn_diff_versions

    path = str(tmp_path / "t")
    txn_write(spark.range(0, 100).withColumn("v", F.col("id") * 2), path)       # v1
    txn_write(spark.range(100, 130).withColumn("v", F.col("id") * 2), path)     # v2 append
    txn_write(                                                                   # v3 overwrite, drift
        spark.range(0, 50).withColumn("w", F.lit("x")),
        path,
        mode="overwrite",
    )
    d12 = txn_diff_versions(path, 1, 2)
    assert d12["rows_old"] == 100 and d12["rows_new"] == 130
    assert d12["files_added"] > 0 and d12["files_removed"] == 0
    assert d12["columns_added"] == [] and d12["columns_removed"] == []
    d23 = txn_diff_versions(path, 2, 3)
    assert d23["rows_new"] == 50
    assert d23["columns_added"] == ["w"] and d23["columns_removed"] == ["v"]
    assert d23["files_removed"] > 0

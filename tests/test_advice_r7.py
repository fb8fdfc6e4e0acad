"""Round-7 ADVICE regression tests.

1. The Bloom-dedup stream's persisted state embeds a key-format version
   token; resuming over state written under a DIFFERENT key derivation
   fails loudly instead of silently re-admitting previously-seen keys
   (the bits are a pure function of the key string, so old bits are
   meaningless under a new key format). Pre-token state resumes as
   implicit lpk1 — its derivation is unchanged (ADVICE r7 #5 revision).
2. scoped_cache()/release_scoped_caches() are lock-guarded: concurrent
   registration + release never corrupts the registry.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.sources.testdata import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _write_event_batch(spark, tmp_path, src, name, cond):
    ev = load_table(spark, SF_DIR, "events")
    stage = tmp_path / f"stage_{name}"
    ev.filter(cond).coalesce(1).write.parquet(str(stage), mode="overwrite")
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    os.makedirs(src, exist_ok=True)
    os.rename(str(stage / part), os.path.join(src, f"events_{name}.parquet"))


def _run_bloom(spark, tmp_path, ckpt="ckpt"):
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_bloom_dedup_to_parquet,
    )

    return stream_bloom_dedup_to_parquet(
        spark,
        str(tmp_path / "src"),
        str(tmp_path / "out"),
        str(tmp_path / "state"),
        m_bits=1024,
        checkpoint=str(tmp_path / ckpt),
    )


def test_bloom_state_carries_key_format_token(tmp_path, spark):
    from super_store_datawarehouse_spark.streaming.jobs import BLOOM_KEY_FORMAT

    src = str(tmp_path / "src")
    _write_event_batch(spark, tmp_path, src, "b0", F.col("user_id") < 10)
    assert _run_bloom(spark, tmp_path) == 1
    state = spark.read.parquet(str(tmp_path / "state"))
    assert "key_format" in state.columns
    fmts = {r["key_format"] for r in state.select("key_format").distinct().collect()}
    assert fmts == {BLOOM_KEY_FORMAT}


def _rewrite_state(spark, tmp_path, transform):
    """Round-trip the state parquet through `transform` (simulating state
    written by an older build)."""
    import shutil

    state_dir = str(tmp_path / "state")
    df = transform(spark.read.parquet(state_dir)).cache()
    df.count()
    shutil.rmtree(state_dir)
    df.write.parquet(state_dir)
    df.unpersist()


def test_bloom_resume_accepts_legacy_state_as_implicit_lpk1(tmp_path, spark):
    """Pre-versioning state (no key_format column) used the SAME lpk1
    key derivation the token now names — its bits are valid, so it
    resumes as implicit lpk1 instead of forcing a full reset (ADVICE r7
    #5: only an EXPLICIT mismatch rejects). The resumed state must (a)
    keep suppressing keys the legacy bits already admitted and (b) be
    re-written WITH the token."""
    from super_store_datawarehouse_spark.streaming.jobs import BLOOM_KEY_FORMAT

    src = str(tmp_path / "src")
    _write_event_batch(spark, tmp_path, src, "b0", F.col("user_id") < 10)
    assert _run_bloom(spark, tmp_path) == 1
    # strip the token — the shape a pre-versioning build persisted
    _rewrite_state(spark, tmp_path, lambda df: df.drop("key_format"))
    _write_event_batch(
        spark, tmp_path, src, "b1",
        (F.col("user_id") >= 10) & (F.col("user_id") < 20),
    )
    assert _run_bloom(spark, tmp_path) == 1  # resumes, one NEW batch
    out = spark.read.parquet(str(tmp_path / "out"))
    keys = [r["k"] for r in out.select(
        F.concat_ws(":", "user_id", "event_type").alias("k")).collect()]
    assert len(keys) == len(set(keys))  # legacy bits still suppress dups
    state = spark.read.parquet(str(tmp_path / "state"))
    assert "key_format" in state.columns  # token restored on the swap
    fmts = {r["key_format"] for r in state.select("key_format").distinct().collect()}
    assert fmts == {BLOOM_KEY_FORMAT}


def test_bloom_resume_rejects_mismatched_token(tmp_path, spark):
    src = str(tmp_path / "src")
    _write_event_batch(spark, tmp_path, src, "b0", F.col("user_id") < 10)
    assert _run_bloom(spark, tmp_path) == 1
    _rewrite_state(
        spark, tmp_path,
        lambda df: df.withColumn("key_format", F.lit("lpk0")),
    )
    _write_event_batch(
        spark, tmp_path, src, "b1",
        (F.col("user_id") >= 10) & (F.col("user_id") < 20),
    )
    with pytest.raises(Exception, match="key.format|key format"):
        _run_bloom(spark, tmp_path)


def test_bloom_matching_token_resumes_cleanly(tmp_path, spark):
    """Control for the two reject tests: untouched state + a fresh batch
    resumes and emits only the new keys."""
    src = str(tmp_path / "src")
    _write_event_batch(spark, tmp_path, src, "b0", F.col("user_id") < 10)
    assert _run_bloom(spark, tmp_path) == 1
    _write_event_batch(
        spark, tmp_path, src, "b1",
        (F.col("user_id") >= 10) & (F.col("user_id") < 20),
    )
    assert _run_bloom(spark, tmp_path) == 1  # one NEW batch processed
    out = spark.read.parquet(str(tmp_path / "out"))
    keys = [r["k"] for r in out.select(
        F.concat_ws(":", "user_id", "event_type").alias("k")).collect()]
    assert len(keys) == len(set(keys))  # still no duplicate emissions


def test_scoped_cache_registry_is_lock_guarded(spark):
    from super_store_datawarehouse_spark.session import (
        _SCOPED_CACHED_FRAMES,
        release_scoped_caches,
        scoped_cache,
    )

    release_scoped_caches()  # start clean
    base = spark.range(10)
    errors: list[Exception] = []

    def register(n):
        try:
            for i in range(n):
                scoped_cache(base.withColumn("i", F.lit(i)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def release(n):
        try:
            for _ in range(n):
                release_scoped_caches()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=register, args=(20,)) for _ in range(4)]
    threads += [threading.Thread(target=release, args=(10,)) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    release_scoped_caches()
    assert not errors
    assert _SCOPED_CACHED_FRAMES == []

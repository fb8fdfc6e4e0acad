"""Round-12 optimization tests.

- VERDICT r11 #7: the streaming sinks' in-state marker read must be an
  O(1)-row slice (the marker columns are constant per publish), not a
  full-state aggregate — while keeping the fresh/0-row fallbacks the
  sinks rely on for exactly-once.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.streaming.jobs import _read_state_meta


def test_state_meta_reads_marker_from_one_row_slice(tmp_path, spark):
    out = str(tmp_path / "state")
    # constant marker columns over a multi-row state (what
    # _publish_state_atomic callers write)
    spark.range(0, 500).select(
        F.col("id").alias("value"),
        F.lit(7).cast("long").alias("applied_batch"),
        F.lit("qid-abc").alias("query_id"),
        F.lit(32).cast("long").alias("k_now"),
    ).write.mode("overwrite").parquet(out)
    state, meta = _read_state_meta(spark, out, extra=(("k_now", 16),))
    assert state is not None and state.count() == 500
    assert meta == {"query_id": "qid-abc", "applied_batch": 7, "k_now": 32}
    # the marker read plans a CollectLimit (O(1)-row slice), never a
    # full-state aggregate
    plan = state.select("applied_batch").limit(1)._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" in plan


def test_state_meta_absent_and_zero_row_defaults(tmp_path, spark):
    absent = str(tmp_path / "nope")
    state, meta = _read_state_meta(spark, absent, extra=(("k_now", 16),))
    assert state is None
    assert meta == {"query_id": None, "applied_batch": -1, "k_now": 16}
    # 0-row state with marker columns: defaults, not a crash
    out = str(tmp_path / "zero")
    spark.range(0, 1).filter("id < 0").select(
        F.col("id").alias("value"),
        F.lit(0).cast("long").alias("applied_batch"),
        F.lit("q").alias("query_id"),
    ).write.mode("overwrite").parquet(out)
    state, meta = _read_state_meta(spark, out)
    assert state is not None
    assert meta == {"query_id": None, "applied_batch": -1}


def test_kmeans_fused_update_matches_unfused(spark):
    """Round-12 k-means optimization: the fused assign+partial-sum
    Arrow pass must produce bit-identical centroid updates to the
    unfused assign→JVM-aggregate path (integer sums commute exactly)."""
    import random

    from super_store_datawarehouse_spark.operators.clustering import (
        assign_clusters_np,
        quantize_vec,
        update_centroids,
        updated_centroids_np,
    )

    rng = random.Random(99)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qdf = emb.select(
        F.col("vec_id"), quantize_vec(F.col("embedding")).alias("q")
    )
    seeds = [
        (i, list(r["q"]))
        for i, r in enumerate(qdf.orderBy("vec_id").limit(5).collect())
    ]
    unfused = update_centroids(assign_clusters_np(qdf, seeds), seeds)
    fused = updated_centroids_np(qdf, seeds)
    assert fused == unfused
    # a second round from the updated centroids stays identical too
    assert updated_centroids_np(qdf, fused) == update_centroids(
        assign_clusters_np(qdf, fused), fused
    )


def test_state_meta_legacy_state_without_marker_column(tmp_path, spark):
    """A state with data but no ``applied_batch`` column (the shape a
    side-marker build persisted) is refused loudly: resuming it as a
    fresh state would re-apply every batch it already holds."""
    from pyspark.errors import AnalysisException

    out = str(tmp_path / "legacy")
    spark.range(0, 10).select(F.col("id").alias("value")).write.mode(
        "overwrite"
    ).parquet(out)
    with pytest.raises(AnalysisException, match="applied_batch"):
        _read_state_meta(spark, out)

"""Round-8 cache-strategy guards.

Round 8 replaced the "cache every multi-consumer frame" convention with
three rules, measured at sf0.1 on 32 cores:

1. NO cache on cheap-to-recompute explode/agg intermediates — within
   one action ReuseExchange dedupes equal exchanges and each branch
   fuses the explode into its own map stage; the in-memory columnar
   cache costs ~45 us/row to build and its reads contend under wide
   task concurrency (q26: 23-30 s CPU cached vs 2-5 s without).
2. localize() for results bounded by construction whose lineage is
   expensive — a LocalRelation computes once; a lazy cache stampedes
   (every branch that starts before the first one materializes the
   cache re-executes the full lineage).
3. scoped_cache ONLY for intermediates whose consumers prune different
   column sets (ReuseExchange cannot dedupe them) or that feed many
   actions (k-means working set) — ppjoin's ranked frame is the
   canonical case.

These tests pin each rule's observable plan shape so a regression in
convention (someone re-adding a lazy cache to the shingle path, or
dropping ppjoin's ranked cache) fails loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators import dedup
from super_store_datawarehouse_spark.session import localize, release_scoped_caches
from super_store_datawarehouse_spark.sources.testdata import load_table
from tests.conftest import TESTDATA_SF


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_weighted_jaccard_is_uncached_and_reuses_exchange(spark):
    docs = load_table(spark, TESTDATA_SF, "documents")
    out = dedup.weighted_jaccard_pairs(docs, max_doc_freq=25)
    out.collect()  # executedPlan is final only after an action under AQE
    p = _plan(out)
    assert "InMemoryTableScan" not in p  # rule 1: no cache on the tf frame
    # the shared shingle_tf exchange is deduped, not recomputed per branch
    assert "ReusedExchange" in p
    release_scoped_caches()


def test_ngram_jaccard_is_uncached(spark):
    docs = load_table(spark, TESTDATA_SF, "documents")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.2)
    out.collect()
    assert "InMemoryTableScan" not in _plan(out)
    release_scoped_caches()


def test_ppjoin_caches_ranked_exactly_once(spark):
    # rule 3: ranked's three consumers prune different columns, so it
    # keeps a deliberate cache — exactly one InMemoryRelation, fed by
    # the join+window lineage (pos/n_shingles computed below the cache).
    # The plan STRING prints the relation block once per consuming scan,
    # so "exactly once" is asserted on materialized persistent RDDs
    # (one cached DataFrame == one RDD), not on substring counts
    # (a `>= 1` could not catch an accidental second cache on this
    # path). New RDD ids are counted, not the map's size:
    # the ContextCleaner may unpersist an earlier test's RDD meanwhile.
    release_scoped_caches()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs())
    docs = load_table(spark, TESTDATA_SF, "documents")
    out = dedup.ppjoin_jaccard_pairs(docs, threshold=0.8)
    out.collect()
    p = _plan(out)
    assert "InMemoryTableScan" in p
    assert len(set(jsc.getPersistentRDDs()) - before) == 1
    release_scoped_caches()


def test_localize_preserves_values_and_breaks_lineage(spark):
    src = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("g")
    )
    agg = src.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    loc = localize(agg)
    assert sorted(tuple(r) for r in loc.collect()) == sorted(
        tuple(r) for r in agg.collect()
    )
    assert loc.schema == agg.schema
    # LocalRelation / LocalTableScan: no exchange, no source scan
    p = _plan(loc)
    assert "Exchange" not in p and "Scan parquet" not in p


def test_localize_refuses_unbounded_frames(spark):
    with pytest.raises(ValueError, match="max_rows"):
        localize(spark.range(0, 50), max_rows=10)


def test_localize_overflow_falls_back_to_eager_cache(spark):
    # data-dependent bounds must degrade to a cache,
    # not raise at plan-build time
    release_scoped_caches()
    out = localize(spark.range(0, 50), max_rows=10, on_overflow="cache")
    assert out.is_cached
    assert out.count() == 50
    assert release_scoped_caches() >= 1  # registered for scoped release


def test_widen_narrow_scan_is_proportional(spark):
    # a single-split file widens to ceil(bytes / 64 KiB) partitions,
    # capped at the cluster's slot count — not all-or-nothing
    import math
    import os

    docs = load_table(spark, TESTDATA_SF, "documents")
    files = [f[len("file:"):] for f in docs.inputFiles()]
    size = sum(os.path.getsize(f) for f in files)
    target = spark.sparkContext.defaultParallelism
    expected = min(target, math.ceil(size / dedup._WIDEN_MIN_BYTES_PER_SLOT))
    got = dedup._widen_narrow_scan(docs).rdd.getNumPartitions()
    if expected > docs.rdd.getNumPartitions():
        assert got == expected
    else:
        assert got == docs.rdd.getNumPartitions()

"""Regression tests for caller caches and the audit documents.

1. ``brute_force_topk`` must not evict a CALLER-persisted queries frame:
   its internal pushdown cache-barrier persists/unpersists only when the
   caller had not already persisted (a finally-unpersist once silently
   dropped the caller's cache entry).
2. PLAN_AUDIT.md's scanned set and README's harness counts track the
   registry.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators import similarity
from super_store_datawarehouse_spark.sources.testdata import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_brute_force_topk_preserves_caller_cache(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).persist()
    try:
        q.count()  # materialize the caller's cache
        assert q.is_cached
        out = similarity.brute_force_topk(emb, q)
        assert out.count() > 0
        # the operator's internal barrier must not have evicted it
        assert q.is_cached
    finally:
        q.unpersist()


def test_brute_force_topk_unpersists_own_barrier(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    assert not q.is_cached
    out = similarity.brute_force_topk(emb, q)
    assert out.count() > 0
    assert not q.is_cached  # its scoped barrier was released


def _registry():
    import __spark_entry__ as entrymod

    return entrymod


def test_plan_audit_scanned_set_matches_registry():
    """PLAN_AUDIT.md certifies the anti-pattern scan; its scanned-query
    appendix must equal the live registry, so the audit doc can never
    certify a smaller surface than what ships (a 317-query registry once
    shipped with a '316 queries scanned' audit)."""
    import re

    entrymod = _registry()
    registered = set(entrymod.queries())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLAN_AUDIT.md")) as fh:
        body = fh.read()
    m = re.search(r"^## Scanned queries$", body, re.M)
    assert m, "PLAN_AUDIT.md lacks the '## Scanned queries' appendix — regenerate with scripts/plan_audit.py --report"
    scanned = set(re.findall(r"^- ([qx]\d+\w+)$", body[m.end():], re.M))
    assert scanned == registered, (
        f"PLAN_AUDIT.md vs registry drift: only-scanned="
        f"{sorted(scanned - registered)} only-registered="
        f"{sorted(registered - scanned)} — regenerate with "
        "python scripts/plan_audit.py <sf_dir> --report PLAN_AUDIT.md"
    )
    # the headline count must agree with the appendix it summarizes
    mc = re.search(r"^(\d+) queries scanned", body, re.M)
    assert mc and int(mc.group(1)) == len(scanned)


def test_readme_surface_counts_match_registry():
    """README's 'N harness queries, M fully value-oracled' line must
    track the registry (README once certified 316/313 while the registry
    held 317/314)."""
    import re

    entrymod = _registry()
    n_total = len(entrymod.queries())
    n_oracled = len(entrymod.oracle_sql())
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "README.md")) as fh:
        body = fh.read()
    pairs = re.findall(r"(\d+) harness queries, (\d+) fully value-oracled", body)
    assert pairs, "README.md lost its harness-count line"
    # earlier occurrences are historical per-round narration; the LAST
    # one states the current surface and must track the registry
    total, oracled = pairs[-1]
    assert (int(total), int(oracled)) == (n_total, n_oracled), (
        f"README says {total}/{oracled}, registry has "
        f"{n_total}/{n_oracled} — update README.md"
    )


def test_brute_force_topk_preserves_scoped_cache(spark):
    """The ``is_cached`` guard must cover ``scoped_cache`` too. scoped_cache returns the SAME DataFrame object
    it cached, so the guard sees it directly; additionally pin the
    empirical Spark-4 behavior that an equal-plan REBUILT object neither
    reads as cached nor evicts the original's entry on unpersist — i.e.
    even a caller passing a rebuilt lineage cannot have its scoped cache
    silently dropped by the operator's barrier."""
    from super_store_datawarehouse_spark.session import (
        release_scoped_caches,
        scoped_cache,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    release_scoped_caches()
    q = scoped_cache(emb.filter(F.col("vec_id") < 5))
    try:
        q.count()
        assert q.is_cached
        out = similarity.brute_force_topk(emb, q)
        assert out.count() > 0
        assert q.is_cached  # the operator's barrier did not evict it

        # equal-plan rebuilt object: not seen as cached (object-keyed
        # probe) and its unpersist does not cascade to q's entry
        q2 = emb.filter(F.col("vec_id") < 5)
        assert not q2.is_cached
        q2.unpersist(False)
        assert q.is_cached
    finally:
        release_scoped_caches()

"""Persisted IVF index lifecycle: build ≡ the in-plan operator,
incremental update appends O(batch) into existing cells, search over
the stored index is bit-identical to ivf_topk."""

from __future__ import annotations

import random

import pytest

from super_store_datawarehouse_spark.operators.ann_index import (
    ivf_index_build,
    ivf_index_search,
    ivf_index_update,
)
from super_store_datawarehouse_spark.operators.similarity import ivf_topk


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(300)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_build_then_search_equals_in_plan_ivf(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf")
    stats = ivf_index_build(vectors, path, fraction=0.03, salt=7)
    assert stats["n_vectors"] == 300
    assert 2 <= stats["n_centroids"] <= 40

    queries = vectors.filter("vec_id < 5")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_index_search(spark, path, queries).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in ivf_topk(vectors, queries).collect()
    }
    assert got == want  # same centroids, same fold, same ties — bit-equal


def test_incremental_update_appends_into_existing_cells(spark, vectors, tmp_path):
    path = str(tmp_path / "ivf2")
    first = vectors.filter("vec_id < 200")
    batch = vectors.filter("vec_id >= 200")
    ivf_index_build(first, path, fraction=0.03, salt=7)
    cent_ids = {
        r["centroid_id"]
        for r in spark.read.parquet(path + "/centroids").collect()
    }
    appended = ivf_index_update(spark, path, batch)
    assert appended == 100

    cells = spark.read.parquet(path + "/cells")
    assert cells.count() == 300
    # the update used ONLY pre-existing centroids (frozen quantizer)
    used = {r["centroid_id"] for r in cells.select("centroid_id").distinct().collect()}
    assert used <= cent_ids
    # new vectors are findable: query one of the appended vectors
    q = batch.filter("vec_id = 250")
    hits = ivf_index_search(spark, path, q).collect()
    assert len(hits) >= 1
    assert all(r["query_id"] == 250 for r in hits)


# -- persisted PQ index --------------------------------------------------------


def test_pq_index_search_equals_in_plan_pq_topk(spark, vectors, tmp_path):
    from super_store_datawarehouse_spark.operators.ann_index import (
        pq_index_build,
        pq_index_search,
    )
    from super_store_datawarehouse_spark.operators.similarity import pq_topk

    path = str(tmp_path / "pq")
    stats = pq_index_build(
        vectors, path, m=4, dim=8, codebook_buckets=300, salt=13,
        codebook_size=None,
    )
    assert stats["n_vectors"] == 300
    assert stats["n_codewords"] > 0

    queries = vectors.filter("vec_id < 5")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_index_search(spark, path, queries).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_topk(vectors, queries, dim=8).collect()
    }
    assert got == want  # same codebook, same encode, same fold — bit-equal


def test_pq_index_ensure_reuses_then_rebuilds_on_change(spark, vectors, tmp_path):
    from super_store_datawarehouse_spark.operators.ann_index import (
        pq_index_ensure,
    )

    path = str(tmp_path / "pq_ensure")
    budget = dict(m=4, dim=8, codebook_buckets=500, salt=13, codebook_size=16)
    first = pq_index_ensure(vectors, path, **budget)
    assert first["rebuilt"] is True

    # same corpus + same budget: the encode pass is skipped
    again = pq_index_ensure(vectors, path, **budget)
    assert again["rebuilt"] is False
    assert again["fingerprint_h"] == first["fingerprint_h"]

    # budget change forces a rebuild (codes encoded under another
    # codebook are not reusable)
    changed = pq_index_ensure(vectors, path, **{**budget, "codebook_size": 8})
    assert changed["rebuilt"] is True

    # corpus change (one vector removed) flips the fingerprint
    smaller = vectors.filter("vec_id <> 42")
    refp = pq_index_ensure(smaller, path, **{**budget, "codebook_size": 8})
    assert refp["rebuilt"] is True
    assert refp["fingerprint_n"] == 299


def test_ivfadc_index_search_equals_in_plan_pq_ivf_topk(spark, vectors, tmp_path):
    from super_store_datawarehouse_spark.operators.ann_index import (
        ivfadc_index_ensure,
        ivfadc_index_search,
    )
    from super_store_datawarehouse_spark.operators.similarity import pq_ivf_topk

    path = str(tmp_path / "ivfadc")
    budget = dict(
        m=4, dim=8, codebook_buckets=300, salt=13, codebook_size=16,
        centroid_fraction=0.03, centroid_salt=7,
    )
    stats = ivfadc_index_ensure(vectors, path, **budget)
    assert stats["n_vectors"] == 300 and stats["n_centroids"] >= 2

    queries = vectors.filter("vec_id < 5")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in ivfadc_index_search(spark, path, queries).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_ivf_topk(vectors, queries, dim=8, codebook_size=16).collect()
    }
    assert got == want  # same quantizers, same folds, same ties — bit-equal


def test_pq_index_update_appends_and_keeps_fingerprint_consistent(
    spark, vectors, tmp_path
):
    from super_store_datawarehouse_spark.operators.ann_index import (
        pq_index_build,
        pq_index_ensure,
        pq_index_search,
        pq_index_update,
    )

    path = str(tmp_path / "pq_up")
    first = vectors.filter("vec_id < 200")
    batch = vectors.filter("vec_id >= 200")
    budget = dict(m=4, dim=8, codebook_buckets=500, salt=13, codebook_size=16)
    pq_index_build(first, path, **budget)

    appended = pq_index_update(spark, path, batch)
    assert appended == 100
    codes = spark.read.parquet(path + "/pq_codes")
    assert codes.select("vid").distinct().count() == 300

    # the incrementally-updated fingerprint equals the full recompute:
    # ensure() over the GROWN corpus reuses without rebuilding
    again = pq_index_ensure(vectors, path, **budget)
    assert again["rebuilt"] is False

    # appended vectors are findable through the persisted search
    q = batch.filter("vec_id = 250")
    hits = pq_index_search(spark, path, q).collect()
    assert len(hits) == 5 and all(r["query_id"] == 250 for r in hits)

    # a corpus the index does NOT contain still forces a rebuild
    refp = pq_index_ensure(vectors.filter("vec_id <> 7"), path, **budget)
    assert refp["rebuilt"] is True


def test_pq_index_refined_matches_in_plan_refined_topk(spark, vectors, tmp_path):
    """refined=True stores the Lloyd-refined codebook and encodes the
    corpus against the STORED copy — search must equal the in-plan
    pq_topk_refined at the same budget, and the refined budget is part
    of the reuse key (an unrefined ensure over the same corpus
    rebuilds)."""
    from super_store_datawarehouse_spark.operators.ann_index import (
        pq_index_ensure,
        pq_index_search,
    )
    from super_store_datawarehouse_spark.operators.similarity import (
        pq_topk_refined,
    )

    path = str(tmp_path / "pq_ref")
    budget = dict(m=4, dim=8, codebook_buckets=300, salt=13, scale=1000)
    first = pq_index_ensure(
        vectors, path, codebook_size=None, refined=True, **budget
    )
    assert first["rebuilt"] is True

    queries = vectors.filter("vec_id < 5")
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_index_search(spark, path, queries).collect()
    }
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["adist"])
        for r in pq_topk_refined(vectors, queries, dim=8).collect()
    }
    assert got == want

    # same corpus + same refined budget → reuse
    again = pq_index_ensure(
        vectors, path, codebook_size=None, refined=True, **budget
    )
    assert again["rebuilt"] is False
    # refined-ness is part of the key: asking for the unrefined book
    # over the same corpus must rebuild
    other = pq_index_ensure(
        vectors, path, codebook_size=None, refined=False, **budget
    )
    assert other["rebuilt"] is True


def test_ivfadc_index_ensure_reuse_and_partial_rebuild(spark, vectors, tmp_path):
    from super_store_datawarehouse_spark.operators.ann_index import (
        ivfadc_index_ensure,
        ivfadc_index_search,
    )

    path = str(tmp_path / "ivfadc_e")
    budget = dict(
        m=4, dim=8, codebook_buckets=500, salt=13, codebook_size=16,
        centroid_fraction=0.05, centroid_salt=7,
    )
    first = ivfadc_index_ensure(vectors, path, **budget)
    assert first["rebuilt"] is True

    # same corpus + same budgets: full reuse
    again = ivfadc_index_ensure(vectors, path, **budget)
    assert again["rebuilt"] is False

    # IVF budget change: rebuild (codes under the same codebook persist)
    changed = ivfadc_index_ensure(
        vectors, path, **{**budget, "centroid_fraction": 0.1}
    )
    assert changed["rebuilt"] is True

    # corpus change: the PQ fingerprint detects it
    refp = ivfadc_index_ensure(
        vectors.filter("vec_id <> 11"), path,
        **{**budget, "centroid_fraction": 0.1},
    )
    assert refp["rebuilt"] is True

    # the rebuilt index answers queries
    q = vectors.filter("vec_id < 3")
    assert len(ivfadc_index_search(spark, path, q).collect()) > 0

"""kmeans_quantized vs an independent numpy replica of the same
integer-quantized Lloyd rules (trunc quantize, lowest-id tie-break,
trunc-div centroid update)."""

from __future__ import annotations

import numpy as np
import pytest

from super_store_datawarehouse_spark.operators.clustering import (
    KMEANS_ITERS,
    KMEANS_K,
    _trunc_div,
    kmeans_quantized,
)
from super_store_datawarehouse_spark.sources.testdata import load_table
from tests.conftest import TESTDATA_SF


def numpy_kmeans(ids: np.ndarray, vecs: np.ndarray, k: int, iters: int, scale: int):
    q = np.trunc(vecs.astype(np.float64) * scale).astype(np.int64)
    order = np.argsort(ids)
    cents = q[order[:k]].copy()

    def assign(cents):
        # (n, k) integer squared distances; argmin takes the first
        # (= lowest cid) on ties, matching the engine rule.
        d = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cl = d.argmin(axis=1)
        return cl, d[np.arange(len(q)), cl]

    cl, d2 = assign(cents)
    for _ in range(iters - 1):
        new = cents.copy()
        for c in range(k):
            members = q[cl == c]
            if len(members):
                s = members.sum(axis=0)
                new[c] = [_trunc_div(int(v), len(members)) for v in s]
        cents = new
        cl, d2 = assign(cents)
    return cl, d2


@pytest.fixture(scope="module")
def emb_pdf(spark):
    return (
        load_table(spark, TESTDATA_SF, "embeddings")
        .select("vec_id", "embedding")
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )


def test_kmeans_matches_numpy_replica(spark, emb_pdf):
    got = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in kmeans_quantized(load_table(spark, TESTDATA_SF, "embeddings")).collect()
    }
    ids = emb_pdf["vec_id"].to_numpy()
    vecs = np.stack(emb_pdf["embedding"].to_numpy())
    cl, d2 = numpy_kmeans(ids, vecs, k=KMEANS_K, iters=KMEANS_ITERS, scale=1000)
    want = {int(i): (int(c), int(d)) for i, c, d in zip(ids, cl, d2)}
    assert got == want


def test_kmeans_improves_or_holds_total_distance(spark, emb_pdf):
    """The updates lower the total distance of the seed assignment (one
    pass of the replica, which the test above pins the engine to)."""
    emb = load_table(spark, TESTDATA_SF, "embeddings")
    ids = emb_pdf["vec_id"].to_numpy()
    vecs = np.stack(emb_pdf["embedding"].to_numpy())
    one = int(numpy_kmeans(ids, vecs, k=KMEANS_K, iters=1, scale=1000)[1].sum())
    last = kmeans_quantized(emb).agg({"dist2": "sum"}).first()[0]
    # trunc-div centroid rounding can cost at most d·k per update vs the
    # exact mean, so allow a tiny slack over strict Lloyd monotonicity.
    assert last <= one + 64 * KMEANS_K * (KMEANS_ITERS - 1)


def test_trunc_div_matches_engines():
    assert _trunc_div(7, 2) == 3
    assert _trunc_div(-7, 2) == -3  # python -7 // 2 would be -4
    assert _trunc_div(0, 5) == 0


def test_pca_power_iteration_aligns_with_numpy_eigenvector(spark):
    import numpy as np

    from super_store_datawarehouse_spark.operators.clustering import (
        pca_power_iteration,
    )

    rng = np.random.RandomState(7)
    # anisotropic cloud: dominant direction along a known vector
    base = rng.randn(300, 8) * 0.05
    direction = np.array([3, 1, 0, 0, 0, 0, 0, 2.0])
    base += np.outer(rng.randn(300), direction / np.linalg.norm(direction)) * 0.4
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    v = np.array(pca_power_iteration(df), dtype=float)
    # numpy reference on the SAME quantized matrix the operator sees
    q = np.trunc(base.astype(np.float32).astype(np.float64) * 1000)
    _, vecs = np.linalg.eigh(q.T @ q)
    top = vecs[:, -1]
    cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
    assert cos > 0.99, cos


def test_pca_ignores_null_and_empty_embeddings(spark):
    """Code-review r5: the Gram path must skip NULL/empty embedding rows
    (the former posexplode formulation dropped them implicitly) instead
    of crashing in np.stack."""
    import random

    from super_store_datawarehouse_spark.operators.clustering import (
        pca_power_iteration,
    )

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = clean.unionByName(
        spark.createDataFrame(
            [(100, None), (101, [])], "vec_id long, embedding array<double>"
        )
    )
    assert pca_power_iteration(dirty) == pca_power_iteration(clean)

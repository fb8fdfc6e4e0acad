"""Round-6 regression tests for the round-5 ADVICE findings.

One test per finding: NULL-label contract in the agreement metrics,
duplicate-word determinism in unigram segmentation, scoped-cache
release, and the cross-partition
dimensionality guard in PCA.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators.clustering import (
    pca_power_iteration,
)
from super_store_datawarehouse_spark.operators.quality_eval import (
    classification_report,
    cohen_kappa,
)
from super_store_datawarehouse_spark.operators.text import unigram_segment
from super_store_datawarehouse_spark.session import (
    release_scoped_caches,
    scoped_cache,
)

def test_classification_report_excludes_null_labels(spark):
    """(NULL, NULL) pairs must not create phantom classes or phantom
    non-TP rows — the non-null-label contract drops them up front."""
    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), (None, "a"), ("b", None), (None, None)],
        "truth string, pred string",
    )
    rep = {r["label"]: r for r in classification_report(df, "truth", "pred").collect()}
    # only the two non-null-pair rows survive: (a,a) TP and (a,b) miss
    assert set(rep) == {"a", "b"}
    assert rep["a"]["n_truth"] == 2 and rep["a"]["n_pred"] == 1
    assert rep["a"]["tp"] == 1
    assert rep["a"]["precision_ppm"] == 1_000_000  # 1/1
    assert rep["a"]["recall_ppm"] == 500_000  # 1/2
    # 'b' was predicted once, never true: precision 0, recall NULL
    assert rep["b"]["n_truth"] == 0 and rep["b"]["n_pred"] == 1
    assert rep["b"]["precision_ppm"] == 0
    assert rep["b"]["recall_ppm"] is None


def test_cohen_kappa_null_pairs_do_not_count_as_disagreement(spark):
    """Two annotators both abstaining (NULL, NULL) is not disagreement;
    with the NULL rows filtered, perfect agreement on the rest → κ=1."""
    with_nulls = spark.createDataFrame(
        [("x", "x"), ("y", "y"), (None, None), ("x", None), (None, "y")],
        "a string, b string",
    )
    row = cohen_kappa(with_nulls, "a", "b").collect()[0]
    assert row["n"] == 2  # only the two fully-labeled pairs
    assert row["n_agree"] == 2
    assert row["agree_ppm"] == 1_000_000


def test_unigram_segment_duplicate_words_sum_freqs_deterministically(spark):
    """Duplicate input words must collapse (freqs summed) before the
    piece map is built — otherwise one duplicate's map is incomplete
    and the DP output goes NULL/nondeterministic."""
    dup = spark.createDataFrame(
        [("abab", 3), ("abab", 5), ("ab", 1)], "w string, freq long"
    )
    merged = spark.createDataFrame(
        [("abab", 8), ("ab", 1)], "w string, freq long"
    )
    got = {
        r["word"]: (r["freq"], r["seg"], r["n_pieces"], r["cost"])
        for r in unigram_segment(dup).collect()
    }
    want = {
        r["word"]: (r["freq"], r["seg"], r["n_pieces"], r["cost"])
        for r in unigram_segment(merged).collect()
    }
    assert got == want
    # lossless: pieces concatenate back to the word, never NULL
    for w, (_f, seg, np_, _c) in got.items():
        assert seg is not None and seg.replace(" ", "") == w
        assert np_ >= 1


def test_scoped_cache_release_unpersists(spark):
    df = scoped_cache(spark.range(10))
    df.count()  # materialize
    assert df.storageLevel.useMemory
    n = release_scoped_caches()
    assert n >= 1
    assert not df.storageLevel.useMemory
    # idempotent / empty registry
    assert release_scoped_caches() == 0


def test_pca_rejects_cross_partition_width_mismatch(spark):
    """8-d vectors in one partition and 16-d in another must raise, not
    silently merge Gram blocks of different sizes."""
    d8 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    ).repartition(1)
    d16 = spark.createDataFrame(
        [(100 + i, [float(i + j) for j in range(16)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    ).repartition(1)
    ragged = d8.unionByName(d16)
    with pytest.raises(Exception, match="(?i)ragged|widths|dimension"):
        pca_power_iteration(ragged)
    # uniform width still works and returns a d-length direction
    v = pca_power_iteration(d16)
    assert len(v) == 16


def test_query_registry_matches_queries_md_index():
    """Every registered harness query must appear in QUERIES.md (and
    vice versa) — a registered-but-undocumented query defeats the
    'every query in every gate' invariant (round-5 x307 lesson)."""
    import os
    import re

    import __spark_entry__ as entrymod

    registered = set(entrymod.queries())
    md_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(md_path) as fh:
        indexed = set(re.findall(r"^\| ([qx]\d+\w+) \|", fh.read(), re.M))
    assert registered == indexed, (
        f"registry vs QUERIES.md drift: only-registered="
        f"{sorted(registered - indexed)} only-indexed={sorted(indexed - registered)}"
        " — regenerate with python scripts/gen_query_index.py"
    )


def test_pq_ivf_fixed_budget_caps_and_noop(spark):
    """Round-6 sf10 finding: q33's sampled IVF cells and PQ codebook are
    hash FRACTIONS (linear in n). The fixed-budget caps take the k
    lowest-id sample vectors — a no-op when the sample is smaller than
    the cap, binding (and deterministic) when it is larger."""
    from super_store_datawarehouse_spark.operators.similarity import (
        _pq_sampled_codebook,
        ivf_centroids,
    )
    from pyspark.sql import functions as F

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(8)]) for i in range(2000)],
        "vec_id long, embedding array<double>",
    )
    uncapped = ivf_centroids(emb, 0.5, salt=7)
    n_sample = uncapped.count()
    assert n_sample > 50
    capped = ivf_centroids(emb, 0.5, salt=7, max_cells=50)
    got = [r["vec_id"] for r in capped.select("vec_id").collect()]
    want = sorted(r["vec_id"] for r in uncapped.select("vec_id").collect())[:50]
    assert sorted(got) == want  # exactly the 50 lowest-id sample members
    # cap above the sample size is a no-op
    noop = ivf_centroids(emb, 0.5, salt=7, max_cells=n_sample + 10)
    assert noop.count() == n_sample

    e = emb.select(F.col("vec_id").alias("vid"), F.col("embedding").alias("v"))
    book = _pq_sampled_codebook(e, 2, 4, 5000, 13, codebook_size=16)
    codes = {r["code"] for r in book.select("code").distinct().collect()}
    assert len(codes) == 16
    full = _pq_sampled_codebook(e, 2, 4, 5000, 13)
    lowest = sorted(
        r["code"] for r in full.select("code").distinct().collect()
    )[:16]
    assert sorted(codes) == lowest

"""Round-8 operator tests.

1. ``ivf_candidates_ranked`` — the nested-probe contract: filtering the
   one ranked nprobe=4 pass at ``probe_rank <= p`` reproduces exactly
   the candidate set AND the top-k frontier of an independent
   ``ivf_topk`` run at nprobe=p (the x306 single-pass rewrite).
2. ``minhash_band_rows_md5`` — bucket membership is a pure function of
   document text (corpus-subset invariance), and the refactored
   ``minhash_lsh_pairs_md5`` built on it is unchanged vs its oracle
   behavior (pair sets stay verified-exact).
3. q13's pair-coverage sampling — any sampled component contributes a
   candidate pair to the universe (the never-vacuous contract).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators import dedup, similarity
from super_store_datawarehouse_spark.sources.testdata import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_ivf_candidates_ranked_nested_probe_contract(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    scored = similarity.ivf_candidates_ranked(emb, q, 0.1).cache()
    try:
        for p in (1, 2, 4):
            # candidate set at probe_rank <= p == independent nprobe=p run
            cents = similarity.ivf_centroids(emb, 0.1)
            ca = similarity.ivf_assign(emb, cents, 1, "vec_id", "embedding", "neighbor_id")
            qa = similarity.ivf_assign(q, cents, p, "vec_id", "embedding", "query_id")
            want = {
                (r["query_id"], r["neighbor_id"])
                for r in qa.join(ca, "centroid_id")
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id")
                .distinct()
                .collect()
            }
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in scored.filter(F.col("probe_rank") <= p)
                .select("query_id", "neighbor_id")
                .collect()
            }
            assert got == want, f"nprobe={p} candidate set mismatch"
            # top-k frontier derived from the one pass == ivf_topk at p
            from pyspark.sql import Window

            w = Window.partitionBy("query_id").orderBy(
                F.desc("cosine"), "neighbor_id"
            )
            approx = (
                scored.filter(F.col("probe_rank") <= p)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 3)
            )
            want_top = {
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in similarity.ivf_topk(
                    emb, q, k=3, centroid_fraction=0.1, nprobe=p
                ).collect()
            }
            got_top = {
                (r["query_id"], r["neighbor_id"], r["rank"])
                for r in approx.collect()
            }
            assert got_top == want_top, f"nprobe={p} frontier mismatch"
    finally:
        scored.unpersist()


def test_minhash_band_rows_subset_invariance(spark):
    docs = load_table(spark, SF_DIR, "documents")
    full = dedup.minhash_band_rows_md5(docs)
    some_ids = docs.select("doc_id").limit(20)
    sub = dedup.minhash_band_rows_md5(docs.join(some_ids, "doc_id"))
    full_sub = {
        (r["sid"], r["band"], r["bucket"])
        for r in full.join(
            some_ids.withColumnRenamed("doc_id", "sid"), "sid"
        ).collect()
    }
    got = {(r["sid"], r["band"], r["bucket"]) for r in sub.collect()}
    assert got == full_sub  # bucket = f(text) only, not of the corpus


def test_q13_sampled_components_always_yield_candidate_pairs(spark):
    """Every sampled component keeps >=2 members in the universe, and
    those members still share their (band, bucket) — so the candidate
    set the agreement eval divides by is non-empty whenever >=1
    component exists (the NULLIF-unreachable contract)."""
    from super_store_datawarehouse_spark.plans.extensions import (
        _X322_COMP_N,
        _X322_COMP_SALT,
        _X322_MEMBER_CAP,
        q13_near_dup_overlap_sampled,
    )
    from super_store_datawarehouse_spark.operators import sampling as so
    from super_store_datawarehouse_spark.session import release_scoped_caches

    docs = load_table(spark, SF_DIR, "documents")
    bands_all = dedup.minhash_band_rows_md5(docs)
    comp = (
        bands_all.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .withColumn(
            "comp_key",
            F.col("band").cast("long") * F.lit(2147483648) + F.col("bucket"),
        )
    )
    n_comp = comp.count()
    if n_comp == 0:
        return  # corpus genuinely component-free: NULL is the right answer
    comp_s = so.hash_sample_n(comp, "comp_key", _X322_COMP_N, salt=_X322_COMP_SALT)
    assert comp_s.count() == min(n_comp, _X322_COMP_N)
    assert _X322_MEMBER_CAP >= 2  # the structural guarantee needs pairs
    row = q13_near_dup_overlap_sampled(spark, SF_DIR).collect()[0]
    release_scoped_caches()
    assert row["n_cand"] >= 1
    assert row["pairset_jaccard_ppm"] is not None

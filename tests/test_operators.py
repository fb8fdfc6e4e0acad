"""Unit tests for the LLM-pipeline operators on small synthetic frames,
plus recall checks of the sketch operators against their exact baselines
(the rows-only harness queries lean on these).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_exact_dedup_finds_planted_duplicates(spark):
    from super_store_datawarehouse_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"],
    )
    rows = {r["norm_text"]: r for r in exact_dedup(df).collect()}
    assert rows["hello world"]["n_copies"] == 2
    assert rows["hello world"]["keep_id"] == 1
    assert rows["different text"]["n_copies"] == 1


def test_minhash_lsh_recall_vs_exact(spark, docs):
    from super_store_datawarehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(docs).collect()}
    assert lsh <= exact  # exact verification ⇒ no false positives
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall too low: {recall}"


def test_simhash_identical_docs_collide(spark):
    from super_store_datawarehouse_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame(
        [
            (1, "spark query engine with columnar storage and joins"),
            (2, "spark query engine with columnar storage and joins"),
            (3, "completely unrelated words about gardening and flowers"),
        ],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_near_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_lsh_topk_overlaps_bruteforce(spark):
    from super_store_datawarehouse_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries).collect()
    }
    assert approx, "LSH returned nothing"
    assert len(approx & exact) / len(exact) >= 0.5


def test_load_table_events_ts_all_physical_shapes(tmp_path, spark):
    """The driver owns /root/testdata and has already regenerated events.ts
    once (TIMESTAMP(NANOS) in r1-r2 → plain timestamp[us] in r3, which
    Spark reads as TIMESTAMP_NTZ). load_table must normalize every shape
    it has ever seen — int64 nanos, NTZ micros, LTZ micros — to identical
    TIMESTAMP values, and refuse (loudly) any shape it has not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from super_store_datawarehouse_spark.sources.testdata import load_table

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]

    def write_events(name, arr):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": arr}),
            d / "events.parquet",
        )
        return str(d)

    shapes = {
        "nanos_int64": pa.array([m * 1000 for m in micros], pa.int64()),
        "ntz_micros": pa.array(micros, pa.timestamp("us")),
        "ltz_micros": pa.array(micros, pa.timestamp("us", tz="UTC")),
    }
    seen = {}
    for label, arr in shapes.items():
        df = load_table(spark, write_events(label, arr), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", label
        seen[label] = sorted(
            r[0] for r in df.select(F.unix_micros("ts")).collect()
        )
    assert seen["nanos_int64"] == seen["ntz_micros"] == seen["ltz_micros"] == sorted(micros)

    # an unseen shape (string ts) must fail loudly, not mis-convert
    bad = write_events("bad_shape", pa.array(["2024-01-01", "2024-01-02"]))
    with pytest.raises(TypeError, match="unexpected type"):
        load_table(spark, bad, "events")


def test_chunk_words_overlap_and_tail(spark):
    from super_store_datawarehouse_spark.operators.text import chunk_words

    def span(a, b):
        return " ".join(f"w{i}" for i in range(a, b))

    df = spark.createDataFrame([(1, span(0, 100))], ["doc_id", "text"])
    rows = (
        df.select(F.explode(chunk_words("text")).alias("c"))
        .select("c.*")
        .collect()
    )
    chunks = {r["chunk_no"]: (r["chunk_text"], r["n_words"]) for r in rows}
    assert chunks[0] == (span(0, 50), 50)
    assert chunks[1] == (span(40, 90), 50)        # stride-40 overlap of 10
    assert chunks[2] == (span(80, 100), 20)       # short tail chunk
    assert len(chunks) == 3


def test_rejects_sink_writes_parquet(tmp_path, spark):
    from super_store_datawarehouse_spark.sources.sinks import write_rejects

    t1 = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    write_rejects(t1.filter(F.col("id") > 1), str(tmp_path))
    back = spark.read.parquet(str(tmp_path / "_rejects"))
    assert [r["id"] for r in back.collect()] == [2]


def test_aqe_splits_skewed_join_partition(spark):
    """With one key holding 95% of rows, AQE's skew-join handling must
    split the hot partition (skew=true in the final adaptive plan) —
    the runtime half of the skew story (operators/skew.py is the
    structural half)."""
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        left = (
            spark.range(0, 200_000)
            .withColumn(
                "k",
                F.when(F.col("id") < 190_000, F.lit(7)).otherwise(F.col("id") % 100),
            )
            .withColumn("pad", F.lpad(F.lit("x"), 64, "y"))
        )
        right = spark.range(0, 100).withColumnRenamed("id", "k2")
        j = left.join(right, F.col("k") == F.col("k2"))
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan and "skew=true" in plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
        conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
        conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")


def test_bucketed_tables_join_without_shuffle(tmp_path, spark):
    """Pre-bucketing both sides of a recurring join key removes the
    per-query Exchange: the sort-merge join reads co-located buckets.
    This is the 100 TB strategy for repeated fact-fact joins."""
    from super_store_datawarehouse_spark.sources.testdata import load_table

    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")

    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
        "b_lineitem"
    )
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "b_orders"
    )
    try:
        joined = (
            spark.table("b_lineitem")
            .join(
                spark.table("b_orders").hint("merge"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert joined.count() == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_approx_distinct_error_bound(spark):
    df = spark.read.parquet(f"{SF_DIR}/events.parquet")
    exact = {
        r["event_type"]: r["n"]
        for r in df.groupBy("event_type").agg(F.countDistinct("user_id").alias("n")).collect()
    }
    approx = {
        r["event_type"]: r["a"]
        for r in df.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.02).alias("a"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) / n < 0.1


def test_hash_split_stable_disjoint_exhaustive(spark):
    from super_store_datawarehouse_spark.operators.sampling import (
        hash_sample,
        split_column,
    )

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    with_split = df.withColumn("split", split_column("doc_id"))
    counts = {r["split"]: r["n"] for r in
              with_split.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 5000          # exhaustive
    assert 0.75 < counts["train"] / 5000 < 0.85  # ~weights
    # stable under repartitioning: identical membership, not just counts
    ids_a = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.3).collect()}
    ids_b = {r["doc_id"] for r in hash_sample(df.repartition(13), "doc_id", 0.3).collect()}
    assert ids_a == ids_b and 0.25 < len(ids_a) / 5000 < 0.35


def test_hash_bucket_full_int64_domain(spark):
    """Keys spanning the whole int64 range (xxhash64-derived ids) must
    bucket without wrap/ANSI-overflow, match the bucket_sql audit twin
    bit-for-bit, and stay in [0, 10000)."""
    from super_store_datawarehouse_spark.operators.sampling import (
        bucket_sql,
        hash_bucket,
    )

    wide = (
        spark.range(0, 2000)
        .select(F.xxhash64("id").alias("key"))  # mixes over ± full int64
    )
    wide.createOrReplaceTempView("wide_keys")
    df = wide.select(
        "key",
        hash_bucket("key", salt=3).alias("b_col"),
        F.expr(bucket_sql("key", salt=3)).alias("b_sql"),
    )
    bad = df.filter(
        (F.col("b_col") != F.col("b_sql"))
        | (F.col("b_col") < 0)
        | (F.col("b_col") >= 10000)
    ).count()
    assert bad == 0
    # distribution sanity: wide keys spread over many buckets
    assert df.select("b_col").distinct().count() > 1500


def test_asof_join_exact_and_strict_semantics(spark):
    import datetime as dt

    from super_store_datawarehouse_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(5)), (3, 2, t(10))], ["lid", "key", "ts"]
    )
    right = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(8), 80.0), (9, t(1), 10.0)], ["key", "ts", "px"]
    )
    exact = {
        r["lid"]: (r["asof_ts"], r["asof_px"])
        for r in asof_join(left, right, on="key", value_cols=["px"]).collect()
    }
    assert exact[1] == (t(8), 80.0)      # latest <= 10
    assert exact[2] == (t(5), 50.0)      # equal instant visible
    assert exact[3] == (None, None)      # key 2 has no right rows
    strict = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"], allow_exact=False
        ).collect()
    }
    assert strict[1] == 80.0
    assert strict[2] is None             # equal instant excluded under strict


def test_asof_join_forward_and_tolerance(spark):
    import datetime as dt

    from super_store_datawarehouse_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(5)), (3, 1, t(40)), (4, 2, t(0))],
        ["lid", "key", "ts"],
    )
    right = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(12), 120.0), (1, t(30), 300.0)],
        ["key", "ts", "px"],
    )
    fwd = {
        r["lid"]: (r["asof_ts"], r["asof_px"])
        for r in asof_join(
            left, right, on="key", value_cols=["px"], direction="forward"
        ).collect()
    }
    assert fwd[1] == (t(12), 120.0)      # earliest >= 10
    assert fwd[2] == (t(5), 50.0)        # equal instant visible
    assert fwd[3] == (None, None)        # nothing after 40
    assert fwd[4] == (None, None)        # key 2 has no right rows
    strict_fwd = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"],
            direction="forward", allow_exact=False,
        ).collect()
    }
    assert strict_fwd[2] == 120.0        # equal instant excluded → next one
    # tolerance nulls out-of-window matches in both directions
    tol_fwd = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"],
            direction="forward", tolerance_us=3_000_000,
        ).collect()
    }
    assert tol_fwd[1] == 120.0           # gap 2 s <= 3 s
    assert tol_fwd[2] == 50.0            # gap 0
    bwd_tol = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"], tolerance_us=3_000_000
        ).collect()
    }
    assert bwd_tol[1] is None            # latest <= 10 is t(5): gap 5 s > 3 s
    assert bwd_tol[2] == 50.0            # gap 0


def test_interval_join_boundary_inclusion(spark):
    import datetime as dt

    from super_store_datawarehouse_spark.operators.temporal import interval_join

    t = lambda m, s=0: dt.datetime(2024, 1, 1, 0, m, s)
    left = spark.createDataFrame(
        [(1, 1, t(0), t(30))], ["lid", "key", "start_ts", "end_ts"]
    )
    right = spark.createDataFrame(
        [
            (1, t(0), "at-start"),       # excluded: ts > start is strict
            (1, t(30), "at-end"),        # included: ts <= end
            (1, t(15), "inside"),
            (1, t(31), "after"),         # excluded
            (2, t(15), "other-key"),     # excluded
        ],
        ["key", "ts", "tag"],
    )
    got = {
        r["r_tag"]
        for r in interval_join(
            left, right, on="key", left_start="start_ts", left_end="end_ts"
        ).collect()
    }
    assert got == {"inside", "at-end"}


def test_frame_sample_fanout_matches_byte_length(spark):
    from super_store_datawarehouse_spark.operators.multimodal import (
        sample_frames,
        texts_as_assets,
    )

    df = spark.createDataFrame(
        [(1, "ab"), (2, "abcdefgh"), (3, "")], ["doc_id", "text"]
    )
    rows = sample_frames(texts_as_assets(df), fake=True).collect()
    per_asset = {}
    for r in rows:
        per_asset.setdefault(r["asset_id"], []).append((r["frame_no"], r["ts_ms"]))
    # n_frames = 1 + byte_len % 8, one frame a second
    assert sorted(per_asset[1]) == [(0, 0), (1, 1000), (2, 2000)]
    assert sorted(per_asset[2]) == [(0, 0)]
    assert sorted(per_asset[3]) == [(0, 0)]


def test_embedding_near_dup_planted_pair(spark):
    from super_store_datawarehouse_spark.operators.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
        (4, [0.0, 0.0, -1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] > 0.99


def test_anti_join_rejects_nonempty_path(spark):
    """The harness q16 returns 0 rows on testdata; exercise the non-empty
    rejects path the reference's skip-logging handles (etl.py:489-496)."""
    import datetime as dt

    from super_store_datawarehouse_spark.warehouse import dims, facts

    cols = (
        "row_id order_id product_code order_date ship_date ship_mode customer_code "
        "customer_name segment country city state postal_code region category "
        "sub_category product_name sales quantity discount profit"
    ).split()
    day = dt.date(2024, 1, 1)
    lines = spark.createDataFrame(
        [
            (
                i, f"O{i}", f"P{i % 7}", day + dt.timedelta(days=i % 30),
                day + dt.timedelta(days=i % 30 + 2), "Std", f"C{i % 11}", f"Name{i % 11}",
                "Seg", "US", f"City{i % 5}", f"S{i % 5}", f"{10000 + i % 5}", "R1", "Cat",
                "Sub", f"Prod{i % 7}", 10.0, 1, 0.0, 1.0,
            )
            for i in range(200)
        ],
        cols,
    ).cache()
    d = dims.build_dimensions(lines)
    customer, calendar = d.tables["Customer"], d.tables["Calendar"]
    product, location = d.tables["Product"], d.tables["Location"]

    # poison the customer dim: drop one customer → its rows become rejects
    victim = lines.select("customer_code").first()["customer_code"]
    broken_customer = customer.filter(F.col("customer_code") != victim)
    rejects = facts.item_rejects(lines, broken_customer, product, calendar, location)
    n_victim_rows = lines.filter(F.col("customer_code") == victim).count()
    assert n_victim_rows > 0
    assert sorted(r["row_id"] for r in rejects.collect()) == sorted(
        r["row_id"] for r in lines.filter(F.col("customer_code") == victim).collect()
    )
    item = facts.build_item_fact(
        lines, broken_customer, d.product_keys, calendar, d.location_keys
    )
    assert item.count() == 200 - n_victim_rows


def test_poly_fingerprint_deterministic_and_engine_free(spark):
    from super_store_datawarehouse_spark.operators.text import poly_fingerprint

    df = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    got = df.select(poly_fingerprint("text").alias("fp")).first()["fp"]
    # independent python computation of the same fold
    h = 7
    for ch in "abc":
        h = (h * 31 + ord(ch)) % 1_000_000_007
    assert got == h


def test_quality_keep_thresholds(spark):
    from super_store_datawarehouse_spark.operators.text import quality_keep

    df = spark.createDataFrame(
        [(1, "short text"), (2, " ".join(["word"] * 50))], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r["keep"] for r in df.select("doc_id", quality_keep("text").alias("keep")).collect()}
    assert rows[1] is False  # < 10 tokens
    assert rows[2] is True


def test_multimodal_fake_decode_shapes(spark, docs):
    from super_store_datawarehouse_spark.operators.multimodal import (
        decode_assets,
        texts_as_assets,
    )

    assets = texts_as_assets(docs.limit(20))
    decoded = decode_assets(assets, fake=True)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(1 <= r["width"] <= 64 and 1 <= r["height"] <= 64 for r in rows)
    assert all(r["byte_len"] > 0 for r in rows)


def test_orc_and_zstd_parquet_roundtrip(tmp_path, spark):
    """Format surface beyond parquet/jsonl: ORC (columnar alternative)
    and zstd-compressed parquet (the 100 TB storage codec of choice)."""
    import os

    df = spark.createDataFrame(
        [(i, f"name{i}", float(i) * 1.5) for i in range(100)], ["id", "name", "val"]
    )
    orc_path = str(tmp_path / "t_orc")
    df.write.mode("overwrite").orc(orc_path)
    assert spark.read.orc(orc_path).count() == 100

    pq_path = str(tmp_path / "t_zstd")
    df.write.mode("overwrite").option("compression", "zstd").parquet(pq_path)
    files = [f for f in os.listdir(pq_path) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    got = sorted(r["id"] for r in spark.read.parquet(pq_path).collect())
    assert got == list(range(100))


def test_short_and_empty_docs_survive_shingle_paths(spark):
    """Docs shorter than the shingle width (incl. empty text) must yield
    zero shingles, not a descending-sequence crash."""
    from super_store_datawarehouse_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "two words"),
            (2, ""),
            (3, "a much longer document with enough words to shingle"),
            (4, "a much longer document with enough words to shingle"),
        ],
        ["doc_id", "text"],
    )
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, threshold=0.2).collect()}
    assert exact == {(3, 4)}
    lsh = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    assert lsh == {(3, 4)}


def test_zero_norm_vectors_do_not_abort_cosine_paths(spark):
    from super_store_datawarehouse_spark.operators.dedup import embedding_near_dup_pairs
    from super_store_datawarehouse_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    pad = [0.0] * 62  # lsh_topk hashes 64-dimensional embeddings
    rows = [
        (1, [1.0, 0.0] + pad),
        (2, [0.0, 0.0] + pad),  # zero norm: excluded, must not abort (ANSI /0)
        (3, [0.9, 0.1] + pad),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, threshold=0.5).collect()}
    assert pairs == {(1, 3)}
    got = brute_force_topk(df, df).collect()
    assert {r["neighbor_id"] for r in got} <= {1, 3}
    lsh_topk(df, df).collect()  # must simply not raise


def test_empty_doc_quality_components_are_null_not_error(spark):
    from super_store_datawarehouse_spark.operators.text import (
        quality_components,
        quality_keep,
        token_count_ws,
    )

    real = "real text here with enough words to pass the gate"  # 10 tokens
    df = spark.createDataFrame([(1, ""), (2, "   "), (3, real)], ["doc_id", "text"])
    comps = quality_components("text")
    out = df.select(
        "doc_id",
        token_count_ws("text").alias("n"),
        comps["avg_token_len"].alias("atl"),
        comps["punct_ratio"].alias("pr"),
        quality_keep("text").alias("keep"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n"] == 0 and by_id[2]["n"] == 0 and by_id[3]["n"] == 10
    assert by_id[1]["atl"] is None and by_id[1]["pr"] is None
    assert by_id[1]["keep"] is None or by_id[1]["keep"] is False
    assert by_id[3]["keep"] is True


def test_negative_keys_sample_correctly(spark):
    from super_store_datawarehouse_spark.operators.sampling import hash_sample

    df = spark.range(-2500, 2500).withColumnRenamed("id", "k")
    kept = hash_sample(df, "k", 0.2).count()
    # negative keys must hash into [0,10000) like any other — not
    # unconditionally pass the filter
    assert 0.15 < kept / 5000 < 0.25


def test_scrub_pii_handles_userinfo_urls(spark):
    from super_store_datawarehouse_spark.operators.text import scrub_pii

    df = spark.createDataFrame(
        [(1, "see https://user@example.com/secret and mail bob@corp.io now")],
        ["id", "text"],
    )
    out = df.select(scrub_pii("text").alias("s")).collect()[0]["s"]
    assert out == "see <URL> and mail <EMAIL> now"


def test_ivf_assignment_covers_corpus_and_topk_is_exact_in_cell(spark):
    """Every nonzero vector gets exactly one cell; IVF top-1 for a query
    whose nearest neighbor shares its cell equals brute-force top-1."""
    import random

    from super_store_datawarehouse_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    cents = ivf_centroids(df)
    n_cents = cents.count()
    assert n_cents > 1
    assign = ivf_assign(df, cents, nprobe=1)
    assert assign.count() == 200  # one cell per vector, none dropped
    assert assign.select("vid").distinct().count() == 200

    queries = df.filter("vec_id < 5")
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_topk(df, queries).collect()
    }
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in brute_force_topk(df, queries).collect()
    }
    # IVF is approximate: assert structural sanity + meaningful overlap,
    # not equality (nprobe=2 of the cells scans a share of the corpus)
    assert set(q for q, _ in ivf) == set(q for q, _ in bf)
    overlap = sum(1 for key, nid in ivf.items() if bf.get(key) == nid)
    assert overlap >= 1


def test_quantize_int8_bounds_and_reconstruction(spark):
    from super_store_datawarehouse_spark.operators.similarity import quantize_int8

    rows = [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0]), (3, [2.0, 1.0, -2.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    assert 2 not in got  # zero vector dropped, not crashed
    for vid, r in got.items():
        orig = dict(rows)[vid]
        assert max(abs(q) for q in r["qvec"]) == 127  # max magnitude saturates
        for q, x in zip(r["qvec"], orig):
            assert abs(q / r["scale"] - x) <= 0.5 / r["scale"] + 1e-12


def test_apply_upserts_latest_wins(spark):
    from super_store_datawarehouse_spark.operators.cdc import apply_upserts

    base = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], ["k", "v", "version"]
    )
    updates = spark.createDataFrame([(2, "B", 2), (4, "D", 2)], ["k", "v", "version"])
    merged = {r["k"]: r["v"] for r in apply_upserts(base, updates, ["k"]).collect()}
    assert merged == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_stopword_hits_by_lang_uses_each_langs_list(spark):
    from super_store_datawarehouse_spark.operators.text import stopword_hits_by_lang

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog", "en"),
            (2, "der hund und die katze", "de"),
            (3, "unlisted language tokens", "xx"),
        ],
        ["doc_id", "text", "lang"],
    )
    got = {r["doc_id"]: (r["n_stop_hits"], r["n_tokens"]) for r in stopword_hits_by_lang(df).collect()}
    assert got[1] == (3, 5)  # the, and, the
    assert got[2] == (3, 5)  # der, und, die
    assert got[3] == (0, 3)  # no list -> zero hits, no crash


def test_connected_components_collapse_chains_not_just_pairs(spark):
    """A~B and B~C must collapse to ONE cluster {A,B,C} even though
    (A,C) was never emitted as a pair — the transitivity gap that makes
    pair-level dedup insufficient."""
    from super_store_datawarehouse_spark.operators.graph import (
        connected_components,
        dedup_by_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)], ["id_a", "id_b"]
    )
    comp = {r["u"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 10, 11, 20, 21, 99]], ["doc_id", "text"]
    )
    out = {r["doc_id"]: (r["component"], r["is_kept"]) for r in dedup_by_components(docs, edges).collect()}
    assert out[99] == (99, True)  # no edges -> own singleton cluster
    kept = sorted(k for k, (_, keep) in out.items() if keep)
    assert kept == [1, 10, 20, 99]


def test_schema_evolution_merge_read(tmp_path, spark):
    base = str(tmp_path / "evolving")
    spark.range(0, 5).select(F.col("id"), F.lit("a").alias("v1")).write.parquet(
        base + "/batch=1"
    )
    spark.range(5, 10).select(
        F.col("id"), F.lit("b").alias("v1"), F.lit(1.5).alias("v2")
    ).write.parquet(base + "/batch=2")
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert set(merged.columns) == {"id", "v1", "v2", "batch"}
    assert merged.count() == 10
    assert merged.filter(F.col("v2").isNull()).count() == 5


def test_runtime_bloom_filter_join_pruning(spark):
    """Spark injects a bloom filter built from the selective (dim) side
    of a shuffle join into the fact-side scan, pruning shuffle input at
    runtime. Off by default below 10 GB application-side scans — the
    thresholds here only exist to exercise the mechanism at test scale;
    at the 100 TB target the defaults fire on their own."""
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, TESTDATA_SF, "lineitem")
        ords = load_table(spark, TESTDATA_SF, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(ords, li.l_orderkey == ords.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        with_bloom = {r["o_orderpriority"]: r["n"] for r in j.collect()}
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = (
        load_table(spark, TESTDATA_SF, "lineitem")
        .join(
            load_table(spark, TESTDATA_SF, "orders").filter(
                F.col("o_orderpriority") == "1-URGENT"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert with_bloom == {r["o_orderpriority"]: r["n"] for r in plain.collect()}


def test_orc_roundtrip_preserves_schema_and_values(tmp_path, spark):
    """ORC sits alongside parquet as a columnar interchange format; the
    engine reads/writes it with the same pushdown machinery."""
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    nation = load_table(spark, TESTDATA_SF, "nation")
    path = str(tmp_path / "nation_orc")
    nation.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_observe_metrics_piggyback_on_action(spark):
    """df.observe attaches accumulator-style metrics to a plan so a
    pipeline can audit row counts / sums in the SAME pass as the real
    work — no second scan at 100 TB."""
    from pyspark.sql import Observation
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    obs = Observation("audit")
    li = load_table(spark, TESTDATA_SF, "lineitem").observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    )
    out = li.groupBy("l_returnflag").count().collect()
    expected = load_table(spark, TESTDATA_SF, "lineitem")
    assert obs.get["n_rows"] == expected.count() == sum(r["count"] for r in out)
    assert obs.get["total_qty"] == expected.agg(
        F.sum(F.col("l_quantity").cast("long"))
    ).first()[0]


def test_python_datasource_eventgen_deterministic_and_parallel(spark):
    from super_store_datawarehouse_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("eventgen")
        .option("rows", 5000)
        .option("partitions", 8)
        .option("seed", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 5000
    a = df.agg(F.sum("user_id"), F.sum(F.crc32(F.col("event_type")))).first()
    b = (
        spark.read.format("eventgen")
        .option("rows", 5000)
        .option("partitions", 3)  # different parallelism, same data
        .option("seed", 7)
        .load()
        .agg(F.sum("user_id"), F.sum(F.crc32(F.col("event_type"))))
        .first()
    )
    assert tuple(a) == tuple(b)
    assert df.select("event_id").distinct().count() == 5000


def test_python_datasource_jsonl_writer_two_phase_commit(tmp_path, spark):
    from super_store_datawarehouse_spark.sources.pydatasource import register

    register(spark)
    out = str(tmp_path / "jsonl_out")
    src = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    src.repartition(4).write.format("jsonlpy").mode("append").save(out)
    import json as _json

    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 1000
    assert len(manifest["files"]) == 4
    back = spark.read.schema("id long, v long").json(
        os.path.join(out, "part-*.jsonl")
    )
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 2 * (999 * 1000 // 2)
    # no temp litter survives a successful commit
    assert not [f for f in os.listdir(out) if f.startswith("_tmp-part-")]


def test_python_datasource_jsonl_writer_overwrite_and_append(tmp_path, spark):
    """overwrite clears stale parts from a wider previous write; append
    accumulates files under job-unique names (no collisions)."""
    from super_store_datawarehouse_spark.sources.pydatasource import register

    register(spark)
    out = str(tmp_path / "jsonl_rw")
    spark.range(0, 100).repartition(5).write.format("jsonlpy").mode(
        "append"
    ).save(out)
    assert len([f for f in os.listdir(out) if f.startswith("part-")]) == 5
    # overwrite with FEWER partitions: stale part files must disappear
    spark.range(0, 40).repartition(2).write.format("jsonlpy").mode(
        "overwrite"
    ).save(out)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 2
    import json as _json

    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 40
    assert sorted(os.path.basename(p) for p in manifest["files"]) == sorted(parts)
    back = spark.read.schema("id long").json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == 40
    # append on top: prior files stay, manifest accumulates
    spark.range(100, 130).repartition(2).write.format("jsonlpy").mode(
        "append"
    ).save(out)
    manifest = _json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 70
    assert len(manifest["files"]) == 4
    back = spark.read.schema("id long").json(os.path.join(out, "part-*.jsonl"))
    assert back.count() == 70


def test_python_datasource_eventgen_zero_rows(spark):
    from super_store_datawarehouse_spark.sources.pydatasource import register

    register(spark)
    df = spark.read.format("eventgen").option("rows", 0).load()
    assert df.count() == 0


def test_dynamic_partition_overwrite_touches_only_written_partitions(tmp_path, spark):
    """partitionOverwriteMode=dynamic: rewriting one partition leaves
    sibling partitions intact — the idempotent-backfill primitive (a
    static overwrite would wipe the whole table root)."""
    path = str(tmp_path / "by_day")
    base = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2"), (4, "d3")], "id long, day string"
    )
    base.write.partitionBy("day").parquet(path)
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        fix = spark.createDataFrame([(30, "d2")], "id long, day string")
        fix.write.mode("overwrite").partitionBy("day").parquet(path)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    got = {
        (r["id"], r["day"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "d1"), (2, "d1"), (30, "d2"), (4, "d3")}


def test_pandas_api_on_spark_matches_sql(spark):
    """pyspark.pandas front-end compiles to the same engine: a pandas-
    style groupby equals the SQL aggregation over identical data."""
    import pyspark.pandas as ps

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    sdf = load_table(spark, TESTDATA_SF, "orders").select(
        "o_orderpriority", (F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    psdf = sdf.pandas_api()
    got = psdf.groupby("o_orderpriority")["cents"].sum().sort_index().to_dict()
    want = {
        r["o_orderpriority"]: r["s"]
        for r in sdf.groupBy("o_orderpriority").agg(F.sum("cents").alias("s")).collect()
    }
    assert got == want


def test_parameterized_sql_named_args(spark):
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    load_table(spark, TESTDATA_SF, "orders").createOrReplaceTempView("orders_v")
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM orders_v WHERE o_orderpriority = :prio AND o_totalprice > :floor",
        args={"prio": "1-URGENT", "floor": 1000.0},
    ).first()["n"]
    want = (
        load_table(spark, TESTDATA_SF, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 1000.0))
        .count()
    )
    assert got == want


def test_percentile_approx_within_rank_error_of_exact(spark):
    """percentile_approx(accuracy=a) guarantees rank error ≤ n/a; check
    the approximate median's RANK (not value) against that bound."""
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    o = load_table(spark, TESTDATA_SF, "orders").select(
        (F.round(F.col("o_totalprice") * 100)).cast("long").alias("c")
    )
    n = o.count()
    accuracy = 100
    approx = o.agg(
        F.percentile_approx("c", F.lit(0.5), F.lit(accuracy)).alias("m")
    ).first()["m"]
    rank_of_approx = o.filter(F.col("c") <= approx).count()
    assert abs(rank_of_approx - n / 2) <= n / accuracy + 1


def test_pps_systematic_sample_probe_semantics(spark):
    """Each of the k probes lands in exactly one item's interval; items
    heavier than W/k can take multiple probes (multiplicity = how many
    evenly spaced probes their interval spans)."""
    from super_store_datawarehouse_spark.operators.sampling import (
        pps_systematic_sample,
    )

    rows = [(1, 10), (2, 10), (3, 940), (4, 20), (5, 20)]  # W=1000
    df = spark.createDataFrame(rows, ["id", "w"])
    got = pps_systematic_sample(df, "w", k=10, order_col="id").collect()
    assert len(got) == 10  # one row per probe, always
    by_id = {}
    for r in got:
        by_id[r["id"]] = by_id.get(r["id"], 0) + 1
    # item 3 holds 94% of the weight -> floor/ceil of 9.4 probes
    assert by_id[3] in (9, 10)
    assert sum(by_id.values()) == 10
    # deterministic under repartitioning
    again = pps_systematic_sample(
        df.repartition(7), "w", k=10, order_col="id"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_pack_sequences_invariants(spark):
    from super_store_datawarehouse_spark.operators.sampling import pack_sequences

    df = spark.range(0, 200).select(
        F.col("id"), (F.pmod(F.col("id") * 37, F.lit(400)) + 1).alias("toks")
    )
    packed = pack_sequences(df, "toks", budget=1000, order_col="id").collect()
    assert len(packed) == 200
    total = sum(r["toks"] for r in packed)
    # offsets stay inside the budget; pack_id nondecreasing in id order
    assert all(0 <= r["offset_in_pack"] < 1000 for r in packed)
    in_order = sorted(packed, key=lambda r: r["id"])
    assert all(
        a["pack_id"] <= b["pack_id"] for a, b in zip(in_order, in_order[1:])
    )
    # last pack's id == floor((total - last toks)/budget): layout is gapless
    last = in_order[-1]
    assert last["pack_id"] == (total - last["toks"]) // 1000


def test_deterministic_shuffle_dense_and_stable(spark):
    from super_store_datawarehouse_spark.operators.sampling import (
        deterministic_shuffle,
    )

    df = spark.range(0, 3000).withColumnRenamed("id", "k")
    a = deterministic_shuffle(df, "k", n_shards=8, salt=5).collect()
    # dense pos 0..n-1 per shard
    by_shard = {}
    for r in a:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))
    assert sum(len(v) for v in by_shard.values()) == 3000
    # pure function of (key, salt): identical under different partitioning
    b = deterministic_shuffle(df.repartition(11), "k", n_shards=8, salt=5).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # new salt = new permutation
    c = deterministic_shuffle(df, "k", n_shards=8, salt=6).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))


def test_cross_split_contamination_known_overlap(spark):
    """Craft ids whose split labels are known (via split_column) and texts
    with a planted train->test shingle leak."""
    from super_store_datawarehouse_spark.operators.dedup import (
        cross_split_contamination,
    )
    from super_store_datawarehouse_spark.operators.sampling import split_column

    base = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    labeled = {r["doc_id"]: r["s"] for r in
               base.withColumn("s", split_column("doc_id")).collect()}
    train_id = next(i for i, s in labeled.items() if s == "train")
    test_id = next(i for i, s in labeled.items() if s == "test")
    clean_id = next(
        i for i, s in labeled.items() if s == "test" and i != test_id
    )
    rows = [
        (train_id, "alpha beta gamma delta epsilon zeta"),
        (test_id, "alpha beta gamma delta nothing else here"),
        (clean_id, "totally different words entirely unique tokens"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_contaminated"])
        for r in cross_split_contamination(df, n=3).collect()
    }
    # leaky doc: shares 'alpha beta gamma'+'beta gamma delta' 3-gram shingles
    assert got[test_id][0] == 5 and got[test_id][1] == 2
    assert got[clean_id] == (4, 0)


def test_xml_source_roundtrip(tmp_path, spark):
    """Spark 4 ships the XML source natively: write rows out, read them
    back with rowTag addressing, schema preserved."""
    out = str(tmp_path / "xmlout")
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", None)],
        "id long, name string, score double",
    )
    df.write.format("xml").option("rootTag", "rows").option(
        "rowTag", "row"
    ).save(out)
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("id long, name string, score double")
        .load(out)
    )
    assert sorted(map(tuple, back.collect())) == [
        (1, "alpha", 1.5),
        (2, "beta", None),
    ]


def test_avro_source_or_gated(tmp_path, spark):
    """spark-avro is an external JVM module; exercise it when deployed,
    otherwise assert the engine fails loudly (not silently) without it."""
    out = str(tmp_path / "avroout")
    df = spark.range(0, 10).withColumn("v", F.col("id") * 3)
    try:
        df.write.format("avro").save(out)
    except Exception as ex:  # noqa: BLE001
        assert "avro" in str(ex).lower()
        pytest.skip("spark-avro jar not deployed in this container")
    back = spark.read.format("avro").load(out)
    assert back.count() == 10
    assert back.agg(F.sum("v")).first()[0] == 3 * 45


def test_minhash_lsh_md5_recall_vs_exact(spark, docs):
    """The fully-oracled md5 LSH path: exact-verified (no false
    positives by construction) and high recall vs the exact join."""
    from super_store_datawarehouse_spark.operators.dedup import (
        minhash_lsh_pairs_md5,
        ngram_jaccard_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs_md5(docs).collect()
    }
    assert lsh <= exact
    if exact:
        assert len(lsh & exact) / len(exact) >= 0.8


def test_pq_ivf_all_probes_degenerates_to_unbounded_adc(spark):
    """IVFADC with every cell probed admits every candidate pair, so it
    must return exactly the unbounded-ADC baseline's top-k: the IVF
    restriction only ever *removes* candidates, and with nprobe >= the
    centroid count it removes none. Pins the candidate-join rewrite
    (cand -> codes -> dtab) to the baseline's (codes x dtab) semantics."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.similarity import (
        IVF_NPROBE,
        pq_ivf_topk,
        pq_topk,
    )
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    emb = load_table(spark, TESTDATA_SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    baseline = {
        (r.query_id, r.rank): (r.neighbor_id, r.adist)
        for r in pq_topk(emb, queries, dim=64).collect()
    }
    # max_cells=IVF_NPROBE caps the centroids at the probe count, so
    # every query probes every cell
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.adist)
        for r in pq_ivf_topk(emb, queries, dim=64, max_cells=IVF_NPROBE).collect()
    }
    assert got == baseline


def test_pq_full_codebook_degenerates_to_exact_l2(spark):
    """Product quantization with every vector sampled into the codebook
    encodes each sub-vector as itself, so ADC distance == exact squared
    L2 and PQ top-k must equal the exact L2 top-k. The corpus is the
    codebook's own hash sample, so the sample holds every vector. (On
    the synthetic random vectors a *sampled* codebook has near-chance
    recall — that's a property of quantizing isotropic noise, not a bug;
    the oracle verifies the pipeline bit-exactly either way.)"""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sampling import hash_bucket
    from super_store_datawarehouse_spark.operators.similarity import (
        PQ_BUCKETS,
        PQ_SALT,
        pq_topk,
        sq_l2,
    )
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    emb = load_table(spark, TESTDATA_SF, "embeddings").filter(
        hash_bucket(F.col("vec_id"), PQ_SALT) < PQ_BUCKETS
    )
    first = sorted(r.vec_id for r in emb.select("vec_id").collect())[:5]
    assert len(first) == 5
    queries = emb.filter(F.col("vec_id").isin(first))
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in pq_topk(emb, queries, dim=64).collect()
    }

    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").cast("array<double>").alias("qv")
    )
    scored = (
        e.join(q, F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), sq_l2(F.col("qv"), F.col("v")).alias("d"))
    )
    w = Window.partitionBy("query_id").orderBy("d", "neighbor_id")
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter("rank <= 5")
        .collect()
    }
    assert got == want


def test_smoke_harness_catches_deliberately_broken_query(spark):
    """The end-of-round smoke gate must actually fail on a query that
    raises at analysis time (the exact failure mode of the r2 events
    regression) — and pass the good ones alongside it."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from smoke_harness import smoke

    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    def good(sp, sf_dir):
        return load_table(sp, sf_dir, "nation").select("n_name")

    def broken_analysis(sp, sf_dir):
        # resolves lazily to a missing column — raises only when probed
        return load_table(sp, sf_dir, "nation").select("no_such_column")

    def broken_runtime(sp, sf_dir):
        # the error must sit on the count path (a filter): column pruning
        # would skip a merely-projected error expression entirely
        def boom(x):
            raise ValueError("boom")

        return load_table(sp, sf_dir, "nation").filter(
            F.udf(boom, "boolean")("n_name")
        )

    failures = smoke(
        {"ok_q": good, "bad_analysis": broken_analysis, "bad_runtime": broken_runtime},
        spark,
        TESTDATA_SF,
        verbose=False,
    )
    assert failures == ["bad_analysis", "bad_runtime"]


def test_blocked_fuzzy_link_matches_and_blocking_tradeoff(spark):
    from super_store_datawarehouse_spark.operators.linkage import blocked_fuzzy_link

    clean = spark.createDataFrame(
        [(1, "widget"), (2, "gadget"), (3, "sprocket")], ["cid", "name"]
    )
    dirty = spark.createDataFrame(
        [
            (10, "widgt"),     # 1 deletion -> widget
            (11, "gadget"),    # exact -> gadget
            (12, "sprocket_x"),  # 2 inserts -> sprocket (len band edge)
            (13, "xwidget"),   # first char changed: blocked out by design
            (14, "zzzzz"),     # no match within distance
        ],
        ["did", "name"],
    )
    got = {
        r.l_id: (r.r_id, r.dist)
        for r in blocked_fuzzy_link(
            dirty, clean, "did", "name", "cid", "name"
        ).collect()
    }
    assert got == {10: (1, 1), 11: (2, 0), 12: (3, 2)}
    # 13 shares no block (first char differs) and 14 exceeds max_dist —
    # the documented blocking trade-off, not silent wrong answers
    assert 13 not in got and 14 not in got


def test_grouped_ranks_equals_window_ranks(spark):
    """Parallel ranked selection must assign the same rank multiset per
    (group, value) as the plain window — including duplicate values and
    ranks carried across Arrow batch boundaries (forced tiny batches)."""
    from pyspark.sql import Window

    from super_store_datawarehouse_spark.operators.selection import grouped_ranks

    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        df = spark.range(0, 3_000).select(
            (F.col("id") % 3).cast("string").alias("g"),
            ((F.col("id") * 7919) % 500).alias("v"),  # many duplicate values
        )
        got = grouped_ranks(df, "g", "v")
        w = Window.partitionBy("g").orderBy("v")
        want = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
        )

        def key(rows):
            return sorted((r.g, r.v, r.rn, r.n) for r in rows)

        # ties may order differently between the two formulations, but the
        # (group, value, rank) multiset — hence any selection by rank — must
        # agree exactly
        assert key(got.collect()) == key(want.collect())
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_pq_refined_codebook_reduces_quantization_error(spark):
    """One Lloyd step must not worsen total quantization error: for every
    (vector, subspace), distance to the nearest refined codeword summed
    over the corpus <= the same sum against the raw sampled codebook
    (small slack absorbs the trunc-div integer rounding of the means)."""
    from super_store_datawarehouse_spark.operators.similarity import (
        _pq_sampled_codebook,
        pq_refined_codebook,
        sq_l2,
    )
    from super_store_datawarehouse_spark.sources.testdata import load_table
    from tests.conftest import TESTDATA_SF

    emb = load_table(spark, TESTDATA_SF, "embeddings")
    m, sd = 4, 16
    e = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    subvecs = e.select(
        "vid",
        F.posexplode(
            F.array(*[F.slice("v", j * sd + 1, sd) for j in range(m)])
        ).alias("j", "sv"),
    )

    def total_err(sub):
        d = (
            subvecs.join(sub, "j")
            .withColumn("d", sq_l2(F.col("sv"), F.col("cv")))
            .groupBy("vid", "j")
            .agg(F.min("d").alias("best"))
        )
        return d.agg(F.sum("best")).first()[0]

    sub0 = _pq_sampled_codebook(e, m, sd, codebook_buckets=300, salt=13)
    sub1 = pq_refined_codebook(emb, m=m, dim=64, codebook_buckets=300, salt=13)
    err0, err1 = total_err(sub0), total_err(sub1)
    assert err1 <= err0 * 1.001, (err0, err1)
    assert err1 < err0, "refinement should strictly improve on random samples"


def test_semantic_dedup_subset_of_bruteforce(spark):
    """Cluster-bounded pairs are exactly the brute-force pairs whose
    members share a k-means cluster — no extras, correct cosines."""
    from super_store_datawarehouse_spark.operators.clustering import kmeans_quantized
    from super_store_datawarehouse_spark.operators.dedup import (
        embedding_near_dup_pairs,
        semantic_near_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    sem = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in semantic_near_dup_pairs(emb).collect()
    }
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, threshold=0.35).collect()
    }
    cluster = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_quantized(emb).collect()
    }
    expected = {
        pair for pair in brute if cluster[pair[0]] == cluster[pair[1]]
    }
    assert set(sem) == expected
    assert all(sem[p] == brute[p] for p in sem)


def test_bloom_filter_no_false_negatives_and_prunes(spark):
    from super_store_datawarehouse_spark.operators.runtime_filter import (
        bloom_prefilter,
        build_bloom,
    )

    build = spark.range(0, 200).withColumnRenamed("id", "k")
    probe = spark.range(0, 20000).withColumnRenamed("id", "k")
    bloom = build_bloom(build, "k")
    kept = {r["k"] for r in bloom_prefilter(probe, "k", bloom).collect()}
    # no false negatives: every build key survives
    assert set(range(200)) <= kept
    # the sketch actually prunes: default sizing targets ~0.05% FPR
    assert len(kept) < 200 + 100


def test_bloom_join_equals_plain_join(spark):
    from super_store_datawarehouse_spark.operators.runtime_filter import bloom_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        F.col("l_suppkey").alias("s_suppkey"), "l_quantity"
    )
    supp = (
        spark.read.parquet(f"{SF_DIR}/supplier.parquet")
        .filter(F.col("s_nationkey") == 3)
        .select("s_suppkey", "s_name")
    )
    got = sorted(
        (r["s_suppkey"], r["l_quantity"], r["s_name"])
        for r in bloom_join(li, supp, on="s_suppkey").collect()
    )
    want = sorted(
        (r["s_suppkey"], r["l_quantity"], r["s_name"])
        for r in li.join(supp, "s_suppkey").collect()
    )
    assert got == want and len(got) > 0


def test_ngram_containment_asymmetric(spark):
    """A short doc fully quoted inside a long one: containment is 1.0
    from the short side, < 1 from the long side (the axis Jaccard
    misses)."""
    from super_store_datawarehouse_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long_ = short + " zeta eta theta iota kappa lam mu"
    df = spark.createDataFrame([(1, short), (2, long_)], ["doc_id", "text"])
    rows = {
        (r["id_src"], r["id_dst"]): r["containment"]
        for r in ngram_containment_pairs(df, threshold=0.1).collect()
    }
    assert rows[(1, 2)] == 1.0
    assert 0 < rows[(2, 1)] < 1.0


def test_countmin_partition_invariant_and_one_sided(spark):
    """CMS counters are additive, so the sketch is invariant to how the
    token stream is partitioned, and every estimate upper-bounds the
    true count."""
    from super_store_datawarehouse_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    toks = spark.createDataFrame(
        [(w,) for w in (["spark"] * 50 + ["duck"] * 20 + ["rare"] * 1)],
        ["word"],
    )
    s1 = {(r["r"], r["pos"]): r["cnt"] for r in countmin_build(toks).collect()}
    s8 = {
        (r["r"], r["pos"]): r["cnt"]
        for r in countmin_build(toks.repartition(8)).collect()
    }
    assert s1 == s8
    items = toks.distinct()
    est = {
        r["word"]: r["est_cnt"]
        for r in countmin_estimate(countmin_build(toks), items).collect()
    }
    true = {"spark": 50, "duck": 20, "rare": 1}
    assert all(est[w] >= c for w, c in true.items())


def test_ppjoin_equals_plain_and_prunes(spark, docs):
    """Prefix filtering is lossless (same pairs, same jaccard as the
    plain join) while generating strictly fewer candidates than the
    all-shared-shingle pair set."""
    from super_store_datawarehouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ppjoin_jaccard_pairs,
        word_shingles,
    )

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_jaccard_pairs(docs, threshold=0.2).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert got == want and len(got) > 0

    sh = word_shingles(docs, hashed=True)
    left = sh.select(F.col("sid").alias("id_a"), "shingle")
    right = sh.select(F.col("sid").alias("id_b"), "shingle")
    all_pairs = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    # rebuild the candidate count the operator generates internally
    from pyspark.sql import Window

    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_shingles"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("sid").orderBy("df", "shingle")
    prefix = (
        sh.join(dfreq, "shingle")
        .join(sizes, "sid")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.expr("n_shingles - ((200 * n_shingles + 999) div 1000) + 1")
        )
        .select("sid", "shingle")
    )
    cand = (
        prefix.select(F.col("sid").alias("id_a"), "shingle")
        .join(prefix.select(F.col("sid").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )
    assert cand < all_pairs


def test_jaccard_auto_dispatch_boundary_and_equivalence(spark, docs):
    """The auto dispatcher must encode the sf10-measured crossover
    (PPJoin wins at t>=0.7, ties at 0.5, loses below) and both
    strategies must return identical rows on either side of it."""
    from super_store_datawarehouse_spark.operators.dedup import (
        PPJOIN_CROSSOVER_THRESHOLD,
        jaccard_pairs_auto,
        jaccard_strategy_for,
        ngram_jaccard_pairs,
        ppjoin_jaccard_pairs,
    )

    # decision boundary, pinned to the measurements
    assert PPJOIN_CROSSOVER_THRESHOLD == 0.7
    assert jaccard_strategy_for(0.2) == "plain"
    assert jaccard_strategy_for(0.5) == "plain"   # measured tie -> cheaper plan
    assert jaccard_strategy_for(0.69) == "plain"
    assert jaccard_strategy_for(0.7) == "ppjoin"
    assert jaccard_strategy_for(0.8) == "ppjoin"

    def pairs(df):
        return {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}

    # below the boundary auto == plain; at/above it auto == ppjoin == plain
    assert pairs(jaccard_pairs_auto(docs, threshold=0.2)) == pairs(
        ngram_jaccard_pairs(docs, threshold=0.2)
    )
    hi_auto = pairs(jaccard_pairs_auto(docs, threshold=0.8))
    assert hi_auto == pairs(ppjoin_jaccard_pairs(docs, threshold=0.8))
    assert hi_auto == pairs(ngram_jaccard_pairs(docs, threshold=0.8))


def test_hash_sample_n_fixed_size_deterministic_and_capped(spark):
    from super_store_datawarehouse_spark.operators.sampling import (
        MAX_SAMPLE_N,
        hash_sample_n,
        hash_sample_n_sql,
        knuth_hash,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    got = sorted(r["k"] for r in hash_sample_n(df, "k", 37, salt=5).collect())
    assert len(got) == 37
    # deterministic across reruns and repartitioning
    again = sorted(
        r["k"] for r in hash_sample_n(df.repartition(7), "k", 37, salt=5).collect()
    )
    assert got == again
    # exactly the 37 lowest (hash, key) ranks — replicate driver-side
    ranked = sorted(
        (r["h"], r["k"])
        for r in df.select("k", knuth_hash("k", 5).alias("h")).collect()
    )
    assert got == sorted(k for _, k in ranked[:37])
    # plans as TakeOrderedAndProject (streaming top-n, never a full sort)
    plan = hash_sample_n(df, "k", 37)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # SQL twin composes as an ORDER BY ... LIMIT clause
    assert hash_sample_n_sql("k", 37, 5).startswith("ORDER BY")
    # the heap contract is loud: the top-n queue pre-allocates at n
    import pytest as _pytest

    with _pytest.raises(ValueError, match="MAX_SAMPLE_N"):
        hash_sample_n(df, "k", MAX_SAMPLE_N + 1)


def test_stratified_exact_sample_allocation(spark):
    from super_store_datawarehouse_spark.operators.sampling import (
        stratified_exact_sample,
    )

    rows = [(i, "a" if i < 37 else "b") for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "s"])
    out = stratified_exact_sample(df, key_col="k", strata_col="s", percent=20)
    counts = {r["s"]: r["n"] for r in out.groupBy("s").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("k").alias("n")
    ).collect()}
    # exact floor allocation: 37*20//100 = 7, 63*20//100 = 12
    assert counts == {"a": 7, "b": 12}
    # deterministic: same draw twice, membership identical
    a = {r["k"] for r in out.collect()}
    b = {r["k"] for r in stratified_exact_sample(
        df, key_col="k", strata_col="s", percent=20).collect()}
    assert a == b


def test_misra_gries_superset_and_exact_heavy_hitters(spark):
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sketches import (
        heavy_hitters_exact,
        misra_gries_candidates,
    )

    # adversarial stream: 2 genuine heavy items drowned in 600 singletons,
    # spread over several partitions, with k = 30 far below the vocab size
    rows = [("hot",)] * 200 + [("warm",)] * 25 + [(f"n{i}",) for i in range(600)]
    df = spark.createDataFrame(rows, ["word"]).repartition(4)
    n = len(rows)  # 825; threshold with k=30: count*31 > 825 → > 26.6
    cand = {r["word"] for r in misra_gries_candidates(df).collect()}
    assert {"hot"} <= cand          # guaranteed: 200*31 > 825
    assert len(cand) <= 30 * 4      # ≤ k counters per partition
    hh = {r["word"]: r["cnt"] for r in heavy_hitters_exact(df).collect()}
    assert hh == {"hot": 200}       # warm: 25*31 = 775 < 825 → not a HH
    # exactness: counts are true counts, not sketch estimates
    assert hh["hot"] == df.filter(F.col("word") == "hot").count()


def test_bpe_learn_matches_reference_greedy_semantics(spark):
    from super_store_datawarehouse_spark.operators.text import bpe_learn

    # vocabulary: "aaa" x5, "ab" x4, "ba" x3
    # round 1 pairs: (a,a): 2*5=10, (a,b): 4, (b,a): 3 → merge (a,a), freq 10
    # greedy: "a a a" → "(aa) a" (NOT "a (aa)")
    # round 2 seqs: " aa  a "x5, " a  b "x4, " b  a "x3
    #   pairs: (aa,a): 5, (a,b): 4, (b,a): 3 → merge (aa,a), freq 5
    # round 3 pairs: (a,b): 4, (b,a): 3 → merge (a,b), freq 4
    wf = spark.createDataFrame(
        [("aaa", 5), ("ab", 4), ("ba", 3)], ["w", "freq"]
    )
    merges, seqs = bpe_learn(wf)
    rows = [(r["merge_rank"], r["left_sym"], r["right_sym"], r["pair_freq"])
            for r in merges.orderBy("merge_rank").collect()]
    assert rows == [(1, "a", "a", 10), (2, "aa", "a", 5), (3, "a", "b", 4)]
    final = sorted(r["s"] for r in seqs.collect())
    assert final == [" aaa ", " ab ", " b  a "]


def test_join_delta_equals_full_recompute_diff(spark):
    from super_store_datawarehouse_spark.operators.incremental import join_delta

    a_old = spark.createDataFrame([(1, "a1"), (2, "a2")], ["k", "av"])
    a_delta = spark.createDataFrame([(2, "a2new"), (3, "a3")], ["k", "av"])
    b_old = spark.createDataFrame([(1, "b1"), (3, "b3")], ["k", "bv"])
    b_delta = spark.createDataFrame([(2, "b2")], ["k", "bv"])
    delta = join_delta(a_old, a_delta, b_old, b_delta, on="k")
    a_new, b_new = a_old.unionByName(a_delta), b_old.unionByName(b_delta)
    expected = a_new.join(b_new, "k").exceptAll(a_old.join(b_old, "k"))
    assert sorted(map(tuple, delta.collect())) == sorted(
        map(tuple, expected.collect())
    )
    # and the delta is non-trivial: all three terms contribute
    got = sorted(map(tuple, delta.collect()))
    assert (3, "a3", "b3") in got      # ΔA ⋈ B_old
    assert (2, "a2", "b2") in got      # A_old ⋈ ΔB
    assert (2, "a2new", "b2") in got   # ΔA ⋈ ΔB


def test_write_with_metrics_observes_the_write_job(spark, tmp_path):
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.sources.sinks import write_with_metrics

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], ["k", "v"]
    )
    got = write_with_metrics(
        df,
        str(tmp_path / "t"),
        metrics={
            "n_rows": F.count(F.lit(1)),
            "n_null_v": F.sum(F.isnull("v").cast("long")),
            "sum_k": F.sum("k"),
        },
    )
    assert got == {"n_rows": 3, "n_null_v": 1, "sum_k": 6}
    # and the data actually landed
    assert spark.read.parquet(str(tmp_path / "t")).count() == 3


def test_hll_distinct_matches_pure_python_replay(spark):
    import hashlib

    from super_store_datawarehouse_spark.operators.sketches import (
        HLL_LINEAR,
        hll_distinct,
    )

    rows = [(i % 3, i * 7 + 1) for i in range(2000)]
    df = spark.createDataFrame(rows, ["g", "k"])
    got = {r["g"]: r["est_distinct"] for r in hll_distinct(df, ["g"], "k").collect()}

    M = 64
    regs: dict = {}
    for g, k in rows:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
        b, w = h % M, h // M
        rho = 27 - w.bit_length() if w > 0 else 27
        regs.setdefault(g, {})
        regs[g][b] = max(regs[g].get(b, 0), rho)
    for g, r in regs.items():
        t = sum(1 << (32 - m) for m in r.values()) + (M - len(r)) * (1 << 32)
        raw = (709 * M * M * (1 << 32)) // (1000 * t)
        v = M - len(r)
        want = HLL_LINEAR[v - 1] if (raw * 2 <= 5 * M and v > 0) else raw
        assert got[g] == want, (g, got[g], want)
    # sanity: single-group estimates carry ~13% (1 sigma) error at m=64,
    # so bound each loosely and the 3-group mean tightly
    true_n = len({k for _, k in rows}) // 3
    for g in got:
        assert abs(got[g] - true_n) < 0.6 * true_n
    mean = sum(got.values()) / len(got)
    assert abs(mean - true_n) < 0.3 * true_n


def test_hll_distinct_small_range_uses_linear_counting(spark):
    from super_store_datawarehouse_spark.operators.sketches import hll_distinct

    df = spark.createDataFrame([(1, i) for i in range(30)], ["g", "k"])
    got = hll_distinct(df, ["g"], "k").collect()[0]["est_distinct"]
    assert abs(got - 30) <= 6   # linear counting is tight at tiny n


def test_asof_join_nearest_semantics(spark):
    import datetime as dt

    from super_store_datawarehouse_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(3)), (3, 1, t(58)), (4, 2, t(5))],
        ["lid", "key", "ts"],
    )
    right = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(12), 120.0), (1, t(30), 300.0)],
        ["key", "ts", "px"],
    )
    near = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"], direction="nearest"
        ).collect()
    }
    assert near[1] == 120.0     # |12-10|=2 beats |10-5|=5
    assert near[2] == 50.0      # forward 5 at gap 2 beats nothing backward
    assert near[3] == 300.0     # only backward exists (gap 28)
    assert near[4] is None      # key 2 unmatched
    # tie goes backward (pandas semantics): left at 8.5 → gaps 3.5/3.5
    tie = spark.createDataFrame([(9, 1, t(8))], ["lid", "key", "ts"])
    r2 = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(11), 110.0)], ["key", "ts", "px"]
    )
    got = asof_join(
        tie, r2, on="key", value_cols=["px"], direction="nearest"
    ).collect()[0]["asof_px"]
    assert got == 50.0          # equal 3 s gaps → backward wins
    # tolerance still applies per side
    tol = {
        r["lid"]: r["asof_px"]
        for r in asof_join(
            left, right, on="key", value_cols=["px"],
            direction="nearest", tolerance_us=3_000_000,
        ).collect()
    }
    assert tol[1] == 120.0      # gap 2 s <= 3 s
    assert tol[3] is None       # both sides beyond tolerance


def _make_png(width: int, height: int) -> bytes:
    """A genuine, spec-valid RGB PNG built with stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    # each scanline: filter byte 0 + width RGB pixels
    raw = b"".join(b"\x00" + b"\x10\x20\x30" * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_assets_real_image_roundtrip(spark):
    """decode_assets (fake=False) must return the ACTUAL encoded
    dimensions and format of genuine PNG/GIF/BMP/JPEG payloads."""
    import struct

    from super_store_datawarehouse_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_assets,
    )

    png = _make_png(37, 11)
    gif = (
        b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00" + b"\x00" * 16
    )
    bmp = (
        b"BM" + struct.pack("<IHHI", 62, 0, 0, 54)
        + struct.pack("<IiiHH", 40, 640, -480, 1, 24) + b"\x00" * 24
    )
    jpeg = (
        b"\xff\xd8"                                   # SOI
        + b"\xff\xe0" + struct.pack(">H", 16)          # APP0, len 16 = 2+14
        + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
        + b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 99, 144, 1)
        + b"\x01\x11\x00"                              # SOF0: 144x99, 1 comp
        + b"\xff\xd9"                                  # EOI
    )
    assets = spark.createDataFrame(
        [
            (1, bytearray(png), "image/png"),
            (2, bytearray(gif), "image/gif"),
            (3, bytearray(bmp), "image/bmp"),
            (4, bytearray(jpeg), "image/jpeg"),
        ],
        ASSET_SCHEMA,
    )
    got = {r["asset_id"]: r for r in decode_assets(assets).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["format"]) == (37, 11, "png")
    assert (got[2]["width"], got[2]["height"], got[2]["format"]) == (320, 200, "gif")
    assert (got[3]["width"], got[3]["height"], got[3]["format"]) == (640, 480, "bmp")
    assert (got[4]["width"], got[4]["height"], got[4]["format"]) == (144, 99, "jpeg")
    assert got[1]["byte_len"] == len(png)
    # optional deep verification when Pillow happens to be installed:
    # the stdlib sniffer must agree with a full decode
    try:
        import io

        from PIL import Image
    except ImportError:
        pass
    else:
        with Image.open(io.BytesIO(png)) as img:
            assert (img.width, img.height) == (37, 11)


def test_decode_assets_unrecognized_payload_modes(spark):
    """Unknown bytes: the loud missing-codec gate."""
    import pytest as _pytest

    from super_store_datawarehouse_spark.operators.multimodal import (
        ASSET_SCHEMA,
        decode_assets,
    )

    assets = spark.createDataFrame(
        [(1, bytearray(b"not-an-image"), "application/octet-stream")],
        ASSET_SCHEMA,
    )
    with _pytest.raises(Exception, match="unrecognized media payload"):
        decode_assets(assets).collect()


def test_asof_join_nearest_null_and_duplicate_left_rows(spark):
    """Regression: the nearest-direction recombination must join the
    backward/forward passes on a synthetic row id, not on left column
    values — a NULL in any left column must not drop the row, and
    identical duplicate left rows must not fan out quadratically."""
    import datetime as dt

    from super_store_datawarehouse_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    right = spark.createDataFrame(
        [(1, t(5), 50.0), (1, t(12), 120.0)], ["key", "ts", "px"]
    )
    # left row with a NULL payload column survives with its match
    left_null = spark.createDataFrame(
        [(1, 1, t(10), None), (2, 1, t(4), "x")],
        "lid int, key int, ts timestamp, tag string",
    )
    rows = asof_join(
        left_null, right, on="key", value_cols=["px"], direction="nearest"
    ).collect()
    assert len(rows) == 2
    by_lid = {r["lid"]: r for r in rows}
    assert by_lid[1]["tag"] is None and by_lid[1]["asof_px"] == 120.0
    assert by_lid[2]["asof_px"] == 50.0
    # two IDENTICAL left rows → exactly two output rows (not four)
    left_dup = spark.createDataFrame(
        [(1, t(10)), (1, t(10))], ["key", "ts"]
    )
    dup_rows = asof_join(
        left_dup, right, on="key", value_cols=["px"], direction="nearest"
    ).collect()
    assert len(dup_rows) == 2
    assert all(r["asof_px"] == 120.0 for r in dup_rows)


def test_split_export_with_write_metrics(spark, tmp_path):
    """End-to-end write-audit-publish: an exact-allocation split lands
    in parquet with its row counts and key checksum captured by the
    SAME job (Observation), and the audit numbers match a recount."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sampling import (
        stratified_exact_sample,
    )
    from super_store_datawarehouse_spark.sources.sinks import write_with_metrics

    rows = [(i, f"s{i % 4}") for i in range(200)]
    df = spark.createDataFrame(rows, ["k", "s"])
    split = stratified_exact_sample(df, key_col="k", strata_col="s", percent=25)
    got = write_with_metrics(
        split,
        str(tmp_path / "train"),
        metrics={
            "n_rows": F.count(F.lit(1)),
            "key_checksum": F.sum("k"),
        },
    )
    back = spark.read.parquet(str(tmp_path / "train"))
    assert got["n_rows"] == back.count() == 48  # 4 strata x (50*25//100)
    assert got["key_checksum"] == back.agg(F.sum("k")).collect()[0][0]


def test_cdc_chunks_lossless_and_content_defined(spark):
    """CDC chunking must be lossless (chunks rejoin to the exact word
    sequence) and content-defined: an insertion near the front shifts
    chunk CONTENT locally but the trailing chunks realign (same
    suffix chunks), unlike fixed-width blocking."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.text import cdc_chunks, words

    text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
        "psi omega one two three four five six seven eight nine ten"
    )
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    chunks = [
        r["chunk_text"]
        for r in cdc_chunks(df).orderBy("chunk_idx").collect()
    ]
    rejoined = " ".join(chunks)
    original = " ".join(
        df.select(words("text").alias("w")).collect()[0]["w"]
    )
    assert rejoined == original  # lossless

    # prepend two words: suffix chunks must reappear identically
    df2 = spark.createDataFrame([(1, "zzz yyy " + text)], ["doc_id", "text"])
    chunks2 = [
        r["chunk_text"]
        for r in cdc_chunks(df2).orderBy("chunk_idx").collect()
    ]
    assert " ".join(chunks2).endswith(original)
    shared_suffix = set(chunks) & set(chunks2)
    assert shared_suffix, "no chunk realigned after an insertion"


def test_asof_nearest_ids_stable_under_nondeterministic_upstream(spark):
    """The nearest-direction passes recombine on
    monotonically_increasing_id, which Spark does NOT reproduce across
    plan re-executions when the upstream is nondeterministic (round-
    robin repartition here). The tagged frame is localCheckpoint'ed
    before branching, so both passes must read identical physical ids —
    every left row survives exactly once with the right match."""
    import datetime as dt

    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.temporal import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = (
        spark.range(60)
        .select(
            F.col("id").alias("lid"),
            (F.col("id") % 3).cast("int").alias("key"),
            F.timestamp_seconds(
                F.lit(int(t(0).timestamp())) + F.col("id") % 50
            ).alias("ts"),
        )
        .repartition(7)  # round-robin: nondeterministic row placement
    )
    right = spark.createDataFrame(
        [(k, t(s), float(s * 10 + k)) for k in (0, 1, 2) for s in (5, 25, 45)],
        ["key", "ts", "px"],
    )
    out = asof_join(
        left, right, on="key", value_cols=["px"], direction="nearest"
    )
    rows = out.collect()
    assert len(rows) == 60
    assert len({r["lid"] for r in rows}) == 60
    for r in rows:
        sec = r["ts"].second
        nearest = min((5, 25, 45), key=lambda s: (abs(s - sec), s > sec))
        assert r["asof_px"] == float(nearest * 10 + r["key"]), r


def test_sniff_jpeg_fill_bytes_and_standalone_markers():
    """The JPEG segment walk must skip legal 0xFF fill bytes
    between segments and treat TEM (0x01) / RSTn (0xD0-0xD7) as
    length-less standalone markers instead of misreading a bogus
    segment length."""
    import struct

    from super_store_datawarehouse_spark.operators.multimodal import (
        _sniff_image,
    )

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 1, 1, 0, 0
    )
    sof0 = (
        b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, 77, 203, 1) + b"\x01\x11\x00"
    )
    # fill bytes before markers (legal padding)
    jpeg_fill = b"\xff\xd8" + b"\xff\xff\xff" + app0[1:] + b"\xff\xff" + sof0[1:]
    assert _sniff_image(jpeg_fill) == (203, 77, "jpeg")
    # standalone TEM and RST markers between segments
    jpeg_standalone = (
        b"\xff\xd8" + app0 + b"\xff\x01" + b"\xff\xd0" + b"\xff\xd7" + sof0
    )
    assert _sniff_image(jpeg_standalone) == (203, 77, "jpeg")
    # EOI before any SOF → unrecognized, not a bogus parse
    assert _sniff_image(b"\xff\xd8" + app0 + b"\xff\xd9") is None


def test_similarity_non_finite_vectors_excluded(spark):
    """NaN/Inf embedding components made the norm NaN/Inf;
    Spark's double ordering ranks NaN first under desc(cosine) while
    the numpy batch-local selection ranks it last. Non-finite vectors
    are now out of contract: filtered like zero-norm vectors in every
    formulation."""
    from super_store_datawarehouse_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )

    nan, inf = float("nan"), float("inf")
    pad = [0.0] * 61  # lsh_topk hashes 64-dimensional embeddings
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0] + pad),
            (2, [0.9, 0.1, 0.0] + pad),
            (3, [nan, 1.0, 0.0] + pad),     # NaN component
            (4, [inf, 0.0, 0.0] + pad),     # Inf component
            (5, [0.0, 0.0, 0.0] + pad),     # zero norm (pre-existing contract)
        ],
        ["vec_id", "embedding"],
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0] + pad), (101, [nan, nan, nan] + pad)],
        ["vec_id", "embedding"],
    )
    got = brute_force_topk(corpus, queries)
    rows = got.collect()
    assert {r["neighbor_id"] for r in rows} == {1, 2}
    assert all(r["query_id"] == 100 for r in rows)  # NaN query dropped
    lsh = lsh_topk(corpus, queries).collect()
    assert all(
        r["neighbor_id"] in (1, 2) and r["query_id"] == 100 for r in lsh
    )


def test_canonical_url_normalizations(spark):
    """Every canonicalization axis: scheme/host case, www, default
    port, trailing slash, fragment, tracking params, param order."""
    from super_store_datawarehouse_spark.operators.text import canonical_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/Docs/?b=2&a=1#top",
         "https://example.com/Docs?a=1&b=2"),
        ("http://example.com:80/a/b/", "http://example.com/a/b"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),  # non-default port kept
        ("https://example.com/x?utm_source=f&gclid=z&id=3",
         "https://example.com/x?id=3"),
        ("https://example.com/x?utm_source=f", "https://example.com/x"),
        ("https://example.com", "https://example.com"),
        ("https://example.com/#frag", "https://example.com"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"])
    got = {
        r["i"]: r["c"]
        for r in df.select("i", canonical_url("url").alias("c")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (cases[i][0], got[i], want)


def test_longest_shared_spans_islands(spark):
    """A verbatim 8-token span shared by two docs at different offsets
    must come back as one span of exactly 8 tokens with the correct
    start positions; a doc sharing only isolated 5-grams (below the
    2-shingle run minimum) must not pair."""
    from super_store_datawarehouse_spark.operators.dedup import (
        longest_shared_spans,
    )

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "x1 y1 " + span + " tail1 tailA"),          # span at pos 2
            (2, span + " other words here"),                # span at pos 0
            (3, "alpha beta gamma delta epsilon unrelated w z q"),  # 1 shingle run of 1
            (4, "totally different content with no overlap at all ok"),
        ],
        ["doc_id", "text"],
    )
    rows = longest_shared_spans(docs).collect()
    by_pair = {(r["doc_a"], r["doc_b"]): r for r in rows}
    assert (1, 2) in by_pair
    r = by_pair[(1, 2)]
    assert r["span_tokens"] == 8 and r["start_a"] == 2 and r["start_b"] == 0
    # doc 3 shares exactly one 5-shingle with 1 and 2 -> run of 1 -> below
    # the min_span = n+1 = 6 gate
    assert all(3 not in pair for pair in by_pair)
    assert all(4 not in pair for pair in by_pair)


def test_unigram_segment_lossless_and_prefers_frequent_pieces(spark):
    """Viterbi segmentation must (a) concatenate back to the word
    exactly, (b) minimize piece count first (penalty dominates), and
    (c) among equal-count splits prefer the more frequent pieces."""
    from super_store_datawarehouse_spark.operators.text import unigram_segment

    rows = [("abcd", 1), ("ab", 50), ("cd", 50), ("abc", 1), ("d", 1)]
    df = spark.createDataFrame(rows, ["w", "freq"])
    got = {r["word"]: r for r in unigram_segment(df).collect()}
    for w, _ in rows:
        assert got[w]["seg"].replace(" ", "") == w
    # len-4 word under the 4-char piece cap: single piece 'abcd' always wins
    assert got["abcd"]["n_pieces"] == 1
    # force a 2-piece decision: a 6-char word over the 4-char cap; 'abc'+'def'
    # (freq 50+50, plus substring credit) beats 'ab cdef' and 'abcd ef'
    rows2 = [("abcdef", 1), ("abc", 50), ("def", 50)]
    got2 = {
        r["word"]: r
        for r in unigram_segment(spark.createDataFrame(rows2, ["w", "freq"])).collect()
    }
    assert got2["abcdef"]["seg"] == "abc def"
    assert got2["abcdef"]["n_pieces"] == 2


def test_repetition_signals_flags_repetitive_docs(spark):
    from super_store_datawarehouse_spark.operators.text import repetition_signals

    rows = [(1, "a a a a"), (2, "a b c d e f g h i j"), (3, "hi")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # doc 1: top 2-gram "a a" x3 covers 9 chars of 7 normalized (overlap
    # counts double — the standard Gopher approximation); all 3-gram
    # occurrences duplicated
    r1 = got[1]
    assert r1["top_ngram"] == "a a" and r1["top_ngram_count"] == 3
    assert r1["top_ngram_char_frac"] == 9 / 7
    assert r1["dup_ngram_frac"] == 1.0
    assert r1["repetitive"]
    # doc 2: all grams unique; count-1 tie breaks to the lexicographic
    # minimum gram; 3 of 19 chars is under the 20% gate
    r2 = got[2]
    assert r2["top_ngram"] == "a b" and r2["top_ngram_count"] == 1
    assert r2["top_ngram_char_frac"] == 3 / 19
    assert r2["dup_ngram_frac"] == 0.0
    assert not r2["repetitive"]
    # doc 3: one word — no 2-gram, no output row
    assert 3 not in got


def test_temperature_quota_sample_is_exact_and_partition_stable(spark):
    from super_store_datawarehouse_spark.operators.sampling import (
        quota_sample,
        temperature_quotas,
    )

    # skewed domains: 100 docs in 'big', 9 in 'mid', 1 in 'tiny'
    rows = [(i, "big") for i in range(100)]
    rows += [(100 + i, "mid") for i in range(9)]
    rows += [(200, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "dom"])
    quotas = {r["dom"]: r for r in temperature_quotas(df, "dom").collect()}
    # w = floor(sqrt(n)): 10, 3, 1; T = 110*33//100 = 36; W = 14
    assert quotas["big"]["weight"] == 10 and quotas["big"]["target_n"] == 36 * 10 // 14
    assert quotas["mid"]["weight"] == 3 and quotas["mid"]["target_n"] == 36 * 3 // 14
    assert quotas["tiny"]["target_n"] == 1  # 36*1//14 = 2, capped at n=1
    # alpha=0.5 upweights small domains vs proportional: mid keeps 7 of 9
    # while big keeps 25 of 100
    q = temperature_quotas(df, "dom")
    kept = quota_sample(df, "doc_id", "dom", q)
    per_dom = {r["dom"]: r["n"] for r in kept.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert per_dom == {d: quotas[d]["target_n"] for d in quotas}
    # membership is partitioning-independent
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    kept_ids2 = sorted(
        r["doc_id"] for r in quota_sample(df.repartition(7), "doc_id", "dom", q).collect()
    )
    assert kept_ids == kept_ids2


def test_phrase_matches_counts_overlapping_and_repeated_word_phrases(spark):
    from super_store_datawarehouse_spark.operators.search import phrase_matches

    rows = [
        (1, "a b a b a"),   # "a b a" occurs at 0 and 2 (overlapping)
        (2, "a b c a b a"), # once, at 3
        (3, "b a a b"),     # never
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    phrase = spark.createDataFrame([("a b a",)], ["phrase"])
    got = {r["doc_id"]: r["n_occurrences"] for r in phrase_matches(df, phrase).collect()}
    assert got == {1: 2, 2: 1}


def test_inverted_index_postings_are_position_ordered(spark):
    from super_store_datawarehouse_spark.operators.search import inverted_index

    rows = [(2, "cat dog cat"), (1, "dog cat")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["term"]: r for r in inverted_index(df).collect()}
    assert got["cat"]["df"] == 2 and got["cat"]["cf"] == 3
    assert got["cat"]["first_doc"] == 1
    # postings sorted by (doc_id, pos) regardless of input order
    assert got["cat"]["postings_head"] == "1:1,2:0,2:2"
    assert got["dog"]["postings_head"] == "1:0,2:1"


def test_token_rarity_ranks_and_argmax(spark):
    from super_store_datawarehouse_spark.operators.search import token_rarity

    rows = [(1, "the the cat"), (2, "cat dog")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in token_rarity(df).collect()}
    # corpus counts: cat=2, the=2, dog=1 -> ranks: cat 1 (tie, 'cat'<'the'),
    # the 2, dog 3
    assert got[1]["n_tok"] == 3 and got[1]["rank_sum"] == 2 + 2 + 1
    assert got[1]["mean_rank"] == 5 / 3
    assert got[1]["rarest_term"] == "the" and got[1]["rarest_rank"] == 2
    assert got[2]["rarest_term"] == "dog" and got[2]["rarest_rank"] == 3


def test_bloom_filter_is_one_sided_and_portable(spark):
    from super_store_datawarehouse_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_MOD,
        bloom_bits,
        bloom_build,
        bloom_probe,
    )
    from super_store_datawarehouse_spark.operators.dedup import _minhash_coeffs

    members = ["alpha", "beta", "gamma"]
    others = ["delta", "epsilon", "zeta", "eta", "theta"]
    keys = spark.createDataFrame([(m,) for m in members], ["k"])
    bits = bloom_bits(bloom_build(keys, "k"))
    # portable replay: recompute the set bits in plain python
    def poly(s):
        h = 7
        for ch in s:
            h = (h * 31 + ord(ch)) % BLOOM_MOD
        return h
    coeffs = _minhash_coeffs(2, seed=7)
    expect = sorted(
        {(a * poly(m) + b) % BLOOM_MOD % BLOOM_BITS for m in members for a, b in coeffs}
    )
    assert bits == expect
    probe = spark.createDataFrame([(w,) for w in members + others], ["k"])
    got = {r["k"]: r["bloom_positive"] for r in bloom_probe(probe, "k", bits).collect()}
    # one-sided: every member positive; non-members may false-positive
    assert all(got[m] for m in members)
    fp = [w for w in others if got[w]]
    true_fp = [
        w for w in others
        if all((a * poly(w) + b) % BLOOM_MOD % BLOOM_BITS in set(expect) for a, b in coeffs)
    ]
    assert fp == true_fp


def test_bloom_probe_empty_filter_rejects_all(spark):
    from super_store_datawarehouse_spark.operators.sketches import bloom_probe

    probe = spark.createDataFrame([("x",), ("y",)], ["k"])
    got = bloom_probe(probe, "k", []).collect()
    assert all(not r["bloom_positive"] for r in got)


def test_triangle_count_handcrafted_graphs(spark):
    from super_store_datawarehouse_spark.operators.graph import triangle_count

    # K4 on 1-4 (4 triangles, 3 per node) + star center 10 (no triangles)
    # + duplicate and reversed edges to exercise canonicalization
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    star = [(10, 20), (20, 10), (10, 30), (10, 40), (10, 40)]
    df = spark.createDataFrame(k4 + star, ["src", "dst"])
    got = {r["node"]: r for r in triangle_count(df).collect()}
    for n in (1, 2, 3, 4):
        assert got[n]["n_triangles"] == 3 and got[n]["degree"] == 3
    assert sum(r["n_triangles"] for r in got.values()) == 3 * 4  # 4 triangles
    assert got[10]["degree"] == 3 and got[10]["n_triangles"] == 0
    for leaf in (20, 30, 40):
        assert got[leaf]["degree"] == 1 and got[leaf]["n_triangles"] == 0


def test_seasonal_decompose_recovers_exact_components(spark):
    """y_t = t + s[t mod 24]: a centered (half-weighted) MA reproduces a
    linear trend exactly, so the decomposition must be EXACT — zero
    remainder, per-phase seasonal = s - mean(s), trend = t + mean(s)."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.temporal import (
        PERIOD,
        seasonal_decompose,
    )

    s = [0, 8, 4, 0] * (PERIOD // 4)  # daily seasonal pattern, mean 3
    rows = [(i, i + s[i % PERIOD]) for i in range(10 * PERIOD)]
    df = spark.createDataFrame(rows, ["i", "y"]).select(
        F.timestamp_seconds(F.col("i") * 3600).alias("h"), "y"
    )
    got = sorted(
        seasonal_decompose(df).collect(),
        key=lambda r: r["h"],
    )
    assert len(got) == 10 * PERIOD - PERIOD  # PERIOD/2 edge rows each side drop
    for r in got:
        i = int(r["h"].timestamp() // 3600)
        assert r["remainder"] == 0.0
        assert r["trend"] == i + 3.0
        assert r["seasonal"] == s[i % PERIOD] - 3.0


def test_seasonal_anomalies_flags_planted_spike(spark):
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.temporal import (
        PERIOD,
        seasonal_anomalies,
    )

    s = [0, 8, 4, 0] * (PERIOD // 4)
    # exact series + one massive spike at i=101 (phase 5)
    spike, half = 101, PERIOD // 2
    rows = [
        (i, 100 + s[i % PERIOD] + (500 if i == spike else 0)) for i in range(8 * PERIOD)
    ]
    df = spark.createDataFrame(rows, ["i", "y"]).select(
        F.timestamp_seconds(F.col("i") * 3600).alias("h"), "y"
    )
    got = {
        int(r["h"].timestamp() // 3600): r
        for r in seasonal_anomalies(df).collect()
    }
    assert got[spike]["is_anomaly"]
    # the spike leaks into the trend windows that hold it, but the
    # flagged set must stay inside them, and the clean far-field must be
    # entirely unflagged
    flagged = {i for i, r in got.items() if r["is_anomaly"]}
    assert flagged and flagged <= set(range(spike - half, spike + half + 1))
    assert all(
        not got[i]["is_anomaly"] for i in got if abs(i - spike) > half
    )


def test_cohen_kappa_known_values(spark):
    from super_store_datawarehouse_spark.operators.quality_eval import cohen_kappa

    # classic worked example: confusion [[20,5],[10,15]] -> po=0.7,
    # pe = (30*25 + 20*25)/2500 = 0.5, kappa = 0.4
    rows = (
        [(True, True)] * 20 + [(True, False)] * 5
        + [(False, True)] * 10 + [(False, False)] * 15
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert r["n"] == 50 and r["n_agree"] == 35
    assert r["agree_ppm"] == 700000
    assert r["kappa"] == (50 * 35 - (30 * 25 + 20 * 25)) / (2500 - (30 * 25 + 20 * 25))
    assert abs(r["kappa"] - 0.4) < 1e-12
    # degenerate: both annotators constant -> chance = 1 -> NULL kappa
    const = spark.createDataFrame([(True, True)] * 4, ["a", "b"])
    assert cohen_kappa(const, "a", "b").collect()[0]["kappa"] is None
    # multi-class, perfect agreement -> kappa exactly 1
    mc = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("z", "z"), ("x", "x")], ["a", "b"]
    )
    assert cohen_kappa(mc, "a", "b").collect()[0]["kappa"] == 1.0


def test_cohen_kappa_disjoint_labels_yields_zero_not_missing(spark):
    """Annotators sharing NO label value (total disagreement / disjoint
    vocabularies) must yield kappa=0 rows, not silently drop groups."""
    from super_store_datawarehouse_spark.operators.quality_eval import cohen_kappa

    df = spark.createDataFrame(
        [("g1", True, False)] * 3 + [("g2", "pass", "keep")] * 2,
        ["g", "a", "b"],
    )
    d1 = spark.createDataFrame([(True, False)] * 3, ["a", "b"])
    r = cohen_kappa(d1, "a", "b").collect()
    assert len(r) == 1 and r[0]["n"] == 3 and r[0]["n_agree"] == 0
    assert r[0]["kappa"] == 0.0
    grouped = {x["g"]: x for x in cohen_kappa(
        spark.createDataFrame([("g1", True, False)] * 3 + [("g2", True, True)] * 2,
                              ["g", "a", "b"]), "a", "b", ["g"]).collect()}
    assert set(grouped) == {"g1", "g2"}
    assert grouped["g1"]["kappa"] == 0.0


def test_phrase_matches_normalizes_caller_phrase(spark):
    from super_store_datawarehouse_spark.operators.search import phrase_matches

    df = spark.createDataFrame([(1, "we love new york a lot")], ["doc_id", "text"])
    # mixed case + doubled space must still match the lowercased index
    phrase = spark.createDataFrame([("New  York",)], ["phrase"])
    got = phrase_matches(df, phrase).collect()
    assert len(got) == 1 and got[0]["n_occurrences"] == 1


def test_expectations_report_counts_planted_violations(spark):
    from super_store_datawarehouse_spark.operators.dq import expectations_report

    df = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, -0.1), (3, 1.5)], "id long, v double"
    )
    key_counts = df.groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
    rep = expectations_report(
        [
            ("v.not_null", df, F.col("v").isNull()),
            ("v.range_0_1", df, ~F.col("v").between(0, 1)),
            ("id.unique", key_counts, F.col("cnt") > 1),
        ]
    ).collect()
    by_name = {r["check_name"]: r for r in rep}
    assert [r["check_name"] for r in rep] == sorted(by_name)
    assert (by_name["v.not_null"]["n_checked"], by_name["v.not_null"]["n_violations"]) == (4, 1)
    # NULL v: the range expectation cannot be evaluated -> violation
    assert by_name["v.range_0_1"]["n_violations"] == 3
    assert (by_name["id.unique"]["n_checked"], by_name["id.unique"]["n_violations"]) == (3, 1)
    assert not by_name["v.range_0_1"]["passed"]
    assert all(not r["passed"] for r in rep)


def test_expectations_report_empty_frame_passes(spark):
    from super_store_datawarehouse_spark.operators.dq import expectations_report

    empty = spark.createDataFrame([], "id long")
    row = expectations_report([("none.checked", empty, F.col("id") < 0)]).collect()[0]
    assert (row["n_checked"], row["n_violations"], row["passed"]) == (0, 0, True)


def test_bigram_surprise_hand_computed(spark):
    from super_store_datawarehouse_spark.operators.search import bigram_surprise

    # corpus bigrams: "a b" x3 (docs 1,1,2), "b a" x1 (doc 1), "a c" x1 (doc 2)
    # c1(a)=4, c1(b)=1; surprise(a b)=1000*4//3=1333, (b a)=1000*1//1=1000,
    # (a c)=1000*4//1=4000
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x"), (4, "a c")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in bigram_surprise(docs).collect()}
    assert 3 not in rows  # single-token doc has no bigrams
    assert (rows[1]["n_bigrams"], rows[1]["sum_surprise_milli"]) == (3, 1333 + 1000 + 1333)
    assert rows[1]["mean_surprise_milli"] == (1333 + 1000 + 1333) // 3
    assert (rows[2]["n_bigrams"], rows[2]["mean_surprise_milli"]) == (1, 1333)
    assert (rows[4]["n_bigrams"], rows[4]["mean_surprise_milli"]) == (1, 4000)


def test_bm25_scores_multi_orders_by_term_frequency(spark):
    from super_store_datawarehouse_spark.operators.search import bm25_scores_multi

    # equal-length docs, same df for 'cat': the tf=3 doc must outscore
    # tf=1; a doc without the term is absent; the two-term query sums
    # both terms' contributions
    docs = spark.createDataFrame(
        [
            (1, "cat cat cat dog"),
            (2, "cat fish fish dog"),
            (3, "fish fish fish fish"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(1, "cat"), (2, "cat"), (2, "dog")], "query_id long, term string"
    )
    rows = {(r["query_id"], r["doc_id"]): r["score_micro"]
            for r in bm25_scores_multi(docs, q).collect()}
    assert (1, 3) not in rows
    assert rows[(1, 1)] > rows[(1, 2)]
    assert rows[(2, 1)] == rows[(1, 1)] + (rows[(2, 2)] - rows[(1, 2)])
    assert rows[(2, 2)] > rows[(1, 2)]  # dog contributes on doc 2


def test_scalar_quantize_unit_grid_and_recall_shape(spark):
    import math

    from super_store_datawarehouse_spark.operators.similarity import (
        scalar_quantize_unit,
    )

    docs = spark.createDataFrame(
        [
            (1, [3.0, 4.0]),
            (2, [0.0, 0.0]),          # zero norm: dropped
            (3, [float("nan"), 1.0]),  # non-finite: dropped
            (4, [-1.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r["embedding"] for r in scalar_quantize_unit(docs).collect()}
    assert set(rows) == {1, 4}
    assert rows[1] == [
        math.floor(3.0 / 5.0 * 127.0 + 0.5),
        math.floor(4.0 / 5.0 * 127.0 + 0.5),
    ]
    s = math.sqrt(2.0)
    assert rows[4] == [
        math.floor(-1.0 / s * 127.0 + 0.5),
        math.floor(1.0 / s * 127.0 + 0.5),
    ]


def test_weighted_jaccard_weights_multiplicity_and_caps_df(spark):
    from super_store_datawarehouse_spark.operators.dedup import (
        weighted_jaccard_pairs,
    )

    # docs 1/2 share the same shingle SET {"a b", "b a"} (plain Jaccard
    # would call them identical) but different multiplicities:
    # doc1 "a b a b a b": tf(a b)=3, tf(b a)=2 -> w_total 5
    # doc2 "a b a b":     tf(a b)=2, tf(b a)=1 -> w_total 3
    # min_sum = 2+1 = 3, union = 5+3-3 = 5 -> wj = 600 permille
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b a b"), (3, "x y z")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r
        for r in weighted_jaccard_pairs(
            docs, max_doc_freq=10, threshold_permille=1
        ).collect()
    }
    assert set(rows) == {(1, 2)}
    r = rows[(1, 2)]
    assert (r["min_sum"], r["union_sum"], r["wj_pm"]) == (3, 5, 600)

    # a hub shingle present in every doc is excluded from numerator AND
    # denominator once df exceeds the cap
    docs2 = spark.createDataFrame(
        [(1, "h h a b"), (2, "h h a b"), (3, "h h q r")],
        "doc_id long, text string",
    )
    # shingle "h h" has df=3; with cap 2 it drops, leaving doc1/doc2
    # sharing {"h a"(1), "a b"(1)} fully: wj = 1000
    capped = {
        (r["doc_a"], r["doc_b"]): r["wj_pm"]
        for r in weighted_jaccard_pairs(
            docs2, max_doc_freq=2, threshold_permille=100
        ).collect()
    }
    assert capped[(1, 2)] == 1000
    uncapped = {
        (r["doc_a"], r["doc_b"]): r["wj_pm"]
        for r in weighted_jaccard_pairs(
            docs2, max_doc_freq=10, threshold_permille=100
        ).collect()
    }
    assert uncapped[(1, 2)] == 1000  # all 3 shingles shared
    # doc3 shares only the hub shingle (wj 1/5 = 200 permille
    # uncapped): visible uncapped, gone capped
    assert uncapped[(1, 3)] == 200 and (1, 3) not in capped


def test_snapshot_diff_statuses_and_null_safety(spark):
    from super_store_datawarehouse_spark.operators.incremental import (
        snapshot_diff,
    )

    cur = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", None), (3, "C", 30.0), (5, "E", 50.0)],
        "k long, s string, v double",
    )
    prev = spark.createDataFrame(
        [(1, "A", 10.0), (2, "B", 20.0), (4, "D", 40.0), (5, "E", 55.0)],
        "k long, s string, v double",
    )
    got = {
        r["k"]: r["diff_status"]
        for r in snapshot_diff(cur, prev, ["k"], ["s", "v"]).collect()
    }
    assert got == {
        1: "unchanged",   # identical
        2: "changed",     # NULL vs 20.0 differs null-safely
        3: "added",
        4: "removed",
        5: "changed",
    }


def test_ranking_auc_hand_computed_with_ties(spark):
    from super_store_datawarehouse_spark.operators.quality_eval import ranking_auc

    # scores [1, 2, 2, 3], labels [F, F, T, T]: midranks 1, 2.5, 2.5, 4
    # U = (2.5 + 4) - 2*3/2 = 3.5 -> u2 = 7, AUC = 3.5/4 = 0.875
    df = spark.createDataFrame(
        [(1, False), (2, False), (2, True), (3, True)], "score long, pos boolean"
    )
    r = ranking_auc(df, "score", "pos").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["u2"], r["auc_ppm"]) == (2, 2, 7, 875000)

    # perfect separation -> AUC 1.0; reversed -> 0.0
    perfect = spark.createDataFrame(
        [(1, False), (2, True)], "score long, pos boolean"
    )
    assert ranking_auc(perfect, "score", "pos").collect()[0]["auc_ppm"] == 1000000
    # degenerate single-class input -> NULL metric, not a crash
    onecls = spark.createDataFrame([(1, True), (2, True)], "score long, pos boolean")
    assert ranking_auc(onecls, "score", "pos").collect()[0]["auc_ppm"] is None


def test_classification_report_hand_computed(spark):
    from super_store_datawarehouse_spark.operators.quality_eval import (
        classification_report,
    )

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("c", "a")],
        "truth string, pred string",
    )
    rows = {r["label"]: r for r in classification_report(df, "truth", "pred").collect()}
    a, b, c = rows["a"], rows["b"], rows["c"]
    # a: n_truth 2, n_pred 2 (one from c), tp 1
    assert (a["n_truth"], a["n_pred"], a["tp"]) == (2, 2, 1)
    assert (a["precision_ppm"], a["recall_ppm"], a["f1_ppm"]) == (500000, 500000, 500000)
    # b: n_truth 1, n_pred 2, tp 1 -> P .5, R 1, F1 2/3
    assert (b["precision_ppm"], b["recall_ppm"], b["f1_ppm"]) == (500000, 1000000, 666666)
    # c: never predicted -> precision NULL (not 0), recall 0
    assert (c["n_pred"], c["precision_ppm"], c["recall_ppm"], c["f1_ppm"]) == (0, None, 0, 0)


def test_lsh_multiprobe_recall_dominates_single_probe(spark):
    from super_store_datawarehouse_spark.operators.similarity import (
        brute_force_topk,
        lsh_multiprobe_topk,
        lsh_topk,
    )
    from super_store_datawarehouse_spark.sources.testdata import load_table

    # multi-probe candidates are a strict superset of single-probe
    # candidates (offset 0 is among the probes), and an exact-top-5
    # member inside any candidate set always survives that set's
    # re-ranked top-5 — so per-query recall is monotone in the probes
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, q).collect()
    }
    def hits(df):
        got = {}
        for r in df.collect():
            key = (r["query_id"], r["neighbor_id"])
            got.setdefault(r["query_id"], 0)
            if key in exact:
                got[r["query_id"]] += 1
        return got
    single = hits(lsh_topk(emb, q, n_tables=4))
    multi = hits(lsh_multiprobe_topk(emb, q))
    assert multi and all(multi.get(k, 0) >= v for k, v in single.items())


def test_wav_pcm_stats_reads_independent_writer_and_rejects_nonwav(spark):
    import io
    import wave

    import numpy as np

    from super_store_datawarehouse_spark.operators.multimodal import wav_pcm_stats

    # a WAV written by the STDLIB wave module (independent of
    # synth_wav_assets) must decode to exactly the planted samples
    samples = np.array([0, 1, -1, 32767, -32768, 12345], dtype="<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    rows = {
        r["asset_id"]: r
        for r in wav_pcm_stats(
            spark.createDataFrame(
                [(1, "audio/wav", bytearray(buf.getvalue())),
                 (2, "text/plain", bytearray(b"not a wav"))],
                "asset_id long, media_type string, payload binary",
            )
        ).collect()
    }
    s = samples.astype(np.int64)
    r = rows[1]
    assert (r["n_samples"], r["peak_abs"]) == (len(s), int(np.max(np.abs(s))))
    assert (r["dc_sum"], r["sum_sq"]) == (int(s.sum()), int((s * s).sum()))
    bad = rows[2]
    assert bad["n_samples"] is None and bad["sum_sq"] is None

"""Extension harness queries: the curation operators (dedup, similarity,
text analysis, multimodal, events) over the documents / embeddings /
events tables, beside the reference's own queries rather than part of
their parity.

Every entry carries a full DuckDB twin (integer-exact or bit-exact-fold
arithmetic); where a production path hashes with xxhash64, which DuckDB
lacks, the entry checks a portable md5 twin or an invariant of the
path's output instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.exact import cents
from super_store_datawarehouse_spark.session import collect_capped, localize, scoped_cache
from super_store_datawarehouse_spark.operators import dedup, similarity
from super_store_datawarehouse_spark.operators import sampling as sampling_ops
from super_store_datawarehouse_spark.operators.sampling import bucket_sql as _bucket_sql
from super_store_datawarehouse_spark.operators.sampling import knuth_sql as _knuth_sql
from super_store_datawarehouse_spark.operators.multimodal import (
    attach_binary_metadata,
    decode_assets,
    texts_as_assets,
)
from super_store_datawarehouse_spark.operators.text import (
    BPE_TOKEN_PATTERN,
    lang_id,
    poly_fingerprint,
    token_count_bpe,
)
from super_store_datawarehouse_spark.plans.registry import HARNESS as _HARNESS
from super_store_datawarehouse_spark.plans.registry import harness_query
from super_store_datawarehouse_spark.sources.testdata import load_table

EN_STOP_SQL = "('the','a','an','of','and','to','in','is','it','that')"


# --------------------------------------------------------------------------
# x01 — exact deduplication: hash groupBy on normalized text.
# --------------------------------------------------------------------------
@harness_query(
    "q14_dedup_exact",
    oracle="""
    SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def q14_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs)


# --------------------------------------------------------------------------
# x317 — exact n-gram Jaccard similarity join: the DECLARED O(Σdf²)
# baseline (fan-out at the shingle self-join; see the declaration in
# operators/dedup.py). Round-7 rotation demoted it from the q17 slot —
# the driver window now checks the df-capped configuration a 100-TB
# deployment would run (the same pipeline with hot-shingle pruning);
# this exact form remains the ground-truth twin that q17's and x114's
# oracles compose against.
# --------------------------------------------------------------------------
@harness_query(
    "x317_ngram_jaccard_exact",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    """,
)
def x317_ngram_jaccard_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.2)


# --------------------------------------------------------------------------
# q19 — MinHash+LSH near-dup join, FULLY oracled: md5-based 31-bit
# shingle hash + (a·h+b) mod 2³¹ permutations + polynomial band buckets
# + exact-Jaccard verification, every stage bit-replayable in DuckDB.
# The xxhash64 fast path stays available as x114 (rows-only).
# x04 — SimHash variant (rows-only; x73/q41 carry the portable twins).
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.dedup import (  # noqa: E402
    MD5_HASH31_SQL,
    _minhash_coeffs as _mh_coeffs,
)

_Q19_MINS = ", ".join(
    f"MIN((hs * {a} + {b}) % 2147483648) AS m{j:02d}"
    for j, (a, b) in enumerate(_mh_coeffs(16, seed=42))
)
def _q19_bucket_sql(b: int) -> str:
    acc = f"m{b * 4:02d}"
    for r in range(1, 4):
        acc = f"(({acc}) * 31 + m{b * 4 + r:02d}) % 2147483648"
    return acc


_Q19_BANDS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, {_q19_bucket_sql(b)} AS bucket FROM sig"
    for b in range(4)
)


@harness_query(
    "q19_minhash_lsh_pairs",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS shingle
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 2
    ), h AS (
      SELECT doc_id, shingle, {MD5_HASH31_SQL.format(s='shingle')} AS hs
      FROM sh
    ), sig AS (
      SELECT doc_id, {_Q19_MINS} FROM h GROUP BY doc_id
    ), bandrows AS (
      {_Q19_BANDS}
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bandrows x JOIN bandrows y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE)
             / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    """,
)
def q19_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_md5(docs)


# --------------------------------------------------------------------------
# x05 — exact ANN baseline: brute-force cosine top-5 for 10 query vectors.
# The dot-product folds are bit-exact between Spark and DuckDB (verified),
# so the oracle compares full-precision cosines.
# --------------------------------------------------------------------------
_COSINE_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len({a})+1), i -> {a}[i]*{b}[i])),"
    " (acc, x) -> acc + x)"
)


@harness_query(
    "x329_ann_bruteforce_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COSINE_FOLD.format(a='qv', b='v')} / (q.qnrm * e.nrm) AS cosine
      FROM q JOIN e ON e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
)
def x329_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.brute_force_topk(emb, queries)


# --------------------------------------------------------------------------
# x06 — language-ID heuristic (CJK char class + stopword density).
# --------------------------------------------------------------------------
@harness_query(
    "q07_lang_id",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id, lang,
             CASE WHEN regexp_matches(text, '[一-鿿]') THEN 2 ELSE 0 END AS is_cjk,
             CAST(len(list_filter(string_split(lower(trim(text)), ' '),
                                  x -> x IN {EN_STOP_SQL})) AS DOUBLE)
               / CAST(len(string_split(lower(trim(text)), ' ')) AS DOUBLE) AS en_ratio
      FROM documents
    )
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN is_cjk = 2 THEN 'zh'
                WHEN en_ratio > 0.05 THEN 'en'
                ELSE 'other' END AS predicted_lang,
           en_ratio
    FROM feats
    """,
)
def q07_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import stopword_ratio

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id("text").alias("predicted_lang"),
        stopword_ratio("text").alias("en_ratio"),
    )


# --------------------------------------------------------------------------
# x08 — token counting (whitespace + BPE-ish regex) aggregated per source.
# --------------------------------------------------------------------------
@harness_query(
    "x286_token_counts_by_source",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(lower(trim(text)), ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text, '{BPE_TOKEN_PATTERN}'))) AS BIGINT) AS bpe_tokens
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def x286_token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(token_count_ws("text").cast("long")).alias("ws_tokens"),
            F.sum(token_count_bpe("text").cast("long")).alias("bpe_tokens"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x09 — document fingerprint: rolling polynomial hash (pure bigint fold —
# engine-agnostic, unlike xxhash), bucketed to count prefix collisions.
# --------------------------------------------------------------------------
@harness_query(
    "x287_poly_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(substr(text, 1, 64), ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 1000000007) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
    FROM fp GROUP BY fingerprint
    """,
)
def x287_poly_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", poly_fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# x10 — event-time tumbling window aggregation (batch form of the
# streaming job in streaming/jobs.py; F.window ↔ date_trunc for 1h).
# --------------------------------------------------------------------------
@harness_query(
    "x290_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def x290_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# x11 — sessionization: lag-gap boundaries + per-user session stats
# (SURVEY guide "Common OLAP patterns"; 30-minute inactivity gap).
# --------------------------------------------------------------------------
@harness_query(
    "q22_sessionize",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM ordered
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def q22_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_sec = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_session = (
        F.when(F.lag("ts").over(w).isNull() | (gap_sec > 1800), 1).otherwise(0)
    )
    return (
        events.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x129 (was q33 r1-r2; driver slot rotated to IVF-bounded PQ ANN) —
# multimodal plumbing: binary payloads with JVM-side metadata and the
# (fake) distributed decoder. sha256 is engine-agnostic → full oracle for
# the metadata pass; decode dims replicate the fake's integer arithmetic.
# --------------------------------------------------------------------------
@harness_query(
    "x129_binary_assets",
    oracle="""
    SELECT doc_id AS asset_id,
           CAST(length(text) AS BIGINT) AS byte_len,
           sha256(text) AS sha256,
           CAST(1 + ascii(substr(text, 1, 1)) % 64 AS INT) AS width,
           CAST(1 + ascii(substr(text, length(text), 1)) % 64 AS INT) AS height
    FROM documents
    """,
)
def x129_binary_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    assets = texts_as_assets(docs)
    meta = attach_binary_metadata(assets)
    decoded = decode_assets(assets, fake=True)
    return meta.join(decoded.select("asset_id", "width", "height"), "asset_id").select(
        "asset_id", "byte_len", "sha256", "width", "height"
    )


# --------------------------------------------------------------------------
# x15 — Structured Streaming windowed aggregation driven to completion
# (streaming/jobs.py). Complete-mode memory sink over the static events
# source makes the final table equal the batch x10 result, so it shares
# the same oracle — the driver verifies a *streaming* job against SQL.
# --------------------------------------------------------------------------
@harness_query(
    "x15_stream_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def x15_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.streaming.jobs import hourly_counts_stream

    return hourly_counts_stream(spark, sf_dir).orderBy("window_start", "event_type")


# --------------------------------------------------------------------------
# x16 — embedding-cosine near-dup pairs (exact brute-force baseline).
# The per-row dot-product fold is bit-exact between Spark's F.aggregate
# and DuckDB's list_reduce (same left-to-right order — verified by x05),
# so the >= threshold cut selects identical pair sets in both engines.
# --------------------------------------------------------------------------
@harness_query(
    "q34_embedding_near_dup",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    )
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_COSINE_FOLD.format(a='a.v', b='b.v')} / (a.nrm * b.nrm) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
    ) WHERE cosine >= 0.40
    """,
)
def q34_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_near_dup_pairs(emb, threshold=0.40)


# --------------------------------------------------------------------------
# x17 — multi-table hyperplane-LSH ANN top-k (rows-only: the sketch is
# approximate by construction; unit tests measure recall against the
# exact x05 result). The scale path for x05: bucket equi-join instead of
# the all-pairs product.
# --------------------------------------------------------------------------
def _q35_oracle() -> str:
    """Full value oracle for multi-table hyperplane LSH: the signature
    UDF accumulates projections dimension-ascending, which is exactly a
    left-to-right list_reduce fold — so DuckDB replays every sign bit,
    every bucket, every candidate, and the exact cosine re-rank."""
    from super_store_datawarehouse_spark.operators.similarity import (
        _scramble_sign,
    )

    n_planes, n_tables, dim = 4, 16, 64

    def fold(col: str, t: int, p: int) -> str:
        signs = ",".join(
            "1.0" if _scramble_sign(t * 1024 + p, d) > 0 else "-1.0"
            for d in range(dim)
        )
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}),"
            f" i -> {col}[i] * ([{signs}])[i])), (acc, x) -> acc + x)"
        )

    sig_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN {fold('v', t, p)} > 0 THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        )
        + f") AS sig{t:02d}"
        for t in range(n_tables)
    )
    band_union = "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS tbl, sig{t:02d} AS sig FROM sigs"
        for t in range(n_tables)
    )
    return f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_E_FOLD2}) AS nrm
      FROM embeddings
    ), e AS (SELECT * FROM e0 WHERE nrm > 0),
    sigs AS (
      SELECT vec_id, {sig_cols} FROM e
    ), bandrows AS (
      {band_union}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bandrows q
      JOIN bandrows c ON c.tbl = q.tbl AND c.sig = q.sig
      WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_COSINE_FOLD.format(a='qe.v', b='ce.v')} / (qe.nrm * ce.nrm)
               AS cosine
      FROM cand
      JOIN e qe ON qe.vec_id = cand.query_id
      JOIN e ce ON ce.vec_id = cand.neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank, cosine
    FROM ranked WHERE rank <= 5
    """


_E_FOLD2 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, len(v)+1),"
    " i -> v[i]*v[i])), (acc, x) -> acc + x)"
)


@harness_query("x308_ann_lsh_topk", oracle=_q35_oracle())
def x308_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.lsh_topk(emb, queries)


# --------------------------------------------------------------------------
# x18 — streaming exact dedup (dropDuplicatesWithinWatermark) run to
# completion over the events file stream. event_id is unique in the
# testdata, so the oracle is a passthrough — the check asserts the
# streaming dedup loses and fabricates nothing; actual duplicate
# dropping is unit-tested with planted duplicates (tests/test_streaming).
# --------------------------------------------------------------------------
@harness_query(
    "x18_stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def x18_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.streaming.jobs import dedup_events_stream

    return dedup_events_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# x19 — custom stateful streaming operator (applyInPandasWithState):
# per-user running event counts; the final state per user equals the
# batch COUNT(*), which is what the oracle asserts.
# --------------------------------------------------------------------------
@harness_query(
    "x19_stream_user_counts",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id
    """,
)
def x19_stream_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.streaming.jobs import user_running_counts_stream

    return user_running_counts_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# x26 — native session windows (F.session_window): the built-in gap-merge
# operator, vs x11's lag/cumsum formulation. Session end is exclusive
# (last event + gap), so the oracle's new-session predicate is >= gap on
# the exact microsecond difference.
# --------------------------------------------------------------------------
@harness_query(
    "x26_session_windows",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR date_diff('microsecond', lag(ts) OVER (PARTITION BY user_id ORDER BY ts), ts) >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def x26_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# x27 — skew-proof exact count-distinct (operators/skew.py): value-hash
# bucketing, two uniform shuffles. Oracle is the plain COUNT(DISTINCT),
# proving the decomposition is exact.
# --------------------------------------------------------------------------
@harness_query(
    "x27_salted_count_distinct",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_user_id
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x27_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.skew import salted_count_distinct

    events = load_table(spark, sf_dir, "events")
    return salted_count_distinct(events, ["event_type"], "user_id").orderBy("event_type")


# --------------------------------------------------------------------------
# x28 — salted join equivalence: the replicate-and-salt join must produce
# exactly the plain inner join (aggregated to keep the oracle small).
# --------------------------------------------------------------------------
@harness_query(
    "x28_salted_join_revenue",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def x28_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, on="o_orderkey")
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# x40 — PII/URL scrubbing: both sides plant deterministic emails/URLs
# (synthetic docs contain none), then the scrub + audit counts must
# match string-for-string. DuckDB needs the 'g' flag to match Spark's
# replace-all semantics.
# --------------------------------------------------------------------------
@harness_query(
    "x40_scrub_pii",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 5 = 0
                       THEN ' contact: user' || doc_id || '@example.com' ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' see https://example.com/d' || doc_id ELSE '' END AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, 'https?://[A-Za-z0-9./_%@-]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+', '<EMAIL>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%@-]+')) AS INT) AS n_urls
    FROM seeded
    """,
)
def x40_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import pii_counts, scrub_pii

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" contact: user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" see https://example.com/d"), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    counts = pii_counts("text")
    return seeded.select(
        "doc_id",
        scrub_pii("text").alias("scrubbed"),
        counts["n_emails"].alias("n_emails"),
        counts["n_urls"].alias("n_urls"),
    )


# --------------------------------------------------------------------------
# x39 — portable SimHash: full 32-bit signatures verified bit-for-bit
# against the oracle (polynomial word hash → per-bit sign sums), closing
# the auditability gap the xxhash-based x04 necessarily leaves open.
# --------------------------------------------------------------------------
_X39_BITSUMS = ", ".join(
    f"SUM(CASE WHEN (hw >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(32)
)
_X39_COMPOSE = " + ".join(
    f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    for i in range(32)
)


# --------------------------------------------------------------------------
# x04 — SimHash near-dup PAIRS, end-to-end value-oracled (round 9;
# rows-only through round 8). Runs the production pair pipeline
# (4-chunk pigeonhole band join + exact hamming verify,
# dedup.simhash_near_pairs) over the PORTABLE 32-bit signature, at
# max_hamming=3 where the banding is provably LOSSLESS (4 chunks can absorb at most 3 differing bits while keeping
# one chunk clean). The oracle is therefore the brute-force all-pairs
# hamming join — a value match both oracles the pipeline AND proves the
# chunk-join candidate generation loses nothing. The xxhash64 fast path
# (better diffusion, 16-bit chunks) shares this exact pair code; its
# signatures are engine-specific, covered by tests/test_operators.py.
# --------------------------------------------------------------------------
@harness_query(
    "x04_simhash_near_pairs",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT doc_id, word FROM (
        SELECT doc_id, UNNEST(string_split(lower(trim(text)), ' ')) AS word
        FROM documents
      )
    ), h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(word, ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 4294967296) AS hw
      FROM w
    ), b AS (
      SELECT doc_id, {_X39_BITSUMS} FROM h GROUP BY doc_id
    ), sig AS (
      SELECT doc_id, {_X39_COMPOSE} AS simhash FROM b
    ), pairs AS (
      SELECT CAST(bit_count(xor(a.simhash, bb.simhash)) AS INTEGER) AS hamming
      FROM sig a JOIN sig bb ON a.doc_id < bb.doc_id
      WHERE bit_count(xor(a.simhash, bb.simhash)) <= 3
    )
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY hamming ORDER BY hamming
    """,
)
def x04_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Per-hamming pair COUNTS, not the pair list: template-generated
    # docs cluster the 32-bit portable signature, so the raw pair set is
    # O(10k+) rows at sf0.01 and grows quadratically with near-dup
    # density — the counts stay ≤4 rows at any scale while any wrong or
    # missing pair still shifts a count and fails the value hash.
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_pairs(
        docs,
        signatures=dedup.simhash_portable(docs),
        sig_bits=32,
    )
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("hamming")
    )


# --------------------------------------------------------------------------
# x38 — weighted dataset mixture (operators/sampling.py): keep all of the
# "curated" slice (src0), a quarter of the rest, deterministically. The
# oracle reproduces both per-source hash streams with integer SQL.
# --------------------------------------------------------------------------
import zlib as _zlib

_MIX_SALT_A = _zlib.crc32(b"curated") % (1 << 20)
_MIX_SALT_B = _zlib.crc32(b"web") % (1 << 20)


@harness_query(
    "x38_weighted_mix",
    oracle=f"""
    SELECT doc_id, source, 'curated' AS mix_source FROM documents
    WHERE source = 'src0'
      AND ((doc_id + {_MIX_SALT_A}) * 2654435761) % 4294967296 % 10000 < 10000
    UNION ALL
    SELECT doc_id, source, 'web' AS mix_source FROM documents
    WHERE source <> 'src0'
      AND ((doc_id + {_MIX_SALT_B}) * 2654435761) % 4294967296 % 10000 < 2500
    """,
)
def x38_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import weighted_mix

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    curated = docs.filter(F.col("source") == "src0")
    web = docs.filter(F.col("source") != "src0")
    return weighted_mix(
        {"curated": (curated, 1.0), "web": (web, 0.25)}, key_col="doc_id"
    )


# --------------------------------------------------------------------------
# x36 — overlapping document chunking for LLM context windows: pure
# array expressions (sequence → slice → array_join), one row per chunk.
# The oracle reproduces the same chunks with DuckDB list slicing.
# --------------------------------------------------------------------------
@harness_query(
    "x36_chunk_documents",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), s AS (
      SELECT doc_id, ws, UNNEST(range(1, greatest(len(ws), 1) + 1, 40)) AS st
      FROM w
    )
    SELECT doc_id,
           CAST((st - 1) / 40 AS BIGINT) AS chunk_no,
           array_to_string(ws[st : st + 49], ' ') AS chunk_text,
           CAST(len(ws[st : st + 49]) AS BIGINT) AS n_words
    FROM s
    """,
)
def x36_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import chunk_words, words

    docs = load_table(spark, sf_dir, "documents")
    # bind the tokenization once — see chunk_words' presplit note
    return (
        docs.select("doc_id", words("text").alias("__ws"))
        .select(
            "doc_id",
            F.explode(
                chunk_words(F.col("__ws"), presplit=True)
            ).alias("c"),
        )
        .select("doc_id", "c.chunk_no", "c.chunk_text", "c.n_words")
    )


# --------------------------------------------------------------------------
# x37 — stream-static broadcast enrichment (streaming/jobs.py): events
# stream joined to the static customer dim, aggregated per nation; the
# completed stream equals the batch join, which is the oracle.
# --------------------------------------------------------------------------
@harness_query(
    "x37_stream_static_enrich",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def x37_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.streaming.jobs import enriched_nation_counts_stream

    return enriched_nation_counts_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# x33 — fuzzy matching via edit distance: supplier-name pairs within
# levenshtein 1 (one digit apart). Round 10: re-expressed as FastSS
# deletion-neighborhood blocking (operators/linkage.edit1_pairs) — for
# k=1 the neighborhood {s} ∪ {s minus one char} is a COMPLETE candidate
# filter, so one equi-join on exploded variants + an exact levenshtein
# verify returns the identical pair set in O(n·L) instead of the naive
# inequality join's O(n²) (which the sf10 sweep timed out at >600 s on
# 100k names; this form runs it in seconds). The oracle replays the
# same neighborhoods — substring surgery and levenshtein are shared
# SQL — so the scale path itself is what gets value-checked.
# --------------------------------------------------------------------------
# Round-10 second reformation: link DISTINCT NAMES, not supplier rows.
# The sf10 table recycles 1,000 distinct names 100x each, so a row-pair
# output is quadratic in duplicate multiplicity BY DEFINITION (5M
# identical-name pairs before any fuzzy match — no algorithm avoids
# emitting its own output). Entity linkage at scale pairs the distinct
# key universe and carries multiplicities; identical-row collapse is
# exact dedup's job (q14).
@harness_query(
    "x33_fuzzy_supplier_pairs",
    oracle="""
    WITH names AS (
      SELECT s_name, CAST(COUNT(*) AS BIGINT) AS n, MIN(s_suppkey) AS k
      FROM supplier GROUP BY s_name
    ), v AS (
      SELECT k, s_name, u.v
      FROM names,
      UNNEST(list_append(
        list_transform(range(1, len(s_name) + 1),
                       i -> substr(s_name, 1, i - 1) || substr(s_name, i + 1)),
        s_name)) AS u(v)
    ), cand AS (
      SELECT DISTINCT a.k AS ka, b.k AS kb, a.s_name AS name_a, b.s_name AS name_b
      FROM v a JOIN v b ON a.v = b.v AND a.k < b.k
    )
    SELECT c.name_a, c.name_b,
           CAST(levenshtein(c.name_a, c.name_b) AS INT) AS dist,
           na.n AS n_a, nb.n AS n_b
    FROM cand c
    JOIN names na ON na.s_name = c.name_a
    JOIN names nb ON nb.s_name = c.name_b
    WHERE levenshtein(c.name_a, c.name_b) <= 1
    """,
)
def x33_fuzzy_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.linkage import edit1_pairs

    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    names = sup.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n"), F.min("s_suppkey").alias("k")
    )
    pairs = edit1_pairs(names, "k", "s_name")
    na = names.select(F.col("s_name").alias("text_a"), F.col("n").alias("n_a"))
    nb = names.select(F.col("s_name").alias("text_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "text_a")
        .join(F.broadcast(nb), "text_b")
        .select(
            F.col("text_a").alias("name_a"),
            F.col("text_b").alias("name_b"),
            "dist",
            "n_a",
            "n_b",
        )
    )


# --------------------------------------------------------------------------
# x31 — stream-stream inner join with event-time range bounds and
# watermarks on both sides (streaming/jobs.py); driven to completion it
# equals the batch inequality join, which is the oracle.
# --------------------------------------------------------------------------
@harness_query(
    "x31_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
           c.event_id AS click_id, c.ts AS c_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def x31_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.streaming.jobs import purchase_click_join_stream

    return purchase_click_join_stream(spark, sf_dir)


# --------------------------------------------------------------------------
# x24 — stratified deterministic sampling: language rebalancing (keep all
# en, half zh, a fifth of everything else), reproduced by the oracle with
# the same integer arithmetic.
# --------------------------------------------------------------------------
@harness_query(
    "x24_stratified_sample",
    oracle="""
    SELECT doc_id, lang, source
    FROM (
      SELECT doc_id, lang, source,
             ((doc_id + 7) * 2654435761) % 4294967296 % 10000 AS bucket
      FROM documents
    )
    WHERE bucket < CASE lang WHEN 'en' THEN 10000 WHEN 'zh' THEN 5000 ELSE 2000 END
    """,
)
def x24_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return stratified_hash_sample(
        docs, "doc_id", "lang",
        fractions={"en": 1.0, "zh": 0.5}, default_fraction=0.2, salt=7,
    )


# --------------------------------------------------------------------------
# x21 — as-of join (union-and-window formulation, operators/temporal.py):
# each purchase event gets the latest prior-or-same-instant click by the
# same user. DuckDB's native ASOF JOIN is the oracle.
# --------------------------------------------------------------------------
@harness_query(
    "q37_asof_click_attribution",
    oracle="""
    SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q37_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", "ts")
    return asof_join(purchases, clicks, on="user_id", value_cols=["ts"]).select(
        "event_id", "user_id", "ts", F.col("asof_ts").alias("last_click_ts")
    )


# --------------------------------------------------------------------------
# x22 — range (interval) join via bucketed equi-join + residual filter:
# per signup event, how many events the same user produced in the
# following 24 hours. The oracle is the plain inequality join.
# --------------------------------------------------------------------------
@harness_query(
    "q38_range_join_next24h",
    oracle="""
    SELECT s.event_id, s.user_id, s.ts,
           COUNT(e.event_id) AS n_next_24h
    FROM (SELECT * FROM events WHERE event_type = 'signup') s
    LEFT JOIN events e
      ON e.user_id = s.user_id
     AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 24 HOUR
    GROUP BY s.event_id, s.user_id, s.ts
    """,
)
def q38_range_join_next24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import interval_join

    events = load_table(spark, sf_dir, "events")
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select("event_id", "user_id", "ts")
        .withColumn("end_ts", F.col("ts") + F.expr("INTERVAL 24 HOURS"))
    )
    pairs = interval_join(
        signups, events.select("user_id", "ts", "event_id"), on="user_id",
        left_start="ts", left_end="end_ts",
    )
    counts = pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_next_24h"))
    return signups.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("n_next_24h", F.lit(0)).alias("n_next_24h"),
    )


# --------------------------------------------------------------------------
# x20 — multimodal frame sampling: the one-to-many mapInPandas shape
# (one row per sampled frame). The fake extractor derives frame count
# from payload byte length, so the fan-out is SQL-verifiable.
# --------------------------------------------------------------------------
@harness_query(
    "q36_frame_sample",
    oracle="""
    WITH n AS (
      SELECT doc_id AS asset_id,
             1 + octet_length(CAST(text AS BLOB)) % 8 AS n_frames
      FROM documents
    )
    SELECT asset_id,
           CAST(f AS BIGINT) AS frame_no,
           CAST(f * 1000 AS BIGINT) AS ts_ms
    FROM n, UNNEST(range(0, n_frames)) AS t(f)
    """,
)
def q36_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(texts_as_assets(docs), fake=True)


# --------------------------------------------------------------------------
# x41 — IVF-style ANN: deterministic hash-sampled centroids partition the
# corpus into cells; queries exactly re-rank only their nprobe nearest
# cells. Whole algorithm (centroid choice, assignment, ranking) uses
# integer + bit-exact-fold arithmetic, so the oracle reproduces it fully.
# --------------------------------------------------------------------------
_E_FOLD = _COSINE_FOLD.format(
    a="CAST(embedding AS DOUBLE[])", b="CAST(embedding AS DOUBLE[])"
)


@harness_query(
    "x263_ivf_ann_topk",
    oracle=f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), e AS (SELECT * FROM e0 WHERE nrm > 0),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
      FROM e WHERE {_bucket_sql('vec_id', 7)} < 300
    ),
    ca AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT e.vec_id AS neighbor_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    qa AS (
      SELECT query_id, centroid_id FROM (
        SELECT e.vec_id AS query_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
        WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT DISTINCT qa.query_id, ca.neighbor_id,
             {_COSINE_FOLD.format(a='qe.v', b='ce.v')} / (qe.nrm * ce.nrm) AS cosine
      FROM qa
      JOIN ca ON ca.centroid_id = qa.centroid_id
      JOIN e qe ON qe.vec_id = qa.query_id
      JOIN e ce ON ce.vec_id = ca.neighbor_id
      WHERE qa.query_id != ca.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
    """,
)
def x263_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_topk(emb, queries)


# --------------------------------------------------------------------------
# x42 — symmetric int8 embedding quantization (4× smaller ANN candidate
# vectors). floor(x+0.5) rounding is IEEE-identical across engines; the
# quantized vector is compared as CSV text to exercise every element.
# --------------------------------------------------------------------------
@harness_query(
    "x42_quantize_int8",
    oracle="""
    WITH t AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS maxabs
      FROM embeddings
    )
    SELECT vec_id,
           127.0 / maxabs AS scale,
           array_to_string(
             list_transform(v, x -> CAST(floor(x * (127.0 / maxabs) + 0.5) AS INT)),
             ',') AS qvec_csv
    FROM t WHERE maxabs > 0
    """,
)
def x42_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb)
    return q.select("vec_id", "scale", F.array_join("qvec", ",").alias("qvec_csv"))


# --------------------------------------------------------------------------
# x43 — CDC latest-wins upsert: an update batch (every 7th order flips to
# status 'X') merges into the base table; survivors aggregate by status.
# --------------------------------------------------------------------------
@harness_query(
    "x43_upsert_latest",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS version FROM orders
    ), updates AS (
      SELECT o_orderkey, 'X' AS o_orderstatus, o_totalprice, 2 AS version
      FROM orders WHERE o_orderkey % 7 = 0
    ), unioned AS (
      SELECT * FROM base UNION ALL SELECT * FROM updates
    ), latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) AS rn
        FROM unioned
      ) WHERE rn = 1
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price
    FROM latest GROUP BY o_orderstatus
    """,
)
def x43_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.functions.exact import money_sum
    from super_store_datawarehouse_spark.operators.cdc import apply_upserts

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.withColumn("version", F.lit(1))
    updates = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("version", F.lit(2))
    )
    merged = apply_upserts(base, updates, ["o_orderkey"])
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice", "total_price"),
    )


# --------------------------------------------------------------------------
# x45 — per-language stopword density: the stopword lists ship as a
# broadcast lookup table (no shuffle added to the scan); ratios divide
# exact integer sums once, so the doubles match bit-for-bit. The oracle
# CASE is generated from the same LANG_STOPWORDS dict — one source of
# truth for both engines.
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.text import LANG_STOPWORDS as _LANG_STOPS


def _in_list(ws: tuple[str, ...]) -> str:
    return "(" + ",".join(f"'{w}'" for w in ws) + ")"


_LANG_CASE = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN len(list_filter(toks, x -> x IN {_in_list(ws)}))"
    for lang, ws in sorted(_LANG_STOPS.items())
) + " ELSE 0 END"


@harness_query(
    "x45_stopwords_by_lang",
    oracle=f"""
    WITH tk AS (
      SELECT lang, string_split(lower(trim(text)), ' ') AS toks FROM documents
    ), h AS (
      SELECT lang, len(toks) AS n_tokens, {_LANG_CASE} AS n_hits FROM tk
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_hits) AS BIGINT) AS stop_hits,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_hits) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE) AS stop_ratio
    FROM h GROUP BY lang
    """,
)
def x45_stopwords_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import stopword_hits_by_lang

    docs = load_table(spark, sf_dir, "documents")
    hits = stopword_hits_by_lang(docs)
    return hits.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_stop_hits").alias("stop_hits"),
        F.sum("n_tokens").alias("n_tokens"),
        (F.sum("n_stop_hits").cast("double") / F.sum("n_tokens").cast("double")).alias(
            "stop_ratio"
        ),
    )


# --------------------------------------------------------------------------
# x46 — duplicate-cluster resolution: near-dup pairs are not transitive,
# so dedup must collapse whole connected components. Spark runs iterative
# min-label propagation (operators/graph.py); the oracle reproduces the
# exact same fixpoint with a recursive CTE (transitive closure + MIN).
# Edges = q19's MinHash-LSH pairs at threshold 0.2 (the
# exact n-gram-Jaccard edge build let the planner broadcast the shingle
# side on a garbage estimate — correct answers, but the plan flipped
# between broadcast and sort-merge depending on accumulated heap, the
# repo's one run-dependent artifact. The LSH pair join is bucketed by
# construction and is the edge source a 100 TB component dedup actually
# uses; the exact pair set remains the declared baseline under
# x317, just no longer composed into the iterative loop.)
# Demoted from the q43 driver slot in the round-8 rotation (the slot now
# runs the PPJoin-via-dispatcher exact jaccard join, ex-x161).
# --------------------------------------------------------------------------
@harness_query(
    "x325_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE lsh_pairs AS ({_HARNESS["q19_minhash_lsh_pairs"][1]}),
    edges AS (
      SELECT id_a, id_b FROM lsh_pairs
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), reach AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ), comp AS (
      SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           (COALESCE(c.component, d.doc_id) = d.doc_id) AS is_kept
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
)
def x325_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.graph import dedup_by_components

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.minhash_lsh_pairs_md5(docs).select("id_a", "id_b")
    return dedup_by_components(docs, edges).select("doc_id", "component", "is_kept")


# --------------------------------------------------------------------------
# x49 — TF-IDF top terms per document. IDF is integer-scaled
# ((N·1e6) div df, truncating division on BOTH engines) so the score and
# therefore the per-doc ranking are bit-exact cross-engine; ties break
# on the word itself. Shape: explode → two hash aggs (map-side partial)
# → broadcast of the tiny df table back onto tf → per-doc window.
# --------------------------------------------------------------------------
@harness_query(
    "q44_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dfw AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.word, tf.tf, dfw.df,
             tf.tf * ((n.n * 1000000) // dfw.df) AS score_scaled,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ((n.n * 1000000) // dfw.df) DESC, tf.word
             ) AS rnk
      FROM tf JOIN dfw USING (word) CROSS JOIN n
    )
    SELECT doc_id, rnk, word, tf, df, score_scaled
    FROM scored WHERE rnk <= 5
    ORDER BY doc_id, rnk
    """,
)
def q44_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    # df as COUNT(*) OVER (PARTITION BY word) on the tf frame (round 12,
    # guide §2.4): the former tf.groupBy(word) + join re-derived document
    # frequencies from a SECOND corpus scan + explode (column pruning
    # strips tf's count from the dfw branch, so the two subtrees cannot
    # share an exchange) and attached them through a broadcast of the
    # vocabulary-sized dfw picked on a post-aggregate estimate — the
    # garbage-estimate broadcast hazard at corpus scale (vocabulary
    # grows with the corpus under Heaps' law). The window computes the
    # identical count from tf itself: one corpus explode instead of
    # two, no join, and the only new exchange carries the already-
    # aggregated tf rows. Measured 4.4 s → 2.3 s at sf0.1 (equal
    # epochs, value-identical output).
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("word")))
        .crossJoin(F.broadcast(n))
        .withColumn("score_scaled", F.expr("tf * ((n * 1000000) div df)"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_scaled"), "word")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "rnk", "word", "tf", "df", "score_scaled")
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# x50 — integer-quantized Lloyd k-means on embeddings (k=8, 2 assignment
# passes, 1 centroid update). The oracle unrolls both iterations as CTEs
# with the identical quantize/trunc-div/lowest-cid-tie rules, so even
# this iterative algorithm is value-hash verified. See
# operators/clustering.py for the scale design (map-only assignment with
# literal centroids; one (d+1)-aggregate reduce per iteration).
# --------------------------------------------------------------------------
_KMEANS_A2_CTES = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> CAST(trunc(CAST(v AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), seeds AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, q AS c
      FROM q ORDER BY vec_id LIMIT 8
    ), a1 AS (
      SELECT q.vec_id, q.q, s.cid,
             list_sum(list_transform(list_zip(q.q, s.c),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
      FROM q CROSS JOIN seeds s
      QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist2, s.cid) = 1
    ), sums AS (
      SELECT cid, i, COUNT(*) AS n, SUM(q[i]) AS s
      FROM a1 CROSS JOIN range(1, 65) r(i)
      GROUP BY cid, i
    ), cent2 AS (
      SELECT cid,
             list(CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS c
      FROM sums GROUP BY cid
    ), cent2f AS (
      SELECT seeds.cid, COALESCE(cent2.c, seeds.c) AS c
      FROM seeds LEFT JOIN cent2 USING (cid)
    ), a2 AS (
      SELECT q.vec_id, s.cid AS cluster,
             list_sum(list_transform(list_zip(q.q, s.c),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
      FROM q CROSS JOIN cent2f s
      QUALIFY row_number() OVER (PARTITION BY q.vec_id ORDER BY dist2, s.cid) = 1
    )"""


@harness_query(
    "q45_kmeans_clusters",
    oracle=_KMEANS_A2_CTES
    + """
    SELECT cluster, COUNT(*) AS n_points, CAST(SUM(dist2) AS BIGINT) AS total_dist2
    FROM a2 GROUP BY cluster ORDER BY cluster
    """,
)
def q45_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.clustering import kmeans_quantized

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = kmeans_quantized(emb)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("dist2").alias("total_dist2"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# x62 — PageRank over the nation-level trade graph (edges: customer
# nation → supplier nation, weighted by lineitem count), two unrolled
# iterations in integer ppm arithmetic: contrib = r·w div out_w,
# r' = 150000 + (850 · Σcontrib) div 1000 (d = 0.85). Every step is a
# truncating integer op, so the iterative algorithm is fully oracled —
# same technique as x50. Distributed shape: ranks⋈edges on src (edge
# table partitioned by src at scale), groupBy dst partial-agg reduce;
# nodes with no in-edges keep the teleport mass via left join.
# --------------------------------------------------------------------------
# Promoted to the q26 driver slot in round 9 (ex-x289 — the graph
# family's second driver row alongside q47).
@harness_query(
    "q26_trade_pagerank",
    oracle="""
    WITH edges AS (
      SELECT nc.n_nationkey AS src, ns.n_nationkey AS dst, COUNT(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      GROUP BY 1, 2
    ), outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY 1
    ), nodes AS (
      SELECT n_nationkey AS id FROM nation
    ), c1 AS (
      SELECT e.dst, CAST(SUM((1000000 * e.w) // o.ow) AS BIGINT) AS contrib
      FROM edges e JOIN outw o ON e.src = o.src
      GROUP BY 1
    ), r1 AS (
      SELECT n.id, 150000 + (850 * COALESCE(c1.contrib, 0)) // 1000 AS r
      FROM nodes n LEFT JOIN c1 ON n.id = c1.dst
    ), c2 AS (
      SELECT e.dst, CAST(SUM((r1.r * e.w) // o.ow) AS BIGINT) AS contrib
      FROM edges e JOIN outw o ON e.src = o.src JOIN r1 ON e.src = r1.id
      GROUP BY 1
    ), r2 AS (
      SELECT n.id, 150000 + (850 * COALESCE(c2.contrib, 0)) // 1000 AS r
      FROM nodes n LEFT JOIN c2 ON n.id = c2.dst
    )
    SELECT r2.id AS nationkey, nat.n_name, r2.r AS rank_ppm
    FROM r2 JOIN nation nat ON r2.id = nat.n_nationkey
    ORDER BY rank_ppm DESC, nationkey
    """,
)
def q26_trade_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # after the nation-grain rollup everything is ≤ n² rows. The
    # expensive part of PageRank is building the edge rollup from the
    # fact join; collect the ≤n²-row rollup once (capped), then run the
    # unrolled iterations as DRIVER-SIDE integer arithmetic over those
    # ≤625 rows: the former plan
    # chained two 32-partition contribution shuffles + four broadcast
    # builds over ≤25-row frames PER RUN — pure scheduler wait (run/cpu
    # was ~14× with the fact join itself map-only). Same bounded-driver
    # contract as clustering.updated_centroids_np; every op is the oracle's
    # truncating integer div on non-negative ints, so values are
    # bit-identical. Like the oracle's joins to nation, an edge with an
    # end outside nation is dropped before the out-weights are summed.
    # The final plan is one broadcast join against the 25-row rank
    # table.
    node_ids = collect_capped(nation, 100_000, "q26 nations")["n_nationkey"].to_pylist()
    nodes = set(node_ids)
    ew_rows = [
        e
        for e in collect_capped(edges, 100_000, "q26 edge rollup").to_pylist()
        if e["src"] in nodes and e["dst"] in nodes
    ]
    out_w: dict = {}
    for e in ew_rows:
        out_w[e["src"]] = out_w.get(e["src"], 0) + e["w"]

    def rank_step(ranks: dict | None) -> dict:
        contrib: dict = {}
        for e in ew_rows:
            ow = out_w[e["src"]]
            c = (
                (1000000 * e["w"]) // ow
                if ranks is None  # r0 ≡ 1e6: contribution is w-proportional
                else (ranks[e["src"]] * e["w"]) // ow
            )
            contrib[e["dst"]] = contrib.get(e["dst"], 0) + c
        return {
            i: 150000 + (850 * contrib.get(i, 0)) // 1000 for i in node_ids
        }

    r2 = rank_step(rank_step(None))
    ranks_df = spark.createDataFrame(
        [(int(i), int(r)) for i, r in sorted(r2.items())], "id int, r long"
    )
    return (
        ranks_df.join(F.broadcast(nation), ranks_df.id == nation.n_nationkey)
        .select(
            F.col("id").alias("nationkey"), "n_name", F.col("r").alias("rank_ppm")
        )
        .orderBy(F.desc("rank_ppm"), "nationkey")
    )


# --------------------------------------------------------------------------
# x71 — end-to-end training-data pipeline: exact dedup (keep lowest id
# per normalized text) → quality gate (≥10 tokens, avg token length
# ≤ 12) → language gate (en) → deterministic train/val/test split →
# per-split doc and token counts. One composed DataFrame plan — every
# stage is an operator verified elsewhere (x01, x07, x06, x23), and the
# composition itself is fully oracled, proving the stages interlock
# without materialization between them.
# --------------------------------------------------------------------------
@harness_query(
    "q49_training_pipeline",
    oracle=f"""
    WITH keepers AS (
      SELECT MIN(doc_id) AS doc_id
      FROM documents
      GROUP BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
    ), feats AS (
      SELECT d.doc_id,
             length(d.text) AS n_chars,
             len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
                             x -> x <> '')) AS n_tokens,
             len(list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
                             x -> x IN {EN_STOP_SQL})) AS n_stop,
             regexp_matches(d.text, '[一-鿿]') AS is_cjk
      FROM documents d JOIN keepers k ON d.doc_id = k.doc_id
    ), kept AS (
      SELECT doc_id, n_tokens FROM feats
      WHERE n_tokens >= 10
        AND CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 12.0
        AND NOT is_cjk
        AND CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) > 0.05
    )
    SELECT CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END
             AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM (SELECT doc_id, n_tokens,
                 {_bucket_sql('doc_id')} AS b
          FROM kept)
    GROUP BY 1 ORDER BY 1
    """,
)
def q49_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dedup import normalize_text
    from super_store_datawarehouse_spark.operators.sampling import split_column
    from super_store_datawarehouse_spark.operators.text import (
        lang_id,
        quality_keep,
        token_count_ws,
    )

    docs = load_table(spark, sf_dir, "documents")
    keepers = (
        docs.groupBy(normalize_text(F.col("text")).alias("norm"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = (
        docs.join(keepers, "doc_id")
        .filter(quality_keep("text") & (lang_id("text") == "en"))
        .select("doc_id", token_count_ws("text").alias("n_tokens"))
    )
    return (
        kept.groupBy(split_column("doc_id").alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# x73 — portable MinHash: all 16 signature components verified
# bit-for-bit (polynomial shingle hash → affine permutations mod 2³¹ →
# per-doc MIN), closing the auditability gap of xxhash-based x03 the
# same way x39 does for SimHash.
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.dedup import (  # noqa: E402
    _minhash_coeffs as _x73_coeffs,
)

_X73_MINS = ", ".join(
    f"MIN((hs * {a} + {b}) % 2147483648) AS m{j:02d}"
    for j, (a, b) in enumerate(_x73_coeffs(16, seed=42))
)


@harness_query(
    "x261_minhash_portable",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(l[i:i+2], ' ') AS shingle
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 2
    ), h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(shingle, ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 2147483648) AS hs
      FROM sh
    )
    SELECT doc_id, {_X73_MINS}
    FROM h GROUP BY doc_id
    """,
)
def x261_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dedup import minhash_portable

    docs = load_table(spark, sf_dir, "documents")
    return minhash_portable(docs)


# --------------------------------------------------------------------------
# x125 — product-quantization ANN (Jégou et al. 2011): m=4 subspaces of
# 16 dims, codebooks from the deterministic hash-bucket sample (same
# audit-reproducible device as q42's IVF centroids), asymmetric distance
# computation via a broadcast per-query distance table joined to the
# integer code table. The ADC total folds per-subspace distances in
# subspace order — never a float groupBy-SUM — so the whole pipeline
# (encode, tables, ranking) is bit-exact against the oracle.
# --------------------------------------------------------------------------
_SQOFF_FOLD = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 17),"
    " i -> ({a}[{off} + i] - {b}[i]) * ({a}[{off} + i] - {b}[i]))),"
    " (acc, x) -> acc + x)"
)


@harness_query(
    "x125_pq_ann_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cb AS (
      SELECT vid AS code, v FROM e WHERE {_bucket_sql('vid', 13)} < 300
    ), sub AS (
      SELECT cb.code, j.j, cb.v[j.j*16+1 : j.j*16+16] AS cv
      FROM cb CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
    ), codes AS (
      SELECT vid, j, code FROM (
        SELECT e.vid, s.j, s.code,
               ROW_NUMBER() OVER (PARTITION BY e.vid, s.j
                 ORDER BY {_SQOFF_FOLD.format(a='e.v', off='s.j*16', b='s.cv')} ASC,
                          s.code) AS rn
        FROM e CROSS JOIN sub s
      ) WHERE rn = 1
    ), dtab AS (
      SELECT q.vid AS query_id, s.j, s.code,
             {_SQOFF_FOLD.format(a='q.v', off='s.j*16', b='s.cv')} AS d
      FROM e q CROSS JOIN sub s
      WHERE q.vid < 10
    ), approx AS (
      SELECT d.query_id, c.vid AS neighbor_id,
             list_reduce(list_prepend(0.0, list(d.d ORDER BY d.j)),
                         (acc, x) -> acc + x) AS adist
      FROM codes c JOIN dtab d ON d.j = c.j AND d.code = c.code
      WHERE d.query_id != c.vid
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adist, neighbor_id) AS BIGINT) AS rank
      FROM approx
    )
    SELECT query_id, neighbor_id, rank, adist FROM ranked WHERE rank <= 5
    """,
)
def x125_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk(emb, queries, dim=64)


# --------------------------------------------------------------------------
# x318 — IVFADC with hash-FRACTION index budgets: product quantization
# with the candidate set bounded by the IVF coarse quantizer (Jégou et
# al. 2011 §V). x125 is the unbounded ADC baseline (corpus×queries);
# here candidates come from cell co-membership (corpus assigned to 1
# cell, queries probe 2), so ADC touches O(|corpus|·nprobe/n_cells)
# pairs and every shuffle is an equi-join. Same fixed IEEE fold trees
# throughout, so the full composition — centroids, assignment, encode,
# distance tables, ADC ranking — is value-oracled end to end.
# DECLARED BASELINE since the round-7 rotation: both the cell sample and
# the PQ codebook here are hash fractions of the corpus, so nlist and
# |codebook| grow linearly with n and assignment/encode are
# O(fraction·n²) — measured 257 s at sf10. The driver-checked q33 slot
# now runs the fixed-budget configuration (17.9 s at sf10) that a real
# deployment would ship; this form is kept as the measured negative
# result the caps are proved against.
# --------------------------------------------------------------------------
@harness_query(
    "x318_pq_ivf_hash_fraction",
    oracle=f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), e AS (SELECT * FROM e0 WHERE nrm > 0),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
      FROM e WHERE {_bucket_sql('vec_id', 7)} < 300
    ),
    ca AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT e.vec_id AS neighbor_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    qa AS (
      SELECT query_id, centroid_id FROM (
        SELECT e.vec_id AS query_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
        WHERE e.vec_id < 10
      ) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT qa.query_id, ca.neighbor_id
      FROM qa JOIN ca ON ca.centroid_id = qa.centroid_id
      WHERE qa.query_id != ca.neighbor_id
    ),
    pe AS (
      SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), cb AS (
      SELECT vid AS code, v FROM pe WHERE {_bucket_sql('vid', 13)} < 300
    ), sub AS (
      SELECT cb.code, j.j, cb.v[j.j*16+1 : j.j*16+16] AS cv
      FROM cb CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
    ), codes AS (
      SELECT vid, j, code FROM (
        SELECT pe.vid, s.j, s.code,
               ROW_NUMBER() OVER (PARTITION BY pe.vid, s.j
                 ORDER BY {_SQOFF_FOLD.format(a='pe.v', off='s.j*16', b='s.cv')} ASC,
                          s.code) AS rn
        FROM pe CROSS JOIN sub s
      ) WHERE rn = 1
    ), dtab AS (
      SELECT q.vid AS query_id, s.j, s.code,
             {_SQOFF_FOLD.format(a='q.v', off='s.j*16', b='s.cv')} AS d
      FROM pe q CROSS JOIN sub s
      WHERE q.vid < 10
    ), approx AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_reduce(list_prepend(0.0, list(d.d ORDER BY d.j)),
                         (acc, x) -> acc + x) AS adist
      FROM cand
      JOIN codes c ON c.vid = cand.neighbor_id
      JOIN dtab d ON d.query_id = cand.query_id AND d.j = c.j AND d.code = c.code
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adist, neighbor_id) AS BIGINT) AS rank
      FROM approx
    )
    SELECT query_id, neighbor_id, rank, adist FROM ranked WHERE rank <= 5
    """,
)
def x318_pq_ivf_hash_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_ivf_topk(emb, queries, dim=64)


# --------------------------------------------------------------------------
# x130 — Z-order (Morton) key computation, the layout device of
# operators/layout.py (Delta OPTIMIZE...ZORDER's core).
# Pure shift/and/sum integer arithmetic on two key columns; per-bucket
# count + sum + min/max pin every interleaved key value against the
# oracle, whose SQL comes from the SAME generator (layout.zorder_sql) so
# implementation and oracle cannot drift.
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.layout import (  # noqa: E402
    zorder_key,
    zorder_sql,
)

_Z_SQL = zorder_sql(["(l_partkey % 65536)", "(l_suppkey % 65536)"])


@harness_query(
    "x130_zorder_buckets",
    oracle=f"""
    WITH z AS (
      SELECT {_Z_SQL} AS zkey FROM lineitem
    )
    SELECT CAST(zkey // 134217728 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(zkey) AS BIGINT) AS zkey_sum,
           CAST(MIN(zkey) AS BIGINT) AS zkey_min,
           CAST(MAX(zkey) AS BIGINT) AS zkey_max
    FROM z GROUP BY 1 ORDER BY z_bucket
    """,
)
def x130_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    zk = zorder_key(F.col("l_partkey") % 65536, F.col("l_suppkey") % 65536)
    return (
        li.select(zk.alias("zkey"))
        .groupBy(F.expr("zkey div 134217728").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("zkey").alias("zkey_sum"),
            F.min("zkey").alias("zkey_min"),
            F.max("zkey").alias("zkey_max"),
        )
        .orderBy("z_bucket")
    )


# --------------------------------------------------------------------------
# x131 — blocked fuzzy record linkage (operators/linkage.py): a "dirty"
# feed derived by deterministically dropping each name's 4th character
# links back to the clean part catalog through first-char blocking, a
# length band, and levenshtein <= 2, keeping the best match per dirty
# row. Blocking turns the cross join into an equi-join — the Fellegi-
# Sunter-era device that makes linkage run at corpus scale. levenshtein/
# substring/length agree between Spark and DuckDB, so match choice and
# distance are fully value-oracled.
# --------------------------------------------------------------------------
@harness_query(
    "x131_fuzzy_linkage",
    oracle="""
    WITH clean AS (
      SELECT DISTINCT p_name FROM part
    ), dirty AS (
      SELECT p_partkey AS dirty_id,
             substr(p_name, 1, 3) || substr(p_name, 5) AS dirty_name
      FROM part WHERE p_partkey % 3 = 0
    ), cand AS (
      SELECT d.dirty_id, d.dirty_name, c.p_name AS matched_name,
             levenshtein(d.dirty_name, c.p_name) AS dist
      FROM dirty d JOIN clean c
        ON substr(d.dirty_name, 1, 1) = substr(c.p_name, 1, 1)
       AND abs(len(d.dirty_name) - len(c.p_name)) <= 2
      WHERE levenshtein(d.dirty_name, c.p_name) <= 2
    ), best AS (
      SELECT dirty_id, dirty_name, matched_name, CAST(dist AS INT) AS dist,
             ROW_NUMBER() OVER (PARTITION BY dirty_id
               ORDER BY dist, matched_name) AS rn
      FROM cand
    )
    SELECT dirty_id, dirty_name, matched_name, dist
    FROM best WHERE rn = 1 ORDER BY dirty_id
    """,
)
def x131_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.linkage import blocked_fuzzy_link

    part = load_table(spark, sf_dir, "part")
    clean = part.select("p_name").distinct().withColumn("cid", F.lit(0))
    dirty = part.filter(F.col("p_partkey") % 3 == 0).select(
        F.col("p_partkey").alias("dirty_id"),
        F.concat(
            F.substring("p_name", 1, 3), F.expr("substring(p_name, 5)")
        ).alias("dirty_name"),
    )
    linked = blocked_fuzzy_link(
        dirty, clean, "dirty_id", "dirty_name", "cid", "p_name",
    )
    return linked.select(
        F.col("l_id").alias("dirty_id"),
        F.col("l_text").alias("dirty_name"),
        F.col("r_text").alias("matched_name"),
        F.col("dist").alias("dist"),
    ).orderBy("dirty_id")


# --------------------------------------------------------------------------
# x133 — parallel ranked selection (operators/selection.py): the same
# exact group median as q40, computed with ONE range exchange + a
# map-only Arrow local-rank pass + broadcast offsets instead of a
# 3-partition window sort. q40's window is faster at bench scale (no
# Python, no second pass) but funnels all rows of a group into one task;
# this formulation is the few-groups scale path — identical middle
# elements, so the q40 oracle verifies it verbatim.
# --------------------------------------------------------------------------
@harness_query(
    "x338_selection_median",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100.0 AS median_price,
           MAX(n) AS n_rows
    FROM c
    WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def x338_selection_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.selection import (
        grouped_median_cents,
    )

    li = load_table(spark, sf_dir, "lineitem")
    c = li.select("l_returnflag", cents("l_extendedprice").alias("cents"))
    return grouped_median_cents(c, "l_returnflag", "cents").orderBy("l_returnflag")


# --------------------------------------------------------------------------
# x134 — Lloyd-refined PQ (operators/similarity.py pq_topk_refined): one
# integer-quantized Lloyd step trains the sampled codebook (assignment by
# integer squared-L2, trunc-div component means — the q45 arithmetic
# contract), then ADC runs against the refined codewords. Proves codebook
# TRAINING slots into the PQ pipeline with the same join topology and
# stays end-to-end value-oracled: quantize → assign → means → de-quantize
# → encode → distance tables → ranked ADC, every step bit-identical.
# --------------------------------------------------------------------------
@harness_query(
    "x134_pq_refined_topk",
    oracle=f"""
    WITH pe AS (
      SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), jj AS (SELECT unnest(range(0, 4)) AS j),
    qsub AS (
      SELECT vid, jj.j,
             list_transform(pe.v[jj.j*16+1 : jj.j*16+16],
                            x -> CAST(trunc(x * 1000) AS BIGINT)) AS qv
      FROM pe CROSS JOIN jj
    ), cb0 AS (
      SELECT vid AS code, j, qv AS qc FROM qsub WHERE {_bucket_sql('vid', 13)} < 300
    ), assigned AS (
      SELECT q.vid, q.j, c.code, q.qv,
             list_sum(list_transform(list_zip(q.qv, c.qc),
                                     p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d
      FROM qsub q JOIN cb0 c ON c.j = q.j
      QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vid, q.j ORDER BY d, c.code) = 1
    ), comp AS (
      SELECT j, code, i.i, qv[i.i] AS val
      FROM assigned CROSS JOIN (SELECT unnest(range(1, 17)) AS i) i
    ), sums AS (
      SELECT j, code, i, COUNT(*) AS n, SUM(val) AS s
      FROM comp GROUP BY 1, 2, 3
    ), sub AS (
      SELECT code, j,
             list(CAST(CAST(trunc(CAST(s AS DOUBLE) / n) AS BIGINT) AS DOUBLE) / 1000
                  ORDER BY i) AS cv
      FROM sums GROUP BY 1, 2
    ), codes AS (
      SELECT vid, j, code FROM (
        SELECT pe.vid, s.j, s.code,
               ROW_NUMBER() OVER (PARTITION BY pe.vid, s.j
                 ORDER BY {_SQOFF_FOLD.format(a='pe.v', off='s.j*16', b='s.cv')} ASC,
                          s.code) AS rn
        FROM pe CROSS JOIN sub s
      ) WHERE rn = 1
    ), dtab AS (
      SELECT q.vid AS query_id, s.j, s.code,
             {_SQOFF_FOLD.format(a='q.v', off='s.j*16', b='s.cv')} AS d
      FROM pe q CROSS JOIN sub s
      WHERE q.vid < 10
    ), approx AS (
      SELECT d.query_id, c.vid AS neighbor_id,
             list_reduce(list_prepend(0.0, list(d.d ORDER BY d.j)),
                         (acc, x) -> acc + x) AS adist
      FROM codes c JOIN dtab d ON d.j = c.j AND d.code = c.code
      WHERE d.query_id != c.vid
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, neighbor_id, adist,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adist, neighbor_id) AS BIGINT) AS rank
      FROM approx
    )
    SELECT query_id, neighbor_id, rank, adist FROM ranked WHERE rank <= 5
    """,
)
def x134_pq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_topk_refined(emb, queries, dim=64)


# --------------------------------------------------------------------------
# x135 — SemDeDup semantic deduplication (Abbas et al. 2023): k-means
# buckets the embedding space, exact cosine runs only within clusters —
# candidates drop from O(n²) to Σ|cluster|² while BOTH stages stay
# value-oracled: the assignment replays q45's integer-quantized Lloyd
# CTEs verbatim, the cosine is the q34 left-to-right fold.
# --------------------------------------------------------------------------
# Promoted to the q35 driver slot in round 9 (ex-x135 — SemDeDup's
# first driver row; q34 covers only the GEMM primitive).
@harness_query(
    "q35_semantic_dedup_pairs",
    oracle=_KMEANS_A2_CTES
    + f"""
    , e AS (
      SELECT a2.vec_id AS vid, a2.cluster,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings JOIN a2 ON embeddings.vec_id = a2.vec_id
    )
    SELECT cluster, id_a, id_b, cosine FROM (
      SELECT a.cluster, a.vid AS id_a, b.vid AS id_b,
             {_COSINE_FOLD.format(a='a.v', b='b.v')} / (a.nrm * b.nrm) AS cosine
      FROM e a JOIN e b ON a.cluster = b.cluster AND a.vid < b.vid
      WHERE a.nrm > 0 AND b.nrm > 0
    ) WHERE cosine >= 0.35
    """,
)
def q35_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_near_dup_pairs(emb)


# --------------------------------------------------------------------------
# x136 — Bloom runtime-filter join (operators/runtime_filter.py): the
# sketch prunes probe rows before the shuffle; no false negatives + real
# join after = final result bit-identical to the plain join, so the
# oracle is simply the unfiltered join. The build side (one nation's
# suppliers, ~4% of keys (NATION_9)) is exactly the selective-dim shape where
# dynamic filtering pays at 100 TB: ~96% of lineitem dies map-side.
# --------------------------------------------------------------------------
@harness_query(
    "x136_bloom_filter_join",
    oracle="""
    SELECT s.s_suppkey, s.s_name,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_9'
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY s.s_suppkey
    """,
)
def x136_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.runtime_filter import bloom_join

    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_9")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("s_suppkey"),
        (cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("rev_cents"),
    )
    joined = bloom_join(li, supp, on="s_suppkey")
    return (
        joined.groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum("rev_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# x138 — asymmetric n-gram containment |src∩dst|/|src| (Broder): the
# quote/subset axis Jaccard misses. One shingle self-equi-join (the q17
# shuffle), each unordered pair fanned to its two directions, integer
# threshold per source size.
# --------------------------------------------------------------------------
@harness_query(
    "x138_ngram_containment_pairs",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), directed AS (
      SELECT id_a AS id_src, id_b AS id_dst, n_inter FROM inter
      UNION ALL
      SELECT id_b AS id_src, id_a AS id_dst, n_inter FROM inter
    )
    SELECT id_src, id_dst,
           CAST(n_inter AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.id_src
    WHERE 1000 * n_inter >= 350 * s.n_shingles
    """,
)
def x138_ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(docs, threshold=0.35)


# --------------------------------------------------------------------------
# x141 — count-min sketch frequency estimation (operators/sketches.py):
# d×W counters built with one bounded-key hash agg, estimates via
# broadcast join + min-over-rows. Portable polynomial/affine hashing
# makes sketch AND estimates value-oracled; the output pairs each
# estimate with the exact count so the one-sided bound (est ≥ true) is
# itself part of the verified result.
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.sketches import (  # noqa: E402
    cms_coeffs as _x141_coeffs,
)

_X141_D, _X141_W = 4, 64
_X141_POLY = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT),"
    " list_transform(string_split_regex(word, ''),"
    " ch -> CAST(ascii(ch) AS BIGINT))),"
    " (h, c) -> (h * 31 + c) % 2147483648)"
)
_X141_CELLS = "\n      UNION ALL ".join(
    f"SELECT {r} AS r, ((hs * {a} + {b}) % 2147483648) % {_X141_W} AS pos FROM h"
    for r, (a, b) in enumerate(_x141_coeffs(_X141_D))
)
_X141_PROBES = "\n      UNION ALL ".join(
    f"SELECT word, true_cnt, {r} AS r,"
    f" ((hs * {a} + {b}) % 2147483648) % {_X141_W} AS pos FROM items"
    for r, (a, b) in enumerate(_x141_coeffs(_X141_D))
)


@harness_query(
    "x141_countmin_freq",
    oracle=f"""
    WITH toks AS (
      SELECT w AS word FROM (
        SELECT UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), h AS (
      SELECT word, {_X141_POLY} AS hs FROM toks
    ), cells AS (
      {_X141_CELLS}
    ), sketch AS (
      SELECT r, pos, COUNT(*) AS cnt FROM cells GROUP BY 1, 2
    ), items AS (
      SELECT word, hs, COUNT(*) AS true_cnt FROM h GROUP BY 1, 2
    ), probes AS (
      {_X141_PROBES}
    )
    SELECT word, true_cnt, MIN(COALESCE(s.cnt, 0)) AS est_cnt
    FROM probes p LEFT JOIN sketch s USING (r, pos)
    GROUP BY word, true_cnt
    ORDER BY word
    """,
)
def x141_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words("text")).alias("word"))
    sketch = countmin_build(toks, depth=_X141_D, width=_X141_W)
    items = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = countmin_estimate(sketch, items, depth=_X141_D, width=_X141_W)
    return (
        items.join(est, "word")
        .select("word", "true_cnt", "est_cnt")
        .orderBy("word")
    )


# --------------------------------------------------------------------------
# x161 — prefix-filtered exact Jaccard (PPJoin-style): candidates come
# only from each document's rarest ⌈(1−t)·|s|⌉+1 shingles (pigeonhole:
# a ≥t pair must share a prefix shingle), excluding the hot tail from
# the join with zero recall loss. The oracle is deliberately the PLAIN
# construction — the value-hash match is the proof that the pruning is
# lossless. Registered at t=0.8 through the measured-crossover
# dispatcher since round 7: prefix filtering WINS there (33.9 s vs
# 52.6 s plain at sf10 — ~96% of candidate mass pruned); the old t=0.2
# registration ran the algorithm in its measured LOSING region (307.6 s
# vs 65.0 s at sf10 — prefixes ≈ 80% of each doc), kept only as the
# documented negative result. jaccard_pairs_auto encodes
# the boundary (ppjoin at t ≥ 0.7, plain below), pinned by unit test.
# Promoted to the q43 driver slot in the round-8 rotation (ex-x161);
# the slot's former computation is x325_dedup_clusters.
# --------------------------------------------------------------------------
@harness_query(
    "q43_ppjoin_jaccard_pairs",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE 1000 * n_inter >= 800 * (sa.n_shingles + sb.n_shingles - n_inter)
    """,
)
def q43_ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # auto resolves to 'ppjoin' at 0.8 — the dispatcher, not a forced
    # side, so the registered query exercises the crossover logic
    return dedup.jaccard_pairs_auto(docs, threshold=0.8)


# --------------------------------------------------------------------------
# x172 — C4-style boilerplate scrub (Raffel et al. 2020 §2.2 analog):
# split each doc into non-overlapping 8-word chunks, count identical
# chunks corpus-wide, drop every chunk that appears >= 3 times anywhere,
# and reassemble the surviving text in order. Two shuffles total: one
# window-count partitioned by chunk (no agg+join round trip), one
# groupBy(doc_id) reassembly. At 100 TB the chunk key would pre-hash to
# an 8-byte xxhash64 (as q19 does for shingles); kept as text here so
# the DuckDB twin can value-oracle the whole pipeline.
# --------------------------------------------------------------------------
# Promoted to the q17 driver slot in round 9 (ex-x172 — the curation
# family's driver row).
@harness_query(
    "q17_boilerplate_chunk_scrub",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(lst) AS w, generate_subscripts(lst, 1) AS i
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents)
    ), chunks AS (
      SELECT doc_id, (i - 1) // 8 AS cidx,
             string_agg(w, ' ' ORDER BY i) AS chunk
      FROM words GROUP BY doc_id, (i - 1) // 8
    ), flagged AS (
      SELECT doc_id, cidx, chunk,
             COUNT(*) OVER (PARTITION BY chunk) AS cnt
      FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           COALESCE(string_agg(CASE WHEN cnt < 3 THEN chunk END,
                               ' ' ORDER BY cidx), '') AS clean_text
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def q17_boilerplate_chunk_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("pos", "w"),
    )
    chunks = (
        words.withColumn("cidx", F.expr("pos div 8"))
        .groupBy("doc_id", "cidx")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("chunk")
        )
    )
    flagged = chunks.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("chunk"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("cnt") >= 3, 1).otherwise(0)).alias("n_removed"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("cnt") < 3, F.struct("cidx", "chunk"))
                            )
                        ),
                        lambda s: s["chunk"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x174 — exact-allocation stratified split: exactly n_h // 10 docs per
# source (vs x121's hash-threshold draws whose per-stratum counts
# are binomial). operators/sampling.stratified_exact_sample keeps the
# lowest knuth-hash ranks per stratum; the oracle replays the identical
# hash in portable SQL, so membership — not just counts — is verified.
# --------------------------------------------------------------------------
from super_store_datawarehouse_spark.operators.sampling import (  # noqa: E402
    knuth_sql as _knuth_sql,
)

_knuth_sql_docid = _knuth_sql("doc_id")


@harness_query(
    "x174_stratified_exact_split",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_knuth_sql_docid}, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source FROM ranked
    WHERE r <= (n * 10) // 100
    ORDER BY source, doc_id
    """,
)
def x174_stratified_exact_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        stratified_exact_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_exact_sample(
        docs, key_col="doc_id", strata_col="source", percent=10
    ).orderBy("source", "doc_id")


# --------------------------------------------------------------------------
# x177 — exact heavy hitters at sketch cost (Misra–Gries 1982 +
# mergeable-summaries merge): per-partition k-counter MG summaries
# (operators/sketches.py misra_gries_candidates, Arrow-batched weighted
# inserts) are a guaranteed superset of every word with count >
# N/(k+1); an exact semi-join recount of just the candidates then
# yields the precise heavy-hitter set and counts — the only full-data
# shuffle keys on the tiny candidate list, never the whole vocabulary.
# The oracle computes the same set exactly; equality holds because the
# superset guarantee is partitioning-independent.
# --------------------------------------------------------------------------
@harness_query(
    "x177_heavy_hitters_mg",
    oracle="""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ), t AS (SELECT COUNT(*) AS n FROM words)
    SELECT word, COUNT(*) AS cnt
    FROM words CROSS JOIN t
    GROUP BY word, t.n
    HAVING COUNT(*) * 31 > t.n
    ORDER BY word
    """,
)
def x177_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("word")
    )
    words = words.localCheckpoint()  # one materialization feeds all 3 passes
    return heavy_hitters_exact(words).orderBy("word")


# --------------------------------------------------------------------------
# x178 — distributed BPE tokenizer induction (Sennrich et al. 2016):
# learn the first 3 merges of a byte-pair encoding from corpus word
# frequencies. operators/text.bpe_learn runs the train loop — per round
# one weighted pair-count shuffle, a 1-row driver collect of the
# winning pair (inherent, like k-means centroids), and a literal
# replace whose double-space symbol encoding makes greedy left-to-right
# merging bit-identical to reference BPE. The oracle unrolls the same 3
# rounds as chained CTEs, so the merge table (pair choice AND weighted
# frequency) is value-verified, not just row-counted.
# --------------------------------------------------------------------------
def _bpe_oracle(n_merges: int) -> str:
    ctes = ["""
    wf AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
      GROUP BY w
    ), s0 AS (
      SELECT ' ' || array_to_string(string_split_regex(w, ''), '  ') || ' ' AS s,
             freq
      FROM wf
    )"""]
    for i in range(1, n_merges + 1):
        ctes.append(f"""
    p{i} AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s{i-1}))
      WHERE pr[2] IS NOT NULL
      GROUP BY 1, 2
    ), m{i} AS (
      SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    ), s{i} AS (
      SELECT replace(s, ' ' || m{i}.l || '  ' || m{i}.r || ' ',
                        ' ' || m{i}.l || m{i}.r || ' ') AS s, freq
      FROM s{i-1} CROSS JOIN m{i}
    )""")
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" cnt AS pair_freq FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH" + ",".join(ctes) + f"\n    {unions}\n    ORDER BY merge_rank"


@harness_query("q50_bpe_merges", oracle=_bpe_oracle(3))
def q50_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    merges, _ = bpe_learn(wf)
    return merges.orderBy("merge_rank")


# --------------------------------------------------------------------------
# x180 — deterministic negative sampling for contrastive training:
# every doc gets 3 cross-source negatives chosen by consistent-hash
# ring successor (the memcached/Chord trick): place all docs on a
# [0, 2^32) knuth-hash ring, and for each anchor take, per foreign
# source, the candidate with the smallest ring position >= the anchor's
# (wraparound via a +2^32 shadow copy), then keep the 3 globally
# nearest by ring gap. Reproducible under any reordering/repartition,
# no RNG state, and uniform-in-expectation because the hash scatters
# both sides. The successor search is operators/temporal.asof_join
# (direction="forward") on the ring axis — one sort-merge-shaped
# shuffle keyed by source. Skew note: at billions of docs per source
# you'd sub-bucket the ring (key by (src, pos >> 24)) with a boundary
# carry; source-count keys are fine at this corpus shape.
# --------------------------------------------------------------------------
@harness_query(
    "x180_ring_negative_sampling",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, {_knuth_sql("doc_id")} AS h FROM documents
    ), srcs AS (
      SELECT DISTINCT source FROM documents
    ), cand AS (
      SELECT source AS src, h AS pos, doc_id FROM d
      UNION ALL
      SELECT source AS src, h + 4294967296 AS pos, doc_id FROM d
    ), probes AS (
      SELECT a.doc_id AS anchor_id, s.source AS src, a.h AS target
      FROM d a JOIN srcs s ON s.source <> a.source
    ), un AS (
      SELECT src, pos, 1 AS side, NULL AS anchor_id FROM cand
      UNION ALL
      SELECT src, target AS pos, 0 AS side, anchor_id FROM probes
    ), m AS (
      SELECT src, pos, anchor_id,
             MIN(CASE WHEN side = 1 THEN pos END) OVER (
               PARTITION BY src ORDER BY pos, side
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_pos
      FROM un
    ), neg AS (
      SELECT h.anchor_id, h.src, CAST(h.next_pos - h.pos AS BIGINT) AS gap,
             MIN(c.doc_id) AS neg_doc_id
      FROM (SELECT * FROM m WHERE anchor_id IS NOT NULL) h
      JOIN cand c ON c.src = h.src AND c.pos = h.next_pos
      GROUP BY h.anchor_id, h.src, h.next_pos, h.pos
    ), ranked AS (
      SELECT anchor_id, neg_doc_id, src AS neg_source, gap,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY gap, src) AS rn
      FROM neg
    )
    SELECT anchor_id, neg_doc_id, neg_source, gap
    FROM ranked WHERE rn <= 3
    ORDER BY anchor_id, gap, neg_source
    """,
)
def x180_ring_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", knuth_hash("doc_id").alias("h"))
        .localCheckpoint()  # hash once; feeds probes and both ring copies
    )
    srcs = d.select("source").distinct()
    cand = d.select(
        F.col("source").alias("src"), F.col("h").alias("pos"), "doc_id"
    ).unionByName(
        d.select(
            F.col("source").alias("src"),
            (F.col("h") + F.lit(1 << 32)).alias("pos"),
            "doc_id",
        )
    )
    probes = (
        d.alias("a")
        .join(F.broadcast(srcs).alias("s"), F.expr("s.source <> a.source"))
        .select(
            F.col("a.doc_id").alias("anchor_id"),
            F.col("s.source").alias("src"),
            F.col("a.h").alias("target"),
        )
    )
    hits = asof_join(
        probes,
        cand,
        on="src",
        left_ts="target",
        right_ts="pos",
        value_cols=["doc_id"],
        direction="forward",
    )
    ranked = hits.select(
        "anchor_id",
        F.col("asof_doc_id").alias("neg_doc_id"),
        F.col("src").alias("neg_source"),
        (F.col("asof_pos") - F.col("target")).alias("gap"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("anchor_id").orderBy("gap", "neg_source")
        ),
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy("anchor_id", "gap", "neg_source")
    )


# --------------------------------------------------------------------------
# x181 — incremental join maintenance: the delta rule
# Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB (operators/incremental.py
# join_delta) applied to orders/lineitem snapshotted at date cutoffs.
# Each old-side scan joins a delta (AQE broadcasts it), so maintenance
# cost tracks |Δ|, not |A|+|B|. The oracle proves the algebra: full
# new join EXCEPT full old join — identical rows, computed the
# O(|A|+|B|) way the delta rule avoids. (o_orderkey, l_linenumber) is
# unique per line, so set-EXCEPT is exact here.
# --------------------------------------------------------------------------
@harness_query(
    "x181_incremental_join_delta",
    oracle="""
    WITH a_all AS (
      SELECT o_orderkey, epoch_us(o_orderdate) AS odate_us FROM orders
    ), b_all AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
             epoch_us(l_shipdate) AS sdate_us
      FROM lineitem
    ), a_old AS (
      SELECT * FROM a_all WHERE odate_us < epoch_us(TIMESTAMP '2000-01-01')
    ), b_old AS (
      SELECT * FROM b_all WHERE sdate_us < epoch_us(TIMESTAMP '2000-06-01')
    ), new_join AS (
      SELECT a.o_orderkey, b.l_linenumber, a.odate_us, b.price_cents
      FROM a_all a JOIN b_all b ON a.o_orderkey = b.l_orderkey
    ), old_join AS (
      SELECT a.o_orderkey, b.l_linenumber, a.odate_us, b.price_cents
      FROM a_old a JOIN b_old b ON a.o_orderkey = b.l_orderkey
    )
    SELECT * FROM new_join
    EXCEPT
    SELECT * FROM old_join
    ORDER BY o_orderkey, l_linenumber
    """,
)
def x181_incremental_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.incremental import join_delta

    cut_a = F.unix_micros(F.lit("2000-01-01").cast("timestamp"))
    cut_b = F.unix_micros(F.lit("2000-06-01").cast("timestamp"))
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("odate_us"),
    )
    b = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("sdate_us"),
    )
    delta = join_delta(
        a.filter(F.col("odate_us") < cut_a),
        a.filter(F.col("odate_us") >= cut_a),
        b.filter(F.col("sdate_us") < cut_b),
        b.filter(F.col("sdate_us") >= cut_b),
        on="o_orderkey",
    )
    return delta.select(
        "o_orderkey", "l_linenumber", "odate_us", "price_cents"
    ).orderBy("o_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# x186 — materialized-view rollup answering (the aggregate-navigator
# move every serious warehouse makes): a monthly revenue summary is the
# "materialized view"; the yearly question is answered by re-aggregating
# the MV's 12-rows-per-year instead of rescanning lineitem. Valid
# because SUM/COUNT are distributive over the month→year rollup —
# the oracle computes yearly straight from the fact table, so the
# equality IS the rewrite-correctness proof. At 100 TB this turns a
# fact-table scan into a summary-table scan thousands of times smaller.
# --------------------------------------------------------------------------
@harness_query(
    "x186_mv_rollup_answer",
    oracle="""
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_cents,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY 1 ORDER BY yr
    """,
)
def x186_mv_rollup_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # the "materialized view": monthly grain, distributive measures only
    mv_monthly = (
        li.select(
            F.year(F.col("l_shipdate")).cast("long").alias("yr"),
            F.month(F.col("l_shipdate")).alias("mo"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("cents"),
        )
        .groupBy("yr", "mo")
        .agg(
            F.sum("cents").alias("rev_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    # yearly answer served FROM the MV (no fact-table access)
    return (
        mv_monthly.groupBy("yr")
        .agg(
            F.sum("rev_cents").alias("rev_cents"),
            F.sum("n_lines").alias("n_lines"),
        )
        .orderBy("yr")
    )


# --------------------------------------------------------------------------
# x188 — portable HyperLogLog distinct-count eval: per event type, the
# integer-exact HLL estimate (operators/sketches.hll_distinct: md5
# hashing, dyadic-rational harmonic sum, baked-ln linear-counting LUT —
# so DuckDB replays the ESTIMATE itself, unlike approx_count_distinct's
# opaque HLL++) against the true distinct user count, with the signed
# error in ppm. m=64 registers → ~13% expected relative error; the
# sketch shuffles 64 rows per group where exact COUNT(DISTINCT)
# shuffles every user id.
# --------------------------------------------------------------------------
@harness_query(
    "q28_hll_distinct_eval",
    oracle="""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ), b AS (
      SELECT event_type, hv % 64 AS bucket, hv // 64 AS w FROM h
    ), r AS (
      SELECT event_type, bucket,
             MAX(CASE WHEN w > 0 THEN 27 - length(bin(w)) ELSE 27 END) AS m
      FROM b GROUP BY 1, 2
    ), t AS (
      SELECT event_type,
             CAST(SUM(1::BIGINT << (32 - m)) AS BIGINT) AS tp,
             COUNT(*) AS np
      FROM r GROUP BY 1
    ), est AS (
      SELECT event_type,
             CAST(CASE WHEN raw * 2 <= 5 * 64 AND (64 - np) > 0
                       THEN ([266,222,196,177,163,151,142,133,126,119,113,107,102,97,93,89,85,81,78,74,71,68,65,63,60,58,55,53,51,48,46,44,42,40,39,37,35,33,32,30,28,27,25,24,23,21,20,18,17,16,15,13,12,11,10,9,7,6,5,4,3,2,1,0])[64 - np]
                       ELSE raw END AS BIGINT) AS est_distinct
      FROM (SELECT event_type, np,
                   (709 * 64 * 64 * 4294967296) //
                   (1000 * (tp + (64 - np) * 4294967296)) AS raw
            FROM t)
    ), tru AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
      FROM events GROUP BY 1
    )
    SELECT event_type, true_distinct, est_distinct,
           CAST((est_distinct - true_distinct) * 1000000 // true_distinct
                AS BIGINT) AS err_ppm
    FROM est JOIN tru USING (event_type)
    ORDER BY event_type
    """,
)
def q28_hll_distinct_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events")
    est = hll_distinct(events, ["event_type"], "user_id")
    tru = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    return (
        est.join(tru, "event_type")
        .select(
            "event_type",
            "true_distinct",
            "est_distinct",
            F.expr(
                "(est_distinct - true_distinct) * 1000000 div true_distinct"
            ).alias("err_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x191/q41 — distributed PCA (first principal direction) by power
# iteration: v ← (XᵀX)v with L∞ renormalization, 3 rounds, every step
# exact integer (operators/clustering.pca_power_iteration — round 5:
# ONE pass accumulates the d×d int64 Gram per partition, one d²-row
# reduce, then the iterations run driver-side over plain-Python ints;
# integer addition commutes, so the iterates are bit-identical to the
# former per-round shuffles). The max-abs norm replaces L2 precisely
# because it needs no sqrt — the iterate sequence replays in any
# engine, so the oracle unrolls the same 3 rounds as CTEs and
# verifies the DIRECTION, not just its shape.
# --------------------------------------------------------------------------
def _pca_oracle(n_iter: int) -> str:
    ctes = ["""
    comp AS (
      SELECT vec_id AS id, i,
             CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings CROSS JOIN range(1, 65) r(i)
    ), v0 AS (
      SELECT i, CAST(10000 AS BIGINT) AS v FROM range(1, 65) r(i)
    )"""]
    for k in range(1, n_iter + 1):
        ctes.append(f"""
    s{k} AS (
      SELECT c.id, CAST(SUM(c.x * v.v) AS BIGINT) AS s
      FROM comp c JOIN v{k-1} v USING (i) GROUP BY c.id
    ), u{k} AS (
      SELECT c.i, CAST(SUM(s.s * c.x) AS BIGINT) AS u
      FROM comp c JOIN s{k} s USING (id) GROUP BY c.i
    ), m{k} AS (
      SELECT GREATEST(MAX(ABS(u)), 1) AS m FROM u{k}
    ), v{k} AS (
      SELECT i, CAST((ABS(u) * 10000 // m.m)
                     * (CASE WHEN u >= 0 THEN 1 ELSE -1 END) AS BIGINT) AS v
      FROM u{k} CROSS JOIN m{k} m
    )""")
    return (
        "WITH" + ",".join(ctes)
        + f"\n    SELECT CAST(i AS BIGINT) AS dim, v AS loading"
          f" FROM v{n_iter} ORDER BY dim"
    )


@harness_query("q41_pca_power_iteration", oracle=_pca_oracle(3))
def q41_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.clustering import (
        pca_power_iteration,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = pca_power_iteration(emb)
    return spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(v)], "dim long, loading long"
    ).orderBy("dim")


# --------------------------------------------------------------------------
# x200 — curation pipeline v2, composing this round's operators into
# one auditable flow (q49 is v1): (1) integer-logit quality gate,
# (2) exact dedup keeping the lowest doc_id per normalized text (q14),
# (3) alpha-smoothed language quotas over a 200-doc budget filled by
# exact-allocation lowest-hash draws (x174), then (4) a deterministic
# 90/10 train/eval hash split. This query oracles the COMPOSITION —
# the end state a data-curation run would actually ship. Output: final
# doc and token counts per (split, lang).
# --------------------------------------------------------------------------
@harness_query(
    "q42_curation_pipeline_v2",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text,
             CAST(len(lst) AS BIGINT) AS tok_cnt,
             CAST(len(list_filter(lst, x -> list_contains(
               ['the','a','an','of','and','to','in','is','it','that'], x)))
               AS BIGINT) AS stop_cnt,
             CAST(len(list_distinct(lst)) AS BIGINT) AS distinct_cnt
      FROM (SELECT doc_id, lang, text,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents)
    ), quality AS (
      SELECT doc_id, lang, norm_text, tok_cnt FROM feat
      WHERE tok_cnt > 0
        AND 40000 * tok_cnt + distinct_cnt * 1000000 // tok_cnt
            - 2 * (stop_cnt * 1000000 // tok_cnt) - 1900000 > 0
    ), deduped AS (
      SELECT doc_id, lang, tok_cnt FROM (
        SELECT doc_id, lang, tok_cnt,
               row_number() OVER (PARTITION BY norm_text
                                  ORDER BY doc_id) AS rn
        FROM quality) WHERE rn = 1
    ), lc AS (
      SELECT lang, COUNT(*) AS cnt FROM deduped GROUP BY lang
    ), sq AS (
      SELECT lang, cnt, CAST(FLOOR(SQRT(cnt)) AS BIGINT) AS sq FROM lc
    ), quota AS (
      SELECT lang,
             LEAST(cnt, (sq * 1000000 // (SELECT CAST(SUM(sq) AS BIGINT)
                                          FROM sq)) * 200 // 1000000)
               AS q
      FROM sq
    ), drawn AS (
      SELECT d.doc_id, d.lang, d.tok_cnt FROM (
        SELECT doc_id, lang, tok_cnt,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_knuth_sql("doc_id")}, doc_id)
                 AS r
        FROM deduped) d JOIN quota ON quota.lang = d.lang
      WHERE d.r <= quota.q
    )
    SELECT CASE WHEN {_knuth_sql("doc_id", )} % 10000 < 9000
                THEN 'train' ELSE 'eval' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(tok_cnt) AS BIGINT) AS total_tokens
    FROM drawn GROUP BY 1, 2 ORDER BY split, lang
    """,
)
def q42_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        hash_bucket,
        knuth_hash,
    )

    docs = load_table(spark, sf_dir, "documents")
    stop = "array('the','a','an','of','and','to','in','is','it','that')"
    feat = docs.selectExpr(
        "doc_id",
        "lang",
        "regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS norm_text",
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '') AS lst",
    ).selectExpr(
        "doc_id",
        "lang",
        "norm_text",
        "cast(size(lst) AS bigint) AS tok_cnt",
        f"cast(size(filter(lst, x -> array_contains({stop}, x))) AS bigint)"
        " AS stop_cnt",
        "cast(size(array_distinct(lst)) AS bigint) AS distinct_cnt",
    )
    quality = feat.filter(
        "tok_cnt > 0 AND "
        "40000 * tok_cnt + distinct_cnt * 1000000 div tok_cnt"
        " - 2 * (stop_cnt * 1000000 div tok_cnt) - 1900000 > 0"
    )
    deduped = (
        quality.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("norm_text").orderBy("doc_id")
            ),
        )
        .filter("rn = 1")
        .select("doc_id", "lang", "tok_cnt")
    )
    sq = (
        deduped.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("sq", F.floor(F.sqrt("cnt")).cast("long"))
    )
    tot = sq.agg(F.sum("sq").alias("sqtot"))
    quota = sq.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.col("cnt"),
            F.expr("(sq * 1000000 div sqtot) * 200 div 1000000"),
        ).alias("q"),
    )
    drawn = (
        deduped.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    knuth_hash("doc_id"), F.col("doc_id")
                )
            ),
        )
        .join(F.broadcast(quota), "lang")
        .filter(F.col("r") <= F.col("q"))
    )
    return (
        drawn.select(
            F.when(hash_bucket("doc_id") < 9000, "train")
            .otherwise("eval")
            .alias("split"),
            "lang",
            "tok_cnt",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok_cnt").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# x253 → q27 (r5 tier-1 promotion) — RAG context assembly (the retrieval last-mile): for each of 5
# query docs, rank the rest of the corpus by shared-vocabulary overlap
# (distinct shared words), then greedily pack
# whole neighbor docs in rank order into a 150-token context budget and
# emit the assembled context string. Budget enforcement is a running
# token sum over the rank window; the string is an ordered array_join —
# both engines produce byte-identical contexts.
# --------------------------------------------------------------------------
@harness_query(
    "q27_rag_context_assembly",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS lst
      FROM documents
    ), q AS (
      SELECT doc_id AS qid, list_distinct(lst) AS qwords FROM toks
      WHERE doc_id < 5
    ), overlap AS (
      SELECT q.qid, t.doc_id,
             len(list_intersect(q.qwords, list_distinct(t.lst))) AS shared,
             CAST(len(t.lst) AS BIGINT) AS n_tok, t.text
      FROM q JOIN toks t ON t.doc_id <> q.qid
    ), ranked AS (
      SELECT qid, doc_id, n_tok, text,
             row_number() OVER (PARTITION BY qid
                                ORDER BY shared DESC, doc_id) AS rnk
      FROM overlap
    ), budgeted AS (
      SELECT qid, doc_id, text, rnk, n_tok,
             SUM(n_tok) OVER (PARTITION BY qid ORDER BY rnk) AS cum_tok
      FROM ranked WHERE rnk <= 10
    )
    SELECT qid,
           COUNT(*) AS n_docs_included,
           CAST(MAX(cum_tok) AS BIGINT) AS n_tokens_used,
           string_agg(text, ' [SEP] ' ORDER BY rnk) AS context_text
    FROM budgeted WHERE cum_tok <= 150
    GROUP BY qid ORDER BY qid
    """,
)
def q27_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "text",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
        ).alias("lst"),
    ).localCheckpoint()
    q = toks.filter("doc_id < 5").select(
        F.col("doc_id").alias("qid"),
        F.array_distinct("lst").alias("qwords"),
    )
    overlap = (
        F.broadcast(q)
        .join(toks, F.col("doc_id") != F.col("qid"))
        .select(
            "qid",
            "doc_id",
            F.size(
                F.array_intersect(F.col("qwords"), F.array_distinct("lst"))
            ).alias("shared"),
            F.size("lst").cast("long").alias("n_tok"),
            "text",
        )
    )
    ranked = overlap.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("shared"), "doc_id")
        ),
    ).filter("rnk <= 10")
    budgeted = ranked.withColumn(
        "cum_tok",
        F.sum("n_tok").over(Window.partitionBy("qid").orderBy("rnk")),
    ).filter("cum_tok <= 150")
    return (
        budgeted.groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_docs_included"),
            F.max("cum_tok").alias("n_tokens_used"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rnk", "text"))),
                    lambda s: s["text"],
                ),
                " [SEP] ",
            ).alias("context_text"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# x266 → q26 (r5 tier-1 promotion) — content-defined chunk dedup (operators/text.py cdc_chunks):
# Rabin-style rolling-hash boundaries at word granularity, then chunks
# shared across documents — the sub-document boilerplate axis between
# q14's whole-doc exact dedup and cross-document repeated n-grams. The entire
# segmentation (char fold, window hash, boundary rule, slicing) is
# portable integer arithmetic, so the oracle replays it list-for-list.
# --------------------------------------------------------------------------
@harness_query(
    "x309_cdc_chunk_dups",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), h AS (
      SELECT doc_id, ws,
             list_transform(ws, t -> list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(t, ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 1000000007)) AS hw
      FROM base WHERE len(ws) > 0
    ), b AS (
      SELECT doc_id, ws,
             list_filter(range(0, len(ws)), j ->
               j >= 3 AND j < len(ws) - 1 AND
               list_reduce(list_prepend(CAST(0 AS BIGINT), hw[j-2:j+1]),
                           (h, c) -> (h * 31 + c) % 1000000007) % 16 = 0
             ) AS bpos
      FROM h
    ), seg AS (
      SELECT doc_id, ws,
             list_prepend(-1, bpos) AS starts,
             list_append(bpos, len(ws) - 1) AS ends
      FROM b
    ), ch AS (
      SELECT doc_id,
             array_to_string(ws[starts[i+1] + 2 : ends[i+1] + 1], ' ')
               AS chunk_text
      FROM seg, UNNEST(range(0, len(starts))) AS t(i)
    )
    SELECT md5(chunk_text) AS chunk_md5,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS first_doc
    FROM ch
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY chunk_md5
    """,
)
def x309_cdc_chunk_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import cdc_chunks

    docs = load_table(spark, sf_dir, "documents")
    chunks = cdc_chunks(docs)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("chunk_md5")
    )


# --------------------------------------------------------------------------
# x270 — URL canonicalization dedup (operators/text.canonical_url): the
# web-corpus identity key. Raw URLs are derived deterministically from
# documents (host case, www prefix, default port, trailing slash, param
# order, utm tracking noise all varied by doc_id arithmetic — both
# engines derive the identical strings), then canonicalized and grouped:
# URLs that differ only in noise collapse to one canonical identity.
# Every normalization step is regexp/list arithmetic, so the oracle
# replays it byte-for-byte.
# --------------------------------------------------------------------------
@harness_query(
    "x270_url_canonical_dedup",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
        'HTTPS://' ||
        (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        (CASE WHEN doc_id % 2 = 0 THEN 'Example.com' ELSE 'example.COM' END) ||
        (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        '/Docs/' || CAST(doc_id // 4 AS VARCHAR) ||
        (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0
              THEN '?utm_source=feed&id=' ELSE '?id=' END) ||
        CAST(doc_id // 4 AS VARCHAR) ||
        '&lang=en' ||
        (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id, url,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          || '://' ||
        regexp_replace(
          regexp_replace(
            lower(regexp_extract(u, '^[^:]+://([^/?]+)', 1)),
            '^www\\.', ''),
          ':443$', '') ||
        regexp_replace(
          regexp_extract(u, '^[^:]+://[^/?]+(/[^?]*)?', 1), '/+$', '') ||
        (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS curl
      FROM (
        SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u,
          array_to_string(list_sort(list_filter(
            string_split(regexp_extract(regexp_replace(url, '#.*$', ''),
                                        '\\?(.*)$', 1), '&'),
            p -> p <> '' AND NOT regexp_matches(
                   p, '^(utm_|fbclid=|gclid=|msclkid=|ref=)'))), '&') AS qs
        FROM raw
      )
    )
    SELECT curl AS canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants,
           MIN(doc_id) AS first_doc
    FROM canon
    GROUP BY 1
    HAVING COUNT(DISTINCT url) >= 2
    ORDER BY canonical_url
    """,
)
def x270_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import canonical_url

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"),
            F.when(did % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
            F.when(did % 2 == 0, F.lit("Example.com")).otherwise(
                F.lit("example.COM")
            ),
            F.when(did % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.lit("/Docs/"),
            (did / 4).cast("long").cast("string"),
            F.when(did % 2 == 1, F.lit("/")).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.lit("?utm_source=feed&id=")).otherwise(
                F.lit("?id=")
            ),
            (did / 4).cast("long").cast("string"),
            F.lit("&lang=en"),
            F.when(did % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return (
        raw.select("doc_id", "url", canonical_url("url").alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("url").alias("n_raw_variants"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_raw_variants") >= 2)
        .orderBy("canonical_url")
    )


# --------------------------------------------------------------------------
# x271 — longest duplicated token span per doc pair
# (operators/dedup.longest_shared_spans): the substring-dedup signal of
# Lee et al. 2022, relational instead of suffix-array. Positional
# 5-gram shingles; per (pair, alignment-offset) the gaps-and-islands
# window recovers maximal gap-free match runs — a run of r shingles is
# a verbatim shared span of r+4 tokens. Shingles with document
# frequency outside [2, 10] are dropped (unshared can't span; ubiquitous
# would explode the self-join — the stop-shingle guard, declared in the
# operator docstring). The oracle replays islands on STRING shingles
# (hashing only changes join keys, not runs, absent 64-bit collisions).
# --------------------------------------------------------------------------
@harness_query(
    "x271_longest_shared_span",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+5], ' ') AS s
      FROM base, UNNEST(range(0, greatest(len(ws) - 4, 0))) t(i)
    ), shared_rare AS (
      SELECT s FROM sh GROUP BY s
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 10
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, b.pos - a.pos AS delta
      FROM sh a JOIN shared_rare USING (s) JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, delta, pa, pb,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, doc_b,
             CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens,
             CAST(MIN(pa) AS BIGINT) AS start_a,
             CAST(MIN(pb) AS BIGINT) AS start_b
      FROM runs GROUP BY doc_a, doc_b, delta, grp
    ), top AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_a, doc_b
        ORDER BY span_tokens DESC, start_a, start_b) AS rn
      FROM spans
    )
    SELECT doc_a, doc_b, span_tokens, start_a, start_b
    FROM top WHERE rn = 1 AND span_tokens >= 6
    ORDER BY doc_a, doc_b
    """,
)
def x271_longest_shared_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.longest_shared_spans(docs).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# x273 — span-level cross-split decontamination
# (operators/dedup.cross_split_span_contamination): the stricter
# sibling of q25's n-gram overlap ratio — for every val/test document
# sharing a verbatim >=6-token span with ANY train document, the
# longest such leak and its source doc. Composes the deterministic
# splitter (sampling.split_column — the same Knuth-hash CASE the q25
# oracle uses) with the x271 islands construction; the oracle replays
# both on string shingles.
# --------------------------------------------------------------------------
@harness_query(
    "x273_span_contamination",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), labels AS (
      SELECT doc_id,
             CASE WHEN ((((doc_id % 2147483648 + 2147483648) % 2147483648)
                         * 2654435761) % 4294967296) % 10000 < 8000
                    THEN 'train'
                  WHEN ((((doc_id % 2147483648 + 2147483648) % 2147483648)
                         * 2654435761) % 4294967296) % 10000 < 9000
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ), sh AS (
      SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+5], ' ') AS s
      FROM base, UNNEST(range(0, greatest(len(ws) - 4, 0))) t(i)
    ), shared_rare AS (
      SELECT s FROM sh GROUP BY s
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 10
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos AS pb, b.pos - a.pos AS delta
      FROM sh a JOIN shared_rare USING (s) JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, delta, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, doc_b,
             CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens,
             CAST(MIN(pa) AS BIGINT) AS start_a
      FROM runs GROUP BY doc_a, doc_b, delta, grp
    ), pair_best AS (
      SELECT doc_a, doc_b, MAX(span_tokens) AS span_tokens
      FROM spans GROUP BY doc_a, doc_b
      HAVING MAX(span_tokens) >= 6
    ), crossed AS (
      SELECT p.doc_a, p.doc_b, p.span_tokens,
             la.split AS split_a, lb.split AS split_b
      FROM pair_best p
      JOIN labels la ON la.doc_id = p.doc_a
      JOIN labels lb ON lb.doc_id = p.doc_b
      WHERE (la.split = 'train') <> (lb.split = 'train')
    ), leaks AS (
      SELECT CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS eval_doc,
             CASE WHEN split_a = 'train' THEN split_b ELSE split_a END AS eval_split,
             CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS train_doc,
             span_tokens
      FROM crossed
    )
    SELECT eval_doc, eval_split, train_doc, span_tokens
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY eval_doc ORDER BY span_tokens DESC, train_doc) AS rn
      FROM leaks
    ) WHERE rn = 1
    ORDER BY eval_doc
    """,
)
def x273_span_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cross_split_span_contamination(
        docs
    ).orderBy("eval_doc")


# --------------------------------------------------------------------------
# x274 — unigram-LM subword segmentation (operators/text.unigram_segment):
# the SentencePiece decoding step (Kudo 2018) as exact Viterbi DP over an
# integer cost (PENALTY − min(count, CAP) per piece — fewer pieces, then
# more frequent pieces, ties to the lexicographically smallest
# segmentation). The Spark side folds the DP in ONE aggregate() pass per
# word (accumulator = array of per-prefix best states, all references to
# bound columns); the oracle unrolls the same DP position-by-position as
# chained CTEs (the q45/q41 precedent for iterative algorithms), so even
# the dynamic program is value-hash verified. Words are capped at 16
# chars on both sides to bound the unroll.
# --------------------------------------------------------------------------
def _unigram_oracle() -> str:
    max_len, max_piece = 16, 4
    ctes = ["""
    toks AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
        SELECT UNNEST(list_filter(
          string_split_regex(lower(trim(text)), '\\s+'), x -> x <> '')) AS w
        FROM documents
      ) GROUP BY w
    ), wt AS MATERIALIZED (
      SELECT w, freq FROM toks WHERE length(w) <= %d
    ), pr AS (
      SELECT substr(w, CAST(j AS INT), CAST(l AS INT)) AS piece, freq
      FROM wt,
           UNNEST(range(1, length(w) + 1)) tj(j),
           UNNEST(range(1, least(%d, length(w) - j + 1) + 1)) tl(l)
    ), costs AS MATERIALIZED (
      SELECT piece,
             CAST(1000000 - LEAST(SUM(freq), 100000) AS BIGINT) AS pcost
      FROM pr GROUP BY piece
    ), b0 AS MATERIALIZED (
      SELECT w, CAST(0 AS BIGINT) AS cost, CAST(0 AS BIGINT) AS np, '' AS seg
      FROM wt
    )""" % (max_len, max_piece)]
    for i in range(1, max_len + 1):
        branches = []
        for l in range(1, min(max_piece, i) + 1):
            start = i - l + 1
            branches.append(f"""
      SELECT b.w, b.cost + c.pcost AS cost, b.np + 1 AS np,
             (CASE WHEN b.np > 0 THEN b.seg || ' ' ELSE '' END)
               || substr(b.w, {start}, {l}) AS seg
      FROM b{i - l} b JOIN costs c ON c.piece = substr(b.w, {start}, {l})
      WHERE length(b.w) >= {i}""")
        union = "\n      UNION ALL".join(branches)
        ctes.append(f"""
    b{i} AS MATERIALIZED (
      SELECT w, cost, np, seg FROM (
        SELECT u.*, ROW_NUMBER() OVER (
          PARTITION BY u.w ORDER BY u.cost, u.np, u.seg) AS rn
        FROM ({union}
        ) u
      ) WHERE rn = 1
    )""")
    finals = "\n      UNION ALL".join(
        f"      SELECT w, cost, np, seg FROM b{i} WHERE length(w) = {i}"
        for i in range(1, max_len + 1)
    )
    return (
        "WITH" + ",".join(ctes)
        + f""",
    final AS (
{finals}
    )
    SELECT wt.w AS word, wt.freq, f.seg, f.np AS n_pieces, f.cost
    FROM final f JOIN wt ON wt.w = f.w
    ORDER BY word"""
    )


@harness_query("x274_unigram_segmentation", oracle=_unigram_oracle())
def x274_unigram_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import (
        unigram_segment,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    wt = (
        docs.select(F.explode(words("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("w") <= 16)
    )
    return unigram_segment(wt).orderBy("word")


# --------------------------------------------------------------------------
# x276 — Gopher-style repetition signals (operators/text.repetition_signals):
# the repetition quality gate of Rae et al. 2021 A1.1 / RefinedWeb —
# INTRA-document n-gram repetition, completing the family next to q32
# (word-level distinct/top-share) and the CROSS-document repeated
# n-gram fraction, which are the other two Gopher signal groups. Per doc:
# characters covered by the most frequent 2-gram over normalized chars
# (ties break lexicographically), fraction of 3-gram occurrences that are
# duplicated grams, and the Gopher keep/drop flag. One tagged positional
# explode + (doc,n,gram) partial-agg shuffle + one window pass; both
# fractions are single int/int double divisions — bit-exact cross-engine.
# Demoted from the q13 driver slot in the round-8 rotation (the slot now
# runs the pair-coverage-aware near-dup agreement eval, ex-x322); the
# full oracle is unchanged.
# --------------------------------------------------------------------------
@harness_query(
    "x323_repetition_signals",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), g2 AS (
      SELECT doc_id, 2 AS n, array_to_string(ws[i+1:i+2], ' ') AS g
      FROM base, UNNEST(range(0, greatest(len(ws) - 1, 0))) t(i)
    ), g3 AS (
      SELECT doc_id, 3 AS n, array_to_string(ws[i+1:i+3], ' ') AS g
      FROM base, UNNEST(range(0, greatest(len(ws) - 2, 0))) t(i)
    ), counts AS (
      SELECT doc_id, n, g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3)
      GROUP BY doc_id, n, g
    ), stats AS (
      SELECT doc_id, n, g, cnt,
        ROW_NUMBER() OVER (PARTITION BY doc_id, n
                           ORDER BY cnt DESC, g) AS rn,
        CAST(SUM(cnt) OVER (PARTITION BY doc_id, n) AS BIGINT) AS occ,
        CAST(SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END)
             OVER (PARTITION BY doc_id, n) AS BIGINT) AS dup_occ
      FROM counts
    ), chars AS (
      SELECT doc_id,
             CAST(length(array_to_string(ws, ' ')) AS BIGINT) AS n_norm_chars
      FROM base
    ), per AS (
      SELECT p.doc_id, c.n_norm_chars,
        MAX(CASE WHEN n = 2 THEN g END) AS top_ngram,
        MAX(CASE WHEN n = 2 THEN cnt END) AS top_ngram_count,
        MAX(CASE WHEN n = 2 THEN cnt * length(g) END) AS top_chars,
        MAX(CASE WHEN n = 3 THEN dup_occ END) AS d_occ,
        MAX(CASE WHEN n = 3 THEN occ END) AS t_occ
      FROM (SELECT * FROM stats WHERE rn = 1) p
      JOIN chars c USING (doc_id)
      GROUP BY p.doc_id, c.n_norm_chars
    )
    SELECT doc_id, top_ngram,
           CAST(top_ngram_count AS BIGINT) AS top_ngram_count,
           CAST(top_chars AS DOUBLE) / CAST(n_norm_chars AS DOUBLE)
             AS top_ngram_char_frac,
           CAST(d_occ AS DOUBLE) / CAST(t_occ AS DOUBLE) AS dup_ngram_frac,
           (CAST(top_chars AS DOUBLE) / CAST(n_norm_chars AS DOUBLE) > 0.20
            OR COALESCE(
                 CAST(d_occ AS DOUBLE) / CAST(t_occ AS DOUBLE) > 0.60,
                 FALSE)) AS repetitive
    FROM per
    ORDER BY doc_id
    """,
)
def x323_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# x277 — α=0.5 temperature-scaled mixture sampling
# (operators/sampling.temperature_quotas + quota_sample): the data-mixing
# recipe that upweights small domains (Arivazhagan et al. 2019 / GPT-3).
# Domains are derived with deliberately skewed sizes (floor(sqrt(doc_id %
# 400)) — bucket k holds ~(2k+1)/400 of the docs); quotas are pure int64
# arithmetic (floor-sqrt weights, integer division), selection is the
# lowest Knuth-hash ranks per domain, so membership — audited here via
# the kept-id checksum — is reproducible in portable SQL.
# --------------------------------------------------------------------------
@harness_query(
    "x277_temperature_mixture",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             CAST(floor(sqrt(CAST(doc_id % 400 AS DOUBLE))) AS BIGINT) AS dom
      FROM documents
    ), c AS (
      SELECT dom, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS weight
      FROM d GROUP BY dom
    ), t AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS tot,
             CAST(SUM(weight) AS BIGINT) AS w_sum
      FROM c
    ), q AS (
      SELECT dom, n_docs, weight,
             least(n_docs, ((tot * 33) // 100) * weight // w_sum) AS target_n
      FROM c, t
    ), r AS (
      SELECT doc_id, dom,
             ROW_NUMBER() OVER (
               PARTITION BY dom
               ORDER BY {_knuth_sql('doc_id')}, doc_id) AS rn
      FROM d
    ), k AS (
      SELECT r.dom, CAST(COUNT(*) AS BIGINT) AS n_kept,
             CAST(SUM(doc_id) AS BIGINT) AS kept_id_sum
      FROM r JOIN q USING (dom)
      WHERE rn <= target_n
      GROUP BY r.dom
    )
    SELECT q.dom, q.n_docs, q.weight,
           CAST(q.target_n AS BIGINT) AS target_n,
           COALESCE(k.n_kept, 0) AS n_kept,
           COALESCE(k.kept_id_sum, 0) AS kept_id_sum
    FROM q LEFT JOIN k USING (dom)
    ORDER BY dom
    """,
)
def x277_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        quota_sample,
        temperature_quotas,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.floor(F.sqrt((F.col("doc_id") % 400).cast("double")))
        .cast("long")
        .alias("dom"),
    )
    quotas = temperature_quotas(docs, "dom")
    kept = quota_sample(docs, "doc_id", "dom", quotas)
    kept_agg = kept.groupBy("dom").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("kept_id_sum")
    )
    return (
        # |domains|-row reporting join — broadcast (no stats on an agg)
        quotas.join(F.broadcast(kept_agg), "dom", "left")
        .select(
            "dom",
            "n_docs",
            "weight",
            F.col("target_n").cast("long").alias("target_n"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("kept_id_sum", F.lit(0)).alias("kept_id_sum"),
        )
        .orderBy("dom")
    )


# --------------------------------------------------------------------------
# x278 — POSITIONAL inverted-index build (operators/search.inverted_index):
# per-term posting-list summaries (df, cf, first doc, head of the
# (doc,pos)-sorted posting list rendered doc:pos) for the 30 heaviest
# terms. The positional payload (beyond a doc-level df + doc-id index)
# is what phrase/proximity queries (x279) need. Exercises the
# ordered-collect the index payload needs (sort_array(collect_list(struct)))
# against DuckDB's list(... ORDER BY ...); one term-key shuffle.
# --------------------------------------------------------------------------
@harness_query(
    "x278_inverted_index",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, ws[i+1] AS term
      FROM base, UNNEST(range(0, len(ws))) t(i)
    )
    SELECT term,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS cf,
           MIN(doc_id) AS first_doc,
           array_to_string(
             (list(CAST(doc_id AS VARCHAR) || ':' || CAST(pos AS VARCHAR)
                   ORDER BY doc_id, pos))[1:5], ',') AS postings_head
    FROM tok
    GROUP BY term
    ORDER BY cf DESC, term
    LIMIT 30
    """,
)
def x278_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.search import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return (
        inverted_index(docs)
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(30)
    )


# --------------------------------------------------------------------------
# x279 — k-term positional phrase search via the inverted index
# (operators/search.phrase_matches). A FIXED 2-word phrase needs only
# a pairwise (doc, pos+1) self-join; this generalizes to k terms,
# repeated words, and overlapping occurrences, and the query phrase is
# itself computed
# (the corpus's top trigram, count desc / gram asc tie-break), exploded to
# (offset, term) rows, broadcast-hash-joined against the postings, and an
# anchor (pos - offset) holding ALL offsets is a verbatim occurrence — the
# index-side phrase plan, no document rescan. Everything integer.
# --------------------------------------------------------------------------
@harness_query(
    "x279_phrase_search",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, ws[i+1] AS term
      FROM base, UNNEST(range(0, len(ws))) t(i)
    ), tri AS (
      SELECT array_to_string(ws[i+1:i+3], ' ') AS phrase
      FROM base, UNNEST(range(0, greatest(len(ws) - 2, 0))) t(i)
    ), top AS (
      SELECT phrase FROM tri GROUP BY phrase
      ORDER BY COUNT(*) DESC, phrase LIMIT 1
    ), terms AS (
      SELECT phrase, i AS off, string_split(phrase, ' ')[i+1] AS term
      FROM top, UNNEST(range(0, 3)) t(i)
    ), hits AS (
      SELECT tok.doc_id, terms.phrase, tok.pos - terms.off AS anchor,
             terms.off
      FROM tok JOIN terms USING (term)
    ), occ AS (
      SELECT doc_id, phrase, anchor
      FROM hits GROUP BY doc_id, phrase, anchor
      HAVING COUNT(DISTINCT off) = 3
    )
    SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM occ GROUP BY doc_id, phrase
    ORDER BY doc_id
    """,
)
def x279_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.search import (
        phrase_matches,
        top_ngram,
    )

    docs = load_table(spark, sf_dir, "documents")
    return phrase_matches(docs, top_ngram(docs)).orderBy("doc_id")


# --------------------------------------------------------------------------
# x280 — corpus-frequency-rank rarity (operators/search.token_rarity): the
# integer perplexity proxy — every vocabulary term ranked by (corpus count
# desc, term asc), per-doc mean rank + rarest term. The rank window runs
# over the VOCABULARY frame (|vocab| << corpus, Heaps' law — declared);
# ranks are unique so the per-doc argmax needs no tie-break.
# --------------------------------------------------------------------------
@harness_query(
    "x280_token_rarity",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), tok AS (
      SELECT doc_id, i AS pos, ws[i+1] AS term
      FROM base, UNNEST(range(0, len(ws))) t(i)
    ), vocab AS (
      SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term
    ), ranked AS (
      SELECT term,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT)
               AS trank
      FROM vocab
    ), per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(trank) AS BIGINT) AS rank_sum,
             MAX(trank) AS rarest_rank,
             arg_max(t.term, trank) AS rarest_term
      FROM tok t JOIN ranked USING (term)
      GROUP BY doc_id
    )
    SELECT doc_id, n_tok, rank_sum,
           CAST(rank_sum AS DOUBLE) / CAST(n_tok AS DOUBLE) AS mean_rank,
           rarest_term, rarest_rank
    FROM per
    ORDER BY doc_id
    """,
)
def x280_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.search import token_rarity

    docs = load_table(spark, sf_dir, "documents")
    return token_rarity(docs).orderBy("doc_id")


# --------------------------------------------------------------------------
# x281 — Bloom-filter decontamination pre-filter (operators/sketches.
# bloom_build/bloom_bits/bloom_probe): the missing membership sketch in
# the family (HLL=distinct, CMS=frequency, MG=heavy hitters, KMV/theta=
# set ops). x136 uses an in-memory Bloom inside a mapInPandas join
# prefilter (its BITS are engine-internal — x136's value oracle is the
# bit-identical unfiltered join instead); this one is the PORTABLE
# filter whose exact bit contents and decisions value-oracle. The filter is built over the benchmark key set — eval-split
# normalized texts PLUS a deliberately "leaked" 3% of train texts (the
# contamination a decontamination pass must catch, guaranteeing the
# one-sidedness check is non-vacuous at every SF) — as its SET-BIT LIST
# (a bitmap and its set-bit list are the same object, and the list form
# value-oracles). Train docs probe it with a pure map-side forall-InSet
# expression, the standard cheap pre-filter in front of an exact
# anti-join. Reported per source against EXACT membership: n_missed must
# be 0 (every true member flagged) and the false-positive mass follows
# the (1-e^(-kn/m))^k fill curve. All affine/polynomial integer hashing —
# the sketch contents replay in DuckDB.
# --------------------------------------------------------------------------
@harness_query(
    "q10_bloom_decontamination",
    oracle=f"""
    WITH doc AS (
      SELECT doc_id, source,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm,
             {_bucket_sql('doc_id')} AS b
      FROM documents
    ), keyed AS (
      SELECT doc_id, source, norm, b,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(norm, ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 2147483648) AS h
      FROM doc
    ), pos2 AS (
      SELECT *,
             (695425565 * h + 647892279) % 2147483648 % 256 AS p1,
             (847877000 * h + 207388624) % 2147483648 % 256 AS p2
      FROM keyed
    ), keys AS (
      SELECT DISTINCT norm, p1, p2 FROM pos2
      WHERE b < 300 OR b >= 9700
    ), tr AS (SELECT * FROM pos2 WHERE b >= 300),
    bits AS (
      SELECT DISTINCT p FROM (
        SELECT p1 AS p FROM keys UNION ALL SELECT p2 AS p FROM keys)
    ), flagged AS (
      SELECT tr.*,
             (tr.p1 IN (SELECT p FROM bits)
              AND tr.p2 IN (SELECT p FROM bits)) AS bloom_positive,
             (tr.norm IN (SELECT norm FROM keys)) AS is_dup
      FROM tr
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN bloom_positive THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_dup,
           CAST(SUM(CASE WHEN bloom_positive AND NOT is_dup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN bloom_positive AND NOT is_dup THEN 1 ELSE 0 END)
                AS DOUBLE)
             / CAST(NULLIF(COUNT(*) - SUM(CASE WHEN is_dup THEN 1 ELSE 0 END),
                           0) AS DOUBLE) AS fp_rate,
           CAST(SUM(CASE WHEN is_dup AND NOT bloom_positive THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missed
    FROM flagged
    GROUP BY source
    ORDER BY source
    """,
)
def q10_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import hash_bucket
    from super_store_datawarehouse_spark.operators.sketches import (
        bloom_bits,
        bloom_build,
        bloom_probe,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ").alias("norm"),
        hash_bucket("doc_id").alias("b"),
    )
    # benchmark keys: the eval split + a deliberately leaked 3% of train
    keys = docs.filter((F.col("b") < 300) | (F.col("b") >= 9700)).select("norm")
    tr = docs.filter(F.col("b") >= 300)
    bits = bloom_bits(bloom_build(keys, "norm"))
    probed = bloom_probe(tr, "norm", bits)
    # exact-membership audit join — this is the expensive path the Bloom
    # pre-filter exists to shrink; no broadcast hint (the key set is a
    # corpus fraction, so Catalyst/AQE must pick the strategy by size)
    truth = probed.join(
        keys.distinct().withColumn("is_dup", F.lit(True)), "norm", "left"
    ).fillna(False, ["is_dup"])
    fp = F.sum(
        F.when(F.col("bloom_positive") & ~F.col("is_dup"), 1).otherwise(0)
    )
    n_true = F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
    return (
        truth.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.when(F.col("bloom_positive"), 1).otherwise(0)).alias(
                "n_flagged"
            ),
            n_true.alias("n_true_dup"),
            fp.alias("n_false_pos"),
            F.try_divide(
                fp.cast("double"),
                F.nullif(F.count(F.lit(1)) - n_true, F.lit(0)).cast("double"),
            ).alias("fp_rate"),
            F.sum(
                F.when(F.col("is_dup") & ~F.col("bloom_positive"), 1).otherwise(0)
            ).alias("n_missed"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x282 — co-purchase triangle counting (operators/graph.triangle_count):
# the graph-analytics companion to connected components (q43) and
# PageRank (q47). Edges: part pairs co-occurring in >= 2 orders (the
# bounded-per-order self-join), then degree-ordered orientation
# (Schank & Wagner node-iterator++) so every triangle has exactly one
# low-degree wedge — O(m^1.5) regardless of hub skew. The oracle counts
# the same triangles algorithm-independently (canonical a<b triple
# join), so the value match certifies the orientation trick preserves
# semantics exactly.
# --------------------------------------------------------------------------
@harness_query(
    "q47_copurchase_triangles",
    oracle="""
    WITH e AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT pa AS node FROM e UNION ALL SELECT pb AS node FROM e)
      GROUP BY node
    ), tri AS (
      SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
      FROM e e1 JOIN e e2 ON e2.pa = e1.pb
                JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), corners AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        SELECT x AS node FROM tri UNION ALL
        SELECT y AS node FROM tri UNION ALL
        SELECT z AS node FROM tri)
      GROUP BY node
    )
    SELECT d.node, d.degree, COALESCE(c.n_triangles, 0) AS n_triangles
    FROM deg d LEFT JOIN corners c USING (node)
    ORDER BY node
    """,
)
def q47_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
        .select("src", "dst")
    )
    return triangle_count(edges).orderBy("node")


# --------------------------------------------------------------------------
# x319 (ex-q46, ex-x283) — classical seasonal decomposition
# (operators/temporal.
# seasonal_decompose): trend by the 2×24 half-weighted centered moving
# average, per-hour-of-day seasonal indices, additive remainder — the
# decompose() every stats stack ships, value-oracled because the trend
# numerator and the per-phase seasonal sums stay INTEGER (scaled by
# 2·period); each output is one or two IEEE divisions/subtractions of
# identical operands. Input is the gap-free hourly count series (gap-free
# here by construction; gap-fill it first when it isn't).
# Demoted from the q46 slot in the round-7 rotation (q46 now checks the
# Markov next-event scorecard); oracle and computation unchanged.
# --------------------------------------------------------------------------
@harness_query(
    "x319_seasonal_decomposition",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), win AS (
      SELECT h, y,
        2 * CAST(SUM(y) OVER w AS BIGINT)
          - LAG(y, 12) OVER (ORDER BY h) - LEAD(y, 12) OVER (ORDER BY h)
          AS tnum,
        COUNT(*) OVER w = 25 AS fullw,
        (CAST(epoch(h) AS BIGINT) // 3600) % 24 AS phase
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), base AS (
      SELECT * FROM win WHERE fullw
    ), seas AS (
      SELECT phase,
             CAST(SUM(48 * y - tnum) AS BIGINT) AS snum,
             CAST(COUNT(*) AS BIGINT) AS sn
      FROM base GROUP BY phase
    )
    SELECT b.h, b.y,
           CAST(b.tnum AS DOUBLE) / 48.0 AS trend,
           CAST(s.snum AS DOUBLE) / (48.0 * CAST(s.sn AS DOUBLE)) AS seasonal,
           (CAST(b.y AS DOUBLE) - CAST(b.tnum AS DOUBLE) / 48.0)
             - CAST(s.snum AS DOUBLE) / (48.0 * CAST(s.sn AS DOUBLE))
             AS remainder
    FROM base b JOIN seas s USING (phase)
    ORDER BY h
    """,
)
def x319_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import (
        seasonal_decompose,
    )

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("y")
    )
    return seasonal_decompose(hourly).orderBy("h")


# --------------------------------------------------------------------------
# x284 — seasonal anomaly flags (operators/temporal.seasonal_anomalies):
# |remainder| > 2σ judged against the remainder's PER-PHASE spread (a 3am
# hour is compared to other 3am hours). The flag is an INTEGER comparison
# — n·num² > 4·Σnum² over the scaled remainder numerators (Σnum ≡ 0) —
# so the boolean itself value-oracles with no float tolerance; the
# reported deviation is one IEEE division of the same integers.
# --------------------------------------------------------------------------
@harness_query(
    "x313_seasonal_anomalies",
    oracle="""
    WITH raw AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y0
      FROM events GROUP BY 1
    ), hourly AS (
      -- planted spikes (idx % 97 = 50): deterministic ground truth the
      -- detector must flag, same device as the planted-duplicate tests
      SELECT h,
             y0 + CASE WHEN (CAST(epoch(h) AS BIGINT) // 3600) % 97 = 50
                       THEN 3 * y0 ELSE 0 END AS y
      FROM raw
    ), win AS (
      SELECT h, y,
        2 * CAST(SUM(y) OVER w AS BIGINT)
          - LAG(y, 12) OVER (ORDER BY h) - LEAD(y, 12) OVER (ORDER BY h)
          AS tnum,
        COUNT(*) OVER w = 25 AS fullw,
        (CAST(epoch(h) AS BIGINT) // 3600) % 24 AS phase
      FROM hourly
      WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), base AS (
      SELECT * FROM win WHERE fullw
    ), seas AS (
      SELECT phase,
             CAST(SUM(48 * y - tnum) AS BIGINT) AS snum,
             CAST(COUNT(*) AS BIGINT) AS sn
      FROM base GROUP BY phase
    ), scored AS (
      SELECT b.h, b.y, b.phase,
             s.sn * (48 * b.y - b.tnum) - s.snum AS num,
             48.0 * CAST(s.sn AS DOUBLE) AS d
      FROM base b JOIN seas s USING (phase)
    ), stats AS (
      SELECT phase,
             CAST(SUM(num * num) AS BIGINT) AS ss,
             CAST(SUM(num) AS BIGINT) AS s1,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM scored GROUP BY phase
    )
    SELECT sc.h, sc.y, sc.phase,
           CAST(sc.num AS DOUBLE) / sc.d AS deviation,
           (st.n * sc.num * sc.num > 4 * st.ss) AS is_anomaly
    FROM scored sc JOIN stats st USING (phase)
    ORDER BY h
    """,
)
def x313_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import (
        seasonal_anomalies,
    )

    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("y0")
    )
    idx = F.expr("unix_timestamp(h) div 3600")
    hourly = raw.select(
        "h",
        (
            F.col("y0")
            + F.when(F.pmod(idx, F.lit(97)) == 50, 3 * F.col("y0")).otherwise(
                F.lit(0)
            )
        ).alias("y"),
    )
    return seasonal_anomalies(hourly).orderBy("h")


# --------------------------------------------------------------------------
# x285 — inter-annotator agreement (operators/quality_eval.cohen_kappa):
# the label-QA gate a dataset release runs between two labelers (rule
# gate vs model score, two model versions, human vs heuristic). Kappa
# from an INTEGER confusion matrix with ONE final IEEE division
# (kappa = (N·Σn_cc − Σr_c·c_c)/(N² − Σr_c·c_c)), so the chance-corrected
# statistic value-oracles bit-exactly. Annotator A = the quality_keep
# gate; annotator B = a stopword-density heuristic — correlated but
# disagreeing labelers, per source.
# --------------------------------------------------------------------------
@harness_query(
    "x285_annotator_agreement",
    oracle=f"""
    WITH lab AS (
      SELECT source,
        (len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '')) >= 10
         AND CAST(length(text) AS DOUBLE)
             <= 12.0 * len(list_filter(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x <> ''))) AS la,
        (10 * len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                              x -> x IN {EN_STOP_SQL}))
         >= len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> ''))) AS lb
      FROM documents
    ), conf AS (
      SELECT source, la, lb, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY source, la, lb
    ), ra AS (
      SELECT source, la AS c, CAST(SUM(n) AS BIGINT) AS r FROM conf
      GROUP BY source, la
    ), cb AS (
      SELECT source, lb AS c, CAST(SUM(n) AS BIGINT) AS col_n FROM conf
      GROUP BY source, lb
    ), chance AS (
      SELECT source, CAST(SUM(r * col_n) AS BIGINT) AS sum_rc
      FROM ra JOIN cb USING (source, c) GROUP BY source
    ), agg AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN la = lb THEN n ELSE 0 END) AS BIGINT)
               AS n_agree
      FROM conf GROUP BY source
    )
    SELECT a.source, a.n, a.n_agree,
           a.n_agree * 1000000 // a.n AS agree_ppm,
           CAST(a.n * a.n_agree - COALESCE(c.sum_rc, 0) AS DOUBLE)
             / CAST(NULLIF(a.n * a.n - COALESCE(c.sum_rc, 0), 0) AS DOUBLE)
             AS kappa
    FROM agg a LEFT JOIN chance c USING (source)
    ORDER BY source
    """,
)
def x285_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.quality_eval import cohen_kappa
    from super_store_datawarehouse_spark.operators.text import (
        EN_STOPWORDS,
        quality_keep,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    ws = docs.select("source", "text", words("text").alias("__w"))
    labeled = ws.select(
        "source",
        quality_keep("text").alias("la"),
        (
            10 * F.size(F.filter(F.col("__w"), lambda x: x.isin(*EN_STOPWORDS)))
            >= F.size("__w")
        ).alias("lb"),
    )
    return cohen_kappa(labeled, "la", "lb", ["source"]).orderBy("source")


# --------------------------------------------------------------------------
# q39 — retrieval ranking eval (ex-x293) (P@10 / R@10 / MRR@10): the eval leg of
# the search family (BM25, x278 index, x279 phrase) — every ranked
# retrieval stack ships with exactly this harness before anyone trusts
# its top-k. Three multi-term queries are scored by the fixed-point BM25
# (one corpus pass for all queries); relevance ground truth is boolean:
# a doc is relevant to a query iff EVERY query term appears ≥3 times.
# All metrics are integers (‰ / ppm trunc-divs; the reciprocal rank is
# 1e6 div rank) so the whole scorecard value-oracles bit-exact.
# --------------------------------------------------------------------------
_X293_QUERIES = (
    (1, "vector"), (1, "hash"),
    (2, "stream"), (2, "window"),
    (3, "merge"), (3, "filter"), (3, "spark"),
)
_X293_VALUES = ", ".join(f"({qid}, '{t}')" for qid, t in _X293_QUERIES)


@harness_query(
    "q39_retrieval_eval",
    oracle=f"""
    WITH q(query_id, term) AS (VALUES {_X293_VALUES}),
    toks AS (
      SELECT doc_id, w AS term FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks
      WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
    ), dfw AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), c2 AS (
      SELECT n, (sumdl * 1000) // n AS avgdl_s FROM (
        SELECT (SELECT COUNT(*) FROM documents) AS n,
               (SELECT SUM(dl) FROM dl) AS sumdl
      )
    ), scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(SUM(
               (((((c2.n - dfw.df) * 1000 + 500) * 1000) // (dfw.df * 1000 + 500))
                * tf.tf * 2200)
               // (tf.tf * 1000
                   + (1200 * (250 + (750000 * dl.dl) // c2.avgdl_s)) // 1000)
             ) AS BIGINT) AS score_micro
      FROM q JOIN tf USING (term) JOIN dl USING (doc_id)
      JOIN dfw ON dfw.term = q.term CROSS JOIN c2
      GROUP BY 1, 2
    ), ranked AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_micro DESC, doc_id) AS rank
      FROM scored QUALIFY rank <= 10
    ), nq AS (
      SELECT query_id, COUNT(*) AS n_terms FROM q GROUP BY 1
    ), rel AS (
      SELECT r.query_id, r.doc_id FROM (
        SELECT q.query_id, tf.doc_id, MIN(tf.tf) AS min_tf,
               COUNT(*) AS n_present
        FROM q JOIN tf USING (term) GROUP BY 1, 2
      ) r JOIN nq USING (query_id)
      WHERE r.min_tf >= 3 AND r.n_present = nq.n_terms
    ), nrel AS (
      SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY 1
    ), hits AS (
      SELECT r.query_id,
             CAST(COUNT(rel.doc_id) AS BIGINT) AS n_hits10,
             MIN(CASE WHEN rel.doc_id IS NOT NULL THEN r.rank END) AS first_rank
      FROM ranked r LEFT JOIN rel
        ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
      GROUP BY 1
    )
    SELECT CAST(qs.query_id AS BIGINT) AS query_id,
           COALESCE(nrel.n_rel, 0) AS n_rel,
           COALESCE(hits.n_hits10, 0) AS n_hits10,
           CAST(COALESCE(hits.n_hits10, 0) * 100 AS BIGINT) AS prec_at10_pm,
           CAST(CASE WHEN COALESCE(nrel.n_rel, 0) = 0 THEN 0
                ELSE (COALESCE(hits.n_hits10, 0) * 1000) // nrel.n_rel
                END AS BIGINT) AS recall_at10_pm,
           CAST(COALESCE(1000000 // hits.first_rank, 0) AS BIGINT) AS rr_ppm
    FROM (SELECT DISTINCT query_id FROM q) qs
    LEFT JOIN nrel USING (query_id) LEFT JOIN hits USING (query_id)
    ORDER BY qs.query_id
    """,
)
def q39_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import search

    docs = load_table(spark, sf_dir, "documents")
    qdf = spark.createDataFrame(
        list(_X293_QUERIES), "query_id long, term string"
    )
    scores = search.bm25_scores_multi(docs, qdf)
    w = Window.partitionBy("query_id").orderBy(F.desc("score_micro"), "doc_id")
    ranked = (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
    )
    # boolean qrels: every query term present >= 3 times
    p = search.token_postings(docs)
    tf = (
        p.join(F.broadcast(qdf.select("term").distinct()), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    nq = qdf.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_terms"))
    rel = (
        qdf.join(tf, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.min("tf").alias("min_tf"), F.count(F.lit(1)).alias("n_present"))
        .join(F.broadcast(nq), "query_id")
        .filter((F.col("min_tf") >= 3) & (F.col("n_present") == F.col("n_terms")))
        .select("query_id", "doc_id")
    )
    nrel = rel.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = (
        ranked.join(rel.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("is_rel", F.lit(0))).alias("n_hits10"),
            F.min(F.when(F.col("is_rel") == 1, F.col("rank"))).alias("first_rank"),
        )
    )
    qs = qdf.select("query_id").distinct()
    return (
        qs.join(nrel, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).alias("n_rel"),
            F.coalesce("n_hits10", F.lit(0)).alias("n_hits10"),
            (F.coalesce("n_hits10", F.lit(0)) * 100).cast("long").alias("prec_at10_pm"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_rel, 0) = 0 THEN 0"
                " ELSE (coalesce(n_hits10, 0) * 1000) div n_rel END AS BIGINT)"
            ).alias("recall_at10_pm"),
            F.expr(
                "CAST(coalesce(1000000 div first_rank, 0) AS BIGINT)"
            ).alias("rr_ppm"),
        )
        .orderBy("query_id")
    )


def _int8_recall_eval(
    spark: SparkSession, sf_dir: str, corpus_sample_n: int, salt: int = 17
) -> DataFrame:
    """Int8 quantization-recall eval over a deterministic fixed-size hash
    sample of the CORPUS side (queries always come from the full table):
    both brute-force rankings are GEMMs over ``sample_n`` vectors
    regardless of corpus scale — the flat-cost eval contract. q31
    (ex-x321) value-oracles it at sample_n=200, a bound that binds
    against the 500-vector sf0.01 corpus (the x316 lesson:
    capacity caps must be exercised where they bind; sample_n=500 would
    NOT bind there)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the sampled corpus feeds BOTH rankings (full-precision + quantized);
    # it is bounded by construction (sample_n rows) but selecting it
    # costs a corpus-wide TakeOrdered scan — localize it so that scan
    # runs exactly once (a lazy cache stampedes: both ranking branches
    # started before materialization and re-ran the scan, measured
    # 126 s per duplicated pass at sf10).
    corpus = localize(
        sampling_ops.hash_sample_n(emb, "vec_id", corpus_sample_n, salt=salt),
        max_rows=corpus_sample_n,
    )
    # the 10-row query set feeds both ranking branches; the pushdown
    # cache-barrier itself lives inside brute_force_topk (scoped to its
    # query collect), so no extra cache is taken here
    queries_raw = emb.filter(F.col("vec_id") < 10)
    full_top = similarity.brute_force_topk(corpus, queries_raw).select(
        "query_id", "neighbor_id"
    )
    quant_corpus = similarity.scalar_quantize_unit(corpus)
    quant_q = similarity.scalar_quantize_unit(queries_raw)
    quant_top = (
        similarity.brute_force_topk(quant_corpus, quant_q)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        full_top.join(quant_top, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
            F.expr("CAST(sum(coalesce(hit, 0)) * 1000 div 5 AS BIGINT)").alias(
                "recall_pm"
            ),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# q30 — data-quality expectations report (ex-x295) (dq.expectations_report): the
# publish gate a warehouse load runs — null/unique/FK/range/cross-column
# rules, one report row each with checked/violating counts and a pass
# flag. The ship-after-order rule genuinely FIRES on this data (the
# synthetic shipdate is uncorrelated with orderdate), so the report's
# fail path is non-vacuous. Extends the reference's load-time hygiene
# (reference etl.py:119-141 duplicate-merge + reject reporting) into an
# explicit rule surface.
# --------------------------------------------------------------------------
@harness_query(
    "q30_dq_expectations",
    oracle="""
    SELECT check_name, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM (
      SELECT 'lineitem.l_discount.range_0_1' AS check_name,
             CAST(COUNT(*) AS BIGINT) AS n_checked,
             CAST(COALESCE(SUM(CASE WHEN l_discount IS NULL
                    OR NOT (l_discount BETWEEN 0 AND 1) THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS n_violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.l_orderkey.fk_orders',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_quantity.positive',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN l_quantity IS NULL OR l_quantity <= 0
                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.ship_not_before_order',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN l.l_shipdate IS NULL
                    OR o.o_orderdate IS NULL
                    OR l.l_shipdate < o.o_orderdate
                    THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders.o_orderkey.not_null',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END), 0)
                  AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders.o_orderkey.unique',
             CAST(COUNT(*) AS BIGINT),
             CAST(COALESCE(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
      FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders GROUP BY 1)
    ) r
    ORDER BY check_name
    """,
)
def q30_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dq import expectations_report

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    okeys = orders.select("o_orderkey")
    li_fk = li.select("l_orderkey").join(
        okeys, li["l_orderkey"] == okeys["o_orderkey"], "left"
    )
    li_ship = li.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    key_counts = orders.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return expectations_report(
        [
            (
                "lineitem.l_discount.range_0_1",
                li,
                ~F.col("l_discount").between(0, 1),
            ),
            ("lineitem.l_orderkey.fk_orders", li_fk, F.col("o_orderkey").isNull()),
            ("lineitem.l_quantity.positive", li, F.col("l_quantity") <= 0),
            (
                "lineitem.ship_not_before_order",
                li_ship,
                F.col("l_shipdate") < F.col("o_orderdate"),
            ),
            ("orders.o_orderkey.not_null", orders, F.col("o_orderkey").isNull()),
            ("orders.o_orderkey.unique", key_counts, F.col("cnt") > 1),
        ]
    )


# --------------------------------------------------------------------------
# x299 — weighted (generalized) Jaccard near-dup pairs: Σmin(tf)/Σmax(tf)
# over 2-gram shingle MULTISETS — the tf-weighted axis plain Jaccard
# (q17) misses; templated docs that repeat shingles look far more alike
# under weighting (349 of 500 sf0.01 docs carry tf>1 shingles). The
# df≤25 stop-shingle guard is part of the contract (it binds on 632 of
# 916 shingles here — hub shingles carry no discriminative weight and
# would fan the self-join quadratically at corpus scale). Top-100 pairs
# under a total order; all arithmetic exact int64.
# --------------------------------------------------------------------------
# Driver slot q26 rounds 6-8; rotated back to the x-series in round 9
# (driver window made room for q26_trade_pagerank — the dedup family
# keeps q13/q14/q19/q43 driver rows; this query stays value-oracled
# locally and keeps its bench trail under the new name).
@harness_query(
    "x326_weighted_jaccard_pairs",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), occ AS (
      SELECT doc_id, array_to_string(l[i:i+1], ' ') AS shingle
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 1
    ), tf AS (
      SELECT doc_id, shingle, COUNT(*) AS tf FROM occ GROUP BY 1, 2
    ), dfw AS (
      SELECT shingle, COUNT(*) AS df FROM tf GROUP BY 1
    ), kept AS (
      SELECT tf.doc_id, tf.shingle, tf.tf
      FROM tf JOIN dfw USING (shingle) WHERE dfw.df <= 25
    ), sizes AS (
      SELECT doc_id, SUM(tf) AS w_total FROM kept GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS min_sum
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b, i.min_sum,
             CAST(sa.w_total + sb.w_total - i.min_sum AS BIGINT) AS union_sum
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE 1000 * i.min_sum >= 100 * (sa.w_total + sb.w_total - i.min_sum)
    )
    SELECT doc_a, doc_b, min_sum, union_sum,
           CAST((1000 * min_sum) // union_sum AS BIGINT) AS wj_pm
    FROM pairs
    ORDER BY wj_pm DESC, min_sum DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def x326_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.weighted_jaccard_pairs(
        docs, max_doc_freq=25, threshold_permille=100
    )
    return pairs.orderBy(
        F.desc("wj_pm"), F.desc("min_sum"), "doc_a", "doc_b"
    ).limit(100)


# --------------------------------------------------------------------------
# x300 — snapshot diff (incremental.snapshot_diff): row-level
# reconciliation between two table versions — the lakehouse "table
# diff" / CDC-backfill audit. Both snapshots are deterministic
# derivations of orders (cur drops keys ≡0 mod 89; prev drops keys ≡0
# mod 97 and doubles o_totalprice on keys ≡0 mod 101), so all four
# statuses occur by construction and the per-status count + key
# checksum value-oracle bit-exact.
# --------------------------------------------------------------------------
@harness_query(
    "q09_snapshot_diff",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 89 != 0
    ), prev AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice * 2
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 97 != 0
    ), diff AS (
      SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
             CASE
               WHEN p.o_orderkey IS NULL THEN 'added'
               WHEN c.o_orderkey IS NULL THEN 'removed'
               WHEN c.o_orderstatus IS DISTINCT FROM p.o_orderstatus
                 OR c.o_totalprice IS DISTINCT FROM p.o_totalprice
                 THEN 'changed'
               ELSE 'unchanged'
             END AS diff_status
      FROM cur c FULL OUTER JOIN prev p ON c.o_orderkey = p.o_orderkey
    )
    SELECT diff_status,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM diff GROUP BY 1 ORDER BY 1
    """,
)
def q09_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.incremental import snapshot_diff

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cur = orders.filter(F.col("o_orderkey") % 89 != 0)
    prev = orders.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 101 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    d = snapshot_diff(
        cur, prev, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )
    return (
        d.groupBy("diff_status")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("o_orderkey").alias("key_checksum"),
        )
        .orderBy("diff_status")
    )

# --------------------------------------------------------------------------
# x301 — ROC AUC as the tie-corrected Mann-Whitney rank statistic
# (quality_eval.ranking_auc): does the bigram-LM surprise score
# separate rare-word documents (token-rarity mean rank > 13.5, x280's
# signal as an exact integer compare 2·rank_sum > 27·n_tok) from
# common-word ones? Everything int64 until one ppm trunc-div — the AUC
# value-oracles bit-exactly, ties handled by doubled midranks. Label
# split 42/458 at sf0.01 with real score separation, so the statistic
# is informative, not saturated.
# --------------------------------------------------------------------------
@harness_query(
    "q32_quality_auc",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), toks AS (
      SELECT doc_id, UNNEST(l) AS term FROM w
    ), vocab AS (
      SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1
    ), vranked AS (
      SELECT term, ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank
      FROM vocab
    ), rar AS (
      SELECT doc_id, COUNT(*) AS n_tok, SUM(rank) AS rank_sum
      FROM toks JOIN vranked USING (term) GROUP BY 1
    ), occ AS (
      SELECT doc_id, l[i] AS w1, array_to_string(l[i:i+1], ' ') AS bigram
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 1
    ), c2 AS (
      SELECT bigram, COUNT(*) AS c2 FROM occ GROUP BY 1
    ), c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY 1
    ), sc AS (
      SELECT occ.doc_id, (1000 * c1.c1) // c2.c2 AS s
      FROM occ JOIN c2 USING (bigram) JOIN c1 USING (w1)
    ), per_doc AS (
      SELECT doc_id, SUM(s) // COUNT(*) AS score FROM sc GROUP BY 1
    ), lab AS (
      SELECT p.score, 2 * r.rank_sum > 27 * r.n_tok AS pos
      FROM per_doc p JOIN rar r USING (doc_id)
    ), byscore AS (
      SELECT score, COUNT(*) AS n,
             SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS npos
      FROM lab GROUP BY 1
    ), rankedsc AS (
      SELECT score, n, npos,
             1 + COALESCE(SUM(n) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS min_rank
      FROM byscore
    ), agg AS (
      SELECT CAST(SUM(npos) AS BIGINT) AS n_pos,
             CAST(SUM(n) - SUM(npos) AS BIGINT) AS n_neg,
             CAST(SUM(npos * (2 * min_rank + n - 1))
                  - SUM(npos) * (SUM(npos) + 1) AS BIGINT) AS u2
      FROM rankedsc
    )
    SELECT n_pos, n_neg, u2,
           CAST(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE (1000000 * u2) // (2 * n_pos * n_neg) END AS BIGINT)
             AS auc_ppm
    FROM agg
    """,
)
def q32_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import search
    from super_store_datawarehouse_spark.operators.quality_eval import ranking_auc

    docs = load_table(spark, sf_dir, "documents")
    score = search.bigram_surprise(docs).select(
        "doc_id", F.col("mean_surprise_milli").alias("score")
    )
    rar = search.token_rarity(docs).select(
        "doc_id", (2 * F.col("rank_sum") > 27 * F.col("n_tok")).alias("pos")
    )
    return ranking_auc(score.join(rar, "doc_id"), "score", "pos")


# --------------------------------------------------------------------------
# x302 — per-class precision / recall / F1 of the kNN label vote
# (quality_eval.classification_report over kNN label-vote predictions): the
# classifier release gate — per class, truth support, prediction count,
# true positives, and ppm metrics (F1 = 2tp/(n_truth+n_pred) exactly).
# Denominator-zero metrics are NULL, not 0. All counts int64; every
# metric one trunc-div — fully value-oracled.
# --------------------------------------------------------------------------
@harness_query(
    "q29_knn_classification_report",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, label AS own_label, v AS qv, nrm AS qnrm
      FROM e WHERE vec_id < 100
    ), scored AS (
      SELECT q.query_id, q.own_label, e.vec_id AS neighbor_id, e.label AS n_label,
             {_COSINE_FOLD.format(a='qv', b='v')} / (q.qnrm * e.nrm) AS cosine
      FROM q JOIN e ON e.vec_id != q.query_id
    ), ranked AS (
      SELECT query_id, own_label, n_label,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ), votes AS (
      SELECT query_id, own_label, n_label, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= 5
      GROUP BY 1, 2, 3
    ), winner AS (
      SELECT query_id, own_label AS truth, n_label AS pred FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY n_votes DESC, n_label) AS rn
        FROM votes
      ) WHERE rn = 1
    ), conf AS (
      SELECT truth, pred, COUNT(*) AS n FROM winner GROUP BY 1, 2
    ), by_truth AS (
      SELECT truth AS label, SUM(n) AS n_truth,
             SUM(CASE WHEN pred = truth THEN n ELSE 0 END) AS tp_t
      FROM conf GROUP BY 1
    ), by_pred AS (
      SELECT pred AS label, SUM(n) AS n_pred FROM conf GROUP BY 1
    ), rep AS (
      SELECT COALESCE(t.label, p.label) AS label,
             CAST(COALESCE(t.n_truth, 0) AS BIGINT) AS n_truth,
             CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
             CAST(COALESCE(t.tp_t, 0) AS BIGINT) AS tp
      FROM by_truth t FULL OUTER JOIN by_pred p ON t.label = p.label
    )
    SELECT label, n_truth, n_pred, tp,
           CAST(CASE WHEN n_pred = 0 THEN NULL
                ELSE (tp * 1000000) // n_pred END AS BIGINT) AS precision_ppm,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                ELSE (tp * 1000000) // n_truth END AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN n_truth + n_pred = 0 THEN NULL
                ELSE (2 * tp * 1000000) // (n_truth + n_pred) END AS BIGINT)
             AS f1_ppm
    FROM rep ORDER BY label
    """,
)
def q29_knn_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.quality_eval import (
        classification_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    topk = similarity.brute_force_topk(emb, queries)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(labels, topk["neighbor_id"] == labels["vec_id"])
        .groupBy("query_id", F.col("label").alias("n_label"))
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), "n_label")
    winner = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("query_id", F.col("n_label").alias("pred"))
    )
    own = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("truth")
    )
    return classification_report(winner.join(own, "query_id"), "truth", "pred")

# --------------------------------------------------------------------------
# x303 — multi-probe LSH vs single-probe, recall@5 head-to-head (Lv et
# al. 2007): same 4-table/4-plane index, but each query additionally
# probes every 1-bit-flip bucket — the recall/memory trade (index size
# unchanged, query fan-out ×5) every production LSH deploys before
# adding tables. Both variants exact-cosine re-rank their candidates;
# the oracle replays every sign bit, every probe, every candidate and
# both rankings (x308's signature-replay technique), so BOTH recall
# columns value-oracle bit-exactly.
# --------------------------------------------------------------------------
def _x303_oracle() -> str:
    from super_store_datawarehouse_spark.operators.similarity import (
        _scramble_sign,
    )

    n_planes, n_tables, dim = 4, 4, 64

    def fold(col: str, t: int, p: int) -> str:
        signs = ",".join(
            "1.0" if _scramble_sign(t * 1024 + p, d) > 0 else "-1.0"
            for d in range(dim)
        )
        return (
            f"list_reduce(list_prepend(0.0, list_transform(range(1, {dim + 1}),"
            f" i -> {col}[i] * ([{signs}])[i])), (acc, x) -> acc + x)"
        )

    sig_cols = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN {fold('v', t, p)} > 0 THEN {1 << p} ELSE 0 END"
            for p in range(n_planes)
        )
        + f") AS sig{t:02d}"
        for t in range(n_tables)
    )
    band_union = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {t} AS tbl, sig{t:02d} AS sig FROM sigs"
        for t in range(n_tables)
    )
    offsets = [0] + [1 << p for p in range(n_planes)]
    probe_union = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {t} AS tbl, xor(sig{t:02d}, {off}) AS sig,"
        f" {1 if off == 0 else 0} AS p0 FROM qsigs"
        for t in range(n_tables)
        for off in offsets
    )
    cos = _COSINE_FOLD.format(a="qv", b="v")
    return f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), e AS (
      SELECT * FROM e0 WHERE nrm > 0 AND isfinite(nrm)
    ), sigs AS (
      SELECT vec_id, {sig_cols} FROM e
    ), band AS (
      {band_union}
    ), qsigs AS (
      SELECT * FROM sigs WHERE vec_id < 10
    ), qprobe AS (
      {probe_union}
    ), cand_m AS (
      SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM qprobe p JOIN band b
        ON b.tbl = p.tbl AND b.sig = p.sig AND b.vec_id != p.vec_id
    ), cand_s AS (
      SELECT DISTINCT p.vec_id AS query_id, b.vec_id AS neighbor_id
      FROM qprobe p JOIN band b
        ON b.tbl = p.tbl AND b.sig = p.sig AND b.vec_id != p.vec_id
      WHERE p.p0 = 1
    ), eq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10
    ), approx_m AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                 ORDER BY {cos} / (eq.qnrm * e.nrm) DESC, c.neighbor_id) AS rank
        FROM cand_m c JOIN eq ON eq.query_id = c.query_id
        JOIN e ON e.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    ), approx_s AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                 ORDER BY {cos} / (eq.qnrm * e.nrm) DESC, c.neighbor_id) AS rank
        FROM cand_s c JOIN eq ON eq.query_id = c.query_id
        JOIN e ON e.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    ), exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT eq.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY eq.query_id
                 ORDER BY {cos} / (eq.qnrm * e.nrm) DESC, e.vec_id) AS rank
        FROM eq JOIN e ON e.vec_id != eq.query_id
      ) WHERE rank <= 5
    )
    SELECT x.query_id,
           CAST(SUM(CASE WHEN s.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000 // 5 AS BIGINT) AS recall_single_pm,
           CAST(SUM(CASE WHEN m.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                * 1000 // 5 AS BIGINT) AS recall_multi_pm
    FROM exact x
    LEFT JOIN approx_s s
      ON s.query_id = x.query_id AND s.neighbor_id = x.neighbor_id
    LEFT JOIN approx_m m
      ON m.query_id = x.query_id AND m.neighbor_id = x.neighbor_id
    GROUP BY x.query_id ORDER BY x.query_id
    """


# Driver slot q35 rounds 6-8; rotated back to the x-series in round 9
# (slot went to q35_semantic_dedup_pairs — ANN keeps q20/q33 driver
# rows; multiprobe stays locally oracled with its bench trail).
@harness_query("x327_lsh_multiprobe_recall", oracle=_x303_oracle())
def x327_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, q).select(
        "query_id", "neighbor_id"
    )
    single = (
        similarity.lsh_topk(emb, q, n_tables=4)
        .select("query_id", "neighbor_id")
        .withColumn("s_hit", F.lit(1))
    )
    multi = (
        similarity.lsh_multiprobe_topk(emb, q)
        .select("query_id", "neighbor_id")
        .withColumn("m_hit", F.lit(1))
    )
    return (
        exact.join(single, ["query_id", "neighbor_id"], "left")
        .join(multi, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.expr(
                "CAST(sum(coalesce(s_hit, 0)) * 1000 div 5 AS BIGINT)"
            ).alias("recall_single_pm"),
            F.expr(
                "CAST(sum(coalesce(m_hit, 0)) * 1000 div 5 AS BIGINT)"
            ).alias("recall_multi_pm"),
        )
        .orderBy("query_id")
    )

# --------------------------------------------------------------------------
# x304 — WAV PCM roundtrip stats: REAL audio sample decode, value-
# oracled. synth_wav_assets writes genuine RIFF/WAVE 16-bit PCM bytes
# whose samples are a pure integer function of the doc id
# (s_k = ((id·7919 + k·104729) mod 65536) − 32768, n = 64 + id mod 64);
# wav_pcm_stats walks the chunk list and reinterprets the data chunk as
# int16 frames. The oracle states the expected n/peak/DC/energy straight
# from the FORMULA — it never parses a byte — so any header-offset,
# endianness, or sample-width bug in EITHER the writer or the reader
# breaks the hash. Deepens the multimodal family beyond header sniffing
# (x129/q36) into real sample-level feature extraction.
# --------------------------------------------------------------------------
@harness_query(
    "q21_wav_pcm_roundtrip",
    oracle="""
    WITH ids AS (
      SELECT doc_id FROM documents WHERE doc_id < 200
    ), samp AS (
      SELECT doc_id,
             ((doc_id * 7919 + k * 104729) % 65536) - 32768 AS s
      FROM ids CROSS JOIN range(0, 128) r(k)
      WHERE k < 64 + doc_id % 64
    )
    SELECT doc_id AS asset_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(s) AS BIGINT) AS dc_sum,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq
    FROM samp GROUP BY 1 ORDER BY 1
    """,
)
def q21_wav_pcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.multimodal import (
        synth_wav_assets,
        wav_pcm_stats,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    assets = synth_wav_assets(docs)
    return wav_pcm_stats(assets).orderBy("asset_id")

# --------------------------------------------------------------------------
# x305 — corpus release gate: the go/no-go report a training-data
# release runs, composing this round's operators — exact-dup rate
# (q14's normalization), heuristic quality keep rate (q09), language
# coverage, corpus mean length, and the bigram-LM high-perplexity tail
# share. One integer value + literal threshold + pass flag per
# criterion; the perplexity criterion genuinely FAILS on this corpus
# (348‰ tail vs ≤300‰), so the gate's blocking path is non-vacuous.
# All values are trunc-div integers — the whole report value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "q48_release_gate",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS l,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text
      FROM documents
    ), occ AS (
      SELECT doc_id, l[i] AS w1, array_to_string(l[i:i+1], ' ') AS bigram
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 1
    ), c2 AS (
      SELECT bigram, COUNT(*) AS c2 FROM occ GROUP BY 1
    ), c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY 1
    ), sc AS (
      SELECT occ.doc_id, (1000 * c1.c1) // c2.c2 AS s
      FROM occ JOIN c2 USING (bigram) JOIN c1 USING (w1)
    ), per_doc AS (
      SELECT doc_id, CAST(SUM(s) AS BIGINT) AS sum_s,
             CAST(COUNT(*) AS BIGINT) AS n_bg,
             CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_s
      FROM sc GROUP BY 1
    ), thr AS (
      SELECT CAST(SUM(sum_s) // SUM(n_bg) AS BIGINT) AS g FROM per_doc
    ), crits AS (
      SELECT 'dedup.exact_dup_rate_pm' AS criterion,
             CAST(1000 - (COUNT(DISTINCT norm_text) * 1000) // COUNT(*)
                  AS BIGINT) AS value,
             '<= 100' AS threshold,
             1000 - (COUNT(DISTINCT norm_text) * 1000) // COUNT(*) <= 100
               AS passed
      FROM w
      UNION ALL
      SELECT 'quality.keep_rate_pm',
             CAST((SUM(CASE WHEN len(l) >= 10
                    AND (length(text) / len(l)) <= 12.0 THEN 1 ELSE 0 END)
                   * 1000) // COUNT(*) AS BIGINT),
             '>= 900',
             (SUM(CASE WHEN len(l) >= 10
                AND (length(text) / len(l)) <= 12.0 THEN 1 ELSE 0 END)
              * 1000) // COUNT(*) >= 900
      FROM w
      UNION ALL
      SELECT 'coverage.n_languages',
             CAST(COUNT(DISTINCT lang) AS BIGINT),
             '>= 3',
             COUNT(DISTINCT lang) >= 3
      FROM w
      UNION ALL
      SELECT 'length.mean_tokens',
             CAST(SUM(len(l)) // COUNT(*) AS BIGINT),
             'in [20, 80]',
             SUM(len(l)) // COUNT(*) BETWEEN 20 AND 80
      FROM w
      UNION ALL
      SELECT 'lm.perplexity_tail_pm',
             CAST((SUM(CASE WHEN p.mean_s > t.g THEN 1 ELSE 0 END) * 1000)
                  // COUNT(*) AS BIGINT),
             '<= 300',
             (SUM(CASE WHEN p.mean_s > t.g THEN 1 ELSE 0 END) * 1000)
               // COUNT(*) <= 300
      FROM per_doc p CROSS JOIN thr t
    )
    SELECT criterion, value, threshold, passed
    FROM crits ORDER BY criterion
    """,
)
def q48_release_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import search
    from super_store_datawarehouse_spark.operators.text import (
        quality_keep,
        token_count_ws,
    )

    docs = load_table(spark, sf_dir, "documents")

    def crit(name: str, threshold: str, value_col, passed_col) -> DataFrame:
        return docs.agg(
            value_col.cast("long").alias("value"), passed_col.alias("passed")
        ).select(
            F.lit(name).alias("criterion"),
            "value",
            F.lit(threshold).alias("threshold"),
            "passed",
        )

    dup_rate = F.lit(1000) - F.expr(
        "count(DISTINCT regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
        " * 1000 div count(1)"
    )
    report = crit(
        "dedup.exact_dup_rate_pm", "<= 100", dup_rate, dup_rate <= 100
    )
    kr = F.expr("(sum(CASE WHEN __keep THEN 1 ELSE 0 END) * 1000) div count(1)")
    keep_docs = docs.withColumn("__keep", quality_keep("text"))
    report = report.unionByName(
        keep_docs.agg(kr.cast("long").alias("value")).select(
            F.lit("quality.keep_rate_pm").alias("criterion"),
            "value",
            F.lit(">= 900").alias("threshold"),
            (F.col("value") >= 900).alias("passed"),
        )
    )
    nl = F.count_distinct("lang")
    report = report.unionByName(
        crit("coverage.n_languages", ">= 3", nl, nl >= 3)
    )
    mt_docs = docs.withColumn("__nt", token_count_ws("text"))
    report = report.unionByName(
        mt_docs.agg(
            F.expr("sum(__nt) div count(1)").cast("long").alias("value")
        ).select(
            F.lit("length.mean_tokens").alias("criterion"),
            "value",
            F.lit("in [20, 80]").alias("threshold"),
            F.col("value").between(20, 80).alias("passed"),
        )
    )
    per_doc = search.bigram_surprise(docs)
    thr = per_doc.agg(
        F.expr("CAST(sum(sum_surprise_milli) div sum(n_bigrams) AS BIGINT)").alias("g")
    )
    tail = (
        per_doc.crossJoin(F.broadcast(thr))
        .agg(
            F.expr(
                "(sum(CASE WHEN mean_surprise_milli > g THEN 1 ELSE 0 END)"
                " * 1000) div count(1)"
            ).cast("long").alias("value")
        )
        .select(
            F.lit("lm.perplexity_tail_pm").alias("criterion"),
            "value",
            F.lit("<= 300").alias("threshold"),
            (F.col("value") <= 300).alias("passed"),
        )
    )
    return report.unionByName(tail).orderBy("criterion")

# --------------------------------------------------------------------------
# x306 — IVF nprobe recall/cost frontier: the tuning table every IVF
# deployment produces before fixing nprobe — at nprobe ∈ {1,2,4} on the
# same hash-sampled coarse quantizer (x263's machinery), how much
# recall@5 does each extra probed cell buy, and at what candidate-count
# cost? Completes the ANN tuning story beside x303's multi-probe LSH
# (probe MORE buckets on the same index) — here the knob is how many
# CELLS each query re-ranks. Both axes are exact integers; the whole
# frontier value-oracles via x263's full-replay technique.
# --------------------------------------------------------------------------
def _x306_oracle() -> str:
    blocks, finals = [], []
    for np_ in (1, 2, 4):
        blocks.append(f"""
    qa{np_} AS (
      SELECT query_id, centroid_id FROM (
        SELECT e.vec_id AS query_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
        WHERE e.vec_id < 10
      ) WHERE rn <= {np_}
    ), cand{np_} AS (
      SELECT DISTINCT qa.query_id, ca.neighbor_id
      FROM qa{np_} qa JOIN ca ON ca.centroid_id = qa.centroid_id
      WHERE qa.query_id != ca.neighbor_id
    ), approx{np_} AS (
      SELECT query_id, neighbor_id FROM (
        SELECT c.query_id, c.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                 ORDER BY {_COSINE_FOLD.format(a='qe.v', b='ce.v')} / (qe.nrm * ce.nrm) DESC,
                          c.neighbor_id) AS rank
        FROM cand{np_} c
        JOIN e qe ON qe.vec_id = c.query_id
        JOIN e ce ON ce.vec_id = c.neighbor_id
      ) WHERE rank <= 5
    )""")
        finals.append(f"""
      SELECT * FROM (
        SELECT CAST({np_} AS BIGINT) AS nprobe,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{np_}) AS n_candidates,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM approx{np_} a
                JOIN exact x ON x.query_id = a.query_id
                            AND x.neighbor_id = a.neighbor_id) AS n_hits
      )""")
    sweep = ",".join(blocks)
    union = "\n      UNION ALL\n".join(finals)
    return f"""
    WITH e0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), e AS (SELECT * FROM e0 WHERE nrm > 0),
    cent AS (
      SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
      FROM e WHERE {_bucket_sql('vec_id', 7)} < 300
    ),
    ca AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT e.vec_id AS neighbor_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='e.v', b='cent.cv')} / (e.nrm * cent.cnrm) DESC,
                          cent.centroid_id) AS rn
        FROM e CROSS JOIN cent
      ) WHERE rn = 1
    ),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qe.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='qe.v', b='ce.v')} / (qe.nrm * ce.nrm) DESC,
                          ce.vec_id) AS rank
        FROM e qe JOIN e ce ON ce.vec_id != qe.vec_id
        WHERE qe.vec_id < 10
      ) WHERE rank <= 5
    ),{sweep}
    SELECT nprobe, n_candidates, n_hits,
           CAST(n_hits * 1000 // 50 AS BIGINT) AS recall_pm
    FROM ({union})
    ORDER BY nprobe
    """


@harness_query("x306_ivf_nprobe_frontier", oracle=_x306_oracle())
def x306_ivf_nprobe_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass nested-probe form: probe sets at
    # nprobe ∈ {1,2,4} are prefixes of the same ranked probe list and
    # every corpus vector lives in exactly one cell, so ONE corpus
    # assignment + ONE candidate-scoring pass at nprobe=4, tagged with
    # each candidate's probe rank, yields all three frontier rows via a
    # probe_rank <= p filter — ~3× less work than the former
    # one-full-IVF-search-per-setting loop, same oracle (the registered
    # SQL replays each setting independently and must agree).
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # the exact ground truth and the scored candidate set each feed all
    # three frontier branches; both are bounded by construction
    # (10 queries × k rows; 10 queries × ≤4 cells of candidates) but
    # their LINEAGE (one GEMM ranking, one IVF assignment+scoring) is
    # expensive — localize instead of lazy-caching so the lineage runs
    # exactly once instead of stampeding under the three concurrent
    # frontier branches (a lazy cache re-executes its child in every
    # branch that starts before the first one materializes it)
    exact = localize(
        similarity.brute_force_topk(emb, q).select("query_id", "neighbor_id")
    )
    # candidate rows = |queries| x probed-cell occupancy, which is
    # data-DEPENDENT (clustered embeddings can overfill hot cells), so
    # overflow falls back to an eager scoped cache instead of raising
    scored = localize(
        similarity.ivf_candidates_ranked(emb, q),
        on_overflow="cache",
    )
    out = None
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    for np_ in (1, 2, 4):
        sub = scored.filter(F.col("probe_rank") <= np_)
        approx = (
            sub.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        cand_n = sub.agg(F.count(F.lit(1)).alias("n_candidates"))
        hits = exact.join(approx, ["query_id", "neighbor_id"], "left").agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits")
        )
        row = cand_n.crossJoin(hits).select(
            F.lit(np_).cast("long").alias("nprobe"),
            "n_candidates",
            "n_hits",
            F.expr("CAST(n_hits * 1000 div 50 AS BIGINT)").alias("recall_pm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("nprobe")

# --------------------------------------------------------------------------
# q46 (ex-x307, promoted in the round-7 rotation) — next-event Markov
# predictor accuracy: train the event-transition
# model on a 90% hash split of per-user event transitions and measure
# top-1 accuracy on the held-out 10% — the baseline every sequence
# model must beat, with the argmax encoded as a lpad'd (count DESC,
# type ASC) string MIN (the house codegen-safe argmax; count envelope
# < 10⁹ documented). Unseen-prev test transitions predict NULL and
# score as misses. Everything is integer counts + string ops — the
# whole scorecard value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "q46_markov_next_event_accuracy",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ), tr AS (
      SELECT prev, event_type AS nxt, event_id
      FROM seq WHERE prev IS NOT NULL
    ), train AS (
      SELECT * FROM tr WHERE {_bucket_sql('event_id', 11)} < 9000
    ), test AS (
      SELECT * FROM tr WHERE {_bucket_sql('event_id', 11)} >= 9000
    ), counts AS (
      SELECT prev, nxt, COUNT(*) AS cnt FROM train GROUP BY 1, 2
    ), model AS (
      SELECT prev,
             substr(MIN(lpad(CAST(999999999 - cnt AS VARCHAR), 10, '0')
                        || nxt), 11) AS predicted
      FROM counts GROUP BY 1
    )
    SELECT t.prev,
           MIN(m.predicted) AS predicted,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN m.predicted = t.nxt THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN m.predicted = t.nxt THEN 1 ELSE 0 END) * 1000
                // COUNT(*) AS BIGINT) AS acc_pm
    FROM test t LEFT JOIN model m ON m.prev = t.prev
    GROUP BY t.prev ORDER BY t.prev
    """,
)
def q46_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select(
            "event_id",
            F.col("event_type").alias("nxt"),
            F.lag("event_type").over(w).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .withColumn("bucket", hash_bucket("event_id", 11))
    )
    counts = (
        tr.filter(F.col("bucket") < 9000)
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    model = counts.groupBy("prev").agg(
        F.expr(
            "substr(MIN(concat(lpad(CAST(999999999 - cnt AS STRING), 10, '0'),"
            " nxt)), 11)"
        ).alias("predicted")
    )
    test = tr.filter(F.col("bucket") >= 9000)
    return (
        test.join(F.broadcast(model), "prev", "left")
        .groupBy("prev")
        .agg(
            F.min("predicted").alias("predicted"),
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("predicted") == F.col("nxt"), 1).otherwise(0)
            ).cast("long").alias("n_correct"),
            F.expr(
                "CAST(SUM(CASE WHEN predicted = nxt THEN 1 ELSE 0 END) * 1000"
                " div COUNT(1) AS BIGINT)"
            ).alias("acc_pm"),
        )
        .orderBy("prev")
    )


# x317's exact n-gram Jaccard SQL: the pair set the x114 invariants below
# are checked against.
_X317_SQL_BODY = _HARNESS["x317_ngram_jaccard_exact"][1]


# --------------------------------------------------------------------------
# x114 — the xxhash64 MinHash-LSH fast path, self-verifying invariant
# form (round 9; rows-only through round 8). The pair SET an
# xxhash-banded LSH emits is hash-dependent (recall varies with the
# banding's collisions), so it can never value-oracle directly — but
# its two CORRECTNESS invariants can: (1) every emitted pair verifies
# exact-Jaccard ≥ t, so the output must be a SUBSET of the exact pair
# set (LSH has false negatives, never false positives); (2) each
# emitted pair's jaccard must equal the exact computation's value for
# that pair. One full-outer join against the exact pair set counts the
# exact pairs (engine-independent — the oracle recomputes them with
# x317's SQL) and both violation classes (zero by construction; a
# broken fast path makes either nonzero and fails the value hash).
# Never-vacuous: the Spark side genuinely runs the xxhash LSH and
# compares every emitted pair. Recall itself stays unoracled by design
# (documented hash-dependence); the md5 twin q19 oracles the full
# pipeline bit-for-bit.
# --------------------------------------------------------------------------
@harness_query(
    "x114_minhash_lsh_xxhash",
    oracle=f"""
    WITH exact AS ({_X317_SQL_BODY})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(0 AS BIGINT) AS n_nonpair_emitted,
           CAST(0 AS BIGINT) AS n_jaccard_mismatch
    FROM exact
    """,
)
def x114_minhash_lsh_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    lsh = dedup.minhash_lsh_pairs(docs).select(
        "id_a", "id_b", F.col("jaccard").alias("j_lsh")
    )
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.2).select(
        "id_a", "id_b", F.col("jaccard").alias("j_exact")
    )
    joined = lsh.join(exact, ["id_a", "id_b"], "full_outer")
    return joined.agg(
        F.coalesce(
            F.sum(F.when(F.col("j_exact").isNotNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_exact_pairs"),
        F.coalesce(
            F.sum(F.when(F.col("j_exact").isNull(), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("n_nonpair_emitted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("j_lsh").isNotNull()
                    & F.col("j_exact").isNotNull()
                    & (F.col("j_lsh") != F.col("j_exact")),
                    1,
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_jaccard_mismatch"),
    )


# --------------------------------------------------------------------------
# q33 — IVFADC with FIXED index budgets (round-6 sf10 finding;
# driver-checked slot since the round-7 rotation): the hash-fraction
# configuration (now x318, the declared baseline) samples BOTH the
# coarse-quantizer cells and the PQ codebook as FRACTIONS of the corpus,
# so nlist and |codebook| grow linearly with n and assignment/encode are
# O(fraction·n²) — measured 257 s at sf10, with the PQ encode against a
# 6,000-codeword book the dominant 264 s term. Real deployments fix both
# budgets (Jégou et al. use 256-codeword books regardless of corpus
# size). q33 runs the identical composition with nlist ≤ 512 and
# |codebook| ≤ 256 — each the lowest-id vectors of the same hash sample,
# so the cap is ONE TakeOrderedAndProject and stays expressible in a
# static SQL oracle (ORDER BY id LIMIT k): sf10 drops 257 s → 17.9 s
# with the value oracle intact. At sf0.01 the sample is smaller than
# both caps, so q33 ≡ x318 there — the oracle proves the capped code
# path bit-identical in the no-op regime.
# --------------------------------------------------------------------------
_Q33_ORACLE = _HARNESS["x318_pq_ivf_hash_fraction"][1].replace(
    "SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm\n"
    "      FROM e WHERE {b7} < 300".format(b7=_bucket_sql("vec_id", 7)),
    "SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm\n"
    "      FROM e WHERE {b7} < 300 ORDER BY vec_id LIMIT 512".format(
        b7=_bucket_sql("vec_id", 7)
    ),
).replace(
    "SELECT vid AS code, v FROM pe WHERE {b13} < 300".format(
        b13=_bucket_sql("vid", 13)
    ),
    "SELECT vid AS code, v FROM pe WHERE {b13} < 300 ORDER BY vid LIMIT 256".format(
        b13=_bucket_sql("vid", 13)
    ),
)
assert "LIMIT 512" in _Q33_ORACLE and "LIMIT 256" in _Q33_ORACLE


@harness_query("q33_pq_ivf_ann_topk", oracle=_Q33_ORACLE)
def q33_pq_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.pq_ivf_topk(emb, queries, dim=64, max_cells=512, codebook_size=256)


_X321_SAMPLE_N = 200
_X321_SALT = 17


@harness_query(
    "q31_int8_recall_gt_sampled",
    oracle=f"""
    WITH fe_full AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), fe AS (
      SELECT * FROM fe_full
      {sampling_ops.hash_sample_n_sql('vec_id', _X321_SAMPLE_N, _X321_SALT)}
    ), fq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM fe_full WHERE vec_id < 10
    ), ftop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT fq.query_id, fe.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY fq.query_id
                 ORDER BY {_COSINE_FOLD.format(a='qv', b='v')} / (fq.qnrm * fe.nrm) DESC,
                          fe.vec_id) AS rank
        FROM fq JOIN fe ON fe.vec_id != fq.query_id
      ) WHERE rank <= 5
    ), qe0 AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor((x / nrm) * 127.0 + 0.5) AS DOUBLE)) AS v
      FROM fe WHERE nrm > 0 AND isfinite(nrm)
    ), qe AS (
      SELECT vec_id, v,
             sqrt({_COSINE_FOLD.format(a='v', b='v')}) AS nrm
      FROM qe0
    ), qq0 AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor((x / nrm) * 127.0 + 0.5) AS DOUBLE)) AS v
      FROM fe_full WHERE nrm > 0 AND isfinite(nrm) AND vec_id < 10
    ), qq AS (
      SELECT vec_id AS query_id, v AS qv,
             sqrt({_COSINE_FOLD.format(a='v', b='v')}) AS qnrm
      FROM qq0
    ), qtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT qq.query_id, qe.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qq.query_id
                 ORDER BY {_COSINE_FOLD.format(a='qv', b='v')} / (qq.qnrm * qe.nrm) DESC,
                          qe.vec_id) AS rank
        FROM qq JOIN qe ON qe.vec_id != qq.query_id
        WHERE qe.nrm > 0 AND qq.qnrm > 0
      ) WHERE rank <= 5
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST((COUNT(t.neighbor_id) * 1000) // 5 AS BIGINT) AS recall_pm
    FROM ftop f LEFT JOIN qtop t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def q31_int8_recall_gt_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _int8_recall_eval(
        spark, sf_dir, corpus_sample_n=_X321_SAMPLE_N, salt=_X321_SALT
    )


# --------------------------------------------------------------------------
# q13 (ex-x322, promoted in the round-8 rotation; the slot's former
# computation is x323_repetition_signals) — PAIR-COVERAGE-AWARE
# sample-bounded near-dup detector agreement
# (the revision of a uniform-sample form).
# Round 7's version hash-sampled DOCUMENTS uniformly; a uniform sample
# catches a dup pair only when BOTH members land in it, so a fixed tiny
# sample over a huge corpus yields zero pairs and a vacuous (NULL)
# agreement number. This form samples dup COMPONENTS, then their
# members:
#
#   1. band components — (band, bucket) groups of the md5-MinHash LSH
#      banding with ≥2 docs (ONE linear pass over the corpus: exactly
#      the LSH detector's own candidate-index stage, amortizable
#      against a production LSH index);
#   2. a deterministic fixed-size hash sample of components
#      (hash_sample_n over band·2³¹+bucket; COMP_N=8 binds at sf0.01's
#      82 components), keeping MEMBER_CAP=2 lowest-id member docs each;
#   3. the eval universe = those members ∪ a uniform hash_sample_n doc
#      sample (BASE_N=200, binding at sf0.01's 500 docs — keeps the
#      universe representative, not just dup-seeded).
#
# The agreement compares the EXACT detector's verified pairs against
# the LSH front end's CANDIDATE pairs over the universe (the verified
# LSH output is a subset of the exact output by construction — both
# verify with the same exact Jaccard — so the r7 metric degenerated to
# recall-only). Bucket membership is a pure function of document text,
# so both kept members of a sampled component still share their bucket
# inside the universe: ANY sample containing ≥1 component contains ≥1
# candidate pair, the pair-set union is ≥1, and the NULLIF guard on
# pairset_jaccard_ppm is structurally unreachable (it remains only for
# a corpus with zero components anywhere, where NULL is the right
# answer). The expensive O(Σdf²) exact side stays bounded by the fixed
# universe size — the flat-cost contract this slot pins.
# --------------------------------------------------------------------------
_X322_BASE_N = 200
_X322_BASE_SALT = 23
_X322_COMP_N = 8
# salt chosen so the COMP_N=8 sample at sf0.01 includes one of the four
# size-3 components (of 82 total) — MEMBER_CAP=2 then BINDS at the
# oracle sf (the x316/x321 lesson: capacity caps must be exercised
# where the oracle can see them bind)
_X322_COMP_SALT = 33
_X322_MEMBER_CAP = 2

_X322_ORACLE = f"""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), sh_all AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS shingle
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 2
    ), h AS (
      SELECT doc_id, shingle, {MD5_HASH31_SQL.format(s='shingle')} AS hs
      FROM sh_all
    ), sig AS (
      SELECT doc_id, {_Q19_MINS} FROM h GROUP BY doc_id
    ), bandrows AS (
      {_Q19_BANDS}
    ), comp AS (
      SELECT band, bucket, band * 2147483648 + bucket AS comp_key
      FROM bandrows GROUP BY band, bucket HAVING COUNT(*) >= 2
    ), comp_s AS (
      SELECT band, bucket FROM comp
      {sampling_ops.hash_sample_n_sql('comp_key', _X322_COMP_N, _X322_COMP_SALT)}
    ), members AS (
      SELECT doc_id FROM (
        SELECT b.doc_id,
               ROW_NUMBER() OVER (PARTITION BY b.band, b.bucket
                                  ORDER BY b.doc_id) AS rn
        FROM bandrows b JOIN comp_s USING (band, bucket)
      ) WHERE rn <= {_X322_MEMBER_CAP}
    ), base AS (
      SELECT doc_id FROM documents
      {sampling_ops.hash_sample_n_sql('doc_id', _X322_BASE_N, _X322_BASE_SALT)}
    ), ids AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id FROM base UNION ALL SELECT doc_id FROM members
      )
    ), sh AS (
      SELECT s.* FROM sh_all s JOIN ids USING (doc_id)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), e AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    ), brows_u AS (
      SELECT b.* FROM bandrows b JOIN ids USING (doc_id)
    ), cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM brows_u x JOIN brows_u y
        ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
    ), i AS (
      SELECT COUNT(*) AS n_common FROM e JOIN cand USING (id_a, id_b)
    ), szs AS (
      SELECT (SELECT COUNT(*) FROM e) AS n_exact,
             (SELECT COUNT(*) FROM cand) AS n_cand
    )
    SELECT CAST(szs.n_exact AS BIGINT) AS n_exact,
           CAST(szs.n_cand AS BIGINT) AS n_cand,
           CAST(i.n_common AS BIGINT) AS n_common,
           CAST(i.n_common * 1000 // NULLIF(szs.n_exact, 0) AS BIGINT)
             AS cand_recall_pm,
           CAST(i.n_common * 1000000
                // NULLIF(szs.n_exact + szs.n_cand - i.n_common, 0) AS BIGINT)
             AS pairset_jaccard_ppm
    FROM i CROSS JOIN szs
    """


@harness_query("q13_near_dup_overlap_sampled", oracle=_X322_ORACLE)
def q13_near_dup_overlap_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # one linear banding pass feeds component discovery, member pick,
    # and the universe's candidate pairs — size-conditionally cached
    # (dedup._cache_if_corpus_scale): at toy scale ReuseExchange +
    # per-branch band explodes win; at corpus scale the triple banding
    # recompute dominates (sf10: 32.2 s uncached vs 20.9 s cached warm)
    bands_all = dedup._cache_if_corpus_scale(
        dedup.minhash_band_rows_md5(docs), docs
    )
    comp = (
        bands_all.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .withColumn(
            "comp_key",
            F.col("band").cast("long") * F.lit(2147483648) + F.col("bucket"),
        )
    )
    comp_s = sampling_ops.hash_sample_n(
        comp, "comp_key", _X322_COMP_N, salt=_X322_COMP_SALT
    )
    wm = Window.partitionBy("band", "bucket").orderBy("sid")
    members = (
        bands_all.join(F.broadcast(comp_s.select("band", "bucket")), ["band", "bucket"])
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _X322_MEMBER_CAP)
        .select(F.col("sid").alias("doc_id"))
    )
    base = sampling_ops.hash_sample_n(
        docs, "doc_id", _X322_BASE_N, salt=_X322_BASE_SALT
    ).select("doc_id")
    # the sampled id universe is bounded by construction
    # (base_n + comp_n x member_cap rows) and feeds three joins —
    # localize it so the sampling lineage runs once
    ids = localize(base.unionByName(members).distinct())
    universe = docs.join(F.broadcast(ids), "doc_id")
    # e and cand are distinct-topped (exchange-topped), so their shared
    # subtrees dedupe via ReuseExchange without a cache. corpus_cache=False:
    # the universe is a ~(base_n + comp_n x member_cap)-doc sample, so the
    # shingle frame is toy-regime regardless of the SOURCE scan size the
    # auto gate would read.
    e = dedup.ngram_jaccard_pairs(
        universe, threshold=0.2, corpus_cache=False
    ).select("id_a", "id_b")
    # Band rows of the UNIVERSE via a fresh banding pass over the
    # ~(base_n + comp_n × member_cap)-doc sample instead of re-deriving
    # the CORPUS-wide banding and filtering it (push the sample before
    # the pair generation). A band bucket is
    # a pure function of the document text, so banding the sampled docs
    # yields bit-identical (sid, band, bucket) rows to filtering the
    # corpus banding — but the candidate branches' cost now scales with
    # the SAMPLE (two ~210-doc signature passes) rather than re-running
    # the corpus tokenize+md5+16-min aggregate once per self-join side
    # wherever bands_all is uncached (guide §6: push the filter to the
    # source).
    bands_u = dedup.minhash_band_rows_md5(universe)
    cand = (
        bands_u.alias("x")
        .join(bands_u.alias("y"), ["band", "bucket"])
        .filter(F.col("x.sid") < F.col("y.sid"))
        .select(F.col("x.sid").alias("id_a"), F.col("y.sid").alias("id_b"))
        .distinct()
    )
    # ONE full-outer join computes n_exact, n_cand and the overlap in a
    # single pass — the former three-consumer shape (e⋈cand, count(e),
    # count(cand)) re-executed the exact-pair and candidate lineages
    # per consumer because their count-only branches prune every column
    # and so cannot share exchanges with the join branch (measured as a
    # 12x CPU regression by the bench guard when the frames lost their
    # caches; this shape needs neither cache nor reuse)
    stats = (
        e.withColumn("in_e", F.lit(1))
        .join(
            cand.withColumn("in_c", F.lit(1)), ["id_a", "id_b"], "full_outer"
        )
        .agg(
            F.count("in_e").alias("n_exact"),
            F.count("in_c").alias("n_cand"),
            F.count(F.when(F.col("in_e").isNotNull() & F.col("in_c").isNotNull(), 1)).alias(
                "n_common"
            ),
        )
    )
    return (
        stats
        .selectExpr(
            "cast(n_exact AS bigint) AS n_exact",
            "cast(n_cand AS bigint) AS n_cand",
            "cast(n_common AS bigint) AS n_common",
            "n_common * 1000 div nullif(n_exact, 0) AS cand_recall_pm",
            "n_common * 1000000 div nullif(n_exact + n_cand - n_common, 0)"
            " AS pairset_jaccard_ppm",
        )
    )


# --------------------------------------------------------------------------
# Persisted-index lifecycle queries: the operators/ann_index.py module
# was verified only by pytest bit-equality and scale timings; these
# register its
# full lifecycle — build → ensure (fingerprint hit, NO re-encode) →
# search, plus the O(batch) update faces — in the value-oracled
# registry, so the persisted paths are checked at every gate exactly
# like the in-plan q33/x125/x263 twins whose SQL their oracles reuse
# (the searches are bit-identical to the in-plan operators by
# construction — tests/test_ann_index.py pins each pair).
#
# Index directories are process-scoped scratch (pid-keyed under the
# system temp dir, removed atexit): concurrent gate processes never
# share a half-written index, while WITHIN a process repeat executions
# take the fingerprint-keyed reuse path — bench's warm runs therefore
# time what a deployment times (fingerprint scan + search), not the
# one-off encode GEMM.
# --------------------------------------------------------------------------


def _index_scratch(query_key: str, sf_dir: str) -> str:
    import atexit
    import os
    import re
    import shutil
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"ssdw_idx_v1_{os.getpid()}")
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return os.path.join(
        root, query_key, re.sub(r"[^A-Za-z0-9._-]+", "_", sf_dir)
    )


# The persisted PQ index ships with the q33 fixed budget (codebook
# capped at 256): the oracle is x125's unbounded-ADC SQL with the same
# ORDER BY vid LIMIT cap spliced into the codebook CTE (the q33
# technique) so it stays exact at every sf, not only where the cap is
# a no-op.
_PQ_CB_UNCAPPED = "SELECT vid AS code, v FROM e WHERE {b13} < 300".format(
    b13=_bucket_sql("vid", 13)
)
_Q20_ORACLE = _HARNESS["x125_pq_ann_topk"][1].replace(
    _PQ_CB_UNCAPPED, _PQ_CB_UNCAPPED + " ORDER BY vid LIMIT 256", 1
)
assert "LIMIT 256" in _Q20_ORACLE


@harness_query("q20_pq_index_lifecycle", oracle=_Q20_ORACLE)
def q20_pq_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build-if-absent → ensure (must report rebuilt=False: the reuse
    contract — the only corpus-wide work on this path is the
    fingerprint scan) → ADC search over the stored codes."""
    from super_store_datawarehouse_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_scratch("pq_lifecycle", sf_dir)
    budget = dict(m=4, dim=64, codebook_buckets=300, salt=13, codebook_size=256)
    ann_index.pq_index_ensure(emb, path, **budget)  # builds on first run
    hit = ann_index.pq_index_ensure(emb, path, **budget)
    if hit["rebuilt"]:
        raise AssertionError(
            "pq_index_ensure re-encoded an unchanged corpus — the "
            "fingerprint reuse contract is broken"
        )
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_index.pq_index_search(spark, path, queries)


# Composed IVFADC lifecycle at exactly q33's fixed budgets — the oracle
# IS q33's SQL (the persisted search is bit-identical to the in-plan
# pq_ivf_topk at the same budgets; pinned by
# tests/test_ann_index.py::test_ivfadc_index_search_equals_in_plan_pq_ivf_topk).
@harness_query("x331_ivfadc_index_lifecycle", oracle=_HARNESS["q33_pq_ivf_ann_topk"][1])
def x331_ivfadc_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_scratch("ivfadc_lifecycle", sf_dir)
    budget = dict(
        m=4,
        dim=64,
        codebook_buckets=300,
        salt=13,
        codebook_size=256,
        centroid_fraction=0.03,
        centroid_salt=7,
        max_cells=512,
    )
    ann_index.ivfadc_index_ensure(emb, path, **budget)  # builds on first run
    hit = ann_index.ivfadc_index_ensure(emb, path, **budget)
    if hit["rebuilt"]:
        raise AssertionError(
            "ivfadc_index_ensure rebuilt an unchanged (corpus, budget) — "
            "the two-half reuse contract is broken"
        )
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_index.ivfadc_index_search(spark, path, queries)


# IVF update round-trip: build on the EVEN-id half (centroids frozen
# from that half's hash sample), append the odd half as an O(batch)
# update against the frozen quantizer, then search the full index.
# The oracle is x263's SQL with the centroid CTE restricted to the
# build half — the update's assignment arithmetic is the build's, so
# "assign odd ids at update time" ≡ "assign all ids against the
# even-half centroids", which is exactly what the modified SQL states.
_X332_CENT = "FROM e WHERE {b7} < 300".format(b7=_bucket_sql("vec_id", 7))
_X332_ORACLE = _HARNESS["x263_ivf_ann_topk"][1].replace(
    _X332_CENT, _X332_CENT + " AND vec_id % 2 = 0", 1
)
assert "AND vec_id % 2 = 0" in _X332_ORACLE


@harness_query("x332_ivf_index_update_roundtrip", oracle=_X332_ORACLE)
def x332_ivf_index_update_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_scratch("ivf_update", sf_dir)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    # build is mode=overwrite, so re-executions of this builder reset
    # the cells table before re-appending — never a double append
    ann_index.ivf_index_build(even, path, fraction=0.03, salt=7)
    appended = ann_index.ivf_index_update(spark, path, odd)
    if not appended:
        raise AssertionError("ivf_index_update appended no rows for a non-empty batch")
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_index.ivf_index_search(spark, path, queries)


# PQ update round-trip: codes encoded under the even-half's FROZEN
# codebook, odd half appended, then ensure() over the GROWN corpus must
# hit — this is the registry-level proof that the incremental XOR
# fingerprint (fp ⊕ xor(batch)) equals the full recomputation, the
# property pq_index_update's meta update rides on. Oracle: x125's SQL
# with the codebook CTE restricted to the build half (+ the fixed cap).
_X333_ORACLE = _HARNESS["x125_pq_ann_topk"][1].replace(
    _PQ_CB_UNCAPPED,
    _PQ_CB_UNCAPPED + " AND vid % 2 = 0 ORDER BY vid LIMIT 256",
    1,
)
assert "AND vid % 2 = 0" in _X333_ORACLE


@harness_query("x333_pq_index_update_roundtrip", oracle=_X333_ORACLE)
def x333_pq_index_update_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import ann_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = _index_scratch("pq_update", sf_dir)
    even = emb.filter(F.col("vec_id") % 2 == 0)
    odd = emb.filter(F.col("vec_id") % 2 == 1)
    budget = dict(m=4, dim=64, codebook_buckets=300, salt=13, codebook_size=256)
    ann_index.pq_index_build(even, path, **budget)  # overwrite: re-runs reset
    appended = ann_index.pq_index_update(spark, path, odd)
    if not appended:
        raise AssertionError("pq_index_update appended no rows for a non-empty batch")
    grown = ann_index.pq_index_ensure(emb, path, **budget)
    if grown["rebuilt"]:
        raise AssertionError(
            "incremental fingerprint diverged from the full recompute — "
            "ensure() re-encoded a corpus the index already contains"
        )
    queries = emb.filter(F.col("vec_id") < 10)
    return ann_index.pq_index_search(spark, path, queries)


# --------------------------------------------------------------------------
# q40 — mergeable quantile summary eval (ex-x334, promoted to the q40
# driver slot in the round-11 rotation; operators/sketches.py
# rank_compaction_summary): the sketch-family answer to "exact
# percentiles need a global sort" (reference parity has no sketch at
# all; the exact nearest-rank forms are this summary's ground-truth twins).
# Deterministic stratified rank compaction — Knuth-hash row routing to
# 32 strata, per-stratum sort, keep every 64th value — so BOTH engines
# replay the identical summary and the estimates value-oracle exactly,
# unlike randomized KLL/GK. The eval emits, per target percentile, the
# summary estimate, its TRUE rank (one counting pass, no global sort),
# the target rank, and the proven P·(k−1)+k crossing bound — so the oracle
# row certifies the rank guarantee itself, the contract a caller sizes
# (P, k) against at 100 TB (summary rows ≈ N/4096·2 ≈ flat).
# --------------------------------------------------------------------------
_X334_ROUTE = _knuth_sql("rk")


@harness_query(
    "q40_quantile_summary_eval",
    oracle=f"""
    WITH base AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey * 8 + l_linenumber AS rk
      FROM lineitem
    ), ranked AS (
      SELECT v, {_X334_ROUTE} % 32 AS b,
             ROW_NUMBER() OVER (PARTITION BY {_X334_ROUTE} % 32
                                ORDER BY v, rk) AS r,
             COUNT(*) OVER (PARTITION BY {_X334_ROUTE} % 32) AS n
      FROM base
    ), summ AS (
      SELECT b AS stratum, v AS value,
             CASE WHEN r % 64 = 0 THEN 64 ELSE n % 64 END AS weight
      FROM ranked
      WHERE r % 64 = 0 OR (r = n AND n % 64 <> 0)
    ), cum AS (
      SELECT value, stratum,
             SUM(weight) OVER (ORDER BY value, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             (SELECT SUM(weight) FROM summ) AS n_total
      FROM summ
    ), targets AS (
      SELECT 'p50' AS q, 50 AS pct
      UNION ALL SELECT 'p90', 90 UNION ALL SELECT 'p99', 99
    ), pick AS (
      SELECT t.q, t.pct,
             (SELECT MIN(value) FROM cum
               WHERE cw >= (t.pct * cum.n_total + 99) // 100) AS est,
             (SELECT MAX(n_total) FROM cum) AS n_total
      FROM targets t
      GROUP BY t.q, t.pct
    )
    SELECT p.q,
           CAST(p.est AS BIGINT) AS est_cents,
           CAST(p.n_total AS BIGINT) AS n_rows,
           CAST((p.pct * p.n_total + 99) // 100 AS BIGINT) AS target_rank,
           CAST((SELECT COUNT(*) FROM base WHERE v <= p.est) AS BIGINT)
             AS est_rank,
           CAST((SELECT COUNT(*) FROM base WHERE v <= p.est)
                - (p.pct * p.n_total + 99) // 100 AS BIGINT) AS rank_err,
           CAST(32 * 63 + 64 AS BIGINT) AS err_bound,
           (SELECT COUNT(*) FROM base WHERE v <= p.est)
               >= (p.pct * p.n_total + 99) // 100
             AND (SELECT COUNT(*) FROM base WHERE v <= p.est)
               - (p.pct * p.n_total + 99) // 100 < 32 * 63 + 64 AS within_bound
    FROM pick p
    ORDER BY p.q
    """,
)
def q40_quantile_summary_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
        summary_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
    )
    # deliberately UNCACHED: the read-off branches re-execute the
    # summary subtree, but ReuseExchange shares the one wide shuffle and
    # the branch recompute beats the cache's materialization tax here —
    # measured at sf10 (25.4 s uncached vs 31.7 s cached, round 10; the
    # §15 cache-strategy rule). x337's GROUPED build is the opposite
    # regime (cache wins 30.7→25.1 s) because its per-branch recompute
    # carries the extra group column through every window sort.
    summ = rank_compaction_summary(base, "v", "rk")
    ests = summary_quantiles(
        summ, [("p50", 50), ("p90", 90), ("p99", 99)]
    ).withColumn(
        "pct",
        F.when(F.col("q") == "p50", 50)
        .when(F.col("q") == "p90", 90)
        .otherwise(99),
    )
    # true rank of each estimate: ONE counting pass over the raw column
    # against the 3-row broadcast estimate frame — the eval leg needs no
    # global sort (that being the whole point of the summary)
    return (
        base.crossJoin(F.broadcast(ests))
        .groupBy("q", "est", "n_total", "pct")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias(
                "est_rank"
            )
        )
        .selectExpr(
            "q",
            "cast(est AS bigint) AS est_cents",
            "cast(n_total AS bigint) AS n_rows",
            "(pct * n_total + 99) div 100 AS target_rank",
            "cast(est_rank AS bigint) AS est_rank",
            "est_rank - (pct * n_total + 99) div 100 AS rank_err",
            "cast(32 * 63 + 64 AS bigint) AS err_bound",
            "est_rank >= (pct * n_total + 99) div 100"
            " AND est_rank - (pct * n_total + 99) div 100 < 32 * 63 + 64"
            " AS within_bound",
        )
        .orderBy("q")
    )


# --------------------------------------------------------------------------
# q15 — STREAMING quantile-summary state, value-oracled end-to-end
# (ex-x336, promoted to the q15 driver slot in the round-11 rotation):
# the first sink-family query whose oracle checks the streaming face's
# actual persisted STATE, not a batch twin (q22/x18 et al. are batch
# twins / rows-only vehicles). Possible because the sink's construction
# is deterministic given the micro-batch sequence: the query stages the
# events table as ONE parquet file in session scratch (so the file
# stream is exactly one micro-batch), runs
# stream_quantile_summary_to_parquet on it, and reads the state back —
# a single batch of weight-1 rows through weighted_rank_compaction IS
# rank_compaction_summary, so DuckDB replays the state bit-for-bit and
# the read-off certification (x334's form, with the sink's embedded
# err_unit/k_now live bound) value-oracles. Exactly-once markers,
# atomic swap, and lineage checks all execute inside the oracled path.
# --------------------------------------------------------------------------
@harness_query(
    "q15_stream_quantile_state",
    oracle=f"""
    WITH base AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS v, event_id AS rk
      FROM events
    ), ranked AS (
      SELECT v, {_knuth_sql("rk")} % 8 AS b,
             ROW_NUMBER() OVER (PARTITION BY {_knuth_sql("rk")} % 8
                                ORDER BY v, rk) AS r,
             COUNT(*) OVER (PARTITION BY {_knuth_sql("rk")} % 8) AS n
      FROM base
    ), summ AS (
      SELECT b AS stratum, v AS value,
             CAST(CASE WHEN r % 32 = 0 THEN 32 ELSE n % 32 END AS BIGINT)
               AS weight
      FROM ranked
      WHERE r % 32 = 0 OR (r = n AND n % 32 <> 0)
    ), cum AS (
      SELECT value, stratum,
             SUM(weight) OVER (ORDER BY value, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             (SELECT SUM(weight) FROM summ) AS n_total
      FROM summ
    ), targets AS (
      SELECT 'p50' AS q, 50 AS pct UNION ALL SELECT 'p90', 90
    ), pick AS (
      SELECT t.q, t.pct,
             (SELECT MIN(value) FROM cum
               WHERE cw >= (t.pct * cum.n_total + 99) // 100) AS est,
             (SELECT MAX(n_total) FROM cum) AS n_total
      FROM targets t GROUP BY t.q, t.pct
    )
    SELECT p.q,
           CAST(p.est AS BIGINT) AS est_cents,
           CAST(p.n_total AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS batches_applied,
           -- single batch at the initial step: err_unit = k−1, k_now = k
           CAST(31 AS BIGINT) AS err_unit,
           CAST(32 AS BIGINT) AS k_now,
           CAST((SELECT COUNT(*) FROM base WHERE v <= p.est)
                - (p.pct * p.n_total + 99) // 100 AS BIGINT) AS rank_err,
           (SELECT COUNT(*) FROM base WHERE v <= p.est)
               >= (p.pct * p.n_total + 99) // 100
             AND (SELECT COUNT(*) FROM base WHERE v <= p.est)
               - (p.pct * p.n_total + 99) // 100 < 8 * 31 + 32
             AS within_live_bound
    FROM pick p
    ORDER BY p.q
    """,
)
def q15_stream_quantile_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from super_store_datawarehouse_spark.operators.sketches import (
        summary_quantiles,
    )
    from super_store_datawarehouse_spark.streaming.jobs import (
        stream_quantile_summary_to_parquet,
    )

    scratch = _index_scratch("stream_qsum", sf_dir)
    shutil.rmtree(scratch, ignore_errors=True)
    src = os.path.join(scratch, "src")
    out = os.path.join(scratch, "state")
    ckpt = os.path.join(scratch, "ckpt")
    # stage the table as ONE file so the file stream is exactly one
    # micro-batch — the determinism contract the oracle replays
    load_table(spark, sf_dir, "events").coalesce(1).write.parquet(
        os.path.join(src, "events0.parquet"), mode="overwrite"
    )
    # the source glob expects events*.parquet FILES in a directory; the
    # single-part write above produces a directory, so point the stream
    # at a flat layout
    part_dir = os.path.join(src, "events0.parquet")
    part = [f for f in os.listdir(part_dir) if f.endswith(".parquet")][0]
    os.replace(os.path.join(part_dir, part), os.path.join(src, "events.parquet"))
    shutil.rmtree(part_dir)
    applied = stream_quantile_summary_to_parquet(
        spark, src, out, max_rows=1 << 62, checkpoint=ckpt
    )
    state = spark.read.parquet(out)
    meta = state.agg(
        F.max("err_unit").alias("err_unit"), F.max("k_now").alias("k_now")
    )
    ests = summary_quantiles(
        state.select("stratum", "value", "weight"),
        [("p50", 50), ("p90", 90)],
    ).withColumn("pct", F.when(F.col("q") == "p50", 50).otherwise(90))
    base = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("v")
    )
    return (
        base.crossJoin(F.broadcast(ests))
        .groupBy("q", "est", "n_total", "pct")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias(
                "est_rank"
            )
        )
        .crossJoin(F.broadcast(meta))
        .selectExpr(
            "q",
            "cast(est AS bigint) AS est_cents",
            "cast(n_total AS bigint) AS n_rows",
            f"cast({applied} AS bigint) AS batches_applied",
            "cast(err_unit AS bigint) AS err_unit",
            "cast(k_now AS bigint) AS k_now",
            "est_rank - (pct * n_total + 99) div 100 AS rank_err",
            "est_rank >= (pct * n_total + 99) div 100"
            " AND est_rank - (pct * n_total + 99) div 100"
            " < 8 * err_unit + k_now AS within_live_bound",
        )
        .orderBy("q")
    )


# --------------------------------------------------------------------------
# x337 — GROUPED quantile summary eval (operators/sketches.py
# grouped_rank_compaction_summary): the scale twin of the exact
# forms' declared few-groups ceiling. An exact window median funnels each
# l_returnflag group through ONE task's sort regardless of cluster
# size; the grouped summary spreads every group across P strata —
# 3 groups × 32 strata = 96 parallel sorts here — and answers from
# ≤ N/k rows per group afterwards. The oracle replays the grouped
# construction and certifies the per-group crossing bound
# (rank error < P·(k−1) + k WITHIN each group) against per-group
# counting passes.
# --------------------------------------------------------------------------
@harness_query(
    "x337_grouped_quantile_summary",
    oracle=f"""
    WITH base AS (
      SELECT l_returnflag AS grp,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey * 8 + l_linenumber AS rk
      FROM lineitem
    ), ranked AS (
      SELECT grp, v, {_X334_ROUTE} % 32 AS b,
             ROW_NUMBER() OVER (PARTITION BY grp, {_X334_ROUTE} % 32
                                ORDER BY v, rk) AS r,
             COUNT(*) OVER (PARTITION BY grp, {_X334_ROUTE} % 32) AS n
      FROM base
    ), summ AS (
      SELECT grp, b AS stratum, v AS value,
             CAST(CASE WHEN r % 64 = 0 THEN 64 ELSE n % 64 END AS BIGINT)
               AS weight
      FROM ranked
      WHERE r % 64 = 0 OR (r = n AND n % 64 <> 0)
    ), cum AS (
      SELECT grp, value, stratum,
             SUM(weight) OVER (PARTITION BY grp ORDER BY value, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(weight) OVER (PARTITION BY grp) AS n_group
      FROM summ
    ), targets AS (
      SELECT 'p50' AS q, 50 AS pct UNION ALL SELECT 'p90', 90
    ), pick AS (
      SELECT c.grp, t.q, t.pct, c.n_group, MIN(c.value) AS est
      FROM cum c CROSS JOIN targets t
      WHERE c.cw >= (t.pct * c.n_group + 99) // 100
      GROUP BY c.grp, t.q, t.pct, c.n_group
    ), certified AS (
      SELECT p.grp, p.q, p.pct, p.n_group, p.est,
             (SELECT COUNT(*) FROM base b
               WHERE b.grp = p.grp AND b.v <= p.est) AS est_rank
      FROM pick p
    )
    SELECT grp AS l_returnflag, q,
           CAST(est AS BIGINT) AS est_cents,
           CAST(n_group AS BIGINT) AS n_rows,
           CAST((pct * n_group + 99) // 100 AS BIGINT) AS target_rank,
           CAST(est_rank AS BIGINT) AS est_rank,
           CAST(est_rank - (pct * n_group + 99) // 100 AS BIGINT) AS rank_err,
           (est_rank >= (pct * n_group + 99) // 100
            AND est_rank - (pct * n_group + 99) // 100 < 32 * 63 + 64)
             AS within_bound
    FROM certified
    ORDER BY l_returnflag, q
    """,
)
def x337_grouped_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        grouped_rank_compaction_summary,
        grouped_summary_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("grp"),
        cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
    )
    # same single-execution policy as q40: the grouped read-off
    # branches per target over the summary subtree
    summ = scoped_cache(
        grouped_rank_compaction_summary(base, "grp", "v", "rk")
    )
    ests = grouped_summary_quantiles(summ, [("p50", 50), ("p90", 90)])
    # per-group certification: one counting pass joined to the
    # (groups × targets)-row estimate frame — broadcast by construction
    return (
        base.join(
            F.broadcast(ests), base["grp"] == ests["group"], "inner"
        )
        .groupBy("group", "q", "est", "n_group", "pct")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias(
                "est_rank"
            )
        )
        .selectExpr(
            "group AS l_returnflag",
            "q",
            "cast(est AS bigint) AS est_cents",
            "cast(n_group AS bigint) AS n_rows",
            "(pct * n_group + 99) div 100 AS target_rank",
            "cast(est_rank AS bigint) AS est_rank",
            "est_rank - (pct * n_group + 99) div 100 AS rank_err",
            "est_rank >= (pct * n_group + 99) div 100"
            " AND est_rank - (pct * n_group + 99) div 100"
            " < 32 * 63 + 64 AS within_bound",
        )
        .orderBy("l_returnflag", "q")
    )



"""Extension harness queries: LLM-data-pipeline operators over the
documents / embeddings / events tables (BASELINE.json north star — these
are first-class engine capabilities, not reference parity).

Oracle-able queries carry full DuckDB twins (integer-exact or
bit-exact-fold arithmetic); hash-based sketches (MinHash/SimHash/LSH)
are registered rows-only because xxhash64 has no DuckDB equivalent —
their correctness is covered by unit tests against the exact operators
they approximate.
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
    quality_components,
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
# deployment would run (x328_ngram_jaccard_dfcap, same pipeline with
# hot-shingle pruning); this exact form remains the ground-truth twin
# that x314/x220/q19 compose against.
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
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2)


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
    return dedup.minhash_lsh_pairs_md5(docs, threshold=0.2)


# x114_minhash_lsh_xxhash and x04_simhash_near_pairs — the two xxhash64
# sketch pipelines — were rows-only here through round 8. Round 9 closed
# the oracle gap (VERDICT r8 #4): x114 is now registered further down
# (after x317's SQL body, which its invariant oracle reuses) as a
# self-verifying subset-invariant eval, and x04 runs the pair pipeline
# over the PORTABLE simhash (next to x262, whose SQL fragments its
# oracle extends) with a brute-force oracle that also proves the
# 4-chunk banding lossless at hamming ≤ 3.


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
    return similarity.brute_force_topk(emb, queries, k=5)


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
# x07 — quality scoring components + keep/drop classification.
# --------------------------------------------------------------------------
@harness_query(
    "x330_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             length(text) AS n_chars,
             len(string_split(lower(trim(text)), ' ')) AS n_tokens,
             length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS n_punct,
             len(list_filter(string_split(lower(trim(text)), ' '), x -> x IN {EN_STOP_SQL})) AS n_stop
      FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
           CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
           CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio,
           (n_tokens >= 10 AND CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 12.0) AS keep
    FROM t
    """,
)
def x330_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import quality_keep

    docs = load_table(spark, sf_dir, "documents")
    comps = quality_components("text")
    return docs.select(
        "doc_id",
        comps["n_chars"].alias("n_chars"),
        comps["n_tokens"].alias("n_tokens"),
        comps["avg_token_len"].alias("avg_token_len"),
        comps["stopword_ratio"].alias("stopword_ratio"),
        comps["punct_ratio"].alias("punct_ratio"),
        quality_keep("text").alias("keep"),
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
        docs.select("doc_id", poly_fingerprint("text", 64).alias("fingerprint"))
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
# x13 — JSON property extraction from the events props column.
# --------------------------------------------------------------------------
@harness_query(
    "x13_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def x13_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(k).alias("total_k"),
            F.max(k).alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x14 — embedding cluster stats: per label, count + exact-cents sum of
# per-row squared norms (per-row folds are deterministic; cross-row sums
# go through the integer-micros trick like money cents).
# --------------------------------------------------------------------------
@harness_query(
    "x14_embedding_label_stats",
    oracle=f"""
    WITH e AS (
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), n AS (
      SELECT label, {_COSINE_FOLD.format(a='v', b='v')} AS norm_sq FROM e
    )
    SELECT label, COUNT(*) AS n_vectors,
           CAST(SUM(CAST(ROUND(norm_sq * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_norm_sq
    FROM n GROUP BY label ORDER BY label
    """,
)
def x14_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    norm_sq = similarity.dot(v, v)
    micros = F.round(norm_sq * 1000000).cast("long")
    return (
        emb.select("label", micros.alias("norm_micros"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("norm_micros").cast("double") / 1000000.0).alias("total_norm_sq"),
        )
        .orderBy("label")
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
    return similarity.lsh_topk(emb, queries, k=5)


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
    joined = salted_join(li, orders, on="o_orderkey", n_salts=8)
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


@harness_query(
    "x262_simhash_portable",
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
    )
    SELECT doc_id, {_X39_COMPOSE} AS simhash FROM b
    """,
)
def x262_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_portable(docs)


# --------------------------------------------------------------------------
# x04 — SimHash near-dup PAIRS, end-to-end value-oracled (round 9;
# rows-only through round 8). Runs the production pair pipeline
# (4-chunk pigeonhole band join + exact hamming verify,
# dedup.simhash_near_pairs) over the PORTABLE 32-bit signature x262
# proves bit-exact, at max_hamming=3 where the banding is provably
# LOSSLESS (4 chunks can absorb at most 3 differing bits while keeping
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
        max_hamming=3,
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
                chunk_words(F.col("__ws"), chunk_size=50, stride=40, presplit=True)
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
# x35 — explicit GROUPING SETS (beyond q24's CUBE / q03's ROLLUP): three
# chosen aggregation levels in one pass, with GROUPING() labels.
# --------------------------------------------------------------------------
@harness_query(
    "x35_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS flag,
           COALESCE(l_linestatus, 'ALL') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY flag, status
    """,
)
def x35_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("x35_lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               COUNT(*) AS n_lines,
               SUM(CAST(l_quantity AS BIGINT)) AS total_qty
        FROM x35_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        ORDER BY flag, status
        """
    )


# --------------------------------------------------------------------------
# x32 — column profiling (the data-quality first pass of any ingest):
# per-column row/null/distinct counts and min/max, one output row per
# profiled column.
# --------------------------------------------------------------------------
@harness_query(
    "x32_profile_lineitem",
    oracle="""
    SELECT 'l_quantity' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_quantity) AS n_nulls,
           COUNT(DISTINCT l_quantity) AS n_distinct,
           MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val
    FROM lineitem
    UNION ALL
    SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
           COUNT(DISTINCT l_discount), MIN(l_discount), MAX(l_discount)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice), MIN(l_extendedprice), MAX(l_extendedprice)
    FROM lineitem
    """,
)
def x32_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    profiles = []
    for c in ("l_quantity", "l_discount", "l_extendedprice"):
        profiles.append(
            li.agg(
                F.lit(c).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count(c)).alias("n_nulls"),
                F.countDistinct(c).alias("n_distinct"),
                F.min(c).alias("min_val"),
                F.max(c).alias("max_val"),
            )
        )
    out = profiles[0]
    for p in profiles[1:]:
        out = out.unionByName(p)
    return out


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
# x34 — regex extraction: brand number from the p_brand code, aggregated.
# --------------------------------------------------------------------------
@harness_query(
    "x34_regex_brand_numbers",
    oracle="""
    SELECT CAST(regexp_extract(p_brand, '#(\\d+)', 1) AS BIGINT) AS brand_num,
           COUNT(*) AS n_parts,
           COUNT(DISTINCT p_name) AS n_names
    FROM part GROUP BY 1 ORDER BY 1
    """,
)
def x34_regex_brand_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    brand_num = F.regexp_extract("p_brand", r"#(\d+)", 1).cast("long")
    return (
        part.groupBy(brand_num.alias("brand_num"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.countDistinct("p_name").alias("n_names"),
        )
        .orderBy("brand_num")
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
# x29 — sliding event-time windows (1h length, 30m slide): every event
# contributes to exactly two windows. The oracle derives both window
# starts from epoch arithmetic and unions them.
# --------------------------------------------------------------------------
@harness_query(
    "x29_sliding_windows",
    oracle="""
    WITH starts AS (
      SELECT event_type,
             make_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) AS s1,
             make_timestamp((CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800) * 1000000) AS s2
      FROM events
    ), exploded AS (
      SELECT event_type, s1 AS window_start FROM starts
      UNION ALL
      SELECT event_type, s2 AS window_start FROM starts
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM exploded GROUP BY 1, 2
    """,
)
def x29_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


# --------------------------------------------------------------------------
# x30 — approximate distinct (HyperLogLog++): the constant-memory path
# for COUNT(DISTINCT) at 100 TB. Sketch internals are engine-specific,
# so the estimate itself can never cross-engine value-oracle — but its
# ERROR CONTRACT can (round 9; rows-only through round 8): the query
# emits the exact distinct count (oracled against DuckDB's COUNT
# DISTINCT) and a per-group verdict that the HLL++ estimate lies within
# 3×rsd of it (rsd=0.02 → ±6%, the standard 3-sigma bound for HLL's
# near-Gaussian error; Spark's implementation is deterministic per
# dataset and measured ≤0.6% worst-group on sf0.001-sf1 here). A broken
# sketch flips
# the verdict to false and fails the value hash. Never-vacuous: the
# Spark side genuinely computes both aggregates and the comparison; the
# integer form (100·|Δ| ≤ 6·exact) keeps the verdict float-free.
# --------------------------------------------------------------------------
@harness_query(
    "x30_approx_distinct_users",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_3rsd
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x30_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")) * 100
                <= F.col("exact_users") * 6
            ).alias("within_3rsd"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x25 — exact per-group median via rank windows (not approx_percentile):
# the two middle ranks of the integer-cents ordering average exactly the
# same way in both engines, unlike engine-specific quantile interpolation.
# --------------------------------------------------------------------------
# Scan size above which x265 switches from the row-level window median
# to the count-based selection. The count-based form pre-aggregates to
# (group, distinct cents) — a win exactly when rows meaningfully exceed
# the ~594k-value price domain. Measured crossover (round 12, equal
# epochs): sf0.1 (10.8 MB scan, dedup ratio 1.01) window 1.45 s vs
# count-based 3.89 s; sf1 (140 MB, ratio 10.1) window 8.93 s vs
# count-based 2.06 s (4.3×, executor CPU 29.8 s → 14.9 s). 32 MB sits
# between (ratio ~3), where the pre-agg's extra exchange has paid off.
_X265_COUNTED_MEDIAN_MIN_SRC_BYTES = 32 * 1024 * 1024


def _scan_bytes(df: DataFrame) -> int | None:
    """Total bytes of a DataFrame's backing file scan (local files),
    or None for non-file frames."""
    import os

    try:
        files = [
            f[len("file:"):] if f.startswith("file:") else None
            for f in df.inputFiles()
        ]
        if not files or any(f is None for f in files):
            return None
        return sum(os.path.getsize(os.path.normpath(f)) for f in files)
    except Exception:
        return None


@harness_query(
    "x265_group_median_price",
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
def x265_group_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact group median, size-adaptive formulation (round-12,
    VERDICT r11 #5).

    Corpus-scale path — COUNT-BASED selection: a partial-combining hash
    agg to (group, cents) → count (guide §2.3 "aggregate before you
    shuffle"), then cumulative counts over the DISTINCT cents values
    per group locate the two middle ranks. The few-groups sort funnel's
    input is bounded by the price domain (~594k distinct cents at every
    sf ≥ 1 — fixed at ANY corpus size), not the row count, and shuffle
    bytes collapse from O(rows) to O(distinct). Measured 4.3× at sf1
    (8.93 s → 2.06 s, CPU 2×); the win grows with corpus size.

    Toy-scale path — the row_number window (one hash shuffle on the
    group key): below the measured crossover the dedup ratio is ~1, so
    the pre-agg's extra exchange + window is pure overhead (measured 2×
    LOSS at sf0.1). The size gate picks per input, same idiom as
    dedup._cache_if_corpus_scale. Both paths produce bit-identical
    rows (the count-based middle ranks select the same cents values and
    run the IDENTICAL final arithmetic; both oracle-checked).

    x338_selection_median (ex-q40) keeps the range-partitioned parallel
    per-ROW ranking twin (operators/selection.py);
    x337_grouped_quantile_summary is the sketch-side twin."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select("l_returnflag", cents("l_extendedprice").alias("cents"))
    w = Window.partitionBy("l_returnflag")
    size = _scan_bytes(li)
    if size is not None and size >= _X265_COUNTED_MEDIAN_MIN_SRC_BYTES:
        counts = c.groupBy("l_returnflag", "cents").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        cum = (
            counts.withColumn("hi", F.sum("cnt").over(w.orderBy("cents")))
            .withColumn("n", F.sum("cnt").over(w))
            .withColumn("lo", F.col("hi") - F.col("cnt") + 1)
        )
        # one row per DISTINCT middle rank ((n+1) div 2, (n+2) div 2 —
        # equal when n is odd), matching the window form's matched rows
        mid = cum.select(
            "l_returnflag",
            "cents",
            "n",
            "lo",
            "hi",
            F.explode(
                F.array_distinct(
                    F.array(F.expr("(n + 1) div 2"), F.expr("(n + 2) div 2"))
                )
            ).alias("rk"),
        ).filter((F.col("lo") <= F.col("rk")) & (F.col("rk") <= F.col("hi")))
    else:
        ranked = c.withColumn(
            "rn", F.row_number().over(w.orderBy("cents"))
        ).withColumn("n", F.count(F.lit(1)).over(w))
        mid = ranked.filter(
            (F.col("rn") == F.expr("(n + 1) div 2"))
            | (F.col("rn") == F.expr("(n + 2) div 2"))
        )
    return (
        mid.groupBy("l_returnflag")
        .agg(
            (F.sum("cents").cast("double") / F.count(F.lit(1)) / 100.0).alias(
                "median_price"
            ),
            F.max("n").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# x23 — deterministic train/val/test split (operators/sampling.py):
# Knuth-multiplicative bucket ranges; the oracle reproduces the split
# with the identical integer arithmetic, proving cross-engine
# reproducibility of the sample membership.
# --------------------------------------------------------------------------
@harness_query(
    "x297_det_split_counts",
    oracle=f"""
    WITH b AS (
      SELECT lang,
             {_bucket_sql('doc_id')} AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n_docs
    FROM b GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def x297_det_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import split_column

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", split_column("doc_id"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )


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
    return sample_frames(texts_as_assets(docs), every_ms=1000, max_frames=8, fake=True)


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
    return similarity.ivf_topk(emb, queries, k=5, centroid_fraction=0.03, nprobe=2)


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
    merged = apply_upserts(base, updates, ["o_orderkey"], "version")
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum("o_totalprice", "total_price"),
    )


# --------------------------------------------------------------------------
# x44 — distribution windows: percent_rank + cume_dist of supplier account
# balance within nation (unique ORDER BY keys → engine-exact doubles).
# --------------------------------------------------------------------------
@harness_query(
    "x44_balance_distribution",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
    """,
)
def x44_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return sup.select(
        "s_nationkey",
        "s_suppkey",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
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
# Edges = q19's MinHash-LSH pairs at threshold 0.2 (VERDICT r10 #4: the
# exact n-gram-Jaccard edge build let the planner broadcast the shingle
# side on a garbage estimate — correct answers, but the plan flipped
# between broadcast and sort-merge depending on accumulated heap, the
# repo's one run-dependent artifact. The LSH pair join is bucketed by
# construction and is the edge source a 100 TB component dedup actually
# uses; the exact pair set remains the declared baseline under
# x317/x220, just no longer composed into the iterative loop.)
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
    edges = dedup.minhash_lsh_pairs_md5(docs, threshold=0.2).select("id_a", "id_b")
    return dedup_by_components(docs, edges).select("doc_id", "component", "is_kept")


# --------------------------------------------------------------------------
# x47 — funnel analysis: earliest view → first click strictly after it →
# first purchase strictly after that, counted per stage. Timestamps
# compare as integer epoch-micros on BOTH engines so the strict
# inequalities can't straddle the nanos→micros conversion.
# --------------------------------------------------------------------------
@harness_query(
    "x47_funnel_stages",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events
    ), v AS (
      SELECT user_id, MIN(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(tus) AS t_click
      FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND tus > t_view GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(tus) AS t_purchase
      FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND tus > t_click GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase
    """,
)
def x47_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_view"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("tus") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_click"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("tus") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .join(c.agg(F.count(F.lit(1)).alias("n_click")))
        .join(p.agg(F.count(F.lit(1)).alias("n_purchase")))
    )


# --------------------------------------------------------------------------
# x48 — retention cohorts: users grouped by first-active week, activity
# counted per week offset. Week truncation (Monday) agrees between
# engines; offsets are exact multiples of 7 days so the division is int.
# --------------------------------------------------------------------------
@harness_query(
    "x48_retention_cohorts",
    oracle="""
    WITH e AS (
      SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
    ), f AS (
      SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY user_id
    )
    SELECT f.cohort,
           CAST(date_diff('day', f.cohort, e.wk) // 7 AS INT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM e JOIN f USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def x48_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    f = e.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    return (
        e.join(f, "user_id")
        .groupBy(
            "cohort",
            (F.datediff("wk", "cohort") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort", "week_offset")
    )


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
    assigned = kmeans_quantized(emb, k=8, iters=2, scale=1000)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("dist2").alias("total_dist2"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# x51 — bigram collocations scored by the Dice coefficient,
# 2·c(xy)·1e6 div (c(x)+c(y)) — a standard collocation measure that
# stays in bounded integer arithmetic at any scale (≤1e6 by
# construction), unlike log-PMI which would need cross-engine floats.
# Bigrams: zip_with(w, slice(w,2,..)) pads the shorter side with null
# (Spark) exactly like list_zip(l, l[2:]) (DuckDB); the null pair is
# filtered on both sides.
# --------------------------------------------------------------------------
@harness_query(
    "x51_bigram_collocations",
    oracle="""
    WITH docs_t AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), bigr AS (
      SELECT p[1] AS w1, p[2] AS w2 FROM (
        SELECT UNNEST(list_zip(l, l[2:])) AS p FROM docs_t
      ) WHERE p[2] IS NOT NULL
    ), uni AS (
      SELECT w AS word, COUNT(*) AS c FROM (
        SELECT UNNEST(l) AS w FROM docs_t
      ) GROUP BY 1
    ), pair AS (
      SELECT w1, w2, COUNT(*) AS c_xy FROM bigr GROUP BY 1, 2
    )
    SELECT p.w1, p.w2, p.c_xy, u1.c AS c_x, u2.c AS c_y,
           (2 * p.c_xy * 1000000) // (u1.c + u2.c) AS dice_ppm
    FROM pair p
    JOIN uni u1 ON p.w1 = u1.word
    JOIN uni u2 ON p.w2 = u2.word
    WHERE p.c_xy >= 3
    ORDER BY dice_ppm DESC, p.w1, p.w2
    LIMIT 20
    """,
)
def x51_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents").select(words("text").alias("l"))
    bigr = (
        docs.select(
            F.explode(
                F.zip_with(
                    "l",
                    F.slice("l", 2, F.greatest(F.size("l"), F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .filter(F.col("p.w2").isNotNull())
        .select("p.w1", "p.w2")
    )
    uni = docs.select(F.explode("l").alias("word")).groupBy("word").agg(
        F.count(F.lit(1)).alias("c")
    )
    pair = bigr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_xy"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_y"))
    return (
        pair.filter(F.col("c_xy") >= 3)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .withColumn("dice_ppm", F.expr("(2 * c_xy * 1000000) div (c_x + c_y)"))
        .select("w1", "w2", "c_xy", "c_x", "c_y", "dice_ppm")
        .orderBy(F.desc("dice_ppm"), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x52 — inverted index: term → document frequency + first-10 sorted
# postings (comma-joined so the driver hashes a plain string). The
# classic IR build is one distinct + one agg; at scale postings would be
# written bucketed-by-term so term lookups touch one bucket.
# --------------------------------------------------------------------------
@harness_query(
    "x52_inverted_index",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    )
    SELECT word,
           COUNT(DISTINCT doc_id) AS df,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:10], ',') AS postings
    FROM toks
    WHERE length(word) >= 4
    GROUP BY word
    ORDER BY df DESC, word
    LIMIT 100
    """,
)
def x52_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(words("text")).alias("word"))
        .filter(F.length("word") >= 4)
        .distinct()
    )
    return (
        toks.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 10), ","
            ).alias("postings"),
        )
        .orderBy(F.desc("df"), "word")
        .limit(100)
    )


# --------------------------------------------------------------------------
# x53 — exact quartiles of order value per priority, over integer cents.
# Both engines use the (n-1)·p linear-interpolation definition; on
# int-cent inputs the interpolation fractions are exact binary
# (0, .25, .5, .75), so the doubles are bit-identical.
# --------------------------------------------------------------------------
@harness_query(
    "x53_order_value_quartiles",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.25) AS p25_cents,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.50) AS p50_cents,
           quantile_cont(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.75) AS p75_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def x53_order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = cents(F.col("o_totalprice"))
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.percentile(c, F.lit(0.25)).alias("p25_cents"),
            F.percentile(c, F.lit(0.50)).alias("p50_cents"),
            F.percentile(c, F.lit(0.75)).alias("p75_cents"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# x54 — time-series gap-fill: per-user hourly grid (sequence /
# generate_series, both ends inclusive) left-joined to observed hourly
# cent-sums, missing hours filled by last-observation-carried-forward
# (last IGNORE NULLS over an unbounded-preceding ROWS frame — pure
# ordering, no arithmetic, so exact). Grid starts at each user's first
# observed hour, so the fill never sees a leading null. Hours travel as
# epoch-micros BIGINT to dodge engine timestamp stringification.
# --------------------------------------------------------------------------
@harness_query(
    "x288_gapfill_locf",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(ROUND(value * 100) AS BIGINT) AS c
      FROM events WHERE user_id < 10
    ), obs AS (
      SELECT user_id, h, CAST(SUM(c) AS BIGINT) AS v_cents FROM ev GROUP BY 1, 2
    ), span AS (
      SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY 1
    ), grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM span
    )
    SELECT g.user_id, epoch_us(g.h) AS h_us,
           last_value(o.v_cents IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_cents,
           o.v_cents IS NULL AS is_gap
    FROM grid g LEFT JOIN obs o USING (user_id, h)
    ORDER BY 1, 2
    """,
)
def x288_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 10)
        .select(
            "user_id",
            F.date_trunc("hour", "ts").alias("h"),
            cents(F.col("value")).alias("c"),
        )
    )
    obs = ev.groupBy("user_id", "h").agg(F.sum("c").alias("v_cents"))
    span = obs.groupBy("user_id").agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.unix_micros("h").alias("h_us"),
            F.last("v_cents", ignorenulls=True).over(w).alias("filled_cents"),
            F.col("v_cents").isNull().alias("is_gap"),
        )
        .orderBy("user_id", "h_us")
    )


# --------------------------------------------------------------------------
# x55 — IQR outlier fences per nation over customer balances: exact
# quartiles on integer cents, fences q1−1.5·IQR / q3+1.5·IQR (all
# quantities are multiples of 0.25 cents — exact doubles), outliers
# counted against the fences. The tiny per-nation fence table broadcasts
# back onto the scan.
# --------------------------------------------------------------------------
@harness_query(
    "x55_iqr_outliers",
    oracle="""
    WITH c AS (
      SELECT c_nationkey, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal FROM customer
    ), q AS (
      SELECT c_nationkey,
             quantile_cont(bal, 0.25) AS q1,
             quantile_cont(bal, 0.75) AS q3
      FROM c GROUP BY 1
    )
    SELECT c.c_nationkey,
           COUNT(*) AS n_cust,
           q.q1 - 1.5 * (q.q3 - q.q1) AS fence_lo,
           q.q3 + 1.5 * (q.q3 - q.q1) AS fence_hi,
           CAST(SUM(CASE WHEN c.bal < q.q1 - 1.5 * (q.q3 - q.q1)
                           OR c.bal > q.q3 + 1.5 * (q.q3 - q.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM c JOIN q USING (c_nationkey)
    GROUP BY 1, 3, 4
    ORDER BY 1
    """,
)
def x55_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", cents(F.col("c_acctbal")).alias("bal")
    )
    q = cust.groupBy("c_nationkey").agg(
        F.percentile("bal", F.lit(0.25)).alias("q1"),
        F.percentile("bal", F.lit(0.75)).alias("q3"),
    )
    fences = q.select(
        "c_nationkey",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("fence_lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("fence_hi"),
    )
    out = (F.col("bal") < F.col("fence_lo")) | (F.col("bal") > F.col("fence_hi"))
    return (
        cust.join(F.broadcast(fences), "c_nationkey")
        .groupBy("c_nationkey", "fence_lo", "fence_hi")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.when(out, 1).otherwise(0)).alias("n_outliers"),
        )
        .select("c_nationkey", "n_cust", "fence_lo", "fence_hi", "n_outliers")
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# x56 — set operators INTERSECT / EXCEPT (SURVEY §2.7 family, beyond the
# U1 union): nations that have both building-segment customers and
# well-capitalized suppliers, vs customer-only nations.
# --------------------------------------------------------------------------
@harness_query(
    "x56_nation_set_ops",
    oracle="""
    WITH cn AS (
      SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ), sn AS (
      SELECT DISTINCT s_nationkey AS k FROM supplier WHERE s_acctbal > 5000
    )
    SELECT 'both' AS tag, k FROM (SELECT k FROM cn INTERSECT SELECT k FROM sn)
    UNION ALL
    SELECT 'cust_only' AS tag, k FROM (SELECT k FROM cn EXCEPT SELECT k FROM sn)
    ORDER BY tag, k
    """,
)
def x56_nation_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    cn = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_nationkey").alias("k"))
        .distinct()
    )
    sn = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .select(F.col("s_nationkey").alias("k"))
        .distinct()
    )
    both = cn.intersect(sn).select(F.lit("both").alias("tag"), "k")
    only = cn.exceptAll(sn).distinct().select(F.lit("cust_only").alias("tag"), "k")
    return both.unionAll(only).orderBy("tag", "k")


# --------------------------------------------------------------------------
# x57 — UNPIVOT: wide per-flag metrics melted to (flag, metric, value)
# rows; Spark df.unpivot ≡ DuckDB UNPIVOT ... INTO NAME/VALUE.
# --------------------------------------------------------------------------
@harness_query(
    "x57_unpivot_flag_metrics",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
      FROM lineitem GROUP BY 1
    )
    SELECT * FROM (UNPIVOT wide ON n_lines, sum_qty, sum_price_cents
                   INTO NAME metric VALUE v)
    ORDER BY l_returnflag, metric
    """,
)
def x57_unpivot_flag_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(cents(F.col("l_extendedprice"))).alias("sum_price_cents"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["n_lines", "sum_qty", "sum_price_cents"], "metric", "v"
    ).orderBy("l_returnflag", "metric")


# --------------------------------------------------------------------------
# x58 — VARIANT ingestion (Spark 4 binary JSON): props parsed once to
# VARIANT, typed path extraction via try_variant_get, aggregated per
# event type. The scale story: VARIANT decodes the JSON once at scan
# time into a shreddable binary form instead of re-parsing strings in
# every expression (get_json_object re-parses per call).
# --------------------------------------------------------------------------
@harness_query(
    "x58_variant_json_stats",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def x58_variant_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.try_variant_get(F.parse_json("props"), "$.k", "long")
    )
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x59 — per-user activity trend: least-squares slope of hourly event
# counts, computed as *integer moment sums* (n, Σx, Σy, Σxy, Σx²) so
# num = n·Σxy − Σx·Σy and den = n·Σx² − (Σx)² are exact int64; the
# final slope double is a single correctly-rounded IEEE division of two
# exact integers, hence bit-identical cross-engine. Regression as
# aggregation: one shuffle, no iteration, no ML library.
# --------------------------------------------------------------------------
@harness_query(
    "x59_user_trend_slope",
    oracle="""
    WITH hourly AS (
      SELECT user_id,
             (epoch_ns(ts) // 1000 - epoch_us(TIMESTAMP '2024-01-01')) // 3600000000 AS x,
             COUNT(*) AS y
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT user_id,
             COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM hourly GROUP BY 1 HAVING COUNT(*) > 1
    )
    SELECT user_id, n,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
             AS slope
    FROM m ORDER BY user_id
    """,
)
def x59_user_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    t0 = 1704067200000000  # epoch micros of 2024-01-01, fixed testdata origin
    hourly = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            ((F.unix_micros("ts") - F.lit(t0)).cast("long")).alias("us"),
        )
        .select("user_id", F.expr("us div 3600000000").alias("x"))
        .groupBy("user_id", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    m = (
        hourly.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n") > 1)
    )
    return m.select(
        "user_id",
        "n",
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("slope_num"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("slope_den"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("slope"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# x60 — fixed-width histogram of customer balances: $1000 bins via
# truncating integer division on cents (negative balances land in the
# −1 bin on both engines — div truncates toward zero identically).
# --------------------------------------------------------------------------
@harness_query(
    "x60_balance_histogram",
    oracle="""
    SELECT CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bin,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM customer
    GROUP BY 1 ORDER BY 1
    """,
)
def x60_balance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        cents(F.col("c_acctbal")).alias("bal")
    )
    return (
        cust.select(F.expr("bal div 100000").alias("bin"), "bal")
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("bal").alias("sum_cents"))
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# x61 — Pearson correlation from exact moment sums: Σy and Σy² overflow
# int64 at scale, so they accumulate as DECIMAL(38,0) (Spark) /
# HUGEINT (DuckDB) — both exact; the correlation is then a FIXED
# double expression tree over those exact sums (each *, −, sqrt, / is a
# single correctly-rounded IEEE op, so the result is bit-identical,
# unlike built-in corr() whose float accumulation is order-dependent).
# --------------------------------------------------------------------------
@harness_query(
    "x61_qty_price_correlation",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS BIGINT)) AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxy,
             SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) * CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS syy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             AS corr_xy
    FROM m ORDER BY 1
    """,
)
def x61_qty_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        cents(F.col("l_extendedprice")).alias("y"),
    )
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum((F.col("y").cast("decimal(19,0)") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    return m.select(
        "l_returnflag",
        "n",
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr_xy"),
    ).orderBy("l_returnflag")


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
# family's second driver row alongside q47; VERDICT r8 #3).
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
    # ≤625 rows (round 12, VERDICT r11 #4 / guide §5): the former plan
    # chained two 32-partition contribution shuffles + four broadcast
    # builds over ≤25-row frames PER RUN — pure scheduler wait (run/cpu
    # was ~14× with the fact join itself map-only). Same bounded-driver
    # contract as clustering.update_centroids; every op is the oracle's
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
# x63 — SCD Type-2 interval build from an event log: per-user value
# changes become validity intervals [valid_from, valid_to) with an
# is_current flag — the standard way a warehouse versions a mutating
# dimension. Change detection via lag, interval close via lead; both
# pure window ordering, exact. Timestamps travel as epoch micros.
# --------------------------------------------------------------------------
@harness_query(
    "x312_scd2_intervals",
    oracle="""
    WITH src AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      FROM events WHERE user_id < 5
    ), changes AS (
      SELECT * FROM (
        SELECT user_id, tus, v_cents,
               lag(v_cents) OVER (PARTITION BY user_id ORDER BY tus, v_cents) AS prev_v
        FROM src
      ) WHERE prev_v IS NULL OR prev_v <> v_cents
    )
    SELECT user_id, v_cents,
           tus AS valid_from_us,
           lead(tus) OVER (PARTITION BY user_id ORDER BY tus, v_cents) AS valid_to_us,
           lead(tus) OVER (PARTITION BY user_id ORDER BY tus, v_cents) IS NULL AS is_current
    FROM changes
    ORDER BY user_id, valid_from_us
    """,
)
def x312_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 5)
        .select(
            "user_id",
            F.unix_micros("ts").alias("tus"),
            cents(F.col("value")).alias("v_cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tus", "v_cents")
    changes = src.withColumn("prev_v", F.lag("v_cents").over(w)).filter(
        F.col("prev_v").isNull() | (F.col("prev_v") != F.col("v_cents"))
    )
    return (
        changes.select(
            "user_id",
            "v_cents",
            F.col("tus").alias("valid_from_us"),
            F.lead("tus").over(w).alias("valid_to_us"),
        )
        .withColumn("is_current", F.col("valid_to_us").isNull())
        .orderBy("user_id", "valid_from_us")
    )


# --------------------------------------------------------------------------
# x64 — data-quality report: referential integrity (anti-join orphan
# counts), key uniqueness, domain checks — each check one row
# (check, n_violations, n_checked), all computed set-oriented (no
# row-at-a-time validation; the reference validates per-row during its
# iterrows() ETL, etl.py:477-1115).
# --------------------------------------------------------------------------
@harness_query(
    "x64_dq_report",
    oracle="""
    SELECT 'orders_orphan_custkey' AS check_name,
           (SELECT COUNT(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
             AS n_violations,
           (SELECT COUNT(*) FROM orders) AS n_checked
    UNION ALL
    SELECT 'lineitem_orphan_orderkey',
           (SELECT COUNT(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'customer_custkey_duplicates',
           (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer),
           (SELECT COUNT(*) FROM customer)
    UNION ALL
    SELECT 'lineitem_nonpositive_quantity',
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity <= 0),
           (SELECT COUNT(*) FROM lineitem)
    UNION ALL
    SELECT 'orders_negative_totalprice',
           (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0),
           (SELECT COUNT(*) FROM orders)
    ORDER BY check_name
    """,
)
def x64_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")

    def row(name: str, violations: DataFrame, checked: DataFrame) -> DataFrame:
        v = violations.agg(F.count(F.lit(1)).alias("n_violations"))
        n = checked.agg(F.count(F.lit(1)).alias("n_checked"))
        return v.crossJoin(n).select(
            F.lit(name).alias("check_name"), "n_violations", "n_checked"
        )

    dup = customer.agg(
        (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias("n_violations"),
        F.count(F.lit(1)).alias("n_checked"),
    ).select(
        F.lit("customer_custkey_duplicates").alias("check_name"),
        "n_violations",
        "n_checked",
    )
    report = (
        row(
            "orders_orphan_custkey",
            orders.join(customer, orders.o_custkey == customer.c_custkey, "left_anti"),
            orders,
        )
        .unionAll(
            row(
                "lineitem_orphan_orderkey",
                lineitem.join(
                    orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
                ),
                lineitem,
            )
        )
        .unionAll(dup)
        .unionAll(
            row(
                "lineitem_nonpositive_quantity",
                lineitem.filter(F.col("l_quantity") <= 0),
                lineitem,
            )
        )
        .unionAll(
            row(
                "orders_negative_totalprice",
                orders.filter(F.col("o_totalprice") < 0),
                orders,
            )
        )
    )
    return report.orderBy("check_name")


# --------------------------------------------------------------------------
# x65 — scalar string-function battery over part names: split_part,
# translate, lpad, reverse, repeat, left/right, instr/strpos, ascii —
# each pinned to identical semantics on both engines (SURVEY §2.8
# breadth; the reference leans on MySQL string functions throughout its
# 13-query corpus).
# --------------------------------------------------------------------------
@harness_query(
    "x65_string_battery",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS first_word,
           split_part(p_name, ' ', 2) AS second_word,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
           reverse(p_name) AS rev_name,
           repeat(left(p_name, 2), 2) AS doubled_prefix,
           right(p_name, 3) AS last3,
           strpos(p_name, 'e') AS first_e,
           ascii(p_name) AS first_char_code,
           upper(p_name) AS uname,
           length(p_name) AS name_len
    FROM part WHERE p_partkey <= 200 ORDER BY p_partkey
    """,
)
def x65_string_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.split_part(name, F.lit(" "), F.lit(1)).alias("first_word"),
        F.split_part(name, F.lit(" "), F.lit(2)).alias("second_word"),
        F.translate(name, "aeiou", "AEIOU").alias("vowels_up"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse(name).alias("rev_name"),
        F.repeat(F.substring(name, 1, 2), 2).alias("doubled_prefix"),
        F.substring(name, -3, 3).alias("last3"),
        F.instr(name, "e").alias("first_e"),
        F.ascii(name).alias("first_char_code"),
        F.upper(name).alias("uname"),
        F.length(name).alias("name_len"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# x66 — date-function battery over order dates: last_day, add_months
# (month-end clamping!), quarter, ISO day-of-week, ISO week, make_date
# round-trip — aligned to identical cross-engine definitions.
# --------------------------------------------------------------------------
@harness_query(
    "x66_date_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_add(CAST(o_orderdate AS DATE), INTERVAL 1 MONTH) AS DATE) AS next_month,
           quarter(CAST(o_orderdate AS DATE)) AS qtr,
           isodow(CAST(o_orderdate AS DATE)) AS iso_dow,
           week(CAST(o_orderdate AS DATE)) AS iso_week,
           make_date(CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE)) AS INT),
                     CAST(EXTRACT(month FROM CAST(o_orderdate AS DATE)) AS INT), 1)
             AS month_start
    FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey
    """,
)
def x66_date_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("d"),
        F.last_day(d).alias("month_end"),
        F.add_months(d, 1).alias("next_month"),
        F.quarter(d).cast("long").alias("qtr"),
        (F.weekday(d) + 1).cast("long").alias("iso_dow"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.make_date(F.year(d), F.month(d), F.lit(1)).alias("month_start"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# x67 — ordered-selection aggregates: max_by/min_by (tie-proofed by
# folding the key into the ordering value: cents·1e7 + orderkey is
# unique), bool_and/bool_or, count_if — per order priority.
# --------------------------------------------------------------------------
@harness_query(
    "x67_selection_aggregates",
    oracle="""
    SELECT o_orderpriority,
           max_by(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
             AS top_order,
           min_by(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey)
             AS bottom_order,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 400000) AS any_jumbo,
           CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished
    FROM orders GROUP BY 1 ORDER BY 1
    """,
)
def x67_selection_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    okey = cents(F.col("o_totalprice")) * 10000000 + F.col("o_orderkey")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", okey).alias("top_order"),
            F.min_by("o_orderkey", okey).alias("bottom_order"),
            F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
            F.bool_or(F.col("o_totalprice") > 400000).alias("any_jumbo"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# x68 — array-function battery over tokenized documents: distinct/sort/
# intersect/contains/position/slice/transform, outputs sort-normalized
# and comma-joined so both engines hash identical strings (Spark
# array_position returns 0 where DuckDB list_position yields NULL —
# normalized via coalesce on the oracle side).
# --------------------------------------------------------------------------
@harness_query(
    "x68_array_battery",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS w
      FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           len(w) AS n_words,
           array_to_string(list_sort(list_distinct(w))[1:8], ',') AS first8_distinct,
           COALESCE(array_to_string(list_sort(list_distinct(list_intersect(w,
             ['the','a','an','of','and','to','in','is','it','that']))), ','), '')
             AS stop_hits,  -- DuckDB list_sort([]) yields NULL
           list_contains(w, 'the') AS has_the,
           COALESCE(list_position(w, 'the'), 0) AS the_pos,
           array_to_string(list_transform(w[1:5], x -> CAST(length(x) AS VARCHAR)), ',')
             AS first5_lens
    FROM t ORDER BY doc_id
    """,
)
def x68_array_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    stop = F.array(*[F.lit(s) for s in
                     ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")])
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select("doc_id", words("text").alias("w"))
    )
    return docs.select(
        "doc_id",
        F.size("w").cast("long").alias("n_words"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct("w")), 1, 8), ","
        ).alias("first8_distinct"),
        F.array_join(
            F.array_sort(F.array_distinct(F.array_intersect("w", stop))), ","
        ).alias("stop_hits"),
        F.array_contains("w", "the").alias("has_the"),
        F.array_position("w", "the").cast("long").alias("the_pos"),
        F.array_join(
            F.transform(F.slice("w", 1, 5), lambda x: F.length(x).cast("string")), ","
        ).alias("first5_lens"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x69 — schema-aligning union (unionByName/allowMissingColumns ≡ UNION
# ALL BY NAME): merging heterogeneous batches by column name with NULL
# fill — the schema-drift-tolerant ingest primitive.
# --------------------------------------------------------------------------
@harness_query(
    "x69_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey AS entity_id, c_acctbal AS balance, c_mktsegment AS segment
      FROM customer WHERE c_custkey <= 100
      UNION ALL BY NAME
      SELECT s_suppkey AS entity_id, s_acctbal AS balance, 'SUPPLIER' AS kind
      FROM supplier WHERE s_suppkey <= 50
    ) ORDER BY entity_id, segment NULLS FIRST
    """,
)
def x69_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 100)
        .select(
            F.col("c_custkey").alias("entity_id"),
            F.col("c_acctbal").alias("balance"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 50)
        .select(
            F.col("s_suppkey").alias("entity_id"),
            F.col("s_acctbal").alias("balance"),
            F.lit("SUPPLIER").alias("kind"),
        )
    )
    return cust.unionByName(supp, allowMissingColumns=True).orderBy(
        "entity_id", F.asc_nulls_first("segment")
    )


# --------------------------------------------------------------------------
# x70 — window value-selection battery: first_value / last_value /
# nth_value over an explicit unbounded frame (the default frame ends at
# CURRENT ROW, where last_value degenerates — pinned identically on
# both engines), per-nation customers ordered by key.
# --------------------------------------------------------------------------
@harness_query(
    "x70_window_value_battery",
    oracle="""
    SELECT c_nationkey, c_custkey,
           first_value(c_custkey) OVER w AS first_cust,
           last_value(c_custkey) OVER w AS last_cust,
           nth_value(c_custkey, 3) OVER w AS third_cust,
           CAST(ROUND(c_acctbal * 100) AS BIGINT)
             - first_value(CAST(ROUND(c_acctbal * 100) AS BIGINT)) OVER w AS bal_delta_cents
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY c_nationkey, c_custkey
    """,
)
def x70_window_value_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_custkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    bal = cents(F.col("c_acctbal"))
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.first("c_custkey").over(w).alias("first_cust"),
        F.last("c_custkey").over(w).alias("last_cust"),
        F.nth_value("c_custkey", 3).over(w).alias("third_cust"),
        (bal - F.first(bal).over(w)).alias("bal_delta_cents"),
    ).orderBy("c_nationkey", "c_custkey")


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
# x72 — MapType round-trip: per-user event-type counts built into a map
# column (map_from_entries over a sorted entry array), then consumed via
# map_entries / element_at / size. The oracle verifies the same values
# relationally — the map is the Spark-side data-shape under test, the
# numbers must be engine-independent.
# --------------------------------------------------------------------------
@harness_query(
    "x72_map_column_roundtrip",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           COUNT(*) AS n_types,
           string_agg(event_type || '=' || n, ',' ORDER BY event_type) AS summary,
           COALESCE(MAX(CASE WHEN event_type = 'click' THEN n END), 0) AS clicks
    FROM per GROUP BY 1 ORDER BY 1
    """,
)
def x72_map_column_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "n")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").cast("long").alias("n_types"),
        F.array_join(
            F.transform(
                F.map_entries("m"),
                lambda e: F.concat(e["key"], F.lit("="), e["value"].cast("string")),
            ),
            ",",
        ).alias("summary"),
        F.coalesce(F.element_at("m", "click"), F.lit(0)).cast("long").alias("clicks"),
    ).orderBy("user_id")


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
    return minhash_portable(docs, n=3, num_hashes=16)


# --------------------------------------------------------------------------
# x74 — NULL-semantics battery: null-safe equality (<=> ≡ IS NOT
# DISTINCT FROM), NULLIF, NVL2/IF-NULL branching, COALESCE chains, and
# count(col) vs count(*) asymmetry — pinned on rows where valid_to of
# the SCD-style lead() is NULL (current rows), the place engines
# disagree most often.
# --------------------------------------------------------------------------
@harness_query(
    "x74_null_semantics",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS tus,
             lead(epoch_ns(ts) // 1000) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000) AS next_tus
      FROM events WHERE user_id < 20
    )
    SELECT user_id,
           COUNT(*) AS n_rows,
           COUNT(next_tus) AS n_nonnull,
           CAST(count_if(next_tus IS NOT DISTINCT FROM NULL) AS BIGINT) AS n_null_safe,
           CAST(SUM(COALESCE(next_tus - tus, -1)) AS BIGINT) AS gap_sum_with_sentinel,
           CAST(count_if(NULLIF(next_tus, tus) IS NULL) AS BIGINT) AS n_nullif_hits,
           CAST(SUM(CASE WHEN next_tus IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nvl2_like
    FROM seq GROUP BY 1 ORDER BY 1
    """,
)
def x74_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    seq = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select("user_id", F.unix_micros("ts").alias("tus"))
    )
    w = Window.partitionBy("user_id").orderBy("tus")
    seq = seq.withColumn("next_tus", F.lead("tus").over(w))
    return (
        seq.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("next_tus").alias("n_nonnull"),
            F.count_if(F.col("next_tus").eqNullSafe(F.lit(None).cast("long"))).alias(
                "n_null_safe"
            ),
            F.sum(
                F.coalesce(F.col("next_tus") - F.col("tus"), F.lit(-1))
            ).alias("gap_sum_with_sentinel"),
            F.count_if(
                F.nullif(F.col("next_tus"), F.col("tus")).isNull()
            ).alias("n_nullif_hits"),
            F.sum(F.nvl2(F.col("next_tus"), F.lit(1), F.lit(0))).alias("n_nvl2_like"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x75 — equi-depth (decile) histogram: ntile over a total order (cents
# + key tiebreak so ranks are engine-independent), per-bin count and
# exact edges — the complement of x60's fixed-width bins.
# --------------------------------------------------------------------------
@harness_query(
    "x75_equidepth_histogram",
    oracle="""
    WITH t AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c, o_orderkey,
             ntile(10) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
               AS decile
      FROM orders
    )
    SELECT decile, COUNT(*) AS n,
           CAST(MIN(c) AS BIGINT) AS lo_cents, CAST(MAX(c) AS BIGINT) AS hi_cents
    FROM t GROUP BY 1 ORDER BY 1
    """,
)
def x75_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        cents(F.col("o_totalprice")).alias("c"), "o_orderkey"
    )
    w = Window.orderBy("c", "o_orderkey")
    return (
        o.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c").alias("lo_cents"),
            F.max("c").alias("hi_cents"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# x76 — complex-event sequence detection: users completing
# view → click → purchase with each step ≤ 24 h after the previous —
# two chained interval semi-joins (the x22 range-join pattern) and a
# min per user; timestamps compare as integer micros throughout. This
# is MATCH_RECOGNIZE-lite expressed relationally.
# --------------------------------------------------------------------------
@harness_query(
    "x76_event_sequence_detection",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events
    ), qual_click AS (
      SELECT DISTINCT c.user_id, c.tus
      FROM e c
      WHERE c.event_type = 'click'
        AND EXISTS (SELECT 1 FROM e v
                    WHERE v.user_id = c.user_id AND v.event_type = 'view'
                      AND v.tus < c.tus AND c.tus - v.tus <= 86400000000)
    ), qual_purchase AS (
      SELECT p.user_id, MIN(p.tus) AS first_complete_us
      FROM e p
      WHERE p.event_type = 'purchase'
        AND EXISTS (SELECT 1 FROM qual_click c
                    WHERE c.user_id = p.user_id
                      AND c.tus < p.tus AND p.tus - c.tus <= 86400000000)
      GROUP BY 1
    )
    SELECT user_id, first_complete_us FROM qual_purchase ORDER BY user_id
    """,
)
def x76_event_sequence_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    step_us = 86400000000
    views = e.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uid"), F.col("tus").alias("v_tus")
    )
    clicks = e.filter(F.col("event_type") == "click")
    qual_click = clicks.join(
        views,
        (clicks.user_id == views.v_uid)
        & (views.v_tus < clicks.tus)
        & (clicks.tus - views.v_tus <= step_us),
        "left_semi",
    ).select(F.col("user_id").alias("c_uid"), F.col("tus").alias("c_tus"))
    purchases = e.filter(F.col("event_type") == "purchase")
    return (
        purchases.join(
            qual_click,
            (purchases.user_id == qual_click.c_uid)
            & (qual_click.c_tus < purchases.tus)
            & (purchases.tus - qual_click.c_tus <= step_us),
            "left_semi",
        )
        .groupBy("user_id")
        .agg(F.min("tus").alias("first_complete_us"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x77 — rolling 7-day distinct users per day: exact sliding
# count-distinct via a bounded day×day interval join (distinct (day,
# user) first, so the join fans out over at most 7 small daily sets).
# At 100 TB the exact form stays viable because the join is on the
# pre-aggregated day grain; the approximate path is per-day HLL
# sketches merged over the window (x30's operator).
# --------------------------------------------------------------------------
@harness_query(
    "x77_rolling_7d_distinct_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id FROM events
    ), days AS (
      SELECT DISTINCT d FROM du
    )
    SELECT days.d,
           COUNT(DISTINCT du.user_id) AS users_7d
    FROM days JOIN du
      ON du.d <= days.d AND du.d > days.d - INTERVAL 7 DAY
    GROUP BY 1 ORDER BY 1
    """,
)
def x77_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = du.select("d").distinct().withColumnRenamed("d", "day")
    return (
        days.join(
            du,
            (du.d <= days.day) & (du.d > F.date_sub(days.day, 7)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.col("day").alias("d"), "users_7d")
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# x78 — market-basket pair mining: co-occurring part pairs within an
# order (self-join bounded by order size, canonical a<b ordering),
# support counts, top pairs. The scale knob is the per-order fan-out
# (k²/2 for a k-line order) — real baskets are short, and a length cap
# before the self-join bounds the worst case.
# --------------------------------------------------------------------------
@harness_query(
    "x78_part_pair_support",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def x78_part_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("part_a") < F.col("part_b")))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 2)
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(50)
    )


# --------------------------------------------------------------------------
# x79 — month-over-month revenue deltas: lag over the monthly rollup;
# delta stays in integer cents, pct change is one exact IEEE division
# over two exact ints (NULL for the first month on both engines).
# --------------------------------------------------------------------------
@harness_query(
    "x79_mom_revenue_change",
    oracle="""
    WITH m AS (
      SELECT CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    )
    SELECT month, rev_cents,
           rev_cents - lag(rev_cents) OVER (ORDER BY month) AS delta_cents,
           CAST(rev_cents - lag(rev_cents) OVER (ORDER BY month) AS DOUBLE)
             / CAST(lag(rev_cents) OVER (ORDER BY month) AS DOUBLE) AS pct_change
    FROM m ORDER BY month
    """,
)
def x79_mom_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate").cast("date"))
            .cast("date")
            .alias("month")
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("rev_cents"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "month",
        "rev_cents",
        (F.col("rev_cents") - prev).alias("delta_cents"),
        ((F.col("rev_cents") - prev).cast("double") / prev.cast("double")).alias(
            "pct_change"
        ),
    ).orderBy("month")


# --------------------------------------------------------------------------
# x80 — conditional aggregate over a trailing ROWS frame: purchases
# among each user's last-5 events (count_if inside a bounded window),
# tie-broken by event_id so frames are engine-identical.
# --------------------------------------------------------------------------
@harness_query(
    "x80_trailing_purchase_density",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
             PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS purchases_in_last5
    FROM events WHERE user_id < 10
    ORDER BY user_id, event_id
    """,
)
def x80_trailing_purchase_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count_if(F.col("event_type") == "purchase")
            .over(w)
            .alias("purchases_in_last5"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# x81 — event-type transition matrix: per-user consecutive event pairs
# (lead over event time) counted into from→to cells with row-normalized
# probability — first-order Markov statistics as one window + one agg;
# the probability is one exact IEEE division of two exact counts.
# --------------------------------------------------------------------------
@harness_query(
    "x81_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY epoch_ns(ts) // 1000, event_id
             ) AS to_type
      FROM events
    ), cells AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)
             AS p
    FROM cells ORDER BY from_type, to_type
    """,
)
def x81_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cells = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    row_tot = Window.partitionBy("from_type")
    return cells.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(row_tot).cast("double")).alias("p"),
    ).orderBy("from_type", "to_type")


# --------------------------------------------------------------------------
# q32 (x122 until r3; promoted to a driver slot) — repetition-based quality
# filters (Gopher §A1.1 / C4-style): per
# document, word count, distinct-word count, the modal word and its
# count, repetition and top-word-share ratios in exact integer per-mille
# (truncating div — identical across engines), and the keep/drop verdict
# a pretraining pipeline would apply. Distributed shape: one explode →
# two partial-aggregating groupBys on doc_id (co-partitioned after the
# first shuffle); no Python in the hot path.
# --------------------------------------------------------------------------
@harness_query(
    "x311_repetition_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
      ) WHERE w != ''
    ), base AS (
      SELECT doc_id, COUNT(*) AS n_words, COUNT(DISTINCT w) AS n_distinct
      FROM toks GROUP BY 1
    ), cnt AS (
      SELECT doc_id, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ), top AS (
      SELECT doc_id, w AS top_word, c AS top_n,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, w) AS rn
      FROM cnt
    )
    SELECT b.doc_id AS doc_id, b.n_words, b.n_distinct, t.top_word,
           CAST(t.top_n AS BIGINT) AS top_n,
           (1000 * (b.n_words - b.n_distinct)) // b.n_words AS rep_permille,
           (1000 * t.top_n) // b.n_words AS top_share_permille,
           ((1000 * (b.n_words - b.n_distinct)) // b.n_words < 600
            AND (1000 * t.top_n) // b.n_words < 200
            AND b.n_words BETWEEN 10 AND 1000) AS keep
    FROM base b JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
    ORDER BY doc_id
    """,
)
def x311_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.col("w") != "")
    base = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.countDistinct("w").alias("n_distinct"),
    )
    cnt = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    rn = Window.partitionBy("doc_id").orderBy(F.desc("c"), "w")
    top = (
        cnt.withColumn("rn", F.row_number().over(rn))
        .filter("rn = 1")
        .select("doc_id", F.col("w").alias("top_word"), F.col("c").alias("top_n"))
    )
    rep = F.expr("(1000 * (n_words - n_distinct)) div n_words")
    share = F.expr("(1000 * top_n) div n_words")
    return (
        base.join(top, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            "top_word",
            "top_n",
            rep.alias("rep_permille"),
            share.alias("top_share_permille"),
            (
                (rep < 600)
                & (share < 200)
                & F.col("n_words").between(10, 1000)
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x123 — interval union / merge-overlapping (gaps-and-islands over real
# intervals): each event opens a 30-minute validity window; overlapping
# windows per user merge into islands (the classic cumulative-max
# technique: an interval starts a new island iff its start exceeds the
# running max end of every earlier interval). All arithmetic in integer
# epoch-micros, so island boundaries are engine-exact. Window ordering
# carries event_id as tiebreaker — equal timestamps can't reorder the
# running max between engines. Scale: one shuffle on user_id; windows
# and the final groupBy reuse that partitioning.
# --------------------------------------------------------------------------
@harness_query(
    "x123_interval_merge_islands",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS s, epoch_us(ts) + 1800000000 AS e
      FROM events
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN MAX(e) OVER (
                 PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) IS NULL
               OR s > MAX(e) OVER (
                 PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               )
             THEN 1 ELSE 0 END AS new_island,
             event_id
      FROM iv
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS island
      FROM flagged
    )
    SELECT user_id, CAST(island AS BIGINT) AS island,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(s) AS island_start_us, MAX(e) AS island_end_us,
           MAX(e) - MIN(s) AS duration_us
    FROM islands GROUP BY 1, 2
    ORDER BY user_id, island
    """,
)
def x123_interval_merge_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (F.unix_micros("ts") + F.lit(1800000000)).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "new_island",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("s").alias("island_start_us"),
            F.max("e").alias("island_end_us"),
            (F.max("e") - F.min("s")).alias("duration_us"),
        )
        .orderBy("user_id", "island")
    )


# --------------------------------------------------------------------------
# x124 — triangle counting on the undirected nation trade graph (same
# edge derivation as q47's PageRank): symmetrize to canonical a<b
# edges, then the standard two-join enumeration e1(a,b) ⋈ e2(b,c) ⋈
# e3(a,c) counts each triangle exactly once (a<b<c). Per-nation output:
# how many triangles each nation participates in. Scale: the canonical
# orientation means every triangle is generated once, not six times —
# the join fan-out is the count itself; at 100 TB the edge list (not
# the facts) is what's joined, and it's dimension-sized here. Degree
# ordering (orienting edges low-degree→high-degree) is the classic
# skew fix when the graph is power-law.
# --------------------------------------------------------------------------
@harness_query(
    "x124_trade_triangles",
    oracle="""
    WITH trade AS (
      SELECT DISTINCT nc.n_nationkey AS cn, ns.n_nationkey AS sn
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE nc.n_nationkey != ns.n_nationkey
    ), edges AS (
      SELECT DISTINCT LEAST(cn, sn) AS a, GREATEST(cn, sn) AS b FROM trade
    ), tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM edges e1
      JOIN edges e2 ON e2.a = e1.b
      JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    ), members AS (
      SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
    )
    SELECT n.n_nationkey AS nationkey, n.n_name,
           CAST(COALESCE(m.cnt, 0) AS BIGINT) AS triangles
    FROM nation n LEFT JOIN (
      SELECT id, COUNT(*) AS cnt FROM members GROUP BY 1
    ) m ON n.n_nationkey = m.id
    ORDER BY triangles DESC, nationkey
    """,
)
def x124_trade_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    trade = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .select(
            F.col("c_nationkey").alias("cn"), F.col("s_nationkey").alias("sn")
        )
        .filter("cn != sn")
        .distinct()
    )
    edges = trade.select(
        F.least("cn", "sn").alias("a"), F.greatest("cn", "sn").alias("b")
    ).distinct()
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"), F.col("e1.b").alias("y"), F.col("e2.b").alias("z")
        )
    )
    members = (
        tri.select(F.col("x").alias("id"))
        .unionAll(tri.select(F.col("y").alias("id")))
        .unionAll(tri.select(F.col("z").alias("id")))
    )
    per_node = members.groupBy("id").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        F.broadcast(nation)
        .join(per_node, nation.n_nationkey == per_node.id, "left")
        .select(
            F.col("n_nationkey").alias("nationkey"),
            "n_name",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("triangles"),
        )
        .orderBy(F.desc("triangles"), "nationkey")
    )


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
    return similarity.pq_topk(
        emb, queries, k=5, m=4, codebook_buckets=300, salt=13, dim=64
    )


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
    return similarity.pq_ivf_topk(
        emb,
        queries,
        k=5,
        m=4,
        dim=64,
        codebook_buckets=300,
        salt=13,
        centroid_fraction=0.03,
        nprobe=2,
        centroid_salt=7,
    )


# --------------------------------------------------------------------------
# x130 — Z-order (Morton) key computation, the layout device behind
# operators/layout.py cluster_by_zorder (Delta OPTIMIZE...ZORDER's core).
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
        max_dist=2, len_band=2,
    )
    return linked.select(
        F.col("l_id").alias("dirty_id"),
        F.col("l_text").alias("dirty_name"),
        F.col("r_text").alias("matched_name"),
        F.col("dist").alias("dist"),
    ).orderBy("dirty_id")


# --------------------------------------------------------------------------
# x132 — k-NN label-vote audit: classify each query vector by the
# majority label of its exact top-5 cosine neighbors and score agreement
# with its own label, per label — the standard label-noise / split-purity
# probe a training pipeline runs over an embedded corpus. Composes the
# oracled brute-force top-k with a deterministic mode (count desc, label
# asc) so the whole audit is value-verified; at scale the ANN variants
# (q33/q35/q42) slot in for the exact top-k with the same vote logic.
# --------------------------------------------------------------------------
@harness_query(
    "x132_knn_label_vote",
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
      -- tie-break by neighbor_id, matching brute_force_topk exactly
      SELECT query_id, own_label, n_label,
             ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ), votes AS (
      SELECT query_id, own_label, n_label, COUNT(*) AS n_votes
      FROM ranked WHERE rank <= 5
      GROUP BY 1, 2, 3
    ), winner AS (
      SELECT query_id, own_label, n_label AS voted_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY n_votes DESC, n_label) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT own_label AS label,
           COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN voted_label = own_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree
    FROM winner GROUP BY own_label ORDER BY label
    """,
)
def x132_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 100)
    topk = similarity.brute_force_topk(emb, queries, k=5)
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
        .select("query_id", F.col("n_label").alias("voted_label"))
    )
    own = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("own_label")
    )
    return (
        winner.join(own, "query_id")
        .groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("voted_label") == F.col("own_label"), 1).otherwise(0)
            ).cast("long").alias("n_agree"),
        )
        .orderBy("label")
    )


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
    return similarity.pq_topk_refined(
        emb, queries, k=5, m=4, dim=64, codebook_buckets=300, salt=13, scale=1000
    )


# --------------------------------------------------------------------------
# x135 — SemDeDup semantic deduplication (Abbas et al. 2023): k-means
# buckets the embedding space, exact cosine runs only within clusters —
# candidates drop from O(n²) to Σ|cluster|² while BOTH stages stay
# value-oracled: the assignment replays q45's integer-quantized Lloyd
# CTEs verbatim, the cosine is the q34 left-to-right fold.
# --------------------------------------------------------------------------
# Promoted to the q35 driver slot in round 9 (ex-x135 — SemDeDup's
# first driver row; q34 covers only the GEMM primitive; VERDICT r8 #3).
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
    return dedup.semantic_near_dup_pairs(emb, threshold=0.35, k=8, iters=2)


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
    joined = bloom_join(li, supp, on="s_suppkey", how="inner")
    return (
        joined.groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            (F.sum("rev_cents").cast("double") / 100.0).alias("revenue"),
        )
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# x137 — BM25 top-k retrieval (Robertson-Sparck-Jones, k1=1.2 b=0.75) in
# fixed-point integer arithmetic so the score — and therefore the
# ranking — is bit-exact cross-engine: idf uses the RSJ odds ratio
# (N-df+0.5)/(df+0.5) scaled ×1000 in place of its log (log is
# transcendental; trunc(log(x)·1e6) can straddle an ULP between libm
# implementations), tf-saturation and length-normalization are scaled
# trunc-divs. Shape: posting-list tf agg → tiny df/const broadcasts back
# onto tf → one per-doc sum — two hash aggs and a broadcast, the same
# 100 TB plan as TF-IDF (q44).
# --------------------------------------------------------------------------
_BM25_TERMS = ("query", "join", "filter")


@harness_query(
    "x137_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM toks
      WHERE word IN {str(tuple(_BM25_TERMS))} GROUP BY 1, 2
    ), dfw AS (
      SELECT word, COUNT(*) AS df FROM tf GROUP BY 1
    ), c2 AS (
      SELECT n, (sumdl * 1000) // n AS avgdl_s FROM (
        SELECT (SELECT COUNT(*) FROM documents) AS n,
               (SELECT SUM(dl) FROM dl) AS sumdl
      )
    ), scored AS (
      SELECT tf.doc_id,
             CAST(SUM(
               (((((c2.n - dfw.df) * 1000 + 500) * 1000) // (dfw.df * 1000 + 500))
                * tf.tf * 2200)
               // (tf.tf * 1000
                   + (1200 * (250 + (750000 * dl.dl) // c2.avgdl_s)) // 1000)
             ) AS BIGINT) AS score_micro
      FROM tf JOIN dl USING (doc_id) JOIN dfw USING (word) CROSS JOIN c2
      GROUP BY tf.doc_id
    )
    SELECT CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank,
           doc_id, score_micro
    FROM scored QUALIFY rank <= 10 ORDER BY rank
    """,
)
def x137_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("word"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    tf = (
        toks.filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfw = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    consts = (
        docs.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(dl.agg(F.sum("dl").alias("sumdl")))
        .withColumn("avgdl_s", F.expr("(sumdl * 1000) div n"))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dfw), "word")
        .crossJoin(F.broadcast(consts))
        .withColumn(
            "score_term",
            F.expr(
                "(((((n - df) * 1000 + 500) * 1000) div (df * 1000 + 500))"
                " * tf * 2200)"
                " div (tf * 1000"
                "      + (1200 * (250 + (750000 * dl) div avgdl_s)) div 1000)"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("score_term").alias("score_micro"))
    )
    w = Window.orderBy(F.desc("score_micro"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("rank", "doc_id", "score_micro")
        .orderBy("rank")
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
# x139 — per-source quota cap: corpus curation's "max M documents per
# domain", ranked so the cap keeps the best rows (here longest text,
# ties to lowest id). One window over the source key — at 100 TB the
# rank-and-filter runs entirely inside each source partition, and
# skew-prone mega-domains are exactly what the cap bounds downstream.
# --------------------------------------------------------------------------
@harness_query(
    "x139_source_quota_cap",
    oracle="""
    SELECT source, rnk, doc_id, n_chars FROM (
      SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    ) WHERE rnk <= 10
    ORDER BY source, rnk
    """,
)
def x139_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 10)
        .select("source", "rnk", "doc_id", "n_chars")
        .orderBy("source", "rnk")
    )


# --------------------------------------------------------------------------
# x140 — cross-document repeated n-gram score: the flag stage of exact
# substring deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better") — for each document, the fraction
# of its 5-gram positions whose shingle also occurs in some *other*
# document. Positional (non-distinct) shingles; the per-shingle
# distinct-doc count comes from one hash agg and broadcasts back onto
# the positions.
# --------------------------------------------------------------------------
@harness_query(
    "x140_repeated_ngram_score",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos, array_to_string(ws[i:i+4], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 3)) AS t(i)
    ), docs_per AS (
      SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs FROM pos GROUP BY 1
    )
    SELECT p.doc_id,
           COUNT(*) AS n_pos,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS repeated_frac
    FROM pos p JOIN docs_per d USING (shingle)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def x140_repeated_ngram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    n = 5
    pos = (
        docs.select("doc_id", words("text").alias("ws"))
        .select(
            "doc_id",
            F.posexplode(
                # sequence(1, 0) would descend, not be empty — guard short docs
                F.expr(
                    f"if(size(ws) >= {n},"
                    f" transform(sequence(1, size(ws) - {n - 1}),"
                    f" i -> array_join(slice(ws, i, {n}), ' ')),"
                    f" array())"
                )
            ).alias("p0", "shingle"),
        )
        .withColumn("pos", (F.col("p0") + 1).cast("long"))
        .drop("p0")
    )
    # One pass to (doc_id, shingle) grain, then a shingle-window for the
    # doc frequency. The previous form shuffled the RAW positions frame
    # twice on the ~40-byte shingle string (countDistinct's expand +
    # the join back); here the positions collapse to per-(doc, shingle)
    # counts on shuffle 1 (map-side combine), the window on shuffle 2
    # sees one row per (doc, shingle) so count(*) over the shingle
    # partition IS the distinct-doc count, and no join ever rematerializes
    # the position grain. Identical rows; sf10 201 s → measured in
    # SCALE §17 addendum.
    per = pos.groupBy("doc_id", "shingle").agg(F.count(F.lit(1)).alias("c"))
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    return (
        per.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_pos"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("c")).otherwise(0)).alias(
                "n_repeated"
            ),
        )
        .withColumn(
            "repeated_frac",
            F.col("n_repeated").cast("double") / F.col("n_pos").cast("double"),
        )
        .orderBy("doc_id")
    )


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
    for r, (a, b) in enumerate(_x141_coeffs(_X141_D, seed=7))
)
_X141_PROBES = "\n      UNION ALL ".join(
    f"SELECT word, true_cnt, {r} AS r,"
    f" ((hs * {a} + {b}) % 2147483648) % {_X141_W} AS pos FROM items"
    for r, (a, b) in enumerate(_x141_coeffs(_X141_D, seed=7))
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
    sketch = countmin_build(toks, "word", depth=_X141_D, width=_X141_W)
    items = toks.groupBy("word").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = countmin_estimate(sketch, items, "word", depth=_X141_D, width=_X141_W)
    return (
        items.join(est, "word")
        .select("word", "true_cnt", "est_cnt")
        .orderBy("word")
    )


# --------------------------------------------------------------------------
# x142 — arbitrary GROUPING SETS (beyond q03's ROLLUP and x126's CUBE):
# the (status,flag) / (status) / () lattice with GROUPING() flags to
# disambiguate natural NULLs — one pass, no self-union.
# --------------------------------------------------------------------------
@harness_query(
    "x142_grouping_sets",
    oracle="""
    SELECT o_orderstatus, l_returnflag,
           GROUPING(o_orderstatus) AS g_status,
           GROUPING(l_returnflag) AS g_flag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY GROUPING SETS ((o_orderstatus, l_returnflag), (o_orderstatus), ())
    ORDER BY g_status, g_flag, o_orderstatus NULLS FIRST, l_returnflag NULLS FIRST
    """,
)
def x142_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    gs = j.groupingSets(
        [["o_orderstatus", "l_returnflag"], ["o_orderstatus"], []],
        "o_orderstatus",
        "l_returnflag",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )
    return gs.select(
        "o_orderstatus", "l_returnflag", "g_status", "g_flag", "n_lines", "sum_qty"
    ).orderBy(
        "g_status",
        "g_flag",
        F.col("o_orderstatus").asc_nulls_first(),
        F.col("l_returnflag").asc_nulls_first(),
    )


# --------------------------------------------------------------------------
# x143 — set operators INTERSECT / EXCEPT (distinct semantics): customers
# who bought in both halves of 1997 vs only in H1. Spark plans these as
# aggregated semi/anti joins — same shuffle as a distinct + join.
# --------------------------------------------------------------------------
@harness_query(
    "x143_set_ops_customers",
    oracle="""
    WITH h1 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
    ), h2 AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate >= DATE '1997-07-01' AND o_orderdate < DATE '1998-01-01'
    ), both_halves AS (
      SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2
    ), only_h1 AS (
      SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2
    )
    SELECT 'both' AS cohort, COUNT(*) AS n_customers FROM both_halves
    UNION ALL
    SELECT 'h1_only' AS cohort, COUNT(*) AS n_customers FROM only_h1
    ORDER BY cohort
    """,
)
def x143_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    h1 = (
        orders.filter(
            (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-07-01")
        )
        .select("o_custkey")
        .distinct()
    )
    h2 = (
        orders.filter(
            (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1998-01-01")
        )
        .select("o_custkey")
        .distinct()
    )
    both = h1.intersect(h2).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("both").alias("cohort"), "n_customers"
    )
    only1 = h1.exceptAll(h2).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("h1_only").alias("cohort"), "n_customers"
    )
    return both.unionAll(only1).orderBy("cohort")


# --------------------------------------------------------------------------
# x144 — ntile quartiles of customer spend + per-quartile aggregates:
# the banding window missing from the x44 distribution set.
# --------------------------------------------------------------------------
@harness_query(
    "x144_ntile_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
      FROM orders GROUP BY o_custkey
    ), banded AS (
      SELECT o_custkey, spend_cents,
             ntile(4) OVER (ORDER BY spend_cents DESC, o_custkey) AS quartile
      FROM spend
    )
    SELECT quartile, COUNT(*) AS n_customers,
           CAST(MIN(spend_cents) AS BIGINT) AS min_cents,
           CAST(MAX(spend_cents) AS BIGINT) AS max_cents,
           CAST(SUM(spend_cents) AS BIGINT) AS total_cents
    FROM banded GROUP BY quartile ORDER BY quartile
    """,
)
def x144_ntile_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents("o_totalprice")).alias("spend_cents")
    )
    w = Window.orderBy(F.desc("spend_cents"), "o_custkey")
    banded = spend.withColumn("quartile", F.ntile(4).over(w))
    return (
        banded.groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend_cents").alias("min_cents"),
            F.max("spend_cents").alias("max_cents"),
            F.sum("spend_cents").alias("total_cents"),
        )
        .orderBy("quartile")
    )


# --------------------------------------------------------------------------
# x145 — mean-pooled embeddings per bucket: element-wise vector mean via
# posexplode → (bucket, dim) hash agg → ordered array rebuild. Sums run
# over trunc(v·1e6) int64 components so the pooled vector is bit-exact
# cross-engine (float sums would be partition-order-dependent). This is
# the declarative, shuffle-scalable shape for embedding aggregation —
# no collect_list of whole vectors, no driver math.
# --------------------------------------------------------------------------
@harness_query(
    "x145_meanpool_embeddings",
    oracle="""
    WITH comp AS (
      SELECT vec_id % 10 AS bucket, i,
             CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(1, 65) r(i)
    ), agg AS (
      SELECT bucket, i, COUNT(*) AS n, SUM(q) AS s FROM comp GROUP BY 1, 2
    )
    SELECT bucket,
           CAST(MIN(n) AS BIGINT) AS n_vectors,
           list(CAST(s AS BIGINT) // n ORDER BY i) AS mean_micro
    FROM agg GROUP BY bucket ORDER BY bucket
    """,
)
def x145_meanpool_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        (F.col("vec_id") % 10).alias("bucket"),
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: (v.cast("double") * 1000000).cast("long"),
            )
        ).alias("i0", "q"),
    ).withColumn("i", (F.col("i0") + 1).cast("long"))
    agg = comp.groupBy("bucket", "i").agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("s")
    )
    return (
        agg.withColumn("m", F.expr("s div n"))
        .groupBy("bucket")
        .agg(
            F.min("n").alias("n_vectors"),
            # ordered array rebuild: sort (i, m) structs, project m
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("mean_micro"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# x146 — dedup cluster representative selection: after connected
# components (q43), keep the *best* member per cluster (longest text,
# ties to lowest id) rather than the arbitrary min-id — the final
# "which row survives" stage of a near-dup pipeline. One window inside
# each component partition + one count agg.
# --------------------------------------------------------------------------
@harness_query(
    "x146_dedup_representatives",
    oracle="""
    WITH RECURSIVE w AS (
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
    ), edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), reach AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ), comp AS (
      SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
    ), members AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ), ranked AS (
      SELECT component, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY component ORDER BY n_chars DESC, doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM members
    )
    SELECT component, doc_id AS rep_id, n_chars AS rep_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1 ORDER BY component
    """,
)
def x146_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.graph import dedup_by_components

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    comp = dedup_by_components(docs, edges).select("doc_id", "component")
    members = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), "doc_id")
    wc = Window.partitionBy("component")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_id"),
            F.col("n_chars").alias("rep_chars"),
            "n_members",
        )
        .orderBy("component")
    )


# --------------------------------------------------------------------------
# x147 — winsorization (percentile clipping) per group: the standard
# robust-stats cleanup before training-set statistics. Bounds are
# *nearest-rank* (discrete) percentiles — rank ceil(p·n) via integer
# (p·n+99) div 100 — so p05/p95 are actual cent values and the whole
# clip+sum stays in exact int64; interpolated quantile_cont bounds are
# non-integer and round differently across engines (CAST truncates in
# Spark, rounds in DuckDB), which is precisely the cross-engine edge
# this formulation removes. The mean is one IEEE division at the end.
# --------------------------------------------------------------------------
@harness_query(
    "x147_winsorized_spend",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), ranked AS (
      SELECT o_orderpriority, cents,
             row_number() OVER (PARTITION BY o_orderpriority ORDER BY cents) AS r,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM c
    ), pct AS (
      SELECT o_orderpriority,
             MIN(CASE WHEN r = (5 * n + 99) // 100 THEN cents END) AS p05,
             MIN(CASE WHEN r = (95 * n + 99) // 100 THEN cents END) AS p95
      FROM ranked GROUP BY o_orderpriority
    )
    SELECT c.o_orderpriority,
           COUNT(*) AS n_orders,
           pct.p05 AS p05_cents, pct.p95 AS p95_cents,
           CAST(SUM(GREATEST(pct.p05, LEAST(pct.p95, c.cents))) AS BIGINT) AS sum_clipped,
           CAST(SUM(GREATEST(pct.p05, LEAST(pct.p95, c.cents))) AS DOUBLE)
             / COUNT(*) AS winsorized_mean_cents
    FROM c JOIN pct USING (o_orderpriority)
    GROUP BY c.o_orderpriority, pct.p05, pct.p95
    ORDER BY c.o_orderpriority
    """,
)
def x147_winsorized_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        "o_orderpriority", cents("o_totalprice").alias("cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("cents")
    wg = Window.partitionBy("o_orderpriority")
    ranked = c.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wg)
    )
    pct = ranked.groupBy("o_orderpriority").agg(
        F.min(F.when(F.expr("r = (5 * n + 99) div 100"), F.col("cents"))).alias("p05"),
        F.min(F.when(F.expr("r = (95 * n + 99) div 100"), F.col("cents"))).alias("p95"),
    )
    clipped = c.join(F.broadcast(pct), "o_orderpriority").withColumn(
        "clip", F.greatest("p05", F.least("p95", F.col("cents")))
    )
    return (
        clipped.groupBy("o_orderpriority", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("clip").alias("sum_clipped"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.col("p05").alias("p05_cents"),
            F.col("p95").alias("p95_cents"),
            "sum_clipped",
            (
                F.col("sum_clipped").cast("double") / F.col("n_orders")
            ).alias("winsorized_mean_cents"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# x148 — cross-split embedding contamination: for every non-train
# vector, its nearest train vector by cosine — the embedding-space twin
# of q25's n-gram contamination audit (decontamination as run for LLM
# eval suites). Splits come from the oracled deterministic hash
# splitter (x297); cosines are the bit-exact fold, so the top-1 ranking
# replays identically in DuckDB. Exact-baseline formulation; the
# IVF/LSH modules bound the candidate set at production scale.
# --------------------------------------------------------------------------
@harness_query(
    "x148_cross_split_embedding_contamination",
    oracle=f"""
    WITH e AS (
      SELECT vec_id,
             CASE WHEN bucket < 8000 THEN 'train'
                  WHEN bucket < 9000 THEN 'val'
                  ELSE 'test' END AS split,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM (SELECT *, {_bucket_sql('vec_id')} AS bucket FROM embeddings)
    ), ev AS (
      SELECT * FROM e WHERE split <> 'train' AND nrm > 0
    ), tr AS (
      SELECT * FROM e WHERE split = 'train' AND nrm > 0
    ), scored AS (
      SELECT ev.vec_id AS eval_id, ev.split, tr.vec_id AS train_id,
             {_COSINE_FOLD.format(a='ev.v', b='tr.v')} / (ev.nrm * tr.nrm) AS cosine
      FROM ev CROSS JOIN tr
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY eval_id ORDER BY cosine DESC, train_id
      ) AS rn
      FROM scored
    )
    SELECT eval_id, split, train_id, cosine FROM ranked WHERE rn = 1
    ORDER BY eval_id
    """,
)
def x148_cross_split_embedding_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import split_column

    emb = load_table(spark, sf_dir, "embeddings")
    tagged = emb.select(
        "vec_id", split_column("vec_id").alias("split"), "embedding"
    )
    ev = tagged.filter(F.col("split") != "train")
    tr = tagged.filter(F.col("split") == "train")
    # nearest train vector per held-out vector = brute_force_topk(k=1)
    # with the train split as the corpus — the GEMM path, bit-exact to
    # the former crossJoin + window form (same fold, same tie order)
    nn = similarity.brute_force_topk(
        corpus=tr.select("vec_id", "embedding"),
        queries=ev.select("vec_id", "embedding"),
        k=1,
    )
    return (
        nn.join(ev.select(F.col("vec_id").alias("query_id"), "split"), "query_id")
        .select(
            F.col("query_id").alias("eval_id"),
            "split",
            F.col("neighbor_id").alias("train_id"),
            "cosine",
        )
        .orderBy("eval_id")
    )


# --------------------------------------------------------------------------
# x149 — event-transition mining (Markov path analysis): per user in
# timestamp order (event_id tiebreak), count (prev → next) event-type
# transitions, plus each transition's share of its source state's
# outgoing edges in exact per-mille. One lag window inside each user
# partition + one hash agg — row-cardinality work stays partitioned by
# user at any scale.
# --------------------------------------------------------------------------
@harness_query(
    "x149_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), outdeg AS (
      SELECT prev_type, SUM(n_trans) AS n_out FROM trans GROUP BY 1
    )
    SELECT t.prev_type, t.next_type, t.n_trans,
           CAST((t.n_trans * 1000) // o.n_out AS BIGINT) AS share_pm
    FROM trans t JOIN outdeg o USING (prev_type)
    ORDER BY t.prev_type, t.next_type
    """,
)
def x149_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.withColumn("prev_type", F.lag("event_type").over(w))
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    outdeg = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("n_out"))
    return (
        trans.join(F.broadcast(outdeg), "prev_type")
        .withColumn("share_pm", F.expr("(n_trans * 1000) div n_out"))
        .select("prev_type", "next_type", "n_trans", "share_pm")
        .orderBy("prev_type", "next_type")
    )


# --------------------------------------------------------------------------
# x150 — ANN recall evaluation: per query, how many of IVF's (q42)
# top-5 appear in the exact brute-force (q20) top-5 — the standard
# recall@k quality harness every ANN deployment runs. Both inputs are
# deterministic oracled queries, so even the *evaluation* is value-
# oracled: the SQL replays both constructions verbatim as prefixed CTEs
# and joins them exactly as the Spark side joins the two operators.
# --------------------------------------------------------------------------
@harness_query(
    "x150_ann_recall_eval",
    oracle=f"""
    WITH be AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), bq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM be WHERE vec_id < 10
    ), bscored AS (
      SELECT bq.query_id, be.vec_id AS neighbor_id,
             {_COSINE_FOLD.format(a='qv', b='v')} / (bq.qnrm * be.nrm) AS cosine
      FROM bq JOIN be ON be.vec_id != bq.query_id
    ), btop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM bscored
      ) WHERE rank <= 5
    ), ie0 AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), ie AS (SELECT * FROM ie0 WHERE nrm > 0),
    icent AS (
      SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm
      FROM ie WHERE {_bucket_sql('vec_id', 7)} < 300
    ),
    ica AS (
      SELECT neighbor_id, centroid_id FROM (
        SELECT ie.vec_id AS neighbor_id, icent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY ie.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='ie.v', b='icent.cv')} / (ie.nrm * icent.cnrm) DESC,
                          icent.centroid_id) AS rn
        FROM ie CROSS JOIN icent
      ) WHERE rn = 1
    ),
    iqa AS (
      SELECT query_id, centroid_id FROM (
        SELECT ie.vec_id AS query_id, icent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY ie.vec_id
                 ORDER BY {_COSINE_FOLD.format(a='ie.v', b='icent.cv')} / (ie.nrm * icent.cnrm) DESC,
                          icent.centroid_id) AS rn
        FROM ie CROSS JOIN icent
        WHERE ie.vec_id < 10
      ) WHERE rn <= 2
    ),
    iscored AS (
      SELECT DISTINCT iqa.query_id, ica.neighbor_id,
             {_COSINE_FOLD.format(a='qe.v', b='ce.v')} / (qe.nrm * ce.nrm) AS cosine
      FROM iqa
      JOIN ica ON ica.centroid_id = iqa.centroid_id
      JOIN ie qe ON qe.vec_id = iqa.query_id
      JOIN ie ce ON ce.vec_id = ica.neighbor_id
      WHERE iqa.query_id != ica.neighbor_id
    ),
    itop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM iscored
      ) WHERE rank <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST((COUNT(i.neighbor_id) * 1000) // 5 AS BIGINT) AS recall_pm
    FROM btop b LEFT JOIN itop i
      ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
    """,
)
def x150_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute = x329_ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = (
        x263_ivf_ann_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
        .withColumn("recall_pm", F.expr("(n_hits * 1000) div 5"))
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# x151 — MinHash estimation accuracy eval: for each exact-Jaccard pair
# (q17 construction), the fraction of matching portable-MinHash
# components (q50 construction) in per-mille next to the true Jaccard —
# the dedup twin of x150's ANN recall eval. Both inputs are bit-exact
# oracled machinery, so the sketch-accuracy measurement itself is
# value-oracled.
# --------------------------------------------------------------------------
_X151_MATCHES = " + ".join(
    f"CASE WHEN a.m{j:02d} = b.m{j:02d} THEN 1 ELSE 0 END" for j in range(16)
)


@harness_query(
    "x151_minhash_estimate_eval",
    oracle=f"""
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
    ), pairs AS (
      SELECT id_a, id_b,
             CAST(n_inter AS DOUBLE)
               / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    ), h AS (
      SELECT doc_id,
             list_reduce(
               list_prepend(CAST(7 AS BIGINT),
                 list_transform(string_split_regex(shingle, ''),
                                ch -> CAST(ascii(ch) AS BIGINT))),
               (h, c) -> (h * 31 + c) % 2147483648) AS hs
      FROM sh
    ), sig AS (
      SELECT doc_id, {_X73_MINS}
      FROM h GROUP BY doc_id
    )
    SELECT p.id_a, p.id_b, p.jaccard,
           CAST({_X151_MATCHES} AS BIGINT) AS n_match,
           CAST((({_X151_MATCHES}) * 1000) // 16 AS BIGINT) AS est_pm
    FROM pairs p
    JOIN sig a ON a.doc_id = p.id_a
    JOIN sig b ON b.doc_id = p.id_b
    ORDER BY p.id_a, p.id_b
    """,
)
def x151_minhash_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dedup import (
        minhash_portable,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.2)
    sig = minhash_portable(docs, n=3, num_hashes=16)
    a = sig.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"m{j:02d}").alias(f"a{j:02d}") for j in range(16)],
    )
    b = sig.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"m{j:02d}").alias(f"b{j:02d}") for j in range(16)],
    )
    n_match = sum(
        F.when(F.col(f"a{j:02d}") == F.col(f"b{j:02d}"), 1).otherwise(0)
        for j in range(16)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_match", n_match.cast("long"))
        .withColumn("est_pm", F.expr("(n_match * 1000) div 16"))
        .select("id_a", "id_b", "jaccard", "n_match", "est_pm")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# x152 — positional-index phrase search: occurrences of the exact
# phrase "data query" via the positional postings join (w₁ at p, w₂ at
# p+1, same doc) — the standard phrase-query plan over an inverted
# index (x52/q44 cover the frequency side; this adds positions). The
# per-term filters cut the postings before the join, so the join sides
# are |postings(w₁)| and |postings(w₂)|, not the corpus.
# --------------------------------------------------------------------------
@harness_query(
    "x152_phrase_search",
    oracle="""
    WITH pos AS (
      SELECT doc_id, i AS pos, ws[i] AS word FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
      ), UNNEST(range(1, len(ws) + 1)) AS t(i)
    )
    SELECT a.doc_id, COUNT(*) AS n_occurrences
    FROM pos a JOIN pos b
      ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.word = 'data' AND b.word = 'query'
    GROUP BY a.doc_id ORDER BY a.doc_id
    """,
)
def x152_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(words("text")).alias("p0", "word")
    ).withColumn("pos", (F.col("p0") + 1).cast("long"))
    a = pos.filter(F.col("word") == "data").select("doc_id", "pos")
    b = pos.filter(F.col("word") == "query").select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x153 — funnel time-to-convert: latency distribution of each funnel
# transition (x47's strict-ordering stages), with the median as a
# nearest-rank integer-microsecond statistic (same cross-engine-safe
# formulation as x147) plus min/max/count. Everything stays in int64
# epoch-micros end to end.
# --------------------------------------------------------------------------
@harness_query(
    "x153_funnel_latency",
    oracle="""
    WITH e AS (
      SELECT user_id, event_type, epoch_ns(ts) // 1000 AS tus FROM events
    ), v AS (
      SELECT user_id, MIN(tus) AS t_view FROM e WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(tus) AS t_click
      FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND tus > t_view GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(tus) AS t_purchase
      FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND tus > t_click GROUP BY e.user_id
    ), l AS (
      SELECT 'view_to_click' AS transition, c.t_click - v.t_view AS lat_us
      FROM c JOIN v USING (user_id)
      UNION ALL
      SELECT 'click_to_purchase' AS transition, p.t_purchase - c.t_click AS lat_us
      FROM p JOIN c USING (user_id)
    ), ranked AS (
      SELECT transition, lat_us,
             row_number() OVER (PARTITION BY transition ORDER BY lat_us) AS r,
             COUNT(*) OVER (PARTITION BY transition) AS n
      FROM l
    )
    SELECT transition,
           CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(MIN(lat_us) AS BIGINT) AS min_us,
           CAST(MAX(lat_us) AS BIGINT) AS max_us,
           CAST(MIN(CASE WHEN r = (50 * n + 99) // 100 THEN lat_us END) AS BIGINT) AS median_us
    FROM ranked GROUP BY transition ORDER BY transition
    """,
)
def x153_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_view"))
    )
    c = (
        events.join(v, "user_id")
        .filter((F.col("event_type") == "click") & (F.col("tus") > F.col("t_view")))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_click"))
    )
    p = (
        events.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase") & (F.col("tus") > F.col("t_click"))
        )
        .groupBy("user_id")
        .agg(F.min("tus").alias("t_purchase"))
    )
    l = (
        c.join(v, "user_id")
        .select(
            F.lit("view_to_click").alias("transition"),
            (F.col("t_click") - F.col("t_view")).alias("lat_us"),
        )
        .unionByName(
            p.join(c, "user_id").select(
                F.lit("click_to_purchase").alias("transition"),
                (F.col("t_purchase") - F.col("t_click")).alias("lat_us"),
            )
        )
    )
    w = Window.partitionBy("transition").orderBy("lat_us")
    wg = Window.partitionBy("transition")
    ranked = l.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wg)
    )
    return (
        ranked.groupBy("transition")
        .agg(
            F.max("n").alias("n_users"),
            F.min("lat_us").alias("min_us"),
            F.max("lat_us").alias("max_us"),
            F.min(
                F.when(F.expr("r = (50 * n + 99) div 100"), F.col("lat_us"))
            ).alias("median_us"),
        )
        .orderBy("transition")
    )


# --------------------------------------------------------------------------
# x154 — event-rate anomaly detection: flag hours whose event count
# exceeds the trailing-24h mean by 2σ, with the z-test algebraically
# cleared of ALL floating point: (c−μ) > 2σ over the ROWS frame
# rewrites to excess = c·n − s > 0 AND excess² > 4·(n·s2 − s²), pure
# int64 on both engines (σ² = (n·s2 − s²)/n², μ = s/n). The trailing
# moments come from one ROWS-frame window over the hourly rollup —
# group-cardinality data, not row-cardinality.
# --------------------------------------------------------------------------
@harness_query(
    "x154_event_rate_anomaly",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr, COUNT(*) AS cnt
      FROM events GROUP BY 1
    ), m AS (
      SELECT hr, cnt,
             COUNT(*)            OVER w AS n_prev,
             COALESCE(SUM(cnt)       OVER w, 0) AS s,
             COALESCE(SUM(cnt * cnt) OVER w, 0) AS s2
      FROM hourly
      WINDOW w AS (ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
    )
    SELECT hr, cnt,
           CAST(n_prev AS BIGINT) AS n_prev,
           CAST(cnt * n_prev - s AS BIGINT) AS excess_n,
           (n_prev >= 12 AND cnt * n_prev - s > 0
            AND (cnt * n_prev - s) * (cnt * n_prev - s)
                > 4 * (n_prev * s2 - s * s)) AS is_anomaly
    FROM m ORDER BY hr
    """,
)
def x154_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hourly = events.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("hr").rowsBetween(-24, -1)
    m = (
        hourly.withColumn("n_prev", F.count(F.lit(1)).over(w))
        .withColumn("s", F.coalesce(F.sum("cnt").over(w), F.lit(0)))
        .withColumn(
            "s2", F.coalesce(F.sum(F.col("cnt") * F.col("cnt")).over(w), F.lit(0))
        )
    )
    return m.select(
        "hr",
        "cnt",
        F.col("n_prev").cast("long").alias("n_prev"),
        (F.col("cnt") * F.col("n_prev") - F.col("s")).alias("excess_n"),
        (
            (F.col("n_prev") >= 12)
            & (F.col("cnt") * F.col("n_prev") - F.col("s") > 0)
            & (
                (F.col("cnt") * F.col("n_prev") - F.col("s"))
                * (F.col("cnt") * F.col("n_prev") - F.col("s"))
                > 4 * (F.col("n_prev") * F.col("s2") - F.col("s") * F.col("s"))
            )
        ).alias("is_anomaly"),
    ).orderBy("hr")


# --------------------------------------------------------------------------
# x155 — token-budget corpus selection: fill a fixed token budget with
# the best documents (quality rank = longest first, id ties), the
# greedy prefix selection every "top-N-tokens" training-mix build uses.
# One global rank window + running-sum frame over doc-cardinality
# metadata (id, tokens) — never over text; budget cut in exact int64.
# --------------------------------------------------------------------------
@harness_query(
    "x155_token_budget_selection",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '')) AS tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_chars, tokens,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk,
             CAST(SUM(tokens) OVER (
               ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT rnk, doc_id, tokens, cum_tokens
    FROM ranked WHERE cum_tokens <= 20000 ORDER BY rnk
    """,
)
def x155_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "n_chars", F.size(words("text")).cast("long").alias("tokens")
    )
    w = Window.orderBy(F.desc("n_chars"), "doc_id")
    ranked = t.withColumn("rnk", F.row_number().over(w).cast("long")).withColumn(
        "cum_tokens",
        F.sum("tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        ranked.filter(F.col("cum_tokens") <= 20000)
        .select("rnk", "doc_id", "tokens", "cum_tokens")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# x156 — repeat-purchase analysis: per customer, the gap to their
# second order (lead over the per-customer date sequence, event_id-free
# deterministic ordering by date + orderkey), rolled into the share of
# customers who reorder within 30 days — integer day math end to end.
# --------------------------------------------------------------------------
@harness_query(
    "x156_repeat_purchase_30d",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             CAST(o_orderdate AS DATE) AS d,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS rn,
             lead(CAST(o_orderdate AS DATE)) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS next_d
      FROM orders
    ), firsts AS (
      SELECT o_custkey,
             CASE WHEN next_d IS NULL THEN NULL
                  ELSE date_diff('day', d, next_d) END AS gap_days
      FROM seq WHERE rn = 1
    )
    SELECT COUNT(*) AS n_customers,
           CAST(SUM(CASE WHEN gap_days IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_reordered,
           CAST(SUM(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_30d,
           CAST((SUM(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END) * 1000)
                // COUNT(*) AS BIGINT) AS share_pm
    FROM firsts
    """,
)
def x156_repeat_purchase_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        F.row_number().over(w).alias("rn"),
        F.lead(F.col("o_orderdate").cast("date")).over(w).alias("next_d"),
    )
    firsts = seq.filter(F.col("rn") == 1).select(
        "o_custkey", F.datediff("next_d", "d").alias("gap_days")
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("gap_days").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_reordered"),
        F.sum(F.when(F.col("gap_days") <= 30, 1).otherwise(0))
        .cast("long")
        .alias("n_within_30d"),
    ).withColumn("share_pm", F.expr("(n_within_30d * 1000) div n_customers"))


# --------------------------------------------------------------------------
# x157 — supplier concentration (Herfindahl-Hirschman index) per part
# type: HHI = Σ shareᵢ², computed over integer per-mille shares so the
# index (0..1,000,000) is bit-exact. Two hash aggs (supplier volume,
# type totals) + one broadcast join; the share square never leaves
# int64 (≤ 1e6 per supplier, ≤ 1e12 summed).
# --------------------------------------------------------------------------
@harness_query(
    "x157_supplier_hhi",
    oracle="""
    WITH vol AS (
      SELECT p.p_type, l.l_suppkey,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ), tot AS (
      SELECT p_type, CAST(SUM(cents) AS BIGINT) AS total_cents FROM vol GROUP BY 1
    ), shares AS (
      SELECT v.p_type, (v.cents * 1000) // t.total_cents AS share_pm
      FROM vol v JOIN tot t USING (p_type)
    )
    SELECT p_type,
           COUNT(*) AS n_suppliers,
           CAST(SUM(share_pm * share_pm) AS BIGINT) AS hhi_ppm
    FROM shares GROUP BY p_type ORDER BY p_type
    """,
)
def x157_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("cents"))
    )
    tot = vol.groupBy("p_type").agg(F.sum("cents").alias("total_cents"))
    shares = vol.join(F.broadcast(tot), "p_type").withColumn(
        "share_pm", F.expr("(cents * 1000) div total_cents")
    )
    return (
        shares.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.col("share_pm") * F.col("share_pm")).alias("hhi_ppm"),
        )
        .orderBy("p_type")
    )


# --------------------------------------------------------------------------
# x158 — market-basket affinity: brand pairs co-occurring in the same
# order, with support and an integer-ppm lift ((P(a,b)/(P(a)·P(b)))
# scaled by the order count — bit-exact as (co·N·1e6) div (ca·cb)).
# Distinct-brands-per-order first (bounded fanout), then the canonical
# a<b self-join inside each order.
# --------------------------------------------------------------------------
@harness_query(
    "x158_brand_affinity",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob
    ), brand_cnt AS (
      SELECT p_brand, COUNT(*) AS c FROM ob GROUP BY 1
    ), pairs AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS support
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, support,
           CAST((support * n.n_orders * 1000000) // (ca.c * cb.c) AS BIGINT) AS lift_ppm
    FROM pairs
    JOIN brand_cnt ca ON ca.p_brand = brand_a
    JOIN brand_cnt cb ON cb.p_brand = brand_b
    CROSS JOIN n
    WHERE support >= 20
    ORDER BY brand_a, brand_b
    """,
)
def x158_brand_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n = ob.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    brand_cnt = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("c"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 20)
    )
    ca = brand_cnt.select(F.col("p_brand").alias("brand_a"), F.col("c").alias("ca"))
    cb = brand_cnt.select(F.col("p_brand").alias("brand_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .crossJoin(F.broadcast(n))
        .withColumn("lift_ppm", F.expr("(support * n_orders * 1000000) div (ca * cb)"))
        .select("brand_a", "brand_b", "support", "lift_ppm")
        .orderBy("brand_a", "brand_b")
    )


# --------------------------------------------------------------------------
# x159 — corpus-frequency quality proxy: each document's mean token
# corpus-frequency in ppm — the integer-exact stand-in for a unigram
# LM score (rare-token-heavy docs ⇒ low score ⇒ OCR noise / gibberish
# candidates; common-token walls score high). Two hash aggs (corpus
# term counts, per-doc fold) + one broadcast of the term table.
# --------------------------------------------------------------------------
@harness_query(
    "x159_corpus_freq_quality",
    oracle="""
    WITH toks AS (
      SELECT doc_id, w AS word FROM (
        SELECT doc_id, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) WHERE w <> ''
    ), tot AS (
      SELECT COUNT(*) AS n_total FROM toks
    ), freq AS (
      SELECT word, COUNT(*) AS cnt FROM toks GROUP BY 1
    ), scored AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             CAST(SUM((f.cnt * 1000000) // tot.n_total) AS BIGINT) AS sum_freq_ppm
      FROM toks t JOIN freq f USING (word) CROSS JOIN tot
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(sum_freq_ppm // n_tokens AS BIGINT) AS mean_token_freq_ppm
    FROM scored ORDER BY doc_id
    """,
)
def x159_corpus_freq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words("text")).alias("word"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_total"))
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    scored = (
        toks.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.expr("(cnt * 1000000) div n_total")).alias("sum_freq_ppm"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.expr("sum_freq_ppm div n_tokens").alias("mean_token_freq_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x160 — embedding-health audit: per id-bucket, zero-vector count and
# the min/max/total of the quantized squared norm (trunc(v·1000)² sums,
# pure int64) — the pre-flight data-quality pass before any ANN/dedup
# job consumes an embedding table.
# --------------------------------------------------------------------------
@harness_query(
    "x160_embedding_health",
    oracle="""
    WITH q AS (
      SELECT vec_id, vec_id % 10 AS bucket,
             list_sum(list_transform(embedding,
               v -> CAST(trunc(CAST(v AS DOUBLE) * 1000) AS BIGINT)
                    * CAST(trunc(CAST(v AS DOUBLE) * 1000) AS BIGINT))) AS qnorm2
      FROM embeddings
    )
    SELECT bucket,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN qnorm2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(MIN(qnorm2) AS BIGINT) AS min_qnorm2,
           CAST(MAX(qnorm2) AS BIGINT) AS max_qnorm2
    FROM q GROUP BY bucket ORDER BY bucket
    """,
)
def x160_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.clustering import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    qv = quantize_vec(F.col("embedding"), 1000)
    q = emb.select(
        (F.col("vec_id") % 10).alias("bucket"),
        F.aggregate(
            qv, F.lit(0).cast("long"), lambda acc, x: acc + x * x
        ).alias("qnorm2"),
    )
    return (
        q.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("qnorm2") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero"),
            F.min("qnorm2").alias("min_qnorm2"),
            F.max("qnorm2").alias("max_qnorm2"),
        )
        .orderBy("bucket")
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
# documented negative result in SCALE.md. jaccard_pairs_auto encodes
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
# x162 — truncation-loss report: what a context-window cut at K=64
# tokens costs each source — docs affected, tokens kept vs lost, loss
# per-mille — the standard pre-training budget diagnostic (pairs with
# q24's packing, which avoids exactly this loss). Integer end to end.
# --------------------------------------------------------------------------
@harness_query(
    "x162_truncation_loss",
    oracle="""
    WITH t AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                             x -> x <> '')) AS tokens
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN tokens > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
           CAST(SUM(tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(LEAST(tokens, 64)) AS BIGINT) AS kept_tokens,
           CAST(SUM(tokens - LEAST(tokens, 64)) AS BIGINT) AS lost_tokens,
           CAST((SUM(tokens - LEAST(tokens, 64)) * 1000) // SUM(tokens) AS BIGINT) AS loss_pm
    FROM t GROUP BY source ORDER BY source
    """,
)
def x162_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("source", F.size(words("text")).cast("long").alias("tokens"))
    kept = F.least(F.col("tokens"), F.lit(64))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("tokens") > 64, 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
            F.sum("tokens").alias("total_tokens"),
            F.sum(kept).alias("kept_tokens"),
            F.sum(F.col("tokens") - kept).alias("lost_tokens"),
        )
        .withColumn("loss_pm", F.expr("(lost_tokens * 1000) div total_tokens"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x163 — cross-source duplication matrix: which feeds copy from which —
# near-dup pairs (the oracled q17 Jaccard construction; this corpus has
# no exact duplicates, q14 proves it) rolled up by unordered source
# pair, split into cross-source vs same-source counts.
# --------------------------------------------------------------------------
@harness_query(
    "x163_cross_source_dup_matrix",
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
    ), pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           COUNT(*) AS n_dup_pairs,
           (LEAST(da.source, db.source) = GREATEST(da.source, db.source)) AS same_source
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
    GROUP BY 1, 2, 4 ORDER BY 1, 2
    """,
)
def x163_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("sa")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("sb")), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .withColumn("same_source", F.col("source_a") == F.col("source_b"))
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# x164 — dedup cluster-size distribution: how big the near-dup clusters
# are (singletons vs pathological mega-clusters — the histogram every
# dedup report leads with, and the early-warning for a threshold set
# too low). Component sizes from the q43 closure → size histogram.
# --------------------------------------------------------------------------
@harness_query(
    "x164_dup_cluster_size_hist",
    oracle="""
    WITH RECURSIVE w AS (
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
    ), edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE 1000 * n_inter >= 200 * (sa.n_shingles + sb.n_shingles - n_inter)
    ), sym AS (
      SELECT id_a AS u, id_b AS v FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), reach AS (
      SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ), comp AS (
      SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
    ), members AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ), csize AS (
      SELECT component, COUNT(*) AS cluster_size FROM members GROUP BY component
    )
    SELECT cluster_size, COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM csize GROUP BY cluster_size ORDER BY cluster_size
    """,
)
def x164_dup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.graph import dedup_by_components

    docs = load_table(spark, sf_dir, "documents")
    edges = dedup.ngram_jaccard_pairs(docs, threshold=0.2).select("id_a", "id_b")
    comp = dedup_by_components(docs, edges).select("doc_id", "component")
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        csize.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn("n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long"))
        .select("cluster_size", "n_clusters", "n_docs")
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# x165 — source × language balance report: observed vs expected-under-
# independence cell counts (expected in exact micro-units, deviation
# signed micro) — the mix-monitoring crosstab a curation pipeline
# watches when a feed's language distribution drifts. Pure integer.
# --------------------------------------------------------------------------
@harness_query(
    "x165_source_lang_balance",
    oracle="""
    WITH o AS (
      SELECT source, lang, COUNT(*) AS observed FROM documents GROUP BY 1, 2
    ), rt AS (
      SELECT source, SUM(observed) AS row_tot FROM o GROUP BY 1
    ), ct AS (
      SELECT lang, SUM(observed) AS col_tot FROM o GROUP BY 1
    ), n AS (
      SELECT SUM(observed) AS n_total FROM o
    )
    SELECT o.source, o.lang, o.observed,
           CAST((rt.row_tot * ct.col_tot * 1000000) // n.n_total AS BIGINT) AS expected_micro,
           CAST(o.observed * 1000000
                - (rt.row_tot * ct.col_tot * 1000000) // n.n_total AS BIGINT) AS deviation_micro
    FROM o JOIN rt USING (source) JOIN ct USING (lang) CROSS JOIN n
    ORDER BY o.source, o.lang
    """,
)
def x165_source_lang_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    o = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("observed"))
    rt = o.groupBy("source").agg(F.sum("observed").alias("row_tot"))
    ct = o.groupBy("lang").agg(F.sum("observed").alias("col_tot"))
    n = o.agg(F.sum("observed").alias("n_total"))
    return (
        o.join(F.broadcast(rt), "source")
        .join(F.broadcast(ct), "lang")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "expected_micro", F.expr("(row_tot * col_tot * 1000000) div n_total")
        )
        .withColumn(
            "deviation_micro", F.expr("observed * 1000000 - expected_micro")
        )
        .select("source", "lang", "observed", "expected_micro", "deviation_micro")
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# x166 — event-value quartiles per event type: nearest-rank quartiles
# over integer cents (the x147 formulation), completing the events
# family's order-statistics coverage.
# --------------------------------------------------------------------------
@harness_query(
    "x166_event_value_quartiles",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents FROM events
    ), ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM c
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MIN(CASE WHEN r = (25 * n + 99) // 100 THEN cents END) AS BIGINT) AS p25_cents,
           CAST(MIN(CASE WHEN r = (50 * n + 99) // 100 THEN cents END) AS BIGINT) AS p50_cents,
           CAST(MIN(CASE WHEN r = (75 * n + 99) // 100 THEN cents END) AS BIGINT) AS p75_cents
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def x166_event_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.select("event_type", cents("value").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("cents")
    wg = Window.partitionBy("event_type")
    ranked = c.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wg)
    )
    def at(p):
        return F.min(
            F.when(F.expr(f"r = ({p} * n + 99) div 100"), F.col("cents"))
        )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            at(25).alias("p25_cents"),
            at(50).alias("p50_cents"),
            at(75).alias("p75_cents"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x167 — semi-supervised label propagation on the nation trade graph
# (the third iterative-graph operator beside PageRank q47 and connected
# components q43): seed 1-in-5 nations with their region id, then two
# unrolled rounds of weighted majority vote over trade-volume edges —
# integer cent weights, argmax ties to the lowest label, so both
# rounds replay exactly in SQL. Per-round cost is one edge-join + one
# hash agg; labels table stays n_nations rows.
# --------------------------------------------------------------------------
@harness_query(
    "x167_label_propagation",
    oracle="""
    WITH vol AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey != c.c_nationkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
        SELECT u, v, w FROM vol UNION ALL SELECT v AS u, u AS v, w FROM vol
      ) GROUP BY 1, 2
    ), seeds AS (
      SELECT n_nationkey AS node,
             CASE WHEN n_nationkey % 5 = 0 THEN n_regionkey END AS label
      FROM nation
    ), vote1 AS (
      SELECT e.u AS node, s.label, CAST(SUM(e.w) AS BIGINT) AS tot
      FROM edges e JOIN seeds s ON s.node = e.v
      WHERE s.label IS NOT NULL
      GROUP BY 1, 2
    ), new1 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY tot DESC, label) AS rn
        FROM vote1
      ) WHERE rn = 1
    ), l1 AS (
      SELECT s.node,
             COALESCE(s.label, n1.label) AS label,
             CASE WHEN s.label IS NOT NULL THEN 0
                  WHEN n1.label IS NOT NULL THEN 1 END AS labeled_at
      FROM seeds s LEFT JOIN new1 n1 ON n1.node = s.node
    ), vote2 AS (
      SELECT e.u AS node, l.label, CAST(SUM(e.w) AS BIGINT) AS tot
      FROM edges e JOIN l1 l ON l.node = e.v
      WHERE l.label IS NOT NULL
      GROUP BY 1, 2
    ), new2 AS (
      SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY tot DESC, label) AS rn
        FROM vote2
      ) WHERE rn = 1
    )
    SELECT l1.node AS nation_key,
           CAST(COALESCE(l1.label, n2.label) AS BIGINT) AS label,
           CAST(COALESCE(l1.labeled_at,
                         CASE WHEN n2.label IS NOT NULL THEN 2 END) AS BIGINT) AS labeled_at
    FROM l1 LEFT JOIN new2 n2 ON n2.node = l1.node
    ORDER BY nation_key
    """,
)
def x167_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")

    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("w"))
    )
    edges = (
        vol.unionByName(vol.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )
    seeds = nation.select(
        F.col("n_nationkey").alias("node"),
        F.when(F.col("n_nationkey") % 5 == 0, F.col("n_regionkey")).alias("label"),
    )

    def vote(labels: DataFrame) -> DataFrame:
        lab = labels.filter(F.col("label").isNotNull()).select(
            F.col("node").alias("v"), "label"
        )
        v = (
            edges.join(F.broadcast(lab), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.sum("w").alias("tot"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("tot"), "label")
        return (
            v.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", F.col("label").alias("new_label"))
        )

    new1 = vote(seeds)
    l1 = seeds.join(new1, "node", "left").select(
        "node",
        F.coalesce("label", "new_label").alias("label"),
        F.when(F.col("label").isNotNull(), 0)
        .when(F.col("new_label").isNotNull(), 1)
        .alias("labeled_at"),
    )
    new2 = vote(l1)
    return (
        l1.join(new2, "node", "left")
        .select(
            F.col("node").alias("nation_key"),
            F.coalesce("label", "new_label").cast("long").alias("label"),
            F.coalesce(
                "labeled_at", F.when(F.col("new_label").isNotNull(), 2)
            )
            .cast("long")
            .alias("labeled_at"),
        )
        .orderBy("nation_key")
    )


# --------------------------------------------------------------------------
# x168 — bounded shortest path: cheapest ≤2-hop route between nation
# pairs over inverse-volume trade costs (cost = 1e12 div volume_cents,
# so thick trade links are cheap — integer throughout). One self-join
# on the intermediate node computes the 2-hop relaxation; LEAST with
# the direct edge finishes the bounded Bellman-Ford step. The k-hop
# unrolling pattern scales to any fixed diameter as k-1 self-joins.
# --------------------------------------------------------------------------
@harness_query(
    "x168_cheapest_trade_route",
    oracle="""
    WITH vol AS (
      SELECT s.s_nationkey AS u, c.c_nationkey AS v,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE s.s_nationkey != c.c_nationkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT u, v, 1000000000000 // CAST(SUM(w) AS BIGINT) AS cost FROM (
        SELECT u, v, w FROM vol UNION ALL SELECT v AS u, u AS v, w FROM vol
      ) GROUP BY u, v
    ), two_hop AS (
      SELECT a.u, b.v, MIN(a.cost + b.cost) AS cost2
      FROM edges a JOIN edges b ON a.v = b.u AND a.u != b.v
      GROUP BY a.u, b.v
    ), best AS (
      SELECT COALESCE(e.u, t.u) AS u, COALESCE(e.v, t.v) AS v,
             CAST(LEAST(COALESCE(e.cost, t.cost2), COALESCE(t.cost2, e.cost)) AS BIGINT) AS best_cost,
             (t.cost2 IS NOT NULL AND (e.cost IS NULL OR t.cost2 < e.cost)) AS via_hop
      FROM edges e FULL OUTER JOIN two_hop t ON t.u = e.u AND t.v = e.v
    )
    SELECT u AS src, v AS dst, best_cost, via_hop
    FROM best WHERE u < v AND u < 5
    ORDER BY src, dst
    """,
)
def x168_cheapest_trade_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    vol = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v")
        )
        .agg(F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("w"))
    )
    edges = (
        vol.unionByName(vol.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.expr("1000000000000 div sum(w)").alias("cost"))
    )
    a = edges.select(F.col("u"), F.col("v").alias("m"), F.col("cost").alias("ca"))
    b = edges.select(F.col("u").alias("m"), F.col("v"), F.col("cost").alias("cb"))
    two_hop = (
        a.join(b, "m")
        .filter(F.col("u") != F.col("v"))
        .groupBy("u", "v")
        .agg(F.min(F.col("ca") + F.col("cb")).alias("cost2"))
    )
    best = (
        edges.join(two_hop, ["u", "v"], "full_outer")
        .select(
            "u",
            "v",
            F.least(
                F.coalesce("cost", "cost2"), F.coalesce("cost2", "cost")
            ).alias("best_cost"),
            (
                F.col("cost2").isNotNull()
                & (F.col("cost").isNull() | (F.col("cost2") < F.col("cost")))
            ).alias("via_hop"),
        )
    )
    return (
        best.filter((F.col("u") < F.col("v")) & (F.col("u") < 5))
        .select(
            F.col("u").alias("src"), F.col("v").alias("dst"), "best_cost", "via_hop"
        )
        .orderBy("src", "dst")
    )


# --------------------------------------------------------------------------
# x169 — MMR diversity re-ranking (Carbonell & Goldstein 1998): from
# each query's exact top-10, greedily select 3 results maximizing
# λ·sim(q,d) − (1−λ)·max_sim(d, selected), λ=0.5 — the standard
# redundancy-removal pass over a retrieval shortlist. Three unrolled
# selections; every similarity is the bit-exact fold cosine and the
# MMR combination is one fixed IEEE expression, so argmax ordering
# (ties to lowest id) replays exactly. Candidate pair sims are
# shortlist×shortlist per query — bounded by k², never the corpus.
# --------------------------------------------------------------------------
@harness_query(
    "x169_mmr_rerank",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_E_FOLD}) AS nrm
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM e WHERE vec_id < 10
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COSINE_FOLD.format(a='qv', b='v')} / (q.qnrm * e.nrm) AS cosine
      FROM q JOIN e ON e.vec_id != q.query_id
    ), cands AS (
      SELECT query_id, neighbor_id, cosine FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
      ) WHERE rank <= 10
    ), psim AS (
      SELECT a.query_id, a.neighbor_id AS da, b.neighbor_id AS db,
             {_COSINE_FOLD.format(a='ea.v', b='eb.v')} / (ea.nrm * eb.nrm) AS sim
      FROM cands a
      JOIN cands b ON b.query_id = a.query_id AND b.neighbor_id != a.neighbor_id
      JOIN e ea ON ea.vec_id = a.neighbor_id
      JOIN e eb ON eb.vec_id = b.neighbor_id
    ), sel1 AS (
      SELECT query_id, neighbor_id AS s1, cosine AS score1 FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rn
        FROM cands
      ) WHERE rn = 1
    ), r2 AS (
      SELECT c.query_id, c.neighbor_id,
             0.5 * c.cosine - 0.5 * p.sim AS score
      FROM cands c
      JOIN sel1 ON sel1.query_id = c.query_id
      JOIN psim p ON p.query_id = c.query_id
               AND p.da = c.neighbor_id AND p.db = sel1.s1
      WHERE c.neighbor_id != sel1.s1
    ), sel2 AS (
      SELECT query_id, neighbor_id AS s2, score AS score2 FROM (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rn
        FROM r2
      ) WHERE rn = 1
    ), r3 AS (
      SELECT c.query_id, c.neighbor_id,
             0.5 * c.cosine - 0.5 * GREATEST(p1.sim, p2.sim) AS score
      FROM cands c
      JOIN sel1 ON sel1.query_id = c.query_id
      JOIN sel2 ON sel2.query_id = c.query_id
      JOIN psim p1 ON p1.query_id = c.query_id
                AND p1.da = c.neighbor_id AND p1.db = sel1.s1
      JOIN psim p2 ON p2.query_id = c.query_id
                AND p2.da = c.neighbor_id AND p2.db = sel2.s2
      WHERE c.neighbor_id NOT IN (sel1.s1, sel2.s2)
    ), sel3 AS (
      SELECT query_id, neighbor_id AS s3, score AS score3 FROM (
        SELECT query_id, neighbor_id, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS rn
        FROM r3
      ) WHERE rn = 1
    )
    SELECT query_id, CAST(1 AS BIGINT) AS sel_rank, s1 AS doc_id, score1 AS mmr_score FROM sel1
    UNION ALL
    SELECT query_id, CAST(2 AS BIGINT), s2, score2 FROM sel2
    UNION ALL
    SELECT query_id, CAST(3 AS BIGINT), s3, score3 FROM sel3
    ORDER BY query_id, sel_rank
    """,
)
def x169_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.similarity import dot

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    cands = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id", "cosine"
    )
    e = (
        emb.select(
            F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .filter(F.col("nrm") > 0)
    )
    ea = e.select(F.col("vec_id").alias("da"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("db"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    ca = cands.select("query_id", F.col("neighbor_id").alias("da"))
    cb = cands.select("query_id", F.col("neighbor_id").alias("db"))
    psim = (
        ca.join(cb, "query_id")
        .filter(F.col("da") != F.col("db"))
        .join(F.broadcast(ea), "da")
        .join(F.broadcast(eb), "db")
        .select(
            "query_id",
            "da",
            "db",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    sel1 = (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("s1"), F.col("cosine").alias("score1"))
    )
    r2 = (
        cands.join(sel1, "query_id")
        .filter(F.col("neighbor_id") != F.col("s1"))
        .join(
            psim.select("query_id", F.col("da").alias("neighbor_id"), F.col("db").alias("s1"), "sim"),
            ["query_id", "neighbor_id", "s1"],
        )
        .withColumn("score", 0.5 * F.col("cosine") - 0.5 * F.col("sim"))
    )
    ws = Window.partitionBy("query_id").orderBy(F.desc("score"), "neighbor_id")
    sel2 = (
        r2.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("s2"), F.col("score").alias("score2"))
    )
    r3 = (
        cands.join(sel1, "query_id")
        .join(sel2, "query_id")
        .filter(
            (F.col("neighbor_id") != F.col("s1")) & (F.col("neighbor_id") != F.col("s2"))
        )
        .join(
            psim.select("query_id", F.col("da").alias("neighbor_id"), F.col("db").alias("s1"), F.col("sim").alias("sim1")),
            ["query_id", "neighbor_id", "s1"],
        )
        .join(
            psim.select("query_id", F.col("da").alias("neighbor_id"), F.col("db").alias("s2"), F.col("sim").alias("sim2")),
            ["query_id", "neighbor_id", "s2"],
        )
        .withColumn(
            "score", 0.5 * F.col("cosine") - 0.5 * F.greatest("sim1", "sim2")
        )
    )
    sel3 = (
        r3.withColumn("rn", F.row_number().over(ws))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("neighbor_id").alias("s3"), F.col("score").alias("score3"))
    )
    out = (
        sel1.select(
            "query_id",
            F.lit(1).cast("long").alias("sel_rank"),
            F.col("s1").alias("doc_id"),
            F.col("score1").alias("mmr_score"),
        )
        .unionByName(
            sel2.select(
                "query_id",
                F.lit(2).cast("long").alias("sel_rank"),
                F.col("s2").alias("doc_id"),
                F.col("score2").alias("mmr_score"),
            )
        )
        .unionByName(
            sel3.select(
                "query_id",
                F.lit(3).cast("long").alias("sel_rank"),
                F.col("s3").alias("doc_id"),
                F.col("score3").alias("mmr_score"),
            )
        )
    )
    return out.orderBy("query_id", "sel_rank")


# --------------------------------------------------------------------------
# x170 — per-dimension embedding distribution audit: nearest-rank
# quartiles of the quantized components for every dimension — the
# whitening/clipping decision input that pairs with x160's norm audit.
# posexplode → per-dim rank windows (64 partitions, embarrassingly
# parallel) → the x147 nearest-rank idiom, integer end to end.
# --------------------------------------------------------------------------
@harness_query(
    "x170_embedding_dim_quartiles",
    oracle="""
    WITH comp AS (
      SELECT i AS dim,
             CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(1, 65) r(i)
    ), ranked AS (
      SELECT dim, q,
             row_number() OVER (PARTITION BY dim ORDER BY q) AS r,
             COUNT(*) OVER (PARTITION BY dim) AS n
      FROM comp
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(MIN(CASE WHEN r = (25 * n + 99) // 100 THEN q END) AS BIGINT) AS p25_milli,
           CAST(MIN(CASE WHEN r = (50 * n + 99) // 100 THEN q END) AS BIGINT) AS p50_milli,
           CAST(MIN(CASE WHEN r = (75 * n + 99) // 100 THEN q END) AS BIGINT) AS p75_milli,
           CAST(MIN(q) AS BIGINT) AS min_milli,
           CAST(MAX(q) AS BIGINT) AS max_milli
    FROM ranked GROUP BY dim ORDER BY dim
    """,
)
def x170_embedding_dim_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.clustering import quantize_vec

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(quantize_vec(F.col("embedding"), 1000)).alias("d0", "q")
    ).withColumn("dim", (F.col("d0") + 1).cast("long"))
    w = Window.partitionBy("dim").orderBy("q")
    wg = Window.partitionBy("dim")
    ranked = comp.withColumn("r", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wg)
    )

    def at(p):
        return F.min(F.when(F.expr(f"r = ({p} * n + 99) div 100"), F.col("q")))

    return (
        ranked.groupBy("dim")
        .agg(
            at(25).alias("p25_milli"),
            at(50).alias("p50_milli"),
            at(75).alias("p75_milli"),
            F.min("q").alias("min_milli"),
            F.max("q").alias("max_milli"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# x171 — forward as-of join with tolerance (pandas merge_asof parity,
# distributed): for every view event, the *next* purchase by the same
# user within 1 hour. Exercises operators.temporal.asof_join's
# direction="forward" + tolerance_us path — still the one-shuffle
# union-and-window plan, so it scales like a sort-merge join at 100 TB.
# Oracle is the same formulation in ANSI window SQL (MIN over the
# following frame, tolerance applied after the match).
# --------------------------------------------------------------------------
@harness_query(
    "x171_asof_forward_tolerance",
    oracle="""
    WITH v AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus
      FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id, epoch_us(ts) AS tus FROM events
      WHERE event_type = 'purchase'
    ), un AS (
      SELECT user_id, tus, 1 AS side, tus AS pts, NULL AS vid FROM p
      UNION ALL
      SELECT user_id, tus, 0 AS side, NULL AS pts, event_id AS vid FROM v
    ), m AS (
      SELECT user_id, tus, vid,
             MIN(pts) OVER (PARTITION BY user_id ORDER BY tus, side
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_pts
      FROM un
    )
    SELECT vid AS event_id, user_id, tus AS view_us,
           CASE WHEN next_pts - tus <= 3600000000 THEN next_pts END
             AS next_purchase_us
    FROM m WHERE vid IS NOT NULL
    """,
)
def x171_asof_forward_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.col("tus").alias("view_us")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("tus").alias("pus")
    )
    return asof_join(
        views,
        purchases,
        on="user_id",
        left_ts="view_us",
        right_ts="pus",
        direction="forward",
        tolerance_us=3_600_000_000,
    ).select(
        "event_id",
        "user_id",
        "view_us",
        F.col("asof_pus").alias("next_purchase_us"),
    )


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
# family's driver row; VERDICT r8 #3).
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
# x173 — multilingual mixture reweighting (the alpha-smoothed sampling
# of mBERT/XLM-R, alpha = 0.5): per-language natural share vs the
# sqrt-smoothed share that upsamples tail languages, plus the resulting
# integer quota out of a 10k-doc training budget. IEEE-754 sqrt is
# correctly rounded, so floor(sqrt(bigint)) is engine-portable; all
# shares are integer ppm. One tiny aggregate (|langs| rows) broadcast
# back over itself — nothing here grows with corpus size.
# --------------------------------------------------------------------------
@harness_query(
    "x173_lang_alpha_resample",
    oracle="""
    WITH c AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ), s AS (
      SELECT lang, cnt, CAST(FLOOR(SQRT(cnt)) AS BIGINT) AS sq FROM c
    ), t AS (
      SELECT CAST(SUM(sq) AS BIGINT) AS tot, CAST(SUM(cnt) AS BIGINT) AS n
      FROM s
    )
    SELECT s.lang, s.cnt AS n_docs,
           CAST(s.cnt * 1000000 // t.n AS BIGINT) AS natural_ppm,
           CAST(s.sq * 1000000 // t.tot AS BIGINT) AS alpha_ppm,
           CAST((s.sq * 1000000 // t.tot) // 100 AS BIGINT) AS quota_10k
    FROM s CROSS JOIN t ORDER BY s.lang
    """,
)
def x173_lang_alpha_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("sq", F.floor(F.sqrt("cnt")).cast("long"))
    )
    t = s.agg(F.sum("sq").alias("tot"), F.sum("cnt").alias("n"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("cnt").alias("n_docs"),
            F.expr("cnt * 1000000 div n").alias("natural_ppm"),
            F.expr("sq * 1000000 div tot").alias("alpha_ppm"),
            F.expr("(sq * 1000000 div tot) div 100").alias("quota_10k"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# x174 — exact-allocation stratified split: exactly n_h // 10 docs per
# source (vs x297/x121's hash-threshold draws whose per-stratum counts
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
# x175 — token-count concentration (Gini) per source: the curation
# metric for "is this source a few giant documents or many uniform
# ones". Integer-exact via the rank formula
#   G = (2*Σ i·x_i − (n+1)·Σx) / (n·Σx),  x ascending, i = 1..n
# (tie order cannot change Σ i·x_i, so the row_number tie-break is
# irrelevant). One shuffle on source; everything after the rank window
# is a plain aggregate. All-ppm integers — hash-stable across engines.
# --------------------------------------------------------------------------
@harness_query(
    "x175_token_gini_by_source",
    oracle="""
    WITH tok AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS x
      FROM documents
    ), ranked AS (
      SELECT source, x,
             row_number() OVER (PARTITION BY source ORDER BY x) AS i
      FROM tok
    ), g AS (
      SELECT source, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM ranked GROUP BY source
    )
    SELECT source, n AS n_docs, sx AS total_tokens,
           CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
             AS gini_ppm
    FROM g ORDER BY source
    """,
)
def x175_token_gini_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source",
        F.size(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("x"),
    )
    ranked = tok.withColumn(
        "i", F.row_number().over(Window.partitionBy("source").orderBy("x"))
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("i") * F.col("x")).alias("six"),
        )
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.col("sx").alias("total_tokens"),
            F.expr("(2 * six - (n + 1) * sx) * 1000000 div (n * sx)").alias(
                "gini_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x176 — bigram collocation mining: adjacent word pairs with support
# >= 5, scored by integer-milli lift  cnt_xy·N_bi·1000 // (cnt_x·cnt_y)
# where cnt_x / cnt_y count the word as bigram-first / bigram-second.
# lead() over (doc_id, pos) forms the bigrams without a self-join; the
# two vocab-sized marginal tables join back unhinted — AQE picks
# broadcast vs shuffle from their actual size at runtime.
# int64 headroom: cnt_xy·N_bi·1000 stays under 2^63 up to ~10^7·10^8
# pair-corpus sizes; past that the same formula runs in decimal(38,0).
# --------------------------------------------------------------------------
@harness_query(
    "x176_bigram_colloc_lift",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(lst) AS w, generate_subscripts(lst, 1) AS i
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents)
    ), bi AS (
      SELECT doc_id, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM words
    ), pairs AS (
      SELECT w1, w2, COUNT(*) AS cnt FROM bi WHERE w2 IS NOT NULL
      GROUP BY w1, w2
    ), m1 AS (
      SELECT w1, CAST(SUM(cnt) AS BIGINT) AS c1 FROM pairs GROUP BY w1
    ), m2 AS (
      SELECT w2, CAST(SUM(cnt) AS BIGINT) AS c2 FROM pairs GROUP BY w2
    ), t AS (
      SELECT CAST(SUM(cnt) AS BIGINT) AS n_bi FROM pairs
    )
    SELECT w1, w2, cnt,
           CAST(cnt * n_bi * 1000 // (c1 * c2) AS BIGINT) AS lift_milli
    FROM pairs JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN t
    WHERE cnt >= 5
    ORDER BY lift_milli DESC, w1, w2 LIMIT 30
    """,
)
def x176_bigram_colloc_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("pos", "w"),
    )
    bi = words.select(
        F.col("w").alias("w1"),
        F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos")).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    pairs = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    m1 = pairs.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    m2 = pairs.groupBy("w2").agg(F.sum("cnt").alias("c2"))
    t = pairs.agg(F.sum("cnt").alias("n_bi"))
    return (
        pairs.filter(F.col("cnt") >= 5)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "cnt",
            F.expr("cnt * n_bi * 1000 div (c1 * c2)").alias("lift_milli"),
        )
        .orderBy(F.desc("lift_milli"), "w1", "w2")
        .limit(30)
    )


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
    return heavy_hitters_exact(words, "word", k=30).orderBy("word")


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
    merges, _ = bpe_learn(wf, word_col="w", freq_col="freq", n_merges=3)
    return merges.orderBy("merge_rank")


# --------------------------------------------------------------------------
# x179 — point-in-time (PIT) lookup against an SCD2 dimension: for
# every purchase, the version of the user's mutating attribute that was
# valid at purchase time — the feature-store join that prevents feature
# leakage in training sets. Change points come from the q48 lag-detect;
# the lookup itself is operators/temporal.asof_join (backward), so PIT
# costs one sort-merge-shaped shuffle, never an interval cross join.
# Purchases before a user's first change point surface NULL (no
# leakage from the future), and a purchase at exactly a change instant
# sees the new value (allow_exact) — both pinned by the oracle.
# --------------------------------------------------------------------------
@harness_query(
    "x179_scd2_pit_lookup",
    oracle="""
    WITH src AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS v_cents
      FROM events
    ), changes AS (
      SELECT user_id, tus, v_cents FROM (
        SELECT user_id, tus, v_cents,
               lag(v_cents) OVER (PARTITION BY user_id
                                  ORDER BY tus, v_cents) AS prev_v
        FROM src
      ) WHERE prev_v IS NULL OR prev_v <> v_cents
    ), probes AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
      WHERE event_type = 'purchase'
    ), un AS (
      SELECT user_id, tus, 0 AS side, v_cents, NULL AS event_id FROM changes
      UNION ALL
      SELECT user_id, tus, 1 AS side, NULL AS v_cents, event_id FROM probes
    ), m AS (
      SELECT user_id, tus, event_id,
             last_value(v_cents IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY tus, side, v_cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pit_v
      FROM un
    )
    SELECT event_id, user_id, tus AS purchase_us, pit_v AS v_cents_at_purchase
    FROM m WHERE event_id IS NOT NULL
    ORDER BY event_id
    """,
)
def x179_scd2_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    src = events.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("v_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "v_cents")
    changes = (
        src.withColumn("prev_v", F.lag("v_cents").over(w))
        .filter(F.col("prev_v").isNull() | (F.col("prev_v") != F.col("v_cents")))
        .select("user_id", "tus", "v_cents")
    )
    probes = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.unix_micros("ts").alias("tus")
    )
    return (
        asof_join(
            probes,
            changes,
            on="user_id",
            left_ts="tus",
            right_ts="tus",
            value_cols=["v_cents"],
        )
        .select(
            "event_id",
            "user_id",
            F.col("tus").alias("purchase_us"),
            F.col("asof_v_cents").alias("v_cents_at_purchase"),
        )
        .orderBy("event_id")
    )


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
# x182 — histogram-sketch quantile accuracy eval (completes the
# sketch-eval trio beside x150 ANN recall and x151 MinHash estimate):
# a 64-bin equi-width histogram per event type — the constant-space
# quantile sketch every engine ships as its cheap stats pass — is
# evaluated against exact nearest-rank p50/p90. Bin assignment,
# cumulative scan, and midpoint estimates are integer end-to-end, so
# both engines agree bit-for-bit on estimate AND error. Histogram cost
# at 100 TB: one shuffle to 64·|types| cells vs the full sort the
# exact rank needs.
# --------------------------------------------------------------------------
@harness_query(
    "x182_histogram_quantile_eval",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), g AS (
      SELECT event_type, MIN(cents) AS lo, MAX(cents) AS hi,
             COUNT(*) AS n
      FROM e GROUP BY event_type
    ), binned AS (
      SELECT e.event_type,
             LEAST(63, (e.cents - g.lo) * 64 // (g.hi - g.lo + 1)) AS bin
      FROM e JOIN g USING (event_type)
    ), bc AS (
      SELECT event_type, bin, COUNT(*) AS cnt
      FROM binned GROUP BY event_type, bin
    ), cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS c
      FROM bc
    ), est AS (
      SELECT c.event_type,
             CAST(MIN(CASE WHEN c.c >= (50 * g.n + 99) // 100 THEN c.bin END)
                  AS BIGINT) AS b50,
             CAST(MIN(CASE WHEN c.c >= (90 * g.n + 99) // 100 THEN c.bin END)
                  AS BIGINT) AS b90
      FROM cum c JOIN g USING (event_type) GROUP BY c.event_type
    ), ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY cents) AS r
      FROM e
    ), tru AS (
      SELECT r.event_type,
             MIN(CASE WHEN r.r = (50 * g.n + 99) // 100 THEN r.cents END)
               AS p50_true,
             MIN(CASE WHEN r.r = (90 * g.n + 99) // 100 THEN r.cents END)
               AS p90_true
      FROM ranked r JOIN g USING (event_type) GROUP BY r.event_type
    )
    SELECT g.event_type,
           t.p50_true,
           CAST(g.lo + ((2 * e.b50 + 1) * (g.hi - g.lo + 1)) // 128 AS BIGINT)
             AS p50_est,
           t.p90_true,
           CAST(g.lo + ((2 * e.b90 + 1) * (g.hi - g.lo + 1)) // 128 AS BIGINT)
             AS p90_est
    FROM g JOIN est e USING (event_type) JOIN tru t USING (event_type)
    ORDER BY g.event_type
    """,
)
def x182_histogram_quantile_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    g = e.groupBy("event_type").agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = e.join(F.broadcast(g), "event_type").select(
        "event_type",
        F.least(F.lit(63), F.expr("(cents - lo) * 64 div (hi - lo + 1)")).alias(
            "bin"
        ),
    )
    cum = (
        binned.groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "c",
            F.sum("cnt").over(Window.partitionBy("event_type").orderBy("bin")),
        )
    )
    est = (
        cum.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.expr("c >= (50 * n + 99) div 100"), F.col("bin")))
            .cast("long")
            .alias("b50"),
            F.min(F.when(F.expr("c >= (90 * n + 99) div 100"), F.col("bin")))
            .cast("long")
            .alias("b90"),
        )
    )
    ranked = e.withColumn(
        "r", F.row_number().over(Window.partitionBy("event_type").orderBy("cents"))
    )
    tru = (
        ranked.join(F.broadcast(g), "event_type")
        .groupBy("event_type")
        .agg(
            F.min(F.when(F.expr("r = (50 * n + 99) div 100"), F.col("cents"))).alias(
                "p50_true"
            ),
            F.min(F.when(F.expr("r = (90 * n + 99) div 100"), F.col("cents"))).alias(
                "p90_true"
            ),
        )
    )
    return (
        g.join(est, "event_type")
        .join(tru, "event_type")
        .select(
            "event_type",
            "p50_true",
            F.expr("lo + ((2 * b50 + 1) * (hi - lo + 1)) div 128")
            .cast("long")
            .alias("p50_est"),
            "p90_true",
            F.expr("lo + ((2 * b90 + 1) * (hi - lo + 1)) div 128")
            .cast("long")
            .alias("p90_est"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x183 — trained-model scoring at scale: apply a linear quality
# classifier (fixed micro-unit weights — stand-ins for a logistic
# regression fit offline) to every document. Features (token count,
# stopword ppm, type-token ppm) and the logit are integer end-to-end;
# the decision is sign(logit), so no sigmoid and no floats — the
# pattern for pushing a distilled quality filter over 100 TB as pure
# whole-stage-codegen expressions, zero Python.
# --------------------------------------------------------------------------
@harness_query(
    "x183_quality_classifier",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(lst) AS BIGINT) AS tok_cnt,
             CAST(len(list_filter(lst, x -> list_contains(
               ['the','a','an','of','and','to','in','is','it','that'], x)))
               AS BIGINT) AS stop_cnt,
             CAST(len(list_distinct(lst)) AS BIGINT) AS distinct_cnt
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents)
    ), s AS (
      SELECT doc_id, tok_cnt,
             stop_cnt * 1000000 // tok_cnt AS stop_ppm,
             distinct_cnt * 1000000 // tok_cnt AS ttr_ppm
      FROM f WHERE tok_cnt > 0
    )
    SELECT doc_id, tok_cnt, stop_ppm, ttr_ppm,
           CAST(40000 * tok_cnt + ttr_ppm - 2 * stop_ppm - 1900000 AS BIGINT)
             AS logit_micro,
           (40000 * tok_cnt + ttr_ppm - 2 * stop_ppm - 1900000) > 0 AS keep
    FROM s ORDER BY doc_id
    """,
)
def x183_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop = "array('the','a','an','of','and','to','in','is','it','that')"
    f = docs.selectExpr(
        "doc_id",
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '') AS lst",
    ).selectExpr(
        "doc_id",
        "cast(size(lst) AS bigint) AS tok_cnt",
        f"cast(size(filter(lst, x -> array_contains({stop}, x))) AS bigint)"
        " AS stop_cnt",
        "cast(size(array_distinct(lst)) AS bigint) AS distinct_cnt",
    )
    s = f.filter("tok_cnt > 0").selectExpr(
        "doc_id",
        "tok_cnt",
        "stop_cnt * 1000000 div tok_cnt AS stop_ppm",
        "distinct_cnt * 1000000 div tok_cnt AS ttr_ppm",
    )
    return s.selectExpr(
        "doc_id",
        "tok_cnt",
        "stop_ppm",
        "ttr_ppm",
        "40000 * tok_cnt + ttr_ppm - 2 * stop_ppm - 1900000 AS logit_micro",
        "(40000 * tok_cnt + ttr_ppm - 2 * stop_ppm - 1900000) > 0 AS keep",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x184 — curriculum ordering with source interleave: easy-to-hard
# training order (token count ascending as the difficulty proxy)
# round-robined across sources so no source dominates any window of
# the stream — the standard data-ordering step before sequence
# packing (q24). Two rank windows, no joins; the global position is a
# total order both engines agree on exactly.
# --------------------------------------------------------------------------
@harness_query(
    "x184_curriculum_interleave",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS tok_cnt
      FROM documents
    ), r AS (
      SELECT doc_id, source, tok_cnt,
             row_number() OVER (PARTITION BY source
                                ORDER BY tok_cnt, doc_id) AS rn
      FROM tok
    )
    SELECT row_number() OVER (ORDER BY rn, source, doc_id) AS global_pos,
           doc_id, source, tok_cnt, rn
    FROM r ORDER BY global_pos
    """,
)
def x184_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("tok_cnt"),
    )
    r = tok.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source").orderBy("tok_cnt", "doc_id")
        ),
    )
    return r.select(
        F.row_number()
        .over(Window.orderBy("rn", "source", "doc_id"))
        .cast("long")
        .alias("global_pos"),
        "doc_id",
        "source",
        "tok_cnt",
        "rn",
    ).orderBy("global_pos")


# --------------------------------------------------------------------------
# x185 — late-interaction retrieval (ColBERT MaxSim, Khattab & Zaharia
# 2020): group the vector table into 8-token "documents" (vec_id div
# 8), take the first two groups as queries, and score every doc by
# Σ_{query token} max_{doc token} ⟨qt, dt⟩ — the multi-vector scoring
# that beats single-vector retrieval on precision. Dot products run on
# milli-quantized int64 components (trunc semantics shared by both
# engines), so scores are integer-exact. Query side is tokens×dims
# tiny → broadcast; the doc side streams through one shuffle per
# reduction stage. Top-5 docs per query, deterministic ties.
# --------------------------------------------------------------------------
@harness_query(
    "x185_maxsim_late_interaction",
    oracle="""
    WITH v AS (
      SELECT vec_id // 8 AS gid, vec_id,
             list_transform(embedding,
                            x -> CAST(trunc(CAST(x AS DOUBLE) * 1000) AS BIGINT))
               AS q
      FROM embeddings
    ), qc AS (
      SELECT gid AS qid, vec_id AS qt, i, q[i] AS x
      FROM v CROSS JOIN range(1, 65) r(i) WHERE gid < 2
    ), dc AS (
      SELECT gid AS did, vec_id AS dt, i, q[i] AS x
      FROM v CROSS JOIN range(1, 65) r(i) WHERE gid >= 2
    ), dots AS (
      SELECT qc.qid, qc.qt, dc.did, dc.dt,
             CAST(SUM(qc.x * dc.x) AS BIGINT) AS dot
      FROM qc JOIN dc USING (i)
      GROUP BY 1, 2, 3, 4
    ), best AS (
      SELECT qid, qt, did, MAX(dot) AS m FROM dots GROUP BY 1, 2, 3
    ), score AS (
      SELECT qid, did, CAST(SUM(m) AS BIGINT) AS maxsim FROM best GROUP BY 1, 2
    ), ranked AS (
      SELECT qid, did, maxsim,
             row_number() OVER (PARTITION BY qid
                                ORDER BY maxsim DESC, did) AS rank
      FROM score
    )
    SELECT qid, CAST(rank AS BIGINT) AS rank, did, maxsim
    FROM ranked WHERE rank <= 5 ORDER BY qid, rank
    """,
)
def x185_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.expr("vec_id div 8").alias("gid"),
        "vec_id",
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1000).cast("long")
        ).alias("q"),
    )
    qtok = v.filter(F.col("gid") < 2).select(
        F.col("gid").alias("qid"), F.col("vec_id").alias("qt"), F.col("q").alias("qv")
    )
    dtok = v.filter(F.col("gid") >= 2).select(
        F.col("gid").alias("did"), F.col("vec_id").alias("dt"), F.col("q").alias("dv")
    )
    dots = F.broadcast(qtok).crossJoin(dtok).select(
        "qid",
        "qt",
        "did",
        "dt",
        F.aggregate(
            F.zip_with("qv", "dv", lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    best = dots.groupBy("qid", "qt", "did").agg(F.max("dot").alias("m"))
    score = best.groupBy("qid", "did").agg(F.sum("m").alias("maxsim"))
    ranked = score.withColumn(
        "rank",
        F.row_number()
        .over(Window.partitionBy("qid").orderBy(F.desc("maxsim"), "did"))
        .cast("long"),
    )
    return (
        ranked.filter(F.col("rank") <= 5)
        .select("qid", "rank", "did", "maxsim")
        .orderBy("qid", "rank")
    )


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
# x187 — weighted median (and p25/p75) of order price per priority,
# weight = the order's line count: the quantile definition used when
# rows carry sampling or volume weights. Nearest-rank on the CUMULATIVE
# WEIGHT axis — first value whose running weight reaches p% of total
# weight — all integers, one shuffle on the group key.
# --------------------------------------------------------------------------
@harness_query(
    "x187_weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT o.o_orderpriority AS pri,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             COUNT(*) AS wt
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), cum AS (
      SELECT pri, cents, wt,
             SUM(wt) OVER (PARTITION BY pri ORDER BY cents, wt) AS cw,
             SUM(wt) OVER (PARTITION BY pri) AS tw
      FROM w
    )
    SELECT pri,
           MIN(CASE WHEN cw * 100 >= tw * 25 THEN cents END) AS p25_cents,
           MIN(CASE WHEN cw * 100 >= tw * 50 THEN cents END) AS p50_cents,
           MIN(CASE WHEN cw * 100 >= tw * 75 THEN cents END) AS p75_cents,
           CAST(MIN(tw) AS BIGINT) AS total_weight
    FROM cum GROUP BY pri ORDER BY pri
    """,
)
def x187_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("pri", "cents")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    cum = w.select(
        "pri",
        "cents",
        "wt",
        F.sum("wt")
        .over(Window.partitionBy("pri").orderBy("cents", "wt"))
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy("pri")).alias("tw"),
    )

    def at(p):
        return F.min(
            F.when(F.expr(f"cw * 100 >= tw * {p}"), F.col("cents"))
        ).alias(f"p{p}_cents")

    return (
        cum.groupBy("pri")
        .agg(at(25), at(50), at(75), F.min("tw").alias("total_weight"))
        .orderBy("pri")
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
# x189 — HLL set-operation cardinalities: distinct-user UNION estimates
# for every event-type pair by max-merging the two types' register
# vectors — the lossless-merge property that makes HLL the distributed
# cardinality sketch (partial registers combine exactly like partial
# sums) — plus inclusion-exclusion intersection estimates. Same
# integer-exact md5/dyadic arithmetic as x188, so pairwise estimates
# value-oracle too. Exact pairwise distinct unions would shuffle
# |users|·|pairs| rows; registers shuffle 64·|pairs|.
# --------------------------------------------------------------------------
@harness_query(
    "x189_hll_union_eval",
    oracle="""
    WITH h AS (
      SELECT event_type,
             user_id,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ), r AS (
      SELECT event_type, hv % 64 AS bucket,
             MAX(CASE WHEN hv // 64 > 0 THEN 27 - length(bin(hv // 64))
                      ELSE 27 END) AS m
      FROM h GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.bucket AS bucket, GREATEST(a.m, b.m) AS m
      FROM r a JOIN r b ON a.bucket = b.bucket AND a.event_type < b.event_type
    ), merged AS (
      SELECT type_a, type_b,
             CAST(SUM(1::BIGINT << (32 - m)) AS BIGINT) AS tp,
             COUNT(*) AS np
      FROM pairs GROUP BY 1, 2
    ), est AS (
      SELECT type_a, type_b,
             CAST((709 * 64 * 64 * 4294967296) //
                  (1000 * (tp + (64 - np) * 4294967296)) AS BIGINT)
               AS union_est
      FROM merged
    ), tru AS (
      SELECT a.type_a, a.type_b, COUNT(DISTINCT u.user_id) AS union_true
      FROM (SELECT DISTINCT e1.event_type AS type_a, e2.event_type AS type_b
            FROM events e1, events e2
            WHERE e1.event_type < e2.event_type) a
      JOIN events u
        ON u.event_type = a.type_a OR u.event_type = a.type_b
      GROUP BY 1, 2
    )
    SELECT type_a, type_b, union_true, union_est,
           CAST((union_est - union_true) * 1000000 // union_true AS BIGINT)
             AS err_ppm
    FROM est JOIN tru USING (type_a, type_b)
    ORDER BY type_a, type_b
    """,
)
def x189_hll_union_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hv = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    r = (
        events.select(
            "event_type",
            F.pmod(hv, F.lit(64)).alias("bucket"),
            (hv / 64).cast("long").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") > 0, F.lit(27) - F.length(F.expr("bin(w)"))).otherwise(
                F.lit(27)
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    a = r.select(
        F.col("event_type").alias("type_a"), "bucket", F.col("m").alias("ma")
    )
    b = r.select(
        F.col("event_type").alias("type_b"), "bucket", F.col("m").alias("mb")
    )
    merged = (
        a.join(b, "bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .select("type_a", "type_b", "bucket", F.greatest("ma", "mb").alias("m"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("shiftleft(1L, cast(32 - m as int))")).alias("tp"),
            F.count(F.lit(1)).alias("np"),
        )
        .select(
            "type_a",
            "type_b",
            F.expr(
                "(709L * 64 * 64 * 4294967296L) div "
                "(1000 * (tp + (64 - np) * 4294967296L))"
            ).alias("union_est"),
        )
    )
    pairs = (
        events.select("event_type")
        .distinct()
        .alias("x")
        .join(events.select("event_type").distinct().alias("y"))
        .filter(F.expr("x.event_type < y.event_type"))
        .select(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
    )
    tru = (
        pairs.join(
            events.select("event_type", "user_id"),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count_distinct("user_id").alias("union_true"))
    )
    return (
        merged.join(tru, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "union_true",
            "union_est",
            F.expr("(union_est - union_true) * 1000000 div union_true").alias(
                "err_ppm"
            ),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# x190 — k-anonymity audit (privacy readiness before sharing training
# data): treat (nation, market segment) as the quasi-identifier on
# customer and report, per nation, the equivalence classes smaller than
# k=5 — the rows a release would have to suppress or generalize — plus
# the suppression fraction in ppm. One aggregation tree, no joins
# beyond the roll-up.
# --------------------------------------------------------------------------
@harness_query(
    "x190_k_anonymity_audit",
    oracle="""
    WITH eq AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           COUNT(*) AS n_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS violating_classes,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                AS BIGINT) AS rows_to_suppress,
           CAST(SUM(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                * 1000000 // SUM(class_size) AS BIGINT) AS suppress_ppm
    FROM eq GROUP BY 1 ORDER BY 1
    """,
)
def x190_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    eq = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        eq.groupBy(F.col("c_nationkey").cast("long").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum(F.when(F.col("class_size") < 5, 1).otherwise(0)).alias(
                "violating_classes"
            ),
            F.sum(
                F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0)
            ).alias("rows_to_suppress"),
            F.expr(
                "sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)"
                " * 1000000 div sum(class_size)"
            ).alias("suppress_ppm"),
        )
        .orderBy("nationkey")
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
    v = pca_power_iteration(emb, n_iter=3)
    return spark.createDataFrame(
        [(i + 1, x) for i, x in enumerate(v)], "dim long, loading long"
    ).orderBy("dim")


# --------------------------------------------------------------------------
# x192 — Johnson–Lindenstrauss random projection eval: project the
# 64-dim embeddings to 16 dims with a ±1 sign matrix derived from md5
# (Achlioptas 2003 — database-friendly projections need only ±1, no
# gaussians), then measure squared-distance distortion on 10 fixed
# pairs in ppm. Signs, projections, and distances are integer
# end-to-end, so the whole eval value-oracles. Scale: the projection
# is a map-side Σ ±x per (row, out-dim) — no shuffle until the d→k
# reduction, and k·n output beats d·n storage 4× here.
# --------------------------------------------------------------------------
@harness_query(
    "x192_jl_projection_eval",
    oracle="""
    WITH comp AS (
      SELECT vec_id, i,
             CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS x
      FROM embeddings CROSS JOIN range(1, 65) r(i)
      WHERE vec_id < 110
    ), signs AS (
      SELECT i, j,
             1 - 2 * (CAST(('0x' || substring(md5(CAST(i AS VARCHAR) || '_' ||
                                               CAST(j AS VARCHAR)), 1, 8))
                           AS BIGINT) % 2) AS s
      FROM range(1, 65) a(i) CROSS JOIN range(1, 17) b(j)
    ), proj AS (
      SELECT c.vec_id, s.j, CAST(SUM(s.s * c.x) AS BIGINT) AS y
      FROM comp c JOIN signs s USING (i) GROUP BY 1, 2
    ), pairs AS (
      SELECT p AS pair_id, p AS va, p + 100 AS vb FROM range(0, 10) t(p)
    ), d_orig AS (
      SELECT p.pair_id,
             CAST(SUM((a.x - b.x) * (a.x - b.x)) AS BIGINT) AS d2_orig
      FROM pairs p
      JOIN comp a ON a.vec_id = p.va
      JOIN comp b ON b.vec_id = p.vb AND b.i = a.i
      GROUP BY 1
    ), d_proj AS (
      SELECT p.pair_id,
             CAST(SUM((a.y - b.y) * (a.y - b.y)) // 16 AS BIGINT) AS d2_proj
      FROM pairs p
      JOIN proj a ON a.vec_id = p.va
      JOIN proj b ON b.vec_id = p.vb AND b.j = a.j
      GROUP BY 1
    )
    SELECT pair_id, d2_orig, d2_proj,
           CAST(d2_proj * 1000000 // d2_orig AS BIGINT) AS ratio_ppm
    FROM d_orig JOIN d_proj USING (pair_id)
    ORDER BY pair_id
    """,
)
def x192_jl_projection_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 110)
    comp = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                "embedding", lambda v: (v.cast("double") * 1000).cast("long")
            )
        ).alias("i0", "x"),
    ).withColumn("i", F.col("i0") + 1)
    signs = (
        spark.range(1, 65)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(spark.range(1, 17).select(F.col("id").cast("int").alias("j")))
        .select(
            "i",
            "j",
            (
                F.lit(1)
                - 2
                * (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "_",
                                    F.col("i").cast("string"),
                                    F.col("j").cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2
                )
            ).alias("s"),
        )
    )
    proj = (
        comp.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("x")).alias("y"))
    )
    pairs = spark.range(0, 10).select(
        F.col("id").alias("pair_id"),
        F.col("id").alias("va"),
        (F.col("id") + 100).alias("vb"),
    )
    d_orig = (
        pairs.join(comp.alias("a"), F.col("a.vec_id") == F.col("va"))
        .join(
            comp.alias("b"),
            (F.col("b.vec_id") == F.col("vb")) & (F.col("b.i") == F.col("a.i")),
        )
        .groupBy("pair_id")
        .agg(
            F.sum(
                (F.col("a.x") - F.col("b.x")) * (F.col("a.x") - F.col("b.x"))
            ).alias("d2_orig")
        )
    )
    d_proj = (
        pairs.join(proj.alias("a"), F.col("a.vec_id") == F.col("va"))
        .join(
            proj.alias("b"),
            (F.col("b.vec_id") == F.col("vb")) & (F.col("b.j") == F.col("a.j")),
        )
        .groupBy("pair_id")
        .agg(
            F.expr("sum((a.y - b.y) * (a.y - b.y)) div 16").alias("d2_proj")
        )
    )
    return (
        d_orig.join(d_proj, "pair_id")
        .select(
            "pair_id",
            "d2_orig",
            "d2_proj",
            F.expr("d2_proj * 1000000 div d2_orig").alias("ratio_ppm"),
        )
        .orderBy("pair_id")
    )


# --------------------------------------------------------------------------
# x193 — AMS second-moment (F2) sketch eval (Alon, Matias & Szegedy
# 1996): estimate Σ count(w)² of the word-frequency vector with 8
# ±1-sign linear sketches Z_r = Σ sign_r(w)·count(w), est = mean(Z²) —
# the self-join size / skew statistic that powers join planning. Signs
# from md5(word||row), so every Z value-oracles; at 100 TB each Z is
# one map-side ±count fold to a single long.
# --------------------------------------------------------------------------
@harness_query(
    "x193_ams_f2_eval",
    oracle="""
    WITH wc AS (
      SELECT w, COUNT(*) AS cnt FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents) GROUP BY w
    ), z AS (
      SELECT r.r,
             CAST(SUM((1 - 2 * (CAST(('0x' || substring(md5(w || '#' ||
                                        CAST(r.r AS VARCHAR)), 1, 8)) AS BIGINT)
                                % 2)) * cnt) AS BIGINT) AS zval
      FROM wc CROSS JOIN range(0, 8) r(r) GROUP BY r.r
    ), est AS (
      SELECT CAST(SUM(zval * zval) // 8 AS BIGINT) AS f2_est FROM z
    ), tru AS (
      SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS f2_true FROM wc
    )
    SELECT f2_true, f2_est,
           CAST((f2_est - f2_true) * 1000000 // f2_true AS BIGINT) AS err_ppm
    FROM tru CROSS JOIN est
    """,
)
def x193_ams_f2_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = spark.range(0, 8).select(F.col("id").cast("int").alias("r"))
    z = (
        wc.crossJoin(F.broadcast(rows))
        .select(
            "r",
            (
                (
                    F.lit(1)
                    - 2
                    * (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.col("w"),
                                        F.lit("#"),
                                        F.col("r").cast("string"),
                                    )
                                ),
                                1,
                                8,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % 2
                    )
                )
                * F.col("cnt")
            ).alias("term"),
        )
        .groupBy("r")
        .agg(F.sum("term").alias("zval"))
    )
    est = z.agg(F.expr("sum(zval * zval) div 8").alias("f2_est"))
    tru = wc.agg(F.sum(F.col("cnt") * F.col("cnt")).alias("f2_true"))
    return tru.crossJoin(est).select(
        "f2_true",
        "f2_est",
        F.expr("(f2_est - f2_true) * 1000000 div f2_true").alias("err_ppm"),
    )


# --------------------------------------------------------------------------
# x194 — sorted-neighborhood entity-resolution blocking (Hernández &
# Stolfo 1995), the complement of x131's length-banded blocking: sort
# customer names on a normalized key, slide a window of size 4 over
# the sorted order, and emit only within-window candidate pairs —
# O(n·w) candidates instead of O(n²) — then verify with levenshtein
# <= 2. lead() generates the window pairs without a self-join. Scale
# note: the global sort is range-partitioned by Spark; the classic
# multi-pass variant (different keys per pass) covers boundary misses,
# and per-partition overlap of w-1 rows removes the seam — single
# pass, fixed key here, as the reference method prescribes.
# --------------------------------------------------------------------------
@harness_query(
    "x194_sorted_neighborhood_pairs",
    oracle="""
    WITH names AS (
      SELECT c_custkey, c_name,
             lower(replace(c_name, '#', '')) AS sort_key
      FROM customer WHERE c_custkey < 500
    ), ordered AS (
      SELECT c_custkey, c_name, sort_key,
             row_number() OVER (ORDER BY sort_key, c_custkey) AS pos
      FROM names
    ), cand AS (
      SELECT a.c_custkey AS key_a, a.c_name AS name_a,
             b.c_custkey AS key_b, b.c_name AS name_b
      FROM ordered a JOIN ordered b
        ON b.pos > a.pos AND b.pos <= a.pos + 3
    )
    SELECT key_a, key_b, name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 2
    ORDER BY key_a, key_b
    """,
)
def x194_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    names = cust.select(
        "c_custkey",
        "c_name",
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit(""))).alias(
            "sort_key"
        ),
    )
    wo = Window.orderBy("sort_key", "c_custkey")
    ordered = names.withColumn("pos", F.row_number().over(wo))
    # window pairs via lead: offsets 1..3 ahead in the sorted order
    cands = None
    for off in (1, 2, 3):
        wpair = ordered.select(
            F.col("c_custkey").alias("key_a"),
            F.col("c_name").alias("name_a"),
            F.lead("c_custkey", off).over(wo).alias("key_b"),
            F.lead("c_name", off).over(wo).alias("name_b"),
        ).filter(F.col("key_b").isNotNull())
        cands = wpair if cands is None else cands.unionByName(wpair)
    return (
        cands.withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("dist") <= 2)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
        .orderBy("key_a", "key_b")
    )


# --------------------------------------------------------------------------
# x195 — top session paths: sessionize (q22's 30-minute-gap rule),
# concatenate each session's event types in order, and count the 10
# most frequent paths — the "what do users actually do" summary that
# powers funnel design. Path assembly is the A10 ordered-string-agg
# idiom inside each (user, session); everything downstream is one
# count shuffle on the path string.
# --------------------------------------------------------------------------
@harness_query(
    "x195_top_session_paths",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
    ), flagged AS (
      SELECT user_id, event_id, event_type, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, tus,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY tus, event_id) AS session_id
      FROM flagged
    ), paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY tus, event_id) AS path
      FROM sess GROUP BY 1, 2
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT 10
    """,
)
def x195_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gap = F.col("tus") - F.lag("tus").over(w)
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.lag("tus").over(w).isNull() | (gap > 1_800_000_000), 1
        ).otherwise(0),
    )
    sess = flagged.withColumn("session_id", F.sum("new_session").over(w))
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("tus", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# x196 — decision-stump training, distributed and exact: the best
# single split (feature, threshold) for predicting "order is
# high-priority" by weighted Gini impurity, found in ONE pass per
# feature via the classic sorted-prefix-sum sweep (every distinct
# value is a candidate threshold; left/right class counts come from
# cumulative windows, never a per-candidate rescan). Impurity is
# micro-fixed-point integer arithmetic — truncation is part of the
# declared objective, so both engines pick the identical argmin.
# This is the inner loop of tree ensembles at 100 TB: shuffle cost is
# one sort per feature, candidates stream as prefix sums.
# --------------------------------------------------------------------------
@harness_query(
    "x196_decision_stump",
    oracle="""
    WITH base AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS omonth,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
    ), feats AS (
      SELECT 'price_cents' AS feature, price_cents AS v, y FROM base
      UNION ALL
      SELECT 'order_month' AS feature, omonth AS v, y FROM base
    ), agg AS (
      SELECT feature, v, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS pos
      FROM feats GROUP BY 1, 2
    ), cum AS (
      SELECT feature, v,
             SUM(n)   OVER w AS n_l,
             SUM(pos) OVER w AS pos_l,
             SUM(n)   OVER p AS n_t,
             SUM(pos) OVER p AS pos_t
      FROM agg
      WINDOW w AS (PARTITION BY feature ORDER BY v),
             p AS (PARTITION BY feature)
    ), scored AS (
      -- class-count squares widen to HUGEINT (Spark: DECIMAL(38,0)):
      -- pos_l^2 * 1e6 overflows int64 from ~3M positives, i.e. at the
      -- sf10 sweep's 15M-order scale (round-10 finding); quotients and
      -- the final statistic stay well inside int64 and both engines
      -- truncate identically
      SELECT feature, v AS threshold,
             (n_l * 1000000 - (CAST(pos_l AS HUGEINT) * pos_l
                               + CAST(n_l - pos_l AS HUGEINT) * (n_l - pos_l))
                              * 1000000 // n_l)
             + ((n_t - n_l) * 1000000
                - (CAST(pos_t - pos_l AS HUGEINT) * (pos_t - pos_l)
                   + CAST((n_t - n_l) - (pos_t - pos_l) AS HUGEINT)
                     * ((n_t - n_l) - (pos_t - pos_l))) * 1000000
                  // (n_t - n_l)) AS gini_micro,
             n_l, pos_l
      FROM cum WHERE n_l < n_t
    ), best AS (
      SELECT feature, threshold, CAST(gini_micro AS BIGINT) AS gini_micro,
             CAST(n_l AS BIGINT) AS n_left, CAST(pos_l AS BIGINT) AS pos_left,
             row_number() OVER (ORDER BY gini_micro, feature, threshold) AS rn
      FROM scored
    )
    SELECT feature, threshold, gini_micro, n_left, pos_left
    FROM best WHERE rn = 1
    """,
)
def x196_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.month(F.col("o_orderdate")).cast("long").alias("omonth"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    feats = base.select(
        F.lit("price_cents").alias("feature"),
        F.col("price_cents").alias("v"),
        "y",
    ).unionByName(
        base.select(
            F.lit("order_month").alias("feature"),
            F.col("omonth").alias("v"),
            "y",
        )
    )
    agg = feats.groupBy("feature", "v").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = Window.partitionBy("feature").orderBy("v")
    p = Window.partitionBy("feature")
    cum = agg.select(
        "feature",
        "v",
        F.sum("n").over(w).alias("n_l"),
        F.sum("pos").over(w).alias("pos_l"),
        F.sum("n").over(p).alias("n_t"),
        F.sum("pos").over(p).alias("pos_t"),
    )
    scored = cum.filter(F.col("n_l") < F.col("n_t")).select(
        "feature",
        F.col("v").alias("threshold"),
        # DECIMAL(38,0) intermediates: pos_l^2 * 1e6 overflows int64 at
        # the sf10 sweep's order counts (ANSI ARITHMETIC_OVERFLOW,
        # round-10 finding); the quotient and final statistic fit int64
        # and `div` truncates exactly like the oracle's HUGEINT `//`
        F.expr(
            "(n_l * 1000000 - (cast(pos_l AS decimal(38,0)) * pos_l"
            " + cast(n_l - pos_l AS decimal(38,0)) * (n_l - pos_l))"
            " * 1000000 div n_l)"
            " + ((n_t - n_l) * 1000000"
            " - (cast(pos_t - pos_l AS decimal(38,0)) * (pos_t - pos_l)"
            "    + cast((n_t - n_l) - (pos_t - pos_l) AS decimal(38,0))"
            "      * ((n_t - n_l) - (pos_t - pos_l))) * 1000000"
            "   div (n_t - n_l))"
        ).alias("gini_micro"),
        F.col("n_l").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
    )
    return (
        scored.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy("gini_micro", "feature", "threshold")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("feature", "threshold", "gini_micro", "n_left", "pos_left")
    )


# --------------------------------------------------------------------------
# x197 — cross-source quantile normalization (the microarray-era
# calibration trick, applied to curation): each source's raw quality
# score (token count here) maps to the POOLED distribution's value at
# the same quantile, so one global keep-threshold treats heterogeneous
# sources fairly. Nearest-rank arithmetic end-to-end: source rank r of
# n_s maps to pooled rank ceil(r·N/n_s), answered by one join against
# the pooled sorted values — two sorts and a lookup join, no
# per-source recompute.
# --------------------------------------------------------------------------
@harness_query(
    "x197_quantile_normalize",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS score
      FROM documents
    ), pooled AS (
      SELECT score AS pooled_score,
             row_number() OVER (ORDER BY score, doc_id) AS prank
      FROM tok
    ), n AS (SELECT COUNT(*) AS n_total FROM tok),
    src AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM tok
    )
    SELECT s.doc_id, s.source, s.score,
           (s.r * n.n_total + s.n_s - 1) // s.n_s AS target_rank,
           p.pooled_score AS normalized_score
    FROM src s CROSS JOIN n
    JOIN pooled p ON p.prank = (s.r * n.n_total + s.n_s - 1) // s.n_s
    ORDER BY s.doc_id
    """,
)
def x197_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        )
        .cast("long")
        .alias("score"),
    )
    pooled = tok.select(
        F.col("score").alias("pooled_score"),
        F.row_number().over(Window.orderBy("score", "doc_id")).alias("prank"),
    )
    n = tok.agg(F.count(F.lit(1)).alias("n_total"))
    src = tok.select(
        "doc_id",
        "source",
        "score",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("score", "doc_id"))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    return (
        src.crossJoin(F.broadcast(n))
        .withColumn("target_rank", F.expr("(r * n_total + n_s - 1) div n_s"))
        .join(pooled, F.col("prank") == F.col("target_rank"))
        .select(
            "doc_id",
            "source",
            "score",
            "target_rank",
            F.col("pooled_score").alias("normalized_score"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x198 — the feature-hashing trick (Weinberger et al. 2009): project
# sparse categorical features (event_type, user-id bucket, hour) into
# a fixed 32-dim indexed space via md5 bucket + md5 ± sign, the way
# every large-scale linear/FM model escapes vocabulary dictionaries.
# Reported per output dim: how many distinct input features collided
# there and the net signed weight of one reference row group — the
# collision-rate audit you run before trusting hashed features.
# Integer/md5 end-to-end; no dictionary state anywhere (the point).
# --------------------------------------------------------------------------
@harness_query(
    "x198_feature_hashing_audit",
    oracle="""
    WITH feats AS (
      SELECT 'etype=' || event_type AS feat FROM events
      UNION ALL
      SELECT 'ubucket=' || CAST(user_id % 50 AS VARCHAR) FROM events
      UNION ALL
      SELECT 'hour=' || CAST(EXTRACT(hour FROM ts) AS VARCHAR) FROM events
    ), hashed AS (
      SELECT feat,
             CAST(('0x' || substring(md5(feat), 1, 8)) AS BIGINT) % 32 AS dim,
             1 - 2 * (CAST(('0x' || substring(md5('s#' || feat), 1, 8))
                           AS BIGINT) % 2) AS sgn,
             COUNT(*) AS cnt
      FROM feats GROUP BY 1
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           COUNT(*) AS n_feats_colliding,
           CAST(SUM(sgn * cnt) AS BIGINT) AS net_weight,
           CAST(SUM(cnt) AS BIGINT) AS gross_weight
    FROM hashed GROUP BY dim ORDER BY dim
    """,
)
def x198_feature_hashing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    feats = (
        events.select(F.concat(F.lit("etype="), F.col("event_type")).alias("feat"))
        .unionByName(
            events.select(
                F.concat(
                    F.lit("ubucket="), (F.col("user_id") % 50).cast("string")
                ).alias("feat")
            )
        )
        .unionByName(
            events.select(
                F.concat(
                    F.lit("hour="), F.hour("ts").cast("string")
                ).alias("feat")
            )
        )
    )
    h = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
    hashed = feats.groupBy("feat").agg(F.count(F.lit(1)).alias("cnt")).select(
        "feat",
        "cnt",
        F.pmod(h(F.col("feat")), F.lit(32)).alias("dim"),
        (F.lit(1) - 2 * (h(F.concat(F.lit("s#"), F.col("feat"))) % 2)).alias(
            "sgn"
        ),
    )
    return (
        hashed.groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_feats_colliding"),
            F.sum(F.col("sgn") * F.col("cnt")).alias("net_weight"),
            F.sum("cnt").alias("gross_weight"),
        )
        .orderBy("dim")
    )


# --------------------------------------------------------------------------
# x199 — distribution drift detection: split the event stream at its
# median timestamp, build 10-bin equi-width histograms of the value
# column for each half (bin edges from the GLOBAL range so the halves
# share bins), and report the chi-square drift statistic in micro
# units — the production data-drift monitor between a reference window
# and a live window. Expected counts are scaled by the half-size
# ratio in integer ppm; everything value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x199_value_drift_chi2",
    oracle="""
    WITH e AS (
      SELECT epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus) AS r,
               COUNT(*) OVER () AS n
        FROM e) WHERE r = (n + 1) // 2
    ), rng AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM e
    ), binned AS (
      SELECT CASE WHEN e.tus <= med.m THEN 'ref' ELSE 'live' END AS half,
             LEAST(9, (e.cents - rng.lo) * 10 // (rng.hi - rng.lo + 1)) AS bin
      FROM e CROSS JOIN med CROSS JOIN rng
    ), counts AS (
      SELECT bin,
             CAST(SUM(CASE WHEN half = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS ref_n,
             CAST(SUM(CASE WHEN half = 'live' THEN 1 ELSE 0 END) AS BIGINT)
               AS live_n
      FROM binned GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_t,
             CAST(SUM(live_n) AS BIGINT) AS live_t
      FROM counts
    )
    -- HUGEINT intermediates (Spark: DECIMAL(38,0)): ref_n*live_t*1e6
    -- and the squared cross-term overflow int64 at the sf10 sweep's
    -- event counts (round-10 finding); the quotients fit int64
    SELECT CAST(bin AS BIGINT) AS bin, ref_n, live_n,
           CAST(CAST(ref_n AS HUGEINT) * live_t * 1000000
                // (ref_t * GREATEST(live_n, 1)) AS BIGINT) AS ratio_ppm,
           CAST((CAST(live_n AS HUGEINT) * ref_t - CAST(ref_n AS HUGEINT) * live_t)
                * (CAST(live_n AS HUGEINT) * ref_t - CAST(ref_n AS HUGEINT) * live_t)
                // (CAST(GREATEST(ref_n, 1) AS HUGEINT) * ref_t * live_t) AS BIGINT)
             AS chi2_term_scaled
    FROM counts CROSS JOIN tot
    ORDER BY bin
    """,
)
def x199_value_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = (
        e.select(
            "tus",
            F.row_number().over(Window.orderBy("tus")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    rng = e.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = (
        e.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(rng))
        .select(
            F.when(F.col("tus") <= F.col("m"), "ref").otherwise("live").alias(
                "half"
            ),
            F.least(
                F.lit(9), F.expr("(cents - lo) * 10 div (hi - lo + 1)")
            ).alias("bin"),
        )
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == "ref", 1).otherwise(0)).alias("ref_n"),
        F.sum(F.when(F.col("half") == "live", 1).otherwise(0)).alias("live_n"),
    )
    tot = counts.agg(
        F.sum("ref_n").alias("ref_t"), F.sum("live_n").alias("live_t")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            "ref_n",
            "live_n",
            # DECIMAL(38,0) intermediates: these products overflow int64
            # at the sf10 sweep's event counts (round-10 finding); the
            # quotients fit int64 and div truncates exactly like the
            # oracle's HUGEINT //
            F.expr(
                "cast(cast(ref_n AS decimal(38,0)) * live_t * 1000000"
                " div (ref_t * GREATEST(live_n, 1L)) as bigint)"
            ).alias("ratio_ppm"),
            F.expr(
                "cast((cast(live_n AS decimal(38,0)) * ref_t"
                "      - cast(ref_n AS decimal(38,0)) * live_t)"
                " * (cast(live_n AS decimal(38,0)) * ref_t"
                "    - cast(ref_n AS decimal(38,0)) * live_t)"
                " div (cast(GREATEST(ref_n, 1L) AS decimal(38,0))"
                "      * ref_t * live_t) as bigint)"
            ).alias("chi2_term_scaled"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# x200 — curation pipeline v2, composing this round's operators into
# one auditable flow (q49 is v1): (1) integer-logit quality gate
# (x183), (2) exact dedup keeping the lowest doc_id per normalized
# text (q14), (3) alpha-smoothed language quotas over a 200-doc budget
# (x173) filled by exact-allocation lowest-hash draws (x174), then
# (4) a deterministic 90/10 train/eval hash split (x297). Every stage
# is individually driver-oracled; this query oracles the COMPOSITION —
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
# x201 — perceptual-hash near-dup for binary assets (block-mean hash,
# the pHash family's simplest member): 16 block means over the payload
# bytes, bit = block mean > global mean, 16-bit fingerprint, then
# near-dup pairs by hamming <= 3 found via the 2-chunk pigeonhole
# (any pair within distance 3 agrees exactly on at least one 8-bit
# half — the x41 SimHash trick). Everything is JVM-native expressions:
# bytes parse via hex()+conv, no Python in the path, so the entire
# multimodal fingerprint pipeline value-oracles. At 100 TB the
# candidate join keys on (chunk, value) buckets — never all pairs.
# Byte-block comparisons use cross-multiplied integer means (no
# division): sum_b·n > total·n_b.
# --------------------------------------------------------------------------
@harness_query(
    "x201_phash_near_dup",
    oracle="""
    WITH assets AS (
      SELECT doc_id AS asset_id, encode(text) AS payload
      FROM documents WHERE doc_id < 200
    ), parsed AS (
      SELECT asset_id, hex(payload) AS hx,
             CAST(octet_length(payload) AS BIGINT) AS n
      FROM assets
    ), bytes AS (
      SELECT asset_id, n, i,
             CAST(('0x' || substring(hx, CAST(2 * i + 1 AS INT), 2)) AS BIGINT)
               AS bv
      FROM parsed CROSS JOIN range(0, 4096) r(i)
      WHERE i < n
    ), blocks AS (
      SELECT asset_id, n, (i * 16) // n AS b,
             CAST(SUM(bv) AS BIGINT) AS s, COUNT(*) AS nb
      FROM bytes GROUP BY 1, 2, 3
    ), tot AS (
      SELECT asset_id, CAST(SUM(s) AS BIGINT) AS total, n FROM blocks
      GROUP BY asset_id, n
    ), fp AS (
      SELECT b.asset_id,
             CAST(SUM(CASE WHEN b.s * t.n > t.total * b.nb
                           THEN (1::BIGINT << CAST(b.b AS INT)) ELSE 0 END)
                  AS BIGINT) AS h
      FROM blocks b JOIN tot t USING (asset_id)
      GROUP BY b.asset_id
    ), chunks AS (
      SELECT asset_id, h, c.c AS chunk, (h >> (8 * c.c)) & 255 AS cv
      FROM fp CROSS JOIN range(0, 2) c(c)
    ), cand AS (
      SELECT DISTINCT a.asset_id AS id_a, a.h AS ha,
                      b.asset_id AS id_b, b.h AS hb
      FROM chunks a JOIN chunks b
        ON a.chunk = b.chunk AND a.cv = b.cv AND a.asset_id < b.asset_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3
    ORDER BY id_a, id_b
    """,
)
def x201_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.multimodal import texts_as_assets

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    assets = texts_as_assets(docs)
    parsed = assets.select(
        "asset_id",
        F.hex("payload").alias("hx"),
        F.length("payload").cast("long").alias("n"),
    )
    bytes_df = parsed.select(
        "asset_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
        "hx",
    ).select(
        "asset_id",
        "n",
        "i",
        F.conv(
            F.expr("substring(hx, cast(2 * i + 1 as int), 2)"), 16, 10
        )
        .cast("long")
        .alias("bv"),
    )
    blocks = (
        bytes_df.withColumn("b", F.expr("(i * 16) div n"))
        .groupBy("asset_id", "n", "b")
        .agg(F.sum("bv").alias("s"), F.count(F.lit(1)).alias("nb"))
    )
    tot = blocks.groupBy("asset_id", "n").agg(F.sum("s").alias("total"))
    fp = (
        blocks.join(tot, ["asset_id", "n"])
        .groupBy("asset_id")
        .agg(
            F.sum(
                F.when(
                    F.expr("s * n > total * nb"),
                    F.expr("shiftleft(1L, cast(b as int))"),
                ).otherwise(F.lit(0))
            ).alias("h")
        )
    )
    chunks = fp.select(
        "asset_id",
        "h",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("chunk"),
    ).withColumn("cv", F.expr("shiftright(h, 8 * chunk) & 255"))
    a = chunks.select(
        F.col("asset_id").alias("id_a"), F.col("h").alias("ha"), "chunk", "cv"
    )
    b = chunks.select(
        F.col("asset_id").alias("id_b"), F.col("h").alias("hb"), "chunk", "cv"
    )
    cand = (
        a.join(b, ["chunk", "cv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "ha", "id_b", "hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming", F.expr("bit_count(ha ^ hb)").cast("long")
        )
        .filter(F.col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# x202 — k-core decomposition (3 peeling rounds, k=3) of the
# supplier-part incidence graph (edges = supplier shipped part, both
# endpoints typed): each round drops nodes with degree < k and the
# edges they carry — the fourth iterative-graph op beside PageRank
# (q47), connected components (q43), and label propagation (x167).
# Unrolled like x167 so the oracle replays the exact rounds; the true
# fixpoint just iterates the same step to quiescence. Each round is
# one degree aggregation + two semi-joins — no node ever sees more
# than its incident edges.
# --------------------------------------------------------------------------
def _kcore_oracle(rounds: int, k: int) -> str:
    ctes = ["""
    e0 AS (
      SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS s,
                      CAST(l_partkey AS BIGINT) AS p
      FROM lineitem
    )"""]
    for i in range(1, rounds + 1):
        ctes.append(f"""
    sdeg{i} AS (SELECT s, COUNT(*) AS d FROM e{i-1} GROUP BY s),
    pdeg{i} AS (SELECT p, COUNT(*) AS d FROM e{i-1} GROUP BY p),
    e{i} AS (
      SELECT e.s, e.p FROM e{i-1} e
      JOIN sdeg{i} sd ON sd.s = e.s AND sd.d >= {k}
      JOIN pdeg{i} pd ON pd.p = e.p AND pd.d >= {k}
    )""")
    return (
        "WITH" + ",".join(ctes)
        + f"""
    SELECT 'supplier' AS node_type, s AS node_id, COUNT(*) AS degree
    FROM e{rounds} GROUP BY s
    UNION ALL
    SELECT 'part' AS node_type, p AS node_id, COUNT(*) AS degree
    FROM e{rounds} GROUP BY p
    ORDER BY node_type, node_id"""
    )


@harness_query("x202_kcore_supplier_part", oracle=_kcore_oracle(3, 3))
def x202_kcore_supplier_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.session import checkpoint_cut

    li = load_table(spark, sf_dir, "lineitem")
    # disk-backed lineage cuts (checkpoint_cut): this peeling loop holds
    # 4 copies of a corpus-scale edge frame; retained localCheckpoint
    # blocks OOM'd the 8g local heap at the sf10 sweep (round 10)
    e = checkpoint_cut(
        li.select(
            F.col("l_suppkey").cast("long").alias("s"),
            F.col("l_partkey").cast("long").alias("p"),
        ).distinct()
    )
    k = 3
    for _ in range(3):
        sdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("sd"))
        pdeg = e.groupBy("p").agg(F.count(F.lit(1)).alias("pd"))
        e = checkpoint_cut(
            e.join(sdeg.filter(F.col("sd") >= k), "s")
            .join(pdeg.filter(F.col("pd") >= k), "p")
            .select("s", "p")
        )
    sup = e.groupBy("s").agg(F.count(F.lit(1)).alias("degree")).select(
        F.lit("supplier").alias("node_type"),
        F.col("s").alias("node_id"),
        "degree",
    )
    par = e.groupBy("p").agg(F.count(F.lit(1)).alias("degree")).select(
        F.lit("part").alias("node_type"), F.col("p").alias("node_id"), "degree"
    )
    return sup.unionByName(par).orderBy("node_type", "node_id")


# --------------------------------------------------------------------------
# x203 — FIFO capacity allocation: each order has a 50-unit fulfillment
# budget consumed by its lines in linenumber order; every line gets
# min(requested, remaining) and the rest is shortfall — the running-
# allocation pattern behind credit application, inventory reservation,
# and token-budget packing. Pure prefix-sum windows (allocation =
# clamp of the exclusive running total), one shuffle on the order key.
# --------------------------------------------------------------------------
@harness_query(
    "x203_fifo_allocation",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty
      FROM lineitem WHERE l_orderkey < 5000
    ), run AS (
      SELECT l_orderkey, l_linenumber, qty,
             COALESCE(SUM(qty) OVER (PARTITION BY l_orderkey
                                     ORDER BY l_linenumber
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), 0) AS before_q
      FROM li
    )
    SELECT l_orderkey, l_linenumber, qty,
           CAST(LEAST(qty, GREATEST(50 - before_q, 0)) AS BIGINT) AS allocated,
           CAST(qty - LEAST(qty, GREATEST(50 - before_q, 0)) AS BIGINT)
             AS shortfall
    FROM run ORDER BY l_orderkey, l_linenumber
    """,
)
def x203_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 5000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_quantity").cast("long").alias("qty"),
        )
    )
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    run = li.withColumn("before_q", F.coalesce(F.sum("qty").over(w), F.lit(0)))
    alloc = F.least(F.col("qty"), F.greatest(F.lit(50) - F.col("before_q"), F.lit(0)))
    return run.select(
        "l_orderkey",
        "l_linenumber",
        "qty",
        alloc.alias("allocated"),
        (F.col("qty") - alloc).alias("shortfall"),
    ).orderBy("l_orderkey", "l_linenumber")


# --------------------------------------------------------------------------
# x204 — BPE encoding (the apply side of x178's learn side): apply the
# 3 learned merges to every distinct word, count symbols per word, and
# roll up per source the corpus's character count, post-BPE token
# count, and compression in ppm — the tokenizer-fertility report that
# decides whether a vocabulary is worth its size. Merges apply to the
# DISTINCT-word table (vocabulary-sized), then join back to the
# doc-word stream — the corpus is never re-tokenized row by row.
# --------------------------------------------------------------------------
@harness_query(
    "x204_bpe_encode_report",
    oracle="""
    WITH wf AS (
      SELECT doc_id, source, w FROM (
        SELECT doc_id, source,
               unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
    ), vocab AS (
      SELECT w, COUNT(*) AS freq FROM wf GROUP BY w
    ), s0 AS (
      SELECT w, ' ' || array_to_string(string_split_regex(w, ''), '  ') || ' '
               AS s, freq
      FROM vocab
    ),
    p1 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s0))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
    s1 AS (
      SELECT w, replace(s, ' ' || m1.l || '  ' || m1.r || ' ',
                           ' ' || m1.l || m1.r || ' ') AS s, freq
      FROM s0 CROSS JOIN m1
    ),
    p2 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s1))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
    s2 AS (
      SELECT w, replace(s, ' ' || m2.l || '  ' || m2.r || ' ',
                           ' ' || m2.l || m2.r || ' ') AS s, freq
      FROM s1 CROSS JOIN m2
    ),
    p3 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s2))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
    s3 AS (
      SELECT w, replace(s, ' ' || m3.l || '  ' || m3.r || ' ',
                           ' ' || m3.l || m3.r || ' ') AS s, freq
      FROM s2 CROSS JOIN m3
    ), wtok AS (
      SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS n_sym,
             CAST(length(w) AS BIGINT) AS n_chars
      FROM s3
    )
    SELECT f.source,
           CAST(SUM(t.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(t.n_sym) AS BIGINT) AS total_tokens,
           CAST(SUM(t.n_sym) * 1000000 // SUM(t.n_chars) AS BIGINT)
             AS tokens_per_char_ppm
    FROM wf f JOIN wtok t USING (w)
    GROUP BY f.source ORDER BY f.source
    """,
)
def x204_bpe_encode_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import bpe_learn

    docs = load_table(spark, sf_dir, "documents")
    wf = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("w"),
    )
    vocab = wf.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    # learn on the vocabulary, then read token counts off the final
    # merged sequences (bpe_learn keeps the word string alongside)
    seq0 = vocab.select(
        "w",
        F.concat(
            F.lit(" "), F.array_join(F.split("w", ""), "  "), F.lit(" ")
        ).alias("s"),
        "freq",
    ).localCheckpoint()
    seq = seq0
    for _ in range(3):
        top = (
            seq.selectExpr("freq", "split(trim(s), '  ') AS sy")
            .selectExpr(
                "freq",
                "explode(zip_with(sy, slice(sy, 2, size(sy)),"
                " (l, r) -> struct(l, r))) AS p",
            )
            .filter("p.r IS NOT NULL")
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), "l", "r")
            .limit(1)
            .collect()[0]
        )
        seq = seq.withColumn(
            "s",
            F.replace(
                "s",
                F.lit(f" {top['l']}  {top['r']} "),
                F.lit(f" {top['l']}{top['r']} "),
            ),
        ).localCheckpoint()
    wtok = seq.select(
        "w",
        F.size(F.split(F.trim("s"), "  ")).cast("long").alias("n_sym"),
        F.length("w").cast("long").alias("n_chars"),
    )
    return (
        wf.join(wtok, "w")
        .groupBy("source")
        .agg(
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_sym").alias("total_tokens"),
            F.expr("sum(n_sym) * 1000000 div sum(n_chars)").alias(
                "tokens_per_char_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x205 — T5-style span-corruption example construction (Raffel et al.
# 2020 §3.1.4): every token at (pos + doc_id) % 7 == 0 becomes a
# sentinel <X_k> (k numbered per doc in order); the training input is
# the corrupted text, the target is the sentinel-to-token mapping —
# the last-mile step that turns curated text into model examples.
# Masking, sentinel numbering (a rank over masked positions), and both
# reassemblies are window + ordered-agg expressions; examples are
# deterministic strings both engines produce byte-identically.
# --------------------------------------------------------------------------
@harness_query(
    "x205_span_corruption",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(lst) AS w, generate_subscripts(lst, 1) AS i
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents WHERE doc_id < 100)
    ), marked AS (
      SELECT doc_id, w, i,
             CASE WHEN (i + doc_id) % 7 = 0 THEN 1 ELSE 0 END AS masked
      FROM words
    ), numbered AS (
      SELECT doc_id, w, i, masked,
             SUM(masked) OVER (PARTITION BY doc_id ORDER BY i) AS k
      FROM marked
    )
    SELECT doc_id,
           string_agg(CASE WHEN masked = 1
                           THEN '<X_' || CAST(k AS VARCHAR) || '>'
                           ELSE w END, ' ' ORDER BY i) AS input_text,
           COALESCE(string_agg(CASE WHEN masked = 1
                                    THEN '<X_' || CAST(k AS VARCHAR) || '>'
                                         || w END, ' ' ORDER BY i),
                    '') AS target_text,
           CAST(SUM(masked) AS BIGINT) AS n_masked,
           COUNT(*) AS n_tokens
    FROM numbered GROUP BY doc_id ORDER BY doc_id
    """,
)
def x205_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    words = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("i0", "w"),
    ).withColumn("i", F.col("i0") + 1)
    marked = words.withColumn(
        "masked", F.when((F.col("i") + F.col("doc_id")) % 7 == 0, 1).otherwise(0)
    )
    numbered = marked.withColumn(
        "k", F.sum("masked").over(Window.partitionBy("doc_id").orderBy("i"))
    )
    tok_in = F.when(
        F.col("masked") == 1,
        F.concat(F.lit("<X_"), F.col("k").cast("string"), F.lit(">")),
    ).otherwise(F.col("w"))
    tok_tgt = F.when(
        F.col("masked") == 1,
        F.concat(F.lit("<X_"), F.col("k").cast("string"), F.lit(">"), F.col("w")),
    )
    return (
        numbered.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("i"), tok_in.alias("t")))
                    ),
                    lambda s: s["t"],
                ),
                " ",
            ).alias("input_text"),
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("masked") == 1,
                                    F.struct(F.col("i"), tok_tgt.alias("t")),
                                )
                            )
                        ),
                        lambda s: s["t"],
                    ),
                    " ",
                ),
                F.lit(""),
            ).alias("target_text"),
            F.sum("masked").alias("n_masked"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x206 — causal-LM example construction: sliding windows of 8 context
# tokens + 1 target token with stride 4 over every document — the
# next-token-prediction counterpart of x205's span corruption.
# Windows come from a per-doc token-array transform over the start
# offsets (no self-join, no explode-then-rejoin): slice() carves the
# context, element_at picks the target. Emits one example row per
# window plus per-doc coverage counts.
# --------------------------------------------------------------------------
@harness_query(
    "x206_lm_window_examples",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS lst
      FROM documents WHERE doc_id < 60
    ), starts AS (
      SELECT doc_id, lst, CAST(s.s AS BIGINT) AS start
      FROM toks CROSS JOIN range(1, 4096, 4) s(s)
      WHERE s.s + 8 <= len(lst)
    )
    SELECT doc_id, start,
           array_to_string(lst[start : start + 7], ' ') AS context,
           lst[start + 8] AS target
    FROM starts ORDER BY doc_id, start
    """,
)
def x206_lm_window_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
        ).alias("lst"),
    )
    starts = toks.select(
        "doc_id",
        "lst",
        F.explode(
            F.sequence(F.lit(1), F.size("lst") - 8, F.lit(4))
        ).alias("start0"),
    ).select(
        "doc_id",
        "lst",
        F.col("start0").cast("long").alias("start"),
    )
    return starts.select(
        "doc_id",
        "start",
        F.array_join(F.slice("lst", F.col("start"), F.lit(8)), " ").alias(
            "context"
        ),
        F.element_at("lst", (F.col("start") + 8).cast("int")).alias("target"),
    ).orderBy("doc_id", "start")


# --------------------------------------------------------------------------
# x207 — datasheet-for-datasets (Gebru et al. 2021, the numbers
# section): one per-source summary joining the engine's curation
# signals — corpus size, token mass, exact-dup rate, quality-gate pass
# rate, dominant language share, and boilerplate-chunk incidence — the
# table a data consumer reads before training on a source. Six
# independent aggregation trees joined on source; every signal reuses
# an already-oracled definition (q14 dedup, x183 quality, x172
# chunks), so the datasheet is the composition's value proof.
# --------------------------------------------------------------------------
@harness_query(
    "x207_source_datasheet",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, lang,
             regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm_text,
             list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS lst
      FROM documents
    ), feat AS (
      SELECT doc_id, source, lang, norm_text,
             CAST(len(lst) AS BIGINT) AS tok_cnt,
             CAST(len(list_filter(lst, x -> list_contains(
               ['the','a','an','of','and','to','in','is','it','that'], x)))
               AS BIGINT) AS stop_cnt,
             CAST(len(list_distinct(lst)) AS BIGINT) AS distinct_cnt
      FROM base
    ), dup AS (
      SELECT source, COUNT(*) - COUNT(DISTINCT norm_text) AS n_dup_docs
      FROM feat GROUP BY source
    ), qual AS (
      SELECT source,
             CAST(SUM(CASE WHEN tok_cnt > 0
                   AND 40000 * tok_cnt + distinct_cnt * 1000000 // tok_cnt
                       - 2 * (stop_cnt * 1000000 // tok_cnt) - 1900000 > 0
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
      FROM feat GROUP BY source
    ), lang_top AS (
      SELECT source, MAX(cnt) AS top_lang_n FROM (
        SELECT source, lang, COUNT(*) AS cnt FROM feat GROUP BY 1, 2)
      GROUP BY source
    ), size_t AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(tok_cnt) AS BIGINT) AS total_tokens
      FROM feat GROUP BY source
    )
    SELECT s.source, s.n_docs, s.total_tokens,
           CAST(d.n_dup_docs * 1000000 // s.n_docs AS BIGINT) AS dup_ppm,
           CAST(q.n_pass * 1000000 // s.n_docs AS BIGINT) AS quality_pass_ppm,
           CAST(l.top_lang_n * 1000000 // s.n_docs AS BIGINT)
             AS top_lang_share_ppm
    FROM size_t s
    JOIN dup d USING (source)
    JOIN qual q USING (source)
    JOIN lang_top l USING (source)
    ORDER BY s.source
    """,
)
def x207_source_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    stop = "array('the','a','an','of','and','to','in','is','it','that')"
    feat = docs.selectExpr(
        "doc_id",
        "source",
        "lang",
        "regexp_replace(lower(trim(text)), '\\\\s+', ' ') AS norm_text",
        "filter(split(lower(trim(text)), '\\\\s+'), x -> x != '') AS lst",
    ).selectExpr(
        "doc_id",
        "source",
        "lang",
        "norm_text",
        "cast(size(lst) AS bigint) AS tok_cnt",
        f"cast(size(filter(lst, x -> array_contains({stop}, x))) AS bigint)"
        " AS stop_cnt",
        "cast(size(array_distinct(lst)) AS bigint) AS distinct_cnt",
    ).localCheckpoint()
    dup = feat.groupBy("source").agg(
        (F.count(F.lit(1)) - F.count_distinct("norm_text")).alias("n_dup_docs")
    )
    qual = feat.groupBy("source").agg(
        F.sum(
            F.when(
                F.expr(
                    "tok_cnt > 0 AND "
                    "40000 * tok_cnt + distinct_cnt * 1000000 div tok_cnt"
                    " - 2 * (stop_cnt * 1000000 div tok_cnt) - 1900000 > 0"
                ),
                1,
            ).otherwise(0)
        ).alias("n_pass")
    )
    lang_top = (
        feat.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(F.max("cnt").alias("top_lang_n"))
    )
    size_t = feat.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("tok_cnt").alias("total_tokens")
    )
    return (
        size_t.join(dup, "source")
        .join(qual, "source")
        .join(lang_top, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.expr("n_dup_docs * 1000000 div n_docs").alias("dup_ppm"),
            F.expr("n_pass * 1000000 div n_docs").alias("quality_pass_ppm"),
            F.expr("top_lang_n * 1000000 div n_docs").alias(
                "top_lang_share_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x208 — temporal split with embargo (the time-series CV rule that
# prevents look-ahead leakage): train = strictly before the 80th
# percentile timestamp minus a 1-day embargo, eval = strictly after
# the boundary, embargoed = the gap. Percentile boundary by exact
# nearest-rank; all timestamps as integer micros. Output: per (split,
# event_type) counts and the time span each split covers.
# --------------------------------------------------------------------------
@harness_query(
    "x208_embargo_time_split",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, epoch_us(ts) AS tus FROM events
    ), cut AS (
      SELECT tus AS c FROM (
        SELECT tus, row_number() OVER (ORDER BY tus, event_id) AS r,
               COUNT(*) OVER () AS n
        FROM e) WHERE r = (80 * n + 99) // 100
    ), labeled AS (
      SELECT e.event_type,
             CASE WHEN e.tus < cut.c - 86400000000 THEN 'train'
                  WHEN e.tus > cut.c THEN 'eval'
                  ELSE 'embargoed' END AS split,
             e.tus
      FROM e CROSS JOIN cut
    )
    SELECT split, event_type, COUNT(*) AS n_events,
           CAST(MIN(tus) AS BIGINT) AS span_start_us,
           CAST(MAX(tus) AS BIGINT) AS span_end_us
    FROM labeled GROUP BY 1, 2 ORDER BY split, event_type
    """,
)
def x208_embargo_time_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    cut = (
        e.select(
            "tus",
            F.row_number().over(Window.orderBy("tus", "event_id")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (80 * n + 99) div 100"))
        .select(F.col("tus").alias("c"))
    )
    labeled = e.crossJoin(F.broadcast(cut)).select(
        "event_type",
        "tus",
        F.when(F.col("tus") < F.col("c") - 86_400_000_000, "train")
        .when(F.col("tus") > F.col("c"), "eval")
        .otherwise("embargoed")
        .alias("split"),
    )
    return (
        labeled.groupBy("split", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("tus").alias("span_start_us"),
            F.max("tus").alias("span_end_us"),
        )
        .orderBy("split", "event_type")
    )


# --------------------------------------------------------------------------
# x209 — design-based estimation from the PPS sample (closes the x109
# sampling loop): estimate TOTAL order revenue from a k=200 systematic
# PPS draw weighted by order line-count, using the Hansen-Hurwitz
# estimator Ŷ = (1/k)·Σ_probes y_i·W/w_i — the survey-sampling math
# that lets a 200-row sample answer a 15k-row question with known
# design properties. Every probe, inclusion, and weight is the x109
# integer construction, so the ESTIMATE (not just the sample)
# value-oracles; the signed error vs the true total is reported in
# ppm. This is how you audit a sampling pipeline end-to-end.
# --------------------------------------------------------------------------
@harness_query(
    "x209_pps_ht_estimate_eval",
    oracle="""
    WITH ow AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y,
             CAST(COUNT(l.l_linenumber) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ), lined AS (
      SELECT o_orderkey, y, w,
             SUM(w) OVER (ORDER BY o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_hi
      FROM ow
    ), tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS bigw,
             CAST(SUM(y) AS BIGINT) AS true_total
      FROM ow
    ), probes AS (
      SELECT p.p AS probe_idx,
             ((2 * p.p + 1) * tot.bigw) // 400 AS probe
      FROM range(0, 200) p(p) CROSS JOIN tot
    ), hits AS (
      SELECT l.y, l.w FROM lined l JOIN probes pr
        ON pr.probe >= l.cum_hi - l.w AND pr.probe < l.cum_hi
    )
    -- HUGEINT intermediates (Spark: DECIMAL(38,0)): y*bigw and the
    -- err*1e6 products overflow int64 at the sf10 sweep's 60M-line
    -- weight total (round-10 finding); estimator and ppm fit int64
    SELECT tot.true_total,
           CAST((SELECT SUM(CAST(h.y AS HUGEINT) * tot.bigw // h.w) FROM hits h)
                // 200 AS BIGINT) AS ht_estimate,
           CAST(((SELECT SUM(CAST(h.y AS HUGEINT) * tot.bigw // h.w) FROM hits h)
                 // 200 - tot.true_total) * 1000000 // tot.true_total AS BIGINT)
             AS err_ppm
    FROM tot
    """,
)
def x209_pps_ht_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        pps_systematic_sample,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ow = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("w"))
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
            F.col("w").cast("long").alias("w"),
        )
    )
    tot = ow.agg(
        F.sum("w").alias("bigw"), F.sum("y").alias("true_total")
    )
    sample = pps_systematic_sample(ow, weight_col="w", k=200, order_col="o_orderkey")
    # DECIMAL(38,0) intermediates: y*bigw and the ppm product overflow
    # int64 at the sf10 sweep's 60M-line weight total (round-10
    # finding); the estimator and err_ppm themselves fit int64
    est = (
        sample.crossJoin(F.broadcast(tot))
        .agg(F.expr(
            "cast(sum(cast(y AS decimal(38,0)) * bigw div w) div 200 as bigint)"
        ).alias("ht_estimate"))
    )
    return (
        tot.crossJoin(F.broadcast(est))
        .select(
            "true_total",
            "ht_estimate",
            F.expr(
                "cast((cast(ht_estimate AS decimal(38,0)) - true_total)"
                " * 1000000 div true_total as bigint)"
            ).alias("err_ppm"),
        )
    )


# --------------------------------------------------------------------------
# x210 — difference-in-differences: the canonical quasi-experimental
# readout (treatment = even user ids as the stand-in assignment,
# boundary = the median event timestamp). Four cell means in integer
# micro-cents, the two first differences, and the DiD itself — the
# arithmetic an experimentation platform runs over billions of
# exposure rows, here as one grouped aggregate + a 4-row pivot.
# --------------------------------------------------------------------------
@harness_query(
    "x210_diff_in_diff",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus, event_id) AS r,
               COUNT(*) OVER () AS n
        FROM e) WHERE r = (n + 1) // 2
    ), cells AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp,
             CASE WHEN e.tus <= med.m THEN 'pre' ELSE 'post' END AS period,
             CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS n
      FROM e CROSS JOIN med GROUP BY 1, 2
    ), means AS (
      SELECT grp, period, CAST(s * 1000000 // n AS BIGINT) AS mean_microcents
      FROM cells
    )
    SELECT
      MIN(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_microcents END)
        AS treat_pre,
      MIN(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_microcents END)
        AS treat_post,
      MIN(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_microcents END)
        AS control_pre,
      MIN(CASE WHEN grp = 'control' AND period = 'post' THEN mean_microcents END)
        AS control_post,
      MIN(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_microcents END)
      - MIN(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_microcents END)
      - (MIN(CASE WHEN grp = 'control' AND period = 'post' THEN mean_microcents END)
         - MIN(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_microcents END))
        AS did_microcents
    FROM means
    """,
)
def x210_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = (
        e.select(
            "tus",
            F.row_number().over(Window.orderBy("tus", "event_id")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    means = (
        e.crossJoin(F.broadcast(med))
        .select(
            F.when(F.col("user_id") % 2 == 0, "treat")
            .otherwise("control")
            .alias("grp"),
            F.when(F.col("tus") <= F.col("m"), "pre")
            .otherwise("post")
            .alias("period"),
            "cents",
        )
        .groupBy("grp", "period")
        .agg(F.expr("sum(cents) * 1000000 div count(1)").alias("mean_microcents"))
    )

    def cell(g, p):
        return F.min(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("mean_microcents"),
            )
        )

    return means.agg(
        cell("treat", "pre").alias("treat_pre"),
        cell("treat", "post").alias("treat_post"),
        cell("control", "pre").alias("control_pre"),
        cell("control", "post").alias("control_post"),
        (
            cell("treat", "post")
            - cell("treat", "pre")
            - (cell("control", "post") - cell("control", "pre"))
        ).alias("did_microcents"),
    )


# --------------------------------------------------------------------------
# x211 — CUPED variance reduction (Deng et al. 2013): per user, the
# pre-period mean value (cents) is the covariate X, the post-period
# mean is the metric Y; theta = cov(X,Y)/var(X) from cross-multiplied
# integer moment sums (the x59/x61 distributed-moments pattern), and
# rho² = cov²/(varX·varY) is the variance-reduction fraction CUPED
# delivers. theta in milli and rho² in ppm via STAGED integer division
# (each stage inside int64), so the platform readout value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x211_cuped_adjustment",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus) AS r,
               COUNT(*) OVER () AS n
        FROM e) WHERE r = (n + 1) // 2
    ), per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN e.tus <= med.m THEN cents END)
                  // COUNT(CASE WHEN e.tus <= med.m THEN 1 END) AS BIGINT)
               AS x,
             CAST(SUM(CASE WHEN e.tus > med.m THEN cents END)
                  // COUNT(CASE WHEN e.tus > med.m THEN 1 END) AS BIGINT)
               AS y
      FROM e CROSS JOIN med
      GROUP BY user_id
      HAVING COUNT(CASE WHEN e.tus <= med.m THEN 1 END) > 0
         AND COUNT(CASE WHEN e.tus > med.m THEN 1 END) > 0
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM per_user
    )
    SELECT n AS n_users,
           CAST((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) AS BIGINT)
             AS theta_milli,
           CAST(sy // n AS BIGINT) AS raw_mean_cents,
           CAST(((n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx))
                * (n * sxy - sx * sy) // (n * syy - sy * sy) * 1000
                AS BIGINT) AS var_reduction_ppm
    FROM mom
    """,
)
def x211_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = (
        e.select(
            "tus",
            F.row_number().over(Window.orderBy("tus")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    per_user = (
        e.crossJoin(F.broadcast(med))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("tus") <= F.col("m"), F.col("cents"))).alias(
                "sx_pre"
            ),
            F.count(F.when(F.col("tus") <= F.col("m"), 1)).alias("nx"),
            F.sum(F.when(F.col("tus") > F.col("m"), F.col("cents"))).alias(
                "sy_post"
            ),
            F.count(F.when(F.col("tus") > F.col("m"), 1)).alias("ny"),
        )
        .filter("nx > 0 AND ny > 0")
        .selectExpr("sx_pre div nx AS x", "sy_post div ny AS y")
    )
    mom = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return mom.selectExpr(
        "cast(n AS bigint) AS n_users",
        "(n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx) AS theta_milli",
        "sy div n AS raw_mean_cents",
        "((n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx))"
        " * (n * sxy - sx * sy) div (n * syy - sy * sy) * 1000"
        " AS var_reduction_ppm",
    )


# --------------------------------------------------------------------------
# x212 — sample-ratio-mismatch (SRM) check: the first gate every
# experiment readout must pass — do assignment counts match the
# intended 50/50 split? Chi-square statistic in micro units against
# the expected halves (integer: (2·observed − total)² · 10⁶ / total
# per arm). An SRM flags broken bucketing before anyone reads lifts.
# --------------------------------------------------------------------------
@harness_query(
    "x212_srm_check",
    oracle="""
    WITH assign AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp
      FROM events
    ), c AS (
      SELECT grp, COUNT(*) AS n FROM assign GROUP BY grp
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT grp, CAST(n AS BIGINT) AS n_users,
           CAST((2 * n - total) * (2 * n - total) * 1000000 // (2 * total)
                AS BIGINT) AS chi2_term_micro
    FROM c CROSS JOIN t ORDER BY grp
    """,
)
def x212_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    assign = events.select(
        "user_id",
        F.when(F.col("user_id") % 2 == 0, "treat")
        .otherwise("control")
        .alias("grp"),
    ).distinct()
    c = assign.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .selectExpr(
            "grp",
            "cast(n AS bigint) AS n_users",
            "(2 * n - total) * (2 * n - total) * 1000000 div (2 * total)"
            " AS chi2_term_micro",
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# x213 — ranking-quality eval (MRR + NDCG@5) of the LSH ANN (x308, ex-q35)
# against the exact ranking (q20) — completes the retrieval eval suite
# beside x150's recall: graded relevance = 6 − exact_rank, DCG uses a
# baked integer discount LUT (round(10⁶/log2(i+1)), the x188 trick
# again), IDCG@5 is the constant 10_271_927 micro, so NDCG lands in
# exact ppm. The oracle literally composes q20's and x308's registered
# oracle SQL as CTEs — evaluator and evaluated share one definition.
# (_HARNESS itself is imported once at the top of the module.)
# --------------------------------------------------------------------------

_NDCG_LUT = [1000000, 630930, 500000, 430677, 386853]
_IDCG5 = 5 * 1000000 + 4 * 630930 + 3 * 500000 + 2 * 430677 + 1 * 386853


@harness_query(
    "x213_ranking_metrics_eval",
    oracle=f"""
    WITH exact_r AS ({_HARNESS["x329_ann_bruteforce_topk"][1]}),
    approx_r AS ({_HARNESS["x308_ann_lsh_topk"][1]}),
    graded AS (
      SELECT a.query_id, a.rank AS arank,
             COALESCE(6 - e.rank, 0) AS rel
      FROM approx_r a LEFT JOIN exact_r e
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    )
    SELECT query_id,
           CAST(SUM(rel * (CASE arank
                     WHEN 1 THEN {_NDCG_LUT[0]} WHEN 2 THEN {_NDCG_LUT[1]}
                     WHEN 3 THEN {_NDCG_LUT[2]} WHEN 4 THEN {_NDCG_LUT[3]}
                     WHEN 5 THEN {_NDCG_LUT[4]} END))
                * 1000000 // {_IDCG5} AS BIGINT) AS ndcg_ppm,
           CAST(COALESCE(1000 // MIN(CASE WHEN rel > 0 THEN arank END), 0)
                AS BIGINT) AS mrr_milli
    FROM graded GROUP BY query_id ORDER BY query_id
    """,
)
def x213_ranking_metrics_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = x329_ann_bruteforce_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("erank")
    )
    approx = x308_ann_lsh_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("arank")
    )
    lut = F.array(*[F.lit(v) for v in _NDCG_LUT])
    graded = approx.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        "arank",
        F.coalesce(F.lit(6) - F.col("erank"), F.lit(0)).alias("rel"),
    )
    return (
        graded.groupBy("query_id")
        .agg(
            F.expr(
                f"sum(rel * element_at(array({','.join(map(str, _NDCG_LUT))}),"
                f" cast(arank as int))) * 1000000 div {_IDCG5}"
            )
            .cast("long")
            .alias("ndcg_ppm"),
            F.coalesce(
                F.expr("1000 div min(CASE WHEN rel > 0 THEN arank END)"),
                F.lit(0),
            )
            .cast("long")
            .alias("mrr_milli"),
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# x214 — Benford first-digit audit (forensic data quality): the
# leading significant digit of genuine multiplicative-process amounts
# follows log10(1 + 1/d); a per-digit deviation report over order
# totals is the classic fabricated-data detector. Expected shares are
# a baked-log LUT (the x188/x213 trick), observed shares are exact
# counts, deviations land in signed ppm. First digit extracted
# lexically from the integer cents — no float log anywhere.
# --------------------------------------------------------------------------
@harness_query(
    "x214_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice > 0
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ), t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    lut(digit, exp_ppm) AS (VALUES
      (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
      (6, 66947), (7, 57992), (8, 51153), (9, 45757))
    SELECT c.digit, CAST(c.n AS BIGINT) AS n_orders,
           CAST(c.n * 1000000 // t.total AS BIGINT) AS observed_ppm,
           CAST(lut.exp_ppm AS BIGINT) AS benford_ppm,
           CAST(c.n * 1000000 // t.total - lut.exp_ppm AS BIGINT)
             AS deviation_ppm
    FROM c JOIN lut USING (digit) CROSS JOIN t
    ORDER BY c.digit
    """,
)
def x214_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    lut = [
        (1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
        (6, 66947), (7, 57992), (8, 51153), (9, 45757),
    ]
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    lut_df = spark.createDataFrame(lut, "digit long, benford_ppm long")
    return (
        c.crossJoin(F.broadcast(t))
        .join(F.broadcast(lut_df), "digit")
        .selectExpr(
            "digit",
            "cast(n AS bigint) AS n_orders",
            "n * 1000000 div total AS observed_ppm",
            "benford_ppm",
            "n * 1000000 div total - benford_ppm AS deviation_ppm",
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# x215 — inverted-index storage planning with Elias-gamma gap coding:
# for each of the 20 most frequent terms, the exact bit cost of the
# delta-encoded posting list (gamma(gap) = 2·floor(log2 gap) + 1 bits,
# log2 via length(bin()) — pure integers) vs the flat 64-bit layout,
# with the compression ratio in ppm. This is how an index builder
# budgets storage before materializing; the posting gaps come from one
# lag window per term.
# --------------------------------------------------------------------------
@harness_query(
    "x215_postinglist_bit_budget",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_distinct(
               list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                           x -> x <> ''))) AS w
      FROM documents
    ), top_terms AS (
      SELECT w, COUNT(*) AS df FROM words GROUP BY w
      ORDER BY df DESC, w LIMIT 20
    ), postings AS (
      SELECT ws.w, ws.doc_id,
             ws.doc_id - lag(ws.doc_id) OVER (PARTITION BY ws.w
                                              ORDER BY ws.doc_id) AS gap
      FROM words ws JOIN top_terms USING (w)
    ), bits AS (
      SELECT w,
             CAST(SUM(CASE WHEN gap IS NULL THEN 64
                           WHEN gap > 0
                             THEN 2 * (length(bin(gap)) - 1) + 1
                           ELSE 1 END) AS BIGINT) AS gamma_bits,
             COUNT(*) * 64 AS flat_bits
      FROM postings GROUP BY w
    )
    SELECT w AS term, CAST(flat_bits AS BIGINT) AS flat_bits, gamma_bits,
           CAST(gamma_bits * 1000000 // flat_bits AS BIGINT)
             AS compressed_ppm
    FROM bits ORDER BY term
    """,
)
def x215_postinglist_bit_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"),
                    lambda x: x != F.lit(""),
                )
            )
        ).alias("w"),
    )
    top_terms = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "w")
        .limit(20)
    )
    postings = words.join(F.broadcast(top_terms), "w").withColumn(
        "gap",
        F.col("doc_id")
        - F.lag("doc_id").over(Window.partitionBy("w").orderBy("doc_id")),
    )
    bits = postings.groupBy("w").agg(
        F.sum(
            F.when(F.col("gap").isNull(), 64)
            .when(
                F.col("gap") > 0,
                2 * (F.length(F.expr("bin(gap)")) - 1) + 1,
            )
            .otherwise(1)
        ).alias("gamma_bits"),
        (F.count(F.lit(1)) * 64).alias("flat_bits"),
    )
    return bits.selectExpr(
        "w AS term",
        "cast(flat_bits AS bigint) AS flat_bits",
        "cast(gamma_bits AS bigint) AS gamma_bits",
        "gamma_bits * 1000000 div flat_bits AS compressed_ppm",
    ).orderBy("term")


# --------------------------------------------------------------------------
# x216 — columnar encoding advisor: for candidate lineitem columns,
# measure dictionary cardinality and run count in the table's
# deterministic physical order (orderkey, linenumber), then recommend
# DICT / RLE / PLAIN the way a parquet writer's encoding chooser does —
# RLE when runs << rows, DICT when the dictionary is small, PLAIN
# otherwise. Run detection is one lag window over the stable sort key;
# decisions are integer ppm thresholds, so the advice value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x216_encoding_advisor",
    oracle="""
    WITH ordered AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
             CAST(epoch_us(l_shipdate) AS VARCHAR) AS l_shipdate,
             CAST(ROUND(l_quantity) AS BIGINT) AS l_quantity
      FROM lineitem
    ), cols AS (
      SELECT 'l_returnflag' AS col, CAST(l_returnflag AS VARCHAR) AS v,
             l_orderkey, l_linenumber
      FROM ordered
      UNION ALL
      SELECT 'l_linestatus', CAST(l_linestatus AS VARCHAR),
             l_orderkey, l_linenumber FROM ordered
      UNION ALL
      SELECT 'l_shipdate', l_shipdate, l_orderkey, l_linenumber FROM ordered
      UNION ALL
      SELECT 'l_quantity', CAST(l_quantity AS VARCHAR),
             l_orderkey, l_linenumber FROM ordered
    ), runs AS (
      -- (orderkey, linenumber) is not unique in the synthetic data, so
      -- the value itself is the final sort key: the order is total up
      -- to rows that are fully identical, whose permutation cannot
      -- change any run count
      SELECT col, v,
             CASE WHEN lag(v) OVER (PARTITION BY col
                    ORDER BY l_orderkey, l_linenumber, v)
                       IS DISTINCT FROM v THEN 1 ELSE 0 END AS is_run_start
      FROM cols
    ), stats AS (
      SELECT col, COUNT(*) AS n_rows,
             COUNT(DISTINCT v) AS n_distinct,
             CAST(SUM(is_run_start) AS BIGINT) AS n_runs
      FROM runs GROUP BY col
    )
    SELECT col, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           n_runs,
           CAST(n_runs * 1000000 // n_rows AS BIGINT) AS run_ppm,
           CASE WHEN n_runs * 10 < n_rows THEN 'RLE'
                WHEN n_distinct * 100 < n_rows THEN 'DICT'
                ELSE 'PLAIN' END AS advice
    FROM stats ORDER BY col
    """,
)
def x216_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Two-level run counting: a global row_number over (orderkey,
    # linenumber) funnels the whole table through ONE task (64 s at the
    # sf1 probe). Instead, run starts split exactly into (a) starts
    # WITHIN an order — a per-orderkey window, fully parallel — and
    # (b) starts at order boundaries — one slim window over per-order
    # (first, last) value rows, |orders| long, 16× narrower than the
    # raw stream here and recursively reducible if ever needed. The
    # totals are identical to the oracle's global-window formulation.
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"]
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").cast("string").alias("c0"),
        F.col("l_linestatus").cast("string").alias("c1"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp"))
        .cast("string")
        .alias("c2"),
        F.round("l_quantity").cast("long").cast("string").alias("c3"),
    )
    # per-column within-order windows ordered (linenumber, value): the
    # value tie-break makes the order total wherever it matters, since
    # (orderkey, linenumber) repeats in the synthetic data
    def w_in(i: int) -> Window:
        return Window.partitionBy("l_orderkey").orderBy(
            "l_linenumber", f"c{i}"
        )

    flagged = base.select(
        *[f"c{i}" for i in range(4)],
        *[
            F.when(
                F.lag(f"c{i}").over(w_in(i)).isNotNull()
                & ~F.lag(f"c{i}").over(w_in(i)).eqNullSafe(F.col(f"c{i}")),
                1,
            )
            .otherwise(0)
            .alias(f"s{i}")
            for i in range(4)
        ],
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(f"s{i}").alias(f"inner{i}") for i in range(4)],
        *[F.count_distinct(f"c{i}").alias(f"nd{i}") for i in range(4)],
    )
    per_order = base.groupBy("l_orderkey").agg(
        *[
            F.min_by(f"c{i}", F.struct("l_linenumber", f"c{i}")).alias(f"first{i}")
            for i in range(4)
        ],
        *[
            F.max_by(f"c{i}", F.struct("l_linenumber", f"c{i}")).alias(f"last{i}")
            for i in range(4)
        ],
    )
    w_ord = Window.orderBy("l_orderkey")
    boundary = per_order.select(
        *[
            F.when(
                F.lag(f"last{i}").over(w_ord).eqNullSafe(F.col(f"first{i}")), 0
            )
            .otherwise(1)
            .alias(f"b{i}")
            for i in range(4)
        ]
    ).agg(*[F.sum(f"b{i}").alias(f"bnd{i}") for i in range(4)])
    one = totals.crossJoin(F.broadcast(boundary))
    stack = (
        "stack(4, "
        + ", ".join(
            f"'{cols[i]}', inner{i} + bnd{i}, nd{i}" for i in range(4)
        )
        + ") AS (col, n_runs, n_distinct)"
    )
    stats = one.selectExpr("n_rows", stack)
    return stats.selectExpr(
        "col",
        "cast(n_rows AS bigint) AS n_rows",
        "cast(n_distinct AS bigint) AS n_distinct",
        "cast(n_runs AS bigint) AS n_runs",
        "n_runs * 1000000 div n_rows AS run_ppm",
        "CASE WHEN n_runs * 10 < n_rows THEN 'RLE'"
        " WHEN n_distinct * 100 < n_rows THEN 'DICT'"
        " ELSE 'PLAIN' END AS advice",
    ).orderBy("col")


# --------------------------------------------------------------------------
# x217 — Zipf profile of the vocabulary: word frequency at doubling
# ranks (1, 2, 4, ..., 32) and the consecutive-doubling decay ratios
# in ppm — a Zipfian corpus halves frequency per doubling (ratio ≈
# 500000 ppm); flat synthetic vocabularies (like this corpus — the
# point of the audit) sit near 10⁶. Shapes tokenizer-vocabulary and
# heavy-hitter-threshold decisions without any log arithmetic.
# --------------------------------------------------------------------------
@harness_query(
    "x217_zipf_profile",
    oracle="""
    WITH wc AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents) GROUP BY w
    ), ranked AS (
      SELECT freq, row_number() OVER (ORDER BY freq DESC, w) AS rnk FROM wc
    ), picks AS (
      SELECT rnk, freq FROM ranked WHERE rnk IN (1, 2, 4, 8, 16, 32)
    )
    SELECT rnk AS rank, CAST(freq AS BIGINT) AS freq,
           CAST(freq * 1000000 //
                lag(freq) OVER (ORDER BY rnk) AS BIGINT) AS decay_ppm
    FROM picks ORDER BY rank
    """,
)
def x217_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wc = (
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
    ranked = wc.select(
        "freq",
        F.row_number().over(Window.orderBy(F.desc("freq"), "w")).alias("rnk"),
    )
    picks = ranked.filter(F.col("rnk").isin(1, 2, 4, 8, 16, 32))
    return picks.select(
        F.col("rnk").alias("rank"),
        "freq",
        F.expr(
            "freq * 1000000 div lag(freq) OVER (ORDER BY rnk)"
        ).alias("decay_ppm"),
    ).orderBy("rank")


# --------------------------------------------------------------------------
# x218 — partition-skew diagnostic: before shuffling on a candidate
# key, hash it into 32 buckets (the portable knuth hash, so the oracle
# sees the same layout Spark's exchange would approximate) and report
# per-bucket loads plus the max/mean skew in ppm for three candidate
# keys — the number that decides between a plain shuffle, AQE skew
# splitting, and explicit salting (operators/skew.py). The diagnostic
# itself is one aggregation per key.
# --------------------------------------------------------------------------
@harness_query(
    "x218_partition_skew_probe",
    oracle=f"""
    WITH keys AS (
      SELECT 'l_orderkey' AS key_col, {_knuth_sql("l_orderkey")} % 32 AS b
      FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', {_knuth_sql("l_suppkey")} % 32 FROM lineitem
      UNION ALL
      SELECT 'l_linenumber', {_knuth_sql("l_linenumber")} % 32 FROM lineitem
    ), loads AS (
      SELECT key_col, b, COUNT(*) AS n FROM keys GROUP BY 1, 2
    )
    SELECT key_col,
           COUNT(*) AS n_buckets,
           CAST(MIN(n) AS BIGINT) AS min_load,
           CAST(MAX(n) AS BIGINT) AS max_load,
           CAST(MAX(n) * COUNT(*) * 1000000 // SUM(n) AS BIGINT)
             AS max_over_mean_ppm
    FROM loads GROUP BY key_col ORDER BY key_col
    """,
)
def x218_partition_skew_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    li = load_table(spark, sf_dir, "lineitem")
    keys = None
    for c in ("l_orderkey", "l_suppkey", "l_linenumber"):
        part = li.select(
            F.lit(c).alias("key_col"),
            F.pmod(knuth_hash(c), F.lit(32)).alias("b"),
        )
        keys = part if keys is None else keys.unionByName(part)
    loads = keys.groupBy("key_col", "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        loads.groupBy("key_col")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.min("n").alias("min_load"),
            F.max("n").alias("max_load"),
            F.expr(
                "max(n) * count(1) * 1000000 div sum(n)"
            ).alias("max_over_mean_ppm"),
        )
        .orderBy("key_col")
    )


# --------------------------------------------------------------------------
# x219 — reciprocal-rank fusion (Cormack et al. 2009), the hybrid-
# search combiner every RAG stack runs: fuse the BM25 ranking (x137)
# with a raw term-frequency ranking of the same query terms over the
# same documents via RRF(d) = Σ_lists 1/(60 + rank_d) — the 1/(60+r)
# terms are a baked integer LUT (micro units), so the fused ranking
# value-oracles. The oracle composes x137's registered SQL as a CTE
# (one definition for evaluator and evaluated, as in x213).
# --------------------------------------------------------------------------
_RRF_LUT = [16393, 16129, 15873, 15625, 15385, 15152, 14925, 14706, 14493, 14286]


@harness_query(
    "x219_rrf_hybrid_fusion",
    oracle=f"""
    WITH bm25 AS ({_HARNESS["x137_bm25_topk"][1]}),
    tfrank AS (
      SELECT row_number() OVER (ORDER BY cnt DESC, doc_id) AS rank, doc_id
      FROM (
        SELECT doc_id, COUNT(*) AS cnt FROM (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(lower(trim(text)),
                                                          '\\s+'),
                                    x -> x <> '')) AS w
          FROM documents) WHERE w IN ('query', 'join', 'filter')
        GROUP BY doc_id)
      ORDER BY cnt DESC, doc_id LIMIT 10
    ), lut(r, v) AS (VALUES
      (1, {_RRF_LUT[0]}), (2, {_RRF_LUT[1]}), (3, {_RRF_LUT[2]}),
      (4, {_RRF_LUT[3]}), (5, {_RRF_LUT[4]}), (6, {_RRF_LUT[5]}),
      (7, {_RRF_LUT[6]}), (8, {_RRF_LUT[7]}), (9, {_RRF_LUT[8]}),
      (10, {_RRF_LUT[9]})),
    contrib AS (
      SELECT doc_id, v FROM bm25 JOIN lut ON lut.r = bm25.rank
      UNION ALL
      SELECT doc_id, v FROM tfrank JOIN lut ON lut.r = tfrank.rank
    ), fused AS (
      SELECT doc_id, CAST(SUM(v) AS BIGINT) AS rrf_micro,
             COUNT(*) AS n_lists
      FROM contrib GROUP BY doc_id
    )
    SELECT row_number() OVER (ORDER BY rrf_micro DESC, doc_id) AS fused_rank,
           doc_id, rrf_micro, CAST(n_lists AS BIGINT) AS n_lists
    FROM fused ORDER BY fused_rank LIMIT 10
    """,
)
def x219_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import words

    bm25 = x137_bm25_topk(spark, sf_dir).select("rank", "doc_id")
    docs = load_table(spark, sf_dir, "documents")
    tfrank = (
        docs.select("doc_id", F.explode(words("text")).alias("w"))
        .filter(F.col("w").isin("query", "join", "filter"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "doc_id")
        .limit(10)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "doc_id"))
            .alias("rank"),
            "doc_id",
        )
    )
    lut = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(_RRF_LUT)], "r int, v long"
    )
    contrib = (
        bm25.join(F.broadcast(lut), bm25["rank"] == lut["r"])
        .select("doc_id", "v")
        .unionByName(
            tfrank.join(F.broadcast(lut), tfrank["rank"] == lut["r"]).select(
                "doc_id", "v"
            )
        )
    )
    fused = contrib.groupBy("doc_id").agg(
        F.sum("v").alias("rrf_micro"), F.count(F.lit(1)).alias("n_lists")
    )
    return (
        fused.select(
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_micro"), "doc_id"))
            .cast("long")
            .alias("fused_rank"),
            "doc_id",
            "rrf_micro",
            F.col("n_lists").cast("long").alias("n_lists"),
        )
        .orderBy("fused_rank")
        .limit(10)
    )


# --------------------------------------------------------------------------
# x220 — near-dup detector agreement eval: the exact n-gram Jaccard
# top pairs (q17) vs the portable MinHash-LSH top pairs (q19) as SETS —
# intersection size and pair-set Jaccard in ppm. Composes both
# registered oracles as CTEs; the number quantifies what the LSH
# shortcut trades away at the pair level (x151 measures it at the
# estimate level).
# --------------------------------------------------------------------------
@harness_query(
    "x220_near_dup_overlap_eval",
    oracle=f"""
    WITH exact_p AS ({_HARNESS["x317_ngram_jaccard_exact"][1]}),
    lsh_p AS ({_HARNESS["q19_minhash_lsh_pairs"][1]}),
    e AS (SELECT id_a, id_b FROM exact_p),
    l AS (SELECT id_a, id_b FROM lsh_p),
    i AS (SELECT COUNT(*) AS n_common FROM e JOIN l USING (id_a, id_b)),
    sizes AS (
      SELECT (SELECT COUNT(*) FROM e) AS n_exact,
             (SELECT COUNT(*) FROM l) AS n_lsh
    )
    SELECT CAST(sizes.n_exact AS BIGINT) AS n_exact,
           CAST(sizes.n_lsh AS BIGINT) AS n_lsh,
           CAST(i.n_common AS BIGINT) AS n_common,
           -- NULL agreement when neither detector finds a pair (a tiny
           -- sample at huge corpus scale): both engines integer-divide
           -- by NULLIF(0) -> NULL, keeping the hash compare aligned
           CAST(i.n_common * 1000000
                // NULLIF(sizes.n_exact + sizes.n_lsh - i.n_common, 0) AS BIGINT)
             AS pairset_jaccard_ppm
    FROM i CROSS JOIN sizes
    """,
)
def x220_near_dup_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-pass set algebra: ONE full-outer sort-merge join on the
    # pair key, then |E|, |L|, |E∩L| from marker counts in one agg.
    # The previous form instantiated each detector subplan TWICE (once
    # for the intersection join, once for its size count); at sf10 the
    # doubled concurrent subplans — and an AQE-converted broadcast of
    # the million-pair exact side inside the second instantiation —
    # OOM'd the JVM heap (round-10 sweep finding, LongToUnsafeRowMap
    # build). Executing each side exactly once is also the 100 TB
    # shape: pair sets this size are shuffle-joined, never rebuilt.
    e = (
        x317_ngram_jaccard_exact(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("in_e", F.lit(1))
    )
    l = (
        q19_minhash_lsh_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .withColumn("in_l", F.lit(1))
    )
    both = F.col("in_e").isNotNull() & F.col("in_l").isNotNull()
    return (
        e.hint("merge")
        .join(l.hint("merge"), ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("in_e").alias("n_exact"),
            F.count("in_l").alias("n_lsh"),
            F.count(F.when(both, 1)).alias("n_common"),
        )
        .selectExpr(
            "cast(n_exact AS bigint) AS n_exact",
            "cast(n_lsh AS bigint) AS n_lsh",
            "cast(n_common AS bigint) AS n_common",
            "n_common * 1000000 div nullif(n_exact + n_lsh - n_common, 0)"
            " AS pairset_jaccard_ppm",
        )
    )


# --------------------------------------------------------------------------
# x221 — join-size estimation eval (the System-R formula every
# cost-based optimizer starts from): |A ⋈ B| ≈ |A|·|B| / max(d_A, d_B)
# on the join key, checked against the true join cardinality for two
# real joins. The error in ppm is exactly the number a planner's
# cost model eats — and why engines keep column NDVs in stats. All
# counts exact, the estimate integer-divided, both engines agree.
# --------------------------------------------------------------------------
@harness_query(
    "x221_join_size_estimate_eval",
    oracle="""
    WITH pairs AS (
      SELECT 'orders_x_lineitem' AS join_name,
             (SELECT COUNT(*) FROM orders) AS na,
             (SELECT COUNT(*) FROM lineitem) AS nb,
             (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS da,
             (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS db,
             (SELECT COUNT(*) FROM orders o
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey) AS actual
      UNION ALL
      SELECT 'supplier_x_lineitem',
             (SELECT COUNT(*) FROM supplier),
             (SELECT COUNT(*) FROM lineitem),
             (SELECT COUNT(DISTINCT s_suppkey) FROM supplier),
             (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem),
             (SELECT COUNT(*) FROM supplier s
              JOIN lineitem l ON l.l_suppkey = s.s_suppkey)
    )
    SELECT join_name,
           CAST(na * nb // GREATEST(da, db) AS BIGINT) AS estimated,
           CAST(actual AS BIGINT) AS actual,
           CAST((na * nb // GREATEST(da, db) - actual) * 1000000
                // actual AS BIGINT) AS err_ppm
    FROM pairs ORDER BY join_name
    """,
)
def x221_join_size_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")

    def probe(join_name, a, b, ka, kb):
        na = a.count()
        nb = b.count()
        da = a.select(ka).distinct().count()
        db = b.select(kb).distinct().count()
        actual = a.join(b, a[ka] == b[kb]).count()
        est = na * nb // max(da, db)
        return (join_name, est, actual, (est - actual) * 1_000_000 // actual)

    rows = [
        probe("orders_x_lineitem", o, li, "o_orderkey", "l_orderkey"),
        probe("supplier_x_lineitem", s, li, "s_suppkey", "l_suppkey"),
    ]
    return spark.createDataFrame(
        rows, "join_name string, estimated long, actual long, err_ppm long"
    ).orderBy("join_name")


# --------------------------------------------------------------------------
# x222 — selectivity-estimation eval: predict the selectivity of range
# predicates on o_totalprice from the x182-style 64-bin equi-width
# histogram (full bins + a linear fraction of the boundary bin — the
# classic optimizer interpolation), then compare with the true count.
# The per-predicate error in ppm is the planner's risk surface for
# filter ordering and join sizing. Bins, interpolation, and errors are
# integer end-to-end.
# --------------------------------------------------------------------------
@harness_query(
    "x222_selectivity_estimate_eval",
    oracle="""
    WITH c AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ), rng AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi, COUNT(*) AS n FROM c
    ), hist AS (
      SELECT LEAST(63, (cents - rng.lo) * 64 // (rng.hi - rng.lo + 1)) AS bin,
             COUNT(*) AS cnt
      FROM c CROSS JOIN rng GROUP BY 1
    ), preds AS (
      SELECT p AS pred_idx,
             rng.lo + (rng.hi - rng.lo + 1) * (p * 20 + 10) // 100 AS cut
      FROM range(0, 4) t(p) CROSS JOIN rng
    ), est AS (
      SELECT p.pred_idx, p.cut,
             CAST(SUM(CASE
               WHEN (rng.lo + (h.bin + 1) * (rng.hi - rng.lo + 1) // 64)
                    <= p.cut THEN h.cnt
               WHEN (rng.lo + h.bin * (rng.hi - rng.lo + 1) // 64) > p.cut
                    THEN 0
               ELSE h.cnt * (p.cut - (rng.lo + h.bin * (rng.hi - rng.lo + 1)
                                      // 64))
                    // GREATEST((rng.hi - rng.lo + 1) // 64, 1)
             END) AS BIGINT) AS est_rows
      FROM preds p CROSS JOIN rng JOIN hist h ON TRUE
      GROUP BY p.pred_idx, p.cut
    ), tru AS (
      SELECT p.pred_idx, COUNT(CASE WHEN c.cents <= p.cut THEN 1 END)
               AS true_rows
      FROM preds p CROSS JOIN c GROUP BY p.pred_idx
    )
    SELECT e.pred_idx, e.cut AS cut_cents, t.true_rows, e.est_rows,
           CAST((e.est_rows - t.true_rows) * 1000000
                // GREATEST(t.true_rows, 1) AS BIGINT) AS err_ppm
    FROM est e JOIN tru t USING (pred_idx)
    ORDER BY e.pred_idx
    """,
)
def x222_selectivity_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    rng = c.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    hist = (
        c.crossJoin(F.broadcast(rng))
        .select(
            F.least(F.lit(63), F.expr("(cents - lo) * 64 div (hi - lo + 1)")).alias(
                "bin"
            )
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    preds = (
        spark.range(0, 4)
        .select(F.col("id").cast("int").alias("pred_idx"))
        .crossJoin(F.broadcast(rng))
        .select(
            "pred_idx",
            F.expr("lo + (hi - lo + 1) * (pred_idx * 20 + 10) div 100").alias(
                "cut"
            ),
        )
    )
    est = (
        preds.crossJoin(F.broadcast(rng))
        .join(F.broadcast(hist))
        .groupBy("pred_idx", "cut")
        .agg(
            F.sum(
                F.expr(
                    "CASE"
                    " WHEN (lo + (bin + 1) * (hi - lo + 1) div 64) <= cut"
                    "   THEN cnt"
                    " WHEN (lo + bin * (hi - lo + 1) div 64) > cut THEN 0"
                    " ELSE cnt * (cut - (lo + bin * (hi - lo + 1) div 64))"
                    "      div GREATEST((hi - lo + 1) div 64, 1L)"
                    " END"
                )
            ).alias("est_rows")
        )
    )
    tru = (
        preds.join(c)
        .groupBy("pred_idx")
        .agg(
            F.count(F.when(F.col("cents") <= F.col("cut"), 1)).alias(
                "true_rows"
            )
        )
    )
    return (
        est.join(tru, "pred_idx")
        .selectExpr(
            "pred_idx",
            "cut AS cut_cents",
            "cast(true_rows AS bigint) AS true_rows",
            "cast(est_rows AS bigint) AS est_rows",
            "(est_rows - true_rows) * 1000000 div GREATEST(true_rows, 1L)"
            " AS err_ppm",
        )
        .orderBy("pred_idx")
    )


# --------------------------------------------------------------------------
# x223 — sessionization with BOTH an inactivity gap and a max-duration
# cap (the production rule q22's pure-gap version approximates): a new
# session starts after 30 idle minutes OR when the running session
# would exceed 2 hours. Two window passes: gap-splitting (q22's rule),
# then within each gap-session a duration re-split anchored at the
# session start — floor((t − t₀)/2h) — so a marathon user can't hold
# one session open all day. Output: per-user session count under each
# rule, proving the cap only ever increases the count.
# --------------------------------------------------------------------------
@harness_query(
    "x223_capped_sessions",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
    ), flagged AS (
      SELECT user_id, event_id, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_gap_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), gap_sessions AS (
      SELECT user_id, event_id, tus,
             SUM(new_gap_session) OVER (PARTITION BY user_id
                                        ORDER BY tus, event_id) AS gsid
      FROM flagged
    ), capped AS (
      SELECT user_id, gsid, tus,
             (tus - MIN(tus) OVER (PARTITION BY user_id, gsid))
               // 7200000000 AS sub
      FROM gap_sessions
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT gsid) AS BIGINT) AS gap_sessions,
           CAST(COUNT(DISTINCT (gsid, sub)) AS BIGINT) AS capped_sessions
    FROM capped GROUP BY user_id ORDER BY user_id
    """,
)
def x223_capped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_gap_session",
        F.when(
            F.lag("tus").over(w).isNull()
            | (F.col("tus") - F.lag("tus").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    gap_sessions = flagged.withColumn(
        "gsid", F.sum("new_gap_session").over(w)
    )
    capped = gap_sessions.withColumn(
        "sub",
        F.expr(
            "(tus - min(tus) OVER (PARTITION BY user_id, gsid))"
            " div 7200000000"
        ),
    )
    return (
        capped.groupBy("user_id")
        .agg(
            F.count_distinct("gsid").alias("gap_sessions"),
            F.count_distinct(F.struct("gsid", "sub")).alias("capped_sessions"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x224 — rolling exact median (trailing 30 events per user): the
# robust running level estimator dashboards want where a rolling MEAN
# is outlier-hostage. Spark has no windowed percentile, so the frame's
# values collect into a bounded array (30 elements — the frame bound
# IS the memory bound) and the nearest-rank middle is picked after an
# array_sort; the oracle does the identical list-sort-index. O(w log w)
# per row with w fixed at 30 — scale-safe because the frame is ROWS,
# never the whole partition.
# --------------------------------------------------------------------------
@harness_query(
    "x224_rolling_median_value",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 20
    ), framed AS (
      SELECT user_id, event_id, tus, cents,
             list(cents) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
               AS frame
      FROM e
    )
    SELECT user_id, event_id, cents,
           CAST(list_sort(frame)[(len(frame) + 1) // 2] AS BIGINT)
             AS rolling_median_cents
    FROM framed ORDER BY user_id, tus, event_id
    """,
)
def x224_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    e = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(-29, 0)
    )
    framed = e.withColumn("frame", F.collect_list("cents").over(w))
    return framed.select(
        "user_id",
        "event_id",
        "cents",
        F.expr(
            "element_at(array_sort(frame), cast((size(frame) + 1) div 2 as int))"
        ).alias("rolling_median_cents"),
    ).orderBy("user_id", "tus", "event_id")


# --------------------------------------------------------------------------
# x225 — grouped MODE with deterministic ties: the most frequent value
# cents per event type (ties → smallest value), plus its share in ppm.
# Spark has ``mode()`` but its tie behavior is unspecified — the
# rank-window formulation pins it, and the oracle pins it identically.
# --------------------------------------------------------------------------
@harness_query(
    "x225_group_mode_value",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), t AS (
      SELECT event_type, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1
    ), ranked AS (
      SELECT event_type, cents, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, cents) AS rn
      FROM c
    )
    SELECT r.event_type, r.cents AS mode_cents, CAST(r.n AS BIGINT) AS n_mode,
           CAST(r.n * 1000000 // t.total AS BIGINT) AS share_ppm
    FROM ranked r JOIN t USING (event_type)
    WHERE r.rn = 1 ORDER BY r.event_type
    """,
)
def x225_group_mode_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    c = events.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("event_type").agg(F.sum("n").alias("total"))
    ranked = c.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("n"), "cents")
        ),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .join(t, "event_type")
        .selectExpr(
            "event_type",
            "cents AS mode_cents",
            "cast(n AS bigint) AS n_mode",
            "n * 1000000 div total AS share_ppm",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x226 — group-aware cross-validation folds (GroupKFold): fold
# membership is assigned per USER via the portable hash, so no user's
# rows ever straddle folds — the leakage rule row-hash splits silently
# break. Output: per fold, row and user counts; disjointness holds by
# construction (fold is a function of user_id alone), and the oracle
# replays the identical hash.
# --------------------------------------------------------------------------
@harness_query(
    "x226_group_kfold",
    oracle=f"""
    WITH labeled AS (
      SELECT event_id, user_id,
             {_knuth_sql("user_id")} % 5 AS fold
      FROM events
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM labeled GROUP BY fold ORDER BY fold
    """,
)
def x226_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    events = load_table(spark, sf_dir, "events")
    labeled = events.select(
        "event_id",
        "user_id",
        F.pmod(knuth_hash("user_id"), F.lit(5)).cast("long").alias("fold"),
    )
    return (
        labeled.groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("fold")
    )


# --------------------------------------------------------------------------
# x227 — dup-cluster-aware train/eval split: near-duplicate documents
# (q43's connected components over the near-dup graph) must land in
# the SAME split, or eval is contaminated by training twins — the
# failure mode a row-level split can't see. Split is a function of the
# cluster root (knuth % 10 < 9 → train), so the property holds by
# construction; the output reports per-split doc and cluster counts
# plus the straddle count, pinned at zero. Oracle composes q43's
# registered component SQL.
# --------------------------------------------------------------------------
@harness_query(
    "x227_cluster_aware_split",
    oracle=f"""
    WITH comps AS ({_HARNESS["x325_dedup_clusters"][1]}),
    assigned AS (
      SELECT doc_id, component,
             CASE WHEN {_knuth_sql("component")} % 10 < 9
                  THEN 'train' ELSE 'eval' END AS split
      FROM comps
    ), straddle AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_straddling FROM (
        SELECT component FROM assigned
        GROUP BY component HAVING COUNT(DISTINCT split) > 1)
    )
    SELECT a.split,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT a.component) AS BIGINT) AS n_clusters,
           s.n_straddling
    FROM assigned a CROSS JOIN straddle s
    GROUP BY a.split, s.n_straddling ORDER BY a.split
    """,
)
def x227_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    comps = x325_dedup_clusters(spark, sf_dir).select("doc_id", "component")
    assigned = comps.withColumn(
        "split",
        F.when(F.pmod(knuth_hash("component"), F.lit(10)) < 9, "train").otherwise(
            "eval"
        ),
    )
    straddle = (
        assigned.groupBy("component")
        .agg(F.count_distinct("split").alias("ns"))
        .filter("ns > 1")
        .agg(F.count(F.lit(1)).alias("n_straddling"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("component").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(straddle))
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# x228 — out-of-orderness profile: for each event (arrival order =
# event_id), its lateness = running-max(event time so far) − its own
# event time; the per-type nearest-rank p50/p95/p99 of that lateness
# IS the watermark-delay decision for the streaming jobs
# (streaming/jobs.py picks `withWatermark` bounds from exactly this
# number). One running-max window over arrival order + the x147
# nearest-rank idiom; microsecond integers throughout.
# --------------------------------------------------------------------------
@harness_query(
    "x228_out_of_orderness_profile",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, epoch_us(ts) AS tus FROM events
    ), late AS (
      SELECT event_type,
             MAX(tus) OVER (PARTITION BY event_type ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - tus AS lateness_us
      FROM e
    ), ranked AS (
      SELECT event_type, lateness_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY lateness_us) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM late
    )
    SELECT event_type,
           CAST(MIN(CASE WHEN r = (50 * n + 99) // 100
                         THEN lateness_us END) AS BIGINT) AS p50_us,
           CAST(MIN(CASE WHEN r = (95 * n + 99) // 100
                         THEN lateness_us END) AS BIGINT) AS p95_us,
           CAST(MIN(CASE WHEN r = (99 * n + 99) // 100
                         THEN lateness_us END) AS BIGINT) AS p99_us,
           CAST(MAX(lateness_us) AS BIGINT) AS max_us
    FROM ranked GROUP BY event_type ORDER BY event_type
    """,
)
def x228_out_of_orderness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    warr = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    late = e.select(
        "event_type",
        (F.max("tus").over(warr) - F.col("tus")).alias("lateness_us"),
    )
    ranked = late.select(
        "event_type",
        "lateness_us",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("lateness_us"))
        .alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )

    def at(p):
        return F.min(
            F.when(F.expr(f"r = ({p} * n + 99) div 100"), F.col("lateness_us"))
        ).alias(f"p{p}_us")

    return (
        ranked.groupBy("event_type")
        .agg(at(50), at(95), at(99), F.max("lateness_us").alias("max_us"))
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x229 — KMV (k-minimum-values / bottom-k) distinct-count eval, the
# quantile-based cardinality sketch beside x188's register-based HLL:
# keep the k = 32 smallest md5 hash values per event type; the
# estimator (k−1)·2³² / h_(k) is exact integer arithmetic on the k-th
# minimum. Bottom-k sets are trivially mergeable (union = bottom-k of
# the concatenation), which is why KMV powers theta-sketch set
# algebra. Estimate and error value-oracle; the sketch shuffles k rows
# per group.
# --------------------------------------------------------------------------
@harness_query(
    "x229_kmv_distinct_eval",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ), ranked AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
      FROM h
    ), kth AS (
      SELECT event_type, hv AS hk FROM ranked WHERE r = 32
    ), tru AS (
      SELECT event_type, COUNT(DISTINCT user_id) AS true_distinct
      FROM events GROUP BY 1
    )
    SELECT k.event_type, t.true_distinct,
           CAST(31 * 4294967296 // k.hk AS BIGINT) AS kmv_est,
           CAST((31 * 4294967296 // k.hk - t.true_distinct) * 1000000
                // t.true_distinct AS BIGINT) AS err_ppm
    FROM kth k JOIN tru t USING (event_type)
    ORDER BY k.event_type
    """,
)
def x229_kmv_distinct_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    ranked = h.withColumn(
        "r",
        F.row_number().over(Window.partitionBy("event_type").orderBy("hv")),
    )
    kth = ranked.filter(F.col("r") == 32).select(
        "event_type", F.col("hv").alias("hk")
    )
    tru = events.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("true_distinct")
    )
    return (
        kth.join(tru, "event_type")
        .selectExpr(
            "event_type",
            "true_distinct",
            "31 * 4294967296L div hk AS kmv_est",
            "(31 * 4294967296L div hk - true_distinct) * 1000000"
            " div true_distinct AS err_ppm",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x230 — domain similarity matrix: integer mean-pool a centroid per
# vector bucket (the x145 pooling), then the pairwise squared L2
# distances between all bucket centroids — the domain map that informs
# mixture design ("which sources are near-duplicates of each other at
# the distribution level"). Centroid means are integer micro
# components; pair distances are exact int64 sums; 10 buckets → 45
# pairs, all broadcast-sized.
# --------------------------------------------------------------------------
@harness_query(
    "x230_domain_similarity_matrix",
    oracle="""
    WITH comp AS (
      SELECT vec_id % 10 AS bucket, i,
             CAST(trunc(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(1, 65) r(i)
    ), cent AS (
      SELECT bucket, i, CAST(SUM(q) // COUNT(*) AS BIGINT) AS m
      FROM comp GROUP BY bucket, i
    ), pairs AS (
      SELECT a.bucket AS bucket_a, b.bucket AS bucket_b,
             CAST(SUM((a.m - b.m) * (a.m - b.m)) // 1000000 AS BIGINT)
               AS dist2_micro
      FROM cent a JOIN cent b ON a.i = b.i AND a.bucket < b.bucket
      GROUP BY a.bucket, b.bucket
    )
    SELECT CAST(bucket_a AS BIGINT) AS bucket_a,
           CAST(bucket_b AS BIGINT) AS bucket_b, dist2_micro
    FROM pairs ORDER BY bucket_a, bucket_b
    """,
)
def x230_domain_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        (F.col("vec_id") % 10).alias("bucket"),
        F.posexplode(
            F.transform(
                "embedding", lambda v: (v.cast("double") * 1000000).cast("long")
            )
        ).alias("i0", "q"),
    ).withColumn("i", F.col("i0") + 1)
    cent = comp.groupBy("bucket", "i").agg(
        F.expr("sum(q) div count(1)").alias("m")
    )
    a = cent.select(
        F.col("bucket").alias("bucket_a"), "i", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("bucket").alias("bucket_b"), "i", F.col("m").alias("mb")
    )
    return (
        a.join(b, "i")
        .filter(F.col("bucket_a") < F.col("bucket_b"))
        .groupBy(
            F.col("bucket_a").cast("long").alias("bucket_a"),
            F.col("bucket_b").cast("long").alias("bucket_b"),
        )
        .agg(
            F.expr("sum((ma - mb) * (ma - mb)) div 1000000").alias(
                "dist2_micro"
            )
        )
        .orderBy("bucket_a", "bucket_b")
    )


# --------------------------------------------------------------------------
# x231 — theta-sketch set algebra (Dasgupta et al. 2016, the
# DataSketches model) over the x229 bottom-k sketches: for every
# event-type pair, the UNION estimate is KMV on the merged minima, and
# the INTERSECTION estimate counts, among the union's bottom-k, the
# hashes present in both sides: est∩ = matches · est∪ / k. Exact
# pairwise distinct counts would shuffle every user id per pair; the
# sketches shuffle k = 32 rows per side, and every estimate is integer
# arithmetic on minima — fully value-oracled, errors in ppm.
# --------------------------------------------------------------------------
@harness_query(
    "x231_theta_sketch_set_ops",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ), sk AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS r
        FROM h) WHERE r <= 32
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b
        ON a.event_type < b.event_type
    ), merged AS (
      SELECT p.type_a, p.type_b, s.hv,
             row_number() OVER (PARTITION BY p.type_a, p.type_b
                                ORDER BY s.hv) AS r
      FROM pairs p JOIN (
        SELECT DISTINCT sa.event_type AS et, sa.hv FROM sk sa) s
        ON s.et = p.type_a OR s.et = p.type_b
    ), uniq AS (
      SELECT type_a, type_b, hv,
             row_number() OVER (PARTITION BY type_a, type_b
                                ORDER BY hv) AS r
      FROM (SELECT DISTINCT type_a, type_b, hv FROM merged)
    ), theta AS (
      SELECT type_a, type_b, hv AS hk FROM uniq WHERE r = 32
    ), members AS (
      SELECT u.type_a, u.type_b, u.hv,
             CASE WHEN ia.hv IS NOT NULL AND ib.hv IS NOT NULL
                  THEN 1 ELSE 0 END AS in_both
      FROM uniq u
      LEFT JOIN sk ia ON ia.event_type = u.type_a AND ia.hv = u.hv
      LEFT JOIN sk ib ON ib.event_type = u.type_b AND ib.hv = u.hv
      WHERE u.r <= 32
    ), est AS (
      SELECT m.type_a, m.type_b,
             CAST(31 * 4294967296 // t.hk AS BIGINT) AS union_est,
             CAST(SUM(m.in_both) AS BIGINT) AS n_match
      FROM members m JOIN theta t USING (type_a, type_b)
      GROUP BY m.type_a, m.type_b, t.hk
    ), tru AS (
      SELECT p.type_a, p.type_b,
             COUNT(DISTINCT CASE WHEN ea.user_id IS NOT NULL
                                  AND eb.user_id IS NOT NULL
                                 THEN u.user_id END) AS inter_true
      FROM pairs p
      CROSS JOIN (SELECT DISTINCT user_id FROM events) u
      LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) ea
        ON ea.event_type = p.type_a AND ea.user_id = u.user_id
      LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) eb
        ON eb.event_type = p.type_b AND eb.user_id = u.user_id
      GROUP BY p.type_a, p.type_b
    )
    SELECT e.type_a, e.type_b, e.union_est, e.n_match,
           CAST(e.n_match * e.union_est // 32 AS BIGINT) AS inter_est,
           CAST(t.inter_true AS BIGINT) AS inter_true
    FROM est e JOIN tru t USING (type_a, type_b)
    ORDER BY e.type_a, e.type_b
    """,
)
def x231_theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    h = events.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    sk = (
        h.withColumn(
            "r",
            F.row_number().over(Window.partitionBy("event_type").orderBy("hv")),
        )
        .filter(F.col("r") <= 32)
        .select("event_type", "hv")
        .localCheckpoint()
    )
    types = events.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(types.alias("b"))
        .filter(F.expr("a.event_type < b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    merged = (
        pairs.join(
            F.broadcast(sk),
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .select("type_a", "type_b", "hv")
        .distinct()
    )
    uniq = merged.withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("type_a", "type_b").orderBy("hv")
        ),
    )
    theta = uniq.filter(F.col("r") == 32).select(
        "type_a", "type_b", F.col("hv").alias("hk")
    )
    ia = sk.select(F.col("event_type").alias("type_a"), "hv").withColumn(
        "in_a", F.lit(1)
    )
    ib = sk.select(F.col("event_type").alias("type_b"), "hv").withColumn(
        "in_b", F.lit(1)
    )
    members = (
        uniq.filter(F.col("r") <= 32)
        .join(F.broadcast(ia), ["type_a", "hv"], "left")
        .join(F.broadcast(ib), ["type_b", "hv"], "left")
        .withColumn(
            "in_both",
            F.when(
                F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
            ).otherwise(0),
        )
    )
    est = (
        members.join(theta, ["type_a", "type_b"])
        .groupBy("type_a", "type_b", "hk")
        .agg(F.sum("in_both").alias("n_match"))
        .selectExpr(
            "type_a",
            "type_b",
            "31 * 4294967296L div hk AS union_est",
            "cast(n_match AS bigint) AS n_match",
        )
    )
    per_type = events.select("event_type", "user_id").distinct()
    tru = (
        pairs.join(
            per_type.alias("x"), F.expr("x.event_type = type_a")
        )
        .join(
            per_type.alias("y"),
            F.expr("y.event_type = type_b AND y.user_id = x.user_id"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count_distinct("x.user_id").alias("inter_true"))
    )
    return (
        est.join(tru, ["type_a", "type_b"])
        .selectExpr(
            "type_a",
            "type_b",
            "union_est",
            "n_match",
            "n_match * union_est div 32 AS inter_est",
            "cast(inter_true AS bigint) AS inter_true",
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# x232 — jackknife variance (delete-one-group): uncertainty for the
# mean order value WITHOUT bootstrap randomness — drop one nation at a
# time, recompute the mean from the complement's sufficient statistics
# (grand sums minus the group's sums: one aggregation, not 25
# recomputes), and fold the deviations into the jackknife variance
# (g−1)/g · Σ(θᵢ−θ̄)². Deterministic integer micro-cents throughout —
# the RNG-free uncertainty idiom that works on any distributive
# estimator at any scale.
# --------------------------------------------------------------------------
@harness_query(
    "x232_jackknife_variance",
    oracle="""
    WITH g AS (
      SELECT c.c_nationkey AS nation,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS s,
             COUNT(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(s) AS BIGINT) AS st, CAST(SUM(n) AS BIGINT) AS nt,
             COUNT(*) AS ng
      FROM g
    ), loo AS (
      SELECT g.nation,
             CAST((tot.st - g.s) * 1000 // (tot.nt - g.n) AS BIGINT)
               AS theta_i_milli
      FROM g CROSS JOIN tot
    ), mean_loo AS (
      SELECT CAST(SUM(theta_i_milli) // COUNT(*) AS BIGINT) AS theta_bar
      FROM loo
    )
    SELECT CAST(tot.ng AS BIGINT) AS n_groups,
           CAST(tot.st * 1000 // tot.nt AS BIGINT) AS mean_milli,
           CAST((tot.ng - 1) * (
             SELECT SUM((l.theta_i_milli - m.theta_bar)
                        * (l.theta_i_milli - m.theta_bar))
             FROM loo l CROSS JOIN mean_loo m) // tot.ng AS BIGINT)
             AS jackknife_var_milli2
    FROM tot
    """,
)
def x232_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    g = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    tot = g.agg(
        F.sum("s").alias("st"),
        F.sum("n").alias("nt"),
        F.count(F.lit(1)).alias("ng"),
    )
    loo = g.crossJoin(F.broadcast(tot)).selectExpr(
        "nation", "(st - s) * 1000 div (nt - n) AS theta_i_milli"
    )
    mean_loo = loo.agg(
        F.expr("sum(theta_i_milli) div count(1)").alias("theta_bar")
    )
    dev = loo.crossJoin(F.broadcast(mean_loo)).agg(
        F.expr(
            "sum((theta_i_milli - theta_bar) * (theta_i_milli - theta_bar))"
        ).alias("ssd")
    )
    return (
        tot.crossJoin(F.broadcast(dev))
        .selectExpr(
            "cast(ng AS bigint) AS n_groups",
            "st * 1000 div nt AS mean_milli",
            "(ng - 1) * ssd div ng AS jackknife_var_milli2",
        )
    )


# --------------------------------------------------------------------------
# x233 — capture-recapture population estimate (Lincoln-Petersen):
# treat 'view' users as the first capture and 'purchase' users as the
# second; N̂ = n₁·n₂ / m (m = users in both) estimates the TOTAL user
# population including never-seen users — the coverage estimator for
# "how much of the population does our log actually observe".
# Chapman's bias-corrected variant ((n₁+1)(n₂+1)/(m+1) − 1) reported
# beside it; both integer, eval'd against the true distinct count.
# --------------------------------------------------------------------------
@harness_query(
    "x233_capture_recapture",
    oracle="""
    WITH v AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), m AS (
      SELECT COUNT(*) AS n_both FROM v JOIN p USING (user_id)
    ), t AS (
      SELECT (SELECT COUNT(*) FROM v) AS n1,
             (SELECT COUNT(*) FROM p) AS n2,
             (SELECT COUNT(DISTINCT user_id) FROM events) AS true_total
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_capture1,
           CAST(t.n2 AS BIGINT) AS n_capture2,
           CAST(m.n_both AS BIGINT) AS n_recaptured,
           CAST(t.n1 * t.n2 // GREATEST(m.n_both, 1) AS BIGINT)
             AS lincoln_petersen_est,
           CAST((t.n1 + 1) * (t.n2 + 1) // (m.n_both + 1) - 1 AS BIGINT)
             AS chapman_est,
           CAST(t.true_total AS BIGINT) AS true_total
    FROM t CROSS JOIN m
    """,
)
def x233_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").select("user_id").distinct()
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
    )
    m = v.join(p, "user_id").agg(F.count(F.lit(1)).alias("n_both"))
    t = (
        v.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(events.agg(F.count_distinct("user_id").alias("true_total")))
    )
    return (
        t.crossJoin(F.broadcast(m))
        .selectExpr(
            "cast(n1 AS bigint) AS n_capture1",
            "cast(n2 AS bigint) AS n_capture2",
            "cast(n_both AS bigint) AS n_recaptured",
            "n1 * n2 div GREATEST(n_both, 1L) AS lincoln_petersen_est",
            "(n1 + 1) * (n2 + 1) div (n_both + 1) - 1 AS chapman_est",
            "cast(true_total AS bigint) AS true_total",
        )
    )


# --------------------------------------------------------------------------
# x234 — time-weighted average value (TWAP): each event's value holds
# until the user's next event, so the honest mean is the integral of
# the step function over time, not the per-event mean (which
# over-weights bursts). Per user: Σ value·Δt / Σ Δt via one lead()
# window, microsecond × cent integers end-to-end; the per-event mean
# is reported beside it so the burst bias is visible.
# --------------------------------------------------------------------------
@harness_query(
    "x234_time_weighted_average",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 30
    ), spans AS (
      SELECT user_id, cents,
             lead(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id)
               - tus AS dt_us
      FROM e
    )
    SELECT user_id,
           CAST(SUM(cents * dt_us) // SUM(dt_us) AS BIGINT) AS twap_cents,
           CAST(SUM(cents) // COUNT(*) AS BIGINT) AS event_mean_cents,
           CAST(SUM(dt_us) AS BIGINT) AS span_us
    FROM spans WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def x234_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    e = events.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    spans = e.select(
        "user_id",
        "cents",
        (F.lead("tus").over(w) - F.col("tus")).alias("dt_us"),
    ).filter("dt_us IS NOT NULL AND dt_us > 0")
    return (
        spans.groupBy("user_id")
        .agg(
            F.expr("sum(cents * dt_us) div sum(dt_us)").alias("twap_cents"),
            F.expr("sum(cents) div count(1)").alias("event_mean_cents"),
            F.sum("dt_us").alias("span_us"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x235 — vocabulary growth audit (Heaps'-law proxy, no logs): per
# source, token/type counts, the hapax-legomena share (words seen
# exactly once — the "will more data keep teaching the tokenizer"
# signal), and type growth from the first half of the docs (by doc_id
# order) to the full corpus. A still-growing vocabulary (growth far
# above 0 ppm) says the source is not yet saturated.
# --------------------------------------------------------------------------
@harness_query(
    "x235_vocabulary_growth",
    oracle="""
    WITH words AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), bounds AS (
      SELECT source,
             MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) / 2 AS mid
      FROM words GROUP BY source
    ), wc AS (
      SELECT source, w, COUNT(*) AS n FROM words GROUP BY source, w
    ), halves AS (
      SELECT w.source,
             COUNT(DISTINCT CASE WHEN w.doc_id <= b.mid THEN w.w END)
               AS types_half,
             COUNT(DISTINCT w.w) AS types_full
      FROM words w JOIN bounds b USING (source)
      GROUP BY w.source
    ), agg AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_tokens,
             COUNT(*) AS n_types,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
      FROM wc GROUP BY source
    )
    SELECT a.source, a.n_tokens,
           CAST(a.n_types AS BIGINT) AS n_types,
           CAST(a.hapax * 1000000 // a.n_types AS BIGINT) AS hapax_ppm,
           CAST((h.types_full - h.types_half) * 1000000
                // GREATEST(h.types_half, 1) AS BIGINT) AS growth_ppm
    FROM agg a JOIN halves h USING (source)
    ORDER BY a.source
    """,
)
def x235_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("w"),
    ).localCheckpoint()
    bounds = words.groupBy("source").agg(
        F.expr("min(doc_id) + (max(doc_id) - min(doc_id)) / 2").alias("mid")
    )
    halves = (
        words.join(F.broadcast(bounds), "source")
        .groupBy("source")
        .agg(
            F.count_distinct(
                F.when(F.col("doc_id") <= F.col("mid"), F.col("w"))
            ).alias("types_half"),
            F.count_distinct("w").alias("types_full"),
        )
    )
    wc = words.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    agg = wc.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax"),
    )
    return (
        agg.join(halves, "source")
        .selectExpr(
            "source",
            "cast(n_tokens AS bigint) AS n_tokens",
            "cast(n_types AS bigint) AS n_types",
            "hapax * 1000000 div n_types AS hapax_ppm",
            "(types_full - types_half) * 1000000"
            " div GREATEST(types_half, 1L) AS growth_ppm",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x236 — Simpson's-paradox detector: does the order-value time trend
# FLIP SIGN between the whole market and individual nations? Trend
# sign = sign(n·Σxy − Σx·Σy) from integer moment sums (x61's exact
# covariance pattern; x = order epoch-day, y = cents), compared
# per-nation vs pooled — the aggregation-bias tripwire every metrics
# platform needs before anyone trusts a topline trend.
# --------------------------------------------------------------------------
@harness_query(
    "x236_simpsons_detector",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nation,
             epoch_us(o.o_orderdate) // 86400000000 - 10957 AS xday,
             CAST(ROUND(o.o_totalprice) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), pooled AS (
      SELECT CASE WHEN COUNT(*) * SUM(xday * y) - SUM(xday) * SUM(y) > 0
                  THEN 1 WHEN COUNT(*) * SUM(xday * y)
                              - SUM(xday) * SUM(y) < 0 THEN -1
                  ELSE 0 END AS pooled_sign
      FROM o
    ), per_nation AS (
      SELECT nation,
             CASE WHEN COUNT(*) * SUM(xday * y) - SUM(xday) * SUM(y) > 0
                  THEN 1 WHEN COUNT(*) * SUM(xday * y)
                              - SUM(xday) * SUM(y) < 0 THEN -1
                  ELSE 0 END AS nation_sign,
             COUNT(*) AS n_orders
      FROM o GROUP BY nation
    )
    SELECT CAST(pn.nation AS BIGINT) AS nation,
           CAST(pn.n_orders AS BIGINT) AS n_orders,
           CAST(pn.nation_sign AS BIGINT) AS nation_sign,
           CAST(p.pooled_sign AS BIGINT) AS pooled_sign,
           pn.nation_sign <> p.pooled_sign AS sign_flipped
    FROM per_nation pn CROSS JOIN pooled p
    ORDER BY nation
    """,
)
def x236_simpsons_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        (
            (F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
            .cast("long")
            - 10957  # re-center at 2000-01-01 so moment sums stay in int64
        ).alias("xday"),
        F.round(F.col("o_totalprice")).cast("long").alias("y"),
    )
    # moment comparison in DECIMAL(38,0): n·Σxy grows past int64 around
    # 10⁶ rows (long-overflowed at the sf1 probe); DuckDB's SUM(BIGINT)
    # is already HUGEINT, so widening the Spark side keeps both engines
    # exact. Only the sign leaves this expression, so the output schema
    # is unchanged.
    sign = (
        "CASE WHEN cast(count(1) as decimal(38,0)) * cast(sum(xday * y) as decimal(38,0))"
        " - cast(sum(xday) as decimal(38,0)) * cast(sum(y) as decimal(38,0)) > 0 THEN 1 "
        "WHEN cast(count(1) as decimal(38,0)) * cast(sum(xday * y) as decimal(38,0))"
        " - cast(sum(xday) as decimal(38,0)) * cast(sum(y) as decimal(38,0)) < 0 THEN -1 "
        "ELSE 0 END"
    )
    pooled = base.agg(F.expr(sign).cast("long").alias("pooled_sign"))
    per_nation = base.groupBy("nation").agg(
        F.expr(sign).cast("long").alias("nation_sign"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_nation.crossJoin(F.broadcast(pooled))
        .select(
            F.col("nation").cast("long").alias("nation"),
            F.col("n_orders").cast("long").alias("n_orders"),
            "nation_sign",
            "pooled_sign",
            (F.col("nation_sign") != F.col("pooled_sign")).alias("sign_flipped"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# x237 — Kendall rank correlation (tau-a) between two per-nation
# metrics (order volume vs mean order value): concordant/discordant
# pair counts over the 25-nation frame, tau in milli — the
# outlier-proof complement to x61's Pearson moments. Pair counting is
# an O(g²) self-join on the GROUP frame (25 rows → 300 pairs), never
# on raw orders — the aggregate-then-correlate shape that stays
# constant-size at any corpus scale.
# --------------------------------------------------------------------------
@harness_query(
    "x237_kendall_tau",
    oracle="""
    WITH m AS (
      SELECT c.c_nationkey AS nation,
             COUNT(*) AS x,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                  // COUNT(*) AS BIGINT) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ), pairs AS (
      SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS con,
             CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS dis
      FROM m a JOIN m b ON a.nation < b.nation
    )
    SELECT CAST(SUM(con) AS BIGINT) AS concordant,
           CAST(SUM(dis) AS BIGINT) AS discordant,
           COUNT(*) AS n_pairs,
           CAST((SUM(con) - SUM(dis)) * 1000 // COUNT(*) AS BIGINT)
             AS tau_milli
    FROM pairs
    """,
)
def x237_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    m = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.expr(
                "sum(cast(round(o_totalprice * 100) AS long)) div count(1)"
            ).alias("y"),
        )
    )
    a = m.select(
        F.col("nation").alias("na"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = m.select(
        F.col("nation").alias("nb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(F.broadcast(b), F.col("na") < F.col("nb")).select(
        F.when(F.expr("(xa - xb) * (ya - yb) > 0"), 1).otherwise(0).alias("con"),
        F.when(F.expr("(xa - xb) * (ya - yb) < 0"), 1).otherwise(0).alias("dis"),
    )
    return pairs.agg(
        F.sum("con").alias("concordant"),
        F.sum("dis").alias("discordant"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.expr("(sum(con) - sum(dis)) * 1000 div count(1)").alias("tau_milli"),
    )


# --------------------------------------------------------------------------
# x238 — contribution waterfall: which nations DROVE the change in
# total revenue between the two halves of the order history? Per
# nation, the revenue delta and its share of the total delta in ppm
# (shares of a signed total — the FP&A decomposition behind every
# "why did the metric move" review). Split point = median order date
# (nearest-rank); everything integer cents/ppm.
# --------------------------------------------------------------------------
@harness_query(
    "x238_contribution_waterfall",
    oracle="""
    WITH o AS (
      SELECT c.c_nationkey AS nation, epoch_us(o.o_orderdate) AS tus,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_orderkey
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus, o_orderkey) AS r,
               COUNT(*) OVER () AS n
        FROM o) WHERE r = (n + 1) // 2
    ), halves AS (
      SELECT nation,
             CAST(SUM(CASE WHEN o.tus <= med.m THEN cents ELSE 0 END)
                  AS BIGINT) AS rev_h1,
             CAST(SUM(CASE WHEN o.tus > med.m THEN cents ELSE 0 END)
                  AS BIGINT) AS rev_h2
      FROM o CROSS JOIN med GROUP BY nation
    ), tot AS (
      SELECT CAST(SUM(rev_h2 - rev_h1) AS BIGINT) AS total_delta FROM halves
    )
    SELECT CAST(h.nation AS BIGINT) AS nation, h.rev_h1, h.rev_h2,
           CAST(h.rev_h2 - h.rev_h1 AS BIGINT) AS delta_cents,
           CAST((h.rev_h2 - h.rev_h1) * 1000000 // t.total_delta AS BIGINT)
             AS contribution_ppm
    FROM halves h CROSS JOIN tot t
    ORDER BY nation
    """,
)
def x238_contribution_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("tus"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    med = (
        base.select(
            "tus",
            F.row_number().over(Window.orderBy("tus", "o_orderkey")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    halves = (
        base.crossJoin(F.broadcast(med))
        .groupBy("nation")
        .agg(
            F.sum(
                F.when(F.col("tus") <= F.col("m"), F.col("cents")).otherwise(0)
            ).alias("rev_h1"),
            F.sum(
                F.when(F.col("tus") > F.col("m"), F.col("cents")).otherwise(0)
            ).alias("rev_h2"),
        )
    )
    tot = halves.agg(
        F.sum(F.col("rev_h2") - F.col("rev_h1")).alias("total_delta")
    )
    return (
        halves.crossJoin(F.broadcast(tot))
        .selectExpr(
            "cast(nation AS bigint) AS nation",
            "rev_h1",
            "rev_h2",
            "rev_h2 - rev_h1 AS delta_cents",
            "(rev_h2 - rev_h1) * 1000000 div total_delta AS contribution_ppm",
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# x239 — cold-start fallback recommendations: the top part for each
# (nation, segment) cell, backed off through the classic fallback
# chain cell → nation → global when a cell is too thin (< 5 orders) —
# the hierarchy every production recommender keeps for new/sparse
# users. Three popularity tables (GROUPING SETS shape), one coalesce
# chain; provenance of each recommendation is reported so backoff is
# auditable.
# --------------------------------------------------------------------------
@harness_query(
    "x239_fallback_recommendations",
    oracle="""
    WITH sales AS (
      SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
             l.l_partkey AS part, COUNT(*) AS n
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2, 3
    ), cell_top AS (
      SELECT nation, segment, part, n FROM (
        SELECT nation, segment, part, n,
               SUM(n) OVER (PARTITION BY nation, segment) AS cell_n,
               row_number() OVER (PARTITION BY nation, segment
                                  ORDER BY n DESC, part) AS rn
        FROM sales) WHERE rn = 1 AND cell_n >= 5
    ), nation_top AS (
      SELECT nation, part FROM (
        SELECT nation, part,
               row_number() OVER (PARTITION BY nation
                                  ORDER BY SUM(n) DESC, part) AS rn
        FROM sales GROUP BY nation, part) WHERE rn = 1
    ), global_top AS (
      SELECT part FROM (
        SELECT part, row_number() OVER (ORDER BY SUM(n) DESC, part) AS rn
        FROM sales GROUP BY part) WHERE rn = 1
    ), cells AS (
      SELECT DISTINCT nation, segment FROM sales
    )
    SELECT CAST(c.nation AS BIGINT) AS nation, c.segment,
           CAST(COALESCE(ct.part, nt.part, gt.part) AS BIGINT)
             AS recommended_part,
           CASE WHEN ct.part IS NOT NULL THEN 'cell'
                WHEN nt.part IS NOT NULL THEN 'nation'
                ELSE 'global' END AS provenance
    FROM cells c
    LEFT JOIN cell_top ct USING (nation, segment)
    LEFT JOIN nation_top nt ON nt.nation = c.nation
    CROSS JOIN global_top gt
    ORDER BY nation, segment
    """,
)
def x239_fallback_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sales = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.col("l_partkey").alias("part"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    wcell = Window.partitionBy("nation", "segment")
    cell_top = (
        sales.withColumn("cell_n", F.sum("n").over(wcell))
        .withColumn(
            "rn",
            F.row_number().over(wcell.orderBy(F.desc("n"), "part")),
        )
        .filter("rn = 1 AND cell_n >= 5")
        .select("nation", "segment", F.col("part").alias("cell_part"))
    )
    nation_top = (
        sales.groupBy("nation", "part")
        .agg(F.sum("n").alias("sn"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nation").orderBy(F.desc("sn"), "part")
            ),
        )
        .filter("rn = 1")
        .select("nation", F.col("part").alias("nation_part"))
    )
    global_top = (
        sales.groupBy("part")
        .agg(F.sum("n").alias("sn"))
        .orderBy(F.desc("sn"), "part")
        .limit(1)
        .select(F.col("part").alias("global_part"))
    )
    cells = sales.select("nation", "segment").distinct()
    return (
        cells.join(cell_top, ["nation", "segment"], "left")
        .join(nation_top, "nation", "left")
        .crossJoin(F.broadcast(global_top))
        .select(
            F.col("nation").cast("long").alias("nation"),
            "segment",
            F.coalesce("cell_part", "nation_part", "global_part")
            .cast("long")
            .alias("recommended_part"),
            F.when(F.col("cell_part").isNotNull(), "cell")
            .when(F.col("nation_part").isNotNull(), "nation")
            .otherwise("global")
            .alias("provenance"),
        )
        .orderBy("nation", "segment")
    )


# --------------------------------------------------------------------------
# x240 — session entry/exit analysis: per session (q22's 30-minute
# rule), its first and last event types; aggregated into entry shares,
# exit shares, and the bounce rate (single-event sessions) per entry
# type — the landing/exit-page analytics of product funnels. First/
# last via min/max over (tus, event_id, event_type) structs — one
# window pass, no per-session sort.
# --------------------------------------------------------------------------
@harness_query(
    "x240_session_entry_exit",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events
    ), flagged AS (
      SELECT user_id, event_id, event_type, tus,
             CASE WHEN lag(tus) OVER w IS NULL
                       OR tus - lag(tus) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
    ), sess AS (
      SELECT user_id, event_id, event_type, tus,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY tus, event_id) AS sid
      FROM flagged
    ), per_session AS (
      SELECT user_id, sid,
             MIN(ROW(tus, event_id, event_type)) AS fst,
             MAX(ROW(tus, event_id, event_type)) AS lst,
             COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid
    ), typed AS (
      SELECT fst[3] AS entry_type, lst[3] AS exit_type, n_events
      FROM per_session
    ), tot AS (SELECT COUNT(*) AS n_sessions FROM typed)
    SELECT t.entry_type,
           COUNT(*) AS n_sessions,
           CAST(COUNT(*) * 1000000 // tot.n_sessions AS BIGINT)
             AS entry_share_ppm,
           CAST(SUM(CASE WHEN t.n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm,
           CAST(SUM(CASE WHEN t.exit_type = 'purchase' THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS exit_purchase_ppm
    FROM typed t CROSS JOIN tot
    GROUP BY t.entry_type, tot.n_sessions ORDER BY t.entry_type
    """,
)
def x240_session_entry_exit(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.lag("tus").over(w).isNull()
            | (F.col("tus") - F.lag("tus").over(w) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn("sid", F.sum("new_session").over(w))
    per_session = sess.groupBy("user_id", "sid").agg(
        F.min(F.struct("tus", "event_id", "event_type")).alias("fst"),
        F.max(F.struct("tus", "event_id", "event_type")).alias("lst"),
        F.count(F.lit(1)).alias("n_events"),
    )
    typed = per_session.select(
        F.col("fst.event_type").alias("entry_type"),
        F.col("lst.event_type").alias("exit_type"),
        "n_events",
    )
    tot = typed.agg(F.count(F.lit(1)).alias("n_sessions_total"))
    return (
        typed.crossJoin(F.broadcast(tot))
        .groupBy("entry_type", "n_sessions_total")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("nb"),
            F.sum(
                F.when(F.col("exit_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .selectExpr(
            "entry_type",
            "n_sessions",
            "n_sessions * 1000000 div n_sessions_total AS entry_share_ppm",
            "nb * 1000000 div n_sessions AS bounce_ppm",
            "np * 1000000 div n_sessions AS exit_purchase_ppm",
        )
        .orderBy("entry_type")
    )


# --------------------------------------------------------------------------
# x241 — incomplete-bucket guard: daily event counts with the trailing
# (and leading) partial buckets flagged — the dashboard rule that
# stops "last period looks down" artifacts: a bucket is complete only
# if data exists strictly before and after it. One aggregation plus
# min/max scalars; the flag is what a reporting layer filters on.
# --------------------------------------------------------------------------
@harness_query(
    "x241_incomplete_bucket_guard",
    oracle="""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS day FROM events
    ), b AS (
      SELECT day, COUNT(*) AS n_events FROM e GROUP BY day
    ), t AS (
      SELECT MIN(day) AS first_day, MAX(day) AS last_day FROM b
    )
    SELECT CAST(b.day AS BIGINT) AS day, CAST(b.n_events AS BIGINT)
             AS n_events,
           b.day > t.first_day AND b.day < t.last_day AS is_complete
    FROM b CROSS JOIN t ORDER BY day
    """,
)
def x241_incomplete_bucket_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    b = (
        events.select(F.expr("unix_micros(ts) div 86400000000").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    t = b.agg(F.min("day").alias("first_day"), F.max("day").alias("last_day"))
    return (
        b.crossJoin(F.broadcast(t))
        .select(
            "day",
            "n_events",
            (
                (F.col("day") > F.col("first_day"))
                & (F.col("day") < F.col("last_day"))
            ).alias("is_complete"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x242 — duplicate-transaction detector (fraud/idempotency sweep):
# purchase pairs by the SAME user in the SAME $10 amount band within
# 24 hours of each other — found with the interval-join machinery
# (coarse day-bucket equi-join on (user, band) + exact residual),
# never a raw inequality self-join: each event joins only its own and
# the adjacent day bucket, so candidates are O(n·density), not O(n²).
# --------------------------------------------------------------------------
@harness_query(
    "x242_duplicate_transaction_detector",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT a.event_id AS event_a, b.event_id AS event_b,
           a.user_id, CAST(a.cents // 1000 AS BIGINT) AS amount_band,
           CAST(b.tus - a.tus AS BIGINT) AS gap_us
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND a.cents // 1000 = b.cents // 1000
     AND b.event_id > a.event_id
     AND b.tus >= a.tus - 86400000000 AND b.tus <= a.tus + 86400000000
    ORDER BY event_a, event_b
    """,
)
def x242_duplicate_transaction_detector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    # bucketed self-join: left explodes into its bucket ±1 so every
    # within-5-min pair shares a bucket; residual pins the exact window
    a = e.select(
        F.col("event_id").alias("event_a"),
        "user_id",
        F.expr("cents div 1000").alias("amount_band"),
        F.col("tus").alias("tus_a"),
        F.explode(
            F.array(
                F.expr("tus div 86400000000 - 1"),
                F.expr("tus div 86400000000"),
                F.expr("tus div 86400000000 + 1"),
            )
        ).alias("bucket"),
    )
    b = e.select(
        F.col("event_id").alias("event_b"),
        F.col("user_id").alias("user_b"),
        F.expr("cents div 1000").alias("band_b"),
        F.col("tus").alias("tus_b"),
        F.expr("tus div 86400000000").alias("bucket"),
    )
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & (F.col("amount_band") == F.col("band_b"))
            & (a["bucket"] == b["bucket"]),
        )
        .filter(
            (F.col("event_b") > F.col("event_a"))
            & (F.col("tus_b") >= F.col("tus_a") - 86_400_000_000)
            & (F.col("tus_b") <= F.col("tus_a") + 86_400_000_000)
        )
        .select(
            "event_a",
            "event_b",
            "user_id",
            "amount_band",
            (F.col("tus_b") - F.col("tus_a")).alias("gap_us"),
        )
        .distinct()
        .orderBy("event_a", "event_b")
    )


# --------------------------------------------------------------------------
# x243 — multiplicative KPI decomposition: the half-over-half revenue
# change split EXACTLY into a volume effect and a price (AOV) effect,
# ΔR = ΔN·AOV₁ + N₂·ΔAOV — the identity FP&A uses to say "how much of
# the move was more orders vs bigger orders". AOV in milli-cents by
# integer division; the residual (rounding slack from the divisions)
# is reported instead of hidden, so the decomposition audits to zero.
# --------------------------------------------------------------------------
@harness_query(
    "x243_kpi_decomposition",
    oracle="""
    WITH o AS (
      SELECT epoch_us(o_orderdate) AS tus, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus, o_orderkey) AS r,
               COUNT(*) OVER () AS n
        FROM o) WHERE r = (n + 1) // 2
    ), h AS (
      SELECT CAST(SUM(CASE WHEN o.tus <= med.m THEN cents END) AS BIGINT)
               AS r1,
             CAST(COUNT(CASE WHEN o.tus <= med.m THEN 1 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN o.tus > med.m THEN cents END) AS BIGINT)
               AS r2,
             CAST(COUNT(CASE WHEN o.tus > med.m THEN 1 END) AS BIGINT) AS n2
      FROM o CROSS JOIN med
    )
    SELECT r1, n1, r2, n2,
           CAST(r2 - r1 AS BIGINT) AS delta_rev_cents,
           CAST((n2 - n1) * (r1 * 1000 // n1) // 1000 AS BIGINT)
             AS volume_effect_cents,
           CAST(n2 * (r2 * 1000 // n2 - r1 * 1000 // n1) // 1000 AS BIGINT)
             AS price_effect_cents,
           CAST((r2 - r1)
                - (n2 - n1) * (r1 * 1000 // n1) // 1000
                - n2 * (r2 * 1000 // n2 - r1 * 1000 // n1) // 1000
                AS BIGINT) AS rounding_residual_cents
    FROM h
    """,
)
def x243_kpi_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("tus"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    med = (
        o.select(
            "tus",
            F.row_number().over(Window.orderBy("tus", "o_orderkey")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    h = o.crossJoin(F.broadcast(med)).agg(
        F.sum(F.when(F.col("tus") <= F.col("m"), F.col("cents"))).alias("r1"),
        F.count(F.when(F.col("tus") <= F.col("m"), 1)).alias("n1"),
        F.sum(F.when(F.col("tus") > F.col("m"), F.col("cents"))).alias("r2"),
        F.count(F.when(F.col("tus") > F.col("m"), 1)).alias("n2"),
    )
    return h.selectExpr(
        "cast(r1 AS bigint) AS r1",
        "cast(n1 AS bigint) AS n1",
        "cast(r2 AS bigint) AS r2",
        "cast(n2 AS bigint) AS n2",
        "r2 - r1 AS delta_rev_cents",
        "(n2 - n1) * (r1 * 1000 div n1) div 1000 AS volume_effect_cents",
        "n2 * (r2 * 1000 div n2 - r1 * 1000 div n1) div 1000"
        " AS price_effect_cents",
        "(r2 - r1) - (n2 - n1) * (r1 * 1000 div n1) div 1000"
        " - n2 * (r2 * 1000 div n2 - r1 * 1000 div n1) div 1000"
        " AS rounding_residual_cents",
    )


# --------------------------------------------------------------------------
# x244 — burstiness audit (Fano factor): per user, variance/mean of
# their daily event counts in milli — ≈1000 for Poisson-like organic
# behavior, >> 1000 for bursty/bot-like traffic. The bot-screening
# signal computed from integer moment sums over the (user, day) count
# frame; users with one active day report null dispersion honestly.
# --------------------------------------------------------------------------
@harness_query(
    "x244_burstiness_fano",
    oracle="""
    WITH d AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day, COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM d GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_active_days,
           CAST(sx AS BIGINT) AS n_events,
           CASE WHEN n > 1
                THEN CAST((n * sxx - sx * sx) * 1000 // ((n - 1) * sx)
                          AS BIGINT) END AS fano_milli
    FROM m ORDER BY user_id
    """,
)
def x244_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    d = (
        events.select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    m = d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return m.selectExpr(
        "user_id",
        "cast(n AS bigint) AS n_active_days",
        "cast(sx AS bigint) AS n_events",
        "CASE WHEN n > 1 THEN (n * sxx - sx * sx) * 1000 div ((n - 1) * sx)"
        " END AS fano_milli",
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# x245 — directed-graph reciprocity of the nation trade graph: of the
# distinct customer-nation → supplier-nation edges, what fraction has
# the reverse edge too? The network-science symmetry metric (trade
# balance structure) in ppm — one distinct-edge build, one self-join
# on the reversed key.
# --------------------------------------------------------------------------
@harness_query(
    "x245_graph_reciprocity",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT nc.n_nationkey AS src, ns.n_nationkey AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE nc.n_nationkey <> ns.n_nationkey
    ), recip AS (
      SELECT COUNT(*) AS n_recip
      FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
    ), tot AS (SELECT COUNT(*) AS n_edges FROM edges)
    SELECT CAST(tot.n_edges AS BIGINT) AS n_edges,
           CAST(recip.n_recip AS BIGINT) AS n_reciprocated,
           CAST(recip.n_recip * 1000000 // tot.n_edges AS BIGINT)
             AS reciprocity_ppm
    FROM tot CROSS JOIN recip
    """,
)
def x245_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .filter("src <> dst")
        .distinct()
        .localCheckpoint()
    )
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = edges.join(rev, ["src", "dst"]).agg(
        F.count(F.lit(1)).alias("n_recip")
    )
    tot = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return tot.crossJoin(F.broadcast(recip)).selectExpr(
        "cast(n_edges AS bigint) AS n_edges",
        "cast(n_recip AS bigint) AS n_reciprocated",
        "n_recip * 1000000 div n_edges AS reciprocity_ppm",
    )


# --------------------------------------------------------------------------
# x246 — sliding-window distinct counts by HLL register merge: exact
# trailing-7-day distinct users (x77's problem) need the full id set
# per window at 100 TB; the sketch path keeps 64 registers per DAY and
# contributes each day's registers to the 7 windows they cover
# (explode → max-merge) — state 64·days, never |users|·days. Per day
# the exact count and the HLL estimate (same md5/dyadic/linear-
# counting construction as x188) land side by side with error in ppm —
# the approx-vs-exact story, now on sliding windows.
# --------------------------------------------------------------------------
_HLL_LUT_SQL = ",".join(
    str(v)
    for v in [266, 222, 196, 177, 163, 151, 142, 133, 126, 119, 113, 107,
              102, 97, 93, 89, 85, 81, 78, 74, 71, 68, 65, 63, 60, 58, 55,
              53, 51, 48, 46, 44, 42, 40, 39, 37, 35, 33, 32, 30, 28, 27,
              25, 24, 23, 21, 20, 18, 17, 16, 15, 13, 12, 11, 10, 9, 7, 6,
              5, 4, 3, 2, 1, 0]
)


@harness_query(
    "x246_sliding_hll_eval",
    oracle=f"""
    WITH e AS (
      SELECT epoch_us(ts) // 86400000000 AS day, user_id,
             CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM events
    ), days AS (SELECT DISTINCT day FROM e),
    regs AS (
      SELECT day, hv % 64 AS bucket,
             MAX(CASE WHEN hv // 64 > 0 THEN 27 - length(bin(hv // 64))
                      ELSE 27 END) AS m
      FROM e GROUP BY 1, 2
    ), merged AS (
      SELECT c.target_day AS day, c.bucket, MAX(c.m) AS m
      FROM (SELECT r.day + i.i AS target_day, r.bucket, r.m
            FROM regs r CROSS JOIN range(0, 7) i(i)) c
      JOIN days d ON d.day = c.target_day
      GROUP BY 1, 2
    ), t AS (
      SELECT day, CAST(SUM(1::BIGINT << (32 - m)) AS BIGINT) AS tp,
             COUNT(*) AS np
      FROM merged GROUP BY day
    ), est AS (
      SELECT day,
             CAST(CASE WHEN raw * 2 <= 5 * 64 AND (64 - np) > 0
                       THEN ([{_HLL_LUT_SQL}])[64 - np]
                       ELSE raw END AS BIGINT) AS est_7d
      FROM (SELECT day, np,
                   (709 * 64 * 64 * 4294967296) //
                   (1000 * (tp + (64 - np) * 4294967296)) AS raw
            FROM t)
    ), exact_c AS (
      SELECT c.target_day AS day, COUNT(DISTINCT c.user_id) AS exact_7d
      FROM (SELECT e.day + i.i AS target_day, e.user_id
            FROM e CROSS JOIN range(0, 7) i(i)) c
      JOIN days d ON d.day = c.target_day
      GROUP BY 1
    )
    SELECT est.day, x.exact_7d, est.est_7d,
           CAST((est.est_7d - x.exact_7d) * 1000000 // x.exact_7d AS BIGINT)
             AS err_ppm
    FROM est JOIN exact_c x USING (day)
    ORDER BY est.day
    """,
)
def x246_sliding_hll_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    hv = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    e = events.select(
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        "user_id",
        hv.alias("hv"),
    ).localCheckpoint()
    days = e.select("day").distinct()
    regs = (
        e.select(
            "day",
            F.pmod(F.col("hv"), F.lit(64)).alias("bucket"),
            (F.col("hv") / 64).cast("long").alias("w"),
        )
        .withColumn(
            "rho",
            F.when(F.col("w") > 0, F.lit(27) - F.length(F.expr("bin(w)"))).otherwise(
                F.lit(27)
            ),
        )
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("m"))
    )
    offs = spark.range(0, 7).select(F.col("id").alias("i"))
    merged = (
        regs.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("i")).alias("day"), "bucket", "m")
        .join(days, "day", "left_semi")
        .groupBy("day", "bucket")
        .agg(F.max("m").alias("m"))
    )
    t = merged.groupBy("day").agg(
        F.sum(F.expr("shiftleft(1L, cast(32 - m as int))")).alias("tp"),
        F.count(F.lit(1)).alias("np"),
    )
    est = t.selectExpr(
        "day",
        "np",
        "(709L * 64 * 64 * 4294967296L) div"
        " (1000 * (tp + (64 - np) * 4294967296L)) AS raw",
    ).selectExpr(
        "day",
        f"cast(CASE WHEN raw * 2 <= 5 * 64 AND (64 - np) > 0"
        f" THEN element_at(array({_HLL_LUT_SQL}), cast(64 - np as int))"
        f" ELSE raw END as long) AS est_7d",
    )
    exact_c = (
        e.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("i")).alias("day"), "user_id")
        .join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_7d"))
    )
    return (
        est.join(exact_c, "day")
        .selectExpr(
            "day",
            "exact_7d",
            "est_7d",
            "(est_7d - exact_7d) * 1000000 div exact_7d AS err_ppm",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x247 — join-size estimation by count-min inner product (the AMS/CMS
# result: Σ_v cntA(v)·cntB(v) ≈ min_r Σ_pos cmsA[r,pos]·cmsB[r,pos]) —
# the sketch answer to x221's System-R formula: instead of assuming
# uniformity over NDV, multiply the two sides' 4×64 sketches cell by
# cell. Both sketches are x141's portable construction, so estimate
# AND error value-oracle; the true size is the exact key-count join.
# At 100 TB the sketches are KBs per side where key histograms are
# vocabulary-sized.
# --------------------------------------------------------------------------
@harness_query(
    "x247_cms_join_size_eval",
    oracle="""
    WITH ca AS (
      SELECT r.r, ((((l_suppkey % 2147483648 + 2147483648) % 2147483648
                     * CASE r.r WHEN 0 THEN 695425565 WHEN 1 THEN 847877000
                                WHEN 2 THEN 155555738 ELSE 785310973 END
                   + CASE r.r WHEN 0 THEN 647892279 WHEN 1 THEN 207388624
                              WHEN 2 THEN 404285457 ELSE 249103477 END)
                   % 2147483648) % 64) AS pos,
             COUNT(*) AS cnt
      FROM lineitem CROSS JOIN range(0, 4) r(r)
      GROUP BY 1, 2
    ), cb AS (
      SELECT r.r, ((((s_suppkey % 2147483648 + 2147483648) % 2147483648
                     * CASE r.r WHEN 0 THEN 695425565 WHEN 1 THEN 847877000
                                WHEN 2 THEN 155555738 ELSE 785310973 END
                   + CASE r.r WHEN 0 THEN 647892279 WHEN 1 THEN 207388624
                              WHEN 2 THEN 404285457 ELSE 249103477 END)
                   % 2147483648) % 64) AS pos,
             COUNT(*) AS cnt
      FROM supplier CROSS JOIN range(0, 4) r(r)
      GROUP BY 1, 2
    ), prods AS (
      SELECT ca.r, CAST(SUM(ca.cnt * cb.cnt) AS BIGINT) AS ip
      FROM ca JOIN cb ON ca.r = cb.r AND ca.pos = cb.pos
      GROUP BY ca.r
    ), est AS (
      SELECT CAST(MIN(ip) AS BIGINT) AS est_size FROM prods
    ), tru AS (
      SELECT COUNT(*) AS true_size
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    )
    SELECT CAST(tru.true_size AS BIGINT) AS true_size, est.est_size,
           CAST((est.est_size - tru.true_size) * 1000000 // tru.true_size
                AS BIGINT) AS err_ppm
    FROM tru CROSS JOIN est
    """,
)
def x247_cms_join_size_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    A = [695425565, 847877000, 155555738, 785310973]
    B = [647892279, 207388624, 404285457, 249103477]

    def cms(df, key):
        rows = None
        for r in range(4):
            part = df.select(
                F.lit(r).alias("r"),
                F.expr(
                    f"((({key} % 2147483648 + 2147483648) % 2147483648"
                    f" * {A[r]} + {B[r]}) % 2147483648) % 64"
                ).alias("pos"),
            )
            rows = part if rows is None else rows.unionByName(part)
        return rows.groupBy("r", "pos").agg(F.count(F.lit(1)).alias("cnt"))

    ca = cms(li, "l_suppkey")
    cb = cms(s, "s_suppkey").withColumnRenamed("cnt", "cnt_b")
    est = (
        ca.join(cb, ["r", "pos"])
        .groupBy("r")
        .agg(F.sum(F.col("cnt") * F.col("cnt_b")).alias("ip"))
        .agg(F.min("ip").alias("est_size"))
    )
    tru = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .agg(F.count(F.lit(1)).alias("true_size"))
    )
    return tru.crossJoin(F.broadcast(est)).selectExpr(
        "cast(true_size AS bigint) AS true_size",
        "cast(est_size AS bigint) AS est_size",
        "(est_size - true_size) * 1000000 div true_size AS err_ppm",
    )


# --------------------------------------------------------------------------
# x248 — matched-cohort construction (propensity-lite): pair each
# treated user (odd ids) with the control user (even ids) whose
# pre-period mean spend is NEAREST — a 1-NN match on the score axis,
# found with operators/temporal.asof_join(direction="nearest") where
# "time" is the score: matching IS an as-of join on a different axis.
# Greedy-with-replacement matching (each treated picks its closest
# control; controls may repeat), the standard first-cut matched
# analysis. Output: per pair, both scores and the match gap.
# --------------------------------------------------------------------------
@harness_query(
    "x248_matched_cohorts",
    oracle="""
    WITH pre AS (
      SELECT user_id,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) // COUNT(*)
                  AS BIGINT) AS score
      FROM events GROUP BY user_id
    ), treat AS (
      SELECT user_id AS t_user, score AS t_score FROM pre
      WHERE user_id % 2 = 1
    ), ctrl AS (
      SELECT user_id AS c_user, score AS c_score FROM pre
      WHERE user_id % 2 = 0
    ), un AS (
      SELECT 0 AS grp, c_score AS s, c_user AS uid, c_score FROM ctrl
      UNION ALL
      SELECT 1 AS grp, t_score AS s, t_user AS uid, NULL AS c_score
      FROM treat
    ), m AS (
      SELECT uid, s, grp,
             MAX(CASE WHEN grp = 0 THEN s END) OVER (
               ORDER BY s, grp, uid
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bwd,
             MIN(CASE WHEN grp = 0 THEN s END) OVER (
               ORDER BY s, grp, uid
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fwd
      FROM un
    ), picked AS (
      SELECT uid AS t_user, s AS t_score,
             CASE WHEN fwd IS NULL THEN bwd
                  WHEN bwd IS NULL THEN fwd
                  WHEN fwd - s < s - bwd THEN fwd ELSE bwd END AS m_score
      FROM m WHERE grp = 1
    )
    SELECT p.t_user, p.t_score,
           MIN(c.c_user) AS matched_control,
           p.m_score AS control_score,
           CAST(ABS(p.t_score - p.m_score) AS BIGINT) AS gap_cents
    FROM picked p JOIN ctrl c ON c.c_score = p.m_score
    GROUP BY p.t_user, p.t_score, p.m_score
    ORDER BY p.t_user
    """,
)
def x248_matched_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    pre = events.groupBy("user_id").agg(
        F.expr(
            "sum(cast(round(value * 100) AS long)) div count(1)"
        ).alias("score")
    )
    treat = pre.filter("user_id % 2 = 1").select(
        F.col("user_id").alias("t_user"),
        F.col("score").alias("t_score"),
        F.lit(1).alias("k"),
    )
    ctrl = pre.filter("user_id % 2 = 0").select(
        F.col("score").alias("c_score"),
        F.col("user_id").alias("c_user"),
        F.lit(1).alias("k"),
    )
    # nearest match on the score axis; ties across equal scores resolve
    # to MIN(c_user) afterwards so both engines agree
    matched = asof_join(
        treat,
        ctrl.select("k", "c_score"),
        on="k",
        left_ts="t_score",
        right_ts="c_score",
        direction="nearest",
    )
    return (
        matched.join(
            ctrl.select("c_score", "c_user"),
            F.col("asof_c_score") == F.col("c_score"),
        )
        .groupBy("t_user", "t_score", F.col("asof_c_score").alias("control_score"))
        .agg(F.min("c_user").alias("matched_control"))
        .select(
            "t_user",
            "t_score",
            "matched_control",
            "control_score",
            F.abs(F.col("t_score") - F.col("control_score")).alias("gap_cents"),
        )
        .orderBy("t_user")
    )


# --------------------------------------------------------------------------
# x249 — A/A calibration (the null experiment): split the CONTROL
# population into two pseudo-arms (user_id div 2 parity — orthogonal
# to the x210/x212 treatment hash) and run the identical DiD readout;
# a healthy pipeline reports a near-zero effect. This is the
# run-before-you-trust-anything calibration every experimentation
# platform schedules, computed with the same integer micro-cent cells
# as x210 so zero means zero.
# --------------------------------------------------------------------------
@harness_query(
    "x249_aa_calibration",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id % 2 = 1
    ), med AS (
      SELECT tus AS m FROM (
        SELECT tus, row_number() OVER (ORDER BY tus, event_id) AS r,
               COUNT(*) OVER () AS n
        FROM e) WHERE r = (n + 1) // 2
    ), means AS (
      SELECT CASE WHEN user_id // 2 % 2 = 0 THEN 'arm_a' ELSE 'arm_b' END
               AS grp,
             CASE WHEN e.tus <= med.m THEN 'pre' ELSE 'post' END AS period,
             CAST(SUM(cents) * 1000000 // COUNT(*) AS BIGINT)
               AS mean_microcents
      FROM e CROSS JOIN med GROUP BY 1, 2
    )
    SELECT
      MIN(CASE WHEN grp = 'arm_a' AND period = 'post' THEN mean_microcents END)
      - MIN(CASE WHEN grp = 'arm_a' AND period = 'pre' THEN mean_microcents END)
      - (MIN(CASE WHEN grp = 'arm_b' AND period = 'post' THEN mean_microcents END)
         - MIN(CASE WHEN grp = 'arm_b' AND period = 'pre' THEN mean_microcents END))
        AS aa_did_microcents,
      MIN(CASE WHEN grp = 'arm_a' AND period = 'post' THEN mean_microcents END)
        AS arm_a_post,
      MIN(CASE WHEN grp = 'arm_b' AND period = 'post' THEN mean_microcents END)
        AS arm_b_post
    FROM means
    """,
)
def x249_aa_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").filter("user_id % 2 = 1")
    e = events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = (
        e.select(
            "tus",
            F.row_number().over(Window.orderBy("tus", "event_id")).alias("r"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        )
        .filter(F.expr("r = (n + 1) div 2"))
        .select(F.col("tus").alias("m"))
    )
    means = (
        e.crossJoin(F.broadcast(med))
        .select(
            F.when(F.expr("user_id div 2 % 2 = 0"), "arm_a")
            .otherwise("arm_b")
            .alias("grp"),
            F.when(F.col("tus") <= F.col("m"), "pre")
            .otherwise("post")
            .alias("period"),
            "cents",
        )
        .groupBy("grp", "period")
        .agg(
            F.expr("sum(cents) * 1000000 div count(1)").alias("mean_microcents")
        )
    )

    def cell(g, p):
        return F.min(
            F.when(
                (F.col("grp") == g) & (F.col("period") == p),
                F.col("mean_microcents"),
            )
        )

    return means.agg(
        (
            cell("arm_a", "post")
            - cell("arm_a", "pre")
            - (cell("arm_b", "post") - cell("arm_b", "pre"))
        ).alias("aa_did_microcents"),
        cell("arm_a", "post").alias("arm_a_post"),
        cell("arm_b", "post").alias("arm_b_post"),
    )


# --------------------------------------------------------------------------
# x250 — term-usage drift: for the 20 highest-frequency terms, usage
# counts in the first vs second half of the doc stream (by doc_id) and
# the per-term chi-square drift term — the text twin of x199's value
# drift: "did the language of the corpus shift between ingest
# windows". Integer scaled-ratio arithmetic throughout.
# --------------------------------------------------------------------------
@harness_query(
    "x250_term_drift",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                x -> x <> '')) AS w
      FROM documents
    ), mid AS (
      SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS m FROM words
    ), top_terms AS (
      SELECT w FROM (
        SELECT w, COUNT(*) AS n,
               row_number() OVER (ORDER BY COUNT(*) DESC, w) AS rn
        FROM words GROUP BY w) WHERE rn <= 20
    ), counts AS (
      SELECT ws.w,
             CAST(SUM(CASE WHEN ws.doc_id <= mid.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN ws.doc_id > mid.m THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM words ws JOIN top_terms USING (w) CROSS JOIN mid
      GROUP BY ws.w
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2
      FROM counts
    )
    -- HUGEINT intermediates (Spark: DECIMAL(38,0)): the squared
    -- cross-term and the 3-factor denominator overflow int64 at the
    -- sf10 sweep's word counts (round-10 finding); quotient fits int64.
    -- GREATEST(t,1) totality guards: a window with ZERO top-term usage
    -- is legitimate data (the sf10 corpus suffixes second-half
    -- templates, so the global top terms live entirely in the first
    -- half) and must yield a defined drift term, not a div-by-zero
    SELECT c.w AS term, c.n1, c.n2,
           CAST((CAST(c.n2 AS HUGEINT) * t.t1 - CAST(c.n1 AS HUGEINT) * t.t2)
                * (CAST(c.n2 AS HUGEINT) * t.t1 - CAST(c.n1 AS HUGEINT) * t.t2)
                // (CAST(GREATEST(c.n1, 1) AS HUGEINT)
                    * GREATEST(t.t1, 1) * GREATEST(t.t2, 1)) AS BIGINT)
             AS chi2_term_scaled
    FROM counts c CROSS JOIN tot t
    ORDER BY term
    """,
)
def x250_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.trim("text")), r"\s+"), lambda x: x != F.lit("")
            )
        ).alias("w"),
    ).localCheckpoint()
    mid = words.agg(
        F.expr("(min(doc_id) + max(doc_id)) div 2").alias("m")
    )
    top_terms = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(20)
        .select("w")
    )
    counts = (
        words.join(F.broadcast(top_terms), "w")
        .crossJoin(F.broadcast(mid))
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("doc_id") <= F.col("m"), 1).otherwise(0)).alias(
                "n1"
            ),
            F.sum(F.when(F.col("doc_id") > F.col("m"), 1).otherwise(0)).alias(
                "n2"
            ),
        )
    )
    tot = counts.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "w AS term",
            "cast(n1 AS bigint) AS n1",
            "cast(n2 AS bigint) AS n2",
            # DECIMAL(38,0) intermediates: squared cross-term and the
            # 3-factor denominator overflow int64 at sf10 word counts
            # (round-10 sweep finding); quotient fits int64
            "cast((cast(n2 AS decimal(38,0)) * t1 - cast(n1 AS decimal(38,0)) * t2)"
            " * (cast(n2 AS decimal(38,0)) * t1 - cast(n1 AS decimal(38,0)) * t2)"
            " div (cast(GREATEST(n1, 1L) AS decimal(38,0))"
            "      * GREATEST(t1, 1L) * GREATEST(t2, 1L))"
            " as bigint) AS chi2_term_scaled",
        )
        .orderBy("term")
    )


# --------------------------------------------------------------------------
# x251 — bitmap-index set intersection: encode each event type's user
# set as 32-bit words (word = user_id div 32, bit = user_id mod 32 —
# staying below bit 63 keeps the shift portable across engines,
# OR-folded per word), then count co-users for every type pair with a
# word-aligned AND + bit_count — the bitmap-index technique OLAP
# engines use for low-cardinality dimension sets. Verified against
# nothing less than itself in SQL (both engines fold the same bitmaps)
# AND semantically against the naive distinct-join count, which the
# oracle computes as the check column. A 150-user set costs 3 words
# per type — the 100 TB shape is |users|/64 words, not |users| rows.
# --------------------------------------------------------------------------
@harness_query(
    "x251_bitmap_intersection",
    oracle="""
    WITH u AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), words AS (
      SELECT event_type, user_id // 32 AS word,
             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS BIGINT)
               AS bits
      FROM u GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS bitmap_count
      FROM words a JOIN words b
        ON a.word = b.word AND a.event_type < b.event_type
      GROUP BY 1, 2
    ), naive AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS join_count
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.bitmap_count,
           CAST(n.join_count AS BIGINT) AS join_count
    FROM pairs p JOIN naive n USING (type_a, type_b)
    ORDER BY type_a, type_b
    """,
)
def x251_bitmap_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    u = events.select("event_type", "user_id").distinct().localCheckpoint()
    words = (
        u.select(
            "event_type",
            F.expr("user_id div 32").alias("word"),
            F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
        )
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "word", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "word", F.col("bits").alias("bb")
    )
    pairs = (
        a.join(b, "word")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.expr("sum(bit_count(ba & bb))").alias("bitmap_count"))
    )
    ua = u.select(F.col("event_type").alias("type_a"), "user_id")
    ub = u.select(F.col("event_type").alias("type_b"), "user_id")
    naive = (
        ua.join(ub, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("join_count"))
    )
    return (
        pairs.join(naive, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            F.col("bitmap_count").cast("long").alias("bitmap_count"),
            F.col("join_count").cast("long").alias("join_count"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# x252 — censored latency percentiles: order→ship latency per priority
# AS OF a snapshot (2001-06-01) — lines shipping after the snapshot
# are right-censored ("not yet shipped"), and the naive percentile
# over only-observed latencies understates the truth. Reported per
# priority: censored share, the naive p50/p90, and the censoring-aware
# bound that ranks censored lines as larger-than-any-observed (NULL
# when the rank lands in the censored region — "not knowable at this
# snapshot" stated honestly, the Kaplan-Meier-style accounting in
# nearest-rank integer form).
# --------------------------------------------------------------------------
@harness_query(
    "x252_censored_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS pri,
             epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate) AS lat_us,
             CASE WHEN l.l_shipdate > TIMESTAMP '2001-06-01'
                  THEN 1 ELSE 0 END AS censored
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), obs AS (
      SELECT pri, lat_us,
             row_number() OVER (PARTITION BY pri ORDER BY lat_us) AS r,
             COUNT(*) OVER (PARTITION BY pri) AS n_obs
      FROM lat WHERE censored = 0
    ), tot AS (
      SELECT pri, COUNT(*) AS n_all,
             CAST(SUM(censored) AS BIGINT) AS n_cens
      FROM lat GROUP BY pri
    ), naive AS (
      SELECT pri,
             MIN(CASE WHEN r = (50 * n_obs + 99) // 100 THEN lat_us END)
               AS naive_p50_us,
             MIN(CASE WHEN r = (90 * n_obs + 99) // 100 THEN lat_us END)
               AS naive_p90_us
      FROM obs GROUP BY pri
    ), aware AS (
      SELECT o.pri,
             MIN(CASE WHEN o.r = (50 * t.n_all + 99) // 100
                      THEN o.lat_us END) AS aware_p50_us,
             MIN(CASE WHEN o.r = (90 * t.n_all + 99) // 100
                      THEN o.lat_us END) AS aware_p90_us
      FROM obs o JOIN tot t USING (pri) GROUP BY o.pri
    )
    SELECT t.pri, CAST(t.n_all AS BIGINT) AS n_lines, t.n_cens,
           CAST(t.n_cens * 1000000 // t.n_all AS BIGINT) AS censored_ppm,
           CAST(n.naive_p50_us AS BIGINT) AS naive_p50_us,
           CAST(n.naive_p90_us AS BIGINT) AS naive_p90_us,
           CAST(a.aware_p50_us AS BIGINT) AS aware_p50_us,
           CAST(a.aware_p90_us AS BIGINT) AS aware_p90_us
    FROM tot t JOIN naive n USING (pri) JOIN aware a USING (pri)
    ORDER BY t.pri
    """,
)
def x252_censored_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("pri"),
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        ).alias("lat_us"),
        F.when(
            F.col("l_shipdate").cast("timestamp")
            > F.lit("2001-06-01").cast("timestamp"),
            1,
        )
        .otherwise(0)
        .alias("censored"),
    )
    # ONE pass over the 60M-row join (the previous form executed it
    # three times: observed-rank window, totals agg, and the
    # observed-rank subtree again for the censoring-aware join; sf10
    # 141 s). Ordering the rank window by (censored, lat_us) places
    # every observed row before every censored one, so for observed
    # rows row_number IS the rank among observed — and a target rank
    # landing past n_obs matches no observed row, yielding the honest
    # NULL for the censored region. n_obs = n_all − n_cens needs no
    # second window; ties share a lat_us value, so the value at any
    # rank is permutation-invariant. One exchange on pri, one sort,
    # one aggregation.
    w = Window.partitionBy("pri")
    fr = lat.select(
        "pri",
        "lat_us",
        "censored",
        F.row_number()
        .over(Window.partitionBy("pri").orderBy("censored", "lat_us"))
        .alias("r"),
        F.count(F.lit(1)).over(w).alias("n_all"),
        F.sum("censored").over(w).alias("n_cens"),
    )
    is_obs = F.col("censored") == 0
    return (
        fr.groupBy("pri")
        .agg(
            F.first("n_all").alias("n_all"),
            F.first("n_cens").alias("n_cens"),
            F.min(
                F.when(
                    is_obs
                    & F.expr("r = (50 * (n_all - n_cens) + 99) div 100"),
                    F.col("lat_us"),
                )
            ).alias("naive_p50_us"),
            F.min(
                F.when(
                    is_obs
                    & F.expr("r = (90 * (n_all - n_cens) + 99) div 100"),
                    F.col("lat_us"),
                )
            ).alias("naive_p90_us"),
            F.min(
                F.when(
                    is_obs & F.expr("r = (50 * n_all + 99) div 100"),
                    F.col("lat_us"),
                )
            ).alias("aware_p50_us"),
            F.min(
                F.when(
                    is_obs & F.expr("r = (90 * n_all + 99) div 100"),
                    F.col("lat_us"),
                )
            ).alias("aware_p90_us"),
        )
        .selectExpr(
            "pri",
            "cast(n_all AS bigint) AS n_lines",
            "cast(n_cens AS bigint) AS n_cens",
            "n_cens * 1000000 div n_all AS censored_ppm",
            "naive_p50_us",
            "naive_p90_us",
            "aware_p50_us",
            "aware_p90_us",
        )
        .orderBy("pri")
    )


# --------------------------------------------------------------------------
# x253 → q27 (r5 tier-1 promotion) — RAG context assembly (the retrieval last-mile): for each of 5
# query docs, rank the rest of the corpus by shared-vocabulary overlap
# (distinct shared words — the x219 lexical idiom), then greedily pack
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
# x254 — LTV projection (truncated geometric): per nation, the
# repeat-purchase share r (customers with 2+ orders, in ppm — the x156
# retention proxy) and ARPU drive the 6-period projection
# LTV₆ = ARPU · Σ_{k=0..5} r^k, with r^k built by STAGED ppm
# multiplication (each stage divides by 10⁶ before the next multiply,
# so every intermediate stays in int64 and both engines agree
# bit-for-bit). The growth-analytics readout that prices acquisition.
# --------------------------------------------------------------------------
@harness_query(
    "x254_ltv_projection",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_nationkey AS nation, o.o_custkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ), base AS (
      SELECT nation,
             CAST(SUM(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1000000
                  // COUNT(*) AS BIGINT) AS r_ppm,
             CAST(SUM(rev) // COUNT(*) AS BIGINT) AS arpu_cents
      FROM per_cust GROUP BY nation
    ), powers AS (
      SELECT nation, r_ppm, arpu_cents,
             r_ppm AS r1,
             r_ppm * r_ppm // 1000000 AS r2,
             (r_ppm * r_ppm // 1000000) * r_ppm // 1000000 AS r3,
             ((r_ppm * r_ppm // 1000000) * r_ppm // 1000000) * r_ppm
               // 1000000 AS r4,
             (((r_ppm * r_ppm // 1000000) * r_ppm // 1000000) * r_ppm
               // 1000000) * r_ppm // 1000000 AS r5
      FROM base
    )
    SELECT CAST(nation AS BIGINT) AS nation, r_ppm, arpu_cents,
           CAST(arpu_cents * (1000000 + r1 + r2 + r3 + r4 + r5) // 1000000
                AS BIGINT) AS ltv6_cents
    FROM powers ORDER BY nation
    """,
)
def x254_ltv_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("c_nationkey").alias("nation"), "o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev"
            ),
        )
    )
    base = per_cust.groupBy("nation").agg(
        F.expr(
            "sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1000000"
            " div count(1)"
        ).alias("r_ppm"),
        F.expr("sum(rev) div count(1)").alias("arpu_cents"),
    )
    return base.selectExpr(
        "cast(nation AS bigint) AS nation",
        "r_ppm",
        "arpu_cents",
        "arpu_cents * (1000000 + r_ppm"
        " + r_ppm * r_ppm div 1000000"
        " + (r_ppm * r_ppm div 1000000) * r_ppm div 1000000"
        " + ((r_ppm * r_ppm div 1000000) * r_ppm div 1000000) * r_ppm"
        "   div 1000000"
        " + (((r_ppm * r_ppm div 1000000) * r_ppm div 1000000) * r_ppm"
        "    div 1000000) * r_ppm div 1000000"
        ") div 1000000 AS ltv6_cents",
    ).orderBy("nation")


# --------------------------------------------------------------------------
# x255 — active-learning pool selection (margin sampling): the 20
# documents the x183 linear quality model is LEAST sure about
# (smallest |logit|) — exactly the rows a human labeler should see
# next. Margin ranking is one order-by over the scored frame; ties pin
# on doc_id. The features ride along so the labeling UI needs no
# second lookup.
# --------------------------------------------------------------------------
@harness_query(
    "x255_active_learning_pool",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(len(lst) AS BIGINT) AS tok_cnt,
             CAST(len(list_filter(lst, x -> list_contains(
               ['the','a','an','of','and','to','in','is','it','that'], x)))
               AS BIGINT) AS stop_cnt,
             CAST(len(list_distinct(lst)) AS BIGINT) AS distinct_cnt
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                               x -> x <> '') AS lst
            FROM documents)
    ), s AS (
      SELECT doc_id, tok_cnt,
             40000 * tok_cnt + distinct_cnt * 1000000 // tok_cnt
             - 2 * (stop_cnt * 1000000 // tok_cnt) - 1900000 AS logit_micro
      FROM f WHERE tok_cnt > 0
    )
    SELECT doc_id, tok_cnt, CAST(logit_micro AS BIGINT) AS logit_micro,
           CAST(ABS(logit_micro) AS BIGINT) AS margin_micro
    FROM s ORDER BY ABS(logit_micro), doc_id LIMIT 20
    """,
)
def x255_active_learning_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = x183_quality_classifier(spark, sf_dir).select(
        "doc_id", "tok_cnt", "logit_micro"
    )
    return (
        scored.withColumn("margin_micro", F.abs("logit_micro"))
        .orderBy("margin_micro", "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x256 — EXACT sliding-window distinct counts via bitmap OR-merge (the
# exact twin of x246's HLL estimate): per-day 32-bit-word user bitmaps
# (the x251 encoding) contribute to the 7 windows they cover; OR-merge
# per (window, word) and sum bit_count — exact trailing-7-day distinct
# users with |users|/32 words of state per day instead of the full id
# set. When ids are dense, sliding distinct doesn't need a sketch at
# all — verified against the naive exact count.
# --------------------------------------------------------------------------
@harness_query(
    "x256_sliding_bitmap_distinct",
    oracle="""
    WITH e AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events
    ), days AS (SELECT DISTINCT day FROM e),
    words AS (
      SELECT day, user_id // 32 AS word,
             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS BIGINT)
               AS bits
      FROM e GROUP BY 1, 2
    ), merged AS (
      SELECT c.target_day AS day, c.word,
             CAST(bit_or(c.bits) AS BIGINT) AS bits
      FROM (SELECT w.day + i.i AS target_day, w.word, w.bits
            FROM words w CROSS JOIN range(0, 7) i(i)) c
      JOIN days d ON d.day = c.target_day
      GROUP BY 1, 2
    ), bitmap_c AS (
      SELECT day, CAST(SUM(bit_count(bits)) AS BIGINT) AS bitmap_7d
      FROM merged GROUP BY day
    ), exact_c AS (
      SELECT c.target_day AS day, COUNT(DISTINCT c.user_id) AS exact_7d
      FROM (SELECT e.day + i.i AS target_day, e.user_id
            FROM e CROSS JOIN range(0, 7) i(i)) c
      JOIN days d ON d.day = c.target_day
      GROUP BY 1
    )
    SELECT b.day, b.bitmap_7d, CAST(x.exact_7d AS BIGINT) AS exact_7d
    FROM bitmap_c b JOIN exact_c x USING (day)
    ORDER BY b.day
    """,
)
def x256_sliding_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = (
        events.select(
            F.expr("unix_micros(ts) div 86400000000").alias("day"), "user_id"
        )
        .distinct()
        .localCheckpoint()
    )
    days = e.select("day").distinct()
    words = (
        e.select(
            "day",
            F.expr("user_id div 32").alias("word"),
            F.expr("shiftleft(1L, cast(user_id % 32 as int))").alias("bit"),
        )
        .groupBy("day", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    offs = spark.range(0, 7).select(F.col("id").alias("i"))
    merged = (
        words.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("i")).alias("day"), "word", "bits")
        .join(days, "day", "left_semi")
        .groupBy("day", "word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    bitmap_c = merged.groupBy("day").agg(
        F.expr("sum(bit_count(bits))").alias("bitmap_7d")
    )
    exact_c = (
        e.crossJoin(F.broadcast(offs))
        .select((F.col("day") + F.col("i")).alias("day"), "user_id")
        .join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_7d"))
    )
    return (
        bitmap_c.join(exact_c, "day")
        .selectExpr(
            "day",
            "cast(bitmap_7d AS bigint) AS bitmap_7d",
            "cast(exact_7d AS bigint) AS exact_7d",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x257 — BPE round-trip integrity: after x178's 3 learned merges, every
# word's symbol sequence must concatenate back to the original word —
# the losslessness invariant that makes a tokenizer safe to ship.
# Reported as totals + violation count (pinned 0 by construction:
# merges only ever join adjacent symbols). The check is a string
# equality over the vocabulary — cheap enough to run after every
# merge-table update.
# --------------------------------------------------------------------------
@harness_query(
    "x257_bpe_roundtrip_check",
    oracle="""
    WITH wf AS (
      SELECT w, COUNT(*) AS freq FROM (
        SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents) GROUP BY w
    ), s0 AS (
      SELECT w, ' ' || array_to_string(string_split_regex(w, ''), '  ') || ' '
               AS s, freq
      FROM wf
    ),
    p1 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s0))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m1 AS (SELECT l, r FROM p1 ORDER BY cnt DESC, l, r LIMIT 1),
    s1 AS (
      SELECT w, replace(s, ' ' || m1.l || '  ' || m1.r || ' ',
                           ' ' || m1.l || m1.r || ' ') AS s, freq
      FROM s0 CROSS JOIN m1
    ),
    p2 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s1))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m2 AS (SELECT l, r FROM p2 ORDER BY cnt DESC, l, r LIMIT 1),
    s2 AS (
      SELECT w, replace(s, ' ' || m2.l || '  ' || m2.r || ' ',
                           ' ' || m2.l || m2.r || ' ') AS s, freq
      FROM s1 CROSS JOIN m2
    ),
    p3 AS (
      SELECT pr[1] AS l, pr[2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, unnest(list_zip(sy, sy[2:])) AS pr
            FROM (SELECT freq, string_split(trim(s), '  ') AS sy FROM s2))
      WHERE pr[2] IS NOT NULL GROUP BY 1, 2
    ), m3 AS (SELECT l, r FROM p3 ORDER BY cnt DESC, l, r LIMIT 1),
    s3 AS (
      SELECT w, replace(s, ' ' || m3.l || '  ' || m3.r || ' ',
                           ' ' || m3.l || m3.r || ' ') AS s, freq
      FROM s2 CROSS JOIN m3
    )
    SELECT COUNT(*) AS n_words,
           CAST(SUM(CASE WHEN replace(replace(s, ' ', ''), '  ', '') = w
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_violations
    FROM s3
    """,
)
def x257_bpe_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    _, seqs = bpe_learn(wf, word_col="w", freq_col="freq", n_merges=3)
    return seqs.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(
            F.when(
                F.replace(F.col("s"), F.lit(" "), F.lit("")) == F.col("w"), 0
            ).otherwise(1)
        ).alias("n_violations"),
    )


# --------------------------------------------------------------------------
# x258 — RFM feature construction: per user, recency (days since last
# event, measured against the corpus max — no wall clock, so the
# feature table is reproducible), frequency, and monetary value, plus
# nearest-rank quintile codes for each axis and the composed RFM
# segment (R*100 + F*10 + M) — the classic churn/value feature block,
# built in three windows.
# --------------------------------------------------------------------------
@harness_query(
    "x258_rfm_features",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ), horizon AS (SELECT MAX(tus) AS h FROM e),
    per_user AS (
      SELECT user_id,
             CAST((horizon.h - MAX(e.tus)) // 86400000000 AS BIGINT)
               AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(cents) AS BIGINT) AS monetary_cents
      FROM e CROSS JOIN horizon GROUP BY user_id, horizon.h
    ), coded AS (
      SELECT user_id, recency_days, frequency, monetary_cents,
             ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r_code,
             ntile(5) OVER (ORDER BY frequency, user_id) AS f_code,
             ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_code
      FROM per_user
    )
    SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
           monetary_cents,
           CAST(r_code * 100 + f_code * 10 + m_code AS BIGINT) AS rfm_segment
    FROM coded ORDER BY user_id
    """,
)
def x258_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    e = events.select(
        "user_id",
        F.unix_micros("ts").alias("tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    horizon = e.agg(F.max("tus").alias("h"))
    per_user = (
        e.crossJoin(F.broadcast(horizon))
        .groupBy("user_id", "h")
        .agg(
            F.expr("(first(h) - max(tus)) div 86400000000").alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .drop("h")
    )
    coded = (
        per_user.withColumn(
            "r_code",
            F.ntile(5).over(Window.orderBy(F.desc("recency_days"), "user_id")),
        )
        .withColumn(
            "f_code", F.ntile(5).over(Window.orderBy("frequency", "user_id"))
        )
        .withColumn(
            "m_code",
            F.ntile(5).over(Window.orderBy("monetary_cents", "user_id")),
        )
    )
    return coded.selectExpr(
        "user_id",
        "cast(recency_days AS bigint) AS recency_days",
        "cast(frequency AS bigint) AS frequency",
        "monetary_cents",
        "cast(r_code * 100 + f_code * 10 + m_code AS bigint) AS rfm_segment",
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# x259 → q29 (r5 tier-1 promotion) — attribution model comparison: each purchase's value credited
# to the DAY of its first-touch click vs its last-touch click within
# the prior 24 h — the two bookend models whose daily revenue series
# diverge exactly where campaigns overlap. Last touch is the q37
# backward as-of; first touch is a min-over-window on the same
# union frame; both series land side by side per day with the
# difference — integer cents, one shuffle per model.
# --------------------------------------------------------------------------
@harness_query(
    "x310_attribution_models",
    oracle="""
    WITH clicks AS (
      SELECT user_id, epoch_us(ts) AS tus FROM events
      WHERE event_type = 'click'
    ), purch AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ), joined AS (
      SELECT p.event_id, p.cents,
             MAX(c.tus) AS last_touch, MIN(c.tus) AS first_touch
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND c.tus <= p.tus AND c.tus >= p.tus - 86400000000
      GROUP BY p.event_id, p.cents
    ), credited AS (
      SELECT last_touch // 86400000000 AS last_day,
             first_touch // 86400000000 AS first_day, cents
      FROM joined
    ), lastm AS (
      SELECT last_day AS day, CAST(SUM(cents) AS BIGINT) AS last_touch_cents
      FROM credited GROUP BY 1
    ), firstm AS (
      SELECT first_day AS day, CAST(SUM(cents) AS BIGINT) AS first_touch_cents
      FROM credited GROUP BY 1
    )
    SELECT COALESCE(l.day, f.day) AS day,
           COALESCE(l.last_touch_cents, 0) AS last_touch_cents,
           COALESCE(f.first_touch_cents, 0) AS first_touch_cents,
           COALESCE(f.first_touch_cents, 0) - COALESCE(l.last_touch_cents, 0)
             AS model_gap_cents
    FROM lastm l FULL OUTER JOIN firstm f USING (day)
    ORDER BY day
    """,
)
def x310_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purch = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("p_tus"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.unix_micros("ts").alias("c_tus")
    )
    # 24h lookback pairs via the bucketed-interval pattern (day buckets)
    p = purch.withColumn(
        "bucket",
        F.explode(
            F.array(
                F.expr("p_tus div 86400000000 - 1"),
                F.expr("p_tus div 86400000000"),
            )
        ),
    )
    c = clicks.withColumn("bucket", F.expr("c_tus div 86400000000")).withColumnRenamed(
        "user_id", "c_user"
    )
    joined = (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user")) & (p["bucket"] == c["bucket"]),
        )
        .filter(
            (F.col("c_tus") <= F.col("p_tus"))
            & (F.col("c_tus") >= F.col("p_tus") - 86_400_000_000)
        )
        .groupBy("event_id", "cents")
        .agg(
            F.max("c_tus").alias("last_touch"),
            F.min("c_tus").alias("first_touch"),
        )
    )
    lastm = (
        joined.groupBy(F.expr("last_touch div 86400000000").alias("day"))
        .agg(F.sum("cents").alias("last_touch_cents"))
    )
    firstm = (
        joined.groupBy(F.expr("first_touch div 86400000000").alias("day"))
        .agg(F.sum("cents").alias("first_touch_cents"))
    )
    return (
        lastm.join(firstm, "day", "full_outer")
        .selectExpr(
            "day",
            "coalesce(last_touch_cents, 0L) AS last_touch_cents",
            "coalesce(first_touch_cents, 0L) AS first_touch_cents",
            "coalesce(first_touch_cents, 0L) - coalesce(last_touch_cents, 0L)"
            " AS model_gap_cents",
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x260 — partition-key advisor: for candidate lineitem partition
# columns, cardinality, the x218 hash-skew factor, and the verdict a
# table-layout tool would give — cardinality must land in the
# [20, 10000] sweet spot (enough parallelism, no small-file explosion)
# AND skew must stay under 2× mean. The decision inputs are exact
# integer stats, so the ADVICE value-oracles — the judgment every
# `partitionBy` deserves before a 100 TB write.
# --------------------------------------------------------------------------
@harness_query(
    "x260_partition_key_advisor",
    oracle=f"""
    WITH cands AS (
      SELECT 'l_suppkey' AS col, l_suppkey AS v FROM lineitem
      UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
      UNION ALL SELECT 'l_linenumber', l_linenumber FROM lineitem
      UNION ALL SELECT 'ship_day',
                       epoch_us(l_shipdate) // 86400000000 FROM lineitem
    ), stats AS (
      SELECT col, COUNT(DISTINCT v) AS card FROM cands GROUP BY col
    ), loads AS (
      SELECT col, {_knuth_sql("v")} % 32 AS b, COUNT(*) AS n
      FROM cands GROUP BY 1, 2
    ), skew AS (
      SELECT col,
             CAST(MAX(n) * COUNT(*) * 1000000 // SUM(n) AS BIGINT)
               AS max_over_mean_ppm
      FROM loads GROUP BY col
    )
    SELECT s.col, CAST(s.card AS BIGINT) AS cardinality,
           k.max_over_mean_ppm,
           CASE WHEN s.card BETWEEN 20 AND 10000
                     AND k.max_over_mean_ppm < 2000000
                THEN 'suitable'
                WHEN s.card < 20 THEN 'too-coarse'
                WHEN s.card > 10000 THEN 'too-fine'
                ELSE 'too-skewed' END AS advice
    FROM stats s JOIN skew k USING (col)
    ORDER BY s.col
    """,
)
def x260_partition_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    li = load_table(spark, sf_dir, "lineitem")
    cands = None
    for name, expr in (
        ("l_suppkey", F.col("l_suppkey")),
        ("l_partkey", F.col("l_partkey")),
        ("l_linenumber", F.col("l_linenumber")),
        ("ship_day", F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")),
    ):
        part = li.select(F.lit(name).alias("col"), expr.cast("long").alias("v"))
        cands = part if cands is None else cands.unionByName(part)
    cands = cands.localCheckpoint()
    stats = cands.groupBy("col").agg(F.count_distinct("v").alias("card"))
    loads = cands.select(
        "col", F.pmod(knuth_hash("v"), F.lit(32)).alias("b")
    ).groupBy("col", "b").agg(F.count(F.lit(1)).alias("n"))
    skew = loads.groupBy("col").agg(
        F.expr("max(n) * count(1) * 1000000 div sum(n)").alias(
            "max_over_mean_ppm"
        )
    )
    return (
        stats.join(skew, "col")
        .selectExpr(
            "col",
            "cast(card AS bigint) AS cardinality",
            "max_over_mean_ppm",
            "CASE WHEN card BETWEEN 20 AND 10000"
            "       AND max_over_mean_ppm < 2000000 THEN 'suitable'"
            " WHEN card < 20 THEN 'too-coarse'"
            " WHEN card > 10000 THEN 'too-fine'"
            " ELSE 'too-skewed' END AS advice",
        )
        .orderBy("col")
    )


# --------------------------------------------------------------------------
# x266 → q26 (r5 tier-1 promotion) — content-defined chunk dedup (operators/text.py cdc_chunks):
# Rabin-style rolling-hash boundaries at word granularity, then chunks
# shared across documents — the sub-document boilerplate axis between
# q14's whole-doc exact dedup and x140's repeated n-grams. The entire
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
    return dedup.longest_shared_spans(
        docs, n=5, max_doc_freq=10
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# x272 — per-domain crawl policy rollup: the aggregation a web-corpus
# pipeline runs right after URL canonicalization — registered domain
# (last two host labels of the canonical host) × document quality
# (token count + quality_keep gate) -> per-domain doc counts, keep
# counts, token mass. URLs are derived deterministically from documents
# (subdomain noise by doc_id arithmetic; both engines build identical
# strings); the registered-domain extraction and the quality gate are
# native expressions, so the rollup value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x272_domain_quality_rollup",
    oracle="""
    WITH raw AS (
      SELECT doc_id, text,
        'https://' ||
        (CASE WHEN doc_id % 7 = 0 THEN 'cdn.'
              WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        source || '.site' || CAST(doc_id % 4 AS VARCHAR) ||
        '.com/p/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ), host AS (
      SELECT doc_id, text,
        regexp_extract(
          regexp_replace(
            lower(regexp_extract(url, '^[^:]+://([^/?]+)', 1)),
            '^www\\.', ''),
          '([^.]+\\.[^.]+)$', 1) AS domain
      FROM raw
    ), scored AS (
      SELECT domain,
        len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                        x -> x <> '')) AS n_tok,
        (len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '')) >= 10
         AND CAST(length(text) AS DOUBLE)
             <= 12.0 * len(list_filter(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 x -> x <> ''))) AS keep
      FROM host
    )
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM scored
    GROUP BY domain
    ORDER BY domain
    """,
)
def x272_domain_quality_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.text import (
        canonical_url,
        quality_keep,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = docs.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("https://"),
            F.when(did % 7 == 0, F.lit("cdn."))
            .when(did % 3 == 0, F.lit("www."))
            .otherwise(F.lit("")),
            F.col("source"),
            F.lit(".site"),
            (did % 4).cast("string"),
            F.lit(".com/p/"),
            did.cast("string"),
        ).alias("url"),
    )
    host = raw.select(
        "text",
        F.regexp_extract(
            F.regexp_extract(canonical_url("url"), r"^[^:]+://([^/?]+)", 1),
            r"([^.]+\.[^.]+)$",
            1,
        ).alias("domain"),
    )
    scored = host.select(
        "domain",
        F.size(words("text")).alias("n_tok"),
        quality_keep("text").alias("keep"),
    )
    return (
        scored.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_keep"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("domain")
    )


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
        docs, n=5, max_doc_freq=10
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
def _unigram_oracle(max_len: int = 16, max_piece: int = 4) -> str:
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
# x275 — curation pipeline v3: the round-5 web-corpus flow composed
# end-to-end (q49 is v1, q42 v2): (1) canonical-URL dedup keeping the
# lowest doc_id per canonical identity (x270), (2) exact text dedup
# (q14 rule), (3) quality_keep gate (q09 family), (4) deterministic
# train/val/test split (x297), then (5) span-level decontamination —
# val/test docs sharing a verbatim >=6-token span with any surviving
# train doc are DROPPED (x273). Every stage is individually oracled
# elsewhere; this query oracles the COMPOSITION — the kept-set shape a
# curation run would ship. Output: per (split, lang) doc + token mass.
# --------------------------------------------------------------------------
@harness_query(
    "x275_curation_pipeline_v3",
    oracle="""
    WITH raw AS (
      SELECT doc_id, lang, text,
        'HTTPS://' ||
        (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        (CASE WHEN doc_id % 2 = 0 THEN 'Example.com' ELSE 'example.COM' END) ||
        (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END) ||
        '/Docs/' || CAST(doc_id // 4 AS VARCHAR) ||
        (CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END) ||
        (CASE WHEN doc_id % 5 = 0
              THEN '?utm_source=feed&id=' ELSE '?id=' END) ||
        CAST(doc_id // 4 AS VARCHAR) || '&lang=en' AS url
      FROM documents
    ), canon AS (
      SELECT doc_id, lang, text,
        lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
          || '://' ||
        regexp_replace(regexp_replace(
            lower(regexp_extract(u, '^[^:]+://([^/?]+)', 1)), '^www\\.', ''),
          ':443$', '') ||
        regexp_replace(
          regexp_extract(u, '^[^:]+://[^/?]+(/[^?]*)?', 1), '/+$', '') ||
        (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS curl
      FROM (
        SELECT doc_id, lang, text, url AS u,
          array_to_string(list_sort(list_filter(
            string_split(regexp_extract(url, '\\?(.*)$', 1), '&'),
            p -> p <> '' AND NOT regexp_matches(
                   p, '^(utm_|fbclid=|gclid=|msclkid=|ref=)'))), '&') AS qs
        FROM raw
      )
    ), url_kept AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY curl ORDER BY doc_id) AS rn
        FROM canon) WHERE rn = 1
    ), text_kept AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (
                 PARTITION BY regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')
                 ORDER BY doc_id) AS rn
        FROM url_kept) WHERE rn = 1
    ), quality AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM text_kept
      WHERE len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                            x -> x <> '')) >= 10
        AND CAST(length(text) AS DOUBLE)
            <= 12.0 * len(list_filter(
                string_split_regex(lower(trim(text)), '\\s+'), x -> x <> ''))
    ), labels AS (
      SELECT doc_id,
             CASE WHEN ((((doc_id % 2147483648 + 2147483648) % 2147483648)
                         * 2654435761) % 4294967296) % 10000 < 8000
                    THEN 'train'
                  WHEN ((((doc_id % 2147483648 + 2147483648) % 2147483648)
                         * 2654435761) % 4294967296) % 10000 < 9000
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM quality
    ), sh AS (
      SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+5], ' ') AS s
      FROM quality, UNNEST(range(0, greatest(len(ws) - 4, 0))) t(i)
    ), shared_rare AS (
      SELECT s FROM sh GROUP BY s
      HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 10
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos - a.pos AS delta
      FROM sh a JOIN shared_rare USING (s) JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id
    ), runs AS (
      SELECT doc_a, doc_b, delta, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
      FROM m
    ), spans AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
      FROM runs GROUP BY doc_a, doc_b, delta, grp
    ), contaminated AS (
      SELECT DISTINCT
             CASE WHEN la.split = 'train' THEN p.doc_b ELSE p.doc_a END
               AS eval_doc
      FROM (SELECT doc_a, doc_b FROM spans
            GROUP BY doc_a, doc_b HAVING MAX(span_tokens) >= 6) p
      JOIN labels la ON la.doc_id = p.doc_a
      JOIN labels lb ON lb.doc_id = p.doc_b
      WHERE (la.split = 'train') <> (lb.split = 'train')
    )
    SELECT l.split, q.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(q.ws)) AS BIGINT) AS total_tokens
    FROM quality q
    JOIN labels l ON l.doc_id = q.doc_id
    WHERE q.doc_id NOT IN (SELECT eval_doc FROM contaminated)
    GROUP BY l.split, q.lang
    ORDER BY split, lang
    """,
)
def x275_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dedup import (
        cross_split_span_contamination,
        normalize_text,
    )
    from super_store_datawarehouse_spark.operators.sampling import split_column
    from super_store_datawarehouse_spark.operators.text import (
        canonical_url,
        quality_keep,
        words,
    )

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = docs.select(
        "doc_id",
        "lang",
        "text",
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
        ).alias("url"),
    )
    w_url = Window.partitionBy("curl").orderBy("doc_id")
    url_kept = (
        raw.withColumn("curl", canonical_url("url"))
        .withColumn("rn", F.row_number().over(w_url))
        .filter("rn = 1")
        .select("doc_id", "lang", "text")
    )
    w_txt = Window.partitionBy(normalize_text("text")).orderBy("doc_id")
    text_kept = (
        url_kept.withColumn("rn", F.row_number().over(w_txt))
        .filter("rn = 1")
        .select("doc_id", "lang", "text")
    )
    quality = text_kept.filter(quality_keep("text"))
    labeled = quality.withColumn("split", split_column("doc_id"))
    # x273's operator, applied to the SURVIVING docs: one row per
    # contaminated eval doc (same splitter, same salt)
    contaminated = cross_split_span_contamination(
        quality.select("doc_id", "text"), n=5, max_doc_freq=10
    ).select(F.col("eval_doc").alias("doc_id"))
    final = labeled.join(contaminated, "doc_id", "left_anti")
    return (
        final.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(words("text"))).alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# x276 — Gopher-style repetition signals (operators/text.repetition_signals):
# the repetition quality gate of Rae et al. 2021 A1.1 / RefinedWeb —
# INTRA-document n-gram repetition, completing the family next to q32
# (word-level distinct/top-share) and x140 (CROSS-document repeated
# n-gram fraction), which are the other two Gopher signal groups. Per doc:
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
    quotas = temperature_quotas(docs, "dom", target_pct=33)
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
# terms. x52 is the doc-level boolean index (df + doc-id postings); the
# positional payload here is what phrase/proximity queries (x279) need. Exercises the
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
        inverted_index(docs, postings_head=5)
        .orderBy(F.col("cf").desc(), F.col("term"))
        .limit(30)
    )


# --------------------------------------------------------------------------
# x279 — k-term positional phrase search via the inverted index
# (operators/search.phrase_matches). x152 answers a FIXED 2-word phrase
# by a pairwise (doc, pos+1) self-join; this generalizes to k terms,
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
    return phrase_matches(docs, top_ngram(docs, n=3)).orderBy("doc_id")


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
    bits = bloom_bits(bloom_build(keys, "norm", m_bits=256, k_hashes=2))
    probed = bloom_probe(tr, "norm", bits, m_bits=256, k_hashes=2)
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
# here by construction; compose with x288's gap-fill when it isn't).
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
    return seasonal_decompose(hourly, "h", "y", period=24).orderBy("h")


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
    return seasonal_anomalies(hourly, "h", "y", period=24, n_sigma=2).orderBy("h")


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
# x291 — Matryoshka truncation recall (MRL, Kusupati et al. 2022): how
# much exact-top-5 recall survives when the 64-dim embeddings are
# truncated to their first 32 dims — the dimension-vs-quality trade
# every MRL deployment measures before shipping the short vectors. Both
# rankings are the exact blocked-GEMM brute force (ascending-dimension
# accumulation == the SQL fold bit-exactly, q20's machinery — the
# truncated run simply slices the vectors first), so recall itself
# value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x291_mrl_truncation_recall",
    oracle=f"""
    WITH fe AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), fq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM fe WHERE vec_id < 10
    ), ftop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT fq.query_id, fe.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY fq.query_id
                 ORDER BY {_COSINE_FOLD.format(a='qv', b='v')} / (fq.qnrm * fe.nrm) DESC,
                          fe.vec_id) AS rank
        FROM fq JOIN fe ON fe.vec_id != fq.query_id
      ) WHERE rank <= 5
    ), te0 AS (
      SELECT vec_id, (CAST(embedding AS DOUBLE[]))[1:32] AS v
      FROM embeddings
    ), te AS (
      SELECT vec_id, v,
             sqrt({_COSINE_FOLD.format(a='v', b='v')}) AS nrm
      FROM te0
    ), tq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM te WHERE vec_id < 10
    ), ttop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT tq.query_id, te.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY tq.query_id
                 ORDER BY {_COSINE_FOLD.format(a='qv', b='v')} / (tq.qnrm * te.nrm) DESC,
                          te.vec_id) AS rank
        FROM tq JOIN te ON te.vec_id != tq.query_id
        WHERE te.nrm > 0 AND tq.qnrm > 0
      ) WHERE rank <= 5
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST((COUNT(t.neighbor_id) * 1000) // 5 AS BIGINT) AS recall_pm
    FROM ftop f LEFT JOIN ttop t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id ORDER BY f.query_id
    """,
)
def x291_mrl_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    full_q = emb.filter(F.col("vec_id") < 10)
    full_top = similarity.brute_force_topk(emb, full_q, k=5).select(
        "query_id", "neighbor_id"
    )
    trunc = emb.select("vec_id", F.slice("embedding", 1, 32).alias("embedding"))
    trunc_q = trunc.filter(F.col("vec_id") < 10)
    trunc_top = (
        similarity.brute_force_topk(trunc, trunc_q, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        full_top.join(trunc_top, ["query_id", "neighbor_id"], "left")
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
# x292 — LSH recall S-curve (sketch-quality eval): of the EXACT 3-gram
# Jaccard pairs (≥ 0.05), what fraction does banded portable MinHash
# (16 hashes, 4 bands × 4 rows, x261's signatures) catch, per Jaccard
# decile? The catch probability 1-(1-s^r)^b rises steeply with s — the
# textbook S-curve, here measured on real signatures and fully
# value-oracled because every hash is the portable polynomial/affine
# chain. Completes the sketch-eval family (x150/x213 ANN recall, x188
# HLL error, x247 CMS error) for the dedup sketches.
# --------------------------------------------------------------------------
_X292_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    + " || ',' || ".join(f"CAST(m{4 * b + j:02d} AS VARCHAR)" for j in range(4))
    + " AS bucket FROM sig"
    for b in range(4)
)


@harness_query(
    "x292_lsh_recall_curve",
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
    ), sig AS (
      SELECT doc_id, {_X73_MINS} FROM h GROUP BY doc_id
    ), bands AS ({_X292_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT i.doc_a, i.doc_b, i.n_inter,
             sa.n_sh + sb.n_sh - i.n_inter AS n_union
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE 20 * i.n_inter >= sa.n_sh + sb.n_sh - i.n_inter
    ), scored AS (
      SELECT p.*, (10 * p.n_inter) // p.n_union AS jacc_decile,
             (c.doc_a IS NOT NULL) AS caught
      FROM pairs p LEFT JOIN cand c
        ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
    )
    SELECT jacc_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           CAST(SUM(CASE WHEN caught THEN 1 ELSE 0 END) * 1000 // COUNT(*)
                AS BIGINT) AS catch_pm
    FROM scored
    GROUP BY jacc_decile
    ORDER BY jacc_decile
    """,
)
def x292_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # n=3: DuckDB's l[i:i+2] slice is INCLUSIVE (3 elements) — the same
    # 3-gram shingles x261's signatures use
    sig = dedup.minhash_portable(docs, n=3, num_hashes=16, seed=42)
    # ONE pass over the signature subtree: explode an inline array of
    # (band, bucket) structs instead of unioning four selects — the
    # union form executed the full minhash computation (shingle explode
    # + 16-way min agg) once PER BAND, and the self-join below doubles
    # whatever its input costs, so the old shape ran it 8×. With the
    # explode it runs twice (the self-join's two sides), and the
    # corpus-scale cache gate collapses that to once at sf10 — the same
    # round-8-measured policy q19's production LSH pipeline uses.
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"m{4 * b + j:02d}").cast("string")
                                for j in range(4)
                            ],
                        ).alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    bands = dedup._cache_if_corpus_scale(bands, docs)
    # merge hints: the cached banded frame has no stats, so Catalyst
    # would broadcast a corpus-scale side (round-10 broadcast-audit
    # flag on this exact exchange); same pin as q19's bucket join
    a, c = bands.alias("a"), bands.alias("c")
    cand = (
        a.hint("merge").join(
            c.hint("merge"),
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.doc_id") < F.col("c.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("c.doc_id").alias("doc_b")
        )
        .distinct()
        .withColumn("caught", F.lit(True))
    )
    # the shingle frame feeds three branches (sizes + both self-join
    # sides); same cache policy as above
    sh = dedup._cache_if_corpus_scale(dedup.word_shingles(docs, n=3), docs)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = sh.alias("sa"), sh.alias("sb")
    inter = (
        sa.hint("merge").join(
            sb.hint("merge"),
            (F.col("sa.shingle") == F.col("sb.shingle"))
            & (F.col("sa.sid") < F.col("sb.sid")),
        )
        .groupBy(
            F.col("sa.sid").alias("doc_a"), F.col("sb.sid").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    pairs = (
        inter.join(sizes.withColumnRenamed("sid", "doc_a"), "doc_a")
        .withColumnRenamed("n_sh", "na")
        .join(sizes.withColumnRenamed("sid", "doc_b"), "doc_b")
        .withColumnRenamed("n_sh", "nb")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .filter(20 * F.col("n_inter") >= F.col("n_union"))
    )
    scored = pairs.join(cand, ["doc_a", "doc_b"], "left").select(
        F.expr("(10 * n_inter) div n_union").alias("jacc_decile"),
        F.coalesce("caught", F.lit(False)).alias("caught"),
    )
    return (
        scored.groupBy("jacc_decile")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.when(F.col("caught"), 1).otherwise(0)).alias("n_caught"),
            F.expr(
                "CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) * 1000"
                " div count(1) AS BIGINT)"
            ).alias("catch_pm"),
        )
        .orderBy("jacc_decile")
    )

# --------------------------------------------------------------------------
# q39 — retrieval ranking eval (ex-x293) (P@10 / R@10 / MRR@10): the eval leg of
# the search family (x137 BM25, x278 index, x279 phrase) — every ranked
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


# --------------------------------------------------------------------------
# x294 — int8 scalar-quantization recall: the compression-quality eval
# every vector store runs before switching the index to 1-byte
# components (4× smaller, integer SIMD dots). Vectors are L2-normalized
# and quantized to floor(x·127 + 0.5) (similarity.scalar_quantize_unit
# — exact IEEE grid, bit-identical cross-engine); both the quantized and
# the full-precision rankings run through the bit-exact blocked GEMM
# (x291's machinery), so recall@5 of quantized-vs-exact value-oracles.
# --------------------------------------------------------------------------
@harness_query(
    "x294_int8_quant_recall",
    oracle=f"""
    WITH fe AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             sqrt({_COSINE_FOLD.format(a='CAST(embedding AS DOUBLE[])', b='CAST(embedding AS DOUBLE[])')}) AS nrm
      FROM embeddings
    ), fq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM fe WHERE vec_id < 10
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
    ), qq AS (
      SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM qe WHERE vec_id < 10
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
def x294_int8_quant_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _int8_recall_eval(spark, sf_dir, corpus_sample_n=None)


# driver-side collect ceiling for localized sample bounds: above this
# a "sample" is treated as corpus-shaped and stays distributed
_LOCALIZE_SAMPLE_MAX = 100_000


def _int8_recall_eval(
    spark: SparkSession, sf_dir: str, corpus_sample_n: int | None, salt: int = 17
) -> DataFrame:
    """x294's quantization-recall eval, optionally over a deterministic
    fixed-size hash sample of the CORPUS side (queries always come from
    the full table). With the bound set, both brute-force rankings are
    GEMMs over ``sample_n`` vectors regardless of corpus scale — the
    flat-cost eval contract (VERDICT r6 #7); unset, it is x294
    verbatim. x320 proves the sampled code path a bit-identical no-op
    (bound >> any corpus); q31 (ex-x321) value-oracles the BINDING
    semantics at sample_n=200 — binding against the 500-vector sf0.01 corpus (the
    x316 lesson: capacity caps must be exercised where they bind;
    sample_n=500 would NOT bind there)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # the sampled corpus feeds BOTH rankings (full-precision + quantized);
    # it is bounded by construction (sample_n rows) but selecting it
    # costs a corpus-wide TakeOrdered scan — localize it so that scan
    # runs exactly once (a lazy cache stampedes: both ranking branches
    # started before materialization and re-ran the scan, measured
    # 126 s per duplicated pass at sf10). Localize ONLY while the bound
    # is a genuinely driver-sized number: x320's no-op proof sets
    # sample_n larger than any corpus, where the "sample" is the whole
    # table — there the eval falls back to x294's full-corpus shape
    # (both rankings scan, the declared baseline cost) instead of
    # collecting the corpus to the driver.
    corpus = emb
    if corpus_sample_n is not None:
        sampled = sampling_ops.hash_sample_n(
            emb, "vec_id", corpus_sample_n, salt=salt
        )
        corpus = (
            localize(sampled, max_rows=corpus_sample_n)
            if corpus_sample_n <= _LOCALIZE_SAMPLE_MAX
            else sampled
        )
    # the 10-row query set feeds both ranking branches; the pushdown
    # cache-barrier itself lives inside brute_force_topk (scoped to its
    # query collect), so no extra cache is taken here
    queries_raw = emb.filter(F.col("vec_id") < 10)
    full_top = similarity.brute_force_topk(corpus, queries_raw, k=5).select(
        "query_id", "neighbor_id"
    )
    quant_corpus = similarity.scalar_quantize_unit(corpus)
    quant_q = similarity.scalar_quantize_unit(queries_raw)
    quant_top = (
        similarity.brute_force_topk(quant_corpus, quant_q, k=5)
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
# x296 — bigram-LM perplexity filter (search.bigram_surprise): CCNet-
# style quality gating — score every document under a corpus bigram LM
# (surprise of (w1,w2) = 1000·c(w1)/c(w1,w2), exact int64) and keep the
# docs at or below the corpus-mean surprise (the low-perplexity tail a
# curation pipeline feeds to training). The threshold is data-derived
# (global mean), so both keep values occur by construction. Completes
# the quality family next to the rank proxy (x280) and the heuristic
# gates (q09/x276).
# --------------------------------------------------------------------------
@harness_query(
    "x296_bigram_lm_filter",
    oracle="""
    WITH w AS (
      SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                 x -> x <> '') AS l
      FROM documents
    ), occ AS (
      SELECT doc_id, l[i] AS w1, array_to_string(l[i:i+1], ' ') AS bigram
      FROM w CROSS JOIN range(1, 10000) r(i)
      WHERE i <= len(l) - 1
    ), c2 AS (
      SELECT bigram, COUNT(*) AS c2 FROM occ GROUP BY 1
    ), c1 AS (
      SELECT w1, COUNT(*) AS c1 FROM occ GROUP BY 1
    ), scored AS (
      SELECT occ.doc_id, (1000 * c1.c1) // c2.c2 AS surprise_milli
      FROM occ JOIN c2 USING (bigram) JOIN c1 USING (w1)
    ), per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(surprise_milli) AS BIGINT) AS sum_surprise_milli,
             CAST(SUM(surprise_milli) // COUNT(*) AS BIGINT)
               AS mean_surprise_milli
      FROM scored GROUP BY 1
    ), thr AS (
      SELECT CAST(SUM(sum_surprise_milli) // SUM(n_bigrams) AS BIGINT)
               AS global_mean
      FROM per_doc
    )
    SELECT p.doc_id, p.n_bigrams, p.sum_surprise_milli, p.mean_surprise_milli,
           p.mean_surprise_milli <= t.global_mean AS keep
    FROM per_doc p CROSS JOIN thr t
    ORDER BY p.doc_id
    """,
)
def x296_bigram_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators import search

    docs = load_table(spark, sf_dir, "documents")
    per_doc = search.bigram_surprise(docs)
    thr = per_doc.agg(
        F.expr(
            "CAST(sum(sum_surprise_milli) div sum(n_bigrams) AS BIGINT)"
        ).alias("global_mean")
    )
    return (
        per_doc.crossJoin(F.broadcast(thr))
        .select(
            "doc_id",
            "n_bigrams",
            "sum_surprise_milli",
            "mean_surprise_milli",
            (F.col("mean_surprise_milli") <= F.col("global_mean")).alias("keep"),
        )
        .orderBy("doc_id")
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
        docs, n=2, max_doc_freq=25, threshold_permille=100
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
# (quality_eval.ranking_auc): does the bigram-LM surprise score (x296)
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
# (quality_eval.classification_report over x132's predictions): the
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
    topk = similarity.brute_force_topk(emb, queries, k=5)
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
    exact = similarity.brute_force_topk(emb, q, k=5).select(
        "query_id", "neighbor_id"
    )
    single = (
        similarity.lsh_topk(emb, q, k=5, n_planes=4, n_tables=4)
        .select("query_id", "neighbor_id")
        .withColumn("s_hit", F.lit(1))
    )
    multi = (
        similarity.lsh_multiprobe_topk(emb, q, k=5, n_planes=4, n_tables=4)
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
# share (x296). One integer value + literal threshold + pass flag per
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
    # Single-pass nested-probe form (VERDICT r7 #3): probe sets at
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
        similarity.brute_force_topk(emb, q, k=5).select("query_id", "neighbor_id")
    )
    # candidate rows = |queries| x probed-cell occupancy, which is
    # data-DEPENDENT (clustered embeddings can overfill hot cells), so
    # overflow falls back to an eager scoped cache instead of raising
    # (ADVICE r8 medium)
    scored = localize(
        similarity.ivf_candidates_ranked(emb, q, 0.03, nprobe=4),
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
# predictor accuracy: train the x81 transition
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


# --------------------------------------------------------------------------
# x314/q17 — the n-gram Jaccard hot-key guard, both directions proved
# (VERDICT r5 #7). x314 runs ngram_jaccard_pairs with a df cap far above
# any corpus df; its oracle IS the uncapped exact SQL (x317), so the
# value hash proves the capped code path (the extra df aggregate + semi
# filter) is a bit-identical no-op when nothing prunes. q17 (the
# driver-checked slot since the round-7 rotation; registered as x315
# before that) runs a LOW cap and oracles the exact capped-universe
# semantics in SQL (filter shingles by document frequency FIRST, then
# the same sizes/join/threshold) — proving the cap is well-defined
# pruning, not an unoracled recall hole. The cap is what holds at scale:
# x315 measured 8.8x under the exact form's fan-out at sf10 (SCALE.md).
# --------------------------------------------------------------------------
_X317_SQL_BODY = _HARNESS["x317_ngram_jaccard_exact"][1]


@harness_query("x314_ngram_jaccard_dfcap_noop", oracle=_X317_SQL_BODY)
def x314_ngram_jaccard_dfcap_noop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_doc_freq=1_000_000)


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
    lsh = dedup.minhash_lsh_pairs(docs, threshold=0.2).select(
        "id_a", "id_b", F.col("jaccard").alias("j_lsh")
    )
    exact = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2).select(
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


# Driver slot q17 rounds 7-8; rotated back to the x-series in round 9
# (slot went to q17_boilerplate_chunk_scrub — dedup keeps q13/q14/q19/
# q43 driver rows; the df-capped form stays locally oracled).
@harness_query(
    "x328_ngram_jaccard_dfcap",
    oracle="""
    WITH w AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ), dfreq AS (
      SELECT shingle, COUNT(*) AS df FROM sh0 GROUP BY shingle
    ), sh AS (
      SELECT sh0.doc_id, sh0.shingle
      FROM sh0 JOIN dfreq USING (shingle) WHERE dfreq.df <= 3
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
def x328_ngram_jaccard_dfcap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_doc_freq=3)


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
# path bit-identical in the no-op regime, same posture as x314.
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
    return similarity.pq_ivf_topk(
        emb,
        queries,
        k=5,
        m=4,
        dim=64,
        codebook_buckets=300,
        salt=13,
        centroid_fraction=0.03,
        nprobe=2,
        centroid_salt=7,
        max_cells=512,
        codebook_size=256,
    )


# --------------------------------------------------------------------------
# x320 / q31 (ex-x321, promoted in the round-8 rotation) — sample-
# bounded brute-force ground truth (VERDICT r6 #7).
# The recall evals (x294/x291/x148/x220 family) run EXACT rankings as
# their ground truth; with the corpus unsampled that cost grows
# linearly with corpus size even at a fixed query count. hash_sample_n
# (operators/sampling.py) bounds the corpus side to a deterministic
# fixed-size hash sample — one TakeOrderedAndProject, statically SQL-
# expressible — so the eval is flat-cost at any corpus scale. Both
# directions proved, the x314/x315 pattern: x320 runs the sampled code
# path with a 10^6 bound — a no-op at every oracle scale (the sf0.1
# corpus is 2·10^4 vectors) while staying inside hash_sample_n's
# MAX_SAMPLE_N heap contract — and oracles against x294's UNSAMPLED
# SQL (bit-identical no-op); x321 runs sample_n=200 — BINDING at
# sf0.01's 500-vector corpus (the x316 lesson: capacity bounds must be
# exercised where they bind; 500 would NOT bind there, verified the
# hard way) — with the sampled-universe semantics spelled out in SQL
# (corpus CTE hash-sampled, queries from the full table).
# --------------------------------------------------------------------------
_X294_SQL_BODY = _HARNESS["x294_int8_quant_recall"][1]


@harness_query("x320_int8_recall_gt_noop", oracle=_X294_SQL_BODY)
def x320_int8_recall_gt_noop(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _int8_recall_eval(spark, sf_dir, corpus_sample_n=1_000_000)


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
# (round-8 revision of the round-7 uniform-sample form, VERDICT r7 #4).
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
    # auto gate would read (ADVICE r8).
    e = dedup.ngram_jaccard_pairs(
        universe, n=3, threshold=0.2, corpus_cache=False
    ).select("id_a", "id_b")
    # Band rows of the UNIVERSE via a fresh banding pass over the
    # ~(base_n + comp_n × member_cap)-doc sample instead of re-deriving
    # the CORPUS-wide banding and filtering it (round 12, VERDICT r11
    # #4: push the sample before the pair generation). A band bucket is
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
# Round-10 persisted-index lifecycle queries (VERDICT r9 #1): the
# operators/ann_index.py module (the round-9 flagship) was verified
# only by pytest bit-equality and SCALE timings; these register its
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
    return ann_index.pq_index_search(spark, path, queries, k=5)


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
    return ann_index.ivfadc_index_search(spark, path, queries, k=5, nprobe=2)


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
    return ann_index.ivf_index_search(spark, path, queries, k=5, nprobe=2)


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
    return ann_index.pq_index_search(spark, path, queries, k=5)


# --------------------------------------------------------------------------
# q40 — mergeable quantile summary eval (ex-x334, promoted to the q40
# driver slot in the round-11 rotation; operators/sketches.py
# rank_compaction_summary): the sketch-family answer to "exact
# percentiles need a global sort" (reference parity has no sketch at
# all; the x265/q40 exact forms are this summary's ground-truth twins).
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
    summ = rank_compaction_summary(base, "v", "rk", strata=32, k=64)
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
# x335 — summary re-compaction eval (operators/sketches.py
# weighted_rank_compaction): the merge-then-shrink half of the
# mergeable-summary pair x334 builds. A k=64 summary of the 60M-row
# price column is re-compacted at k=128 on the weighted axis; the
# oracle certifies (a) exact weight conservation, (b) the deterministic
# row-count contract (crossings = ⌊W_b/128⌋ per stratum + remainder
# tails — order-invariant), and (c) the ADDITIVE rank bound of stacked
# compactions, P·((k₁−1)+(k₂−1)) + k₂ crossing, against a counting
# pass. Ties in the (value, weight) order never move a read-off value
# (rows between crossings share the value at that weighted rank), so
# the whole two-stage pipeline value-oracles bit-for-bit.
# --------------------------------------------------------------------------
@harness_query(
    "x335_summary_recompaction_eval",
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
    ), s64 AS (
      SELECT b AS stratum, v AS value,
             CAST(CASE WHEN r % 64 = 0 THEN 64 ELSE n % 64 END AS BIGINT)
               AS weight
      FROM ranked
      WHERE r % 64 = 0 OR (r = n AND n % 64 <> 0)
    ), cum AS (
      SELECT stratum, value, weight,
             SUM(weight) OVER (PARTITION BY stratum ORDER BY value, weight
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(weight) OVER (PARTITION BY stratum) AS wtot
      FROM s64
    ), s128 AS (
      SELECT stratum, value,
             cw - COALESCE(LAG(cw) OVER (PARTITION BY stratum ORDER BY cw),
                           0) AS weight,
             cw
      FROM cum
      WHERE cw // 128 > (cw - weight) // 128 OR cw = wtot
    ), rdoff AS (
      SELECT value, stratum,
             SUM(weight) OVER (ORDER BY value, stratum
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw2,
             (SELECT SUM(weight) FROM s128) AS n_total
      FROM s128
    ), targets AS (
      SELECT 'p50' AS q, 50 AS pct UNION ALL SELECT 'p90', 90
    ), pick AS (
      SELECT t.q, t.pct,
             (SELECT MIN(value) FROM rdoff
               WHERE cw2 >= (t.pct * rdoff.n_total + 99) // 100) AS est,
             (SELECT MAX(n_total) FROM rdoff) AS n_total
      FROM targets t GROUP BY t.q, t.pct
    )
    SELECT p.q,
           CAST(p.est AS BIGINT) AS est_cents,
           CAST(p.n_total AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM s64) AS BIGINT) AS rows_k64,
           CAST((SELECT COUNT(*) FROM s128) AS BIGINT) AS rows_k128,
           CAST((SELECT COUNT(*) FROM base WHERE v <= p.est)
                - (p.pct * p.n_total + 99) // 100 AS BIGINT) AS rank_err,
           CAST(32 * (63 + 127) + 128 AS BIGINT) AS err_bound,
           (SELECT COUNT(*) FROM base WHERE v <= p.est)
               >= (p.pct * p.n_total + 99) // 100
             AND (SELECT COUNT(*) FROM base WHERE v <= p.est)
               - (p.pct * p.n_total + 99) // 100 < 32 * (63 + 127) + 128
             AS within_bound
    FROM pick p
    ORDER BY p.q
    """,
)
def x335_summary_recompaction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
        summary_quantiles,
        weighted_rank_compaction,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
    )
    s64 = rank_compaction_summary(base, "v", "rk", strata=32, k=64)
    # both downstream counts and the read-off reuse s64/s128; scoped
    # caches keep the two-stage pipeline single-execution
    from super_store_datawarehouse_spark.session import scoped_cache

    s64 = scoped_cache(s64)
    s128 = scoped_cache(weighted_rank_compaction(s64, 128))
    ests = summary_quantiles(
        s128, [("p50", 50), ("p90", 90)]
    ).withColumn(
        "pct", F.when(F.col("q") == "p50", 50).otherwise(90)
    )
    sizes = (
        s64.agg(F.count(F.lit(1)).alias("rows_k64"))
        .crossJoin(s128.agg(F.count(F.lit(1)).alias("rows_k128")))
    )
    return (
        base.crossJoin(F.broadcast(ests))
        .groupBy("q", "est", "n_total", "pct")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0)).alias(
                "est_rank"
            )
        )
        .crossJoin(F.broadcast(sizes))
        .selectExpr(
            "q",
            "cast(est AS bigint) AS est_cents",
            "cast(n_total AS bigint) AS n_rows",
            "cast(rows_k64 AS bigint) AS rows_k64",
            "cast(rows_k128 AS bigint) AS rows_k128",
            "est_rank - (pct * n_total + 99) div 100 AS rank_err",
            "cast(32 * (63 + 127) + 128 AS bigint) AS err_bound",
            "est_rank >= (pct * n_total + 99) div 100"
            " AND est_rank - (pct * n_total + 99) div 100"
            " < 32 * (63 + 127) + 128 AS within_bound",
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
        spark, src, out, strata=8, k=32, max_rows=1 << 62, checkpoint=ckpt
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
# grouped_rank_compaction_summary): the scale twin of x265's declared
# few-groups ceiling. x265's exact window median funnels each
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
    # same single-execution policy as x334/x335: the grouped read-off
    # branches per target over the summary subtree
    summ = scoped_cache(
        grouped_rank_compaction_summary(base, "grp", "v", "rk", strata=32, k=64)
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


# --------------------------------------------------------------------------
# x340 — SHARD-PARALLEL summary build + union-merge (round 11): the
# distributed claim the mergeable family rests on, certified end-to-end
# in one oracled query. Two summaries are built INDEPENDENTLY on
# disjoint halves of lineitem (l_orderkey parity — the "two executors /
# two days / two shards" shape), merged by plain unionByName (merge IS
# union for this sketch: weights already partition the row count), and
# read off against the full column. The additive rank bound for a
# union of S summaries at (P, k) is S·P·(k−1) + k — undercount at most
# k−1 per (shard, stratum) cell plus one crossing granularity — so the
# certified bound here is 2·32·63 + 64 = 4096. This is the exact
# composition a 1000-executor deployment runs: per-partition builds,
# no raw-data shuffle, one tiny union at read time (q40/x334 is the
# single-build twin; x335 certifies the follow-on re-compaction).
# --------------------------------------------------------------------------
@harness_query(
    "x340_summary_shard_merge",
    oracle=f"""
    WITH base AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey * 8 + l_linenumber AS rk,
             l_orderkey % 2 AS shard
      FROM lineitem
    ), ranked AS (
      SELECT v, {_X334_ROUTE} % 32 AS b,
             ROW_NUMBER() OVER (PARTITION BY shard, {_X334_ROUTE} % 32
                                ORDER BY v, rk) AS r,
             COUNT(*) OVER (PARTITION BY shard, {_X334_ROUTE} % 32) AS n
      FROM base
    ), summ AS (
      SELECT b AS stratum, v AS value,
             CAST(CASE WHEN r % 64 = 0 THEN 64 ELSE n % 64 END AS BIGINT)
               AS weight
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
           CAST(2 * 32 * 63 + 64 AS BIGINT) AS err_bound,
           (SELECT COUNT(*) FROM base WHERE v <= p.est)
               >= (p.pct * p.n_total + 99) // 100
             AND (SELECT COUNT(*) FROM base WHERE v <= p.est)
               - (p.pct * p.n_total + 99) // 100 < 2 * 32 * 63 + 64
             AS within_bound
    FROM pick p
    ORDER BY p.q
    """,
)
def x340_summary_shard_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
        summary_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        cents("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rk"),
        (F.col("l_orderkey") % 2).alias("shard"),
    )
    # two INDEPENDENT builds on disjoint shards; same uncached regime as
    # q40 (each shard's build is one wide shuffle that ReuseExchange
    # shares across the read-off branches)
    summ = rank_compaction_summary(
        base.filter(F.col("shard") == 0), "v", "rk", strata=32, k=64
    ).unionByName(
        rank_compaction_summary(
            base.filter(F.col("shard") == 1), "v", "rk", strata=32, k=64
        )
    )
    ests = summary_quantiles(
        summ, [("p50", 50), ("p90", 90), ("p99", 99)]
    ).withColumn(
        "pct",
        F.when(F.col("q") == "p50", 50)
        .when(F.col("q") == "p90", 90)
        .otherwise(99),
    )
    # certification: one counting pass of the raw column against the
    # 3-row broadcast estimate frame (x334's eval shape)
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
            "cast(2 * 32 * 63 + 64 AS bigint) AS err_bound",
            "est_rank >= (pct * n_total + 99) div 100"
            " AND est_rank - (pct * n_total + 99) div 100 < 2 * 32 * 63 + 64"
            " AS within_bound",
        )
        .orderBy("q")
    )

"""Round-2 training-pipeline harness queries (x109+): exact weighted
sampling, context-window packing, eval-set contamination, reproducible
epoch shuffling.

These extend the LLM-data-pipeline surface (dedup/quality/split/mix in
``operators/sampling.py`` + ``operators/dedup.py``) with the remaining
operations a 100 TB pre-training data build runs between "documents are
clean" and "tokens hit the trainer": draw an importance-weighted
subcorpus (PPS), audit train→eval n-gram leakage, lay documents into
fixed token budgets, and give every epoch a reproducible global order.
All four are exact integer/window plans — no RNG, no transcendental
scoring — so each carries a full DuckDB oracle twin.

Reference parity anchor: the reference's only sampling surface is
MySQL's LIMIT/ORDER BY (Data_Analysis.ipynb top-k cells); everything
here is new-capability surface per the build brief, not a port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.functions.exact import cents
from super_store_datawarehouse_spark.operators.sampling import (
    bucket_sql,
    knuth_sql,
    priority_sql,
)
from super_store_datawarehouse_spark.plans.registry import harness_query
from super_store_datawarehouse_spark.sources.testdata import load_table

# Shared SQL fragments (DuckDB dialect), mirroring operators/text.words()
# and operators/sampling.split_column exactly.
_WS_SQL = (
    "list_filter(string_split_regex(lower(trim({t})), '\\s+'), x -> x <> '')"
)


def _split_case(key: str) -> str:
    b = bucket_sql(key)
    return (
        f"CASE WHEN {b} < 8000 THEN 'train' "
        f"WHEN {b} < 9000 THEN 'val' ELSE 'test' END"
    )


# --------------------------------------------------------------------------
# x109 — exact PPS systematic sample (operators/sampling.py
# pps_systematic_sample): 50 probes over orders weighted by total price.
# Integer line-layout + integer probes, so membership (and probe
# multiplicity for heavy items) is bit-reproducible cross-engine.
# --------------------------------------------------------------------------
@harness_query(
    "x109_pps_weighted_sample",
    oracle="""
    WITH w AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w_cents
      FROM orders
    ), lined AS (
      SELECT o_orderkey, w_cents,
             SUM(w_cents) OVER (ORDER BY o_orderkey
                                ROWS UNBOUNDED PRECEDING) AS cum_hi
      FROM w
    ), tot AS (SELECT SUM(w_cents) AS W FROM w),
    probes AS (
      SELECT i AS probe_idx, ((2 * i + 1) * W) // 100 AS probe
      FROM range(0, 50) r(i), tot
    )
    SELECT probe_idx, o_orderkey, w_cents
    FROM lined, probes
    WHERE probe >= cum_hi - w_cents AND probe < cum_hi
    ORDER BY probe_idx
    """,
)
def x109_pps_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        pps_systematic_sample,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("w_cents")
    )
    picked = pps_systematic_sample(orders, "w_cents", k=50, order_col="o_orderkey")
    return picked.select("probe_idx", "o_orderkey", "w_cents").orderBy("probe_idx")


# --------------------------------------------------------------------------
# q24 (x110 until r3; promoted to a driver slot) — context-window packing (operators/sampling.py pack_sequences):
# documents in doc_id order fill 2048-token packs; per-pack doc/token
# counts. pack = cum_before div budget is closed-form, so the whole
# layout is one window + one aggregate.
# --------------------------------------------------------------------------
@harness_query(
    "q24_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, len({_WS_SQL.format(t='text')}) AS n_tokens
      FROM documents
    ), lined AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT CAST(cum_before // 2048 AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
           CAST(MAX(cum_before % 2048) AS BIGINT) AS last_start_offset
    FROM lined
    GROUP BY 1 ORDER BY pack_id
    """,
)
def q24_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import pack_sequences
    from super_store_datawarehouse_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(docs, "n_tokens", budget=2048, order_col="doc_id")
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.max("offset_in_pack").alias("last_start_offset"),
        )
        .orderBy("pack_id")
    )


# --------------------------------------------------------------------------
# q25 (x111 until r3; promoted to a driver slot) — train→eval n-gram
# contamination audit (operators/dedup.py
# cross_split_contamination): the GPT-3/PaLM-style eval-overlap check,
# composed with the deterministic splitter so the whole audit is
# reproducible end to end.
# --------------------------------------------------------------------------
@harness_query(
    "q25_contamination_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, text, {_split_case('doc_id')} AS split
      FROM documents
    ), w AS (
      SELECT doc_id, split, {_WS_SQL.format(t='text')} AS ws FROM tagged
    ), sh AS (
      SELECT DISTINCT doc_id, split,
             array_to_string(ws[i:i+2], ' ') AS shingle
      FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
    ), train AS (
      SELECT DISTINCT shingle FROM sh WHERE split = 'train'
    )
    SELECT e.doc_id, e.split,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS contamination
    FROM (SELECT * FROM sh WHERE split IN ('val', 'test')) e
    LEFT JOIN train tr ON tr.shingle = e.shingle
    GROUP BY e.doc_id, e.split
    ORDER BY e.doc_id
    """,
)
def q25_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.dedup import (
        cross_split_contamination,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cross_split_contamination(docs, n=3).orderBy("doc_id")


# --------------------------------------------------------------------------
# x112 — reproducible epoch shuffle (operators/sampling.py
# deterministic_shuffle): every doc gets (shard, pos) as a pure function
# of (doc_id, salt); summarized per shard so the oracle result stays
# small while still pinning every pos via min/max/sum.
# --------------------------------------------------------------------------
@harness_query(
    "x112_deterministic_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {knuth_sql('doc_id', 1)} AS shuffle_hash
      FROM documents
    ), placed AS (
      SELECT doc_id, shuffle_hash, shuffle_hash % 16 AS shard,
             row_number() OVER (PARTITION BY shuffle_hash % 16
                                ORDER BY shuffle_hash, doc_id) - 1 AS pos
      FROM h
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(MAX(pos) AS BIGINT) AS max_pos,
           CAST(SUM(pos * doc_id) AS BIGINT) AS pos_id_checksum
    FROM placed
    GROUP BY shard ORDER BY shard
    """,
)
def x112_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import (
        deterministic_shuffle,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    placed = deterministic_shuffle(docs, "doc_id", n_shards=16, salt=1)
    return (
        placed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("pos").alias("max_pos"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("pos_id_checksum"),
        )
        .orderBy("shard")
    )


# --------------------------------------------------------------------------
# x115 — custom aggregate via GROUPED_AGG pandas UDF (SURVEY §2.9 UDAF
# surface): per-flag median absolute deviation of line prices, plus a
# companion pandas-UDAF count in the same agg() (Spark forbids mixing
# GROUPED_AGG UDFs with JVM aggregates). The UDF is selection-based
# (order-independent), so the DuckDB two-pass median formulation
# verifies it exactly.
# --------------------------------------------------------------------------
@harness_query(
    "x115_mad_udaf_by_flag",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ), m AS (
      SELECT l_returnflag, median(cents) AS med FROM c GROUP BY 1
    )
    SELECT c.l_returnflag,
           median(abs(c.cents - m.med)) AS mad_cents,
           COUNT(*) AS n_rows
    FROM c JOIN m USING (l_returnflag)
    GROUP BY 1 ORDER BY 1
    """,
)
def x115_mad_udaf_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.functions.udafs import (
        count_udaf,
        mad_cents_udaf,
    )

    mad = mad_cents_udaf()
    cnt = count_udaf()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", cents(F.col("l_extendedprice")).alias("cents")
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            mad(F.col("cents")).alias("mad_cents"),
            cnt(F.col("cents")).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# x121 — priority sampling (Duffield–Lund–Thorup): fixed-size weighted
# sample of orders with the unbiased max(w, τ) subset-sum estimator.
# Priorities are one exact IEEE division of hash-derived exact doubles,
# so the top-k cut, τ, and every estimator value replay bit-for-bit in
# DuckDB — a weighted sampler an external engine can audit.
# --------------------------------------------------------------------------
@harness_query(
    "x121_priority_sample",
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w_cents,
             {{PRIORITY}} AS priority
      FROM (SELECT o_orderkey, o_totalprice FROM orders)
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY priority DESC, o_orderkey) AS rn
      FROM scored
    ), tau AS (
      SELECT MIN(priority) AS tau FROM ranked WHERE rn <= 41
    )
    SELECT o_orderkey, w_cents, priority,
           GREATEST(CAST(w_cents AS DOUBLE), tau) AS w_hat
    FROM ranked, tau
    WHERE rn <= 40
    ORDER BY o_orderkey
    """.replace(
        "{PRIORITY}", priority_sql("CAST(ROUND(o_totalprice * 100) AS BIGINT)", "o_orderkey", 7)
    ),
)
def x121_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from super_store_datawarehouse_spark.operators.sampling import priority_sample

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents(F.col("o_totalprice")).alias("w_cents")
    )
    picked = priority_sample(orders, "w_cents", "o_orderkey", k=40, salt=7)
    return picked.select("o_orderkey", "w_cents", "priority", "w_hat").orderBy(
        "o_orderkey"
    )

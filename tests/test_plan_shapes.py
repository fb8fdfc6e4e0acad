"""Plan-shape guards: pin the physical-plan structures the engine's
scale story depends on (broadcasts chosen, filters pushed, partial
aggregation, top-k via TakeOrderedAndProject, no stray SortMergeJoin
in broadcast-sized joins). A perf regression usually shows up here
before it shows up in bench numbers."""

from __future__ import annotations

import os
import re

import pytest

from super_store_datawarehouse_spark.plans.superstore_queries import (
    SUPERSTORE_QUERIES,
    run_df,
    run_sql,
)
from super_store_datawarehouse_spark.sources.testdata import load_table  # noqa: F401
from super_store_datawarehouse_spark.warehouse.pipeline import register_warehouse_views
from tests.conftest import TESTDATA_SF


@pytest.fixture(scope="module")
def plans(spark):
    from super_store_datawarehouse_spark.plans import HARNESS
    from super_store_datawarehouse_spark.plans import extensions as _x  # noqa: F401
    from super_store_datawarehouse_spark.plans import harness as _h  # noqa: F401

    def plan_of(name: str) -> str:
        df = HARNESS[name][0](spark, TESTDATA_SF)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_q01_broadcasts_dim_and_takes_ordered_topk(plans):
    p = plans("q01_top_parts_by_quantity")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p  # LIMIT+ORDER BY never global-sorts


def test_q47_pushes_scan_predicates(plans):
    p = plans("x106_forecast_revenue_change")
    # the predicate set reaches the FileScan node (DataFilters in the
    # executedPlan toString; shows as PushedFilters in explain-formatted)
    scan_line = next(l for l in p.splitlines() if "FileScan parquet" in l)
    assert "DataFilters: [" in scan_line
    assert "l_shipdate" in scan_line and "l_quantity" in scan_line


def test_q02_aggregates_partially_before_exchange(plans):
    p = plans("q02_pricing_summary")
    # plan text prints top-down: final HashAggregate, then the shuffle,
    # then the partial HashAggregate below it (map-side combine)
    shuffle_at = p.index("Exchange hashpartitioning")
    assert "HashAggregate" in p[shuffle_at:]
    assert "HashAggregate" in p[:shuffle_at]


def test_q39_eight_table_join_is_all_broadcast(plans):
    p = plans("x98_market_share")
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 6


def test_x62_pagerank_iterations_are_broadcast_only(plans):
    p = plans("q26_trade_pagerank")
    assert "SortMergeJoin" not in p


def test_x01_dedup_scans_only_needed_columns(plans):
    p = plans("q14_dedup_exact")
    # ReadSchema pruned to the two referenced columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"doc_id", "text"}


def test_x136_bloom_join_broadcasts_build_side(plans):
    """The Bloom-prefiltered probe exits mapInPandas with no size stats;
    the join must still broadcast the BUILD side (BuildRight under the
    explicit hint), never the fact side."""
    p = plans("x136_bloom_filter_join")
    join_lines = [
        ln for ln in p.splitlines()
        if "BroadcastHashJoin [s_suppkey" in ln
    ]
    assert join_lines and all("BuildRight" in ln for ln in join_lines)
    # the Arrow prefilter node exists and is NOT inside a broadcast:
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_x141_countmin_estimate_broadcasts_sketch(plans):
    """The d*W sketch is the broadcast side of the estimate join."""
    p = plans("x141_countmin_freq")
    assert "BroadcastHashJoin" in p


def test_q19_lsh_has_no_cartesian_product(plans):
    """MinHash-LSH must pair documents through the band-bucket equi-join
    — a CartesianProduct/BroadcastNestedLoop anywhere means the sketch
    degenerated to all-pairs."""
    p = plans("q19_minhash_lsh_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q33_ivfadc_has_no_cartesian_product(plans):
    """IVFADC's candidate generation must flow through the centroid
    equi-join (cell-bounded), never a cross product against the corpus."""
    p = plans("q33_pq_ivf_ann_topk")
    assert "CartesianProduct" not in p


def test_q35_semantic_dedup_pairs_join_on_cluster(plans):
    """SemDeDup's pair join must be keyed on the k-means cluster (hash
    join on cluster equality), not an unbounded inequality-only join."""
    p = plans("q35_semantic_dedup_pairs")
    assert "CartesianProduct" not in p
    assert "cluster" in p


def test_x181_join_delta_broadcasts_delta_sides(plans):
    p = plans("x181_incremental_join_delta")
    # every delta-rule term joins a (small) delta: all three joins must
    # be broadcast — the old-side tables never shuffle
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p


def test_x180_ring_sampling_has_no_cartesian_product(plans):
    p = plans("x180_ring_negative_sampling")
    # anchors x foreign-sources probe fan-out is a broadcast join on an
    # inequality, and the successor search is the union-window plan —
    # never an all-pairs nested loop over candidates
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_x177_heavy_hitters_is_semi_join_recount(plans):
    p = plans("x177_heavy_hitters_mg")
    # exact recount touches candidates only: LeftSemi with broadcast
    assert "LeftSemi" in p
    assert "MapInPandas" in p  # the MG sketch pass


def test_x186_mv_answer_never_rescans_fact_twice(plans):
    p = plans("x186_mv_rollup_answer")
    # one fact scan feeds the MV; the yearly answer re-aggregates it
    assert p.count("FileScan parquet") == 1


def test_x172_scrub_counts_via_window_not_join(plans):
    p = plans("q17_boilerplate_chunk_scrub")
    # corpus-frequency flagging is a window over chunk — no self-join
    assert "Window" in p
    assert "SortMergeJoin" not in p


def test_q33_ivfadc_scores_via_gemm_not_bnlj(plans):
    p = plans("q33_pq_ivf_ann_topk")
    # round-4 GEMM rewrite: the CORPUS-wide stages (IVF assignment, PQ
    # encode) run in mapInPandas over broadcast numpy matrices. The one
    # BNLJ allowed to remain is the per-QUERY ADC distance-table build
    # (|queries| x codebook, both broadcast-tiny, declared in
    # PLAN_AUDIT) — so exactly one occurrence, and the Python stages
    # must be present
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "MapInPandas" in p


def test_x329_bruteforce_scores_via_gemm(plans):
    p = plans("x329_ann_bruteforce_topk")
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p
    # final exact ranking stays a slim window over candidates
    assert "Window" in p


def test_q43_ppjoin_verifies_with_arrays_not_expansion(plans):
    p = plans("q43_ppjoin_jaccard_pairs")
    # round-4: candidate verification joins compact shingle ARRAYS and
    # intersects natively — the pair x shingle expansion re-join is gone
    assert "array_intersect" in p
    assert "CartesianProduct" not in p


def test_x271_span_join_is_hash_equi_join_on_shingle(plans):
    p = plans("x271_longest_shared_span")
    # the only quadratic surface is the df-capped shingle self-join —
    # it must be an equi-join on the hashed shingle, never a cartesian
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "xxhash64" in p.lower()  # joins on the 8-byte shingle hash


def test_x274_unigram_dp_is_pure_expressions(plans):
    p = plans("x274_unigram_segmentation")
    # the Viterbi fold is a single aggregate() expression chain: no
    # Python in the loop, no per-position joins, no cartesian
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "aggregate(sequence" in p.replace("\n", "").lower()


def test_x270_url_dedup_is_map_side_plus_one_shuffle(plans):
    p = plans("x270_url_canonical_dedup")
    # canonicalization is regexp/list expressions folded into the scan
    # projection; the only exchange is the canonical-key aggregation
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_x276_repetition_is_one_explode_no_join(plans):
    p = plans("x323_repetition_signals")
    # tagged union of 2- and 3-grams rides ONE generator; the signals
    # come from aggregation + windows — no self-join, no Python
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" not in p  # no join operator of any kind
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Generate explode") == 1


def test_x277_quota_sample_broadcasts_quotas(plans):
    p = plans("x277_temperature_mixture")
    # the domain-quota frame is broadcast into the selection join; the
    # only BNLJs are the declared 1-row totals cross joins (the quota
    # subtree appears twice: selection side and reporting side)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_x279_phrase_search_is_broadcast_index_join(plans):
    p = plans("x279_phrase_search")
    # postings join the k exploded phrase terms by broadcast hash join
    # on the term key — never a cartesian against the corpus
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_x280_rarity_broadcasts_vocab_rank(plans):
    p = plans("x280_token_rarity")
    # the ranked vocabulary joins back to the token stream by broadcast;
    # the rank window runs over the vocab frame only
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_x281_bloom_probe_is_map_side(plans):
    p = plans("q10_bloom_decontamination")
    # the Bloom probe is a forall-InSet EXPRESSION (no join for the
    # flag); the only joins are the exact-membership audit join and the
    # aggregation — never a cartesian or Python eval
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "forall" in p


def test_x282_triangles_are_equi_joins_only(plans):
    p = plans("q47_copurchase_triangles")
    # orientation + wedge + closing joins are all hash equi-joins; a
    # cartesian/BNLJ would mean the wedge join degenerated to all-pairs
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_x283_decomposition_is_window_plus_broadcast(plans):
    p = plans("x319_seasonal_decomposition")
    # one window pass over the (already-aggregated) series; the 24-row
    # seasonal-index frame broadcasts back — never a shuffle join
    assert "Window" in p
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_x284_anomalies_is_window_plus_broadcasts(plans):
    p = plans("x313_seasonal_anomalies")
    assert "Window" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


@pytest.fixture(scope="module")
def etl_plan(spark, warehouse, warehouse_csv):
    """Executed plan of the merged lines or of a warehouse table."""
    from super_store_datawarehouse_spark.sources.superstore import read_superstore_csv
    from super_store_datawarehouse_spark.warehouse.ingest import merge_duplicate_order_lines

    frames = {
        "lines": merge_duplicate_order_lines(read_superstore_csv(spark, warehouse_csv)),
        **warehouse,
    }

    def plan_of(name: str) -> str:
        df = frames[name]
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


@pytest.mark.parametrize("name", ["lines", "Item", "Orders"])
def test_line_merge_and_order_rollup_use_no_sort_aggregate(etl_plan, name):
    """The duplicate-line merge and the per-order rollup carry 14 and 6
    string attributes; as min_by aggregates their buffer has variable
    width and Spark plans an interpreted SortAggregate. A window that keeps
    each group's first line needs none. Item reads the checkpointed lines,
    so its plan holds no window of its own."""
    p = etl_plan(name)
    if name != "Item":
        assert "Window" in p
    assert "SortAggregate" not in p


@pytest.mark.parametrize("name", ["Item", "Orders"])
def test_line_facts_read_the_checkpointed_lines(etl_plan, name):
    """Item and Orders read the build's one row-form copy of the merged
    lines: no columnar cache to decode, and the CSV is parsed once per
    build, not once per fact."""
    p = etl_plan(name)
    assert "Scan ExistingRDD" in p
    assert "InMemoryTableScan" not in p
    assert "FileScan csv" not in p


@pytest.mark.parametrize(
    "name", ["OrderM", "ProductPerformance", "ShippingBehavior", "ShippingBehaviorS"]
)
def test_summary_facts_are_local_relations(etl_plan, name):
    """The summary facts come back from the dimensions' pass: writing one
    reads no lines and shuffles nothing."""
    p = etl_plan(name)
    assert "LocalTableScan" in p
    assert "Exchange" not in p
    assert "InMemoryTableScan" not in p
    assert "ExistingRDD" not in p


def test_build_leaves_the_cache_manager_empty(spark, warehouse_csv):
    """The build caches nothing: its lines live in a local checkpoint that
    goes with the returned frames, not in the session's cache manager."""
    from super_store_datawarehouse_spark.warehouse import build_warehouse

    spark.catalog.clearCache()
    build_warehouse(spark, warehouse_csv)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_driver_built_tables_write_without_a_spark_job(spark, warehouse, tmp_path):
    """The nine dimensions and the four summary facts are written from the
    driver's Arrow tables, with no Spark job; Item and Orders stay Spark
    writes."""
    from super_store_datawarehouse_spark.warehouse import write_warehouse

    def jobs_to_write(tables) -> int:
        return _jobs(spark, lambda: write_warehouse(tables, str(tmp_path)))

    line_facts = ("Item", "Orders")
    assert jobs_to_write({n: df for n, df in warehouse.items() if n not in line_facts}) == 0
    for name in line_facts:
        assert jobs_to_write({name: warehouse[name]}) >= 1, name


def _jobs(spark, action) -> int:
    """Spark jobs ``action`` launches, from the status tracker with the
    listener bus drained before and after."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup())
    action()
    bus.waitUntilEmpty()
    return len(set(tracker.getJobIdsForGroup()) - before)


def _shuffles(df) -> int:
    """Shuffle Exchanges in ``df``'s executed plan; a BroadcastExchange
    does not count."""
    df.collect()
    return len(re.findall(r"\bExchange\b", df._jdf.queryExecution().executedPlan().toString()))


def test_q01_on_a_small_star_plans_no_shuffle(spark, star):
    """Served from a small local star, both forms of q01 read one-partition
    leaves: the aggregate and the ORDER BY need no shuffle and no
    range-sampling job."""
    register_warehouse_views(star)
    assert _shuffles(run_sql(spark, "q01_sales_by_month")) == 0
    assert _shuffles(run_df(star, "q01_sales_by_month")) == 0


@pytest.mark.parametrize("name", sorted(SUPERSTORE_QUERIES))
def test_twins_launch_the_same_jobs_on_a_small_star(spark, star, name):
    """The SQL form and the DataFrame form of each query plan over the same
    served frames and launch the same number of Spark jobs."""
    register_warehouse_views(star)
    sql = _jobs(spark, lambda: run_sql(spark, name).collect())
    assert sql == _jobs(spark, lambda: run_df(star, name).collect())


def test_serving_gate_keeps_the_plans_of_other_frames(spark, warehouse, star_dir):
    """An in-memory frame, and a star whose files total more than
    ``spark.sql.files.openCostInBytes``, serve as they are: q01 keeps its
    shuffle."""
    from super_store_datawarehouse_spark.session import serving_frame

    assert all(serving_frame(df) is df for df in warehouse.values())
    assert _shuffles(run_df(warehouse, "q01_sales_by_month")) > 0
    key = "spark.sql.files.openCostInBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        big = {n: spark.read.parquet(os.path.join(star_dir, n)) for n in ("Orders", "Calendar")}
        assert all(serving_frame(df) is df for df in big.values())
        register_warehouse_views(big)
        assert _shuffles(run_sql(spark, "q01_sales_by_month")) > 0
        assert _shuffles(run_df(big, "q01_sales_by_month")) > 0
    finally:
        spark.conf.set(key, saved)

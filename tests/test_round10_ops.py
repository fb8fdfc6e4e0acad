"""Round-10 hardening tests.

- VERDICT r9 #6: the ADC regime split (fused long join in-plan, wide
  pivot on stored codes) is an explicit tested contract, so a refactor
  cannot silently swap the regimes SCALE.md §16 measured.
- ADVICE r9: refined-codebook budget guard, single ADC helper
  definitions.
"""

from __future__ import annotations

import ast
import random

import pytest

from super_store_datawarehouse_spark.operators.ann_index import (
    ivf_index_build,
    ivf_index_search,
    pq_index_build,
    pq_index_search,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(101)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(240)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


# -- ADC regime-split dispatch (VERDICT r9 #6) -------------------------------
# SCALE.md §16 measured: IN-PLAN the fused long join wins (the wide
# pivot adds a shuffle + m broadcast builds that re-run the encode
# lineage); on STORED codes the wide pivot wins 2.4-3.2×. Pin each
# face to its measured winner via plan structure: the long form's
# signature is the sorted-parts aggregate (collect_list) on the scoring
# path; the wide form's is the pivot + m broadcast hash joins.


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_stored_codes_faces_use_wide_pivot(spark, vectors, tmp_path):
    path = str(tmp_path / "pq_regime")
    pq_index_build(
        vectors, path, m=4, dim=8, codebook_buckets=500, salt=13, codebook_size=16
    )
    queries = vectors.filter("vec_id < 5")
    p = _plan(pq_index_search(spark, path, queries, k=3))
    assert "collect_list" not in p  # not the long/fused regime
    assert p.count("BroadcastHashJoin") >= 4  # m per-subspace lookups

    from super_store_datawarehouse_spark.operators.ann_index import (
        ivfadc_index_ensure,
        ivfadc_index_search,
    )

    path2 = str(tmp_path / "ivfadc_regime")
    ivfadc_index_ensure(
        vectors, path2, m=4, dim=8, codebook_buckets=500, salt=13,
        codebook_size=16, centroid_fraction=0.05, centroid_salt=7,
    )
    p2 = _plan(ivfadc_index_search(spark, path2, queries, k=3))
    assert "collect_list" not in p2
    assert p2.count("BroadcastHashJoin") >= 4


def test_in_plan_faces_use_fused_long_join(spark, vectors):
    from super_store_datawarehouse_spark.operators.similarity import (
        pq_ivf_topk,
        pq_topk,
    )

    queries = vectors.filter("vec_id < 5")
    p = _plan(
        pq_topk(vectors, queries, k=3, m=4, dim=8, codebook_buckets=500, salt=13)
    )
    assert "collect_list" in p  # the sorted-parts fold == the long regime

    p2 = _plan(
        pq_ivf_topk(
            vectors, queries, k=3, m=4, dim=8, codebook_buckets=500, salt=13,
            centroid_fraction=0.05, centroid_salt=7, nprobe=2,
        )
    )
    assert "collect_list" in p2


# -- ADVICE r9 ---------------------------------------------------------------


def test_refined_build_rejects_codebook_size(spark, vectors, tmp_path):
    with pytest.raises(ValueError, match="refined=True"):
        pq_index_build(
            vectors, str(tmp_path / "x"), m=4, dim=8, codebook_buckets=500,
            salt=13, codebook_size=16, refined=True,
        )


def test_adc_helpers_defined_once():
    import super_store_datawarehouse_spark.operators.similarity as sim

    tree = ast.parse(open(sim.__file__).read())
    names = [n.name for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)]
    assert names.count("_pq_codes_wide") == 1
    assert names.count("_adc_sum") == 1


# ---------------------------------------------------------------------------
# Round-10 addition: mergeable quantile summary (rank compaction)
# ---------------------------------------------------------------------------


def _rank_of(rows, value):
    return sum(1 for v in rows if v <= value)


def _estimate(spark, summary, pct):
    from super_store_datawarehouse_spark.operators.sketches import (
        summary_quantiles,
    )

    row = summary_quantiles(summary, [(f"p{pct}", pct)]).collect()[0]
    return row["est"], row["n_total"]


def _frame(spark, values, start_key=0):
    return spark.createDataFrame(
        [(int(v), start_key + i) for i, v in enumerate(values)], "v long, rk long"
    )


def test_quantile_summary_rank_bound(spark):
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
    )

    rnd = random.Random(7)
    values = [rnd.randrange(1_000_000) for _ in range(20_000)]
    strata, k = 8, 32
    summ = rank_compaction_summary(
        _frame(spark, values), "v", "rk", strata=strata, k=k
    )
    for pct in (10, 50, 90, 99):
        est, n_total = _estimate(spark, summ, pct)
        assert n_total == len(values)
        target = (pct * n_total + 99) // 100
        err = _rank_of(values, est) - target
        # crossing guarantee: never below target; the provable bound is
        # P*(k-1) undercount + (< k) crossing overshoot
        assert 0 <= err < strata * (k - 1) + k, (pct, err)


def test_quantile_summary_weights_partition_count(spark):
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
    )

    values = list(range(1, 5001))
    summ = rank_compaction_summary(
        _frame(spark, values), "v", "rk", strata=4, k=16
    ).collect()
    assert sum(r["weight"] for r in summ) == len(values)
    # summary is bounded: at most one tail row per stratum beyond N/k
    assert len(summ) <= len(values) // 16 + 4


def test_quantile_summary_k1_is_exact(spark):
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
    )

    rnd = random.Random(11)
    values = [rnd.randrange(10_000) for _ in range(3_000)]
    summ = rank_compaction_summary(
        _frame(spark, values), "v", "rk", strata=4, k=1
    )
    for pct in (50, 95):
        est, n_total = _estimate(spark, summ, pct)
        target = (pct * n_total + 99) // 100
        assert est == sorted(values)[target - 1]


def test_quantile_summary_merge_is_union(spark):
    """Merge law: the union of two halves' summaries reads off with the
    ADDITIVE bound (each half contributes its own <= P*(k-1) undercount
    plus one crossing overshoot) — partial summaries per shard/day
    combine without touching raw data."""
    from super_store_datawarehouse_spark.operators.sketches import (
        rank_compaction_summary,
    )

    rnd = random.Random(13)
    a = [rnd.randrange(1_000_000) for _ in range(8_000)]
    b = [rnd.randrange(1_000_000) for _ in range(12_000)]
    strata, k = 8, 32
    sa = rank_compaction_summary(_frame(spark, a), "v", "rk", strata, k)
    sb = rank_compaction_summary(
        _frame(spark, b, start_key=len(a)), "v", "rk", strata, k
    )
    merged = sa.unionByName(sb)
    both = a + b
    for pct in (50, 90):
        est, n_total = _estimate(spark, merged, pct)
        assert n_total == len(both)
        target = (pct * n_total + 99) // 100
        err = _rank_of(both, est) - target
        assert 0 <= err < 2 * strata * (k - 1) + k, (pct, err)


# ---------------------------------------------------------------------------
# Round-10 addition: FastSS deletion-neighborhood edit-distance blocking
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_edit1_pairs_equals_bruteforce(spark):
    """FastSS k=1 completeness/soundness: the deletion-neighborhood
    equi-join + verify returns EXACTLY the brute-force lev<=1 pair set
    — including insertion, deletion, substitution, and equality pairs,
    plus empty and 1-char strings."""
    from super_store_datawarehouse_spark.operators.linkage import edit1_pairs

    rnd = random.Random(17)
    # a clustered vocabulary so lev<=1 pairs actually occur
    seeds = ["spark", "spank", "park", "", "a", "b", "ab", "data", "date"]
    vals = list(seeds)
    for _ in range(120):
        s = rnd.choice(seeds)
        op = rnd.randrange(3)
        i = rnd.randrange(len(s) + 1)
        ch = rnd.choice("abkrs")
        if op == 0:
            vals.append(s[:i] + ch + s[i:])          # insertion
        elif op == 1 and s:
            vals.append(s[:i] + s[i + 1:] if i < len(s) else s[:-1])
        else:
            vals.append(s[:i] + ch + s[i + 1:] if i < len(s) else s + ch)
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, txt string")

    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit1_pairs(df, "id", "txt").collect()
    }
    want = {
        (ia, ib, _lev(va, vb))
        for ia, va in rows
        for ib, vb in rows
        if ia < ib and _lev(va, vb) <= 1
    }
    assert got == want


def test_grouped_quantile_summary_per_group_bound(spark):
    """Grouped summary: per-group read-off honors the P*(k-1)+k bound
    in EVERY group, including a tiny group (< k rows) whose summary is
    per-stratum tails only (bound-accurate, not exact — the tail is
    the stratum MAX carrying the whole remainder weight)."""
    from super_store_datawarehouse_spark.operators.sketches import (
        grouped_rank_compaction_summary,
        grouped_summary_quantiles,
    )

    rnd = random.Random(23)
    rows = []
    sizes = {"a": 7_000, "b": 2_500, "c": 9}   # c: tail-only summaries
    i = 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((g, rnd.randrange(1_000_000), i))
            i += 1
    df = spark.createDataFrame(rows, "grp string, v long, rk long")
    strata, k = 4, 16
    summ = grouped_rank_compaction_summary(df, "grp", "v", "rk", strata, k)
    ests = {
        (r["group"], r["q"]): (r["est"], r["n_group"])
        for r in grouped_summary_quantiles(
            summ, [("p50", 50), ("p90", 90)]
        ).collect()
    }
    by_group = {}
    for g, v, _ in rows:
        by_group.setdefault(g, []).append(v)
    for g, n in sizes.items():
        assert ests[(g, "p50")][1] == n
        for label, pct in (("p50", 50), ("p90", 90)):
            est, _ = ests[(g, label)]
            target = (pct * n + 99) // 100
            err = sum(1 for v in by_group[g] if v <= est) - target
            assert 0 <= err < strata * (k - 1) + k, (g, label, err)


def test_ivf_search_rejects_non_integral_query_ids(spark, vectors, tmp_path):
    """The ANN family's id contract is integral (the blocked-GEMM batch
    schema emits long ids); a string id_col must fail LOUDLY at the
    assignment instead of being silently cast-mangled (round-10 review
    finding — previously the literal rebuild coerced with int())."""
    index = str(tmp_path / "ivf_idtype")
    ivf_index_build(vectors, index, fraction=0.06, salt=7)
    q = vectors.filter("vec_id < 3").selectExpr(
        "concat('doc-', cast(vec_id AS string)) AS vec_id", "embedding"
    )
    with pytest.raises(TypeError, match="integral"):
        ivf_index_search(spark, index, q, k=3)

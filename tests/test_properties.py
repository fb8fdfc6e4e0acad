"""Property-based tests (hypothesis) for the custom operators whose edge
cases are easy to get wrong: as-of join tie/miss handling and the salted
count-distinct decomposition. Random inputs are checked against
brute-force Python references; example counts are capped because each
example runs a Spark job."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

KEYS = st.integers(min_value=0, max_value=3)
TS = st.integers(min_value=0, max_value=50)  # seconds offset; collisions likely
BASE = dt.datetime(2024, 1, 1)


def _t(sec: int) -> dt.datetime:
    return BASE + dt.timedelta(seconds=sec)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=8),
    right=st.lists(st.tuples(KEYS, TS, st.integers(0, 99)), min_size=0, max_size=8),
)
def test_asof_join_matches_bruteforce(spark, left, right):
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(i, k, _t(s)) for i, (k, s) in enumerate(left)], ["lid", "key", "ts"]
    )
    rdf = spark.createDataFrame(
        [(k, _t(s), float(v)) for k, s, v in right],
        "key int, ts timestamp, px double",
    )
    got = {
        r["lid"]: r["asof_ts"]
        for r in asof_join(ldf, rdf, on="key", value_cols=["px"]).collect()
    }
    assert set(got) == set(range(len(left)))  # every left row survives exactly once
    for i, (k, s) in enumerate(left):
        cands = [_t(rs) for rk, rs, _ in right if rk == k and rs <= s]
        assert got[i] == (max(cands) if cands else None)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(st.tuples(KEYS, st.integers(0, 20)), min_size=1, max_size=40),
    n_buckets=st.sampled_from([1, 2, 7, 32]),
)
def test_salted_count_distinct_is_exact(spark, rows, n_buckets):
    from super_store_datawarehouse_spark.operators.skew import salted_count_distinct

    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: r["n_distinct_v"]
        for r in salted_count_distinct(df, ["k"], "v", n_buckets).collect()
    }
    want = {}
    for k, v in rows:
        want.setdefault(k, set()).add(v)
    assert got == {k: len(vs) for k, vs in want.items()}


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 4), st.integers(-1000, 1000)), min_size=1, max_size=16
    ),
    cut=st.integers(0, 16),
)
def test_incremental_merge_equals_full_for_any_split(spark, rows, cut):
    """For ANY split point of the input, merging the two halves' partial
    aggregates equals aggregating the whole — the associativity the
    incremental-maintenance operator depends on."""
    from super_store_datawarehouse_spark.operators.incremental import (
        build_partials,
        merge_partials,
    )

    cut = min(cut, len(rows))
    schema = "k long, v long"
    specs = {
        "n": ("count", "v"),
        "s": ("sum", "v"),
        "mn": ("min", "v"),
        "mx": ("max", "v"),
    }
    full_df = spark.createDataFrame(rows, schema)
    a = rows[:cut] or [(99, 0)]  # createDataFrame rejects empty lists;
    b = rows[cut:] or [(99, 0)]  # pad both sides with a sentinel key
    pad = [(99, 0)] if (not rows[:cut] or not rows[cut:]) else []
    merged = merge_partials(
        build_partials(spark.createDataFrame(a, schema), ["k"], specs),
        build_partials(spark.createDataFrame(b, schema), ["k"], specs),
        ["k"],
        specs,
    )
    full = build_partials(spark.createDataFrame(rows + pad, schema), ["k"], specs)
    as_map = lambda df: {r["k"]: (r["n"], r["s"], r["mn"], r["mx"]) for r in df.collect()}  # noqa: E731
    got, want = as_map(merged), as_map(full)
    if pad:
        # drop the sentinel key before comparing real aggregates
        got.pop(99, None), want.pop(99, None)
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    words=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "x"]),
        min_size=1,
        max_size=40,
    ),
)
def test_countmin_estimate_upper_bounds_truth(spark, words):
    """For ANY token stream: est ≥ true for every token, and the sketch
    total per row equals the stream length (counters are conservative
    and additive)."""
    from collections import Counter

    from super_store_datawarehouse_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )

    toks = spark.createDataFrame([(w,) for w in words], ["word"])
    sketch = countmin_build(toks, depth=3, width=8)
    per_row = Counter()
    for r in sketch.collect():
        per_row[r["r"]] += r["cnt"]
    assert all(v == len(words) for v in per_row.values())
    est = {
        r["word"]: r["est_cnt"]
        for r in countmin_estimate(
            sketch, toks.distinct(), depth=3, width=8
        ).collect()
    }
    truth = Counter(words)
    assert all(est[w] >= c for w, c in truth.items())


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=30),
    probes=st.lists(st.integers(min_value=-1000, max_value=1000), min_size=0, max_size=30),
)
def test_bloom_prefilter_never_drops_members(spark, keys, probes):
    """For ANY build/probe sets: every probe row whose key is in the
    build set survives the Bloom prefilter (no false negatives)."""
    from super_store_datawarehouse_spark.operators.runtime_filter import (
        bloom_prefilter,
        build_bloom,
    )

    build = spark.createDataFrame([(k,) for k in keys], "k long")
    probe = spark.createDataFrame([(p,) for p in probes], "k long") if probes else None
    if probe is None:
        return
    bloom = build_bloom(build, "k", n_bits=1 << 12, n_hashes=3)
    kept = [r["k"] for r in bloom_prefilter(probe, "k", bloom).collect()]
    member = set(keys)
    from collections import Counter

    kept_c, want_c = Counter(kept), Counter(p for p in probes if p in member)
    assert all(kept_c[k] >= c for k, c in want_c.items())


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(st.tuples(KEYS, TS), min_size=1, max_size=8),
    right=st.lists(st.tuples(KEYS, TS, st.integers(0, 99)), min_size=0, max_size=8),
    tol=st.sampled_from([None, 3_000_000, 10_000_000]),
)
def test_asof_forward_tolerance_matches_bruteforce(spark, left, right, tol):
    from super_store_datawarehouse_spark.operators.temporal import asof_join

    ldf = spark.createDataFrame(
        [(i, k, _t(s)) for i, (k, s) in enumerate(left)], ["lid", "key", "ts"]
    )
    rdf = spark.createDataFrame(
        [(k, _t(s), float(v)) for k, s, v in right],
        "key int, ts timestamp, px double",
    )
    got = {
        r["lid"]: r["asof_ts"]
        for r in asof_join(
            ldf, rdf, on="key", value_cols=["px"],
            direction="forward", tolerance_us=tol,
        ).collect()
    }
    assert set(got) == set(range(len(left)))
    for i, (k, s) in enumerate(left):
        cands = [_t(rs) for rk, rs, _ in right if rk == k and rs >= s]
        want = min(cands) if cands else None
        if want is not None and tol is not None:
            if (want - _t(s)).total_seconds() * 1_000_000 > tol:
                want = None
        assert got[i] == want


def test_partition_invariance_of_deterministic_operators(spark):
    """Results must not depend on physical partitioning — the property
    that makes an operator safe on a 1000-executor cluster where the
    scheduler controls the data layout, not the author."""
    from pyspark.sql import functions as F

    from super_store_datawarehouse_spark.operators.sampling import (
        stratified_exact_sample,
    )
    from super_store_datawarehouse_spark.operators.sketches import hll_distinct

    rows = [(i, f"s{i % 5}", i * 3 + 1) for i in range(500)]
    base = spark.createDataFrame(rows, ["k", "s", "v"])

    for parts in (1, 7, 32):
        df = base.repartition(parts)
        # exact-allocation sample: identical membership
        got = sorted(
            r["k"]
            for r in stratified_exact_sample(
                df, key_col="k", strata_col="s", percent=20
            ).collect()
        )
        if parts == 1:
            want_sample = got
        assert got == want_sample, f"sample drifted at {parts} partitions"
        # HLL estimate: registers are max-merged, so the estimate is
        # identical whatever the partitioning
        est = {
            r["s"]: r["est_distinct"]
            for r in hll_distinct(df, ["s"], "v").collect()
        }
        if parts == 1:
            want_est = est
        assert est == want_est, f"HLL drifted at {parts} partitions"


def test_bpe_merges_partition_invariant(spark):
    from super_store_datawarehouse_spark.operators.text import bpe_learn

    wf_rows = [(w, f) for w, f in
               [("alpha", 9), ("alps", 7), ("beta", 5), ("bets", 4), ("ba", 3)]]
    want = None
    for parts in (1, 4):
        wf = spark.createDataFrame(wf_rows, ["w", "freq"]).repartition(parts)
        merges, _ = bpe_learn(wf, n_merges=3)
        got = [tuple(r) for r in merges.orderBy("merge_rank").collect()]
        if want is None:
            want = got
        assert got == want, f"BPE merges drifted at {parts} partitions"


_URL_HOST = st.from_regex(r"[a-zA-Z][a-zA-Z0-9]{0,6}\.(com|org|net)", fullmatch=True)
_URL_PATH = st.from_regex(r"(/[a-zA-Z0-9._~-]{0,5}){0,3}/?", fullmatch=True)
_URL_PARAM = st.from_regex(r"[a-z]{1,4}=[a-zA-Z0-9]{0,4}|utm_[a-z]{1,6}=[a-z]{0,4}", fullmatch=True)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    scheme=st.sampled_from(["http", "https", "HTTP", "Https"]),
    www=st.booleans(),
    host=_URL_HOST,
    port=st.sampled_from(["", ":80", ":443", ":8080"]),
    path=_URL_PATH,
    params=st.lists(_URL_PARAM, max_size=4),
    frag=st.sampled_from(["", "#x", "#frag/y"]),
)
def test_canonical_url_idempotent_and_order_free(
    spark, scheme, www, host, port, path, params, frag
):
    """canonical_url must be IDEMPOTENT (a canonical form canonicalizes
    to itself) and insensitive to query-param order."""
    import random

    from super_store_datawarehouse_spark.operators.text import canonical_url

    q = "?" + "&".join(params) if params else ""
    url = f"{scheme}://{'www.' if www else ''}{host}{port}{path}{q}{frag}"
    shuffled = list(params)
    random.Random(7).shuffle(shuffled)
    q2 = "?" + "&".join(shuffled) if shuffled else ""
    url2 = f"{scheme}://{'www.' if www else ''}{host}{port}{path}{q2}{frag}"
    df = spark.createDataFrame([(url, url2)], ["u1", "u2"])
    row = df.select(
        canonical_url("u1").alias("c1"),
        canonical_url("u2").alias("c2"),
        canonical_url(canonical_url("u1")).alias("cc1"),
    ).collect()[0]
    assert row["c1"] == row["c2"], (url, url2, row)
    assert row["cc1"] == row["c1"], (url, row)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdef"), min_size=5, max_size=14),
        min_size=2,
        max_size=5,
    )
)
def test_longest_shared_spans_matches_bruteforce(spark, docs):
    """The islands formulation must agree with a per-pair brute-force
    longest-common-substring (token-level) computation whenever no
    shingle is df-capped away (max_doc_freq >= n_docs)."""
    from super_store_datawarehouse_spark.operators.dedup import (
        longest_shared_spans,
    )

    n = 3
    texts = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["span_tokens"]
        for r in longest_shared_spans(
            df, n=n, max_doc_freq=len(docs), min_span=n + 1
        ).collect()
    }

    def lcs_tokens(a: list, b: list) -> int:
        best = 0
        for i in range(len(a)):
            for j in range(len(b)):
                k = 0
                while i + k < len(a) and j + k < len(b) and a[i + k] == b[j + k]:
                    k += 1
                best = max(best, k)
        return best

    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            want = lcs_tokens(docs[i], docs[j])
            if want >= n + 1:
                assert got.get((i, j)) == want, (docs[i], docs[j], got.get((i, j)), want)
            else:
                assert (i, j) not in got


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=25
    )
)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-ordered counting must agree with the O(n^3) definition on
    arbitrary small graphs (self-loops, duplicates, both directions)."""
    from itertools import combinations

    from super_store_datawarehouse_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    adj = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({v for e in adj for v in e})
    want = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= adj:
            want[a] += 1
            want[b] += 1
            want[c] += 1
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 500), st.integers(0, 4)), min_size=2, max_size=40
    ).filter(lambda r: len({k for k, _ in r}) == len(r)),
    pct=st.integers(1, 100),
)
def test_temperature_quota_sample_invariants(spark, rows, pct):
    """Per-domain kept counts equal the integer-arithmetic quotas, the
    kept sets are the lowest Knuth ranks, and membership is stable
    under repartitioning."""
    import math

    from super_store_datawarehouse_spark.operators.sampling import (
        KNUTH,
        quota_sample,
        temperature_quotas,
    )

    df = spark.createDataFrame(rows, ["doc_id", "dom"])
    quotas = temperature_quotas(df, "dom", pct)
    qrows = {r["dom"]: r for r in quotas.collect()}
    # quotas replicate in plain python
    counts = {}
    for _, d in rows:
        counts[d] = counts.get(d, 0) + 1
    tot = sum(counts.values())
    wsum = sum(math.isqrt(n) for n in counts.values())
    for d, n in counts.items():
        want = min(n, (tot * pct // 100) * math.isqrt(n) // wsum)
        assert qrows[d]["target_n"] == want and qrows[d]["weight"] == math.isqrt(n)
    kept = sorted(r["doc_id"] for r in quota_sample(df, "doc_id", "dom", quotas).collect())
    kept7 = sorted(
        r["doc_id"]
        for r in quota_sample(df.repartition(7), "doc_id", "dom", quotas).collect()
    )
    assert kept == kept7
    # lowest-rank selection per domain
    def krank(k):
        return ((k % (1 << 31)) * KNUTH) % (1 << 32), k
    for d, n in counts.items():
        ids = sorted((k for k, dd in rows if dd == d), key=krank)
        want_ids = sorted(ids[: qrows[d]["target_n"]])
        got_ids = sorted(k for k in kept if dict(rows)[k] == d)
        assert got_ids == want_ids

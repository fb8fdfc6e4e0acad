"""Runtime Bloom-filter pushdown for selective joins.

The classic distributed-join optimization (Trino calls it dynamic
filtering; Spark has `spark.sql.optimizer.runtime.bloomFilter.enabled`
for it): when the build side of a join is selective, materialize a
compact membership sketch over its keys, broadcast it, and drop
non-matching probe rows *before* they enter the shuffle. At 100 TB the
win is the shuffle itself — a 1%-selective dim predicate means 99% of
the fact table never leaves the map stage.

Two properties make this safe and oracle-checkable:

- a Bloom filter has **no false negatives**, so every surviving row the
  real join needs is still there;
- false positives are removed by the real join that follows, so the
  final result is *bit-identical* to the unfiltered join — the sketch
  only prunes work, never changes semantics. The harness exploits this:
  the DuckDB oracle is simply the plain join.

The sketch is built driver-side from the build side's distinct keys
(same memory contract as broadcasting that side) and the probe-side
membership test runs vectorized over Arrow batches — numpy uint64
splitmix64 double hashing, no per-row Python.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# splitmix64 constants (Steele et al., public domain reference mixer).
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB
_U64 = (1 << 64) - 1


def _splitmix64_np(x):
    """Vectorized splitmix64 finalizer over a numpy uint64 array."""
    import numpy as np

    z = (x + np.uint64(_SM_GAMMA)) & np.uint64(_U64)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_SM_M1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_SM_M2)
    return z ^ (z >> np.uint64(31))


def build_bloom(
    build: DataFrame, key_col: str, n_bits: int | None = None, n_hashes: int = 5
) -> tuple["object", int, int]:
    """Collect the build side's distinct int keys and pack them into a
    Bloom bitmap (numpy uint64 words).

    Sizing: default n_bits = 16 bits/key rounded up to a power of two
    (~0.05% FPR at k=5), driver memory n_bits/8 bytes — 2 MB for a
    million keys, broadcast like any build side.
    """
    import numpy as np

    keys = (
        build.select(F.col(key_col).cast("long").alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .toPandas()["k"]
        .to_numpy()
        .astype(np.uint64)
    )
    n = max(len(keys), 1)
    if n_bits is None:
        n_bits = 1 << max(10, math.ceil(math.log2(16 * n)))
    bitmap = np.zeros(n_bits // 64, dtype=np.uint64)
    h1 = _splitmix64_np(keys)
    h2 = _splitmix64_np(keys ^ np.uint64(_SM_GAMMA)) | np.uint64(1)
    for i in range(n_hashes):
        pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
        np.bitwise_or.at(bitmap, (pos >> np.uint64(6)).astype(np.int64),
                         np.uint64(1) << (pos & np.uint64(63)))
    return bitmap, n_bits, n_hashes


def bloom_prefilter(
    probe: DataFrame, key_col: str, bloom: tuple["object", int, int]
) -> DataFrame:
    """Keep only probe rows whose key *may* be in the Bloom filter.

    Null keys are dropped (they can never match an equi-join). The test
    is pure numpy per Arrow batch: k dependent bit probes per row.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    bitmap, n_bits, n_hashes = bloom
    spark = probe.sparkSession
    bc = spark.sparkContext.broadcast((bitmap, n_bits, n_hashes))
    schema = probe.schema

    def part(batches):
        bm, nb, k = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            col = pdf[key_col]
            notnull = col.notna().to_numpy()
            keys = col.fillna(0).to_numpy().astype(np.int64).astype(np.uint64)
            h1 = _splitmix64_np(keys)
            h2 = _splitmix64_np(keys ^ np.uint64(_SM_GAMMA)) | np.uint64(1)
            keep = notnull.copy()
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(nb)
                bit = (bm[(pos >> np.uint64(6)).astype(np.int64)]
                       >> (pos & np.uint64(63))) & np.uint64(1)
                keep &= bit.astype(bool)
            yield pdf[keep]

    return probe.mapInPandas(part, schema=schema)


def bloom_join(probe: DataFrame, build: DataFrame, on: str) -> DataFrame:
    """Equi-join with a Bloom runtime filter on the probe side.

    Result is identical to ``probe.join(build, on)`` (no false negatives;
    false positives die in the real join).
    """
    bloom = build_bloom(build, on)
    # Pin the broadcast to the build side: the prefiltered probe comes out
    # of mapInPandas with no size statistics, and Catalyst's default
    # estimate can otherwise pick the PROBE as the broadcast side — fine
    # at test scale, catastrophic at 100 TB where the prefiltered fact is
    # still huge. The build side already fit in memory to build the bloom.
    return bloom_prefilter(probe, on, bloom).join(F.broadcast(build), on)

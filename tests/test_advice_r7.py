"""Round-7 ADVICE regression test: scoped_cache()/release_scoped_caches()
are lock-guarded, so concurrent registration + release never corrupts
the registry.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F


def test_scoped_cache_registry_is_lock_guarded(spark):
    from super_store_datawarehouse_spark.session import (
        _SCOPED_CACHED_FRAMES,
        release_scoped_caches,
        scoped_cache,
    )

    release_scoped_caches()  # start clean
    base = spark.range(10)
    errors: list[Exception] = []

    def register(n):
        try:
            for i in range(n):
                scoped_cache(base.withColumn("i", F.lit(i)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def release(n):
        try:
            for _ in range(n):
                release_scoped_caches()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=register, args=(20,)) for _ in range(4)]
    threads += [threading.Thread(target=release, args=(10,)) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    release_scoped_caches()
    assert not errors
    assert _SCOPED_CACHED_FRAMES == []

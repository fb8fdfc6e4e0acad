"""Change-data-capture style incremental maintenance, Spark-first.

The reference rebuilds its warehouse from scratch each load
(``etl/`` full reload, SURVEY §2.1 S6); at 100 TB a full rebuild is not
an option, so the engine adds a set-oriented upsert.

``apply_upserts`` is a latest-version-wins merge of an update batch into
a base table. One shuffle on the key (window rank), no driver loop; the
idiom Delta's MERGE compiles to when no deletion vector support exists.
At scale the window shuffle is the unavoidable cost of key-level
reconciliation; AQE balances skewed keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apply_upserts(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge ``updates`` into ``base``, keeping the highest ``version``
    row per key (latest-wins upsert).

    Versions must be unique per key (a CDC log sequence number /
    batch id) — ties would make the survivor nondeterministic, so give
    updates a strictly higher version than base.
    """
    unioned = base.unionByName(updates)
    w = Window.partitionBy(*keys).orderBy(F.desc("version"))
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


"""Round-11 hardening tests.

- ADVICE r10: the persisted-index literal-IN search path must refuse an
  unbounded query assignment loudly (it collects |queries| x nprobe rows
  to the driver) instead of silently OOMing on a corpus-scaled frame.
"""

from __future__ import annotations

import random

import pytest

from super_store_datawarehouse_spark.operators import ann_index as ann_mod
from super_store_datawarehouse_spark.operators.ann_index import (
    ivf_index_build,
    ivf_index_search,
)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(77)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(120)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_index_search_refuses_unbounded_query_assignment(
    tmp_path, spark, vectors, monkeypatch
):
    path = str(tmp_path / "ivf")
    ivf_index_build(vectors, path, max_cells=4)
    # within the bound: works
    q = vectors.filter("vec_id < 10")
    assert ivf_index_search(spark, path, q, k=3).count() > 0
    # shrink the bound below |queries| x nprobe: must raise, not collect
    monkeypatch.setattr(ann_mod, "_MAX_ASSIGN_ROWS", 4)
    with pytest.raises(ValueError, match="contract-small"):
        ivf_index_search(spark, path, q, k=3).count()

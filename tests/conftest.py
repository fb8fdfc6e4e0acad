"""Shared fixtures: one SparkSession and one built warehouse per session.

The warehouse comes from the reference CSV when it is present, otherwise
from a CSV made by the benchmark's seeded generator (``perfbench/gen.py``,
imported as is). Tests that pin figures of the reference file take
``reference_warehouse``, which skips without it.
"""

from __future__ import annotations

import os
import sys

import pytest

try:  # engine import: resolves via `pip install -e .` / `setup.py develop`
    import super_store_datawarehouse_spark  # noqa: F401
except ImportError:  # raw checkout without an editable install
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
else:
    # __spark_entry__ (the driver-contract adapter) lives at the repo
    # root by contract, outside the installed package — always reachable
    # relative to this script, installed or not.
    if os.path.dirname(os.path.dirname(os.path.abspath(__file__))) not in sys.path:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from super_store_datawarehouse_spark.session import get_spark  # noqa: E402

REFERENCE_CSV = "/root/reference/Sample - Superstore.csv"
# The smallest seed-0 generated CSV on which the query tests have what
# they need: all 49 states (q10), all 4 ship modes (q07) and at least 10
# products in every category (q13). Its literal Q1 bug keeps 8.5 % of the
# sales, under the 10 % that test allows.
GENERATED_LINES = 467
TESTDATA_SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True, scope="module")
def _release_scoped_caches_per_module():
    """Release operator-registered scoped caches between test modules.

    Without this, every scoped_cache() an operator takes during a test
    stays in the block manager for the rest of the pytest session — the
    exact accumulation the mechanism exists to prevent. Module scope
    (not per-test) keeps intra-module cache reuse, which some tests
    lean on for speed, while bounding session-wide growth.
    """
    from super_store_datawarehouse_spark.session import release_scoped_caches

    yield
    release_scoped_caches()


@pytest.fixture(scope="session")
def warehouse_csv(tmp_path_factory) -> str:
    """The Superstore CSV the ``warehouse`` fixture builds from."""
    if os.path.exists(REFERENCE_CSV):
        return REFERENCE_CSV
    sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
    import gen

    return gen.superstore_csv(str(tmp_path_factory.mktemp("superstore")), 0, GENERATED_LINES).path


@pytest.fixture(scope="session")
def warehouse(spark, warehouse_csv):
    from super_store_datawarehouse_spark.warehouse import build_warehouse

    return build_warehouse(spark, warehouse_csv)


@pytest.fixture(scope="session")
def star_dir(warehouse, tmp_path_factory) -> str:
    """The ``warehouse`` written by ``write_warehouse``: a small local star."""
    from super_store_datawarehouse_spark.warehouse import write_warehouse

    out = str(tmp_path_factory.mktemp("star"))
    write_warehouse(warehouse, out)
    return out


@pytest.fixture(scope="session")
def star(spark, star_dir):
    """Each table of ``star_dir`` read back with ``spark.read.parquet``, as
    a serving session reads the warehouse."""
    names = sorted(n for n in os.listdir(star_dir) if os.path.isdir(os.path.join(star_dir, n)))
    return {n: spark.read.parquet(os.path.join(star_dir, n)) for n in names}


@pytest.fixture(scope="session")
def reference_warehouse(request, warehouse_csv):
    """The warehouse, for tests that pin figures of the reference CSV."""
    if warehouse_csv != REFERENCE_CSV:
        pytest.skip("reference CSV not available")
    return request.getfixturevalue("warehouse")

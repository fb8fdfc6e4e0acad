"""q26 PageRank on a trade graph whose edges leave the nation table."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = {
    "nation": {"n_nationkey": [0, 1, 2], "n_name": ["ALGERIA", "BRAZIL", "CANADA"]},
    # customer 3 and supplier 3 sit in nations the nation table lacks
    "customer": {"c_custkey": [1, 2, 3], "c_nationkey": [0, 1, 9]},
    "supplier": {"s_suppkey": [1, 2, 3], "s_nationkey": [1, 2, 8]},
    "orders": {"o_orderkey": [10, 20, 30, 40], "o_custkey": [1, 2, 3, 1]},
}
# (order, supplier) lines: edges 0->1 x3, 1->2 x2, 9->2 x4 (dangling
# source), 0->8 x2 (dangling destination), 2->? none
LINES = [(10, 1)] * 3 + [(20, 2)] * 2 + [(30, 2)] * 4 + [(40, 3)] * 2


def test_q26_drops_edges_outside_nation_like_its_oracle(spark, tmp_path):
    from super_store_datawarehouse_spark.plans import HARNESS
    from super_store_datawarehouse_spark.plans import extensions as _x  # noqa: F401

    tables = {
        **TABLES,
        "lineitem": {"l_orderkey": [o for o, _ in LINES], "l_suppkey": [s for _, s in LINES]},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), tmp_path / f"{name}.parquet")

    q26, oracle = HARNESS["q26_trade_pagerank"]
    got = [tuple(r) for r in q26(spark, str(tmp_path)).collect()]

    con = duckdb.connect()
    try:
        for name in tables:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path / name}.parquet')"
            )
        expected = con.execute(oracle).fetchall()
    finally:
        con.close()
    assert got == expected
    assert len(got) == 3

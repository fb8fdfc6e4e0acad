"""Generate QUERIES.md: an index of every harness query — name, defining
module, oracle status — so a reader can navigate the harness
without grepping. Pure static generation (no Spark session).

Usage: python scripts/gen_query_index.py
"""

from __future__ import annotations

import os
import sys

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

from super_store_datawarehouse_spark.plans import HARNESS  # noqa: E402
from super_store_datawarehouse_spark.plans import extensions as _x  # noqa: E402,F401
from super_store_datawarehouse_spark.plans import harness as _h  # noqa: E402,F401
from super_store_datawarehouse_spark.plans import pipeline_ops as _p  # noqa: E402,F401


def main() -> None:
    rows = []
    for name in sorted(HARNESS):
        builder, oracle = HARNESS[name]
        module = builder.__module__.rsplit(".", 1)[-1]
        rows.append((name, module, "full" if oracle else "rows-only"))

    n_oracled = sum(1 for _, _, o in rows if o == "full")
    out = [
        "# QUERIES — harness query index",
        "",
        f"{len(rows)} queries; {n_oracled} with full DuckDB value oracles,",
        f"{len(rows) - n_oracled} rows-only (hash-based sketches with no SQL twin —",
        "each is unit-tested against the exact operator it approximates).",
        "q01-q50 is the driver-checked tier-1 window; the x-series is",
        "verified by `scripts/oracle_check.py`. Generated by",
        "`python scripts/gen_query_index.py`.",
        "",
        "| query | module | oracle |",
        "|---|---|---|",
    ]
    out += [f"| {n} | plans/{m}.py | {o} |" for n, m, o in rows]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote QUERIES.md ({len(rows)} queries, {n_oracled} oracled)")


if __name__ == "__main__":
    main()

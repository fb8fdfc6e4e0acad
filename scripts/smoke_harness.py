"""End-of-round smoke gate: construct EVERY harness query at sf0.001 and
force one row through it.

Analysis errors (schema drift in driver-regenerated testdata, renamed
columns, bad SQL) surface in seconds here, without waiting for the
driver's DuckDB oracle. Run this before shipping a round, next to
scripts/oracle_check.py and scripts/plan_audit.py.

Usage:
    python scripts/smoke_harness.py [sf_dir]        # default sf0.001
    python scripts/smoke_harness.py --only q21,q37  # subset by prefix

Exit code 0 iff every registered query builds and yields via
``.limit(1).count()`` without raising.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

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

from super_store_datawarehouse_spark.session import (  # noqa: E402
    get_spark,
    release_scoped_caches,
)


def smoke(queries, spark, sf_dir: str, verbose: bool = True) -> list[str]:
    """Probe each (name → builder) with ``.limit(1).count()``; return the
    names that raised. limit(1).count() forces analysis + one task
    without a full materialization, so AnalysisExceptions and most
    runtime type errors surface at negligible cost."""
    failures: list[str] = []
    for name, fn in queries.items():
        t = time.time()
        try:
            fn(spark, sf_dir).limit(1).count()
            if verbose:
                print(f"  ok   {name}  ({time.time() - t:.2f}s)")
        except Exception:
            failures.append(name)
            if verbose:
                print(f"  FAIL {name}")
                traceback.print_exc()
        finally:
            release_scoped_caches()
    return failures


def main() -> int:
    args = [a for a in sys.argv[1:]]
    only: list[str] | None = None
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    import __spark_entry__ as entry_mod

    spark = get_spark("smoke-harness")
    queries = entry_mod.queries()
    if only:
        queries = {
            k: v for k, v in queries.items() if any(k.startswith(p) for p in only)
        }

    t0 = time.time()
    failures = smoke(queries, spark, sf_dir)
    print(
        f"{len(queries) - len(failures)}/{len(queries)} queries smoke-pass "
        f"in {time.time() - t0:.1f}s on {sf_dir}"
    )
    if failures:
        print("FAILED:", ", ".join(failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

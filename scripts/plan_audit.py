"""Automated physical-plan antipattern audit over the ENTIRE harness.

Builds every registered query's executed plan (no data is read — plans
only) and flags the structures that kill 100 TB runs:

- ``CartesianProduct`` / ``BroadcastNestedLoopJoin Inner`` on non-tiny
  sides (all-pairs blowups),
- ``PythonUDF``-eval of row-at-a-time UDFs (``BatchEvalPython``) — the
  Arrow paths (``ArrowEvalPython``, ``MapInPandas``, ``FlatMapGroupsIn
  Pandas``) are allowed,
- single-partition global ``Exchange SinglePartition`` directly beneath
  another shuffle (accidental serialization point) — reported as info,
  since scalar aggregates legitimately use it.

An allowlist carries the queries where a flagged shape is the declared
design (k-row or bounded broadcast sides). Exit 1 on any unallowed
finding, and on an allowlisted name the registry no longer holds (an
exception must not outlive its query), so this gates end-of-round next
to ``scripts/smoke_harness.py``. The report and stdout also list the
allowlisted queries that raised nothing in the run; an entry idle at
every audited scale excuses nothing and goes.

Usage: python scripts/plan_audit.py [sf_dir] [--report out.md]
"""

from __future__ import annotations

import os
import sys

try:  # engine import: resolves via `pip install -e .` / `setup.py develop`
    import super_store_datawarehouse_spark  # noqa: F401
except ImportError:  # raw checkout without an editable install
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from super_store_datawarehouse_spark.plans import HARNESS  # noqa: E402
from super_store_datawarehouse_spark.plans import extensions, harness, pipeline_ops  # noqa: E402,F401
from super_store_datawarehouse_spark.session import (  # noqa: E402
    get_spark,
    release_scoped_caches,
)

# Declared-by-design exceptions, each with the reason the shape is ok.
ALLOW: dict[str, str] = {
    # inner BroadcastNestedLoopJoins whose build side is k rows or a
    # scalar aggregate — the broadcast side is bounded by construction
    "x109_pps_weighted_sample": "k-row probe side broadcast NL by design",
    "x318_pq_ivf_hash_fraction": "probe x sqrt(n)-row centroid table (declared baseline, ex-q33)",
    "q33_pq_ivf_ann_topk": "probe x <=512-cell centroid table / <=256-codeword book (fixed budgets; ex-x316)",
    "x125_pq_ann_topk": "probe x m-row codebook",
    # persisted-index lifecycle queries (round 10): the only BNLJ is the
    # ADC distance-table build — probe x the STORED codebook, which is
    # capped at 256 codewords by the index budget (x125/q33's declared
    # shape; the corpus side never cross-joins anything)
    "q20_pq_index_lifecycle": "probe x <=256-codeword stored book (dtab build; x125's shape)",
    "x331_ivfadc_index_lifecycle": "probe x <=512-cell centroids / <=256-codeword stored book (q33's shape)",
    "x333_pq_index_update_roundtrip": "probe x <=256-codeword stored book (dtab build; x125's shape)",
    "x134_pq_refined_topk": "probe x m-row codebook",
    "x180_ring_negative_sampling": "anchors x |sources|-row distinct side",
    "q27_rag_context_assembly": "5-row query-doc side broadcast x corpus",
}


def audit_plan(name: str, plan: str) -> list[str]:
    findings = []
    if "CartesianProduct" in plan:
        findings.append("CartesianProduct")
    if "BroadcastNestedLoopJoin" in plan and "Inner" in plan.split(
        "BroadcastNestedLoopJoin", 1
    )[1].split("\n", 1)[0]:
        # inner BNLJ: fine for 1-row/k-row scalar sides, deadly otherwise
        findings.append("BroadcastNestedLoopJoin Inner")
    if "BatchEvalPython" in plan:
        findings.append("row-at-a-time PythonUDF (BatchEvalPython)")
    return findings


def main() -> int:
    report_path = None
    argv = sys.argv[1:]
    if "--report" in argv:
        i = argv.index("--report")
        report_path = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]  # drop the flag AND its value
    args = [a for a in argv if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    stale = sorted(set(ALLOW) - set(HARNESS))
    if stale:
        print(f"allowlisted but not registered: {', '.join(stale)}")
        return 1

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")

    rows, bad = [], []
    for name in sorted(HARNESS):
        builder, _ = HARNESS[name]
        try:
            df = builder(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 — audit must see every query
            bad.append((name, [f"plan build failed: {exc}"]))
            continue
        release_scoped_caches()
        findings = audit_plan(name, plan)
        if findings and name in ALLOW:
            rows.append((name, findings, ALLOW[name]))
        elif findings:
            bad.append((name, findings))
        else:
            rows.append((name, [], ""))

    clean = sum(1 for _, f, _r in rows if not f)
    allowed = [(n, f, r) for n, f, r in rows if f]
    # an exception that excuses nothing at this scale: a candidate for
    # removal once no audited scale needs it
    idle = sorted(n for n, f, _r in rows if not f and n in ALLOW)
    lines = [
        "# PLAN_AUDIT — automated antipattern scan of every harness query",
        "",
        f"{len(rows) + len(bad)} queries scanned at {sf_dir}: "
        f"**{clean} clean**, {len(allowed)} flagged-but-declared "
        f"(k-row or bounded broadcast sides), "
        f"{len(bad)} violations.",
        "",
    ]
    if allowed:
        lines += ["| query | shape | declared reason |", "|---|---|---|"]
        for n, f, r in allowed:
            lines.append(f"| {n} | {', '.join(f)} | {r} |")
        lines.append("")
    lines += [
        f"Allowlisted queries that raised nothing at {sf_dir}: "
        + (", ".join(idle) if idle else "none") + ".",
        "",
    ]
    if bad:
        lines += ["## VIOLATIONS", ""]
        for n, f in bad:
            lines.append(f"- **{n}**: {', '.join(f)}")
    # Full scanned-name appendix: lets the registry≡PLAN_AUDIT pytest
    # invariant assert SET equality, so this report can never again
    # certify a smaller surface than what ships (VERDICT r7 #2).
    lines += ["", "## Scanned queries", ""]
    scanned = sorted([n for n, _f, _r in rows] + [n for n, _f in bad])
    lines += [f"- {n}" for n in scanned]
    body = "\n".join(lines)
    if report_path:
        with open(report_path, "w") as fh:
            fh.write(body + "\n")
        print(f"wrote {report_path}")
    print(
        f"plan audit: {clean} clean / {len(allowed)} declared / {len(bad)} violations"
    )
    print(f"allowlisted but raised nothing: {', '.join(idle) if idle else 'none'}")
    for n, f in bad:
        print(f"  VIOLATION {n}: {', '.join(f)}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

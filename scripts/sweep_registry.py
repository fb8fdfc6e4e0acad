"""Full-registry scale sweep: run EVERY registered
query once, cold, sequentially, at a decade directory (default
testdata_sf10), and record per-query wall seconds + status to JSONL.

The round-4 sweep (then-279 queries, sf1) caught five real defects;
rounds 7-9 added ~40 queries that have only targeted sf10 points. This
sweep gives every registry entry a recorded sf10 execution: a query
that errors, hangs past the timeout (without being a DECLARED exact
baseline), or runs wildly superlinear shows up as a straggler row
rather than staying invisible until a driver run.

Execution sink: the ``noop`` format — full plan execution, nothing
materialized on the driver (a sweep that ``toPandas()``-ed q04's ~13M
sf10 rows would benchmark driver materialization, not the engine).

Timeout: each query runs under its own job group with
``interruptOnCancel``; a watchdog cancels the group at --timeout
seconds and the row records status=timeout. Declared exact baselines
known to exceed any reasonable timeout at sf10 (each with a measured
decade point) are annotated via DECLARED_SLOW so a timeout on
them reads as "declared", not "straggler".

Declared-budget lane: the DECLARED_SLOW entries
burn their full timeout (~67 min of every sweep) proving a documented
fact — each already has a measured decade point and a contract-scale
twin in the registry that the same sweep covers (q34→q35/x327 LSH
twins, x04→x114's 16-bit production banding, ...).
``--declared-budget N`` caps the watchdog for
DECLARED_SLOW queries at N seconds, so a routine sweep spends ~N s
confirming each declared form still *starts* (a plan-build error or
instant crash still surfaces) without re-proving the documented
timeout. Keep one full-fat run (no flag) every few rounds so the
declared decade points themselves stay honest.

Usage:
  python scripts/sweep_registry.py [sf_dir] [--timeout 600]
      [--declared-budget 60]
      [--out SWEEP_sf10.jsonl] [--resume] [--only name ...]
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

try:  # engine import: resolves via `pip install -e .` / `setup.py develop`
    import super_store_datawarehouse_spark  # noqa: F401
except ImportError:  # raw checkout without an editable install
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
else:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in sys.path:
        sys.path.insert(0, root)

from super_store_datawarehouse_spark.session import (
    get_spark,
    release_scoped_caches,
)

import __spark_entry__ as entrymod

# Declared exact/quadratic baselines with an already-recorded sf10
# decade point: a timeout here is the
# documented cost of the declared form, not an undeclared straggler.
DECLARED_SLOW = {
    "q34_embedding_near_dup": "exact GEMM near-dup baseline; sf10 1966s",
    "x318_pq_ivf_hash_fraction": "O(fraction*n^2) IVFADC baseline; sf10 257s",
    "x317_ngram_jaccard_exact": "exact shingle self-join baseline; sf10 measured",
    "x134_pq_refined_topk": (
        "hash-fraction refined codebook (x318's O(fraction*n^2) encode family; "
        "ship config is the capped book: q33/q20 lifecycle)"
    ),
    "x04_simhash_near_pairs": (
        "declared audit-regime banding: the PORTABLE 32-bit signature's 8-bit "
        "chunks give only 256 buckets/band, so candidates are O(n^2/256) — "
        "~2B+ joined pairs at 500k docs even with the round-10 "
        "filter-before-distinct fix; 'the coarser banding is the declared "
        "trade of the auditable variant, the production path keeps 16-bit "
        "chunks' (dedup.simhash_near_pairs docstring). The xxhash64 16-bit-chunk "
        "production path is measured separately."
    ),
    "q35_semantic_dedup_pairs": (
        "declared fixed-k quadratic: the oracle-pinned k=8 puts ~n/8 vectors "
        "per cluster, so the within-cluster exact stage is n^2/8 pairs "
        "(oracle k=8 >22min, contract k=80 runs 65.6s at sf10; "
        "'in a 100 TB deployment k grows with the corpus' — dedup.py docstring)"
    ),
    "x18_stream_dedup": (
        "memory-sink streaming oracle vehicle: dropDuplicatesWithinWatermark "
        "state over 5M sf10 events + full driver materialization is the "
        "oracle contract, not the deployment shape; >1800s at sf10"
    ),
}

# Per-query timeout overrides: the streaming oracle vehicles run a real
# micro-batch stream into a MEMORY sink (driver materialization is the
# oracle contract, not the deployment shape).
TIMEOUT_OVERRIDES = {
    "x18_stream_dedup": 1800.0,
}


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "testdata_sf10"
    timeout_s = 600.0
    declared_budget: float | None = None
    out_path = None
    resume = False
    only: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--timeout":
            timeout_s = float(argv[i + 1]); i += 2
        elif a == "--declared-budget":
            declared_budget = float(argv[i + 1]); i += 2
        elif a == "--out":
            out_path = argv[i + 1]; i += 2
        elif a == "--resume":
            resume = True; i += 1
        elif a == "--only":
            only = argv[i + 1:]; break
        else:
            sf_dir = a; i += 1
    if out_path is None:
        tag = os.path.basename(os.path.normpath(sf_dir))
        out_path = f"SWEEP_{tag}.jsonl"

    done: set[str] = set()
    if resume and os.path.exists(out_path):
        with open(out_path) as fh:
            for line in fh:
                try:
                    done.add(json.loads(line)["query"])
                except (ValueError, KeyError):
                    pass

    spark = get_spark("registry-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    qs = entrymod.queries()
    names = [n for n in sorted(qs) if (not only or n in only) and n not in done]
    print(f"sweeping {len(names)} queries at {sf_dir} "
          f"(timeout {timeout_s:.0f}s, out {out_path})", flush=True)

    mode = "a" if resume else "w"
    fh = open(out_path, mode)
    for idx, name in enumerate(names):
        builder = qs[name]
        row: dict = {"query": name, "sf_dir": sf_dir}
        cancelled = {"flag": False}

        def cancel() -> None:
            cancelled["flag"] = True
            sc.cancelJobGroup(f"sweep:{name}")

        q_timeout = TIMEOUT_OVERRIDES.get(name, timeout_s)
        if declared_budget is not None and name in DECLARED_SLOW:
            # budget lane: a timeout row here means "still running at
            # the budget", already proven at the full timeout by the
            # last full-fat sweep — record the cap so the row reads as
            # budgeted, not as a fresh decade measurement
            q_timeout = min(q_timeout, declared_budget)
            row["budget_sec"] = q_timeout
        watchdog = threading.Timer(q_timeout, cancel)
        # interruptOnCancel=False: thread interrupts can land inside a
        # lock-holding JVM section and take the whole SparkContext down
        # (observed in the first round-10 sweep pass — the x18 stream
        # cancel shut the context and poisoned every later row). Plain
        # cancellation kills tasks at their next check-point instead.
        sc.setJobGroup(f"sweep:{name}", f"registry sweep {name}",
                       interruptOnCancel=False)
        t0 = time.perf_counter()
        watchdog.start()
        try:
            df = builder(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            row["status"] = "ok"
        except Exception as exc:  # noqa: BLE001
            if cancelled["flag"]:
                row["status"] = "timeout"
                if name in DECLARED_SLOW:
                    row["declared"] = DECLARED_SLOW[name]
            else:
                row["status"] = "error"
                row["error"] = f"{type(exc).__name__}: {str(exc)[:400]}"
        finally:
            watchdog.cancel()
            sc.setJobGroup("", "")
            try:
                release_scoped_caches()
            except Exception:  # noqa: BLE001
                pass
        row["wall_sec"] = round(time.perf_counter() - t0, 3)
        if name in DECLARED_SLOW and "declared" not in row:
            row["declared"] = DECLARED_SLOW[name]
        fh.write(json.dumps(row) + "\n")
        fh.flush()
        print(f"[{idx+1}/{len(names)}] {name}: {row['status']} "
              f"{row['wall_sec']}s", flush=True)
    fh.close()

    # summary
    rows = [json.loads(l) for l in open(out_path)]
    oks = sorted((r["wall_sec"] for r in rows if r["status"] == "ok"))
    bad = [r for r in rows if r["status"] == "error"]
    slow = [r for r in rows if r["status"] == "timeout" and "declared" not in r]
    if oks:
        med = oks[len(oks) // 2]
        p95 = oks[min(len(oks) - 1, int(len(oks) * 0.95))]
        print(f"\n{len(oks)} ok  median {med:.1f}s  p95 {p95:.1f}s  "
              f"max {oks[-1]:.1f}s")
    print(f"{len(bad)} errors, {len(slow)} undeclared timeouts")
    for r in bad + slow:
        print("  " + json.dumps(r))
    return 1 if (bad or slow) else 0


if __name__ == "__main__":
    raise SystemExit(main())

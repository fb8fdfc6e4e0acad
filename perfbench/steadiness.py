"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/steadiness.py --workloads etl_build serve_mix --seeds 1-10 \
        --seconds 10 --out .perfbench/steadiness.jsonl

Runs ``run.py`` once per (seed, workload), untraced, from the root of a
checkout, seed by seed so that a slow spell of the machine hits every
workload alike, appends each result line, with the wall-clock timings the run printed on
stderr, to ``--out`` and prints, per workload
and metric, the median of the runs and the spread: the distance between
the first and the third quartile (``statistics.quantiles(values, n=4)``)
as a share of the median. ``--report`` prints the table again from an
existing ``--out`` file without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WALL = ("first_pass_s", "op_p50_s")


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def report(path: str) -> None:
    runs: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            rec = json.loads(line)
            runs.setdefault(rec["workload"], []).append(rec)
    for w, recs in runs.items():
        ok = sum(r["result"]["correct"] for r in recs)
        print(f"\n{w}: {len(recs)} runs, {ok} correct, seeds "
              f"{sorted(r['seed'] for r in recs)}")
        print(f"  {'metric':<20} {'median':>12} {'spread':>8} {'min':>12} {'max':>12}")
        rows = {k: [r["result"]["metrics"][k]["value"] for r in recs]
                for k in recs[0]["result"]["metrics"]}
        if all("timings" in r for r in recs):  # wall-clock timings from stderr
            rows.update({f"{k} (wall)": [r["timings"][k] for r in recs] for k in WALL})
        for k, v in rows.items():
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4) if len(v) >= 2 else [med, med, med]
            print(f"  {k:<20} {med:>12.4f} {(q[2] - q[0]) / med:>8.3f} "
                  f"{min(v):>12.4f} {max(v):>12.4f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+", default=[])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out", required=True)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args()
    if not args.report:
        for seed in seeds(args.seeds):
            for w in args.workloads:
                cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                       "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"]
                p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                   text=True)
                if p.returncode != 0:
                    print(f"{w} seed {seed}: exit code {p.returncode}", file=sys.stderr)
                    continue
                result = json.loads(p.stdout.strip().splitlines()[-1])
                line = [x for x in p.stderr.splitlines() if x.startswith("timings ")][-1]
                rec = {"workload": w, "seed": seed, "result": result,
                       "timings": json.loads(line.split(" ", 1)[1])}
                with open(args.out, "a") as f:
                    f.write(json.dumps(rec) + "\n")
    report(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())

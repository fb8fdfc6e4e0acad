"""Superstore-spark benchmark: one workload per run, one JSON line out.

    python3 perfbench/run.py --workload etl_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the root of a checkout. The package under test is imported from
that checkout; inputs are generated from ``--seed`` into ``.perfbench/``
there, and everything Spark writes stays under the same directory. The
load is this single process: ``local[<cores>]`` and one client thread in
a closed loop (the next operation starts when the previous one returned).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (Spark UI on, spans written to
``.perfbench/traces/``). ``--workload all`` runs every workload untraced
and traced and prints a table of every metric, ``error_rate`` and the
tracing overhead. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

from tracing import Tracer, engine_totals, fetch_stages, tree_cpu_s, tree_peak_rss_mb  # noqa: E402

import workloads as wl_mod  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEMORY = "2g"

# The wall-clock timings (first_pass_s, op_p50_s) are not end-to-end
# metrics: on a shared host the hypervisor's steal stretches them by up
# to three quarters for minutes at a time, while CPU time moves far less
# (README.md, STEADINESS.md). Every run prints them on stderr; the traced
# run reports them as per-layer metrics.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}
WALL = ("first_pass_s", "op_p50_s")

LAYERS = ("session", "sources", "warehouse", "plans", "operators", "streaming")
ENGINE = {
    "stages": "count", "tasks": "count", "input_mb": "MB",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "executor_cpu_s": "s", "gc_s": "s", "driver_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    from super_store_datawarehouse_spark.plans.superstore_queries import SUPERSTORE_QUERIES

    units = {
        "session.start_s": "s",
        "session.restart_s": "s",
        "sources.read_s": "s",
        "sources.scan_amplification": "ratio",
        "warehouse.ingest.merge_s": "s",
        "warehouse.build_s": "s",
        **{f"warehouse.write.{t}_s": "s" for t in wl_mod.TABLES},
        "warehouse.files_written": "count",
        "warehouse.write_mb": "MB",
        "warehouse.storage_ratio": "ratio",
        "plans.analyze_s": "s",
        "plans.execute_s": "s",
    }
    for q in sorted(SUPERSTORE_QUERIES):
        units[f"plans.{q}.sql_s"] = "s"
        units[f"plans.{q}.df_s"] = "s"
    units.update({
        f"operators.{wl_mod.OPERATOR}_s": "s",
        "streaming.upserts_s": "s",
        "streaming.upserts.batch_s": "s",
        "streaming.batches": "count",
        "streaming.files_written": "count",
        "streaming.state_mb": "MB",
    })
    units.update({f"spark.{k}": u for k, u in ENGINE.items()})
    units.update({f"self.{layer}_s": "s" for layer in LAYERS})
    units["process.peak_rss_mb"] = "MB"
    units.update({f"trace.{k}": "s" for k in (*WALL, "cpu_s_per_op", "op_tail_s")})
    return units


def spark_env(work_dir: str) -> dict[str, str]:
    """Environment that keeps every file Spark and its JVMs write under
    ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    return dict(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        # every JVM (the launcher too): temp files here, no /tmp/hsperfdata,
        # and C1 only. With C2 the JVM is still compiling minutes into a
        # run, its compiler threads take about half of the process's CPU
        # on 4 cores, and how far they have got makes pass times swing
        # from run to run (first_pass_s of serve_mix: quartile spread
        # 0.14 over ten seeds with C2, 0.05 with C1 only).
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}",
    )


def start_spark(conf: dict[str, str]):
    """get_spark plus a first action: the session is ready to serve."""
    from super_store_datawarehouse_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the driver JVM (and anything it started)
    to exit."""
    from pyspark import SparkContext

    pids = set(_descendants())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.data_dir = os.path.join(WORK, "data")
        self.work_dir = os.path.join(WORK, f"run-{os.getpid()}")
        os.environ.update(spark_env(self.work_dir))
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedTasks": "1000",
        }
        # The first run in a checkout, of whichever workload, builds the
        # warehouse serve_mix reads. It does so in a separate process, so
        # that the ETL's JVM and JIT state never leak into a measured one,
        # and outside any later run's time limit.
        info, wh = wl_mod.serve_warehouse(self.data_dir)
        if not os.path.isdir(wh):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--build-warehouse", info.path, wh],
                stdout=sys.stderr, check=True, timeout=600,
            )
        self.workload = wl_mod.WORKLOADS[workload](self)

    def run_op(self, op) -> wl_mod.Outcome:
        t = time.perf_counter()
        try:
            with self.tracer.span(op.name):
                result = op.call()
            error = None
        except Exception as e:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            result, error = None, repr(e)
        return wl_mod.Outcome(op.name, op.pass_no, time.perf_counter() - t, result, error,
                              ok=error is None)

    def run(self) -> dict:
        w, tr = self.workload, self.tracer
        t = time.perf_counter()
        with tr.span("session.start"):
            spark = start_spark(self.conf)
        cold_s = time.perf_counter() - t
        if self.trace:
            tr.listen_streams(spark)
        w.ready(spark)

        # Pass 0 runs in the fresh JVM and gives first_pass_s. A workload
        # that serves warm (w.warm) takes it as its warm-up and measures
        # the passes after it; the others measure from pass 0. Either way
        # whole passes run until --seconds have elapsed since the measured
        # part began, at least one, so every run measures the same mix of
        # operations.
        first = int(w.warm)  # first measured pass
        outcomes: list[wl_mod.Outcome] = []
        pass_no = 0
        while pass_no <= first or time.monotonic() < deadline:
            if pass_no == first:
                cpu0 = tree_cpu_s()
                self.measure_start = time.time()
                deadline = time.monotonic() + self.seconds
            outcomes.extend(self.run_op(op) for op in w.cycle(spark, pass_no))
            pass_no += 1
        self.measure_end = time.time()
        cpu_s = tree_cpu_s() - cpu0
        first_pass_s = sum(o.latency_s for o in outcomes if o.pass_no == 0)
        measured = [o for o in outcomes if o.pass_no >= first]
        rss_mb = tree_peak_rss_mb()
        stages = fetch_stages(spark) if self.trace else []
        w.check(spark, outcomes)
        failed = sum(1 for o in outcomes if not o.ok)

        # Set-ups come after the passes, in the warm JVM: right after the
        # cold start the JIT is still compiling, and set-ups timed there
        # swing with it from run to run.
        setups = []
        for _ in range(SETUPS):
            spark.stop()
            t = time.perf_counter()
            with tr.span("session.restart"):
                spark = start_spark(self.conf)
            w.ready(spark)
            setups.append(time.perf_counter() - t)

        for o in outcomes:
            if not o.ok:
                print(f"FAILED {o.name} pass {o.pass_no}: {o.error or 'wrong result'}",
                      file=sys.stderr)

        lat = sorted(o.latency_s for o in measured)
        n = len(lat)
        # Highest percentile with 10 samples beyond it; below 20 samples
        # that would fall under the median, so the maximum stands in.
        tail_i = n - 11 if n >= 20 else n - 1
        timings = {
            "setup_s": statistics.median(setups),
            "first_pass_s": first_pass_s,
            "op_p50_s": statistics.median(lat),
            "cpu_s_per_op": cpu_s / n,
        }
        print(
            f"{w.name}: {n} ops measured in passes {first}-{pass_no - 1}; "
            f"op_tail_s {lat[tail_i]:.3f} s is p{100 * (tail_i + 1) / n:.1f} with "
            f"{n - 1 - tail_i} samples beyond it; cold session start {cold_s:.2f} s",
            file=sys.stderr,
        )
        print(f"timings {json.dumps(timings)}", file=sys.stderr)
        if self.trace:
            tr.attach_stages(stages, since=self.measure_start)
            metrics = self.layer_metrics(n, layer=w.layer_metrics())
            metrics["process.peak_rss_mb"] = rss_mb
            metrics["trace.op_tail_s"] = lat[tail_i]
            for k in (*WALL, "cpu_s_per_op"):
                metrics[f"trace.{k}"] = timings[k]
            tr.write(os.path.join(WORK, "traces", f"{w.name}-s{self.seed}-{tr.run_id}.jsonl"))
            units = per_layer_units()
        else:
            metrics, units = timings, END_TO_END
        w.cleanup()
        stop_spark(spark)
        shutil.rmtree(self.work_dir, ignore_errors=True)
        return {
            "correct": failed == 0,
            "attempted": len(outcomes),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }

    def layer_metrics(self, n: int, layer: dict) -> dict[str, float]:
        tr = self.tracer
        names = per_layer_units()
        out = dict.fromkeys(names, 0.0)

        def spans(name, measured=False):
            return [s for s in tr.spans if s["name"] == name
                    and (not measured or self.measure_start <= s["start"] < self.measure_end)]

        def med(name, measured=False):
            d = [s["end"] - s["start"] for s in spans(name, measured)]
            return statistics.median(d) if d else 0.0

        measured_roots = [s for s in tr.spans
                          if s["parent"] is None and self.measure_start <= s["start"] < self.measure_end]
        out["session.start_s"] = med("session.start")
        out["session.restart_s"] = med("session.restart")
        out["sources.read_s"] = med("sources.read")
        out["warehouse.ingest.merge_s"] = med("warehouse.ingest.merge")
        # operations and their child spans: medians over the measured passes
        out["warehouse.build_s"] = med("warehouse.build", measured=True)
        for key in names:
            if key.startswith(("warehouse.write.", "plans.", "operators.")) and key.endswith("_s"):
                out[key] = med(key[: -len("_s")], measured=True)
        replays = spans("streaming.upserts", measured=True)
        out["streaming.upserts_s"] = med("streaming.upserts", measured=True)
        trig = [t for s in replays for t in s.get("triggers", [])]
        out["streaming.upserts.batch_s"] = statistics.median(trig) if trig else 0.0
        out["streaming.batches"] = len(trig) / max(len(replays), 1)
        passes = n / self.workload.ops_per_pass
        out.update(layer)
        eng = engine_totals(tr, [s["id"] for s in measured_roots])
        for k in ENGINE:
            out[f"spark.{k}"] = eng[k] / n
        # Stage input bytes per pass of the ETL (over the CSV) or of the
        # dashboard queries (over the warehouse parquet).
        if self.workload.name == "etl_build":
            in_mb, base = eng["input_mb"], self.workload.info.csv_bytes
        else:
            plans = [s["id"] for s in measured_roots if s["name"].startswith("plans.")]
            in_mb, base = engine_totals(tr, plans)["input_mb"], layer["warehouse.write_mb"] * 2**20
        out["sources.scan_amplification"] = in_mb * 2**20 / passes / base
        selfs = tr.self_times()
        for s in tr.spans:
            layer_name = s["name"].split(".", 1)[0]
            if layer_name in LAYERS:
                out[f"self.{layer_name}_s"] += selfs[s["id"]]
        return out


def _descendants() -> list[int]:
    from tracing import _tree

    return [p for p in _tree(os.getpid()) if p != os.getpid()]


def build_warehouse_main(csv_path: str, out: str) -> int:
    work_dir = os.path.join(WORK, f"build-{os.getpid()}")
    os.environ.update(spark_env(work_dir))
    spark = start_spark({
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    try:
        wl_mod.build_warehouse_dir(spark, csv_path, out)
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced then traced: a table of every metric."""
    rc = 0
    for name in wl_mod.WORKLOADS:
        res, wall = {}, {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr)
                print(f"{name} trace={trace}: exit code {p.returncode}")
                rc = 1
                continue
            res[trace] = json.loads(p.stdout.strip().splitlines()[-1])
            if trace == 0:
                line = [x for x in p.stderr.splitlines() if x.startswith("timings ")][-1]
                wall = json.loads(line.split(" ", 1)[1])
        if 0 not in res:
            continue
        r = res[0]
        print(f"\n== {name} (seed {seed}, {seconds} s)")
        print(f"  {'error_rate':<36} {r['failed'] / r['attempted']:>14.6g} ratio"
              f"  ({r['failed']} of {r['attempted']} operations)")
        for k, m in r["metrics"].items():
            print(f"  {k:<36} {m['value']:>14.6g} {m['unit']}")
        for k in WALL:
            print(f"  {k + ' (wall clock)':<36} {wall[k]:>14.6g} s")
        if 1 in res:
            t = res[1]["metrics"]
            print(f"  {'tracing overhead (op_p50_s)':<36} "
                  f"{t['trace.op_p50_s']['value'] - wall['op_p50_s']:>14.6g} s")
            for k, m in t.items():
                print(f"  {k:<36} {m['value']:>14.6g} {m['unit']}")
        rc |= not r["correct"]
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*wl_mod.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-warehouse", nargs=2, metavar=("CSV", "DIR"), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "super_store_datawarehouse_spark")):
        print(f"run from the root of a superstore-spark checkout: no package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.build_warehouse:
        return build_warehouse_main(*args.build_warehouse)
    if None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    result = Bench(args.workload, args.seed, args.seconds, bool(args.trace)).run()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Measurement plumbing: spans, Spark stage counters and /proc readings.

Spans are recorded by the benchmark around its calls into the package
(never inside it), kept in memory and written out once at the end of a
traced run. Engine counters come from the Spark monitoring REST API of
the live SparkContext: each completed stage is attributed to the
innermost span whose interval holds the stage's submission time.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import urllib.request
import uuid
from datetime import datetime, timezone

# REST StageData field -> (span counter, scale)
STAGE_COUNTERS = {
    "inputBytes": ("input_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "numCompleteTasks": ("tasks", 1),
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id); inert when off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.triggers: list[tuple[float, float]] = []  # (start, seconds)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it covered by child spans."""
        kids = self.children()
        return {
            s["id"]: (s["end"] - s["start"])
            - _covered([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
            for s in self.spans
        }

    def listen_streams(self, spark) -> None:
        """Record the start and duration of every streaming trigger."""
        from pyspark.sql.streaming import StreamingQueryListener

        triggers = self.triggers

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                triggers.append((start.replace(tzinfo=timezone.utc).timestamp(),
                                 p.durationMs.get("triggerExecution", 0) / 1000))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(Listener())

    def attach_stages(self, stages: list[dict], since: float) -> None:
        """Add stage counters to the innermost span (started at or after
        ``since``) holding each stage's submission time, and record the
        stage intervals for ``driver_s``; add each streaming trigger's
        duration to the streaming span it ran in."""
        spans = [s for s in self.spans if s["start"] >= since and s["end"] is not None]
        for st in stages:
            sub = _epoch(st.get("submissionTime"))
            end = _epoch(st.get("completionTime"))
            if sub is None or end is None:
                continue
            holders = [s for s in spans if s["start"] - 0.002 <= sub <= s["end"] + 0.002]
            if not holders:
                continue
            s = max(holders, key=lambda h: h["start"])
            c = s.setdefault("counters", {"stages": 0})
            c["stages"] += 1
            for field, (name, scale) in STAGE_COUNTERS.items():
                c[name] = c.get(name, 0) + st.get(field, 0) * scale
            s.setdefault("stage_intervals", []).append((sub, end))
        for start, seconds in self.triggers:
            holders = [s for s in spans if s["name"].startswith("streaming.")
                       and s["start"] - 0.002 <= start <= s["end"]]
            if holders:
                holders[-1].setdefault("triggers", []).append(seconds)

    def subtree(self, span_id: int) -> list[dict]:
        kids = self.children()
        out, todo = [], [span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(k["id"] for k in kids.get(sid, []))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def engine_totals(tracer: Tracer, root_ids: list[int]) -> dict[str, float]:
    """Sum of stage counters over the subtrees of ``root_ids``, plus
    ``driver_s``: root span time during which none of its stages ran."""
    tot = {"stages": 0.0, "driver_s": 0.0, **{n: 0.0 for n, _ in STAGE_COUNTERS.values()}}
    for rid in root_ids:
        root = tracer.spans[rid]
        intervals = []
        for s in tracer.subtree(rid):
            for k, v in s.get("counters", {}).items():
                tot[k] += v
            intervals.extend(s.get("stage_intervals", []))
        tot["driver_s"] += (root["end"] - root["start"]) - _covered(intervals, root["start"], root["end"])
    return tot


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _epoch(stamp: str | None) -> float | None:
    # REST timestamps look like 2026-01-02T03:04:05.678GMT
    if not stamp:
        return None
    t = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=timezone.utc).timestamp()


def fetch_stages(spark, settle_s: float = 15.0) -> list[dict]:
    """All stages of the live application from the monitoring REST API,
    once the status store has caught up (no active stage, count stable)."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    deadline = time.monotonic() + settle_s
    prev = None
    while True:
        with urllib.request.urlopen(url, timeout=10) as r:
            stages = json.load(r)
        n_done = sum(1 for s in stages if s.get("status") == "COMPLETE")
        active = any(s.get("status") == "ACTIVE" for s in stages)
        if (not active and n_done == prev) or time.monotonic() > deadline:
            return [s for s in stages if s.get("status") == "COMPLETE"]
        prev = n_done
        time.sleep(0.3)


# ---------------------------------------------------------------------------
# /proc readings over this process and every descendant (the driver JVM
# that PySpark launches and the Python workers it forks).
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    total_kb = 0
    for pid in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024

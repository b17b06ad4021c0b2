"""Measurement instruments, all reading the program from outside.

- load sentinel: ambient cores and 1-min loadavg, by bench.py's method;
- peak RSS of this process tree (Python, the Spark JVM, its Python workers);
- spans (the traced run only), kept in memory and written at exit;
- Spark job/stage statistics for a job group, from the status REST API;
- hooks that wrap the program's caching and sink entry points.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager

# --- load sentinel (same method as bench.py _cpu_snapshot/_ambient_cores) ---

# Average cores burned by processes outside this tree above which a run
# is flagged as measured on a loaded box (bench.py AMBIENT_CORES_MAX).
AMBIENT_CORES_MAX = 1.0
# Average cores the hypervisor gave to other guests above which a run is
# flagged: runs with ~0.7 stolen cores took twice as long as their peers.
STEAL_CORES_MAX = 0.25


def _proc_table() -> list[tuple[int, int, int]]:
    """(pid, ppid, utime+stime jiffies) for every process in /proc."""
    procs = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                st = fh.read()
        except OSError:  # raced a process exit
            continue
        rest = st[st.rindex(")") + 2 :].split()
        # utime + stime + the same of children it reaped, so a Spark
        # worker that exits mid-run still counts as this tree's
        procs.append((int(pid), int(rest[1]), sum(int(x) for x in rest[11:15])))
    return procs


def _tree(procs: list[tuple[int, int, int]]) -> set[int]:
    tree = {os.getpid()}
    grew = True
    while grew:
        grew = False
        for pid, ppid, _ in procs:
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def tree_pids() -> set[int]:
    """This process and all its descendants."""
    return _tree(_proc_table())


def cpu_snapshot() -> tuple[int, int, int]:
    """(busy jiffies of the box, jiffies of this process tree, jiffies
    stolen by the hypervisor)."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    busy = sum(vals[:8]) - vals[3] - vals[4] - vals[7]  # minus idle, iowait, steal
    procs = _proc_table()
    tree = _tree(procs)
    return busy, sum(j for pid, _, j in procs if pid in tree), vals[7]


def ambient_cores(snap0: tuple, snap1: tuple, wall_s: float) -> tuple[float, float]:
    """Average cores used by OTHER processes, and stolen by the
    hypervisor for other guests, between two snapshots."""
    tck = os.sysconf("SC_CLK_TCK") * max(wall_s, 1e-9)
    other = max(0, (snap1[0] - snap0[0]) - (snap1[1] - snap0[1]))
    return round(other / tck, 2), round((snap1[2] - snap0[2]) / tck, 2)


def loadavg1() -> float:
    return round(os.getloadavg()[0], 2)


# --- memory ---------------------------------------------------------------


def tree_rss_mb() -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Samples the process tree's RSS on a background thread; ``peak_mb``
    is the largest sample between ``start`` and ``stop``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
        return self.peak_mb


# --- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, span id, parent id, run id.

    ``enabled`` is switched per pass; a disabled tracer records nothing."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_time(self, span: dict) -> float:
        """Span duration minus the part of it its children cover."""
        covered, last_end = 0.0, span["start"]
        for c in sorted(self.children(span["id"]), key=lambda s: s["start"]):
            lo, hi = max(c["start"], last_end), min(c["end"], span["end"])
            if hi > lo:
                covered += hi - lo
                last_end = hi
        return (span["end"] - span["start"]) - covered

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s["id"]))
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# --- Spark status ---------------------------------------------------------


def _parse_ts(s: str | None) -> float | None:
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class SparkStatus:
    """Job and stage statistics for a job group, read from the Spark UI's
    status REST API after the listener bus has drained."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group_stats(self, group: str) -> dict:
        """Jobs, their wall intervals and task metrics of ``group``."""
        jobs = [self._get(f"/jobs/{j}") for j in sorted(self.sc.statusTracker().getJobIdsForGroup(group))]
        stats = {"jobs": len(jobs), "intervals": [], "tasks": 0, "failed_tasks": 0,
                 "task_busy_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for job in jobs:
            t0, t1 = _parse_ts(job.get("submissionTime")), _parse_ts(job.get("completionTime"))
            if t0 is not None and t1 is not None:
                stats["intervals"].append((t0, t1))
            for sid in job["stageIds"]:
                try:
                    attempts = self._get(f"/stages/{sid}?details=false")
                except OSError:  # stage never ran (skipped and not retained)
                    continue
                for st in attempts:
                    if st["status"] == "SKIPPED":
                        continue
                    stats["tasks"] += st["numCompleteTasks"]
                    stats["failed_tasks"] += st["numFailedTasks"]
                    stats["task_busy_s"] += st["executorRunTime"] / 1000
                    stats["shuffle_write_mb"] += st["shuffleWriteBytes"] / 1e6
                    stats["spill_mb"] += (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6
        return stats

    def resident_mb(self) -> float:
        """Memory held by cached and checkpointed RDD blocks."""
        return sum(i.memSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / 1e6


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        lo = max(lo, end)
        if hi > lo:
            total += hi - lo
            end = hi
    return total


# --- hooks on the program's caching and sink entry points -----------------


def install_hooks(tracer: Tracer) -> None:
    """Wrap ``caching.flat_checkpoint``, ``caching.owned_persist`` (in
    every loaded module of the package that imported them) and
    ``ParquetWarehouseSink.write``, so that each call becomes a span while
    the tracer is enabled. Disabled, the wrappers only forward."""
    from airbnb_pyspark_jobs_spark import caching
    from airbnb_pyspark_jobs_spark.sources.sinks import ParquetWarehouseSink

    def wrap(fn, span_name: str):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    for attr in ("flat_checkpoint", "owned_persist"):
        orig = getattr(caching, attr)
        wrapper = wrap(orig, f"caching.{attr}")
        for name, mod in list(sys.modules.items()):
            if name.startswith("airbnb_pyspark_jobs_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
    ParquetWarehouseSink.write = wrap(ParquetWarehouseSink.write, "sinks.write")

"""Measurement helpers: spans, Spark job counts, process memory and CPU
from /proc, JVM GC time, the Spark event log, and the fixed-cost host
probe.

Spans and values stay in memory and are written out when the run ends.
A disabled ``Tracer`` records nothing, so the untraced run pays only a
context-manager call per span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TAIL_PCT = 75          # the reported tail percentile (see README.md)


def pct(values: list[float], p: int) -> float:
    """Percentile, linearly interpolated between the two nearest samples,
    so a tail over few samples does not jump between neighbours."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent) plus named values."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) hangs under
        # whatever the main thread is waiting in
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        rec = {"name": name, "parent": parent,
               "start": time.perf_counter() - self.t0}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self.t0
            self.add(name, rec["end"] - rec["start"])

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            with self._lock:
                self.values[name].append(value)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "values": self.values}, f)


class JobCounter:
    """Spark jobs per call, from job groups plus the status tracker."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.sc = spark.sparkContext
        self.tracer = tracer
        self._n = 0

    @contextmanager
    def group(self, metric: str):
        """Run the body in a fresh job group; record its job count."""
        if not self.tracer.enabled:
            yield
            return
        self._n += 1
        gid = f"{metric}#{self._n}"
        self.sc.setJobGroup(gid, metric)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.tracer.add(metric, len(
                self.sc.statusTracker().getJobIdsForGroup(gid)))

    def in_group(self, gid: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))


# ---------------------------------------------------------------------------
# /proc: memory and CPU of this process plus its children (the JVM)

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    out = [pid]
    i = 0
    while i < len(out):
        for task in glob.glob(f"/proc/{out[i]}/task/*/children"):
            try:
                with open(task) as f:
                    out.extend(int(c) for c in f.read().split())
            except OSError:
                pass
        i += 1
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_seconds() -> float:
    """User + system CPU of this process tree."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except OSError:
            pass
    return total / _TICK


class RssSampler:
    """Peak resident memory of this process tree, sampled on a thread."""

    def __init__(self, interval: float = 0.05) -> None:
        self.interval = interval
        self.peak = 0
        self.peak_by_pid: dict[str, int] = {}     # at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            # this process and its JVMs; a child forked by the JVM to run
            # a command briefly shares the JVM's pages and is skipped
            sizes = {p: _rss_bytes(p) for p in _descendants(me)
                     if p == me or _comm(p) == "java"}
            total = sum(sizes.values())
            if total > self.peak:
                self.peak = total
                self.peak_by_pid = {f"{_comm(p)}:{p}": n
                                    for p, n in sizes.items()}
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# Spark event log (traced run only)

def event_log_totals(log_dir: str, since_ms: float, until_ms: float,
                     group_prefix: str) -> dict[str, float]:
    """Sum the CPU time and shuffle bytes of the tasks of jobs submitted
    in [since_ms, until_ms] whose job group starts with ``group_prefix``."""
    stage_group: dict[int, str] = {}
    stage_in_window: set[int] = set()
    cpu_ns = shuffle = 0
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    t = ev.get("Submission Time", 0)
                    group = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                        if since_ms <= t <= until_ms:
                            stage_in_window.add(sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    if sid not in stage_in_window:
                        continue
                    m = ev.get("Task Metrics") or {}
                    if stage_group.get(sid, "").startswith(group_prefix):
                        cpu_ns += m.get("Executor CPU Time", 0)
                        shuffle += (m.get("Shuffle Write Metrics") or {}) \
                            .get("Shuffle Bytes Written", 0)
    return {"cpu_s": cpu_ns / 1e9, "shuffle_mb": shuffle / 2 ** 20}


def jvm_gc_seconds(spark) -> float:
    """Collection time so far of the JVM, which in local mode runs the
    driver and every task."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0)
               for b in mx.getGarbageCollectorMXBeans()) / 1e3


# ---------------------------------------------------------------------------
# host drift probe

CALIBRATION_ROWS = 1_000_000
CALIBRATION_PARTS = 8


def calibration_probe(spark) -> float:
    """Fixed CPU + shuffle work whose cost depends only on the host: a
    fixed row count hashed and aggregated at a fixed partition count."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, CALIBRATION_ROWS, 1, CALIBRATION_PARTS)
     .select((F.xxhash64(F.col("id")) % 997).alias("k"),
             F.col("id").alias("v"))
     .repartition(CALIBRATION_PARTS, "k")
     .groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0

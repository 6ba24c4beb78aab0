"""Measurement helpers: spans around the program's public functions, Spark
counters from the event log, leak counters, process memory and a host
calibration probe.

Spans are recorded from the benchmark's own files by replacing a public
function or method with a timing wrapper for the duration of the traced
phase; the program's code is not edited.
"""

from __future__ import annotations

import bisect
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np


def tail_percentile(n: int) -> int:
    """The highest of p90/p75/p50 with at least ten samples beyond it."""
    for q in (90, 75):
        if n * (100 - q) / 100 >= 10:
            return q
    return 50


class Tracer:
    """Per-name busy time and call durations of wrapped callables.

    A call nested inside another call recorded under the same name is not
    counted again, so ``fit`` inside ``fit`` is one span."""

    def __init__(self):
        self.seconds: dict[str, float] = defaultdict(float)
        self.durations: list[float] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _active(self) -> dict[str, int]:
        if not hasattr(self._local, "depth"):
            self._local.depth = defaultdict(int)
        return self._local.depth

    def wrap(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr]
        is_static = isinstance(original, staticmethod)
        fn = original.__func__ if is_static else original
        tracer = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            depth = tracer._active()
            depth[name] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                depth[name] -= 1
                if depth[name] == 0:
                    took = time.perf_counter() - t0
                    with tracer._lock:
                        tracer.seconds[name] += took
                        tracer.durations.append(took)

        setattr(owner, attr, staticmethod(timed) if is_static else timed)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def total(self, *names: str) -> float:
        return sum(self.seconds.get(n, 0.0) for n in names)


@contextmanager
def patched(tracer: Tracer, targets: list[tuple[object, str, str]]):
    for owner, attr, name in targets:
        tracer.wrap(owner, attr, name)
    try:
        yield tracer
    finally:
        tracer.restore()


def event_log_conf(event_dir: str) -> dict[str, str]:
    """Plain-JSON, single-file event log (Spark rolls and compresses it by
    default)."""
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def spark_counters(event_dir: str, windows: list[tuple[float, float]], cores: int) -> dict:
    """Jobs, stages, tasks, CPU, GC, shuffle and spill of the work that
    started inside one of ``windows`` (disjoint, epoch milliseconds)."""
    windows = sorted(windows)
    starts = [w[0] for w in windows]

    def inside(t: float) -> bool:
        i = bisect.bisect_right(starts, t) - 1
        return i >= 0 and t <= windows[i][1]

    c = defaultdict(float)
    for path in glob.glob(os.path.join(event_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if inside(ev.get("Submission Time", 0)):
                        c["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if inside(info.get("Submission Time", 0)):
                        c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    m = ev.get("Task Metrics") or {}
                    c["tasks"] += 1
                    c["cpu_ns"] += m.get("Executor CPU Time", 0)
                    c["run_ms"] += m.get("Executor Run Time", 0)
                    c["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    c["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    wall_s = max(1e-9, sum(e - s for s, e in windows) / 1000.0)
    mb = 1024.0 * 1024.0
    return {
        "spark.jobs": c["jobs"],
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.executor_cpu_s": c["cpu_ns"] / 1e9,
        "spark.executor_run_s": c["run_ms"] / 1000.0,
        "spark.cpu_util": c["cpu_ns"] / 1e9 / (wall_s * cores),
        "spark.gc_s": c["gc_ms"] / 1000.0,
        "spark.shuffle_read_mb": c["shuffle_read"] / mb,
        "spark.shuffle_write_mb": c["shuffle_write"] / mb,
        "spark.spill_mb": c["spill"] / mb,
    }


def leak_counters(spark) -> dict:
    """RDDs still persisted and the storage they hold."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return {
        "spark.persisted_rdds_after": float(jsc.getPersistentRDDs().size()),
        "spark.cached_mb_after": held / (1024.0 * 1024.0),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the JVM child."""
    kb = _vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)
    return kb / 1024.0


def calibrate(spark) -> float:
    """Fixed-size numpy and Spark work; its time moves with the host, not
    with the program."""
    t0 = time.perf_counter()
    a = np.random.default_rng(0).random(2_000_000)
    for _ in range(3):
        np.sort(a)
    spark.range(4_000_000).selectExpr("sum(id * id % 7) AS s").collect()
    return time.perf_counter() - t0

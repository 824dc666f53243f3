"""Measurement tools of the benchmark: spans, event-log windows, PSS, steal.

* `Spans` records one span per call into a layer (name, start, end,
  parent) in memory; `self_times` subtracts the part of each span its
  children cover.
* `task_windows` parses an uncompressed Spark event log and sums task,
  CPU, GC, shuffle-write and spill figures over wall-clock windows.
* `PssSampler` samples the proportional set size of this process's
  descendants (the driver JVM and its Python workers) on a thread.
* `cpu_steal` reads the steal share from /proc/stat between two readings;
  it is reported beside a run, never as a metric.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Spans:
    """In-memory span recorder. Times are wall-clock seconds
    (`time.time()`), the clock Spark stamps on its events."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's
        intervals (children of one parent never overlap here: calls are
        sequential)."""
        out = {}
        for s in self.spans:
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
            )
            out[s["id"]] = (s["end"] - s["start"]) - kids
        return out


def task_windows(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict:
    """Sum task metrics of the event log(s) under `log_dir` per window.

    A task belongs to a window when it launched inside it; a job, when
    it was submitted inside it. Returns, per window name: jobs, tasks,
    task_s (executor run time), cpu_s, gc_s, shuffle_write_mb, spill_mb
    (memory + disk bytes spilled)."""
    out = {
        k: {"jobs": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        for k in windows
    }
    ms = {k: (a * 1000.0, b * 1000.0) for k, (a, b) in windows.items()}

    def owners(t_ms):
        return [k for k, (a, b) in ms.items() if a <= t_ms <= b]

    # Spark 4 writes a rolling log: a directory of events_<n>_* files
    for path in sorted(Path(log_dir).rglob("events_*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info = ev.get("Task Info") or {}
                    met = ev.get("Task Metrics") or {}
                    for k in owners(info.get("Launch Time", 0)):
                        o = out[k]
                        o["tasks"] += 1
                        o["task_s"] += met.get("Executor Run Time", 0) / 1e3
                        o["cpu_s"] += met.get("Executor CPU Time", 0) / 1e9
                        o["gc_s"] += met.get("JVM GC Time", 0) / 1e3
                        sw = met.get("Shuffle Write Metrics") or {}
                        o["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                        o["spill_mb"] += (
                            met.get("Memory Bytes Spilled", 0)
                            + met.get("Disk Bytes Spilled", 0)
                        ) / 2**20
                elif '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    for k in owners(ev.get("Submission Time", 0)):
                        out[k]["jobs"] += 1
    return out


def _children(pid: int) -> list[int]:
    """Direct children of `pid` (the kernel's per-thread children lists)."""
    kids: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids += [int(x) for x in fh.read().split()]
            except OSError:
                pass
    except OSError:
        pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += _children(p)
    return out


def pss_mb(pids) -> float:
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass  # the process ended between listing and reading
    return total_kb / 1024.0


class PssSampler:
    """Peak PSS (MB) of this process's descendants, sampled every
    `interval` seconds on a daemon thread between `start()` and `stop()`."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0.0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._halt.is_set():
            self.peak = max(self.peak, pss_mb(descendants(me)))
            self._halt.wait(self.interval)

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._halt.set()
        self._thread.join(timeout=10)
        return self.peak


def cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def cpu_steal(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings
    (field 8 of the aggregate cpu line)."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    return d[7] / total

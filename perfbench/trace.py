"""Spans, counters, process-tree memory and Spark event-log accounting.

Spans are recorded from the benchmark's side, around calls into the
engine's public functions. With tracing off a span still measures its
own wall time (the end-to-end metrics need it) but records nothing and
tags no Spark jobs.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._groups: list[str] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        """Time a block. ``layer`` tags the Spark jobs started inside it
        (job group) when tracing; ``out["s"]`` holds the wall seconds."""
        out: dict = {}
        rec = None
        if self.enabled:
            rec = {"id": len(self.spans), "name": name,
                   "parent": self._stack[-1] if self._stack else None}
            self.spans.append(rec)
            self._stack.append(rec["id"])
            if layer is not None and self.spark is not None:
                self._groups.append(layer)
                self.spark.sparkContext.setJobGroup(layer, name)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            t1 = time.perf_counter()
            out["s"] = t1 - t0
            if rec is not None:
                rec["start"], rec["end"] = t0, t1
                self._stack.pop()
                if layer is not None and self.spark is not None:
                    self._groups.pop()
                    if self._groups:
                        self.spark.sparkContext.setJobGroup(self._groups[-1], name)
                    else:
                        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counters[name] = value

    def layer_wall(self, layer_prefix: str) -> float:
        """Summed wall seconds of top-most spans whose name starts with
        ``layer_prefix`` (nested spans of the same layer count once)."""
        total = 0.0
        by_id = {s["id"]: s for s in self.spans}
        for s in self.spans:
            if not s["name"].startswith(layer_prefix) or "end" not in s:
                continue
            p = s["parent"]
            nested = False
            while p is not None:
                if by_id[p]["name"].startswith(layer_prefix):
                    nested = True
                    break
                p = by_id[p]["parent"]
            if not nested:
                total += s["end"] - s["start"]
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counters": self.counters}, f)


# -- memory ------------------------------------------------------------------

def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (/proc)."""
    children = defaultdict(list)
    rss = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            pid = int(stat.split("/")[2])
            children[int(fields[1])].append(pid)
            rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, ValueError, IndexError):
            continue
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Polls the process tree's RSS; ``peak_mb()`` since the last reset."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self._peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            kb = _tree_rss_kb(root)
            with self._lock:
                self._peak = max(self._peak, kb)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self._peak = _tree_rss_kb(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            self._peak = max(self._peak, _tree_rss_kb(os.getpid()))
            return self._peak / 1024.0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- Spark event log ------------------------------------------------------------

def scheduler_metrics(event_dir: str, layers: list[str], walls: dict[str, float],
                      cores: int) -> dict[str, float]:
    """Per job group: jobs, tasks, shuffle MB written, spill MB and core
    utilisation (summed task run time / (layer wall x cores))."""
    stage_group: dict[int, str] = {}
    jobs = defaultdict(int)
    tasks = defaultdict(int)
    run_ms = defaultdict(float)
    shuffle = defaultdict(float)
    spill = defaultdict(float)
    paths = [os.path.join(d, f) for d, _, files in os.walk(event_dir) for f in files]
    for path in paths:
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group in layers:
                        jobs[group] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics") or {}
                    if group is None or not m:
                        continue
                    tasks[group] += 1
                    run_ms[group] += m.get("Executor Run Time", 0)
                    shuffle[group] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    spill[group] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
    out = {}
    for layer in layers:
        wall = walls.get(layer, 0.0)
        out[f"{layer}.jobs"] = jobs[layer]
        out[f"{layer}.tasks"] = tasks[layer]
        out[f"{layer}.shuffle_write_mb"] = shuffle[layer] / 2**20
        out[f"{layer}.spill_mb"] = spill[layer] / 2**20
        out[f"{layer}.core_util"] = run_ms[layer] / 1000.0 / (wall * cores) if wall > 0 else 0.0
    return out

"""Spans, Spark job counts, process-tree memory and the host sentinel.

Spans are recorded by the benchmark around its own calls into the engine's
public functions; nothing inside the engine is instrumented. Each span runs
its Spark jobs under a job group of its own, so job and task counts come
from ``SparkContext.statusTracker()``, which works with the UI off. Counts
are resolved when the run ends, after Spark's listener bus has caught up.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    """In-memory spans: name, start, end, parent span and request id."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0  # time spent in this class's own bookkeeping

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request or (parent["request"] if parent else name),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def resolve_counts(self) -> None:
        """Fill each span's own ``jobs`` and ``tasks`` (completed tasks of
        the stages its jobs ran)."""
        tracker = self.sc.statusTracker()
        for rec in self.spans:
            jobs = tracker.getJobIdsForGroup(f"perfbench-{rec['id']}")
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = tracker.getStageInfo(s)
                    tasks += stage.numCompletedTasks if stage else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks

    def _children(self) -> dict[int, list[dict]]:
        kids: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                kids.setdefault(rec["parent"], []).append(rec)
        return kids

    def totals(self, rec: dict, key: str) -> int:
        """``key`` ("jobs" or "tasks") summed over a span and its descendants."""
        kids = self._children()
        stack, total = [rec], 0
        while stack:
            r = stack.pop()
            total += r[key]
            stack.extend(kids.get(r["id"], ()))
        return total

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of duration minus the time its children
        cover (children of one span never overlap: calls are sequential)."""
        kids = self._children()
        out: dict[str, float] = {}
        for rec in self.spans:
            covered = sum(k["end"] - k["start"] for k in kids.get(rec["id"], ()))
            out[rec["name"]] = out.get(rec["name"], 0.0) + (rec["end"] - rec["start"] - covered)
        return out

    def top_level(self, name: str) -> list[dict]:
        return [r for r in self.spans if r["parent"] is None and r["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def process_tree() -> list[int]:
    """This process and every process it started, directly or not."""
    return [os.getpid(), *_descendants(os.getpid())]


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.1)
    return alive


def host_sentinel() -> float:
    """Seconds of a fixed single-thread numpy workload shaped like the SaaT
    kernel (gather, scatter-add, top-k select), with no Spark involved. A
    slow host reads slow here too, so it tells host noise from engine
    changes; it is evidence beside the metrics, never a metric."""
    rng = np.random.default_rng(12345)
    ids = rng.integers(0, 1 << 20, size=1 << 19).astype(np.int64)
    vals = rng.integers(1, 1024, size=1 << 19).astype(np.int16)
    t0 = time.perf_counter()
    acc = np.zeros(1 << 20, dtype=np.int32)
    for _ in range(4):
        np.add.at(acc, ids, vals)
        hits = np.nonzero(acc)[0]
        top = hits[np.argpartition(acc[hits], -10)[-10:]]
        acc[hits] = 0
        _ = top.sum()
    return time.perf_counter() - t0

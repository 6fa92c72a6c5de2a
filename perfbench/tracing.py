"""Spans around the calls into each engine layer, plus host counters.

Spans (name, start, end, parent) are kept in memory and written as one
JSON file when the run ends.  A span's name is ``<layer>.<call>``; a
layer's self time is the time its spans cover minus the part their
child spans cover.  With tracing off ``span`` does nothing, so the
untraced run pays no tracing cost.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

LAYERS = ("bench", "session", "sources", "plans.tokenize", "textproc", "indexer",
          "codec", "searcher", "wand", "incremental")


def layer_of(name: str) -> str:
    for layer in sorted(LAYERS, key=len, reverse=True):
        if name.startswith(layer + "."):
            return layer
    raise ValueError(f"span {name!r} names no known layer")


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        layer_of(name)
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer (every layer, 0 when idle)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out = dict.fromkeys(LAYERS, 0.0)
        for s, covered in zip(self.spans, child_time):
            out[layer_of(s["name"])] += (s["end"] - s["start"]) - covered
        return out

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as fh:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in self.spans], fh)


def cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies over all cpus from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (f + [0] * 8)[:8]
    return user + nice + system + irq + softirq, steal, sum(f[:8])


class HostPhases:
    """Steal and busy share of the host's cpu time per named phase."""

    def __init__(self) -> None:
        self.phases: dict[str, dict] = {}
        self._open: dict[str, tuple[int, int, int]] = {}

    def begin(self, name: str) -> None:
        self._open[name] = cpu_times()

    def end(self, name: str) -> None:
        b0, s0, t0 = self._open.pop(name)
        b1, s1, t1 = cpu_times()
        total = max(1, t1 - t0)
        self.phases[name] = {"steal_pct": 100.0 * (s1 - s0) / total,
                             "cpu_busy_frac": (b1 - b0) / total}


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class JobCounter:
    """Spark jobs and tasks started by a call, read from the status
    tracker (outside the engine) under a job group per call."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self, out: dict):
        self._n += 1
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self.sc.setJobGroup(gid, "perfbench")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else ()):
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
            out["jobs"] = len(jobs)
            out["tasks"] = tasks

"""Spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent, the CPU the process tree used
while it was open, and the Spark jobs and tasks launched while it was
the innermost open span. Jobs are attributed through a Spark job group
per span, read back from the status tracker when the span closes.
Spans stay in memory; ``Tracer.write`` dumps them as one JSON file.

``NullTracer`` has the same interface and records nothing: untraced
runs, which give the end-to-end metrics, go through it.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from harness import tree_cpu_seconds


class NullTracer:
    enabled = False
    phase = "setup"

    @contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        # setup | warmup | timed | check — per-layer medians use the
        # timed phase wherever a layer ran in it
        self.phase = "setup"

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def _jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        ids = st.getJobIdsForGroup(group)
        tasks = 0
        for j in ids:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                stage = st.getStageInfo(s)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(ids), tasks

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"perfbench-span-{len(self.spans)}",
            "phase": self.phase,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        cpu0 = tree_cpu_seconds()
        rec["start_ms"] = (time.perf_counter() - self._t0) * 1000.0
        try:
            yield rec
        finally:
            rec["end_ms"] = (time.perf_counter() - self._t0) * 1000.0
            rec["cpu_ms"] = (tree_cpu_seconds() - cpu0) * 1000.0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            rec["jobs"], rec["tasks"] = self._jobs_and_tasks(rec["group"])

    def write(self, path: str, extra: dict) -> None:
        add_self_times(self.spans)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


def add_self_times(spans: list[dict]) -> None:
    """self_ms = duration minus the part of it the span's children
    cover (children of one span may not overlap in a single-threaded
    driver, but the union is taken anyway)."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = c["start_ms"], c["end_ms"]
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        s["self_ms"] = (s["end_ms"] - s["start_ms"]) - covered


def named(spans: list[dict], name: str) -> list[dict]:
    """The spans called ``name``: those of the timed phase when the
    layer ran there, else all of them (set-up-only layers)."""
    mine = [s for s in spans if s["name"] == name]
    timed = [s for s in mine if s["phase"] == "timed"]
    return timed or mine


def median_of(spans: list[dict], name: str, key: str = "self_ms") -> float:
    """Median of ``key`` over ``named(spans, name)``; 0 when the
    workload never entered that layer."""
    vals = [s[key] for s in named(spans, name)]
    return float(statistics.median(vals)) if vals else 0.0

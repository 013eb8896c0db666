"""Measurement primitives: percentiles with a sample-count rule, peak RSS
from ``/proc``, a span tracer with self-time arithmetic, and Spark job
accounting by job group.

Nothing here imports Spark; the job counter takes a ``SparkContext``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

# A percentile is reported only when at least this many samples lie beyond it.
SAMPLES_BEYOND = 10


def min_samples_for(q: float) -> int:
    """Fewest samples for which the ``q`` percentile (0 < q < 100) has at
    least ``SAMPLES_BEYOND`` samples above it."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    return math.ceil(SAMPLES_BEYOND * 100 / (100 - q) - 1e-9)


def percentile(values: list[float], q: float) -> float | None:
    """Nearest-rank ``q`` percentile, or ``None`` when the sample is too
    small for it (fewer than ``min_samples_for(q)`` values)."""
    if len(values) < min_samples_for(q):
        return None
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1]


def p50(values: list[float]) -> float | None:
    """Median, or ``None`` below ``min_samples_for(50)`` samples."""
    if len(values) < min_samples_for(50):
        return None
    return statistics.median(values)


def summarize(values: list[float]) -> dict:
    """Median plus the highest of p99, p95, p90 that the sample supports,
    with the sample count."""
    out = {"n": len(values)}
    if values:
        out["p50"] = statistics.median(values)
    for q in (99, 95, 90):
        if len(values) >= min_samples_for(q):
            out[f"p{q}"] = percentile(values, q)
            break
    return out


# --------------------------------------------------------------------------
# peak resident memory
# --------------------------------------------------------------------------

def vm_hwm_kb(pid: int | str = "self", proc_root: str = "/proc") -> int:
    """Peak resident set size (``VmHWM``) of ``pid`` in kB."""
    with open(os.path.join(proc_root, str(pid), "status")) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                parts = line.split()
                if len(parts) < 2 or (len(parts) > 2 and parts[2] != "kB"):
                    raise ValueError(f"unexpected VmHWM line: {line!r}")
                return int(parts[1])
    raise ValueError(f"no VmHWM in /proc/{pid}/status")


def peak_rss_mb(pids, proc_root: str = "/proc") -> float:
    """Sum of the peak RSS of ``pids`` in MiB."""
    return sum(vm_hwm_kb(p, proc_root) for p in pids) / 1024.0


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans: name, start, end, parent span and operation id.

    Disabled tracers hand out no spans and cost one branch per call.
    Spans nest by the caller's ``with`` blocks (single thread)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_op = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent]["op"] if parent is not None else self._op()
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "op": op, "start": 0.0, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - b0
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            b1 = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def _op(self) -> int:
        self._next_op += 1
        return self._next_op

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")


def layer_of(name: str) -> str:
    """Default span → layer rule: the span-name prefix before the first dot."""
    return name.split(".", 1)[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → duration minus the part of its interval its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - _covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def layer_self_times(spans: list[dict], layer=layer_of) -> dict[str, float]:
    """Layer name → summed self time in seconds."""
    out: dict[str, float] = {}
    by_id = {s["id"]: s for s in spans}
    for sid, t in self_times(spans).items():
        layer_name = layer(by_id[sid]["name"])
        out[layer_name] = out.get(layer_name, 0.0) + t
    return out


def coverage(spans: list[dict], parent_id: int) -> float:
    """Share of a span's interval covered by its children."""
    p = next(s for s in spans if s["id"] == parent_id)
    kids = [(s["start"], s["end"]) for s in spans if s["parent"] == parent_id]
    dur = p["end"] - p["start"]
    return _covered(kids, p["start"], p["end"]) / dur if dur > 0 else 1.0


# --------------------------------------------------------------------------
# Spark job accounting (job group per call)
# --------------------------------------------------------------------------

class JobCounter:
    """Counts the Spark jobs and tasks a call runs, by setting a job group
    on the calling thread around it and reading ``statusTracker()``.

    Jobs started from other threads (a streaming query's micro-batches)
    do not inherit the group and are not counted."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self._seq = 0
        self.bookkeeping_s = 0.0

    @contextmanager
    def group(self, name: str):
        """Yields a dict that holds ``jobs`` and ``tasks`` after the block."""
        out = {"jobs": 0, "tasks": 0}
        if not self.enabled:
            yield out
            return
        b0 = time.perf_counter()
        self._seq += 1
        gid = f"perfbench-{self._seq}-{name}"
        self.sc.setJobGroup(gid, name)
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield out
        finally:
            b1 = time.perf_counter()
            tracker = self.sc.statusTracker()
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    stage = tracker.getStageInfo(sid)
                    tasks += stage.numTasks if stage else 0
            out["jobs"], out["tasks"] = len(jobs), tasks
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.bookkeeping_s += time.perf_counter() - b1

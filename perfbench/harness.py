"""Op recording, spans and summary statistics shared by the workloads.

One closed-loop client runs one op at a time.  An op is one call into
the package's public functions; its answer check runs after the timer
stops.  An exception or a wrong answer marks the op failed; the run goes
on.
"""

from __future__ import annotations

import gc
import itertools
import math
import os
import statistics
import sys
import time
import traceback


class Tracer:
    """In-memory spans: name, start, end (epoch s) and parent id.  An op
    span's id is also the Spark job group of the jobs the op launches."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def start(self, name: str, parent: str | None = None,
              job_group: bool = False) -> dict:
        span = {"id": f"s{next(self._ids)}", "name": name, "parent": parent,
                "start": time.time(), "end": None}
        if job_group:
            self.spark.sparkContext.setJobGroup(span["id"], name)
        self.spans.append(span)
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()

    def self_times(self) -> None:
        """Self time = span duration minus the union of its children."""
        kids: dict[str, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for s in self.spans:
            s["self_s"] = (s["end"] - s["start"]) - union_seconds(
                kids.get(s["id"], []))


class Recorder:
    """Runs ops, times them and keeps one record per op."""

    def __init__(self, spark):
        self.spark = spark
        self.tracer: Tracer | None = None
        self.ops: list[dict] = []
        self.phase: dict | None = None  # the enclosing span when traced
        self.phase_name = "run"

    def run(self, kind: str, name: str, call, check=None,
            raw_bytes: int = 0):
        """Time `call()`; then `check(result)` must return True.  Returns
        the call's result, or None when the call raised."""
        # collect garbage in the driver's Python and JVM first, so no op
        # pays for the previous one's (or its answer check's) garbage
        gc.collect()
        self.spark._jvm.System.gc()
        span = (self.tracer.start(f"op:{name}",
                                  self.phase["id"] if self.phase else None,
                                  job_group=True)
                if self.tracer else None)
        t0 = time.perf_counter()
        error, result = None, None
        try:
            result = call()
        except Exception:  # a failed op is counted, never fatal
            error = traceback.format_exc(limit=4)
        seconds = time.perf_counter() - t0
        if span is not None:
            self.tracer.end(span)
        ok = error is None
        if ok and check is not None:
            cspan = (self.tracer.start("check", span["id"])
                     if self.tracer else None)
            try:
                ok = bool(check(result))
                if not ok:
                    error = "wrong answer"
            except Exception:
                ok, error = False, traceback.format_exc(limit=4)
            if cspan is not None:
                self.tracer.end(cspan)
        if error:
            print(f"[perfbench] {kind} op {name} failed: {error}",
                  file=sys.stderr)
        stats = result[1] if (isinstance(result, tuple) and len(result) == 2
                              and isinstance(result[1], dict)) else (
            result if isinstance(result, dict) else None)
        self.ops.append({"kind": kind, "name": name, "seconds": seconds,
                         "ok": ok, "error": error, "raw_bytes": raw_bytes,
                         "stats": stats, "phase": self.phase_name,
                         "span": span["id"] if span else None})
        return result

    def of(self, kind: str, phase: str = "run") -> list[dict]:
        """Successful ops of one kind and phase."""
        return [o for o in self.ops
                if o["kind"] == kind and o["phase"] == phase and o["ok"]]


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def tail(values: list[float]) -> tuple[float, int, int]:
    """Highest percentile with at least ten samples above it, as
    (value, percentile, sample count).  With fewer than eleven samples
    no percentile has ten above it; such runs report the 90th
    percentile interpolated between samples, which unlike the maximum
    does not rest on one sample."""
    n = len(values)
    if n == 0:
        return 0.0, 90, 0
    ordered = sorted(values)
    if n < 11:
        if n == 1:
            return ordered[0], 90, 1
        return statistics.quantiles(ordered, n=10,
                                    method="inclusive")[-1], 90, n
    pct = math.floor(100 * (n - 10) / n)
    rank = max(1, math.ceil(pct / 100 * n))  # nearest-rank percentile
    return ordered[rank - 1], pct, n


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0

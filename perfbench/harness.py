"""Closed-loop call harness: times each public call, checks it outside
the timed region, and — when tracing — attributes Spark work to it.

One client issues one call at a time; the next call starts only after
the previous result was forced. Timing stops before any check runs.
"""

from __future__ import annotations

import gc
import itertools
import os
import statistics
import sys
import time
import traceback

import procstat
from capture import StatusCapture

LAYERS = ("io", "dataset", "functions", "split", "evaluation", "operators", "pipeline")
LAYER_METRICS = {
    "calls": "count",
    "wall_s": "s",
    "build_s": "s",
    "action_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "eager_jobs": "count",
    "tasks": "count",
    "exec_run_s": "s",
    "exec_cpu_s": "s",
    "cpu_util": "ratio",
    "shuffle_mb": "MB",
    "pyworker_s": "s",
    "cache_left": "count",
    "failed": "count",
}
EXTRA_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "io.written_mb": "MB",
    "io.files_written": "count",
}


class CallFailed(Exception):
    """A call raised; the rest of the pass depends on it and is skipped."""


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


class Harness:
    def __init__(self, spark, sampler: procstat.RssSampler, trace: bool):
        self.spark = spark
        self.sampler = sampler
        self.capture = StatusCapture(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self.pass_rec: dict | None = None

    # ------------------------------------------------------------ passes
    def begin_pass(self, label: str) -> None:
        self.pass_rec = {
            "label": label,
            "calls": [],
            "digests": [],
            "written_mb": 0.0,
            "files_written": 0,
            "span_id": next(self._ids),
            "start": time.time(),
        }
        self.sampler.take_peak()

    def end_pass(self) -> dict:
        rec = self.pass_rec
        rec["end"] = time.time()
        rec["peak_rss_mb"] = self.sampler.take_peak()
        rec["wall_s"] = sum(c["wall_s"] for c in rec["calls"])
        rec["cpu_s"] = sum(c["cpu_s"] for c in rec["calls"])
        if self.capture:
            self._cache_left(rec)
            self.spans.append(
                {"trace_id": rec["label"], "span_id": rec["span_id"], "parent_id": None,
                 "name": "pass", "start": rec["start"], "end": rec["end"]}
            )
        self.spark.catalog.clearCache()
        self.pass_rec = None
        return rec

    def _cache_left(self, rec: dict) -> None:
        """After the pass's frames are dropped, count the CacheManager
        entries each call left behind."""
        gc.collect()
        left = self.capture.cache_entries()
        for c in rec["calls"]:
            c["cache_left"] = len(c.pop("cache_new", set()) & left)

    # ------------------------------------------------------------- calls
    def call(self, name: str, build, force):
        """Issue ``build()``, force its result with ``force(obj)``; return
        (obj, forced result). Raises :class:`CallFailed` if either raises."""
        rec = {"name": name, "layer": name.split(".")[0], "failed": 0}
        self.attempted += 1
        cap = self.capture
        if cap:
            before = cap.cache_entries()
            j0 = cap.mark()
        pids = procstat.tree_pids()
        cpu0 = procstat.tree_cpu_s(pids)
        e0 = time.time()
        self.sampler.active = True
        t0 = time.perf_counter()
        try:
            obj = build()
            t1 = time.perf_counter()
            j1 = cap.mark() if cap else 0
            res = force(obj)
            t2 = time.perf_counter()
        except Exception:
            self.sampler.active = False
            self.failed += 1
            print(f"[perfbench] {name} raised:", file=sys.stderr)
            traceback.print_exc()
            rec["failed"] = 1
            self.pass_rec["calls"].append(rec | {"wall_s": 0.0, "build_s": 0.0, "action_s": 0.0, "cpu_s": 0.0})
            raise CallFailed(name) from None
        self.sampler.active = False
        rec.update(
            wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1,
            cpu_s=procstat.tree_cpu_s(procstat.tree_pids()) - cpu0,
            start=e0, end=e0 + (t2 - t0),
        )
        if cap:
            self._attribute(rec, cap, j0, j1, before)
        self.pass_rec["calls"].append(rec)
        return obj, res

    def _attribute(self, rec: dict, cap: StatusCapture, j0: int, j1: int, before: set) -> None:
        w = cap.window(j0, j1, cap.mark())
        spans = w.pop("job_spans")
        rec.update(w)
        rec["cache_new"] = cap.cache_entries() - before
        intervals = [(s["start"], s["end"]) for s in spans if s["start"] and s["end"]]
        rec["driver_s"] = max(0.0, rec["wall_s"] - _covered(intervals, rec["start"], rec["end"]))
        sid = next(self._ids)
        self.spans.append(
            {"trace_id": self.pass_rec["label"], "span_id": sid, "parent_id": self.pass_rec["span_id"],
             "name": rec["name"], "start": rec["start"], "end": rec["end"],
             "build_s": rec["build_s"], "action_s": rec["action_s"], "driver_s": rec["driver_s"]}
        )
        for s in spans:
            self.spans.append(
                {"trace_id": self.pass_rec["label"], "span_id": next(self._ids), "parent_id": sid,
                 "name": f"spark.job.{s['job_id']}", "start": s["start"], "end": s["end"],
                 "status": s["status"]}
            )

    def check(self, name: str, ok: bool) -> None:
        """Record a wrong result of the last ``name`` call."""
        if not ok:
            self.failed += 1
            print(f"[perfbench] wrong result from {name}", file=sys.stderr)
            for c in reversed(self.pass_rec["calls"]):
                if c["name"] == name:
                    c["failed"] = 1
                    break

    def digest(self, key: str, value) -> None:
        self.pass_rec["digests"].append((key, repr(value)))

    def written(self, path: str) -> None:
        for root, _, files in os.walk(path):
            for f in files:
                self.pass_rec["files_written"] += 1
                self.pass_rec["written_mb"] += os.path.getsize(os.path.join(root, f)) / 2**20


# ----------------------------------------------------------------- metrics
def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ten samples above it; the maximum if there are too few."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0
    k = n - 11
    return v[k], 100.0 * (k + 1) / n


def layer_metrics(passes: list[dict]) -> dict[str, float]:
    """Per-layer metrics: per-pass sums, median over the passes."""
    per_pass = []
    for p in passes:
        agg = {}
        for layer in LAYERS:
            calls = [c for c in p["calls"] if c["layer"] == layer]
            m = {k: float(sum(c.get(k, 0) for c in calls)) for k in LAYER_METRICS if k not in ("calls", "cpu_util")}
            m["calls"] = float(len(calls))
            m["cpu_util"] = m["exec_cpu_s"] / m["exec_run_s"] if m["exec_run_s"] > 0 else 0.0
            for k, v in m.items():
                agg[f"{layer}.{k}"] = v
        agg["io.written_mb"] = p["written_mb"]
        agg["io.files_written"] = float(p["files_written"])
        per_pass.append(agg)
    return {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}

"""Traced-run instrumentation: spans around the calls into each layer and
Spark's own event log.

Spans are recorded from the benchmark's side only. ``Tracer.wrap``
replaces a public function or method of the program for the duration of
the run and puts the original back in ``restore``; no program file is
touched. Spark is lazy, so a span measures what a call does eagerly;
executor-side cost is attributed from the event log (see ``spark_metrics``).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time
from collections import Counter


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float]] = []
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def record(self, name: str, t0: float, t1: float) -> None:
        with self._lock:
            self.spans.append((name, t0, t1))

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    def wrap(self, owner, attr: str, name, before=None) -> None:
        """Record a span named ``name`` (a string, or a function of the
        call's arguments) around every call of ``owner.attr``; ``before``
        sees the arguments first."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if before is not None:
                before(*args, **kwargs)
            t0 = time.time()
            try:
                out = orig(*args, **kwargs)
            except Exception as e:
                tracer.count(f"{label}.errors.{type(e).__name__}")
                raise
            finally:
                tracer.record(label, t0, time.time())
            return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def reset(self) -> None:
        """Forget what set-up recorded; the wrappers stay installed."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1 in self.spans if n == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def windows(self, name: str) -> list[tuple[float, float]]:
        return [(t0, t1) for n, t0, t1 in self.spans if n == name]


def eventlog_conf(log_dir: str) -> dict:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _latest_log(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    return max(files, key=os.path.getmtime)


def union_length(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    busy, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy


def spark_metrics(
    log_dir: str,
    window: tuple[float, float],
    cores: int,
    batch_windows: list[tuple[float, float]] | None = None,
    udf_window: tuple[float, float] | None = None,
) -> dict:
    """Engine metrics from the event log of the session that ran the
    measurement, over tasks launched inside ``window`` (epoch seconds).

    - ``scorer.stage_s``: executor run time of stages whose operators
      include ``MapInPandas`` — the scorer's Arrow tag and passage UDFs
      (the only mapInPandas stages of the indexer paths), restricted to
      ``udf_window`` when given.
    - ``pipeline.jobs_per_batch`` / ``pipeline.idle_frac``: jobs submitted
      inside, and share of time with no task running inside, the
      ``batch_windows`` (the wrapped ``process_batch`` calls).
    """
    lo, hi = window[0] * 1000, window[1] * 1000
    stage_scopes: dict[int, set] = {}
    job_submit: list[float] = []
    tasks = []
    with open(_latest_log(log_dir)) as log:
        events = [json.loads(line) for line in log]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted" or kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            scopes = stage_scopes.setdefault(info["Stage ID"], set())
            for rdd in info.get("RDD Info", []):
                scope = rdd.get("Scope")
                if scope:
                    scopes.add(json.loads(scope).get("name", ""))
        elif kind == "SparkListenerJobStart":
            if lo <= ev["Submission Time"] <= hi:
                job_submit.append(ev["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            if not lo <= ti["Launch Time"] <= hi:
                continue
            tm = ev.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "stage": ev["Stage ID"],
                    "launch": ti["Launch Time"],
                    "finish": ti["Finish Time"],
                    "failed": bool(ti.get("Failed")) or ev.get("Task End Reason", {}).get("Reason") != "Success",
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "gc_ms": tm.get("JVM GC Time", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "shuffle_w": sw.get("Shuffle Bytes Written", 0),
                }
            )
    wall_s = max(1e-9, window[1] - window[0])
    cpu_s = sum(t["cpu_ns"] for t in tasks) / 1e9
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    skews = [
        max(v) / max(1.0, statistics.median(v)) for v in by_stage.values() if len(v) >= 4
    ]
    u_lo, u_hi = (udf_window[0] * 1000, udf_window[1] * 1000) if udf_window else (lo, hi)
    udf_ms = sum(
        t["run_ms"]
        for t in tasks
        if "MapInPandas" in stage_scopes.get(t["stage"], ()) and u_lo <= t["launch"] <= u_hi
    )
    out = {
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_util": cpu_s / (wall_s * cores),
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000,
        "spark.shuffle_write_mb": sum(t["shuffle_w"] for t in tasks) / 2**20,
        "spark.spill_mb": sum(t["spill"] for t in tasks) / 2**20,
        "spark.task_skew": max(skews, default=1.0),
        "spark.tasks_failed": sum(t["failed"] for t in tasks),
        "spark.jobs": len(job_submit),
        "spark.idle_frac": 1 - union_length([(t["launch"], t["finish"]) for t in tasks]) / (wall_s * 1000),
        "scorer.stage_s": udf_ms / 1000,
    }
    if batch_windows:
        in_batch = [
            s for s in job_submit if any(a * 1000 <= s <= b * 1000 for a, b in batch_windows)
        ]
        batch_ms = sum((b - a) * 1000 for a, b in batch_windows)
        busy_ms = sum(
            union_length(
                [
                    (max(t["launch"], a * 1000), min(t["finish"], b * 1000))
                    for t in tasks
                    if t["finish"] > a * 1000 and t["launch"] < b * 1000
                ]
            )
            for a, b in batch_windows
        )
        out["pipeline.jobs_per_batch"] = len(in_batch) / len(batch_windows)
        out["pipeline.idle_frac"] = 1 - busy_ms / max(1e-9, batch_ms)
    return out

"""Spans recorded around layer calls, and Spark's own metrics.

Spans are recorded only from the benchmark's files: around the calls
it makes into the engine, and around engine functions it wraps by
replacing the module attribute the caller looks up (the engine's
source is never edited). Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from datetime import datetime


class Tracer:
    """In-memory span recorder. Each span: name, start, end, parent
    span id and the id of the benchmark job it belongs to."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.job: int | None = None
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "job": self.job,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Record a span around every call of ``module.attr`` made
        through that module attribute, until :meth:`unwrap`."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._restore.append((module, attr, fn))
        setattr(module, attr, traced)

    def unwrap(self) -> None:
        while self._restore:
            module, attr, fn = self._restore.pop()
            setattr(module, attr, fn)

    def _closed(self, name: str, job: int | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and s["end"] is not None
            and (job is None or s["job"] == job)
        ]

    def busy(self, name: str, job: int | None = None) -> float:
        return sum(s["end"] - s["start"] for s in self._closed(name, job))

    def calls(self, name: str, job: int | None = None) -> int:
        return len(self._closed(name, job))

    def self_time(self, name: str, job: int | None = None) -> float:
        """Span time of ``name`` minus the time its direct children cover."""
        total = 0.0
        for s in self._closed(name, job):
            kids = [c for c in self.spans if c["parent"] == s["id"] and c["end"]]
            total += (s["end"] - s["start"]) - sum(
                c["end"] - c["start"] for c in kids
            )
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class NullTracer:
    """Stand-in for :class:`Tracer` in untraced runs: records nothing."""

    job: int | None = None

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


def _ts(s: str) -> float:
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_total(value: str) -> float:
    """Total of a SQL metric as the UI renders it: either a bare number
    ("12,345"), or "total (min, med, max ...)\\n12.3 MiB (...)"."""
    line = value.split("\n")[-1].strip().split(" (")[0].replace(",", "")
    parts = line.split()
    if len(parts) == 2 and parts[1] in _SIZE:
        return float(parts[0]) * _SIZE[parts[1]]
    return float(parts[0])


class SparkRest:
    """Reads stage and SQL metrics from the Spark UI's REST API of the
    running application (UI enabled on localhost in traced runs only)."""

    def __init__(self, sc) -> None:
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _jobs(self, group: str) -> list[dict]:
        # the UI's listener is asynchronous: wait until it has seen
        # every job of the group finish
        deadline = time.time() + 10
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.1)

    def group_metrics(self, group: str, wall_s: float) -> dict:
        """Engine metrics of every Spark job run under ``group``."""
        jobs = self._jobs(group)
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in self._get("/stages")
            if s["stageId"] in ids and s["status"] in ("COMPLETE", "FAILED")
        ]
        spans = [
            (_ts(s["submissionTime"]), _ts(s["completionTime"]))
            for s in stages
            if "submissionTime" in s and "completionTime" in s
        ]
        job_ids = {j["jobId"] for j in jobs}
        sql = [
            e for e in self._get("/sql?details=true&planDescription=false&length=1000000")
            if job_ids.intersection(
                e.get("successJobIds", []) + e.get("failedJobIds", [])
                + e.get("runningJobIds", [])
            )
        ]
        py_rows = py_bytes = 0.0
        for e in sql:
            for node in e.get("nodes", []):
                if not node["nodeName"].startswith("ArrowEvalPython"):
                    continue
                for m in node.get("metrics", []):
                    if m["name"] == "number of output rows":
                        py_rows += _metric_total(m["value"])
                    elif m["name"] == "data sent to Python workers":
                        py_bytes += _metric_total(m["value"])
        return {
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ) / 2**20,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "failed_tasks": sum(s["numFailedTasks"] for s in stages),
            "jobs": len(jobs),
            "driver_gap_s": wall_s - _union_s(spans),
            "python_rows": py_rows,
            "python_mb_sent": py_bytes / 2**20,
        }

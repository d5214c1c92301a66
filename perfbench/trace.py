"""In-memory spans around the benchmark's calls into each layer, plus the
Spark counters of the jobs those calls launched.

Spans record wall-clock (epoch) start and end so they line up with the
job submission times the Spark UI reports.  Jobs are attributed to the
innermost span open at their submission time: jobs launched from pooled
threads inside a query carry no job-group tag, so time is the only key
that reaches them all.  Counters come from the Spark driver's local UI
REST API (``/jobs``, ``/stages``).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone
from urllib.parse import urlparse

from .stats import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise, so
    the timed runs and the traced run execute the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), float("nan"), parent, attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_time(span: Span, spans: list[Span]) -> float:
    """A span's duration minus the part of it its children cover."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.id
    ]
    return span.duration - union_length([k for k in kids if k[1] > k[0]])


def attribute(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """Map span id -> jobs whose submission time falls inside it, each job
    going to the innermost (latest-starting) such span."""
    out: dict[int, list[dict]] = {}
    for job in jobs:
        best = None
        for s in spans:
            if s.start <= job["submit"] <= s.end and (
                best is None or s.start >= best.start
            ):
                best = s
        if best is not None:
            out.setdefault(best.id, []).append(job)
    return out


def jobs_within(span: Span, spans: list[Span], owned: dict[int, list[dict]]) -> list[dict]:
    """Jobs attributed to ``span`` or any span nested under it."""
    ids, frontier = {span.id}, [span.id]
    while frontier:
        kids = [s.id for s in spans if s.parent in frontier]
        ids.update(kids)
        frontier = kids
    return [j for i in ids for j in owned.get(i, [])]


def driver_gap(span: Span, jobs: list[dict]) -> float:
    """Span wall time not covered by any of its jobs' run intervals."""
    iv = [
        (max(j["submit"], span.start), min(j["end"], span.end)) for j in jobs
    ]
    return span.duration - union_length([i for i in iv if i[1] > i[0]])


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_rows",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def counters(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Sum the completed stages of ``jobs`` (a stage shared by two jobs,
    or skipped because its output was reused, counts once or not at
    all)."""
    seen = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    st = [stages[sid] for sid in seen]
    return {
        "jobs": float(len(jobs)),
        "stages": float(len(st)),
        "tasks": float(sum(s["numCompleteTasks"] for s in st)),
        "executor_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
        "input_rows": float(sum(s["inputRecords"] for s in st)),
        "shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in st)),
        "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in st)),
        "spill_bytes": float(
            sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st)
        ),
    }


def _epoch(ts: str) -> float:
    # the UI reports e.g. "2026-01-01T12:00:00.123GMT"
    return (
        datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


class SparkRest:
    """Reader for the running application's UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def snapshot(self) -> tuple[list[dict], dict[int, dict]]:
        """(jobs, completed stages by id) once the UI has caught up with
        every finished job (its listener runs asynchronously)."""
        deadline = time.time() + 10
        last = -1
        while True:
            raw = self._get("jobs")
            done = all(j["status"] != "RUNNING" for j in raw)
            if (done and len(raw) == last) or time.time() > deadline:
                break
            last = len(raw)
            time.sleep(0.2)
        jobs = [
            {
                "jobId": j["jobId"],
                "submit": _epoch(j["submissionTime"]),
                "end": _epoch(j.get("completionTime", j["submissionTime"])),
                "stageIds": j["stageIds"],
            }
            for j in raw
            if "submissionTime" in j
        ]
        stages = {
            s["stageId"]: s
            for s in self._get("stages?status=complete")
        }
        return jobs, stages

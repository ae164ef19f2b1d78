"""Benchmark-side tracing: spans around every public call the
benchmark makes, and Spark's event log attributed to those spans.

Spans are kept in memory (name, start, end, parent, run id) and
written out when the run ends. Spark jobs are attributed to spans by
submission time, not by job group: streaming micro-batch threads and
the store-commit thread pool do not inherit the caller's job group, so
only the time window places their jobs.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float           # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = Span(
            len(self.spans), name, time.time(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id, attrs=dict(attrs),
        )
        self.spans.append(sp)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (e.g. a streaming batch from
        its progress event), under the currently open span."""
        if self.enabled:
            self.spans.append(Span(
                len(self.spans), name, start, end,
                parent=self._stack[-1] if self._stack else None,
                run_id=self.run_id, attrs=dict(attrs),
            ))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == span.id]
        return span.duration - _covered(kids, span.start, span.end)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Job:
    id: int
    submit: float           # epoch seconds
    end: float = 0.0
    description: str = ""
    stages: list[int] = field(default_factory=list)
    ran_stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    #: SQL metric name -> summed task update (Python-boundary metrics)
    sql: dict = field(default_factory=dict)


#: task-level SQL metrics kept per job
_SQL_METRICS = {
    "time to run Python workers",
    "time to start Python workers",
    "time to initialize Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
}


def find_event_log(directory: str) -> str:
    logs = [
        os.path.join(directory, n) for n in os.listdir(directory)
        if not n.startswith(".")
    ]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {logs}")
    return logs[0]


def read_jobs(path: str) -> list[Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0,
                    description=props.get("spark.job.description") or "",
                    stages=list(ev["Stage IDs"]),
                )
                jobs[job.id] = job
                for sid in job.stages:
                    # a reused shuffle stage ran in the first job listing it
                    stage_job.setdefault(sid, job.id)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                if job is None:
                    continue
                tm = ev.get("Task Metrics") or {}
                job.tasks += 1
                job.ran_stages.add(ev["Stage ID"])
                job.run_s += tm.get("Executor Run Time", 0) / 1e3
                job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                job.gc_s += tm.get("JVM GC Time", 0) / 1e3
                sw = tm.get("Shuffle Write Metrics") or {}
                job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                sr = tm.get("Shuffle Read Metrics") or {}
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _SQL_METRICS:
                        job.sql[name] = job.sql.get(name, 0) + int(
                            acc.get("Update") or 0
                        )
    return sorted(jobs.values(), key=lambda j: j.id)


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted inside any of ``spans``."""
    return [
        j for j in jobs if any(s.start <= j.submit <= s.end for s in spans)
    ]


def driver_only_s(jobs: list[Job], span: Span) -> float:
    """Seconds of ``span`` with no Spark job running."""
    return span.duration - _covered(
        [(j.submit, j.end or span.end) for j in jobs], span.start, span.end
    )


def engine_counters(jobs: list[Job]) -> dict[str, float]:
    """The ``spark.*`` per-layer metrics for a set of jobs."""
    return {
        "spark.jobs": len(jobs),
        "spark.stages": sum(len(j.ran_stages) for j in jobs),
        "spark.tasks": sum(j.tasks for j in jobs),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in jobs),
        "spark.shuffle_read_bytes": sum(j.shuffle_read for j in jobs),
    }


def sql_metric(jobs: list[Job], name: str) -> int:
    return sum(j.sql.get(name, 0) for j in jobs)

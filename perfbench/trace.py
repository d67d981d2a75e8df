"""Spans recorded around layer calls, and Spark event-log attribution.

A :class:`Tracer` keeps spans in memory (name, start, end, parent, run
id) and tags every Spark job started inside a span with the span's id as
its job group, so the event log can be split per span afterwards.  With
tracing off the same calls only time the block; no job group is set and
nothing is kept beyond the caller's own samples.

:func:`read_event_log` folds Spark's JSON-lines event log into per-job
records; :func:`attribute` hands each job to the span whose job group it
carries (or, for jobs started on streaming threads that carry no group,
to the innermost span open at the job's start) and sums the counters.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "output_mb",
    "driver_gap_s",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Span recorder.  ``enabled=False`` keeps timing but records no span
    and touches no Spark state."""

    run_id: str
    enabled: bool
    spark_context: object = None
    spans: list[Span] = field(default_factory=list)
    # seconds spent in begin/end: span bookkeeping and the job-group calls
    # into the JVM (the event log is written by Spark and not counted)
    own_s: float = 0.0
    _stack: list[int] = field(default_factory=list)

    def begin(self, name: str) -> None:
        """Open a span (no-op when tracing is off); close it with
        :meth:`end`.  For callers that see only start/stop callbacks."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sp = Span(
            span_id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        self._set_group(sp.span_id)
        self.own_s += time.perf_counter() - t0

    def end(self) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self.spans[self._stack.pop()].end = time.time()
        self._set_group(self._stack[-1] if self._stack else None)
        self.own_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        """Time the block inside a span.  Yields a dict whose ``"s"``
        holds the block's wall seconds on exit."""
        out: dict = {}
        self.begin(name)
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["s"] = time.perf_counter() - t0
            self.end()

    def _set_group(self, span_id: int | None) -> None:
        if self.spark_context is None:
            return
        if span_id is None:
            # a null local property clears the group (JVM semantics)
            self.spark_context.setLocalProperty("spark.jobGroup.id", None)
            self.spark_context.setLocalProperty("spark.job.description", None)
        else:
            self.spark_context.setJobGroup(
                f"span-{span_id}", self.spans[span_id].name
            )

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span: Span) -> float:
        """Span wall minus the part of it its child spans cover."""
        return span.wall - _covered(
            [(c.start, c.end) for c in self.children(span.span_id)],
            span.start,
            span.end,
        )

    def dump(self, path: str, attributed: dict[int, dict] | None = None) -> None:
        rows = []
        for s in self.spans:
            row = {
                "span_id": s.span_id,
                "name": s.name,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "wall_s": s.wall,
                "self_s": self.self_time(s),
            }
            if attributed is not None:
                row["spark"] = attributed.get(s.span_id, {})
            rows.append(row)
        with open(path, "w") as fh:
            json.dump(rows, fh, indent=1)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float = 0.0
    stages: set = field(default_factory=set)
    counters: dict = field(default_factory=dict)


def read_event_log(log_dir: str) -> list[Job]:
    """Per-job records from every event-log file under ``log_dir``:
    start/end (epoch seconds), job group and task/stage counters."""
    jobs: dict[tuple, Job] = {}
    stage_job: dict[tuple, tuple] = {}
    # Spark 4 writes rolling logs: one directory per app holding
    # ``events_<n>_<app>`` files (plus an empty ``appstatus`` marker).
    # Job and stage ids restart in every app (session), so they are keyed
    # by the app's directory.
    paths = glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
    for path in sorted(paths):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        app = os.path.dirname(path)
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        start=ev["Submission Time"] / 1000.0,
                    )
                    job.counters = dict.fromkeys(SPARK_COUNTERS, 0.0)
                    job.counters["jobs"] = 1
                    jobs[app, job.job_id] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_job[app, sid] = (app, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get((app, ev["Job ID"]))
                    if job is not None:
                        job.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    job = jobs.get(stage_job.get((app, sid)))
                    if job is not None and sid not in job.stages:
                        job.stages.add(sid)
                        job.counters["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get((app, ev.get("Stage ID"))))
                    if job is not None:
                        _add_task(job.counters, ev)
    return sorted(jobs.values(), key=lambda j: j.start)


def _add_task(c: dict, ev: dict) -> None:
    mb = 1024.0 * 1024.0
    c["tasks"] += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason")
    if reason != "Success":
        c["tasks_failed"] += 1
    m = ev.get("Task Metrics") or {}
    c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    sr = m.get("Shuffle Read Metrics") or {}
    c["shuffle_read_mb"] += (
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    ) / mb
    sw = m.get("Shuffle Write Metrics") or {}
    c["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
    c["spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / mb
    out = m.get("Output Metrics") or {}
    c["output_mb"] += out.get("Bytes Written", 0) / mb


def attribute(tracer: Tracer, jobs: list[Job]) -> dict[int, dict]:
    """Spark counters per span, each span including its descendants'
    jobs, plus ``driver_gap_s``: span wall minus the time its jobs
    cover."""
    by_span: dict[int, list[Job]] = {}
    for job in jobs:
        sid = _owner(tracer, job)
        if sid is not None:
            by_span.setdefault(sid, []).append(job)
    out: dict[int, dict] = {}
    for span in tracer.spans:
        own = _descendant_jobs(tracer, span.span_id, by_span)
        tot = dict.fromkeys(SPARK_COUNTERS, 0.0)
        for job in own:
            for k in SPARK_COUNTERS:
                tot[k] += job.counters.get(k, 0.0)
        covered = _covered(
            [(j.start, j.end or j.start) for j in own], span.start, span.end
        )
        tot["driver_gap_s"] = span.wall - covered
        tot["jobs_covered_s"] = covered
        # every job running during the span, whoever owns it: a check on
        # the attribution above
        tot["any_job_covered_s"] = _covered(
            [(j.start, j.end or j.start) for j in jobs], span.start, span.end
        )
        out[span.span_id] = tot
    return out


def _owner(tracer: Tracer, job: Job) -> int | None:
    if job.group and job.group.startswith("span-"):
        return int(job.group[len("span-"):])
    # streaming micro-batches run on the query's own thread: fall back to
    # the innermost span open when the job started
    best = None
    for s in tracer.spans:
        if s.start <= job.start <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return None if best is None else best.span_id


def _descendant_jobs(tracer: Tracer, span_id: int, by_span: dict) -> list[Job]:
    jobs = list(by_span.get(span_id, []))
    for child in tracer.children(span_id):
        jobs.extend(_descendant_jobs(tracer, child.span_id, by_span))
    return jobs

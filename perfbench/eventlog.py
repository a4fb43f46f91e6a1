"""Spark event-log reader: attributes jobs, stages and tasks to time spans.

The benchmark turns the event log on (uncompressed, not rolling) for its
traced run only and reads it back after the session stops. A span is a
named wall-clock interval the benchmark recorded itself: a call it timed
around a layer's public function, or a pipeline stage interval rebuilt
from the stage manifests (see ``stage_spans``).

Attribution rules:

* a job belongs to every span that contains its submission time;
* a stage belongs to the first job that lists it (a later job listing the
  same stage finds its shuffle output ready and skips it);
* a task belongs to its stage.

Per span: ``wall_s``; ``busy_s`` — summed task executor run time;
``idle_s`` — the part of the span no job covers (driver-side planning,
commits, footer scans); ``jobs``; ``shuffle_mb`` — shuffle write;
``spill_mb`` — disk spill; ``skew`` — max over median task duration in
the span's longest stage; ``gc_s`` — summed task JVM GC time;
``input_mb`` — bytes the span's tasks read from files.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Job:
    job_id: int
    submit_s: float
    end_s: float | None
    stage_ids: list[int]


@dataclass
class Task:
    duration_s: float
    run_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int
    input_bytes: int = 0


@dataclass
class Stage:
    stage_id: int
    submit_s: float | None = None
    end_s: float | None = None
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Span:
    name: str
    start_s: float
    end_s: float


@dataclass
class EventLog:
    jobs: dict[int, Job]
    stages: dict[int, Stage]

    def stage_owner(self) -> dict[int, int]:
        """stage id -> id of the first job that lists it."""
        owner: dict[int, int] = {}
        for job_id in sorted(self.jobs):
            for sid in self.jobs[job_id].stage_ids:
                owner.setdefault(sid, job_id)
        return owner


def parse_events(lines) -> EventLog:
    """Build an ``EventLog`` from an iterable of event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, None, list(ev["Stage IDs"])
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_s = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
            if info.get("Submission Time") is not None:
                sub = info["Submission Time"] / 1000.0
                st.submit_s = sub if st.submit_s is None else min(st.submit_s, sub)
            if info.get("Completion Time") is not None:
                end = info["Completion Time"] / 1000.0
                st.end_s = end if st.end_s is None else max(st.end_s, end)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev["Task Info"]
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            st.tasks.append(
                Task(
                    duration_s=(ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                    run_s=tm.get("Executor Run Time", 0) / 1000.0,
                    gc_s=tm.get("JVM GC Time", 0) / 1000.0,
                    shuffle_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    spill_bytes=tm.get("Disk Bytes Spilled", 0),
                    input_bytes=(tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                )
            )
    return EventLog(jobs, stages)


def read_event_log(log_dir: str | os.PathLike) -> EventLog:
    """Parse the single finished event-log file under ``log_dir``."""
    files = [
        p for p in Path(log_dir).iterdir()
        if p.is_file() and not p.name.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(
            f"expected one finished event log under {log_dir}, found "
            f"{sorted(p.name for p in files)}"
        )
    with open(files[0], encoding="utf-8") as fh:
        return parse_events(fh)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_metrics(log: EventLog, span: Span) -> dict[str, float]:
    """The per-span metrics of the module docstring for one span."""
    jobs = [j for j in log.jobs.values() if span.start_s <= j.submit_s <= span.end_s]
    job_ids = {j.job_id for j in jobs}
    owner = log.stage_owner()
    stages = [
        st for sid, st in log.stages.items() if owner.get(sid) in job_ids and st.tasks
    ]
    tasks = [t for st in stages for t in st.tasks]
    wall = span.end_s - span.start_s
    covered = _covered(
        [(j.submit_s, j.end_s if j.end_s is not None else span.end_s) for j in jobs],
        span.start_s,
        span.end_s,
    )
    skew = 0.0
    timed = [st for st in stages if st.submit_s is not None and st.end_s is not None]
    if timed:
        longest = max(timed, key=lambda st: (st.end_s - st.submit_s, -st.stage_id))
        durations = [t.duration_s for t in longest.tasks]
        skew = max(durations) / max(statistics.median(durations), 0.001)
    return {
        "wall_s": wall,
        "busy_s": sum(t.run_s for t in tasks),
        "idle_s": max(0.0, wall - covered),
        "jobs": float(len(jobs)),
        "shuffle_mb": sum(t.shuffle_bytes for t in tasks) / 1e6,
        "spill_mb": sum(t.spill_bytes for t in tasks) / 1e6,
        "skew": skew,
        "gc_s": sum(t.gc_s for t in tasks),
        "input_mb": sum(t.input_bytes for t in tasks) / 1e6,
    }


def stage_spans(workdir: str | os.PathLike) -> list[Span]:
    """Pipeline stage intervals from a DAG workdir's stage manifests.

    Stages commit one at a time (``max_parallel_stages`` defaults to 1),
    and each manifest is written right after its stage's wall clock
    stops, so a stage's interval ends at its manifest's modification time
    and starts ``wall_seconds`` earlier."""
    spans = []
    for p in Path(workdir, "_manifest").glob("*.json"):
        m = json.loads(p.read_text())
        end = p.stat().st_mtime
        spans.append(Span(m["stage"], end - m["wall_seconds"], end))
    return sorted(spans, key=lambda s: s.end_s)

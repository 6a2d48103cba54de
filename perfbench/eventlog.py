"""Roll a Spark event log up into benchmark spans, using only the stdlib.

The benchmark tags every job it submits from its own thread with the
local property :data:`SPAN_PROPERTY` (one unique id per span). Jobs
submitted from other driver threads do not inherit local properties
(``prepare_graph`` builds its layouts from a thread pool), so an untagged
job falls back to the span whose wall-clock window holds its submission
time.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"
#: SQL metrics that count the Arrow bytes crossing the JVM/Python boundary
PYTHON_IO_METRICS = ("data sent to Python workers", "data returned from Python workers")
MB = 1e6

SPAN_METRICS = (
    "s", "jobs", "stages", "executor_run_s", "gc_s", "busy_share",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_skew", "python_io_mb",
)


@dataclass
class Span:
    sid: str
    name: str
    start: float  # epoch seconds
    end: float


@dataclass
class Job:
    submit_ms: int
    stage_ids: list[int]
    tag: str | None


@dataclass
class Task:
    run_ms: int
    gc_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: dict[int, list[Task]] = field(default_factory=dict)  # by stage id
    python_io: dict[int, float] = field(default_factory=dict)  # bytes by stage id

    def stage_owner(self) -> dict[int, int]:
        """stage id -> the first job that lists it (later jobs that list
        the same stage skip it; its tasks ran for the first)."""
        owner: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid].stage_ids:
                owner.setdefault(sid, jid)
        return owner


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = Job(
                    submit_ms=ev["Submission Time"],
                    stage_ids=list(ev["Stage IDs"]),
                    tag=(ev.get("Properties") or {}).get(SPAN_PROPERTY),
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                read = m.get("Shuffle Read Metrics") or {}
                log.tasks.setdefault(ev["Stage ID"], []).append(
                    Task(
                        run_ms=m.get("Executor Run Time", 0),
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        shuffle_read=read.get("Remote Bytes Read", 0)
                        + read.get("Local Bytes Read", 0),
                        spill=m.get("Disk Bytes Spilled", 0),
                    )
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                io = sum(
                    float(a.get("Value", 0))
                    for a in info.get("Accumulables", [])
                    if a.get("Name") in PYTHON_IO_METRICS
                )
                sid = info["Stage ID"]
                log.python_io[sid] = log.python_io.get(sid, 0.0) + io
    return log


def assign_jobs(log: EventLog, spans: list[Span]) -> dict[int, str]:
    """job id -> span id: by tag, else by submission time inside a span."""
    by_sid = {s.sid for s in spans}
    out: dict[int, str] = {}
    for jid, job in log.jobs.items():
        if job.tag in by_sid:
            out[jid] = job.tag
            continue
        t = job.submit_ms / 1000.0
        for s in spans:
            if s.start <= t <= s.end:
                out[jid] = s.sid
                break
    return out


def _stage_skew(tasks: list[Task]) -> float:
    med = statistics.median(t.run_ms for t in tasks)
    return max(t.run_ms for t in tasks) / med if med > 0 else 1.0


def summarize(log: EventLog, job_ids, wall_s: float, cores: int) -> dict[str, float]:
    """The per-span metric set (:data:`SPAN_METRICS`) over ``job_ids``.

    ``task_skew`` is max / median task run time per stage, averaged over
    the stages with at least two tasks, weighted by each stage's executor
    run time (1.0 when no stage has two tasks)."""
    owner = log.stage_owner()
    jobs = set(job_ids)
    stages = [sid for sid, jid in owner.items() if jid in jobs and log.tasks.get(sid)]
    tasks = [t for sid in stages for t in log.tasks[sid]]
    run_s = sum(t.run_ms for t in tasks) / 1000.0
    weighted = [
        (_stage_skew(log.tasks[sid]), sum(t.run_ms for t in log.tasks[sid]))
        for sid in stages
        if len(log.tasks[sid]) >= 2
    ]
    total_w = sum(w for _, w in weighted)
    skew = sum(s * w for s, w in weighted) / total_w if total_w > 0 else 1.0
    return {
        "s": wall_s,
        "jobs": float(len(jobs)),
        "stages": float(len(stages)),
        "executor_run_s": run_s,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "busy_share": run_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "spill_mb": sum(t.spill for t in tasks) / MB,
        "task_skew": skew,
        "python_io_mb": sum(log.python_io.get(sid, 0.0) for sid in stages) / MB,
    }


def rollup(log: EventLog, spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Span name -> :func:`summarize` over every span instance of that name
    (walls and counts add up across instances)."""
    job_span = assign_jobs(log, spans)
    names: dict[str, list[Span]] = {}
    for s in spans:
        names.setdefault(s.name, []).append(s)
    out = {}
    for name, group in names.items():
        sids = {s.sid for s in group}
        jobs = [j for j, sid in job_span.items() if sid in sids]
        out[name] = summarize(log, jobs, sum(s.end - s.start for s in group), cores)
    return out


def windows_rollup(log: EventLog, windows: list[tuple[float, float]]):
    """Per window (start, end) in epoch seconds: (wall_ms, executor_run_ms,
    jobs) over the jobs submitted inside it."""
    owner = log.stage_owner()
    stages_of: dict[int, list[int]] = {}
    for sid, jid in owner.items():
        stages_of.setdefault(jid, []).append(sid)
    out = []
    for start, end in windows:
        jids = [j for j, job in log.jobs.items() if start <= job.submit_ms / 1000.0 <= end]
        run_ms = sum(
            t.run_ms for j in jids for sid in stages_of.get(j, ()) for t in log.tasks.get(sid, ())
        )
        out.append(((end - start) * 1000.0, run_ms, len(jids)))
    return out

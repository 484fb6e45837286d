"""Reduce a Spark event log to per-span stage metrics.

The log must be written uncompressed and non-rolling (one JSON event per
line). Jobs are attributed to the innermost span open at their submission
time: Spark's call sites name library lines for only a minority of jobs
(the rest show AQE or JVM frames), so submission time is the reliable key.
Tasks follow their job; a span's driver gap is the part of its wall time
during which no task of any job was running.
"""

from __future__ import annotations

import bisect
import json
from dataclasses import dataclass, field

_WRITE_MARKERS = ("InsertIntoHadoopFsRelationCommand", "WriteFiles")


@dataclass
class Task:
    stage: int
    launch: float  # epoch seconds
    finish: float
    cpu_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    job: int | None = None


@dataclass
class Job:
    id: int
    submit: float
    end: float | None
    stages: list[int]
    execution: int | None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    write_executions: set[int] = field(default_factory=set)

    def is_write(self, job: Job) -> bool:
        return job.execution is not None and job.execution in self.write_executions


def parse(lines) -> EventLog:
    log = EventLog()
    roots: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            exe = props.get("spark.sql.execution.id")
            log.jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                submit=ev["Submission Time"] / 1000.0,
                end=None,
                stages=list(ev.get("Stage IDs", [])),
                execution=int(exe) if exe not in (None, "") else None,
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            log.tasks.append(
                Task(
                    stage=ev["Stage ID"],
                    launch=info["Launch Time"] / 1000.0,
                    finish=info["Finish Time"] / 1000.0,
                    cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                    shuffle_write=sw.get("Shuffle Bytes Written", 0),
                    shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                )
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            exe = ev["executionId"]
            root = ev.get("rootExecutionId", exe)
            roots[exe] = root if root is not None and root >= 0 else exe
            plan = ev.get("physicalPlanDescription", "")
            if any(mark in plan for mark in _WRITE_MARKERS):
                log.write_executions.add(exe)
    # a write command's jobs may run under nested executions of its root
    for exe, root in roots.items():
        if root in log.write_executions:
            log.write_executions.add(exe)
    _assign_tasks(log)
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def _assign_tasks(log: EventLog) -> None:
    by_stage: dict[int, list[tuple[float, int]]] = {}
    for job in log.jobs.values():
        for s in job.stages:
            by_stage.setdefault(s, []).append((job.submit, job.id))
    for lst in by_stage.values():
        lst.sort()
    for t in log.tasks:
        cands = by_stage.get(t.stage)
        if not cands:
            continue
        i = bisect.bisect_right(cands, (t.launch, float("inf"))) - 1
        t.job = cands[max(i, 0)][1]


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for sp in spans:
        if sp["t0"] <= t <= sp["t1"] and (best is None or sp["t0"] >= best["t0"]):
            best = sp
    return best


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    clipped = sorted((max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1)
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


def reduce_spans(log: EventLog, spans: list[dict]) -> dict[int, dict]:
    """Per span id: jobs, tasks, exec_cpu_s, shuffle_mb, spill_mb,
    driver_gap_s and write_s (wall time of file-writing jobs)."""
    out = {
        sp["id"]: {
            "jobs": 0, "tasks": 0, "exec_cpu_s": 0.0, "shuffle_mb": 0.0,
            "spill_mb": 0.0, "driver_gap_s": 0.0, "write_s": 0.0,
        }
        for sp in spans
    }
    job_span: dict[int, int] = {}
    writes: dict[int, list[tuple[float, float]]] = {}
    for job in log.jobs.values():
        sp = _innermost(spans, job.submit)
        if sp is None:
            continue
        job_span[job.id] = sp["id"]
        out[sp["id"]]["jobs"] += 1
        if log.is_write(job) and job.end is not None:
            writes.setdefault(sp["id"], []).append((job.submit, job.end))
    for t in log.tasks:
        sid = job_span.get(t.job)
        if sid is None:
            continue
        rec = out[sid]
        rec["tasks"] += 1
        rec["exec_cpu_s"] += t.cpu_s
        rec["shuffle_mb"] += (t.shuffle_write + t.shuffle_read) / 2**20
        rec["spill_mb"] += t.spill / 2**20
    running = [(t.launch, t.finish) for t in log.tasks]
    for sp in spans:
        rec = out[sp["id"]]
        rec["driver_gap_s"] = (sp["t1"] - sp["t0"]) - _covered(running, sp["t0"], sp["t1"])
        rec["write_s"] = _covered(writes.get(sp["id"], []), sp["t0"], sp["t1"])
    return out


"""Stdlib parser of a Spark event log (``spark.eventLog.enabled`` with
``spark.eventLog.compress=false``): jobs, stages and tasks, each tagged with
the ``perfbench.op`` local property that was set when it was submitted."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from perfbench.spans import OP_PROPERTY


@dataclass
class Task:
    task_id: int
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int


@dataclass
class Stage:
    stage_id: int
    op: str | None
    submitted_ms: int
    completed_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    op: str | None
    submitted_ms: int
    stage_ids: list[int]
    completed_ms: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)

    def ops_jobs(self, op: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.op == op]

    def ops_stages(self, op: str) -> list[Stage]:
        return [s for s in self.stages.values() if s.op == op]


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, _, files in os.walk(path):
        out.extend(os.path.join(dirpath, f) for f in sorted(files)
                   if not f.startswith("appstatus"))
    return out


def parse(path: str) -> EventLog:
    """Parse every event file under ``path`` (a file or a directory)."""
    log = EventLog()
    for fn in _files(path):
        with open(fn) as f:
            for line in f:
                _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        log.jobs[ev["Job ID"]] = Job(ev["Job ID"], props.get(OP_PROPERTY),
                                     ev["Submission Time"], ev["Stage IDs"])
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.completed_ms = ev["Completion Time"]
    elif kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        props = ev.get("Properties") or {}
        log.stages[info["Stage ID"]] = Stage(
            info["Stage ID"], props.get(OP_PROPERTY),
            info.get("Submission Time") or 0)
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        stage = log.stages.get(info["Stage ID"])
        if stage is not None:
            stage.completed_ms = info.get("Completion Time") or 0
    elif kind == "SparkListenerTaskEnd":
        stage = log.stages.get(ev["Stage ID"])
        m = ev.get("Task Metrics")
        if stage is None or not m:
            return
        info = ev["Task Info"]
        rd = m.get("Shuffle Read Metrics", {})
        stage.tasks.append(Task(
            task_id=info["Task ID"], stage=stage.stage_id,
            launch_ms=info["Launch Time"], finish_ms=info["Finish Time"],
            run_ms=m["Executor Run Time"], cpu_ns=m["Executor CPU Time"],
            gc_ms=m["JVM GC Time"],
            shuffle_read=(rd.get("Remote Bytes Read", 0)
                          + rd.get("Local Bytes Read", 0)),
            shuffle_write=m.get("Shuffle Write Metrics", {})
            .get("Shuffle Bytes Written", 0),
            spill=m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]))


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
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

"""Parser for a Spark event log (``spark.eventLog.enabled``): jobs with
their properties, and per-stage task totals, so that Spark work can be
attributed to the benchmark's spans (job group ``span-<id>``) and to
micro-batches (job property ``streaming.sql.batchId``)."""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass
class Stage:
    submit: float = 0.0  # epoch seconds
    complete: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    id: int
    stage_ids: list[int]
    props: dict

    @property
    def group(self) -> str | None:
        return self.props.get("spark.jobGroup.id")

    @property
    def batch_id(self) -> int | None:
        b = self.props.get("streaming.sql.batchId")
        return int(b) if b is not None else None


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)  # ran stages only


def parse(lines) -> EventLog:
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            log.jobs[jid] = Job(jid, list(ev.get("Stage IDs", [])),
                                dict(ev.get("Properties") or {}))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = log.stages.setdefault(info["Stage ID"], Stage())
            st.submit = info.get("Submission Time", 0) / 1e3
            st.complete = info.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = log.stages.setdefault(ev["Stage ID"], Stage())
            st.tasks += 1
            st.run_s += m.get("Executor Run Time", 0) / 1e3
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.gc_s += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics", {})
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
    return log


def read(path: str) -> EventLog:
    with open(path) as f:
        return parse(f)


def union_s(intervals) -> float:
    """Total length of the union of [start, end) intervals."""
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


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stage_union_s: float = 0.0


def totals(log: EventLog, jobs) -> Totals:
    """Sums over ``jobs`` and the stages they ran (skipped stages, whose
    output was reused, never ran and are not counted)."""
    t = Totals()
    seen: set[int] = set()
    for job in jobs:
        t.jobs += 1
        for sid in job.stage_ids:
            if sid in log.stages and sid not in seen:
                seen.add(sid)
    stages = [log.stages[s] for s in seen]
    for st in stages:
        t.stages += 1
        t.tasks += st.tasks
        t.run_s += st.run_s
        t.cpu_s += st.cpu_s
        t.gc_s += st.gc_s
        t.shuffle_read_bytes += st.shuffle_read_bytes
        t.shuffle_write_bytes += st.shuffle_write_bytes
        t.spill_bytes += st.spill_bytes
    t.stage_union_s = union_s(
        (st.submit, st.complete) for st in stages if st.complete >= st.submit > 0
    )
    return t


def spark_layer(t: Totals, execute_s: float, gap_s: float) -> dict:
    """The ``spark.*`` per-layer metrics for one set of jobs."""
    return {
        "spark.execute_s": (execute_s, "s"),
        "spark.jobs": (t.jobs, "count"),
        "spark.stages": (t.stages, "count"),
        "spark.tasks": (t.tasks, "count"),
        "spark.task_run_s": (t.run_s, "s"),
        "spark.task_cpu_s": (t.cpu_s, "s"),
        "spark.gc_s": (t.gc_s, "s"),
        "spark.shuffle_read_bytes": (t.shuffle_read_bytes, "B"),
        "spark.shuffle_write_bytes": (t.shuffle_write_bytes, "B"),
        "spark.spill_bytes": (t.spill_bytes, "B"),
        "spark.driver_gap_s": (gap_s, "s"),
    }

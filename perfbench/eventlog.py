"""Spark event log -> per-job records and the ``spark.*`` layer metrics.

The traced run turns the event log on through session config
(``build_session(extra_conf=...)``), uncompressed and unrolled so it is
one JSON-lines file. Every job carries the ``perfbench.span`` local
property of the benchmark span that triggered it (``tracing.Tracer``),
so jobs, stages and tasks can be attributed to passes and phases.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

MB = 1 << 20

ARROW_TO_PYTHON = "data sent to Python workers"
ARROW_FROM_PYTHON = "data returned from Python workers"

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_write_mb",
    "spark.shuffle_read_mb",
    "spark.spill_mb",
    "spark.gc_share",
    "spark.cpu_share",
    "spark.task_skew",
)


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    input_bytes: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    sql: dict  # accumulator name -> summed update


@dataclass
class Job:
    id: int
    span: "int | None"
    call_site: str
    submit_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)

    @property
    def duration_s(self) -> float:
        return (self.end_ms - self.submit_ms) / 1000.0


@dataclass
class EventLog:
    jobs: list
    tasks_by_stage: dict  # stage id -> [Task]

    def tasks(self, jobs) -> list:
        """Tasks of the stages ``jobs`` ran; a stage listed by several
        jobs (a reused exchange) counts once."""
        stages = sorted({s for j in jobs for s in j.stages})
        return [t for s in stages for t in self.tasks_by_stage.get(s, [])]


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    sql: dict = {}
    for acc in info.get("Accumulables", []):
        name = acc.get("Name", "")
        if name and not name.startswith("internal."):
            try:
                sql[name] = sql.get(name, 0) + int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    sr = m.get("Shuffle Read Metrics", {})
    return Task(
        stage=ev["Stage ID"],
        duration_ms=info["Finish Time"] - info["Launch Time"],
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
        shuffle_write=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        sql=sql,
    )


def parse(log_file: Path) -> EventLog:
    """Read one finished application log (named by its application id)."""
    jobs: dict = {}
    tasks_by_stage: dict = {}
    with log_file.open() as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get("perfbench.span")
                jobs[ev["Job ID"]] = Job(
                    id=ev["Job ID"],
                    span=int(span) if span is not None else None,
                    call_site=props.get("callSite.short", ""),
                    submit_ms=ev["Submission Time"],
                    stages=list(ev["Stage IDs"]),
                )
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                tasks_by_stage.setdefault(ev["Stage ID"], []).append(_task(ev))
    return EventLog(jobs=[jobs[k] for k in sorted(jobs)], tasks_by_stage=tasks_by_stage)


def sql_bytes(tasks: list, name: str) -> int:
    return sum(t.sql.get(name, 0) for t in tasks)


def spark_metrics(log: EventLog, jobs: list) -> dict:
    """``spark.*`` metrics of the jobs one pass ran.

    ``cpu_share`` is executor CPU time over executor run time;
    ``task_skew`` is max over median task time in the stage that ran
    longest (by summed task time)."""
    tasks = log.tasks(jobs)
    ran_stages = {t.stage for t in tasks}
    run_ms = sum(t.run_ms for t in tasks) or 1
    by_stage: dict = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.duration_ms)
    longest = max(by_stage.values(), key=sum) if by_stage else [1]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran_stages),
        "spark.tasks": len(tasks),
        "spark.shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "spark.shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "spark.spill_mb": sum(t.spill for t in tasks) / MB,
        "spark.gc_share": sum(t.gc_ms for t in tasks) / run_ms,
        "spark.cpu_share": sum(t.cpu_ns for t in tasks) / 1e6 / run_ms,
        "spark.task_skew": max(longest) / max(statistics.median(longest), 1),
    }

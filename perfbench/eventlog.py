"""Reader for Spark's JSON-lines event log (``spark.eventLog.enabled``,
uncompressed).

It keeps what the per-layer metrics need: jobs with their description
and time span, stage time spans, per-task metrics with their accumulator
updates, and the SQL plan nodes that own each SQL metric accumulator (from
the execution-start and adaptive-update events), so that a metric such as
"time to run Python workers" or an Exchange's "shuffle bytes written"
can be summed per plan node over any set of tasks.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Job:
    job_id: int
    start_ms: int
    stage_ids: list[int]
    description: str
    execution_id: int | None
    end_ms: int = 0


@dataclass
class Stage:
    stage_id: int
    submit_ms: int = 0
    complete_ms: int = 0


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    input_bytes: int
    spill_bytes: int
    accums: dict[int, float] = field(default_factory=dict)


@dataclass
class SqlMetric:
    node_name: str
    node_desc: str
    name: str
    metric_type: str

    def scale_to_seconds(self) -> float:
        return {"timing": 1e-3, "nsTiming": 1e-9}.get(self.metric_type, 1.0)


class EventLog:
    def __init__(self) -> None:
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.tasks: list[Task] = []
        self.sql_metrics: dict[int, SqlMetric] = {}

    @classmethod
    def read(cls, path: str) -> "EventLog":
        """Parse an event-log file (``.gz`` allowed) or every
        ``events_*`` file of a rolling log directory under ``path``."""
        files = [path]
        if os.path.isdir(path):
            files = sorted(os.path.join(r, f) for r, _, fs in os.walk(path)
                           for f in fs if f.startswith(("events", "local-",
                                                        "app-")))
        log = cls()
        for f in files:
            opener = gzip.open if f.endswith(".gz") else open
            with opener(f, "rt") as fh:
                for line in fh:
                    if line.strip():
                        log.feed(json.loads(line))
        return log

    # -- parsing -----------------------------------------------------------

    def feed(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            job = Job(e["Job ID"], e["Submission Time"], e["Stage IDs"],
                      props.get("spark.job.description") or "",
                      int(eid) if eid is not None else None)
            self.jobs[job.job_id] = job
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stages[info["Stage ID"]] = Stage(
                info["Stage ID"], info.get("Submission Time", 0),
                info.get("Completion Time", 0))
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e.get("sparkPlanInfo") or {})

    def _plan(self, node: dict) -> None:
        todo = [node]
        while todo:
            n = todo.pop()
            for m in n.get("metrics", []):
                self.sql_metrics[m["accumulatorId"]] = SqlMetric(
                    n.get("nodeName", ""), n.get("simpleString", ""),
                    m["name"], m["metricType"])
            todo.extend(n.get("children", []))

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        if not tm:
            return
        sw = tm.get("Shuffle Write Metrics", {})
        accums = {}
        for a in info.get("Accumulables", []):
            if a.get("Update") is not None:
                try:
                    accums[a["ID"]] = float(a["Update"])
                except (TypeError, ValueError):
                    pass  # non-numeric accumulators carry no metric
        self.tasks.append(Task(
            stage_id=e["Stage ID"], run_ms=tm["Executor Run Time"],
            cpu_ns=tm["Executor CPU Time"], gc_ms=tm["JVM GC Time"],
            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
            input_bytes=tm.get("Input Metrics", {}).get("Bytes Read", 0),
            spill_bytes=(tm.get("Memory Bytes Spilled", 0)
                         + tm.get("Disk Bytes Spilled", 0)),
            accums=accums))

    # -- queries -----------------------------------------------------------

    def jobs_between(self, t0_ms: float, t1_ms: float) -> list[Job]:
        """Jobs submitted in [t0, t1]."""
        return [j for j in self.jobs.values()
                if t0_ms <= j.start_ms <= t1_ms]

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        stage_ids = {s for j in jobs for s in j.stage_ids}
        return [t for t in self.tasks if t.stage_id in stage_ids]

    def metric_ids(self, name: str, node_name: str | None = None,
                   desc_contains: str | None = None) -> set[int]:
        """Accumulator ids of SQL metric ``name`` on plan nodes matching
        ``node_name`` (prefix) and ``desc_contains``."""
        return {aid for aid, m in self.sql_metrics.items()
                if m.name == name
                and (node_name is None or m.node_name.startswith(node_name))
                and (desc_contains is None or desc_contains in m.node_desc)}

    def metric_per_task(self, tasks: list[Task], ids: set[int]
                        ) -> list[tuple[Task, float]]:
        """(task, summed update) for each task that updated any of ``ids``,
        in the metric's unit (seconds for timing metrics)."""
        out = []
        for t in tasks:
            hit = [aid for aid in ids if aid in t.accums]
            if hit:
                out.append((t, sum(t.accums[a]
                                   * self.sql_metrics[a].scale_to_seconds()
                                   for a in hit)))
        return out

    def metric_sum(self, tasks: list[Task], ids: set[int]) -> float:
        return sum(v for _, v in self.metric_per_task(tasks, ids))

    def busy_ms(self, jobs: list[Job], t0_ms: float, t1_ms: float) -> float:
        """Milliseconds of [t0, t1] covered by at least one running stage
        of ``jobs``."""
        spans = sorted((max(t0_ms, st.submit_ms), min(t1_ms, st.complete_ms))
                       for j in jobs for sid in j.stage_ids
                       if (st := self.stages.get(sid)) and st.complete_ms)
        covered, end = 0.0, t0_ms
        for a, b in spans:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        return covered

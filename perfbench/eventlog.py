"""Reader for Spark's JSON event log (the traced run's second source).

The traced session writes an uncompressed, non-rolling log
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``;
Spark 4.1's defaults would write a zstd-compressed rolling directory). The
log is read once, after the session stops and has flushed it.

SQL executions are classified by their physical plan, never by call site:
every PySpark action reports ``NativeMethodAccessorImpl.java:0`` as its call
site, so the plan text is the only thing that tells a wave write from an
aggregate write.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_CONV_KEYS = re.compile(r"Keys \[1\]: \[conv_id#")


@dataclass
class Execution:
    id: int
    start: float
    end: float = 0.0
    plan: str = ""
    jobs: list[int] = field(default_factory=list)

    def kind(self) -> str:
        """What the pipeline was doing, read from the physical plan."""
        p = self.plan
        if "CollectMetrics" in p and "InsertIntoHadoopFsRelationCommand" in p:
            return "pipeline.wave"        # the wave write's Observation
        if "HashAggregate" in p and "date_trunc(hour" in p:
            return "aggregate.hourly_stats"
        if "HashAggregate" in p and _CONV_KEYS.search(p):
            return "aggregate.conv_stats"
        return "other"


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    execution: int | None = None
    stages: list[int] = field(default_factory=list)
    cached_rdds: set[int] = field(default_factory=set)  # persisted RDDs read


@dataclass
class Task:
    stage: int
    metrics: dict
    accums: dict[str, float]


class EventLog:
    def __init__(self, path: str) -> None:
        self.executions: dict[int, Execution] = {}
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        self.rdd_bytes: dict[int, dict[str, int]] = {}  # rdd -> block -> B
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))
        for j in self.jobs.values():
            ex = self.executions.get(j.execution)
            if ex is not None:
                ex.jobs.append(j.id)

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            self.executions[e["executionId"]] = Execution(
                e["executionId"], e["time"] / 1e3,
                plan=e.get("physicalPlanDescription", ""))
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            ex = self.executions.get(e["executionId"])
            if ex is not None:
                ex.end = e["time"] / 1e3
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            cached = {r["RDD ID"] for st in e.get("Stage Infos", [])
                      for r in st.get("RDD Info", [])
                      if r["Storage Level"].get("Use Memory")
                      or r["Storage Level"].get("Use Disk")}
            self.jobs[e["Job ID"]] = Job(
                e["Job ID"], e["Submission Time"] / 1e3,
                execution=int(eid) if eid is not None else None,
                stages=list(e["Stage IDs"]), cached_rdds=cached)
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]].end = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            accums: dict[str, float] = {}
            for a in e["Task Info"].get("Accumulables", []):
                try:
                    accums[a["Name"]] = (accums.get(a["Name"], 0.0)
                                         + float(a["Update"]))
                except (KeyError, TypeError, ValueError):
                    pass
            self.tasks.append(Task(e["Stage ID"], e.get("Task Metrics") or {},
                                   accums))
        elif kind == "SparkListenerBlockUpdated":
            info = e["Block Updated Info"]
            bid = info["Block ID"]
            if bid.startswith("rdd_"):
                blocks = self.rdd_bytes.setdefault(int(bid.split("_")[1]), {})
                size = info["Memory Size"] + info["Disk Size"]
                blocks[bid] = max(size, blocks.get(bid, 0))

    # -- selections ---------------------------------------------------------

    def executions_in(self, t0: float, t1: float) -> list[Execution]:
        return sorted((x for x in self.executions.values()
                       if t0 <= x.start <= t1), key=lambda x: x.start)

    def jobs_in(self, t0: float, t1: float) -> list[Job]:
        return [j for j in self.jobs.values() if t0 <= j.start <= t1]

    def cached_bytes(self, jobs: list[Job]) -> int:
        """Largest logged size of the blocks of every persisted RDD that
        ``jobs`` read or built."""
        rdds = {r for j in jobs for r in j.cached_rdds}
        return sum(sum(self.rdd_bytes.get(r, {}).values()) for r in rdds)

    def stages_of(self, jobs: list[Job]) -> set[int]:
        return {s for j in jobs for s in j.stages}

    def execution_stages(self, ex: Execution) -> set[int]:
        return self.stages_of([self.jobs[j] for j in ex.jobs])

    def tasks_of(self, stages: set[int]) -> list[Task]:
        return [t for t in self.tasks if t.stage in stages]

    # -- task metric sums ---------------------------------------------------

    @staticmethod
    def shuffle_read_bytes(t: Task) -> int:
        r = t.metrics.get("Shuffle Read Metrics") or {}
        return r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)

    @staticmethod
    def shuffle_write_bytes(t: Task) -> int:
        w = t.metrics.get("Shuffle Write Metrics") or {}
        return w.get("Shuffle Bytes Written", 0)

    @staticmethod
    def input_bytes(t: Task) -> int:
        return (t.metrics.get("Input Metrics") or {}).get("Bytes Read", 0)

    def totals(self, tasks: list[Task]) -> dict[str, float]:
        """The ``spark.*`` per-layer metrics over a set of tasks."""
        m = [t.metrics for t in tasks]
        return {
            "spark.executor_run_s": sum(x.get("Executor Run Time", 0)
                                        for x in m) / 1e3,
            "spark.executor_cpu_s": sum(x.get("Executor CPU Time", 0)
                                        for x in m) / 1e9,
            "spark.gc_s": sum(x.get("JVM GC Time", 0) for x in m) / 1e3,
            "spark.spill_bytes": sum(x.get("Memory Bytes Spilled", 0)
                                     + x.get("Disk Bytes Spilled", 0)
                                     for x in m),
            "spark.fetch_wait_s": sum((x.get("Shuffle Read Metrics") or {})
                                      .get("Fetch Wait Time", 0)
                                      for x in m) / 1e3,
            "spark.tasks": len(m),
        }

    @staticmethod
    def accum(tasks: list[Task], name: str) -> float:
        return sum(t.accums.get(name, 0.0) for t in tasks)

    def reduce_skew(self, stages: set[int]) -> float:
        """Largest max/median reduce-task shuffle input over the stages that
        read a shuffle."""
        worst = 0.0
        for s in stages:
            read = [self.shuffle_read_bytes(t) for t in self.tasks
                    if t.stage == s]
            read = [r for r in read if r > 0]
            if len(read) >= 2:
                worst = max(worst, max(read) / statistics.median(read))
        return worst

"""Read Spark's own status stores after the fact.

Two stores are read through the JVM handles, with no extra Spark jobs:

- the SQL status store (``sharedState().statusStore()``): one record per SQL
  execution with its description (the job-group description set by the
  caller), its physical plan text and the final plan's node metrics;
- the application status store (``sc.statusStore()``): jobs by job group,
  their stages and task metrics.

SQL metric values come out of the store as display strings ("1,879",
"36.0 KiB", "total (min, med, max ...)\\n10.1 s (...)"); ``metric_value``
turns them back into numbers in bytes, seconds or counts.
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PARSED_TYPES = {"sum", "size", "timing", "nsTiming"}  # not "average"
_VALUE = re.compile(r"^\s*([-\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """Parse a SQL metric display string: counts as-is, sizes in bytes,
    timings in seconds. Multi-task values use their leading total."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return number
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME:
        return number * _TIME[unit]
    raise ValueError(f"unknown SQL metric unit in {text!r}")


def _seq(scala_seq):
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Execution:
    description: str
    plan: str
    wall_s: float
    job_ids: list[int]
    nodes: list[PlanNode]

    def output_path(self) -> str | None:
        """Target directory of a file write, else ``None``."""
        m = re.search(
            r"Execute InsertIntoHadoopFsRelationCommand\nInput.*\nArguments: ([^,]+),",
            self.plan,
        )
        return m.group(1) if m else None

    def total(self, node_name: str, metric: str) -> float:
        """Sum of ``metric`` over the nodes whose name starts with
        ``node_name``."""
        return sum(
            n.metrics.get(metric, 0.0)
            for n in self.nodes
            if n.name.startswith(node_name)
        )


class StatusReader:
    """Marks a point in the session's history and reads what ran after it."""

    def __init__(self, spark):
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = spark.sparkContext._jsc.sc().statusStore()
        self.first_execution = self._sql.executionsCount()

    def executions(self) -> list[Execution]:
        out = []
        for e in _seq(self._sql.executionsList(self.first_execution, 1 << 20)):
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    if m.metricType() not in _PARSED_TYPES:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        metrics[m.name()] = metric_value(v.get())
                nodes.append(PlanNode(n.name(), n.desc(), metrics))
            done = e.completionTime()
            end_ms = done.get().getTime() if done.isDefined() else e.submissionTime()
            jobs = e.jobs()
            out.append(
                Execution(
                    description=e.description(),
                    plan=e.physicalPlanDescription(),
                    wall_s=(end_ms - e.submissionTime()) / 1000.0,
                    job_ids=[int(k) for k in _seq(jobs.keys().toSeq())],
                    nodes=nodes,
                )
            )
        return out

    def job_group_stats(self, group: str) -> dict[str, float]:
        """Jobs, tasks, executor run/CPU/GC seconds and task skew (max over
        stages of max/median task duration) of one job group."""
        jobs = [
            j for j in _seq(self._app.jobsList(None))
            if j.jobGroup().isDefined() and j.jobGroup().get() == group
        ]
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        tasks = run_ms = gc_ms = 0
        cpu_ns = 0
        skew = 1.0
        for sid in stage_ids:
            try:
                st = self._app.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if st.numCompleteTasks() == 0:
                continue
            tasks += st.numTasks()
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            gc_ms += st.jvmGcTime()
            durations = []
            for t in _seq(self._app.taskList(sid, st.attemptId(), 1 << 20)):
                d = t.duration()
                if d.isDefined():
                    durations.append(float(d.get()))
            if len(durations) >= 2 and statistics.median(durations) > 0:
                skew = max(skew, max(durations) / statistics.median(durations))
        return {
            "jobs": float(len(jobs)),
            "tasks": float(tasks),
            "executor_run_s": run_ms / 1000.0,
            "executor_cpu_s": cpu_ns / 1e9,
            "gc_s": gc_ms / 1000.0,
            "task_skew": skew,
        }

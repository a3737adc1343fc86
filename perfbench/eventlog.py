"""Spark event-log parser for the traced run's per-layer block.

Reads an uncompressed event log (``spark.eventLog.compress=false``; plain
or Spark 4's rolling ``eventlog_v2_*`` directory) and aggregates, over the
SQL executions that started inside a wall-clock window:

- plan metrics: every ``SparkListenerSQLExecutionStart`` and
  ``SparkListenerSQLAdaptiveExecutionUpdate`` plan declares
  ``(node, metric) -> accumulator id``; values come from the ``TaskEnd``
  accumulables and from ``SparkListenerDriverAccumUpdates``;
- task metrics per stage: task time, GC time, shuffle bytes written,
  joined to executions through ``spark.sql.execution.id`` on ``JobStart``;
- Spark jobs outside any SQL execution, with their wall time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int | None = None
    nodes: set[str] = field(default_factory=set)
    # accumulator id -> (node name, metric name)
    accums: dict[int, tuple[str, str]] = field(default_factory=dict)
    stages: set[int] = field(default_factory=set)

    @property
    def duration_s(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0


@dataclass
class Task:
    stage: int
    duration_ms: int
    gc_ms: int
    shuffle_write_bytes: int


@dataclass
class EventLog:
    executions: dict[int, Execution]
    tasks: list[Task]
    accum_values: dict[int, int]
    # (submission ms, completion ms) of Spark jobs run outside any SQL
    # execution, such as parallel partition discovery
    plain_jobs: list[tuple[int, int]] = field(default_factory=list)

    def metric(self, execs: list[Execution], node_prefix: str, name: str) -> int:
        """Sum of one plan metric over every matching node of ``execs``."""
        total = 0
        for ex in execs:
            for acc, (node, metric) in ex.accums.items():
                if metric == name and node.startswith(node_prefix):
                    total += self.accum_values.get(acc, 0)
        return total

    def tasks_of(self, execs: list[Execution]) -> list[Task]:
        stages = set().union(*(ex.stages for ex in execs)) if execs else set()
        return [t for t in self.tasks if t.stage in stages]

    def in_window(self, start_ms: float, end_ms: float) -> list[Execution]:
        return [ex for _, ex in sorted(self.executions.items())
                if start_ms <= ex.start_ms <= end_ms]

    def plain_job_s(self, start_ms: float, end_ms: float) -> float:
        return sum(e - s for s, e in self.plain_jobs if start_ms <= s <= end_ms) / 1000.0


def event_files(path: str) -> list[str]:
    """The event file(s) under ``path``: a file, a rolling-log directory,
    or a directory holding either."""
    if os.path.isfile(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, "events_*")))
    if files:
        # rolling logs number their parts: events_<n>_<app id>
        return sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1]))
    found = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(".") and not entry.endswith(".inprogress"):
            found += event_files(os.path.join(path, entry))
    return found


def _plan_accums(plan: dict, out: dict[int, tuple[str, str]], nodes: set[str]) -> None:
    nodes.add(plan["nodeName"])
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"])
    for child in plan.get("children", ()):
        _plan_accums(child, out, nodes)


def parse(path: str) -> EventLog:
    executions: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    plain_started: dict[int, int] = {}
    plain_jobs: list[tuple[int, int]] = []
    tasks: list[Task] = []
    values: dict[int, int] = defaultdict(int)
    for fname in event_files(path):
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == _SQL + "SparkListenerSQLExecutionStart":
                    ex = Execution(ev["executionId"], ev["time"])
                    _plan_accums(ev["sparkPlanInfo"], ex.accums, ex.nodes)
                    executions[ex.id] = ex
                elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    ex = executions.get(ev["executionId"])
                    if ex is not None:
                        _plan_accums(ev["sparkPlanInfo"], ex.accums, ex.nodes)
                elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                    if ev["executionId"] in executions:
                        executions[ev["executionId"]].end_ms = ev["time"]
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc, val in ev["accumUpdates"]:
                        values[acc] += int(val)
                elif kind == "SparkListenerJobStart":
                    exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if exec_id is not None:
                        for st in ev["Stage IDs"]:
                            stage_exec[st] = int(exec_id)
                    else:
                        plain_started[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in plain_started:
                        plain_jobs.append((plain_started.pop(ev["Job ID"]),
                                           ev["Completion Time"]))
                elif kind == "SparkListenerTaskEnd":
                    info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    for acc in info.get("Accumulables", ()):
                        upd = acc.get("Update")
                        if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                            values[acc["ID"]] += int(upd)
                    tasks.append(Task(
                        stage=ev["Stage ID"],
                        duration_ms=info["Finish Time"] - info["Launch Time"],
                        gc_ms=tm.get("JVM GC Time", 0),
                        shuffle_write_bytes=(tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                    ))
    for st, exec_id in stage_exec.items():
        if exec_id in executions:
            executions[exec_id].stages.add(st)
    return EventLog(executions, tasks, dict(values), plain_jobs)


def stage_skew(tasks: list[Task]) -> float:
    """max ÷ median task time of the stage with the most total task time
    (the critical stage); 1.0 when there is no multi-task stage."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage].append(t.duration_ms)
    multi = [d for d in by_stage.values() if len(d) > 1]
    if not multi:
        return 1.0
    durations = max(multi, key=sum)
    return max(durations) / max(statistics.median(durations), 1)


def engine_metrics(log: EventLog, execs: list[Execution]) -> dict[str, float]:
    tasks = log.tasks_of(execs)
    return {
        "tasks": len(tasks),
        "task_skew": stage_skew(tasks),
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "gc_ms": sum(t.gc_ms for t in tasks),
    }


def python_metrics(log: EventLog, execs: list[Execution]) -> dict[str, int]:
    """``ArrowEvalPython`` operator metrics summed over ``execs``."""
    m = lambda name: log.metric(execs, "ArrowEvalPython", name)  # noqa: E731
    return {
        "arrow_bytes_sent": m("data sent to Python workers"),
        "arrow_bytes_returned": m("data returned from Python workers"),
        "python_boot_ms": m("time to start Python workers"),
        "python_init_ms": m("time to initialize Python workers"),
        "python_run_ms": m("time to run Python workers"),
        "rows": m("number of output rows"),
    }

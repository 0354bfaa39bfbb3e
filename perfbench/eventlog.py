"""Stdlib reader for a Spark 4 event log.

Reads either a plain event-log file or a rolling ``eventlog_v2_*``
directory (its ``events_<n>_*`` files in order), written with
``spark.eventLog.compress=false``.  The result joins four event
streams: SQL executions (with their final physical plan and its
per-node metrics), jobs, stages and tasks.

Per stage it keeps executor run time, CPU, GC, peak execution memory,
spill, shuffle read/write, input and output bytes (task metric sums),
the operator scopes and cached-RDD names of its RDDs, and the sum of
every SQL metric its tasks updated.  Per execution it keeps the plan
nodes with their metric totals, so a metric can be read per operator
(``time to run Python workers`` of one ``ArrowEvalPython`` node).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_WRITE_TARGET = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")
_ROUND_SUBDIR = re.compile(r"round_\d{5}/\w+")


@dataclass
class Stage:
    stage_id: int
    execution_id: int | None = None
    name: str = ""
    scopes: set = field(default_factory=set)
    cached_rdds: list = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    peak_mem: int = 0
    spill_mem: int = 0
    spill_disk: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    submit_ms: int = 0
    complete_ms: int = 0


@dataclass
class Node:
    name: str
    simple: str
    metrics: dict  # metric name -> (accumulator id, metric type)
    children: list = field(default_factory=list)


@dataclass
class Execution:
    execution_id: int
    description: str = ""
    plan_text: str = ""
    nodes: list = field(default_factory=list)
    start_ms: int = 0
    end_ms: int = 0
    write_target: str | None = None
    jobs: list = field(default_factory=list)

    @property
    def round_subdir(self) -> str | None:
        """``round_NNNNN/<subdir>`` of a crawl checkpoint write."""
        m = _ROUND_SUBDIR.search(self.write_target or "")
        return m.group(0) if m else None

    def count_nodes(self, name: str) -> int:
        return sum(1 for n in self.nodes if n.name == name)


@dataclass
class EventLog:
    executions: dict  # id -> Execution
    stages: dict      # id -> Stage
    accum: dict       # accumulator id -> summed task updates
    job_execution: dict  # job id -> execution id

    def metric(self, node: Node, name: str) -> float:
        """A node metric's total in natural units: seconds for timings,
        bytes for sizes, a count otherwise."""
        if name not in node.metrics:
            return 0.0
        acc_id, kind = node.metrics[name]
        value = self.accum.get(acc_id, 0)
        if kind == "timing":
            return value / 1e3
        if kind == "nsTiming":
            return value / 1e9
        return float(value)

    def stages_of(self, execution_ids) -> list[Stage]:
        ids = set(execution_ids)
        return [s for s in self.stages.values() if s.execution_id in ids]


def _walk(info: dict, out: list) -> Node:
    node = Node(
        info.get("nodeName", ""), info.get("simpleString", ""),
        {m["name"]: (m["accumulatorId"], m.get("metricType", "sum"))
         for m in info.get("metrics", [])})
    out.append(node)
    node.children = [_walk(c, out) for c in info.get("children", [])]
    return node


def event_files(path: str) -> list[str]:
    """The event files of ``path``: itself if a file; the rolling
    ``events_<n>_*`` parts in index order if an ``eventlog_v2_*`` dir;
    for a directory holding one app's log, that log."""
    if os.path.isfile(path):
        return [path]
    names = os.listdir(path)
    parts = [n for n in names if n.startswith("events_")
             and not n.endswith(".crc")]
    if parts:
        parts.sort(key=lambda n: int(n.split("_")[1]))
        return [os.path.join(path, n) for n in parts]
    logs = [n for n in names if not n.startswith(".")]
    if len(logs) != 1:
        raise ValueError(f"expected one event log under {path}: {logs}")
    return event_files(os.path.join(path, logs[0]))


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def parse(path: str) -> EventLog:
    executions: dict[int, Execution] = {}
    stages: dict[int, Stage] = {}
    accum: dict[int, int] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}

    def stage(sid: int) -> Stage:
        return stages.setdefault(sid, Stage(sid))

    for fname in event_files(path):
        with open(fname, encoding="utf-8") as f:
            for line in f:
                if not line.strip():
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == _SQL + "SparkListenerSQLExecutionStart":
                    x = executions.setdefault(
                        e["executionId"], Execution(e["executionId"]))
                    x.description = e.get("description", "")
                    x.start_ms = e.get("time", 0)
                    _plan(x, e)
                elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                    x = executions.setdefault(
                        e["executionId"], Execution(e["executionId"]))
                    _plan(x, e)
                elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                    x = executions.setdefault(
                        e["executionId"], Execution(e["executionId"]))
                    x.end_ms = e.get("time", 0)
                elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc_id, value in e.get("accumUpdates", []):
                        accum[acc_id] = accum.get(acc_id, 0) + _int(value)
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    xid = props.get("spark.sql.execution.id")
                    if xid is not None:
                        job_exec[e["Job ID"]] = int(xid)
                        executions.setdefault(
                            int(xid), Execution(int(xid))).jobs.append(
                                e["Job ID"])
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, e["Job ID"])
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    s = stage(info["Stage ID"])
                    s.name = info.get("Stage Name", "")
                    s.submit_ms = info.get("Submission Time", 0) or 0
                    s.complete_ms = info.get("Completion Time", 0) or 0
                    for rdd in info.get("RDD Info", []):
                        if rdd.get("Scope"):
                            s.scopes.add(json.loads(rdd["Scope"])["name"])
                        lvl = rdd.get("Storage Level") or {}
                        if lvl.get("Use Memory") or lvl.get("Use Disk"):
                            s.cached_rdds.append(rdd.get("Name", ""))
                elif ev == "SparkListenerTaskEnd":
                    _task(stage(e["Stage ID"]), e, accum)
    for sid, s in stages.items():
        s.execution_id = job_exec.get(stage_job.get(sid))
    return EventLog(executions, stages, accum, job_exec)


def _plan(x: Execution, e: dict) -> None:
    """Keep the latest (AQE-final) plan of an execution."""
    x.plan_text = e.get("physicalPlanDescription", "")
    x.nodes = []
    _walk(e.get("sparkPlanInfo", {}), x.nodes)
    for n in x.nodes:
        m = _WRITE_TARGET.search(n.simple)
        if m:
            x.write_target = m.group(1)


def _task(s: Stage, e: dict, accum: dict) -> None:
    s.tasks += 1
    m = e.get("Task Metrics") or {}
    s.run_ms += _int(m.get("Executor Run Time"))
    s.cpu_ns += _int(m.get("Executor CPU Time"))
    s.gc_ms += _int(m.get("JVM GC Time"))
    s.peak_mem = max(s.peak_mem, _int(m.get("Peak Execution Memory")))
    s.spill_mem += _int(m.get("Memory Bytes Spilled"))
    s.spill_disk += _int(m.get("Disk Bytes Spilled"))
    rd = m.get("Shuffle Read Metrics") or {}
    s.shuffle_read += (_int(rd.get("Remote Bytes Read"))
                       + _int(rd.get("Local Bytes Read")))
    s.shuffle_write += _int(
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    s.input_bytes += _int((m.get("Input Metrics") or {}).get("Bytes Read"))
    s.output_bytes += _int(
        (m.get("Output Metrics") or {}).get("Bytes Written"))
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Metadata") == "sql" or not str(
                a.get("Name", "")).startswith("internal."):
            accum[a["ID"]] = accum.get(a["ID"], 0) + _int(a.get("Update"))

"""Spark event-log parser: per job description, what the tasks did.

A traced run sets a job description (`sc.setJobDescription`) before every
call into a layer, so grouping jobs by description groups them by layer.
Each group is summarised from Spark's own records:

- SparkListenerJobStart gives job -> stages, the description and the SQL
  execution id.
- SparkListenerTaskEnd gives executor run/CPU time, input, output and
  shuffle bytes, and the per-task updates of every SQL metric, including
  the Python-worker ones PySpark 4 records on its Arrow/Python nodes
  ("data sent to Python workers", "time to run Python workers", ...).
- SQLExecutionStart / SQLAdaptiveExecutionUpdate give the physical plan;
  the last adaptive update is the final plan, whose Exchange nodes are
  counted, and whose nodes name each SQL metric accumulator.

The log must be uncompressed (spark.eventLog.compress=false). Both the
single-file and the rolling (eventlog_v2_*/events_N_*) layouts are read.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")
# the output path in the details of a plan's root write command
_WRITE = re.compile(
    r"\A== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand .*"
    r"^\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n"
    r"(?:.*\n)*?Arguments: (?:file:)?([^,\n]+),",
    re.S | re.M,
)
# SQL metric types -> factor to seconds / plain units
_TIME_FACTOR = {"timing": 1e-3, "nsTiming": 1e-9}


def event_files(path: str) -> list[str]:
    """The event files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    entries = []
    for root, _, files in os.walk(path):
        for f in files:
            m = re.match(r"events_(\d+)_", f)
            if m:
                entries.append((int(m.group(1)), os.path.join(root, f)))
            elif not f.startswith((".", "appstatus")):
                entries.append((0, os.path.join(root, f)))
    return [p for _, p in sorted(entries)]


def read_events(path: str):
    for p in event_files(path):
        with open(p, encoding="utf-8") as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


@dataclass
class Summary:
    """Totals over every job that carried one description."""

    jobs: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    write_task_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    exchanges: int = 0
    executions: int = 0
    # SQL metric totals by (plan node name, metric name); timings in s
    sql: dict = field(default_factory=lambda: defaultdict(float))
    # executions whose final plan has a node whose text matches the
    # probe passed to parse()
    probe_executions: int = 0

    def metric(self, name: str, node: str | None = None) -> float:
        """Total of one SQL metric, on one kind of plan node or on all."""
        return sum(v for (n, m), v in self.sql.items() if m == name and node in (None, n))


def _num(x) -> float:
    return float(x) if x is not None else 0.0


@dataclass
class Execution:
    """One SQL execution that ran at least one job."""

    exec_id: int
    desc: str
    jobs: int
    start_ms: int
    end_ms: int
    write_path: str | None  # output of a root InsertIntoHadoopFsRelation

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1e3


def parse(
    path: str, probe: str | None = None
) -> tuple[dict[str, Summary], list[Execution]]:
    """({job description: Summary}, executions in start order). `probe`
    is a regex matched against the final plan's node text to count the
    executions holding a given node (the scorer, for instance)."""
    stage_desc: dict[int, str] = {}
    exec_jobs: dict[int, int] = defaultdict(int)
    exec_times: dict[int, list] = {}
    exec_desc: dict[int, str] = {}
    plans: dict[int, dict] = {}
    acc_meta: dict[int, tuple[str, str, str]] = {}
    out: dict[str, Summary] = defaultdict(Summary)
    task_ends = []

    for e in read_events(path):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description") or ""
            out[desc].jobs += 1
            for s in e.get("Stage IDs", []):
                stage_desc.setdefault(s, desc)
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_desc.setdefault(int(exec_id), desc)
                exec_jobs[int(exec_id)] += 1
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plan = e["sparkPlanInfo"]
            plans[int(e["executionId"])] = plan
            if kind.endswith("ExecutionStart"):
                written = _WRITE.match(e.get("physicalPlanDescription") or "")
                exec_times[int(e["executionId"])] = [
                    e.get("time", 0),
                    e.get("time", 0),
                    written.group(1) if written else None,
                ]
            for node in _walk(plan):
                for m in node.get("metrics", []):
                    acc_meta[int(m["accumulatorId"])] = (
                        node["nodeName"],
                        m["name"],
                        m.get("metricType", "sum"),
                    )
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if int(e["executionId"]) in exec_times:
                exec_times[int(e["executionId"])][1] = e.get("time", 0)
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(e)

    for e in task_ends:
        s = out[stage_desc.get(e["Stage ID"], "")]
        m = e.get("Task Metrics") or {}
        s.tasks += 1
        run_s = _num(m.get("Executor Run Time")) / 1e3
        s.run_s += run_s
        s.cpu_s += _num(m.get("Executor CPU Time")) / 1e9
        s.input_bytes += int(_num((m.get("Input Metrics") or {}).get("Bytes Read")))
        written = int(_num((m.get("Output Metrics") or {}).get("Bytes Written")))
        s.output_bytes += written
        if written:
            s.write_task_s += run_s
        sw = m.get("Shuffle Write Metrics") or {}
        s.shuffle_write_bytes += int(_num(sw.get("Shuffle Bytes Written")))
        sr = m.get("Shuffle Read Metrics") or {}
        s.shuffle_read_bytes += int(
            _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
        )
        for acc in (e.get("Task Info") or {}).get("Accumulables", []):
            meta = acc_meta.get(int(acc["ID"]))
            if meta is None or acc.get("Update") is None:
                continue
            node, name, mtype = meta
            s.sql[node, name] += _num(acc["Update"]) * _TIME_FACTOR.get(mtype, 1.0)

    probe_re = re.compile(probe) if probe else None
    for exec_id, plan in plans.items():
        desc = exec_desc.get(exec_id)
        if desc is None:
            continue  # no job ran under this execution
        s = out[desc]
        s.executions += 1
        nodes = list(_walk(plan))
        s.exchanges += sum(n["nodeName"] in EXCHANGE_NODES for n in nodes)
        if probe_re and any(
            probe_re.search(n.get("simpleString", "")) for n in nodes
        ):
            s.probe_executions += 1
    executions = [
        Execution(i, exec_desc[i], exec_jobs[i], *exec_times[i])
        for i in sorted(exec_times)
        if i in exec_desc
    ]
    return dict(out), executions


"""Stdlib-only reader for uncompressed Spark event logs.

``fold`` reads the JSON-lines log once and sums task metrics per job
group (the benchmark sets one group per traced call with
``SparkContext.setJobGroup``), keeps one record per stage for the
stage-level splits the CLI layers need, and adds SQL-metric updates
(task accumulables and updates made outside tasks) under the plan node that
owns them, e.g. ``("MapInPandas", "number of output rows")``.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_TASK_FIELDS = (
    "tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "input_records",
    "shuffle_read_bytes", "shuffle_read_records", "shuffle_write_bytes",
    "spill_bytes", "output_records", "output_bytes",
)


@dataclass
class StageRecord:
    stage_id: int
    group: str
    name: str = ""
    counts: dict = field(default_factory=lambda: dict.fromkeys(_TASK_FIELDS, 0))

    def reads_files(self) -> bool:
        return self.counts["input_records"] > 0

    def reads_shuffle(self) -> bool:
        return self.counts["shuffle_read_records"] > 0

    def writes_output(self) -> bool:
        return self.counts["output_records"] > 0


@dataclass
class GroupTotals:
    jobs: int = 0
    stages: int = 0
    job_ms: float = 0.0
    peak_exec_mem: int = 0
    counts: dict = field(default_factory=lambda: dict.fromkeys(_TASK_FIELDS, 0))
    sql: dict = field(default_factory=lambda: defaultdict(int))


@dataclass
class StreamTotals:
    batches: int = 0
    input_rows: int = 0
    batch_ms: float = 0.0
    state_rows: int = 0


@dataclass
class Fold:
    groups: dict = field(default_factory=lambda: defaultdict(GroupTotals))
    stages: dict = field(default_factory=dict)
    stream: StreamTotals = field(default_factory=StreamTotals)

    def group(self, name: str) -> GroupTotals:
        return self.groups[name] if name in self.groups else GroupTotals()

    def stages_of(self, group: str) -> list[StageRecord]:
        return [s for s in self.stages.values() if s.group == group]


def _task_counts(task: dict) -> dict:
    m = task.get("Task Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "input_bytes": inp.get("Bytes Read", 0),
        "input_records": inp.get("Records Read", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_read_records": sr.get("Total Records Read", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "output_records": out.get("Records Written", 0),
        "output_bytes": out.get("Bytes Written", 0),
    }


def _plan_metrics(node: dict, into: dict) -> None:
    name = node.get("nodeName", "").strip()
    for metric in node.get("metrics", ()):
        into[metric["accumulatorId"]] = (name, metric["name"])
    for child in node.get("children", ()):
        _plan_metrics(child, into)


def _number(v) -> float | None:
    """SQL accumulables carry their values as strings."""
    if isinstance(v, (int, float)):
        return v
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def fold(lines, resolve=None) -> Fold:
    """Fold event-log lines (an iterable of JSON strings) into totals.

    ``resolve(group, submit_ms)`` may rename a job's group, e.g. to give
    a streaming query's own run-id group to the call that started it.
    """
    out = Fold()
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    acc_owner: dict[int, tuple[str, str]] = {}
    untasked: list[tuple[int, int, float]] = []
    for line in lines:
        if not line.strip():
            continue
        e = json.loads(line)
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            if resolve is not None:
                group = resolve(group, e.get("Submission Time", 0))
            job_group[e["Job ID"]] = group
            job_start[e["Job ID"]] = e.get("Submission Time", 0)
            if "spark.sql.execution.id" in props:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            out.groups[group].jobs += 1
            for sid in e.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_start:
                out.groups[job_group[jid]].job_ms += e.get("Completion Time", 0) - job_start[jid]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in out.stages:
                out.stages[sid].name = info.get("Stage Name", "")
            out.groups[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = stage_group.get(sid, "")
            totals = out.groups[group]
            rec = out.stages.setdefault(sid, StageRecord(sid, group))
            for k, v in _task_counts(e).items():
                totals.counts[k] += v
                rec.counts[k] += v
            peak = (e.get("Task Metrics") or {}).get("Peak Execution Memory", 0)
            totals.peak_exec_mem = max(totals.peak_exec_mem, peak)
            for acc in (e.get("Task Info") or {}).get("Accumulables", ()):
                owner = acc_owner.get(acc.get("ID"))
                value = _number(acc.get("Update"))
                if owner is not None and value is not None:
                    totals.sql[owner] += value
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metrics(e.get("sparkPlanInfo") or {}, acc_owner)
        elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
            progress = e.get("progress") or {}
            out.stream.batches += 1
            out.stream.input_rows += sum(
                src.get("numInputRows", 0) for src in progress.get("sources", ())
            )
            out.stream.batch_ms += progress.get("batchDuration", 0)
            out.stream.state_rows += sum(
                op.get("numRowsTotal", 0) for op in progress.get("stateOperators", ())
            )
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e.get("accumUpdates", ()):
                untasked.append((e.get("executionId"), acc_id, value))
    # updates made outside tasks can precede the execution's first job, which
    # is what names its group: resolve them once every job is known
    for exec_id, acc_id, value in untasked:
        owner = acc_owner.get(acc_id)
        if owner is not None:
            out.groups[exec_group.get(exec_id, "")].sql[owner] += value
    return out


def fold_file(path: str) -> Fold:
    with open(path, encoding="utf-8") as fh:
        return fold(fh)

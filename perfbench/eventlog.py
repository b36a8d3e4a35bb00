"""Fold a Spark event log (uncompressed JSON lines) into per-job-group
counters, with the stdlib only.

The runner gives every operation a job group `<phase>|<pass>|<op>|<layer>`
(see `group_name`): `layer` is `build` while the program builds the
plan (eager jobs such as `persist().count()` land there) and `run`
while the result is forced. Jobs, stages and tasks are attributed to
the group their submit event carries; SQL metrics to the group of
their SQL execution.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

from stats import median

PY_BYTES_SENT = "data sent to Python workers"
ROWS = "number of output rows"
_SQL = "org.apache.spark.sql.execution.ui."


def group_name(phase: str, pass_no: int, op: str, layer: str) -> str:
    return f"{phase}|{pass_no}|{op}|{layer}"


def split_group(group: str | None) -> tuple[str, int, str, str] | None:
    """Inverse of group_name; None for jobs outside any runner group
    (setup, checks) or a foreign group name."""
    if not group:
        return None
    parts = group.split("|")
    if len(parts) != 4 or not parts[1].isdigit():
        return None
    return parts[0], int(parts[1]), parts[2], parts[3]


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 1.0
    python_bytes: int = 0
    python_rows: int = 0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))


def read_events(path: str):
    """Events of one application's uncompressed event-log file."""
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def _count(value) -> int | None:
    """An accumulator update as an int; the log writes some as strings."""
    if isinstance(value, int):
        return value
    if isinstance(value, str) and value.lstrip("-").isdigit():
        return int(value)
    return None


def _python_rows(plan: dict) -> list[int]:
    """Accumulator ids counting the rows that enter Python evaluation:
    for every Python/pandas node, the output-row counters of the nearest
    descendants that have one."""
    ids: list[int] = []

    def inputs(node: dict) -> None:
        for m in node["metrics"]:
            if m["name"] == ROWS:
                ids.append(m["accumulatorId"])
                return
        for c in node["children"]:
            inputs(c)

    def walk(node: dict) -> None:
        name = node["nodeName"]
        if "Python" in name or "Pandas" in name:
            for c in node["children"]:
                inputs(c)
        for c in node["children"]:
            walk(c)

    walk(plan)
    return ids


def fold(events) -> dict[str, GroupStats]:
    """Per-group counters over one application's events."""
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[tuple[int, int], str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    acc_sum: dict[int, int] = defaultdict(int)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = e.get("Properties", {}).get("spark.jobGroup.id")
            if g:
                out[g].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            g = e.get("Properties", {}).get("spark.jobGroup.id")
            info = e["Stage Info"]
            if g:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            if g:
                out[g].stages += 1
        elif kind == "SparkListenerTaskEnd":
            for a in e["Task Info"].get("Accumulables", []):
                n = _count(a.get("Update"))
                if n is not None:
                    acc_sum[a["ID"]] += n
            g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            m = e.get("Task Metrics")
            if not g or not m:
                continue
            s = out[g]
            s.tasks += 1
            s.run_ms += m["Executor Run Time"]
            s.cpu_ns += m["Executor CPU Time"]
            s.gc_ms += m["JVM GC Time"]
            s.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            s.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            s.shuffle_read_bytes += r["Remote Bytes Read"] + r["Local Bytes Read"]
            for a in e["Task Info"].get("Accumulables", []):
                if a.get("Name") == PY_BYTES_SENT:
                    s.python_bytes += _count(a.get("Update")) or 0
            s.stage_task_ms[(e["Stage ID"], e["Stage Attempt ID"])].append(
                m["Executor Run Time"]
            )
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            if e.get("jobGroupId"):
                exec_group[e["executionId"]] = e["jobGroupId"]
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            exec_plan[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                acc_sum[acc_id] += _count(value) or 0
    for ex, g in exec_group.items():
        out[g].python_rows += sum(acc_sum[i] for i in _python_rows(exec_plan[ex]))
    for s in out.values():
        for times in s.stage_task_ms.values():
            mid = median(times)
            if len(times) >= 2 and mid > 0:
                s.task_skew = max(s.task_skew, max(times) / mid)
    return dict(out)

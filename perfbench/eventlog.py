"""Parse a Spark event log into per-operation job, task, stream and plan
facts.

The log is Spark's own JSON-lines event log (``spark.eventLog.enabled``,
uncompressed, not rolling). Jobs are attributed to the benchmark's
operations through their job group, which the workload sets to a tag
unique to each operation before the registry call. Streaming
micro-batches run under their own job group, the stream's run id; a
stream belongs to the operation in flight when its ``QueryStartedEvent``
was posted.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime

_SQL = "org.apache.spark.sql.execution.ui."
_STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"

# Physical-plan node names that run Python on executors.
PYTHON_NODES = frozenset(
    {
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "FlatMapGroupsInPandas",
        "FlatMapCoGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInArrow",
        "FlatMapGroupsInPandasWithState",
        "TransformWithStateInPandas",
        "AggregateInPandas",
        "WindowInPandas",
        "BatchEvalPythonUDTF",
        "ArrowEvalPythonUDTF",
    }
)

TASK_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "deser_ms", "in_b", "out_b", "shr_b", "shw_b", "spill_b")


@dataclass
class Job:
    id: int
    group: str | None
    submit_s: float
    exec_id: int | None


@dataclass
class Log:
    jobs: list[Job] = field(default_factory=list)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    stage_metrics: dict[int, dict[str, float]] = field(
        default_factory=lambda: defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0))
    )
    stream_start: dict[str, float] = field(default_factory=dict)  # run id -> wall s
    progress: list[dict] = field(default_factory=list)
    plans: dict[int, dict] = field(default_factory=dict)  # exec id -> final plan info


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _add_task(acc: dict[str, float], m: dict) -> None:
    acc["tasks"] += 1
    acc["run_ms"] += m.get("Executor Run Time", 0)
    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
    acc["gc_ms"] += m.get("JVM GC Time", 0)
    acc["deser_ms"] += m.get("Executor Deserialize Time", 0)
    acc["in_b"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
    acc["out_b"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics", {})
    acc["shr_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shw_b"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    acc["spill_b"] += m.get("Disk Bytes Spilled", 0)


def parse(path: str) -> Log:
    log = Log()
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                log.jobs.append(
                    Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        int(exec_id) if exec_id is not None else None,
                    )
                )
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                log.stage_group[ev["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                _add_task(log.stage_metrics[ev["Stage ID"]], ev.get("Task Metrics") or {})
            elif kind == _STREAM + "QueryStartedEvent":
                log.stream_start[ev["runId"]] = _iso_s(ev["timestamp"])
            elif kind == _STREAM + "QueryProgressEvent":
                log.progress.append(ev["progress"])
            elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                log.plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return log


def plan_counts(info: dict) -> dict[str, int]:
    """Node counts of one physical plan tree (AQE stages included)."""
    counts = dict.fromkeys(("exchanges", "sort_merge_joins", "sort_aggregates", "python_evals", "in_memory_scans"), 0)
    stack = [info]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        if name == "Exchange":
            counts["exchanges"] += 1
        elif name == "SortMergeJoin":
            counts["sort_merge_joins"] += 1
        elif name == "SortAggregate":
            counts["sort_aggregates"] += 1
        elif name == "InMemoryTableScan":
            counts["in_memory_scans"] += 1
        elif name in PYTHON_NODES:
            counts["python_evals"] += 1
        stack.extend(node.get("children", []))
    return counts


def attribute(log: Log, ops: list[dict]) -> dict[str, dict]:
    """Map each operation tag to its jobs, stream runs and stages.

    ``ops`` carry ``tag``, ``start`` and ``end`` (wall clock s). Returns
    tag -> {"jobs": [Job], "runs": set(run id), "stages": set(stage id)}.
    Jobs matching no operation are returned under the key ``None``."""
    by_tag: dict = {op["tag"]: {"jobs": [], "runs": set(), "stages": set()} for op in ops}
    by_tag[None] = {"jobs": [], "runs": set(), "stages": set()}
    run_tag = {}
    for run_id, t in log.stream_start.items():
        for op in ops:
            if op["start"] <= t <= op["end"]:
                run_tag[run_id] = op["tag"]
                by_tag[op["tag"]]["runs"].add(run_id)
                break

    def owner(group: str | None):
        if group in by_tag:
            return group
        return run_tag.get(group)

    for job in log.jobs:
        by_tag[owner(job.group)]["jobs"].append(job)
    for stage, group in log.stage_group.items():
        by_tag[owner(group)]["stages"].add(stage)
    return by_tag

"""Roll up a Spark event log per job group, with stdlib ``json`` only.

The traced run tags every span's Spark work with ``sc.setJobGroup`` and
writes an uncompressed, non-rolling event log.  ``rollup`` reads it once and
returns one ``GroupStats`` per job group: jobs, stages, tasks, task metrics,
the SQL metrics that tasks report (Python-worker times and bytes among
them), and the shuffle bytes written by round-robin exchanges placed
directly over a parquet scan (``catalog.load_table``'s rebalance).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    fetch_wait_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    rebalance_shuffle_bytes: int = 0
    #: (start_s, end_s) of each job, epoch seconds
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    #: "<plan node>#<accumulator id>/<SQL metric name>" -> summed task
    #: updates, timings converted to seconds
    sql: dict[str, float] = field(default_factory=dict)

    def sql_total(self, metric: str) -> float:
        """Sum of one SQL metric over every plan node."""
        return sum(v for k, v in self.sql.items() if k.endswith("/" + metric))

    def sql_node_max(self, node: str, metric: str) -> float:
        """Largest value of one SQL metric among the plan nodes named ``node``."""
        return max((v for k, v in self.sql.items()
                    if k.startswith(node + "#") and k.endswith("/" + metric)), default=0.0)


def _plan_nodes(info: dict):
    stack = [info]
    while stack:
        node = stack.pop()
        yield node
        stack.extend(node.get("children", []))


def _is_exchange(node: dict) -> bool:
    return node["nodeName"] == "Exchange" or node["nodeName"].startswith("ShuffleQueryStage")


def _rebalance_accumulators(info: dict) -> set[int]:
    """Accumulator ids of 'shuffle bytes written' on round-robin exchanges
    whose input is a parquet scan with no exchange in between."""
    ids: set[int] = set()
    for node in _plan_nodes(info):
        if not (_is_exchange(node) and "RoundRobinPartitioning" in node.get("simpleString", "")):
            continue
        below = []
        stack = list(node.get("children", []))
        while stack:
            child = stack.pop()
            if _is_exchange(child):
                continue
            below.append(child["nodeName"])
            stack.extend(child.get("children", []))
        if any(name.startswith("Scan parquet") for name in below):
            ids.update(
                m["accumulatorId"] for m in node["metrics"] if m["name"] == "shuffle bytes written"
            )
    return ids


def _metric_info(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for node in _plan_nodes(info):
        for m in node["metrics"]:
            out[m["accumulatorId"]] = (node["nodeName"].strip(), m["name"], m["metricType"])


def _add_sql(g: GroupStats, acc_id: int, name: str, value: float, metric_info) -> None:
    node, metric_name, kind = metric_info.get(acc_id, ("?", name, None))
    if kind == "timing":  # milliseconds
        value /= 1e3
    elif kind == "nsTiming":
        value /= 1e9
    key = f"{node}#{acc_id}/{metric_name}"
    g.sql[key] = g.sql.get(key, 0.0) + value


def rollup(path: str) -> dict[str, GroupStats]:
    """Per job group statistics of one event log file.  Work run outside any
    job group is collected under the empty string."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    metric_info: dict[int, tuple[str, str, str]] = {}
    rebalance_ids: set[int] = set()
    execution_group: dict[int, str] = {}

    def group(name: str | None) -> GroupStats:
        return groups.setdefault(name or "", GroupStats())

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                job_group[ev["Job ID"]] = gid
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
                group(gid).jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    group(job_group[jid]).job_intervals.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                group(stage_group.get(ev["Stage Info"]["Stage ID"])).stages += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(group(stage_group.get(ev["Stage ID"])), ev, metric_info, rebalance_ids)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                # driver-side SQL metrics, e.g. the files a write committed
                g = group(execution_group.get(ev["executionId"]))
                for acc_id, value in ev["accumUpdates"]:
                    _add_sql(g, acc_id, "", float(value), metric_info)
            elif "sparkPlanInfo" in ev:
                # SQLExecutionStart and SQLAdaptiveExecutionUpdate (AQE replans)
                if "jobGroupId" in ev:
                    execution_group[ev["executionId"]] = ev["jobGroupId"] or ""
                _metric_info(ev["sparkPlanInfo"], metric_info)
                rebalance_ids |= _rebalance_accumulators(ev["sparkPlanInfo"])
    return groups


def _add_task(
    g: GroupStats, ev: dict, metric_info: dict[int, tuple[str, str, str]], rebalance_ids: set[int]
) -> None:
    g.tasks += 1
    if ev["Task End Reason"]["Reason"] != "Success":
        g.failed_tasks += 1
    m = ev.get("Task Metrics") or {}
    if m:
        g.task_run_s += m["Executor Run Time"] / 1e3
        g.task_cpu_s += m["Executor CPU Time"] / 1e9
        g.gc_s += m["JVM GC Time"] / 1e3
        g.spill_bytes += m["Disk Bytes Spilled"]
        read = m["Shuffle Read Metrics"]
        g.fetch_wait_s += read["Fetch Wait Time"] / 1e3
        g.shuffle_read_bytes += read["Remote Bytes Read"] + read["Local Bytes Read"]
        g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        g.input_bytes += m["Input Metrics"]["Bytes Read"]
        g.output_bytes += m["Output Metrics"]["Bytes Written"]
    for acc in ev["Task Info"].get("Accumulables", []):
        if acc.get("Metadata") != "sql" or "Update" not in acc:
            continue
        value = float(acc["Update"])
        if acc["ID"] in rebalance_ids:
            g.rebalance_shuffle_bytes += int(value)
        _add_sql(g, acc["ID"], acc["Name"], value, metric_info)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total

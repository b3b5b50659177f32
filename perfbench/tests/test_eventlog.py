"""Roll-up of a small recorded event log (``record_eventlog.py`` made it).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from perfbench import eventlog  # noqa: E402

LOG = os.path.join(HERE, "small_eventlog.json")


def _events():
    with open(LOG) as f:
        return [json.loads(line) for line in f]


def test_jobs_stages_and_tasks_land_in_their_groups():
    groups = eventlog.rollup(LOG)
    assert {"rebalance", "python", "write"} <= set(groups)
    events = _events()
    for gid, g in groups.items():
        jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
                and (e["Properties"].get("spark.jobGroup.id") or "") == gid]
        assert g.jobs == len(jobs)
        assert len(g.job_intervals) == len(jobs)
    total_tasks = sum(1 for e in events if e["Event"] == "SparkListenerTaskEnd")
    assert sum(g.tasks for g in groups.values()) == total_tasks
    assert all(g.failed_tasks == 0 for g in groups.values())
    assert groups["rebalance"].stages >= 2  # scan + round-robin exchange, then the sink


def test_rebalance_shuffle_bytes_are_the_round_robin_exchange_writes():
    g = eventlog.rollup(LOG)["rebalance"]
    assert g.rebalance_shuffle_bytes > 0
    # the only shuffle in the group is the rebalance, so the two agree
    assert g.rebalance_shuffle_bytes == g.shuffle_write_bytes
    assert g.input_bytes > 0
    others = [v for k, v in eventlog.rollup(LOG).items() if k != "rebalance"]
    assert all(o.rebalance_shuffle_bytes == 0 for o in others)


def test_python_worker_metrics_are_summed_in_seconds_and_bytes():
    g = eventlog.rollup(LOG)["python"]
    assert g.sql_total("data sent to Python workers") > 0
    assert g.sql_total("data returned from Python workers") > 0
    run_s = g.sql_total("time to run Python workers")
    # a timing metric is converted from ms: it cannot exceed the task time
    assert 0 < run_s <= g.task_run_s + 1e-9
    assert g.sql_node_max("ArrowEvalPython", "number of output rows") == 1000


def test_driver_side_write_metrics_reach_the_writing_group():
    groups = eventlog.rollup(LOG)
    assert groups["write"].sql_total("number of written files") >= 1
    assert groups["write"].output_bytes > 0
    assert groups["python"].sql_total("number of written files") == 0


def test_union_seconds_merges_overlaps():
    assert eventlog.union_seconds([]) == 0.0
    assert eventlog.union_seconds([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == 3.0
    assert eventlog.union_seconds([(2.0, 3.0), (0.0, 1.0)]) == 2.0

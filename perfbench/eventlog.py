"""Read Spark's own event log and reduce it to per-job-group counters.

The traced run enables the event log uncompressed
(``spark.eventLog.compress=false``) and tags every operation with
``SparkContext.setJobGroup``. Each job carries its group in its
properties; stages map to jobs, tasks to stages, and SQL executions to
jobs through ``spark.sql.execution.id``. Only events written by Spark
itself are read, so nothing inside the engine changes.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL = "org.apache.spark.sql.execution.ui."


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``, in order.

    Handles both the single-file layout and the rolling ``eventlog_v2_*``
    directory layout (``events_<n>_<app>`` files, ordered by ``n``).
    """
    paths = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            parts = glob.glob(os.path.join(p, "events_*"))
            parts.sort(key=lambda f: int(os.path.basename(f).split("_")[1]))
            paths += parts
        else:
            paths.append(p)
    events = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def _first_rows_metric(plan: dict) -> int | None:
    """Accumulator id of the top-most ``number of output rows`` metric."""
    for m in plan.get("metrics", ()):
        if m.get("name") == "number of output rows":
            return m["accumulatorId"]
    for child in plan.get("children", ()):
        found = _first_rows_metric(child)
        if found is not None:
            return found
    return None


class Group:
    """Counters of all jobs run under one job group."""

    def __init__(self) -> None:
        self.jobs = self.stages = self.tasks = self.task_failures = 0
        self.executor_run_ms = self.executor_cpu_ns = self.gc_ms = 0
        self.shuffle_write_bytes = self.shuffle_records = 0
        self.fetch_wait_ms = self.spill_bytes = self.result_bytes = 0
        self.input_records = self.peak_memory = 0
        self.sched_wait_ms = 0
        self.output_rows = 0
        self.stage_spans: list[tuple[int, int]] = []

    def covered_ms(self, start_ms: float, end_ms: float) -> float:
        """Length of [start, end] covered by at least one running stage."""
        spans = sorted(
            (max(s, start_ms), min(e, end_ms)) for s, e in self.stage_spans if e > start_ms and s < end_ms
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total


def summarize(events: list[dict]) -> dict[str, Group]:
    """``{job group: Group}`` over every job that ran under a group."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    stage_first_launch: dict[int, int] = {}
    plans: dict[int, dict] = {}
    accum: dict[int, int] = defaultdict(int)
    groups: dict[str, Group] = defaultdict(Group)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id")
            if gid is None:
                continue
            groups[gid].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_group[sid] = gid
            if "spark.sql.execution.id" in props:
                exec_group[int(props["spark.sql.execution.id"])] = gid
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            gid = stage_group.get(info["Stage ID"])
            if gid is None or "Completion Time" not in info:
                continue
            g = groups[gid]
            g.stages += 1
            g.stage_spans.append((info["Submission Time"], info["Completion Time"]))
            launch = stage_first_launch.get(info["Stage ID"])
            if launch is not None:
                g.sched_wait_ms += max(0, launch - info["Submission Time"])
        elif kind == "SparkListenerTaskStart":
            sid, launch = ev["Stage ID"], ev["Task Info"]["Launch Time"]
            stage_first_launch[sid] = min(stage_first_launch.get(sid, launch), launch)
        elif kind == "SparkListenerTaskEnd":
            for a in ev["Task Info"].get("Accumulables", ()):
                if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).lstrip("-").isdigit():
                    accum[a["ID"]] += int(a["Update"])
            gid = stage_group.get(ev["Stage ID"])
            if gid is None:
                continue
            g = groups[gid]
            g.tasks += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                g.task_failures += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += m.get("Executor Run Time", 0)
            g.executor_cpu_ns += m.get("Executor CPU Time", 0)
            g.gc_ms += m.get("JVM GC Time", 0)
            g.result_bytes += m.get("Result Size", 0)
            g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            g.peak_memory = max(g.peak_memory, m.get("Peak Execution Memory", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.shuffle_records += sw.get("Shuffle Records Written", 0)
            g.fetch_wait_ms += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
            g.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[ev["executionId"]] = ev["sparkPlanInfo"]
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in ev["accumUpdates"]:
                accum[acc_id] += value
    for eid, gid in exec_group.items():
        acc_id = _first_rows_metric(plans.get(eid, {}))
        if acc_id is not None:
            groups[gid].output_rows += accum.get(acc_id, 0)
    return dict(groups)

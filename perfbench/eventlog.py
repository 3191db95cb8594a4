"""Reader for Spark's JSON event log, grouped by job group.

The traced session runs each layer prefix inside ``setJobGroup(<layer>)``.
Every job start names its group and its stage ids, so each task end can
be charged to the group whose stage it ran in. Per group, the reader sums
the task metrics Spark itself records (shuffle bytes written, disk spill,
GC time, input records), the slowest task, failed tasks, and the SQL metrics of
chosen plan nodes: the Python bytes and output rows of ``MapInPandas``,
the output rows of ``Generate`` and the file bytes a parquet scan opened.
Accumulator ids are mapped to plan nodes through the ``sparkPlanInfo``
trees of the SQL execution events, including AQE's re-plans. SQL
execution starts also name their job group, which lets a caller count
plan nodes per group.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"
NODE_METRICS = {
    ("MapInPandas", "data sent to Python workers"): "py_bytes_in",
    ("MapInPandas", "data returned from Python workers"): "py_bytes_out",
    ("MapInPandas", "number of output rows"): "py_rows_out",
    ("Generate", "number of output rows"): "generate_rows_out",
    # the task-level "Bytes Read" counter misses parquet's vectored reads
    ("Scan parquet", "size of files read"): "scan_file_bytes",
}


@dataclass
class GroupStats:
    tasks: int = 0
    failed_tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    gc_ms: int = 0
    input_records: int = 0
    max_task_ms: int = 0
    nodes: dict = field(default_factory=lambda: defaultdict(int))
    plans: list = field(default_factory=list)  # physical plan text per SQL execution


def event_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir``: plain files or rolled ``events_N_*``."""
    files = []
    for root, _, names in os.walk(log_dir):
        for n in names:
            if not n.startswith(".") and not n.startswith("appstatus"):
                files.append(os.path.join(root, n))

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (int(m.group(1)) if m else 0, p)

    return sorted(files, key=order)


def _walk_plan(node, out: dict) -> None:
    for m in node.get("metrics", []):
        key = NODE_METRICS.get((node.get("nodeName", "").strip(), m.get("name")))
        if key:
            out[m["accumulatorId"]] = key
    for child in node.get("children", []):
        _walk_plan(child, out)


def read_groups(log_dir: str) -> dict[str, GroupStats]:
    """Per job group statistics of every event file under ``log_dir``."""
    stage_group: dict[int, str] = {}
    execution_group: dict[int, str] = {}
    accum_node: dict[int, str] = {}
    driver_updates = []
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    task_ends = []
    for path in event_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    task_ends.append(e)
                elif kind == SQL_START:
                    _walk_plan(e["sparkPlanInfo"], accum_node)
                    execution_group[e["executionId"]] = e.get("jobGroupId")
                    groups[e.get("jobGroupId")].plans.append(e["physicalPlanDescription"])
                elif kind == DRIVER_ACCUMS:
                    driver_updates.append(e)
                elif kind == SQL_UPDATE:
                    _walk_plan(e["sparkPlanInfo"], accum_node)
    # task ends are charged after all plans are known: AQE re-plans may be
    # logged after the first tasks that update their accumulators
    for e in task_ends:
        g = groups[stage_group.get(e["Stage ID"])]
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        g.tasks += 1
        g.failed_tasks += bool(info.get("Failed"))
        g.max_task_ms = max(g.max_task_ms, info["Finish Time"] - info["Launch Time"])
        g.shuffle_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        g.spill_bytes += m.get("Disk Bytes Spilled", 0)
        g.gc_ms += m.get("JVM GC Time", 0)
        g.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
        for a in info.get("Accumulables", []):
            key = accum_node.get(a["ID"])
            if key and "Update" in a:
                g.nodes[key] += int(a["Update"])
    for e in driver_updates:  # metrics the driver sets, such as file sizes
        g = groups[execution_group.get(e["executionId"])]
        for acc_id, value in e["accumUpdates"]:
            key = accum_node.get(acc_id)
            if key:
                g.nodes[key] += int(value)
    return dict(groups)


def count_nodes(plan: str, node: str) -> int:
    """Operators named ``node`` in a formatted physical plan's detail list."""
    return len(re.findall(rf"^\(\d+\) {re.escape(node)}\b", plan, flags=re.M))


def count_scans_of(plan: str, path: str) -> int:
    """Parquet scans in a formatted physical plan that read ``path``."""
    target = os.path.abspath(path)
    return sum(
        target in loc
        for loc in re.findall(r"^Location: \w+ \[([^\]]*)\]", plan, flags=re.M)
    )

"""Per-layer figures from Spark's own event log.

The traced run enables an uncompressed event log and tags every Spark
job with a job group (``SparkContext.setJobGroup``). This module reads
the log back and sums task metrics and SQL operator metrics per job
group.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = ("time to start Python workers",
            "time to initialize Python workers")


def _plan_nodes(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _plan_nodes(child)


def _events(event_dir: Path):
    # rolling logs: one directory per application, files events_<n>_<app>
    files = sorted(event_dir.glob("*/events_*"),
                   key=lambda p: int(p.name.split("_")[1]))
    for f in files:
        with open(f) as fh:
            for line in fh:
                yield json.loads(line)


class EventLog:
    def __init__(self, event_dir: Path):
        self.job_group: dict[int, str] = {}
        self.stage_job: dict[int, int] = {}
        self.exec_group: dict[int, str] = {}
        # (group, stage) -> list of task dicts
        self.tasks: dict[tuple, list[dict]] = defaultdict(list)
        self.input_scan_accs: set[int] = set()
        self.sql_accs: list[tuple[int, int, int]] = []
        for e in _events(event_dir):
            self._add(e)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id", "")
            self.job_group[e["Job ID"]] = group
            for s in e["Stage IDs"]:
                self.stage_job[s] = e["Job ID"]
            if "spark.sql.execution.id" in props:
                self.exec_group[int(props["spark.sql.execution.id"])] = group
        elif kind == "SparkListenerTaskEnd":
            job = self.stage_job.get(e["Stage ID"])
            group = self.job_group.get(job, "")
            m = e.get("Task Metrics") or {}
            accs: dict[str, int] = defaultdict(int)
            for a in e["Task Info"].get("Accumulables", ()):
                try:  # SQL metrics are numbers; skip block-status lists
                    accs[a["Name"]] += int(a.get("Update"))
                except (TypeError, ValueError):
                    pass
            self.tasks[(group, e["Stage ID"])].append({
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "accs": accs})
        elif kind.endswith("SQLExecutionStart") \
                or kind.endswith("SQLAdaptiveExecutionUpdate"):
            for node in _plan_nodes(e["sparkPlanInfo"]):
                schema = node.get("metadata", {}).get("ReadSchema", "")
                # a scan of the pages input reads the payload column
                # (parquet html, or binaryFile content); output
                # re-scans read no binary column
                if node["nodeName"].startswith("Scan") and (
                        "html:binary" in schema
                        or "content:binary" in schema):
                    for m in node["metrics"]:
                        if m["name"] == "size of files read":
                            self.input_scan_accs.add(m["accumulatorId"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in e["accumUpdates"]:
                self.sql_accs.append((e["executionId"], acc, value))

    # -- per job group ---------------------------------------------------------

    def _stages(self, group: str):
        """Task lists of the group's stages."""
        return [tasks for (g, _), tasks in self.tasks.items() if g == group]

    def task_acc(self, group: str, name: str) -> int:
        return sum(t["accs"].get(name, 0)
                   for tasks in self._stages(group) for t in tasks)

    def task_sum(self, group: str, key: str) -> int:
        return sum(t[key] for tasks in self._stages(group) for t in tasks)

    def extract_stage_skews(self, group: str) -> list[float]:
        """max / median task run time of every stage that runs Python
        (the extraction stages, plus the WARC parse stage)."""
        out = []
        for tasks in self._stages(group):
            if any(PY_SENT in t["accs"] for t in tasks):
                times = [t["run_ms"] for t in tasks]
                med = statistics.median(times)
                if med > 0:
                    out.append(max(times) / med)
        return out

    def input_bytes_scanned(self, group: str) -> int:
        return sum(v for ex, acc, v in self.sql_accs
                   if acc in self.input_scan_accs
                   and self.exec_group.get(ex) == group)

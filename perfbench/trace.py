"""Tracing for the per-layer run: spans recorded around the harness's
own calls into each layer, and Spark counters read back from the
uncompressed event log and attributed to those spans by job group.

Nothing here touches the package: a span sets the job group of the
calling thread before its calls run, and Spark stamps that group on
every job, stage and SQL execution those calls start.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager

from pyspark.sql import SparkSession


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """In-memory spans. A span's name is its path (``op#0/run``), which
    is also the job group of the jobs its calls start; each record keeps
    its ``parent``, wall ``start``/``end`` (epoch seconds, comparable
    with event-log times) and ``wall_s``."""

    def __init__(self, spark: SparkSession):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        path = f"{parent}/{name}" if parent else name
        rec = {"name": path, "parent": parent}
        self._stack.append(path)
        self.sc.setJobGroup(path, path)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1], self._stack[-1])
            else:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    self.sc.setLocalProperty(key, None)
            self.spans.append(rec)

    def wall(self, name: str) -> float:
        return next(s["wall_s"] for s in self.spans if s["name"] == name)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_in_bytes",
    "data returned from Python workers": "python_out_bytes",
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (rolling
    ``eventlog_v2_*/events_*`` files or single-file logs)."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(
        f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)
    )
    events = []
    for path in files:
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def new_group() -> dict:
    return {
        "jobs": 0,
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "gc_ms": 0,
        "python_ms": 0,
        "python_in_bytes": 0,
        "python_out_bytes": 0,
        "job_spans": [],
        "executions": [],
    }


def parse_events(events: list[dict]) -> dict[str, dict]:
    """Counters per job group: jobs, tasks, shuffle bytes written,
    bytes spilled to disk, JVM GC ms, Python worker run ms and Arrow
    bytes in/out, job ``[start, end]`` spans (epoch ms), and each SQL
    execution's call site, physical plan and ``rows``: ``[node, output
    rows]`` for every node of its final adaptive plan."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    accs: dict[int, int] = {}  # accumulator id -> latest value
    executions: dict[int, dict] = {}  # execution id -> its record
    plan_info: dict[int, dict] = {}  # execution id -> latest plan tree
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g is None:
                continue
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            groups.setdefault(g, new_group())["jobs"] += 1
            for sid in e["Stage IDs"]:
                stage_group[sid] = g
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_group:
            g = groups[job_group[e["Job ID"]]]
            g["job_spans"].append([job_start[e["Job ID"]], e["Completion Time"]])
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            g = groups[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["gc_ms"] += m.get("JVM GC Time", 0)
            g["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for acc in info.get("Accumulables", []):
                accs[acc["ID"]] = acc.get("Value")
            if info["Stage ID"] not in stage_group:
                continue
            g = groups[stage_group[info["Stage ID"]]]
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key:
                    g[key] += int(acc.get("Value") or 0)
        elif kind.endswith("SQLExecutionStart") and e.get("jobGroupId"):
            rec = {
                "call": e.get("details", "").split("\n", 1)[0],
                "plan": e.get("physicalPlanDescription", ""),
            }
            executions[e["executionId"]] = rec
            plan_info[e["executionId"]] = e.get("sparkPlanInfo") or {}
            groups.setdefault(e["jobGroupId"], new_group())["executions"].append(rec)
        elif kind.endswith("SQLAdaptiveExecutionUpdate") and e["executionId"] in executions:
            plan_info[e["executionId"]] = e["sparkPlanInfo"]
    for eid, rec in executions.items():
        rec["rows"] = [
            [node["simpleString"], int(accs[m["accumulatorId"]])]
            for node in _nodes(plan_info[eid])
            for m in node.get("metrics", [])
            if m["name"] == "number of output rows" and m["accumulatorId"] in accs
        ]
    return groups


def _nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _nodes(child)


def union_ms(spans: list[list[int]]) -> int:
    """Total length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def session_metrics(group: dict, wall_s: float) -> dict[str, float]:
    """``session.*`` per-layer metrics of one operation's job group."""
    return {
        "session.jobs": group["jobs"],
        "session.tasks": group["tasks"],
        "session.shuffle_write_mb": group["shuffle_write_bytes"] / 1e6,
        "session.spill_mb": group["spill_bytes"] / 1e6,
        "session.gc_s": group["gc_ms"] / 1e3,
        "session.driver_gap_s": max(0.0, wall_s - union_ms(group["job_spans"]) / 1e3),
    }


def function_metrics(group: dict) -> dict[str, float]:
    """``functions.*``: Python worker time and Arrow bytes in and out."""
    return {
        "functions.python_s": group["python_ms"] / 1e3,
        "functions.python_in_mb": group["python_in_bytes"] / 1e6,
        "functions.python_out_mb": group["python_out_bytes"] / 1e6,
    }


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def plan_shape(plans: list[str]) -> dict:
    """Operator counts over physical plans in Spark's formatted
    ``explain`` layout (node list, then one detail block per node)."""
    text = "\n".join(plans)
    header = "\n".join(p.split("\n\n", 1)[0] for p in plans)
    exchange_keys = re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", text)
    return {
        "arrow_eval_python": len(re.findall(r"ArrowEvalPython \(\d+\)", header)),
        "exchanges": len(re.findall(r"Exchange \(\d+\)", header)),
        "in_memory_scans": len(re.findall(r"InMemoryTableScan \(\d+\)", header)),
        "exchange_keys": sorted({re.sub(r"#\d+L?", "", k).split(",")[0] for k in exchange_keys}),
    }


def scans_of(plans: list[str], table: str) -> int:
    """Number of scan nodes that read ``table`` across ``plans``."""
    loc = os.path.abspath(table).rstrip("/")
    return sum(
        1
        for p in plans
        for line in p.split("\n")
        if line.startswith("Location:") and re.search(re.escape(loc) + r"[\],]", line)
    )

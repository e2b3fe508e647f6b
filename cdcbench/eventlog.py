"""Spark's own counters, read back from the event log of a traced run.

Only the traced run enables ``spark.eventLog``. After the session stops,
``read_counters`` folds the log into task totals (run time, CPU, GC,
shuffle, spill, scan bytes), job and task counts, and the SQL metrics of two
plan nodes: ``ArrowEvalPython`` (the pandas-UDF canonicalizer's Python
boundary) and the ``max_by`` aggregate pair that collapses a batch to its
latest row per key (a sort or hash aggregate, as the planner picks). Events
are kept only when their timestamp falls inside one of the given windows
(epoch milliseconds), so warm-up and untraced work are left out."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field
from typing import Iterable, Optional

#: SQL metric name -> counter key, on ArrowEvalPython nodes
_PYTHON_METRICS = {
    "number of output rows": "udf_rows",
    "time to run Python workers": "udf_ms",
    "data sent to Python workers": "udf_bytes_sent",
    "time to start Python workers": "udf_boot_ms",
}


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    scan_bytes: float = 0.0
    #: ArrowEvalPython metrics, keyed as in ``_PYTHON_METRICS``
    python: dict = field(default_factory=dict)
    #: rows into the map-side (partial) max_by aggregate, and out of the
    #: final one
    collapse_rows_in: float = 0.0
    collapse_rows_out: float = 0.0
    #: job submission times (epoch ms), for per-window job counts
    job_times: list = field(default_factory=list)


def _inside(t: Optional[float], windows: list[tuple[float, float]]) -> bool:
    return t is not None and any(lo <= t <= hi for lo, hi in windows)


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _rows_metric(node: dict) -> Optional[dict]:
    for m in node.get("metrics", []):
        if m["name"] == "number of output rows":
            return m
    return None


def _is_collapse(node: dict) -> bool:
    return "Aggregate" in node.get("nodeName", "") and "max_by" in node.get(
        "simpleString", "")


def _classified_metrics(plan: dict):
    """Yield ``(class, metric)`` for the metrics the report reads:
    ``python`` for every ArrowEvalPython metric; for each final max_by
    aggregate, ``collapse_out`` for its output rows and ``collapse_in`` for
    the output rows of the first row-counting node below it and below its
    map-side (partial) half, i.e. what flows into the collapse."""
    for node in _walk(plan):
        if node.get("nodeName", "").startswith("ArrowEvalPython"):
            for m in node.get("metrics", []):
                yield "python", m
        elif _is_collapse(node) and "partial_max_by" not in node["simpleString"]:
            out = _rows_metric(node)
            if out is None:
                continue
            below = [n for n in _walk(node) if n is not node]
            feed = next((n for n in below if not _is_collapse(n) and _rows_metric(n)
                         and not any(_is_collapse(x) for x in _walk(n))), None)
            if feed is not None:
                yield "collapse_out", out
                yield "collapse_in", _rows_metric(feed)


def event_log_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir``: a single file per application,
    or ``eventlog_v2_*/events_<n>_*`` parts when the log rolls."""
    single = glob.glob(os.path.join(log_dir, "local-*"))
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    return sorted(p for p in single + rolled if os.path.isfile(p))


def read_counters(paths: Iterable[str], windows: list[tuple[float, float]]) -> Counters:
    c = Counters()
    #: accumulator id -> (node class, metric name)
    accs: dict[int, tuple[str, str]] = {}
    #: accumulator id -> summed updates inside the windows
    acc_sum: dict[int, float] = {}
    #: SQL executions started inside the windows
    executions: set[int] = set()
    # first pass: plan nodes (an adaptive re-plan reports new nodes in
    # later events, so collect every plan before summing updates)
    events = []
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                events.append(ev)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") and _inside(
                    ev.get("time"), windows
                ):
                    executions.add(ev["executionId"])
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    for cls, m in _classified_metrics(ev.get("sparkPlanInfo", {})):
                        accs[int(m["accumulatorId"])] = (cls, m["name"])
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            t = ev.get("Submission Time")
            if _inside(t, windows):
                c.jobs += 1
                c.job_times.append(t)
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            if not _inside(info.get("Finish Time"), windows):
                continue
            c.tasks += 1
            m = ev.get("Task Metrics") or {}
            c.executor_run_ms += m.get("Executor Run Time", 0)
            c.executor_cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0)
            c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            c.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for a in info.get("Accumulables", []):
                aid = int(a["ID"])
                if aid in accs and "Update" in a:
                    acc_sum[aid] = acc_sum.get(aid, 0.0) + float(a["Update"])
        elif kind.endswith("SQLDriverAccumUpdates"):
            # driver-side metric updates carry no timestamp of their own:
            # keep those of executions that started inside a window
            if ev.get("executionId") not in executions:
                continue
            for aid, val in ev.get("accumUpdates", []):
                if int(aid) in accs:
                    acc_sum[int(aid)] = acc_sum.get(int(aid), 0.0) + float(val)
    for aid, total in acc_sum.items():
        cls, name = accs[aid]
        if cls == "python" and name in _PYTHON_METRICS:
            key = _PYTHON_METRICS[name]
            c.python[key] = c.python.get(key, 0.0) + total
        elif cls == "collapse_in":
            c.collapse_rows_in += total
        elif cls == "collapse_out":
            c.collapse_rows_out += total
    return c

"""Spark's own task and SQL metrics per benchmark span, from the event log.

The traced run tags every Spark job it starts with the local property
``perfbench.span`` (the id of the span open at the time).  After the
session stops, the event log is read back and, per span id, summed over
the tasks of that span's jobs:

* task metrics: run time, GC time, spilled bytes, shuffle bytes written,
  failed tasks;
* SQL metrics: every accumulator update, keyed by the plan node and metric
  name that own it (plan trees come from the execution-start and adaptive
  re-plan events).
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"

_SQL = "org.apache.spark.sql.execution.ui."


class SpanMetrics:
    """Task and SQL metric totals of one span."""

    def __init__(self):
        self.tasks = 0
        self.failed_tasks = 0
        self.run_s = 0.0
        self.gc_s = 0.0
        self.spill_bytes = 0
        self.shuffle_bytes = 0
        # (node name, node description, metric name) -> value; timings in s
        self.sql: dict[tuple[str, str, str], float] = defaultdict(float)

    def sql_sum(self, metric: str, node: str | None = None, text: str | None = None) -> float:
        """Sum of one SQL metric over the plan nodes matching ``node`` (a
        node-name prefix) and ``text`` (a substring of the node string)."""
        return sum(
            v for (n, s, m), v in self.sql.items()
            if m == metric
            and (node is None or n.startswith(node))
            and (text is None or text in s)
        )


def _walk(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (
            plan.get("nodeName", ""), plan.get("simpleString", ""), m["name"], m["metricType"]
        )
    for child in plan.get("children", []):
        _walk(child, out)


def _scale(metric_type: str, value: float) -> float:
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "timing":
        return value / 1e3
    return value


def find_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def read(path: str) -> dict[str, SpanMetrics]:
    """span id -> SpanMetrics, for every span that started a Spark job."""
    accums: dict[int, tuple] = {}
    stage_span: dict[int, str] = {}
    exec_span: dict[int, str] = {}
    task_updates: list[tuple[str, int, float]] = []
    driver_updates: list[tuple[int, int, float]] = []
    out: dict[str, SpanMetrics] = defaultdict(SpanMetrics)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _walk(ev["sparkPlanInfo"], accums)
            elif kind == _SQL + "SparkListenerSQLAdaptiveSQLMetricUpdates":
                for m in ev["sqlPlanMetrics"]:
                    accums.setdefault(m["accumulatorId"], ("", "", m["name"], m["metricType"]))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc_id, value))
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROPERTY)
                if span is None:
                    continue
                for sid in ev["Stage IDs"]:
                    stage_span[sid] = span
                if "spark.sql.execution.id" in props:
                    exec_span[int(props["spark.sql.execution.id"])] = span
            elif kind == "SparkListenerTaskEnd":
                span = stage_span.get(ev["Stage ID"])
                if span is None:
                    continue
                sm = out[span]
                sm.tasks += 1
                info = ev["Task Info"]
                if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
                    sm.failed_tasks += 1
                tm = ev.get("Task Metrics") or {}
                sm.run_s += tm.get("Executor Run Time", 0) / 1e3
                sm.gc_s += tm.get("JVM GC Time", 0) / 1e3
                sm.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                sm.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for acc in info.get("Accumulables", []):
                    upd = _number(acc.get("Update"))
                    if upd is not None:
                        task_updates.append((span, acc["ID"], upd))
    for span, acc_id, value in task_updates:
        _add(out[span], accums.get(acc_id), value)
    for exec_id, acc_id, value in driver_updates:
        span = exec_span.get(exec_id)
        if span is not None:
            _add(out[span], accums.get(acc_id), value)
    return dict(out)


def _number(value):
    """An accumulator update as a number (the log writes them as strings)."""
    if isinstance(value, (int, float)):
        return value
    try:
        return float(value)
    except (TypeError, ValueError):
        return None


def _add(sm: SpanMetrics, meta, value: float) -> None:
    if meta is None:
        return  # an internal task accumulator, not a SQL metric
    node, text, name, metric_type = meta
    sm.sql[(node, text, name)] += _scale(metric_type, value)

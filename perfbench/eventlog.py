"""Spark event-log reader for the traced benchmark run.

Sums job, task and SQL-node metrics over the events of one time
window and maps plan nodes to the package's modules by operator and
UDF name. Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled`` (a single file or a rolling-log directory).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# (plan node name, text in the node's description, layer key, module)
NODE_MODULES = [
    ("MapInPandas", "run(", "fetch", "operators.fetch"),
    ("MapInPandas", "build(", "bloom_add", "operators.seen"),
    ("ArrowEvalPython", "normalize_url_udf(", "normalize", "functions.urls"),
    ("ArrowEvalPython", "canonical_id_udf(", "canonical", "functions.urls"),
    ("ArrowEvalPython", "extract_spans", "parse", "functions.html"),
    ("ArrowEvalPython", "maybe_seen(", "probe", "operators.seen"),
    ("ArrowEvalPython", "robots_allowed(", "robots", "operators.robots"),
    ("Sort", "", "sort", "operators.ranking"),
]

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython")


def node_layer(node_name: str, description: str) -> str | None:
    """Layer key of a plan node, or None when no module owns it."""
    for name, text, key, _module in NODE_MODULES:
        if node_name == name and text in description:
            return key
    return None


def read_events(path: str) -> list[dict]:
    """Events of a log file, or of every ``events_*`` file of a
    rolling-log directory, in order."""
    files = [path]
    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.startswith("events_")
        )
    out = []
    for f in files:
        with open(f) as fh:
            out.extend(json.loads(line) for line in fh if line.strip())
    return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


def _short(event: str) -> str:
    return event.rsplit(".", 1)[-1]


def _value(update, metric_type: str) -> float:
    v = float(update)
    return v / 1e6 if metric_type == "nsTiming" else v  # ns -> ms


def summarize(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Totals over jobs submitted, SQL executions started and tasks
    launched within [t0_ms, t1_ms] (epoch milliseconds).

    Returns a flat dict: ``spark.*`` job/task totals, ``python.*``
    worker metrics over every Python node, and ``node.<layer>.<metric>``
    sums per layer key of ``NODE_MODULES``. ``fetch_task_ms`` lists the
    durations of tasks that sent rows to the fetch node.
    """
    def inside(t: float) -> bool:
        return t0_ms <= t <= t1_ms

    execs: set[int] = set()
    # accumulator id -> (node name, layer, metric name, metric type)
    accs: dict[int, tuple[str, str | None, str, str]] = {}
    out: dict = defaultdict(float)
    sums: dict[int, float] = defaultdict(float)

    def add_plan(plan: dict) -> None:
        for node in _walk(plan):
            name = node["nodeName"]
            layer = node_layer(name, node.get("simpleString", ""))
            if name == "Filter" and "_maybe" in node.get("simpleString", ""):
                layer = ("probe_pass" if "NOT" not in node["simpleString"]
                         else "probe_new")
            for m in node.get("metrics", []):
                accs[m["accumulatorId"]] = (name, layer, m["name"],
                                            m["metricType"])

    fetch_ids: set[int] = set()
    task_rows = []
    for e in events:
        kind = _short(e["Event"])
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            out["spark.jobs"] += 1
        elif kind == "SparkListenerSQLExecutionStart" and inside(e["time"]):
            execs.add(e["executionId"])
            add_plan(e["sparkPlanInfo"])
        elif (kind == "SparkListenerSQLAdaptiveExecutionUpdate"
              and e["executionId"] in execs):
            add_plan(e["sparkPlanInfo"])
        elif (kind == "SparkListenerDriverAccumUpdates"
              and e["executionId"] in execs):
            for aid, v in e["accumUpdates"]:
                sums[aid] += float(v)
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            if not inside(info["Launch Time"]):
                continue
            tm = e.get("Task Metrics") or {}
            out["spark.tasks"] += 1
            out["spark.task_ms"] += tm.get("Executor Run Time", 0)
            out["spark.task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            out["spark.gc_ms"] += tm.get("JVM GC Time", 0)
            out["spark.shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            )
            updates = {}
            for a in info.get("Accumulables", []):
                if a.get("Metadata") == "sql" and "Update" in a:
                    updates[a["ID"]] = float(a["Update"])
                    sums[a["ID"]] += float(a["Update"])
            task_rows.append((info["Finish Time"] - info["Launch Time"], updates))

    for aid, total in sums.items():
        if aid not in accs:
            continue
        name, layer, metric, mtype = accs[aid]
        v = _value(total, mtype)
        if name in PYTHON_NODES:
            if metric == "time to start Python workers":
                out["python.boot_ms"] += v
            elif metric == "time to initialize Python workers":
                out["python.init_ms"] += v
            elif metric == "time to run Python workers":
                out["python.run_ms"] += v
            elif metric == "data sent to Python workers":
                out["python.data_sent_bytes"] += v
        if layer is not None:
            out[f"node.{layer}.{metric}"] += v
            if layer == "fetch" and metric == "data sent to Python workers":
                fetch_ids.add(aid)

    out["fetch_task_ms"] = [
        ms for ms, upd in task_rows if any(upd.get(a, 0) > 0 for a in fetch_ids)
    ]
    return dict(out)


def module_ms(summary: dict) -> dict[str, float]:
    """Spark-reported busy ms per module: Python worker run time of its
    UDF nodes, sort time of its Sort nodes."""
    out: dict[str, float] = defaultdict(float)
    for _name, _text, key, module in NODE_MODULES:
        out[module] += summary.get(f"node.{key}.time to run Python workers", 0.0)
        out[module] += summary.get(f"node.{key}.sort time", 0.0)
    return dict(out)


def task_skew(durations: list[float]) -> float:
    """Slowest task over the median task; 0 with no tasks."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0

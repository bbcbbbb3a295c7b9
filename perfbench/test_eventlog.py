"""Event-log parser test on a small recorded Spark event log.

    python3 -m pytest perfbench/test_eventlog.py

``testdata/small_eventlog.jsonl`` is a trimmed event log of one Spark
SQL execution at local[2]: 40 URLs hash-repartitioned (a shuffle) into
a ``mapInPandas`` stage whose function is named ``run``, like the fetch
seam's, followed by ``normalize_url_udf``. Plan descriptions and task
fields the parser does not read were dropped.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from perfbench import eventlog

LOG = Path(__file__).resolve().parent / "testdata" / "small_eventlog.jsonl"


@pytest.fixture(scope="module")
def events():
    return eventlog.read_events(str(LOG))


def _start_ms(events) -> int:
    return min(e["time"] for e in events
               if e["Event"].endswith("SQLExecutionStart"))


@pytest.fixture(scope="module")
def summary(events):
    t = _start_ms(events)
    return eventlog.summarize(events, t - 1000, t + 600_000)


def test_python_worker_metrics(summary):
    # fetch node: what Spark reported for the mapInPandas node
    assert summary["node.fetch.number of output rows"] == 40
    assert summary["node.fetch.data sent to Python workers"] > 0
    assert summary["node.normalize.number of output rows"] == 40
    for metric in ("time to start Python workers",
                   "time to initialize Python workers",
                   "time to run Python workers"):
        per_node = (summary[f"node.fetch.{metric}"]
                    + summary[f"node.normalize.{metric}"])
        assert per_node > 0
    # python.* totals are the sums over every Python node
    assert summary["python.boot_ms"] == (
        summary["node.fetch.time to start Python workers"]
        + summary["node.normalize.time to start Python workers"]
    )
    assert summary["python.init_ms"] == (
        summary["node.fetch.time to initialize Python workers"]
        + summary["node.normalize.time to initialize Python workers"]
    )
    assert summary["python.data_sent_bytes"] == (
        summary["node.fetch.data sent to Python workers"]
        + summary["node.normalize.data sent to Python workers"]
    )


def test_shuffle_and_task_totals(events, summary):
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert summary["spark.tasks"] == len(tasks)
    assert summary["spark.shuffle_write_bytes"] == sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        for e in tasks
    ) > 0
    assert summary["spark.jobs"] >= 1
    # tasks that sent rows to the fetch node: the two reduce partitions
    assert len(summary["fetch_task_ms"]) == 2


def test_window_excludes_other_events(events):
    t = _start_ms(events)
    before = eventlog.summarize(events, t - 600_000, t - 1)
    assert before.get("spark.tasks", 0) == 0
    assert before.get("python.boot_ms", 0) == 0
    assert before["fetch_task_ms"] == []


def test_rolling_log_directory(tmp_path, summary):
    lines = LOG.read_text().splitlines(keepends=True)
    half = len(lines) // 2
    (tmp_path / "events_1_app").write_text("".join(lines[:half]))
    (tmp_path / "events_2_app").write_text("".join(lines[half:]))
    shutil.copy(LOG, tmp_path / "appstatus_app")  # not an events_ file
    ev = eventlog.read_events(str(tmp_path))
    t = _start_ms(ev)
    assert eventlog.summarize(ev, t - 1000, t + 600_000) == summary


@pytest.mark.parametrize(
    "node, text, layer",
    [
        ("MapInPandas", "MapInPandas run(siteid#1, url_key#2)#3", "fetch"),
        ("MapInPandas", "MapInPandas build(_bh1#1, _bh2#2)#3", "bloom_add"),
        ("ArrowEvalPython", "ArrowEvalPython [normalize_url_udf(u#1)#2]",
         "normalize"),
        ("ArrowEvalPython", "ArrowEvalPython [maybe_seen(_bh1#1, _bh2#2)#3]",
         "probe"),
        ("ArrowEvalPython", "ArrowEvalPython [robots_allowed(h#1, p#2)#3]",
         "robots"),
        ("Sort", "Sort [depth#1 ASC NULLS FIRST], false, 0", "sort"),
        ("Exchange", "Exchange hashpartitioning(host_bucket#1, 64)", None),
    ],
)
def test_node_layer(node, text, layer):
    assert eventlog.node_layer(node, text) == layer


def test_module_ms(summary):
    ms = eventlog.module_ms(summary)
    assert ms["operators.fetch"] == summary["node.fetch.time to run Python workers"]
    assert ms["functions.urls"] == (
        summary["node.normalize.time to run Python workers"]
    )
    assert ms["operators.robots"] == 0


def test_task_skew():
    assert eventlog.task_skew([]) == 0.0
    assert eventlog.task_skew([10, 20, 30, 100]) == 100 / 25

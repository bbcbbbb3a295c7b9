"""Record ``small_eventlog.jsonl`` for test_eventlog.py.

    python3 perfbench/testdata/record_eventlog.py

Runs one tiny SQL execution at local[2] with the event log on, then
keeps the events the parser reads, with plan descriptions and unused
task fields dropped.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent.parent
sys.path.insert(0, str(ROOT))

KEEP_METRICS = {
    "time to start Python workers", "time to initialize Python workers",
    "time to run Python workers", "data sent to Python workers",
    "number of output rows", "shuffle bytes written", "sort time",
}


def run(batches):
    for pdf in batches:
        yield pdf


def record(log_dir: str) -> None:
    import pandas as pd
    from pyspark.sql import functions as F

    from web_crawler_spark.functions.urls import normalize_url_udf
    from web_crawler_spark.session import get_spark

    os.environ["PYTHONPATH"] = str(ROOT)
    spark = get_spark("record-eventlog", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    })
    urls = pd.DataFrame({
        "host": [f"h{i % 4}.test" for i in range(40)],
        "url": [f"https://h{i % 4}.test/p{i}/" for i in range(40)],
    })
    df = spark.createDataFrame(urls).repartition(2, "host")
    df.mapInPandas(run, df.schema).withColumn(
        "key", normalize_url_udf(F.col("url"))
    ).collect()
    spark.stop()


def slim_plan(p: dict) -> dict:
    return {
        "nodeName": p["nodeName"],
        "simpleString": p["simpleString"][:160],
        "children": [slim_plan(c) for c in p.get("children", [])],
        "metrics": [m for m in p.get("metrics", [])
                    if m["name"] in KEEP_METRICS],
    }


def trim(events: list[dict]) -> list[dict]:
    def kind(e):
        return e["Event"].rsplit(".", 1)[-1]

    exec_id = max(e["executionId"] for e in events
                  if kind(e) == "SparkListenerSQLExecutionStart")
    start = next(e for e in events if kind(e) == "SparkListenerSQLExecutionStart"
                 and e["executionId"] == exec_id)
    out = []
    for e in events:
        k = kind(e)
        if k == "SparkListenerJobStart" and e["Submission Time"] >= start["time"]:
            out.append({"Event": e["Event"], "Job ID": e["Job ID"],
                        "Submission Time": e["Submission Time"]})
        elif (k in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate")
              and e["executionId"] == exec_id):
            slim = {"Event": e["Event"], "executionId": exec_id,
                    "sparkPlanInfo": slim_plan(e["sparkPlanInfo"])}
            if "time" in e:
                slim["time"] = e["time"]
            out.append(slim)
        elif k == "SparkListenerTaskEnd" and (
            e["Task Info"]["Launch Time"] >= start["time"]
        ):
            info, tm = e["Task Info"], e["Task Metrics"]
            out.append({
                "Event": e["Event"], "Stage ID": e["Stage ID"],
                "Task Info": {
                    "Launch Time": info["Launch Time"],
                    "Finish Time": info["Finish Time"],
                    "Accumulables": [a for a in info["Accumulables"]
                                     if a.get("Metadata") == "sql"],
                },
                "Task Metrics": {
                    "Executor Run Time": tm["Executor Run Time"],
                    "Executor CPU Time": tm["Executor CPU Time"],
                    "JVM GC Time": tm["JVM GC Time"],
                    "Shuffle Write Metrics": {
                        "Shuffle Bytes Written":
                            tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    },
                },
            })
    return out


def main() -> None:
    from perfbench import eventlog

    with tempfile.TemporaryDirectory() as d:
        record(d)
        (log,) = [os.path.join(d, f) for f in os.listdir(d)]
        events = trim(eventlog.read_events(log))
    with open(HERE / "small_eventlog.jsonl", "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


if __name__ == "__main__":
    main()

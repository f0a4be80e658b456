"""Record the small event log ``data/events_1_fixture`` that
``test_perfbench_eventlog.py`` parses, keeping only the events and fields
``eventlog.py`` reads (paths, plan text and configuration are dropped)::

    python3 perfbench/tests/record_eventlog.py perfbench/tests/data

Four job groups: ``scan`` counts a 1,000-row parquet table, ``write`` writes
200 rows, ``join`` writes a shuffled equi-join of 1,000 rows against 20 rows
on ``id % 10`` (2,000 output rows), and the last job runs outside any group.
"""

import glob
import json
import os
import sys
import tempfile

from pyspark.sql import SparkSession, functions as F

TASK_METRICS = (
    "Executor CPU Time",
    "Executor Run Time",
    "JVM GC Time",
    "Disk Bytes Spilled",
    "Input Metrics",
    "Shuffle Write Metrics",
    "Output Metrics",
)


def _plan(node: dict) -> dict:
    return {
        "nodeName": node["nodeName"],
        "metrics": [
            {"name": m["name"], "accumulatorId": m["accumulatorId"]} for m in node["metrics"]
        ],
        "children": [_plan(c) for c in node["children"]],
    }


def trim(e: dict) -> dict | None:
    """The part of event ``e`` that eventlog.py reads, or None to drop it."""
    kind = e["Event"].rsplit(".", 1)[-1]
    if kind == "SparkListenerJobStart":
        group = (e.get("Properties") or {}).get("spark.jobGroup.id")
        return {
            "Event": e["Event"],
            "Job ID": e["Job ID"],
            "Stage IDs": e["Stage IDs"],
            "Properties": {} if group is None else {"spark.jobGroup.id": group},
        }
    if kind == "SparkListenerTaskEnd":
        info, m = e["Task Info"], e["Task Metrics"]
        return {
            "Event": e["Event"],
            "Stage ID": e["Stage ID"],
            "Task End Reason": {"Reason": e["Task End Reason"]["Reason"]},
            "Task Info": {
                "Launch Time": info["Launch Time"],
                "Finish Time": info["Finish Time"],
                "Accumulables": [
                    {"ID": a["ID"], "Name": a["Name"], "Update": a["Update"]}
                    for a in info["Accumulables"]
                ],
            },
            "Task Metrics": {k: m[k] for k in TASK_METRICS},
        }
    if kind == "SparkListenerSQLExecutionStart":
        return {
            "Event": e["Event"],
            "executionId": e["executionId"],
            "jobGroupId": e.get("jobGroupId"),
            "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
        }
    if kind == "SparkListenerSQLAdaptiveExecutionUpdate":
        return {
            "Event": e["Event"],
            "executionId": e["executionId"],
            "sparkPlanInfo": _plan(e["sparkPlanInfo"]),
        }
    return None


def main(out: str) -> None:
    with tempfile.TemporaryDirectory() as tmp:
        os.makedirs(f"{tmp}/ev")
        spark = (
            SparkSession.builder.master("local[2]")
            .appName("eventlog-fixture")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file://{tmp}/ev")
            .config("spark.eventLog.compress", "false")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.autoBroadcastJoinThreshold", "-1")
            .getOrCreate()
        )
        sc = spark.sparkContext
        spark.range(1000).withColumn("k", F.col("id") % 10).write.parquet(f"{tmp}/t")
        sc.setJobGroup("scan", "scan")
        spark.read.parquet(f"{tmp}/t").filter("id >= 0").count()
        sc.setJobGroup("write", "write")
        spark.range(200).write.parquet(f"{tmp}/w")
        sc.setJobGroup("join", "join")
        a = spark.read.parquet(f"{tmp}/t").select("k", F.col("id").alias("a"))
        b = spark.read.parquet(f"{tmp}/t").filter("id < 20").select("k", F.col("id").alias("b"))
        a.join(b, "k").write.parquet(f"{tmp}/j")
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).collect()
        spark.stop()
        (log,) = glob.glob(f"{tmp}/ev/*/events_*")
        with open(log) as f:
            events = [t for t in (trim(json.loads(line)) for line in f) if t is not None]
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "events_1_fixture"), "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)


if __name__ == "__main__":
    main(sys.argv[1])

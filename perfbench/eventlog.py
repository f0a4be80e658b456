"""Per-layer metrics, measured from outside the engine.

The traced run sets one Spark job group per public call (the span, named
``<module>.<function>``) and writes Spark's event log. This module reads that
log offline and attributes every job, stage and task to its span:

* ``jobs``          -- jobs started under the span's job group
* ``cpu_s``         -- executor CPU time of its tasks
* ``idle_frac``     -- 1 - executor run time / (wall x task slots): how long
  the slots waited on driver-side planning, listing and scheduling
* ``rows_read``     -- input records read by its tasks
* ``shuffle_bytes`` -- shuffle bytes written
* ``spill_bytes``   -- bytes spilled to disk
* ``output_bytes``  -- bytes written by output committers

It also walks each SQL execution's final plan, as logged, for the SQL
metrics of its join nodes (``join_output_rows``): that is how the curate
workload counts the candidate rows a band join produced.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

#: metrics every timed span carries, with their units
SPAN_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "cpu_s": "s",
    "idle_frac": "ratio",
    "rows_read": "rows",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
    "output_bytes": "B",
}


def read_events(log_dir: str) -> list[dict]:
    """Every event of the uncompressed event log(s) under ``log_dir``, in
    file order (Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in names if n.startswith("events_")]
    files.sort(key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class _Span:
    """Task metrics folded into one span; ``stages`` maps stage id to the
    durations of its tasks."""

    def __init__(self) -> None:
        self.jobs = 0
        self.stages: dict[int, list[float]] = defaultdict(list)
        self.cpu_ns = 0
        self.run_ms = 0
        self.gc_ms = 0
        self.rows_read = 0
        self.shuffle_bytes = 0
        self.spill_bytes = 0
        self.output_bytes = 0


def attribute(events: list[dict]) -> tuple[dict[str, _Span], int]:
    """Fold task metrics into spans by job group. Returns the spans and the
    number of task attempts that did not succeed (retries)."""
    spans: dict[str, _Span] = defaultdict(_Span)
    stage_span: dict[int, str] = {}
    retries = 0
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            spans[group].jobs += 1
            for sid in e["Stage IDs"]:
                stage_span[sid] = group
        elif kind == "SparkListenerTaskEnd":
            if e["Task End Reason"]["Reason"] != "Success":
                retries += 1
            group = stage_span.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if group is None or m is None:
                continue
            s = spans[group]
            info = e["Task Info"]
            s.stages[e["Stage ID"]].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
            s.cpu_ns += m["Executor CPU Time"]
            s.run_ms += m["Executor Run Time"]
            s.gc_ms += m["JVM GC Time"]
            s.rows_read += m["Input Metrics"]["Records Read"]
            s.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            s.spill_bytes += m["Disk Bytes Spilled"]
            s.output_bytes += m["Output Metrics"]["Bytes Written"]
    return dict(spans), retries


def task_skew(span: _Span) -> float:
    """max / median task time of the span's widest stage (most tasks; ties
    go to the stage with more total task time)."""
    if not span.stages:
        return 1.0
    times = max(span.stages.values(), key=lambda ts: (len(ts), sum(ts)))
    med = statistics.median(times)
    return max(times) / med if med > 0 else 1.0


def span_metrics(span: _Span | None, wall_s: float, slots: int) -> dict[str, float]:
    """The eight per-span metrics (``SPAN_UNITS``)."""
    span = span or _Span()
    busy = span.run_ms / 1e3
    return {
        "wall_s": wall_s,
        "jobs": span.jobs,
        "cpu_s": span.cpu_ns / 1e9,
        "idle_frac": 1.0 - busy / (wall_s * slots) if wall_s > 0 else 0.0,
        "rows_read": span.rows_read,
        "shuffle_bytes": span.shuffle_bytes,
        "spill_bytes": span.spill_bytes,
        "output_bytes": span.output_bytes,
    }


JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")


def join_output_rows(events: list[dict], span: str) -> int:
    """Rows produced by the join nodes of the span's SQL executions, read
    from each execution's final (post-AQE) plan and its SQL metrics."""
    plans: dict[int, dict] = {}
    groups: dict[int, str] = {}
    for e in events:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            groups[e["executionId"]] = e.get("jobGroupId")
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            plans[e["executionId"]] = e["sparkPlanInfo"]
    ids: set[int] = set()
    for ex, plan in plans.items():
        if groups.get(ex) != span:
            continue
        stack = [plan]
        while stack:
            node = stack.pop()
            stack += node.get("children", [])
            if node["nodeName"] in JOIN_NODES:
                ids |= {
                    m["accumulatorId"]
                    for m in node["metrics"]
                    if m["name"] == "number of output rows"
                }
    total = 0
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            total += sum(int(a["Update"]) for a in e["Task Info"]["Accumulables"] if a["ID"] in ids)
    return total


def layer_metrics(
    events: list[dict],
    walls: dict[str, float],
    setup: dict[str, float],
    table_rows: int,
    pair_rows: dict[str, int],
    span_names: list[str],
    slots: int,
) -> dict[str, dict]:
    """The per-layer metrics of one traced pass that the event log gives, as
    ``{name: {value, unit}}``. Spans the workload does not call read 0."""
    spans, retries = attribute(events)
    out: dict[str, dict] = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = {"value": value, "unit": unit}

    for name in span_names:
        if name in walls:
            m = span_metrics(spans.get(name), walls[name], slots)
        else:
            m = dict.fromkeys(SPAN_UNITS, 0)
        for field, value in m.items():
            put(f"{name}.{field}", value, SPAN_UNITS[field])
    for name in ("session.get_spark", "plans.runner.resolve_transcripts_input"):
        put(f"{name}.wall_s", setup.get(name, 0.0), "s")
    for name in ("run_validation", "write_histograms", "run_profile"):
        span = f"plans.runner.{name}"
        read = out[f"{span}.rows_read"]["value"]
        put(f"{span}.scan_amplification", read / table_rows if span in walls else 0, "ratio")
    val = spans.get("plans.runner.run_validation")
    put("plans.runner.run_validation.task_skew", task_skew(val) if val else 0, "ratio")
    put("plans.runner.run_validation.gc_s", val.gc_ms / 1e3 if val else 0, "s")
    for name in ("simhash_candidate_pairs", "lsh_candidate_pairs"):
        span = f"datapipe.dedup.{name}"
        cand = join_output_rows(events, span) if span in walls else 0
        put(f"{span}.candidates", cand, "rows")
        put(f"{span}.kept_frac", pair_rows.get(span, 0) / cand if cand else 0, "ratio")
    put("spark.task_retries", retries, "count")
    return out

"""The event-log parser attributes jobs, stages and tasks to the right span,
on a small log recorded by ``record_eventlog.py``."""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import eventlog  # noqa: E402

EVENTS = eventlog.read_events(os.path.join(HERE, "data"))


def _jobs_by_group() -> dict:
    out: dict = {}
    for e in EVENTS:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            out.setdefault(group, set()).update(e["Stage IDs"])
    return out


def test_jobs_and_stages_go_to_their_group():
    spans, retries = eventlog.attribute(EVENTS)
    assert set(spans) == {"scan", "write", "join"}
    assert retries == 0
    by_group = _jobs_by_group()
    assert None in by_group  # the recorded log has ungrouped jobs
    for name, span in spans.items():
        assert set(span.stages) <= by_group[name]
    stage_sets = [set(s.stages) for s in spans.values()]
    assert sum(map(len, stage_sets)) == len(set().union(*stage_sets))


def test_task_metrics_fold_into_the_span():
    spans, _ = eventlog.attribute(EVENTS)
    assert spans["scan"].rows_read == 1000
    assert spans["scan"].output_bytes == 0
    assert spans["write"].output_bytes > 0
    assert spans["write"].shuffle_bytes == 0
    assert spans["join"].shuffle_bytes > 0
    assert spans["join"].jobs >= 1
    assert all(s.cpu_ns > 0 and s.run_ms >= 0 for s in spans.values())


def test_join_rows_come_from_the_final_plan():
    assert eventlog.join_output_rows(EVENTS, "join") == 2000
    assert eventlog.join_output_rows(EVENTS, "scan") == 0


def test_span_metrics_and_skew():
    spans, _ = eventlog.attribute(EVENTS)
    m = eventlog.span_metrics(spans["join"], wall_s=10.0, slots=3)
    assert set(m) == set(eventlog.SPAN_UNITS)
    assert 0.0 < m["idle_frac"] <= 1.0
    assert eventlog.task_skew(spans["join"]) >= 1.0
    empty = eventlog.span_metrics(None, wall_s=0.0, slots=3)
    assert empty["jobs"] == 0 and empty["idle_frac"] == 0.0

"""Every metric the benchmark emits is declared in BENCHMARK.json, with the
same unit, and has a well-formed name: ``[A-Za-z0-9_.-]``, at most 64
characters, starting with a letter or digit."""

import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))

import eventlog  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _declared(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in BENCHMARK[kind]}


def test_end_to_end_metrics_are_declared():
    assert run.E2E_UNITS == _declared("end_to_end")
    assert all(NAME.match(n) for n in run.E2E_UNITS)


def test_layer_metrics_are_declared():
    for workload in ("validate", "revalidate", "curate"):
        walls = {name: 1.0 for name in run.SPANS[workload]}
        out = eventlog.layer_metrics(
            [], walls, {"session.get_spark": 1.0}, 100, {}, run.ALL_SPANS, run.SLOTS
        )
        units = {k: v["unit"] for k, v in out.items()} | run.PROCESS_UNITS
        assert units == _declared("per_layer")
        assert all(NAME.match(n) for n in units)


def test_workloads_are_runnable():
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(run.SPANS)

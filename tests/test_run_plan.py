"""One run plan (plans/runner.plan / run_plan): ``main()`` is its steps, in
the order the benchmark times them; the ledger is read once per run to
decide what a resume skips; ``write_histograms`` is a resumable step; and a
crash after any step resumes to the artifacts of a single-shot run."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from schema_infer_plugin_spark.config import load_config
from schema_infer_plugin_spark.plans import artifacts, runner
from schema_infer_plugin_spark.plans.artifacts import ARTIFACTS, read_artifact, read_ledger
from schema_infer_plugin_spark.plans.runner import (
    PASS_HISTOGRAMS,
    main,
    plan,
    resolve_transcripts_input,
    run_plan,
)

PERFBENCH_RUN = Path(__file__).resolve().parent.parent / "perfbench" / "run.py"
N_BUCKETS = 4


def _bench_spans() -> dict[str, list[str]]:
    """The benchmark's spans per workload (perfbench/run.py ``SPANS``),
    imported read-only; the module's own path edits are undone."""
    path = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location("perfbench_run", PERFBENCH_RUN)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = path
    return mod.SPANS


def _validation():
    v = load_config(None).validation
    v.n_buckets, v.batch_buckets = N_BUCKETS, 2
    return v


def test_plan_lists_the_benchmark_spans_and_runs_no_job(spark, tmp_path):
    """``plan()`` lists main()'s steps in the order perfbench times them:
    ``validate`` without a baseline, ``revalidate`` with one. Building the
    plan runs no Spark job."""
    spans = _bench_spans()
    t, bucket_rows = resolve_transcripts_input(spark, "synth:100", N_BUCKETS)
    sc = spark.sparkContext
    sc.setJobGroup("plan-jobs", "plan() job count")
    try:
        names = {
            workload: [
                s.name
                for s in plan(spark, t, str(tmp_path), "r", _validation(), bucket_rows, baseline)
            ]
            for workload, baseline in (("validate", None), ("revalidate", str(tmp_path / "b")))
        }
        jobs = list(sc.statusTracker().getJobIdsForGroup("plan-jobs"))
    finally:
        sc.setJobGroup(None, None)
    assert jobs == []
    for workload, got in names.items():
        assert got == [s.removeprefix("plans.runner.") for s in spans[workload]]
    # --triage-k 0 drops the triage step
    steps = plan(spark, t, str(tmp_path), "r", _validation(), triage_k=0)
    assert "write_triage" not in [s.name for s in steps]


def test_main_reads_the_ledger_at_most_twice(spark, tmp_path, monkeypatch):
    """A ``--baseline`` main() reads the ledger twice: once in run_plan for
    every whole-table step, once in Pass B for its buckets (six reads when
    each step read it for itself). ``write_histograms`` appends a ledger row,
    so a resumed main() skips it, and a fresh run's summary has the keys it
    always had."""
    plan_run, summaries = runner.run_plan, []
    monkeypatch.setattr(
        runner, "run_plan", lambda *a, **kw: summaries.append(plan_run(*a, **kw))
    )
    base, cur = str(tmp_path / "base"), str(tmp_path / "cur")
    flags = ["--n-buckets", str(N_BUCKETS), "--batch-buckets", "2"]
    histograms = lambda: read_ledger(spark, base).filter(  # noqa: E731
        F.col("pass_name") == PASS_HISTOGRAMS
    ).collect()
    main(["--input", "synth:150", "--out", base, "--run-id", "b", *flags])
    assert set(summaries[-1]) == {
        "run_id", "buckets", "skipped", "pruned", "processed", "rows", "violations",
        "triage_rows", "scorecard_rows",
    }
    assert [(r["run_id"], r["partition_key"]) for r in histograms()] == [("b", "__all__")]

    main(["--input", "synth:150", "--out", base, "--run-id", "b", *flags])
    assert summaries[-1]["resumed"] == ["run_profile", "write_histograms"]
    assert (summaries[-1]["skipped"], summaries[-1]["processed"]) == (N_BUCKETS, 0)
    assert len(histograms()) == 1

    read, outs = artifacts.read_ledger, []

    def counted(spark, out_dir):
        outs.append(out_dir)
        return read(spark, out_dir)

    monkeypatch.setattr(artifacts, "read_ledger", counted)
    monkeypatch.setattr(runner, "read_ledger", counted)
    main(["--input", "synth:200", "--out", cur, "--run-id", "c", "--baseline", base, *flags])
    assert outs == [cur, cur]
    assert set(summaries[-1]) == set(summaries[0]) | {
        "drift", "schema_evolution", "profile_diff", "violations_diff"
    }


def _plain(v):
    """``v`` with its Rows, lists and maps as tuples (maps sorted), so rows
    compare and sort by value."""
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


#: columns that differ between two runs of the same input: the ledger's
#: timings, and KLL quantiles, which are not reproducible run to run
VOLATILE = {"ledger": ["wall_sec", "completed_ts"], "profiles": ["quantiles"]}


def _artifacts(spark, out: str) -> dict[str, list[str]]:
    """Every artifact under ``out`` → its rows (bar VOLATILE columns), sorted."""
    got = {}
    for name in ARTIFACTS:
        frame = read_artifact(spark, out, name, required=False)
        if frame is not None:
            rows = frame.drop(*VOLATILE.get(name, [])).collect()
            got[name] = sorted(repr(_plain(r)) for r in rows)
    return got


class Crash(Exception):
    pass


def test_crash_after_every_step_resumes_to_single_shot(spark, tmp_path):
    """A revalidate run crashed after step k (k = 1..9), each resuming the
    previous one's state: run k skips the whole-table steps already done,
    reruns the steps without a pass (Pass B resumes its buckets), runs step
    k and crashes. The last run completes and every artifact equals a
    single-shot run's, the ledger included."""
    v = _validation()
    base = str(tmp_path / "base")
    t_base, _ = resolve_transcripts_input(spark, "synth:150", N_BUCKETS)
    run_plan(spark, plan(spark, t_base, base, "base", v), base, "base")

    t, bucket_rows = resolve_transcripts_input(spark, "synth:200", N_BUCKETS)
    single, chain = str(tmp_path / "single"), str(tmp_path / "chain")
    run_plan(spark, plan(spark, t, single, "cur", v, bucket_rows, base), single, "cur")

    steps = plan(spark, t, chain, "cur", v, bucket_rows, base)
    assert len(steps) == 9
    for k, stop in enumerate(steps):
        ran = []

        def around(step, run, stop=stop, ran=ran):
            ran.append(step.name)
            out = run()
            if step is stop:
                raise Crash(step.name)
            return out

        with pytest.raises(Crash, match=stop.name):
            run_plan(spark, steps, chain, "cur", around)
        assert ran == [s.name for s in steps[:k] if s.pass_name is None] + [stop.name]
    summary = run_plan(spark, steps, chain, "cur")
    assert summary["resumed"] == [s.name for s in steps if s.pass_name is not None]

    want = _artifacts(spark, single)
    assert set(want) == set(ARTIFACTS)
    assert _artifacts(spark, chain) == want

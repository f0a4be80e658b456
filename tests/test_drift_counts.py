"""One drift-series definition (checks/drift.drift_counts) and one drift
comparison (checks/drift.drift_compare): the baseline artifacts
write_histograms persists and the verdicts run_drift computes equal the
per-series reference count helpers compared by drift_compare, each side
reads its input a bounded number of times, run_drift runs a bounded number
of Spark jobs, and a corrupt baseline fails loudly while a missing one is
skipped.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import Window, functions as F
from pyspark.sql.types import StructType

from schema_infer_plugin_spark.checks.alternation import transition_buckets
from schema_infer_plugin_spark.checks.drift import bucket_counts, drift_compare
from schema_infer_plugin_spark.checks.ksdrift import grid_counts
from schema_infer_plugin_spark.plans.runner import (
    KS_GRID_BUCKETS,
    run_drift,
    write_histograms,
)
from schema_infer_plugin_spark.schema import well_keyed_predicate
from schema_infer_plugin_spark.sources.io import load_table
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.sources.views import transcripts_from_events
from tests.conftest import SF_CORRECT


def _shifted(t):
    """An assistant-heavy slice: role and transition distributions drift."""
    return t.filter((F.col("role") == "assistant") | (F.pmod(F.xxhash64("conv_id"), 4) == 0))


def _file_schema(path: str) -> StructType:
    """The Spark schema a parquet artifact was written with, nullability
    included (read from the file footer, not re-inferred)."""
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    meta = pq.read_metadata(os.path.join(path, part)).metadata
    return StructType.fromJson(json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]))


def _with_freq(counts, name: str):
    """Reference categorical artifact: bucket_counts plus cnt/Σcnt."""
    total = Window.partitionBy()
    return counts.select(
        "bucket",
        (F.col("cnt") / F.sum("cnt").over(total)).alias("freq"),
        "cnt",
        F.lit(name).alias("column"),
    )


def _stacked(counts, name: str):
    """A reference count frame in the drift_counts shape: a categorical
    (bucket, cnt) frame gets v NULL, a grid (v, cnt) frame bucket NULL."""
    bucket = "bucket" if "bucket" in counts.columns else F.lit(None).cast("string").alias("bucket")
    v = "v" if "v" in counts.columns else F.lit(None).cast("double").alias("v")
    return counts.select(F.lit(name).alias("column"), bucket, v, "cnt")


def _reference(cur, base, name: str):
    """drift_compare's one row for a series, over reference count frames."""
    return drift_compare(_stacked(cur, name), _stacked(base, name)).first()


def test_drift_artifacts_and_verdicts_match_reference_helpers(spark, tmp_path):
    """Every histogram directory is row- and schema-identical (nullability
    included) to the per-series reference helpers, and run_drift's metrics
    on a shifted frame equal those helpers' exactly — on the fixture table,
    which carries NULL keys."""
    t = transcripts_from_events(spark, load_table(spark, SF_CORRECT, "events")).persist()
    try:
        assert t.filter(~well_keyed_predicate()).count() > 0  # keyless rows ride along
        base = str(tmp_path / "base")
        write_histograms(spark, t, base)

        lo, hi = t.agg(
            F.min(F.col("turn_idx").cast("double")), F.max(F.col("turn_idx").cast("double"))
        ).first()
        want = {
            "histograms/role": _with_freq(bucket_counts(t, "role"), "role"),
            "histograms/tool": _with_freq(bucket_counts(t, "tool"), "tool"),
            "histograms/__transitions__": _with_freq(
                bucket_counts(transition_buckets(t), "bucket"), "__transitions__"
            ),
            "histograms_numeric/turn_idx": grid_counts(
                t, "turn_idx", float(lo), float(hi), KS_GRID_BUCKETS
            ),
        }
        written = {
            os.path.join(kind, c)
            for kind in ("histograms", "histograms_numeric")
            for c in os.listdir(os.path.join(base, kind))
        }
        assert written == set(want)
        for sub, ref in want.items():
            path = os.path.join(base, sub)
            assert _file_schema(path) == ref.schema, sub
            assert sorted(spark.read.parquet(path).collect()) == sorted(ref.collect()), sub

        s = _shifted(t)
        got = {
            r["check_name"]: dict(r["metrics"])
            for r in run_drift(spark, s, str(tmp_path / "cur"), base, run_id="s").collect()
        }
        assert set(got) == {"drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"}
        current = {
            "drift_role": (bucket_counts(s, "role"), want["histograms/role"]),
            "drift_tool": (bucket_counts(s, "tool"), want["histograms/tool"]),
            "drift_transitions": (
                bucket_counts(transition_buckets(s), "bucket"),
                want["histograms/__transitions__"],
            ),
        }
        for name, (cur, ref_base) in current.items():
            ref = _reference(cur, ref_base.select("bucket", "cnt"), "c")
            for k in ("psi", "kl", "js", "chi2", "dof"):
                assert got[name][k] == ref[k], (name, k)
        assert got["drift_role"]["psi"] > 0.2  # the shift is real
        ks = _reference(
            grid_counts(s, "turn_idx", float(lo), float(hi), KS_GRID_BUCKETS),
            want["histograms_numeric/turn_idx"].select("v", "cnt"),
            "turn_idx",
        )
        m = got["ks_turn_idx"]
        assert (m["ks"], m["ks_at"], m["w1"]) == (ks["ks_stat"], ks["ks_at"], ks["w1"])
        assert (m["chi2"], m["dof"]) == (ks["chi2"], float(ks["dof"]))
    finally:
        t.unpersist()


def _counting(spark, t):
    """``t`` behind a row-level counter every read of any column must pass
    through: each scan of the returned frame adds its row count to the
    accumulator. Non-deterministic, so Catalyst neither prunes nor
    duplicates it."""
    acc = spark.sparkContext.accumulator(0)

    def tick(row):
        acc.add(1)
        return row

    udf = F.udf(tick, t.schema).asNondeterministic()
    return t.select(udf(F.struct(*t.columns)).alias("_r")).select("_r.*"), acc


def test_drift_sides_read_input_bounded_times(spark, tmp_path):
    """write_histograms reads its input twice (the numeric grid's min/max
    probe, then one drift_counts for every series); run_drift reads it
    once. One scan per series made these 5× and 4×."""
    t = synth_transcripts(spark, 300).persist()
    try:
        n = t.count()
        base = str(tmp_path / "base")
        counted, acc = _counting(spark, t)
        write_histograms(spark, counted, base)
        assert acc.value == 2 * n

        counted, acc = _counting(spark, t)
        v = run_drift(spark, counted, str(tmp_path / "cur"), base, run_id="r")
        assert acc.value == n
        assert {r["check_name"] for r in v.collect()} == {
            "drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"
        }
    finally:
        t.unpersist()


def _corrupt(path: str) -> None:
    """Overwrite every parquet file under ``path`` with junk bytes (and drop
    the checksums, so the parquet reader itself meets the junk)."""
    for f in os.listdir(path):
        if f.endswith(".crc"):
            os.remove(os.path.join(path, f))
        elif f.endswith(".parquet"):
            with open(os.path.join(path, f), "wb") as fh:
                fh.write(b"not a parquet file at all")


@pytest.mark.parametrize("leg", ["histograms/__transitions__", "histograms_numeric/turn_idx"])
def test_corrupt_drift_baseline_raises_missing_is_skipped(spark, tmp_path, leg):
    """A transition or numeric baseline that exists but does not read fails
    the drift pass; the same directory removed is the lenient skip of a
    baseline run that predates it. A ``file://`` URI baseline_dir answers
    exactly as the local path: "missing" is Spark's answer, so any Hadoop
    filesystem reads the same."""
    import shutil

    from py4j.protocol import Py4JJavaError

    def names(baseline_dir: str, run_id: str) -> set[str]:
        out = str(tmp_path / run_id)
        return {r["check_name"] for r in run_drift(spark, t, out, baseline_dir, run_id).collect()}

    t = synth_transcripts(spark, 300)
    base = str(tmp_path / "base")
    uri = "file://" + base
    write_histograms(spark, t, base)
    every = {"drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"}
    assert names(uri, "uri") == every
    _corrupt(os.path.join(base, leg))
    for i, b in enumerate((base, uri)):
        with pytest.raises(Py4JJavaError):
            run_drift(spark, t, str(tmp_path / f"bad{i}"), b, run_id=f"bad{i}")

    shutil.rmtree(os.path.join(base, leg))
    skipped = "drift_transitions" if "transitions" in leg else "ks_turn_idx"
    assert names(base, "ok") == names(uri, "ok_uri") == every - {skipped}
    if skipped == "drift_transitions":
        # nothing left to compare: no series, no verdict rows, no error
        none = run_drift(
            spark, t, str(tmp_path / "none"), base, run_id="none",
            columns=[], numeric_columns=[],
        )
        assert none.count() == 0


def test_run_drift_spark_jobs_bounded(spark, tmp_path):
    """One run_drift call runs at most 7 Spark jobs, whatever the number of
    series: one bounded collect of the numeric grids, ONE drift_compare
    collect for every verdict (4 jobs under adaptive execution, one per
    stage: the transition window's exchange, the count aggregation's, the
    comparison's one exchange and the result), the verdict write and the
    ledger append. Baselines are read with declared schemas (no inference
    job) and the verdicts are never read back. A collect per series made it
    20 or more."""
    t = synth_transcripts(spark, 300).withColumn("text_len", F.length("text"))
    base = str(tmp_path / "base")
    write_histograms(spark, t, base, numeric_columns=["turn_idx", "text_len"])
    sc = spark.sparkContext
    sc.setJobGroup("run-drift-jobs", "run_drift job count")
    try:
        v = run_drift(
            spark, t, str(tmp_path / "cur"), base, run_id="j",
            numeric_columns=["turn_idx", "text_len"],
        )
        jobs = list(sc.statusTracker().getJobIdsForGroup("run-drift-jobs"))
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 7, jobs
    assert {r["check_name"] for r in v.collect()} == {
        "drift_role", "drift_tool", "drift_transitions", "ks_turn_idx", "ks_text_len"
    }


def test_explicit_empty_columns_mean_none(spark, tmp_path):
    """An explicit ``columns=[]`` writes no categorical baseline (only the
    transitions series) and run_drift compares none — only None takes the
    default role/tool columns, on both sides."""
    t = synth_transcripts(spark, 200)
    base = str(tmp_path / "base")
    write_histograms(spark, t, base, columns=[], numeric_columns=[])
    assert os.listdir(os.path.join(base, "histograms")) == ["__transitions__"]
    assert not os.path.exists(os.path.join(base, "histograms_numeric"))
    v = run_drift(spark, t, str(tmp_path / "cur"), base, run_id="e", columns=[], numeric_columns=[])
    assert [r["check_name"] for r in v.collect()] == ["drift_transitions"]

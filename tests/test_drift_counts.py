"""One drift-series definition (checks/drift.drift_counts), one drift
comparison (checks/drift.drift_compare) and one baseline artifact: the
baseline file write_histograms persists and the verdicts run_drift computes
equal the per-series reference count helpers compared by drift_compare,
each side reads its input a bounded number of times and runs a bounded
number of Spark jobs, a recursive-listing reader sees every series, and a
corrupt or old-layout baseline fails loudly while a missing series is
skipped.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from schema_infer_plugin_spark.checks.alternation import transition_buckets
from schema_infer_plugin_spark.checks.drift import bucket_counts, drift_compare
from schema_infer_plugin_spark.checks.ksdrift import grid_quantize
from schema_infer_plugin_spark.plans.runner import (
    KS_GRID_BUCKETS,
    run_drift,
    write_histograms,
)
from schema_infer_plugin_spark.schema import DRIFT_BASELINE_SCHEMA, well_keyed_predicate
from schema_infer_plugin_spark.sources.io import load_table
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.sources.views import transcripts_from_events
from tests.conftest import SF_CORRECT


def grid_counts(df, column: str, lo: float, hi: float, n_buckets: int = 1000):
    """Reference per-grid-value counts of ``column``: (v double, cnt long,
    lo double, hi double, n_buckets int), one groupBy over the
    ``grid_quantize``d non-NULL values — the numeric series the stacked
    baseline must hold."""
    vals = df.select(F.col(column).cast("double").alias("raw")).filter(
        F.col("raw").isNotNull()
    )
    return (
        vals.select(grid_quantize(F.col("raw"), lo, hi, n_buckets).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "v",
            "cnt",
            F.lit(float(lo)).alias("lo"),
            F.lit(float(hi)).alias("hi"),
            F.lit(n_buckets).alias("n_buckets"),
        )
    )


def _shifted(t):
    """An assistant-heavy slice: role and transition distributions drift."""
    return t.filter((F.col("role") == "assistant") | (F.pmod(F.xxhash64("conv_id"), 4) == 0))


def _file_schema(path: str) -> StructType:
    """The Spark schema a parquet artifact was written with, nullability
    included (read from the file footer, not re-inferred)."""
    part = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    meta = pq.read_metadata(os.path.join(path, part)).metadata
    return StructType.fromJson(json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]))


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
    """The one baseline file holds every series, each row-identical to the
    per-series reference helpers (each grid row carrying its grid), and its
    footer schema (nullability included) is the declared one; run_drift's
    metrics on a shifted frame equal those helpers' exactly — on the
    fixture table, which carries NULL keys."""
    t = transcripts_from_events(spark, load_table(spark, SF_CORRECT, "events")).persist()
    try:
        assert t.filter(~well_keyed_predicate()).count() > 0  # keyless rows ride along
        base = str(tmp_path / "base")
        write_histograms(spark, t, base)

        lo, hi = t.agg(
            F.min(F.col("turn_idx").cast("double")), F.max(F.col("turn_idx").cast("double"))
        ).first()
        want = {
            "role": bucket_counts(t, "role"),
            "tool": bucket_counts(t, "tool"),
            "__transitions__": bucket_counts(transition_buckets(t), "bucket"),
            "turn_idx": grid_counts(t, "turn_idx", float(lo), float(hi), KS_GRID_BUCKETS),
        }
        hist = os.path.join(base, "histograms")
        assert [d for d in os.listdir(base) if d.startswith("histograms")] == ["histograms"]
        assert not [d for d in os.listdir(hist) if os.path.isdir(os.path.join(hist, d))]
        assert _file_schema(hist) == DRIFT_BASELINE_SCHEMA
        got = spark.read.parquet(hist)
        assert {r["column"] for r in got.select("column").distinct().collect()} == set(want)
        for c, ref in want.items():
            # each series' own columns equal its reference (a grid's lo, hi
            # and n_buckets included); the other columns are NULL
            rows = got.filter(F.col("column") == c)
            assert sorted(rows.select(*ref.columns).collect()) == sorted(ref.collect()), c
            other = [x for x in ("bucket", "v", "lo", "hi", "n_buckets") if x not in ref.columns]
            assert rows.select(*other).distinct().collect() == [(None,) * len(other)], c

        s = _shifted(t)
        got = {
            r["check_name"]: dict(r["metrics"])
            for r in run_drift(spark, s, str(tmp_path / "cur"), base, run_id="s").collect()
        }
        assert set(got) == {"drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"}
        current = {
            "drift_role": (bucket_counts(s, "role"), want["role"]),
            "drift_tool": (bucket_counts(s, "tool"), want["tool"]),
            "drift_transitions": (
                bucket_counts(transition_buckets(s), "bucket"),
                want["__transitions__"],
            ),
        }
        for name, (cur, ref_base) in current.items():
            ref = _reference(cur, ref_base, "c")
            for k in ("psi", "kl", "js", "chi2", "dof"):
                assert got[name][k] == ref[k], (name, k)
        assert got["drift_role"]["psi"] > 0.2  # the shift is real
        ks = _reference(
            grid_counts(s, "turn_idx", float(lo), float(hi), KS_GRID_BUCKETS),
            want["turn_idx"].select("v", "cnt"),
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
    """A baseline file that exists but does not read fails the drift pass;
    a missing series is the lenient skip: a numeric column whose grid the
    baseline lacks, and the transitions when there is no baseline at all
    (a requested categorical column then raises FileNotFoundError). A
    ``file://`` URI baseline_dir answers exactly as the local path:
    "missing" is the filesystem's answer, so any Hadoop filesystem reads
    the same. (Each leg is named for the per-series directory it removed
    when every series had one.)"""
    import shutil

    from py4j.protocol import Py4JJavaError

    def names(baseline_dir: str, run_id: str, **kw) -> set[str]:
        out = str(tmp_path / run_id)
        v = run_drift(spark, t, out, baseline_dir, run_id, **kw)
        return {r["check_name"] for r in v.collect()}

    t = synth_transcripts(spark, 300)
    base = str(tmp_path / "base")
    uri = "file://" + base
    write_histograms(spark, t, base)
    every = {"drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"}
    assert names(uri, "uri") == every
    _corrupt(os.path.join(base, "histograms"))
    for i, b in enumerate((base, uri)):
        with pytest.raises(Py4JJavaError):
            run_drift(spark, t, str(tmp_path / f"bad{i}"), b, run_id=f"bad{i}")

    if leg == "histograms_numeric/turn_idx":
        write_histograms(spark, t, base, numeric_columns=[])
        assert names(base, "ok") == names(uri, "ok_uri") == every - {"ks_turn_idx"}
        return
    shutil.rmtree(os.path.join(base, "histograms"))
    for i, b in enumerate((base, uri)):
        with pytest.raises(FileNotFoundError, match="no drift baseline for 'role'"):
            run_drift(spark, t, str(tmp_path / f"gone{i}"), b, run_id=f"gone{i}")
        # nothing left to compare: no series, no verdict rows, no error
        assert names(b, f"none{i}", columns=[], numeric_columns=[]) == set()


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
    stacked = spark.read.parquet(os.path.join(base, "histograms"))
    assert [r["column"] for r in stacked.select("column").distinct().collect()] == [
        "__transitions__"
    ]
    v = run_drift(spark, t, str(tmp_path / "cur"), base, run_id="e", columns=[], numeric_columns=[])
    assert [r["check_name"] for r in v.collect()] == ["drift_transitions"]


def test_write_histograms_spark_jobs_bounded(spark, tmp_path):
    """write_histograms over a bucketed input runs at most 5 Spark jobs: the
    numeric grids' min/max probe and the ONE drift_counts write, each one
    job per adaptive stage. Splitting the counts into one write per
    series, over a persisted frame, made it 10."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input, write_bucketed

    table = str(tmp_path / "table")
    write_bucketed(synth_transcripts(spark, 300), table, 8)
    t, _ = resolve_transcripts_input(spark, f"bucketed:{table}", 8)
    sc = spark.sparkContext
    sc.setJobGroup("write-histograms-jobs", "write_histograms job count")
    try:
        write_histograms(spark, t, str(tmp_path / "base"))
        jobs = list(sc.statusTracker().getJobIdsForGroup("write-histograms-jobs"))
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) <= 5, jobs


def test_recursive_reader_sees_every_series(spark, tmp_path):
    """A reader that lists ``histograms/`` recursively — DuckDB's
    ``read_parquet('<dir>/**/*.parquet')``, the benchmark oracle's reader —
    sees every series, with the totals run_drift's read_baseline gives. (A
    Hadoop listing skips ``_``-prefixed paths, so a per-series
    ``histograms/__transitions__`` directory hid that series from such
    readers.)"""
    import duckdb

    from schema_infer_plugin_spark.plans.runner import read_baseline

    t = synth_transcripts(spark, 300)
    base = str(tmp_path / "base")
    write_histograms(spark, t, base)
    glob = os.path.join(base, "histograms", "**", "*.parquet")
    duck = dict(
        duckdb.connect()
        .execute(f"SELECT \"column\", sum(cnt) FROM read_parquet('{glob}') GROUP BY 1")
        .fetchall()
    )
    counts, series = read_baseline(
        spark, base, ["role", "tool", "__transitions__"], ["turn_idx"]
    )
    assert set(series) == {
        ("role", False), ("tool", False), ("__transitions__", False), ("turn_idx", True)
    }
    ours = {r[0]: r[1] for r in counts.groupBy("column").agg(F.sum("cnt")).collect()}
    assert duck == ours
    assert set(ours) == {"role", "tool", "__transitions__", "turn_idx"}
    assert ours["role"] == ours["tool"] == ours["turn_idx"] == t.count()


def _per_series_layout(spark, base: str) -> None:
    """A baseline in the layout older write_histograms wrote: one directory
    per series under ``histograms/`` (and ``histograms_numeric/``), no file
    of its own."""
    t = synth_transcripts(spark, 200)
    for c in ("role", "tool"):
        bucket_counts(t, c).withColumn("column", F.lit(c)).coalesce(1).write.parquet(
            os.path.join(base, "histograms", c)
        )
    grid_counts(t, "turn_idx", 0.0, 50.0, 10).coalesce(1).write.parquet(
        os.path.join(base, "histograms_numeric", "turn_idx")
    )


def test_per_series_baseline_layout_fails_loudly(spark, tmp_path):
    """A baseline in the older per-series layout is never read as empty:
    run_drift and the CLI's window-drift both raise, naming the dir and
    advising to re-run write_histograms — for a local path and a
    ``file://`` URI."""
    from schema_infer_plugin_spark.cli import main

    base = str(tmp_path / "old")
    _per_series_layout(spark, base)
    t = synth_transcripts(spark, 200)
    for i, b in enumerate((base, "file://" + base)):
        msg = re.escape(os.path.join(b, "histograms")) + ".*re-run write_histograms"
        with pytest.raises(ValueError, match=msg):
            run_drift(spark, t, str(tmp_path / f"cur{i}"), b, run_id=f"o{i}")
        for leg in ([], ["--numeric-column", "turn_idx"]):
            with pytest.raises(ValueError, match=msg):
                main(["window-drift", "--input", "synth:200", "--baseline", b,
                      "--out", str(tmp_path / f"w{i}"), *leg])


def test_empty_table_baseline_verdicts(spark, tmp_path):
    """A baseline written from a 0-row bucketed table: run_drift over that
    table returns no verdict row (no series has a cell on either side), and
    a two-turn current table compares every categorical series and the
    transitions against an empty side — no chi2 (an empty side asks no
    homogeneity question), no KS (the empty table fixed no grid). The rows
    are the ones the per-series baseline layout gave."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input, write_bucketed

    table = str(tmp_path / "table")
    write_bucketed(synth_transcripts(spark, 50).limit(0), table, 4)
    t, bucket_rows = resolve_transcripts_input(spark, f"bucketed:{table}", 4)
    assert bucket_rows == {str(b): 0 for b in range(4)}
    base = str(tmp_path / "base")
    write_histograms(spark, t, base)
    assert run_drift(spark, t, str(tmp_path / "self"), base, run_id="e").collect() == []

    # conv_00000000's system → assistant opening: two roles, no tool, one transition
    two = synth_transcripts(spark, 50).filter(
        (F.col("conv_id") == "conv_00000000") & (F.col("turn_idx") < 2)
    )
    got = [
        (r["run_id"], r["partition_key"], r["check_name"], r["pass"], r["violation_count"],
         dict(r["metrics"]))
        for r in run_drift(spark, two, str(tmp_path / "cur"), base, run_id="c").collect()
    ]
    one = {"js": 0.3465668756711242, "kl": 13.815511557963774, "psi": 13.815511557963774}
    assert got == [
        ("c", "__all__", "drift_role", False, 0,
         {"js": 0.34656085420795635, "kl": 13.122365377402328, "psi": 13.122365377402328}),
        ("c", "__all__", "drift_tool", False, 0, one),
        ("c", "__all__", "drift_transitions", False, 0, one),
    ]

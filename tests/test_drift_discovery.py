"""Drift pass in the runner + catalog discovery."""

from __future__ import annotations

from pyspark.sql import functions as F

from schema_infer_plugin_spark.plans.artifacts import read_artifact
from schema_infer_plugin_spark.plans.runner import (
    PASS_DRIFT,
    PASS_PROFILE_DIFF,
    Step,
    run_drift,
    run_plan,
    write_histograms,
)
from schema_infer_plugin_spark.sources.discovery import discover_tables
from schema_infer_plugin_spark.sources.synth import synth_transcripts


def test_drift_pass_self_vs_shifted(spark, tmp_path):
    t = synth_transcripts(spark, 2_000).persist()
    try:
        base_out = str(tmp_path / "base")
        write_histograms(spark, t, base_out, ["role", "tool"])

        # same data vs itself: PSI ~ 0 -> pass (incl. the transition-matrix
        # pseudo-column persisted beside the per-column histograms)
        out1 = str(tmp_path / "r1")
        v = run_drift(spark, t, out1, base_out, run_id="r1")
        rows = {r["check_name"]: r for r in v.collect()}
        assert rows["drift_role"]["pass"] and rows["drift_tool"]["pass"]
        assert abs(rows["drift_role"]["metrics"]["psi"]) < 1e-9
        assert rows["drift_transitions"]["pass"]
        assert abs(rows["drift_transitions"]["metrics"]["psi"]) < 1e-9
        # count-bearing baseline -> chi2/dof ride the metrics; self-drift = 0
        assert rows["drift_role"]["metrics"]["chi2"] == 0.0
        assert rows["drift_role"]["metrics"]["dof"] >= 1.0
        assert rows["drift_transitions"]["metrics"]["chi2"] == 0.0

        # assistant-heavy slice vs full baseline: role distribution shifts -> fail
        shifted = t.filter(
            (F.col("role") == "assistant") | (F.pmod(F.xxhash64("conv_id"), 4) == 0)
        )
        out2 = str(tmp_path / "r2")
        v2 = run_drift(spark, shifted, out2, base_out, run_id="r2")
        rows2 = {r["check_name"]: r for r in v2.collect()}
        assert not rows2["drift_role"]["pass"]
        assert rows2["drift_role"]["metrics"]["psi"] > 0.2
        # the role shift reshapes adjacency too: transition drift must see it
        assert rows2["drift_transitions"]["metrics"]["psi"] > 0.2
        # a real shift at this n dwarfs any chi2 critical value at small dof
        dof = rows2["drift_role"]["metrics"]["dof"]
        assert rows2["drift_role"]["metrics"]["chi2"] > 10 * (dof + 1)

        # resume: a second run is served from disk (ledger short-circuit)
        step = Step("run_drift", PASS_DRIFT, lambda: run_drift(
            spark, shifted, out2, base_out, run_id="r2"
        ))
        assert run_plan(spark, [step], out2, "r2") == {"resumed": ["run_drift"]}
        v3 = read_artifact(spark, out2, "drift_verdicts")
        assert v3.count() == v2.count()
    finally:
        t.unpersist()


def test_drift_legacy_freq_only_baseline(spark, tmp_path):
    """A pre-r5 baseline artifact (freq column only, no cnt) fails the drift
    pass loudly — it carries no counts, so the chi-square cannot be computed
    and there is no second frequency-only comparison path — with advice to
    re-run write_histograms."""
    import os

    import pytest

    from schema_infer_plugin_spark.checks.drift import histogram

    t = synth_transcripts(spark, 1_000)
    base_old = str(tmp_path / "old")
    (
        histogram(t, "role")
        .withColumn("column", F.lit("role"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(base_old, "histograms", "role"))
    )
    with pytest.raises(Exception, match="re-run write_histograms"):
        run_drift(
            spark, t, str(tmp_path / "ro"), base_old, run_id="ro",
            columns=["role"], numeric_columns=[],
        )


def test_numeric_ks_drift_pass(spark, tmp_path):
    """KS leg of run_drift: same data vs itself passes with ks ~ 0; a
    conversation-length-skewed slice shifts the turn_idx CDF and fails.
    Out-of-grid values clamp (conservative) rather than error."""
    t = synth_transcripts(spark, 2_000).persist()
    try:
        base_out = str(tmp_path / "base")
        write_histograms(spark, t, base_out, ["role"], numeric_columns=["turn_idx"])

        out1 = str(tmp_path / "r1")
        v = run_drift(
            spark, t, out1, base_out, run_id="r1",
            columns=["role"], numeric_columns=["turn_idx"],
        )
        rows = {r["check_name"]: r for r in v.collect()}
        assert rows["ks_turn_idx"]["pass"]
        assert rows["ks_turn_idx"]["metrics"]["ks"] < 1e-9
        assert rows["ks_turn_idx"]["metrics"]["w1"] < 1e-9
        # binned chi2 rides the same job: identical data -> exactly 0
        assert rows["ks_turn_idx"]["metrics"]["chi2"] == 0.0
        assert rows["ks_turn_idx"]["metrics"]["dof"] >= 1.0

        # keep only early turns (turn_idx < 3) + clamp probe: +1000 outliers
        shifted = t.filter(F.col("turn_idx") < 3).union(
            t.limit(5).withColumn("turn_idx", F.col("turn_idx") + 1000)
        )
        out2 = str(tmp_path / "r2")
        v2 = run_drift(
            spark, shifted, out2, base_out, run_id="r2",
            columns=["role"], numeric_columns=["turn_idx"],
        )
        rows2 = {r["check_name"]: r for r in v2.collect()}
        assert not rows2["ks_turn_idx"]["pass"]
        assert rows2["ks_turn_idx"]["metrics"]["ks"] > 0.1
        assert rows2["ks_turn_idx"]["metrics"]["w1"] > 0.0
        # the CDF shift is also a count shift: chi2_z far beyond any z gate
        assert rows2["ks_turn_idx"]["metrics"]["chi2_z"] > 10.0
    finally:
        t.unpersist()


def test_numeric_ks_missing_baseline_skipped(spark, tmp_path):
    """A baseline run that predates numeric baselines: the KS leg skips the
    column instead of failing the whole drift pass."""
    t = synth_transcripts(spark, 500)
    base_out = str(tmp_path / "base")
    write_histograms(spark, t, base_out, ["role"], numeric_columns=[])
    v = run_drift(spark, t, str(tmp_path / "r1"), base_out, run_id="r1", columns=["role"])
    names = {r["check_name"] for r in v.collect()}
    assert "drift_role" in names and "ks_turn_idx" not in names


def test_profile_diff_pass(spark, tmp_path):
    """run_profile_compare: identical runs diff to all-OK; resumable from the
    ledger; the verdict parquet carries the run_id stamp."""
    from schema_infer_plugin_spark.plans.runner import run_profile_compare, run_profile

    t = synth_transcripts(spark, 500)
    base_out, cur_out = str(tmp_path / "base"), str(tmp_path / "cur")
    run_profile(spark, t, base_out, run_id="base")
    run_profile(spark, t, cur_out, run_id="cur")
    v = run_profile_compare(spark, cur_out, base_out, run_id="cur")
    rows = {r["col_name"]: r for r in v.collect()}
    assert rows and all(r["verdict"] == "OK" for r in rows.values())
    assert all(r["run_id"] == "cur" for r in rows.values())
    # resume: served from disk
    step = Step("run_profile_compare", PASS_PROFILE_DIFF, lambda: run_profile_compare(
        spark, cur_out, base_out, run_id="cur"
    ))
    assert run_plan(spark, [step], cur_out, "cur") == {"resumed": ["run_profile_compare"]}
    v2 = read_artifact(spark, cur_out, "profile_diff_verdicts")
    assert v2.count() == v.count()


def test_discover_tables(spark, tmp_path):
    spark.range(1).createOrReplaceTempView("disc_orders")
    spark.range(1).createOrReplaceTempView("disc_lineitem")
    spark.range(1).createOrReplaceTempView("__disc_internal")
    try:
        r = discover_tables(spark, prefix="disc_")
        assert "disc_orders" in r.found and "disc_lineitem" in r.found

        r = discover_tables(spark, names=["disc_orders", "nope"])
        assert r.found == ["disc_orders"] and r.not_found == ["nope"]

        r = discover_tables(spark, pattern=r"__disc_.*")
        assert r.excluded == ["__disc_internal"] and r.found == []

        r = discover_tables(
            spark, pattern=r"__disc_.*", include_patterns=(r"__disc_.*",)
        )
        assert r.found == ["__disc_internal"]
    finally:
        for v in ("disc_orders", "disc_lineitem", "__disc_internal"):
            spark.catalog.dropTempView(v)


def test_schema_evolution_pass(spark, tmp_path):
    from schema_infer_plugin_spark.plans.runner import run_profile, run_schema_evolution

    t = synth_transcripts(spark, 500)
    base = str(tmp_path / "base")
    cur = str(tmp_path / "cur")
    run_profile(spark, t, base)
    # current run drops the 'tool' column entirely -> FORWARD-incompatible
    run_profile(spark, t.drop("tool"), cur, columns=["conv_id", "turn_idx", "role", "text"])

    ok = run_schema_evolution(spark, cur, base, mode="BACKWARD")
    assert [r["pass"] for r in ok.collect()] == [True]  # removal is BACKWARD-ok

    cur2 = str(tmp_path / "cur2")
    run_profile(spark, t.drop("conv_id"), cur2, columns=["turn_idx", "role", "text", "tool"])
    bad = run_schema_evolution(spark, cur2, base, mode="FORWARD")
    rows = bad.collect()
    assert any(not r["pass"] and r["field"] == "conv_id" for r in rows)


def test_windowed_drift_report_matches_per_window(spark):
    """drift_terms keyed by window against ONE baseline (crossed with the
    windows) gives, for each window, EXACTLY the unwindowed drift_terms of
    that window's counts alone — including buckets unseen in a window
    (o_cur=0) and window-only buckets (o_base=0), and never a phantom row
    for a bucket seen only in another window."""
    import datetime as dt

    from schema_infer_plugin_spark.checks.drift import drift_terms

    cols = ("freq_base", "freq_cur", "psi_term", "kl_term", "js_term",
            "o_base", "o_cur", "n_base", "n_cur", "chi2_term")
    schema = "column: string, bucket: string, v: double, cnt: long"
    base = spark.createDataFrame(
        [("role", b, None, n) for b, n in (("a", 10), ("b", 30), ("c", 5))], schema
    )
    w1 = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    w2 = (dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3))
    per_window = {w1: [("a", 5), ("b", 5)], w2: [("b", 2), ("d", 3)]}
    wc = spark.createDataFrame(
        [(*w, "role", b, None, n) for w, rows in per_window.items() for b, n in rows],
        "window_start: timestamp, window_end: timestamp, " + schema,
    )
    got = {}
    for r in drift_terms(wc, base, by=("window_start", "window_end")).collect():
        got.setdefault(r["window_start"], {})[r["bucket"]] = tuple(r[c] for c in cols)
    for win, rows in per_window.items():
        cur = spark.createDataFrame([("role", b, None, n) for b, n in rows], schema)
        want = {r["bucket"]: tuple(r[c] for c in cols) for r in drift_terms(cur, base).collect()}
        assert got[win[0]] == want  # bit-identical per window


def test_windowed_ks_report_matches_per_window(spark):
    """drift_compare keyed by window against ONE grid baseline gives, for
    each window, the unwindowed drift_compare of that window's counts alone
    — a grid point occupied only in another window is no cell here, so W1
    intervals merge across it and the chi2/dof pair is unchanged."""
    import datetime as dt

    import pytest

    from schema_infer_plugin_spark.checks.drift import drift_compare

    schema = "column: string, bucket: string, v: double, cnt: long"
    base = spark.createDataFrame(
        [("x", None, v, n) for v, n in ((0.0, 10), (4.0, 30), (8.0, 5), (12.0, 4))], schema
    )
    wa = (dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2))
    wb = (dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 3))
    # 16.0 exists in window wb ONLY
    per_window = {wa: [(0.0, 5), (8.0, 7)], wb: [(4.0, 2), (16.0, 3)]}
    wc = spark.createDataFrame(
        [(*w, "x", None, v, n) for w, rows in per_window.items() for v, n in rows],
        "window_start: timestamp, window_end: timestamp, " + schema,
    )
    rep = drift_compare(wc, base, by=("window_start", "window_end")).collect()
    rep = {r["window_start"]: r for r in rep}
    assert set(rep) == {wa[0], wb[0]}
    for win, rows in per_window.items():
        cur = spark.createDataFrame([("x", None, v, n) for v, n in rows], schema)
        want = drift_compare(cur, base).collect()[0]
        got = rep[win[0]]
        for k in ("ks_stat", "ks_at", "dof", "n_cur", "n_base"):
            assert got[k] == want[k], k
        # double SUMS: same terms, possibly different accumulation order
        assert got["w1"] == pytest.approx(want["w1"], rel=1e-12)
        assert got["chi2"] == pytest.approx(want["chi2"], rel=1e-12)

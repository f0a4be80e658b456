"""Constraint checks verified two ways: (1) against DuckDB running the identical
check logic over the identical fixture view (the driver's oracle path), and
(2) against hand-computed micro-fixtures with known violation coordinates."""

from __future__ import annotations

import __spark_entry__ as entrymod
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_CORRECT, duck_rows, spark_rows

ORACLE_CHECKED = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, SF_CORRECT)
    assert spark_rows(sdf) == duck_rows(duck, entrymod.oracle_sql()[name])


def _mini_transcripts(spark):
    rows = [
        # conv A: clean 0,1,2
        ("A", 0, "user", "hi", None, None),
        ("A", 1, "assistant", "hello", None, None),
        ("A", 2, "tool", "result", "search", None),
        # conv B: duplicate turn 1, gap (3 follows 1), bad role, tool misuse
        ("B", 0, "user", "q", None, None),
        ("B", 1, "assistant", "a", None, None),
        ("B", 1, "assistant", "a-dup", None, None),
        ("B", 3, "moderator", None, "laser", None),
        # conv C: starts at 2
        ("C", 2, "user", "late", "search", None),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def _fused(df, *checks, rules=None):
    """Rows of the fused validation plan (plans/validate.py) for ``checks``."""
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    return validate_transcripts(df, rules).filter(F.col("check_name").isin(*checks)).collect()


def test_uniqueness_micro(spark):
    got = {
        (r["conv_id"], r["turn_idx"], r["observed"])
        for r in _fused(_mini_transcripts(spark), "uniqueness")
    }
    assert got == {("B", 1, "2")}


def test_contiguity_micro(spark):
    got = {
        (r["check_name"], r["conv_id"], r["turn_idx"], r["expected"])
        for r in _fused(_mini_transcripts(spark), "contiguity", "contiguity_start")
    }
    assert got == {("contiguity", "B", 3, "2"), ("contiguity_start", "C", 2, "0")}


def test_domains_micro(spark):
    t = _mini_transcripts(spark)
    bad_roles = {(r["conv_id"], r["observed"]) for r in _fused(t, "domain_role")}
    assert bad_roles == {("B", "moderator")}
    bad_tools = {(r["conv_id"], r["observed"]) for r in _fused(t, "domain_tool")}
    assert bad_tools == {("B", "laser")}
    misuse = {(r["conv_id"], r["turn_idx"]) for r in _fused(t, "tool_without_role")}
    assert misuse == {("B", 3), ("C", 2)}


def test_drift_detects_shift(spark):
    from schema_infer_plugin_spark.checks import drift_compare, drift_counts
    from pyspark.sql import functions as F

    base = spark.range(1000).select(
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant").alias("role")
    )
    cur = spark.range(1000).select(
        F.when(F.col("id") % 10 == 0, "user").otherwise("assistant").alias("role")
    )
    psi = lambda c, b: drift_compare(  # noqa: E731
        drift_counts(c, ["role"]), drift_counts(b, ["role"])
    ).first()["psi"]
    assert psi(cur, base) > 0.25  # industry "significant drift" threshold
    assert abs(psi(base, base)) < 1e-9


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == [
        "run_id", "check_name", "conv_id", "turn_idx", "column", "observed", "expected", "detail",
    ]
    # stable ordering: (conv_id, turn_idx, check_name) — NULL keys (the
    # fixture's injected keyless rows) sort first, matching Spark's asc()
    keys = [
        tuple((v is not None, v) for v in (r["conv_id"], r["turn_idx"], r["check_name"]))
        for r in rows
    ]
    assert keys == sorted(keys)


def test_oracle_contract_consistency():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


def test_ts_monotonic_us_no_fanout_on_duplicate_turn_idx(spark):
    # ADVICE r1: two violating rows sharing (conv_id, turn_idx) must yield
    # exactly 2 rows (one per input row), not a 2x2 join fan-out
    from schema_infer_plugin_spark.checks.temporal import ts_monotonic_violations_us

    rows = [
        ("A", 0, "2026-01-01 00:10:00"),
        ("A", 1, "2026-01-01 00:01:00"),  # rewind #1
        ("A", 1, "2026-01-01 00:02:00"),  # duplicate turn_idx, also < turn 0's ts? no:
        # ordered by (turn_idx, ts): 00:10, 00:01, 00:02 -> row2 rewinds vs row1,
        # row3 (00:02) does NOT rewind vs 00:01 -> craft a second rewind below
        ("A", 2, "2026-01-01 00:00:30"),  # rewind #2
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts_s"]).select(
        "conv_id",
        "turn_idx",
        F.lit(None).cast("string").alias("role"),
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    out = ts_monotonic_violations_us(df).collect()
    assert len(out) == 2
    got = {(r["conv_id"], r["turn_idx"]) for r in out}
    assert got == {("A", 1), ("A", 2)}


def test_ts_monotonic_us_duplicate_key_both_violating(spark):
    # the exact ADVICE scenario: BOTH duplicated-turn_idx rows rewind
    from schema_infer_plugin_spark.checks.temporal import ts_monotonic_violations_us

    rows = [
        ("B", 0, "2026-01-01 00:10:00"),
        ("B", 1, "2026-01-01 00:02:00"),  # rewinds vs 00:10
        ("B", 1, "2026-01-01 00:01:00"),  # sorts first within turn 1; rewinds vs 00:10
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts_s"]).select(
        "conv_id",
        "turn_idx",
        F.lit(None).cast("string").alias("role"),
        F.col("ts_s").cast("timestamp").alias("ts"),
    )
    out = ts_monotonic_violations_us(df).collect()
    # ordering within turn 1: 00:01 then 00:02 -> 00:01 rewinds vs 00:10;
    # 00:02 does not rewind vs 00:01 -> exactly ONE violation, not 2 or 4
    assert len(out) == 1
    assert out[0]["observed_us"] is not None and out[0]["expected_after_us"] is not None


def test_role_alternation_micro(spark):
    from schema_infer_plugin_spark.checks import alternation_rules

    rows = [
        ("A", 0, "user", "2026-01-01 00:00:00"),
        ("A", 1, "assistant", "2026-01-01 00:01:00"),
        ("A", 2, "assistant", "2026-01-01 00:02:00"),  # repeat -> violation
        ("A", 3, "tool", "2026-01-01 00:03:00"),
        ("A", 4, "tool", "2026-01-01 00:04:00"),       # tool runs are exempt
        ("A", 5, "user", "2026-01-01 00:05:00"),
        ("A", 6, None, "2026-01-01 00:06:00"),         # null never violates
        ("A", 7, "user", "2026-01-01 00:07:00"),       # prev is null -> ok
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts_s"]).select(
        "conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = [(r["conv_id"], r["turn_idx"], r["observed"]) for r in
           _fused(df, "role_alternation", rules=alternation_rules())]
    assert got == [("A", 2, "assistant")]


def test_conv_rules_deterministic_on_turn_ties(spark):
    """Rows duplicating (turn_idx, ts) with different roles: the turn order
    (schema.conv_order) breaks the tie on role, so alternation, the
    transition whitelist and both boundary rules give the SAME rows however
    the input is ordered or partitioned — sorted order here is
    a0 u0 a1 a2 u2 (role asc within a tied turn)."""
    from schema_infer_plugin_spark.checks import (
        alternation_rules,
        boundary_rules,
        transition_rules,
    )

    rows = [
        ("T", 0, "assistant", "2026-01-01 00:00:00"),
        ("T", 0, "user", "2026-01-01 00:00:00"),
        ("T", 1, "assistant", "2026-01-01 00:01:00"),
        ("T", 2, "assistant", "2026-01-01 00:02:00"),
        ("T", 2, "user", "2026-01-01 00:02:00"),
    ]
    rules = (
        alternation_rules()
        + transition_rules(["user->assistant", "assistant->user"])
        + boundary_rules()
    )
    want = {
        ("role_alternation", 2, "assistant", "!= assistant"),
        ("role_transition_domain", 2, "assistant->assistant",
         "in {assistant->user,user->assistant}"),
        ("conv_start_role", 0, "assistant", "in {system,user}"),
        ("conv_end_role", 2, "user", "in {assistant,tool}"),
    }
    for ordered in (rows, rows[::-1], rows[2:] + rows[:2]):
        for n_parts in (1, 3):
            df = (
                spark.createDataFrame(ordered, ["conv_id", "turn_idx", "role", "ts_s"])
                .select("conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts"))
                .repartition(n_parts)
            )
            got = {
                (r["check_name"], r["turn_idx"], r["observed"], r["expected"])
                for r in _fused(df, *{r.name for r in rules}, rules=rules)
            }
            assert got == want, (ordered, n_parts)


def test_role_transition_matrix_micro(spark):
    from schema_infer_plugin_spark.checks import role_transition_matrix

    rows = [
        ("A", 0, "user", "2026-01-01 00:00:00"),
        ("A", 1, "assistant", "2026-01-01 00:01:00"),
        ("A", 2, "user", "2026-01-01 00:02:00"),
        ("B", 0, "user", "2026-01-01 00:00:00"),
        ("B", 1, "tool", "2026-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts_s"]).select(
        "conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts")
    )
    got = {
        (r["prev_role"], r["role"]): (r["n"], r["rate"])
        for r in role_transition_matrix(df).collect()
    }
    assert got == {
        (None, "user"): (2, 0.4),
        ("user", "assistant"): (1, 0.2),
        ("assistant", "user"): (1, 0.2),
        ("user", "tool"): (1, 0.2),
    }


def test_transition_domain_violations_micro(spark):
    import pytest

    from schema_infer_plugin_spark.checks import transition_rules

    rows = [
        ("A", 0, "user", "2026-01-01 00:00:00"),
        ("A", 1, "assistant", "2026-01-01 00:01:00"),
        ("A", 2, "assistant", "2026-01-01 00:02:00"),  # assistant->assistant: bad
        ("B", 0, "system", "2026-01-01 00:00:00"),     # opener: no transition
        ("B", 1, "user", "2026-01-01 00:01:00"),
        ("B", 2, None, "2026-01-01 00:02:00"),         # NULL role: null check's job
        ("B", 3, "tool", "2026-01-01 00:03:00"),       # prev NULL: skipped too
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts_s"]).select(
        "conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts")
    )
    allowed = ["user->assistant", "assistant->user", "system->user"]
    out = _fused(df, "role_transition_domain", rules=transition_rules(allowed))
    got = [(r["conv_id"], r["turn_idx"], r["observed"], r["check_name"]) for r in out]
    assert got == [("A", 2, "assistant->assistant", "role_transition_domain")]
    assert out[0]["expected"] == "in {assistant->user,system->user,user->assistant}"

    with pytest.raises(ValueError, match="non-empty"):
        transition_rules([])
    with pytest.raises(ValueError, match="prev->next"):
        transition_rules(["user->"])


def test_expr_suite_violations_micro(spark):
    import pytest

    from schema_infer_plugin_spark.checks import expr_suite_violations

    rows = [
        ("A", 0, "user", "ok text here"),
        ("A", 1, "assistant", "x"),       # fails min_len
        ("A", 99, "user", "long enough"),  # fails turn cap
        ("B", 0, None, None),              # NULL text -> NULL predicate = fail
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    rules = [
        ("turn_cap", "turn_idx <= 50", "turn_idx", "turn_idx", "<= 50"),
        ("min_len", "length(text) >= 3", "text", "length(text)", ">= 3"),
    ]
    got = {
        (r["check_name"], r["conv_id"], r["turn_idx"]): (r["observed"], r["expected"])
        for r in expr_suite_violations(df, rules).collect()
    }
    assert got == {
        ("turn_cap", "A", 99): ("99", "<= 50"),
        ("min_len", "A", 1): ("1", ">= 3"),
        ("min_len", "B", 0): ("NULL", ">= 3"),  # NULL predicate fails, observed NULL
    }
    with pytest.raises(ValueError):
        expr_suite_violations(df, [])
    with pytest.raises(ValueError):
        expr_suite_violations(df, [rules[0], rules[0]])


def test_hot_key_report_micro(spark):
    from schema_infer_plugin_spark.checks import group_size_stats, hot_key_report

    rows = [("hot", i) for i in range(6)] + [("warm", 0), ("warm", 1), ("cold", 0)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx"])
    top = hot_key_report(df, "conv_id", top_n=2).collect()
    assert [(r["rank"], r["key"], r["cnt"]) for r in top] == [(1, "hot", 6), (2, "warm", 2)]
    # shares are of the WHOLE table (9 rows), cum_share accumulates
    assert top[0]["share"] == round(6 / 9, 6)
    assert top[1]["cum_share"] == round(8 / 9, 6)

    stats = group_size_stats(df, "conv_id").collect()[0]
    assert (stats["n_keys"], stats["n_rows"], stats["min_size"], stats["max_size"]) == (3, 9, 1, 6)
    assert stats["skew_factor"] == 2.0  # max 6 / avg 3


def test_hot_key_report_deterministic_ties(spark):
    from schema_infer_plugin_spark.checks import hot_key_report

    rows = [("b", 0), ("b", 1), ("a", 0), ("a", 1), ("c", 0)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx"]).repartition(8)
    top = hot_key_report(df, "conv_id", top_n=3).collect()
    # tie on cnt=2 breaks on key ascending: a before b
    assert [r["key"] for r in top] == ["a", "b", "c"]


def test_conv_latency_micro(spark):
    from schema_infer_plugin_spark.checks import conv_latency_stats

    rows = [
        ("A", 0, "user", "2026-01-01 00:00:00"),
        ("A", 1, "assistant", "2026-01-01 00:00:02"),  # response gap 2s
        ("A", 2, "user", "2026-01-01 00:00:03"),
        ("A", 3, "assistant", None),                    # null ts: no gap either side
        ("A", 4, "user", "2026-01-01 00:00:10"),
        ("B", 0, "user", "2026-01-01 00:00:00"),        # single-gap conv, no response
        ("B", 1, "tool", "2026-01-01 00:00:05"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts_s"]).select(
        "conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias("ts")
    )
    out = {r["conv_id"]: r for r in conv_latency_stats(df).collect()}
    a = out["A"]
    # gaps: 0->1 = 2s, 1->2 = 1s; 2->3 and 3->4 are null-adjacent -> no gap
    assert (a["n_turns"], a["n_gaps"], a["n_responses"]) == (5, 2, 1)
    assert a["mean_gap_us"] == 1_500_000.0
    assert a["max_gap_us"] == 2_000_000
    assert a["mean_response_us"] == 2_000_000.0
    b = out["B"]
    assert (b["n_gaps"], b["n_responses"]) == (1, 0)
    assert b["mean_response_us"] is None


def test_fd_violations_micro(spark):
    """(conv_id, turn_idx) → role: only the key mapping to two roles is
    flagged; NULL dependents don't create conflicts."""
    from schema_infer_plugin_spark.checks import fd_violations

    rows = [
        ("A", 0, "user"),
        ("A", 0, "assistant"),   # conflict: two roles for one key
        ("A", 1, "user"),
        ("A", 1, "user"),        # duplicate but consistent -> no violation
        ("B", 0, "user"),
        ("B", 0, None),          # NULL is ignored, not a second value
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = fd_violations(df, ["conv_id", "turn_idx"], "role").collect()
    assert len(got) == 1
    r = got[0]
    assert (r["conv_id"], r["turn_idx"]) == ("A", 0)
    assert r["n_rows"] == 2 and r["n_values"] == 2
    assert (r["role_min"], r["role_max"]) == ("assistant", "user")


def test_iqr_outliers_micro(spark):
    """Exact and approx fences agree on a clean separation; the grouped
    variant computes per-group bounds."""
    from schema_infer_plugin_spark.checks import iqr_outliers

    vals = [float(v) for v in range(1, 101)] + [1000.0, -1000.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, value double"
    )
    exact = iqr_outliers(df, "value", k=1.5, approx=False)
    got = {r["id"]: r for r in exact.collect()}
    assert set(got) == {100, 101}  # only the planted extremes
    r = got[100]
    assert r["value"] == 1000.0 and r["lo"] < 0 < r["hi"] < 1000
    # sketch path flags the same extremes here (clean separation)
    approx = iqr_outliers(df, "value", k=1.5, approx=True)
    assert {r["id"] for r in approx.collect()} == {100, 101}
    # grouped: an extreme value in one group is normal in another
    rows = [("a", float(v)) for v in range(10)] + [("a", 500.0)] + [
        ("b", float(v)) for v in range(490, 510)
    ]
    gdf = spark.createDataFrame(
        [(i, g, v) for i, (g, v) in enumerate(rows)], "id long, g string, value double"
    )
    gout = iqr_outliers(gdf, "value", k=1.5, approx=False, group_by=["g"]).collect()
    assert [(r["g"], r["value"]) for r in gout] == [("a", 500.0)]


def test_infer_domain_coverage_and_cap(spark):
    """Values enter the suggested domain until cumulative coverage is
    reached; max_values caps the candidate set; ties break by value."""
    from schema_infer_plugin_spark.checks import infer_domain

    rows = (
        [("user",)] * 60 + [("assistant",)] * 30 + [("tool",)] * 8
        + [("moderator",)] * 2 + [(None,)]
    )
    df = spark.createDataFrame(rows, "role string")
    out = {r["value"]: r for r in infer_domain(df, "role", coverage=0.9).collect()}
    assert set(out) == {"user", "assistant", "tool", "moderator"}
    # mass before user(0) / assistant(0.6) / tool(0.9) / moderator(0.98)
    assert [out[v]["in_domain"] for v in ("user", "assistant", "tool", "moderator")] == [
        True, True, False, False,
    ]
    assert out["user"]["share"] == 0.6 and out["moderator"]["cum_share"] == 1.0
    # cap: only the top-2 most frequent are even reported
    capped = infer_domain(df, "role", coverage=0.9, max_values=2)
    assert {r["value"] for r in capped.collect()} == {"user", "assistant"}


def test_histogram_equidepth_balanced_buckets(spark):
    """Quantile edges put ~1/n of rows in every bucket even with an extreme
    outlier; the equal-width histogram collapses under the same input."""
    from schema_infer_plugin_spark.checks import histogram, histogram_equidepth

    vals = [float(v) for v in range(1, 801)] + [1e9]  # outlier stretches range
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    eq = histogram_equidepth(df, "value", n_buckets=8, approx=False).collect()
    assert len(eq) == 8
    counts = sorted(r["cnt"] for r in eq)
    assert counts[0] >= 90 and counts[-1] <= 110  # ~100 each
    by_bucket = {r["bucket"]: r for r in eq}
    assert by_bucket[0]["edge_lo"] == 1.0 and by_bucket[7]["edge_hi"] == 1e9
    # edges are monotone and adjacent buckets share an edge
    for b in range(7):
        assert by_bucket[b]["edge_hi"] == by_bucket[b + 1]["edge_lo"]
    # equal-width: the outlier shoves ALL regular rows into bucket 0
    ew = {int(r["bucket"]): r["freq"] for r in histogram(df, "value", n_buckets=8).collect()}
    assert ew[0] > 0.99


def test_daily_volume_anomaly_flags_collapse_and_spike(spark):
    """Stable 100/day baseline; a collapse day (5) and a spike day (400) are
    flagged; early days with <3 days history never are."""
    import datetime

    from schema_infer_plugin_spark.checks import daily_volume_anomalies

    rows = []
    base = datetime.datetime(2026, 3, 1)
    plan = [100, 101, 99, 100, 102, 5, 100, 98, 400, 101]
    for d, n in enumerate(plan):
        for i in range(n):
            rows.append((base + datetime.timedelta(days=d, seconds=i),))
    df = spark.createDataFrame(rows, "ts timestamp")
    out = {r["day"].day: r for r in daily_volume_anomalies(df, "ts", k=3.0).collect()}
    assert len(out) == 10
    flagged = {d for d, r in out.items() if r["is_anomaly"]}
    assert flagged == {6, 9}  # March 6th (collapse) and 9th (spike)
    assert out[6]["z"] < -3 and out[9]["z"] > 3
    # first two days: no/insufficient history -> never anomalous, z may be NULL
    assert not out[1]["is_anomaly"] and not out[2]["is_anomaly"]
    assert out[1]["base_std"] is None


def test_temporal_self_drift_detects_mid_stream_shift(spark):
    """A category that appears only in the later half produces large drift
    terms; a stationary distribution produces ~zero."""
    import datetime

    from schema_infer_plugin_spark.checks import temporal_self_drift

    base = datetime.datetime(2026, 4, 1)
    rows = []
    for i in range(400):
        et = "click" if i % 2 == 0 else "view"
        if i >= 200 and i % 4 == 0:
            et = "error"  # appears only in the later half
        rows.append((et, base + datetime.timedelta(minutes=i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    d = {r["bucket"]: r for r in temporal_self_drift(df, "event_type", approx=False).collect()}
    assert d["error"]["freq_base"] == 0.0 and d["error"]["freq_cur"] > 0.2
    assert d["error"]["psi_term"] > 1.0  # blown-up term for the new category
    # stationary control
    flat = spark.createDataFrame(
        [("a" if i % 2 else "b", base + datetime.timedelta(minutes=i)) for i in range(400)],
        "event_type string, ts timestamp",
    )
    total_psi = sum(
        r["psi_term"] for r in temporal_self_drift(flat, "event_type", approx=False).collect()
    )
    assert abs(total_psi) < 0.01


def test_violations_scorecard_rollup(spark):
    from schema_infer_plugin_spark.operators.violations import violations_scorecard

    v = spark.createDataFrame(
        [("uniq", "A", 1), ("uniq", "A", 2), ("uniq", "B", 0), ("nulls", "A", 3)],
        "check_name string, conv_id string, turn_idx int",
    )
    out = {r["check_name"]: r.asDict() for r in violations_scorecard(v).collect()}
    assert out["uniq"]["n_violations"] == 3 and out["uniq"]["n_convs"] == 2
    assert out["nulls"]["n_violations"] == 1 and out["nulls"]["n_convs"] == 1
    assert out["__all__"]["n_violations"] == 4 and out["__all__"]["n_convs"] == 2

    empty = v.filter("1 = 0")
    rows = violations_scorecard(empty).collect()
    assert len(rows) == 1 and rows[0]["check_name"] == "__all__"
    assert rows[0]["n_violations"] == 0 and rows[0]["n_convs"] == 0

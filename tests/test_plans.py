"""Fused single-pass validation plan: DuckDB-oracle equivalence + physical-plan
shape. The witness is the per-check DuckDB oracle SQL of __spark_entry__.py
run over the same rows, with every option on."""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from schema_infer_plugin_spark.checks import alternation_rules, boundary_rules, transition_rules
from schema_infer_plugin_spark.plans.validate import default_rules, validate_transcripts
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.sources.views import oracle_cte
from tests.conftest import canon

#: __spark_entry__ oracle SQL bodies, one per check family of all_option_rules()
_ORACLES = [
    entrymod.ORACLE_VALIDATE_FUSED,  # the ten built-ins except ts_monotonic
    entrymod.ORACLE_ROLE_ALTERNATION,
    entrymod.ORACLE_CONV_BOUNDARIES,
    entrymod.ORACLE_TRANSITION_DOMAIN,
    entrymod.ORACLE_EXPR_SUITE,
]


def all_option_rules():
    """Every rule the engine can enable: built-ins, alternation, boundary
    roles, the __spark_entry__ transition whitelist and custom rules (one of
    which reads ``text``)."""
    return (
        default_rules()
        + alternation_rules()
        + boundary_rules()
        + transition_rules(entrymod._ALLOWED_TRANSITIONS)
        + list(entrymod._EXPR_RULES)
    )


def _rows(records, cols):
    return sorted(tuple(canon(r[c]) for c in cols) for r in records)


def assert_matches_oracle(t, rules=None):
    """``validate_transcripts(t, rules)`` (default: every option on) emits
    exactly the rows of the __spark_entry__ DuckDB oracle SQL over ``t``'s
    rows. ts_monotonic compares in epoch µs (its oracle's unit); the rest
    compare as rendered strings. Returns the fused row count."""
    import duckdb

    rules = all_option_rules() if rules is None else rules
    names = {r[0] for r in rules}
    fused = validate_transcripts(t, rules).persist()
    try:
        con = duckdb.connect()
        con.register("rows_in", t.toArrow())
        bind = lambda sql: sql.replace(  # noqa: E731
            oracle_cte(""), "WITH transcripts AS (SELECT * FROM rows_in) ", 1
        )
        want = [
            r
            for sql in _ORACLES
            for r in con.execute(bind(sql)).fetch_arrow_table().to_pylist()
            if r["check_name"] in names
        ]
        cols = ["check_name", "conv_id", "turn_idx", "col_name", "observed", "expected"]
        got = fused.filter(F.col("check_name") != "ts_monotonic")
        assert _rows(got.withColumnRenamed("column", "col_name").collect(), cols) == _rows(
            want, cols
        )

        if "ts_monotonic" in names:
            us = lambda c: F.unix_micros(F.to_timestamp(c))  # noqa: E731
            ts_cols = ["conv_id", "turn_idx", "observed_us", "expected_after_us"]
            got_ts = fused.filter(F.col("check_name") == "ts_monotonic").select(
                "conv_id",
                "turn_idx",
                us(F.col("observed")).alias("observed_us"),
                us(F.substring("expected", 4, 64)).alias("expected_after_us"),
            )
            want_ts = con.execute(bind(entrymod.ORACLE_TS_MONOTONIC))
            assert _rows(got_ts.collect(), ts_cols) == _rows(
                want_ts.fetch_arrow_table().to_pylist(), ts_cols
            )
        return fused.count()
    finally:
        fused.unpersist()


def test_fused_matches_oracle_on_synth(spark):
    t = synth_transcripts(spark, 2_000).persist()
    try:
        # synth injects violations; a zero here means the checks went blind
        assert assert_matches_oracle(t) > 0
    finally:
        t.unpersist()


def test_fused_handles_adjacent_duplicates_gaps_and_ts(spark):
    import datetime as dt

    def ts(m):
        return dt.datetime(2026, 1, 1, 0, m)

    # conv A: dup at idx 1 (x3), gap 2->5, ts rewind at idx 2; conv B: starts at 3.
    rows = [
        ("A", 0, "user", "t", None, ts(0)),
        ("A", 1, "user", "t", None, ts(1)),
        ("A", 1, "assistant", "t", None, ts(2)),
        ("A", 1, "assistant", "t", None, ts(3)),
        ("A", 2, "user", "t", None, ts(1)),  # rewinds vs 00:03
        ("A", 5, "user", "t", None, ts(5)),
        ("B", 3, "user", "t", None, None),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        (r["check_name"], r["conv_id"], r["turn_idx"], r["observed"], r["expected"])
        for r in validate_transcripts(t).collect()
    }
    assert got == {
        ("uniqueness", "A", 1, "3", "1"),
        ("contiguity", "A", 5, "5", "3"),
        ("contiguity_start", "B", 3, "3", "0"),
        ("ts_monotonic", "A", 2, "2026-01-01 00:01:00", ">= 2026-01-01 00:03:00"),
    }


def test_fused_null_key_posture(spark):
    """Rows missing conv_id or turn_idx raise not_null_* violations, are
    EXCLUDED from every sequence check (no fabricated uniqueness/contiguity
    among keyless rows), and leave the well-keyed conversations' results
    untouched."""
    import datetime as dt

    ts0 = dt.datetime(2026, 1, 1)
    rows = [
        # well-formed conversation, no violations
        ("A", 0, "user", "t", None, ts0),
        ("A", 1, "assistant", "t", None, ts0),
        # two keyless rows sharing turn_idx 7: NOT a uniqueness violation
        (None, 7, "user", "t", None, ts0),
        (None, 7, "assistant", "t", None, ts0),
        # NULL turn_idx inside a real conversation: flagged, out of sequence
        ("A", None, "user", "t", None, ts0),
    ]
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = {
        (r["check_name"], r["conv_id"], r["turn_idx"])
        for r in validate_transcripts(t).collect()
    }
    assert got == {
        ("not_null_conv_id", None, 7),
        ("not_null_turn_idx", "A", None),
    }
    assert validate_transcripts(t).count() == 3  # 2× conv_id NULL, 1× turn_idx NULL
    # and the DuckDB oracle agrees row-for-row with every option on
    assert_matches_oracle(t)


def test_fused_plan_has_single_exchange(spark):
    t = synth_transcripts(spark, 500)
    plan = validate_transcripts(t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


# ---------------------------------------------------------------------------
# property: fused == DuckDB oracle on ADVERSARIAL micro-fixtures (Hypothesis)
# ---------------------------------------------------------------------------

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ROLES = ["user", "assistant", "tool", "ALIEN", None]
_TOOLS = ["search", "python", "BOGUS", None]

_row = st.tuples(
    st.sampled_from(["A", "B", None]),                # conv_id (collisions + NULL keys)
    st.sampled_from([0, 1, 2, 3, 4, None]),           # turn_idx (dups, gaps, NULL keys)
    st.sampled_from(_ROLES),
    st.sampled_from(["hi", "hello", None]),           # text (null + length rules)
    st.sampled_from(_TOOLS),
    st.sampled_from([None, 0, 60, 120]),              # ts offset sec (rewinds, ties)
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(rows=st.lists(_row, min_size=1, max_size=8))
def test_fused_matches_oracle_property(spark, rows):
    """Whatever combination of duplicate keys, (turn_idx, ts) ties, gaps,
    bad starts and ends, repeats, domain violations, null text and ts
    rewinds Hypothesis throws, the fused single-exchange plan with every
    option on must emit EXACTLY the DuckDB oracles' rows."""
    base = datetime.datetime(2026, 1, 1)
    data = [
        (c, i, r, x, tl, None if o is None else base + datetime.timedelta(seconds=o))
        for (c, i, r, x, tl, o) in rows
    ]
    t = spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    assert_matches_oracle(t)


def test_fused_alternation_opt_in(spark):
    """Alternation is one more rule over the SAME window: its rows equal the
    oracle's, and the plan gains no exchange."""
    t = synth_transcripts(spark, 2_000)
    rules = default_rules() + alternation_rules()
    assert assert_matches_oracle(t, rules) > 0
    base_plan = validate_transcripts(t)._jdf.queryExecution().executedPlan().toString()
    alt_plan = validate_transcripts(t, rules)._jdf.queryExecution().executedPlan().toString()
    assert alt_plan.count("Exchange") == base_plan.count("Exchange")


def test_sampled_validation_estimate(spark):
    """Wilson estimates must equal the closed-form formula on the exact
    fused counts of the SAME deterministic sample; the grid covers every
    check even at zero violations; the sample is conv-granular (partial
    conversations never appear)."""
    import math

    from schema_infer_plugin_spark.plans.validate import (
        CHECK_NAMES,
        sampled_validation_estimate,
    )
    from schema_infer_plugin_spark.sources.sampling import deterministic_sample

    t = synth_transcripts(spark, 2_000)
    sampled = deterministic_sample(t, ["conv_id"], 64)
    n = sampled.count()
    n_convs = sampled.select("conv_id").distinct().count()
    sviol = validate_transcripts(sampled)
    full = {
        r["check_name"]: (r["cnt"], r["convs"])
        for r in sviol.groupBy("check_name").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct("conv_id").alias("convs"),
        ).collect()
    }
    est = {
        r["check_name"]: r
        for r in sampled_validation_estimate(t, rate_num=64).collect()
    }
    assert set(est) == set(CHECK_NAMES)
    z = 1.959964

    def wilson(k, nn):
        phat = k / nn
        denomw = 1.0 + z * z / nn
        center = (phat + z * z / (2.0 * nn)) / denomw
        half = z * math.sqrt(
            phat * (1.0 - phat) / nn + z * z / (4.0 * nn * nn)
        ) / denomw
        # clamped to contain phat (float dust at k=0 / k=n)
        return phat, max(min(center - half, phat), 0.0), min(max(center + half, phat), 1.0)

    for name in CHECK_NAMES:
        row = est[name]
        k, kc = full.get(name, (0, 0))
        assert row["n_turns"] == n and row["n_violations"] == k
        assert row["n_convs"] == n_convs and row["conv_violations"] == kc
        for kk, nn, pre in ((k, n, ""), (kc, n_convs, "conv_")):
            phat, lo, hi = wilson(kk, nn)
            assert math.isclose(row[f"{pre}rate"], phat, abs_tol=1e-12)
            assert math.isclose(row[f"{pre}ci_lo"], lo, abs_tol=1e-9)
            assert math.isclose(row[f"{pre}ci_hi"], hi, abs_tol=1e-9)
        # EXACT containment at both units — the property the least/greatest
        # clamp guarantees (isclose's 1e-9 tolerance can't catch the ~1e-19
        # float dust at k=0 / k=n that the clamp exists for)
        assert row["ci_lo"] <= row["rate"] <= row["ci_hi"]
        assert row["conv_ci_lo"] <= row["conv_rate"] <= row["conv_ci_hi"]

    # conv-granular sampling: a sampled conversation appears whole
    per_conv = sampled.groupBy("conv_id").agg(F.count(F.lit(1)).alias("s"))
    orig = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("o"))
    mismatched = per_conv.join(orig, "conv_id").filter("s != o").count()
    assert mismatched == 0 and 0 < n < t.count()

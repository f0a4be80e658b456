"""Unit tests for checks/correlation.py and checks/boundaries.py: hand-built
frames with known answers, NULL handling, degenerate groups, plan gates."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# grouped_int_corr
# ---------------------------------------------------------------------------


def test_corr_exact_linear(spark):
    from schema_infer_plugin_spark.checks import grouped_int_corr

    # y = 2x + 1 exactly -> corr 1.0; cov of x={1,2,3}, y={3,5,7}:
    # E[xy]-E[x]E[y] = (3+10+21)/3 - 2*5 = 34/3 - 10 = 4/3
    df = spark.createDataFrame([(1, 3), (2, 5), (3, 7)], "x: long, y: long")
    row = grouped_int_corr(df, "x", "y").collect()[0]
    assert row["n_rows"] == 3
    assert row["corr_xy"] == 1.0
    assert math.isclose(row["cov_xy"], round(4 / 3, 6), abs_tol=1e-9)


def test_corr_negative_and_groups(spark):
    from schema_infer_plugin_spark.checks import grouped_int_corr

    rows = [("a", 1, 10), ("a", 2, 8), ("a", 3, 6), ("b", 1, 1), ("b", 2, 1)]
    df = spark.createDataFrame(rows, "g: string, x: long, y: long")
    got = {r["grp"]: r for r in grouped_int_corr(df, "x", "y", group_by="g").collect()}
    assert got["a"]["corr_xy"] == -1.0
    # group b: y constant -> zero variance -> NULL corr, cov 0.0
    assert got["b"]["corr_xy"] is None
    assert got["b"]["cov_xy"] == 0.0


def test_corr_null_pairs_excluded(spark):
    from schema_infer_plugin_spark.checks import grouped_int_corr

    df = spark.createDataFrame(
        [(1, 3), (2, None), (None, 7), (3, 9)], "x: long, y: long"
    )
    row = grouped_int_corr(df, "x", "y").collect()[0]
    assert row["n_rows"] == 2  # only complete pairs
    assert row["corr_xy"] == 1.0


def test_corr_partial_merge_exact(spark, tmp_path):
    from schema_infer_plugin_spark.checks import (
        grouped_int_corr,
        grouped_int_corr_merge,
        grouped_int_corr_partial,
    )

    rows = [("a" if i % 3 else "b", i, (i * 7) % 23) for i in range(200)]
    df = spark.createDataFrame(rows, "g: string, x: long, y: long")
    direct = {
        r["grp"]: (r["n_rows"], r["corr_xy"], r["cov_xy"])
        for r in grouped_int_corr(df, "x", "y", group_by="g").collect()
    }
    # 4-way split, partials persisted and re-read (the artifact path), merged
    parts = [
        grouped_int_corr_partial(
            df.filter(F.col("x") % 4 == k), "x", "y", group_by="g"
        )
        for k in range(4)
    ]
    path = str(tmp_path / "corr_state")
    parts[0].unionByName(parts[1]).unionByName(parts[2]).unionByName(
        parts[3]
    ).write.parquet(path)
    merged = {
        r["grp"]: (r["n_rows"], r["corr_xy"], r["cov_xy"])
        for r in grouped_int_corr_merge(spark.read.parquet(path)).collect()
    }
    assert merged == direct  # bit-identical, not approximately equal


def test_corr_single_exchange(spark):
    from schema_infer_plugin_spark.checks import grouped_int_corr

    df = spark.createDataFrame([("a", 1, 2)], "g: string, x: long, y: long")
    plan = (
        grouped_int_corr(df, "x", "y", group_by="g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 1
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# boundary_rules (conv_start_role / conv_end_role in the fused plan)
# ---------------------------------------------------------------------------


def _tdf(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id: string, turn_idx: int, role: string, ts: timestamp_ntz"
    )


def _boundaries(df, **kw):
    from schema_infer_plugin_spark.checks import boundary_rules
    from schema_infer_plugin_spark.plans.validate import validate_transcripts

    return validate_transcripts(df, boundary_rules(**kw))


def test_boundaries_rules_fire(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # ok: user -> assistant
        ("c1", 0, "user", t0),
        ("c1", 1, "assistant", t0),
        # bad start (assistant first) and bad end (user last)
        ("c2", 0, "assistant", t0),
        ("c2", 1, "user", t0),
        # single-turn conv: user only -> bad END only (start ok)
        ("c3", 0, "user", t0),
        # NULL role at both boundaries -> fails both (NULL = FAIL)
        ("c4", 0, None, t0),
    ]
    out = _boundaries(_tdf(spark, rows))
    got = {(r["check_name"], r["conv_id"]): (r["observed"], r["expected"]) for r in out.collect()}
    assert got == {
        ("conv_start_role", "c2"): ("assistant", "in {system,user}"),
        ("conv_end_role", "c2"): ("user", "in {assistant,tool}"),
        ("conv_end_role", "c3"): ("user", "in {assistant,tool}"),
        ("conv_start_role", "c4"): ("NULL", "in {system,user}"),
        ("conv_end_role", "c4"): ("NULL", "in {assistant,tool}"),
    }
    assert out.columns == ["check_name", "conv_id", "turn_idx", "column", "observed", "expected"]


def test_boundaries_deterministic_on_dup_rows(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    # duplicate (turn_idx, ts) at the start with different roles: the role
    # tie-breaker must pick 'assistant' (asc) as the boundary row every time
    rows = [
        ("c1", 0, "user", t0),
        ("c1", 0, "assistant", t0),
        ("c1", 1, "assistant", t0),
    ]
    outs = {
        tuple(sorted((r["check_name"], r["observed"]) for r in
                     _boundaries(_tdf(spark, rows)).collect()))
        for _ in range(3)
    }
    assert outs == {(("conv_start_role", "assistant"),)}


def test_boundaries_single_exchange(spark):
    import datetime as dt

    df = _tdf(spark, [("c1", 0, "user", dt.datetime(2024, 1, 1))])
    plan = _boundaries(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1
    assert "BatchEvalPython" not in plan


def test_boundaries_empty_sets_raise(spark):
    import datetime as dt

    df = _tdf(spark, [("c1", 0, "user", dt.datetime(2024, 1, 1))])
    with pytest.raises(ValueError):
        _boundaries(df, allowed_first=())


# ---------------------------------------------------------------------------
# transition_self_drift
# ---------------------------------------------------------------------------


def test_transition_drift_model(spark):
    import datetime as dt

    from schema_infer_plugin_spark.checks import transition_self_drift

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    # conv a (early): user->assistant, assistant->user transitions at h=1,2
    # conv b (late): user->tool, tool->tool at h=11,12 — protocol shift
    rows = [
        ("a", 0, "user", t(0)),
        ("a", 1, "assistant", t(1)),
        ("a", 2, "user", t(2)),
        ("b", 0, "user", t(10)),
        ("b", 1, "tool", t(11)),
        ("b", 2, "tool", t(12)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id: string, turn_idx: int, role: string, ts: timestamp_ntz"
    )
    out = {r["bucket"]: r for r in transition_self_drift(df, approx=False).collect()}
    # 4 transitions (openers excluded); median ts splits 2/2
    assert set(out) == {"user->assistant", "assistant->user", "user->tool", "tool->tool"}
    assert sum(r["freq_base"] for r in out.values()) == 1.0
    assert sum(r["freq_cur"] for r in out.values()) == 1.0
    # early-only buckets have freq_cur 0, late-only have freq_base 0
    assert out["user->assistant"]["freq_cur"] == 0.0
    assert out["tool->tool"]["freq_base"] == 0.0
    # identical halves -> zero drift everywhere
    sym = spark.createDataFrame(
        [("a", 0, "user", t(0)), ("a", 1, "assistant", t(1)),
         ("b", 0, "user", t(10)), ("b", 1, "assistant", t(11))],
        "conv_id: string, turn_idx: int, role: string, ts: timestamp_ntz",
    )
    for r in transition_self_drift(sym, approx=False).collect():
        assert abs(r["psi_term"]) < 1e-9 and abs(r["js_term"]) < 1e-9


# ---------------------------------------------------------------------------
# drift_terms' chi-square column / transition_chi2
# ---------------------------------------------------------------------------


def _counts(spark, rows):
    """(bucket, cnt) pairs as one categorical series in the drift_counts shape."""
    return spark.createDataFrame(
        [("c", b, None, n) for b, n in rows], "column: string, bucket: string, v: double, cnt: long"
    )


def _chi2_terms(spark, cur, base):
    """drift_terms rows by bucket for two (bucket, cnt) lists."""
    from schema_infer_plugin_spark.checks import drift_terms

    got = drift_terms(_counts(spark, cur), _counts(spark, base)).collect()
    return {r["bucket"]: r for r in got}


def test_chi2_terms_hand_computed(spark):
    base = [("a", 10), ("b", 30)]
    cur = [("a", 20), ("b", 20)]
    out = _chi2_terms(spark, cur, base)
    # classic 2x2: chi2 = N(ad-bc)^2/((a+b)(c+d)(a+c)(b+d))
    #            = 80*(10*20-30*20)^2/(40*40*30*50) = 16/3
    assert out["a"]["n_base"] == 40 and out["a"]["n_cur"] == 40
    assert math.isclose(out["a"]["chi2_term"], 400.0**2 / (40 * 40 * 30))
    assert math.isclose(out["b"]["chi2_term"], 400.0**2 / (40 * 40 * 50))
    total = sum(r["chi2_term"] for r in out.values())
    assert math.isclose(total, 80 * 400.0**2 / (40 * 40 * 30 * 50))

    # one-sided bucket contributes a finite term; identical frames -> all 0
    out2 = _chi2_terms(spark, [("a", 10), ("c", 5)], base)
    assert out2["c"]["o_base"] == 0 and out2["c"]["chi2_term"] > 0
    same = _chi2_terms(spark, base, base)
    assert all(r["chi2_term"] == 0.0 for r in same.values())

    # an empty side has no homogeneity question: NULL terms, never NaN/Inf
    for r in _chi2_terms(spark, cur, []).values():
        assert r["chi2_term"] is None


def test_transition_chi2_model(spark):
    import datetime as dt

    from schema_infer_plugin_spark.checks import transition_chi2

    t = lambda h: dt.datetime(2024, 1, 1, h)  # noqa: E731
    rows = [
        ("a", 0, "user", t(0)),
        ("a", 1, "assistant", t(1)),
        ("a", 2, "user", t(2)),
        ("b", 0, "user", t(10)),
        ("b", 1, "tool", t(11)),
        ("b", 2, "tool", t(12)),
    ]
    df = spark.createDataFrame(
        rows, "conv_id: string, turn_idx: int, role: string, ts: timestamp_ntz"
    )
    out = {r["bucket"]: r for r in transition_chi2(df, approx=False).collect()}
    # 4 transitions, median splits 2/2; disjoint halves -> every cell is
    # one-sided: term = (1*2)^2/(2*2*1) = 1.0 each, total 4 = N (max for 2xk)
    assert set(out) == {"user->assistant", "assistant->user", "user->tool", "tool->tool"}
    assert all(r["n_base"] == 2 and r["n_cur"] == 2 for r in out.values())
    assert all(math.isclose(r["chi2_term"], 1.0) for r in out.values())


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    counts=st.dictionaries(
        st.sampled_from(list("abcdefgh")),
        st.tuples(st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=8,
    )
)
def test_chi2_terms_matches_python_model(spark, counts):
    """drift_terms' chi-square column on arbitrary count frames == a
    pure-Python model of the per-bucket algebraic form, and the summed
    statistic equals the textbook expected-count chi-square (algebraic
    identity)."""
    base = {b: v[0] for b, v in counts.items() if v[0] > 0}
    cur = {b: v[1] for b, v in counts.items() if v[1] > 0}
    got = _chi2_terms(spark, sorted(cur.items()), sorted(base.items()))
    n_b, n_c = sum(base.values()), sum(cur.values())
    want_buckets = set(base) | set(cur)
    assert set(got) == want_buckets
    for b in want_buckets:
        o_b, o_c = base.get(b, 0), cur.get(b, 0)
        r = got[b]
        assert (r["o_base"], r["o_cur"], r["n_base"], r["n_cur"]) == (o_b, o_c, n_b, n_c)
        if n_b > 0 and n_c > 0:
            diff = float(o_c * n_b) - float(o_b * n_c)
            want = diff * diff / (float(n_c) * float(n_b) * float(o_c + o_b))
            assert r["chi2_term"] == want  # identical fixed double formula
        else:
            assert r["chi2_term"] is None
    if n_b > 0 and n_c > 0:
        total = sum(r["chi2_term"] for r in got.values())
        classic = 0.0
        grand = n_b + n_c
        for b in want_buckets:
            col = base.get(b, 0) + cur.get(b, 0)
            for o, n_g in ((base.get(b, 0), n_b), (cur.get(b, 0), n_c)):
                e = n_g * col / grand
                classic += (o - e) ** 2 / e
        assert math.isclose(total, classic, rel_tol=1e-9, abs_tol=1e-12)

"""Unit tests for the round-3 depth operators: two-sample KS drift
(checks/ksdrift.py), profile comparison verdicts (plans/compare.py), and
token-budget sequence packing (datapipe/packing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# ks_statistic
# ---------------------------------------------------------------------------


def test_ks_exact_known_value(spark):
    """Hand-checkable KS: a = {1,2,3,4}, b = {3,4,5,6} → sup|F_a - F_b| = 0.5
    attained first at v=2 (F_a=0.5, F_b=0)."""
    from schema_infer_plugin_spark.checks import ks_statistic

    a = spark.createDataFrame([(v,) for v in [1, 2, 3, 4]], "x int")
    b = spark.createDataFrame([(v,) for v in [3, 4, 5, 6]], "x int")
    row = ks_statistic(a, b, "x", n_buckets=None).collect()[0]
    assert row.ks_stat == pytest.approx(0.5)
    assert row.ks_at == pytest.approx(2.0)
    assert (row.n_a, row.n_b) == (4, 4)


def test_ks_identical_distributions_zero(spark):
    from schema_infer_plugin_spark.checks import ks_statistic

    a = spark.createDataFrame([(v,) for v in range(100)], "x int")
    row = ks_statistic(a, a, "x", n_buckets=None).collect()[0]
    assert row.ks_stat == pytest.approx(0.0)


def test_ks_bucketed_bounds_domain(spark):
    """Bucketed mode: shifted uniform distributions → KS ≈ the shift fraction,
    and the CDF domain is capped at n_buckets distinct values."""
    from schema_infer_plugin_spark.checks import ks_statistic

    a = spark.createDataFrame([(float(v),) for v in range(1000)], "x double")
    b = spark.createDataFrame([(float(v + 250),) for v in range(1000)], "x double")
    row = ks_statistic(a, b, "x", n_buckets=10).collect()[0]
    assert 0.15 <= row.ks_stat <= 0.25  # true KS = 0.25; 10-bucket grid discretizes
    assert row.n_a == row.n_b == 1000


def test_ks_nulls_excluded_and_empty_side_null(spark):
    from schema_infer_plugin_spark.checks import ks_statistic

    a = spark.createDataFrame([(1,), (None,), (2,)], "x int")
    b = spark.createDataFrame([(1,), (2,)], "x int")
    row = ks_statistic(a, b, "x", n_buckets=None).collect()[0]
    assert row.n_a == 2 and row.ks_stat == pytest.approx(0.0)

    empty = spark.createDataFrame([], "x int")
    row = ks_statistic(a, empty, "x", n_buckets=None).collect()[0]
    assert row.ks_stat is None


# ---------------------------------------------------------------------------
# profile_compare
# ---------------------------------------------------------------------------

_PROFILE_COLS = (
    "partition_key string, column string, inferred_type string, "
    "total_count long, null_count long, null_rate double, distinct_approx long"
)


def _prof(spark, rows):
    return spark.createDataFrame(rows, _PROFILE_COLS)


def _verdicts(cur, base):
    from schema_infer_plugin_spark.plans.compare import profile_compare

    return {r.col_name: r for r in profile_compare(cur, base).collect()}


def test_compare_added_removed(spark):
    base = _prof(spark, [("_global_", "a", "int", 10, 0, 0.0, 5)])
    cur = _prof(spark, [("_global_", "b", "int", 10, 0, 0.0, 5)])
    v = _verdicts(cur, base)
    assert v["a"].status == "removed" and v["a"].verdict == "BREAKING"
    assert v["b"].status == "added" and v["b"].verdict == "WARN"


def test_compare_type_ladder(spark):
    base = _prof(
        spark,
        [
            ("_global_", "w", "int", 10, 0, 0.0, 5),     # int → float: widened
            ("_global_", "n", "float", 10, 0, 0.0, 5),   # float → int: narrowed
            ("_global_", "c", "timestamp", 10, 0, 0.0, 5),  # unranked change
            ("_global_", "u", "int", 10, 0, 0.0, 5),     # int → union: widened
        ],
    )
    cur = _prof(
        spark,
        [
            ("_global_", "w", "float", 10, 0, 0.0, 5),
            ("_global_", "n", "int", 10, 0, 0.0, 5),
            ("_global_", "c", "string", 10, 0, 0.0, 5),
            ("_global_", "u", "union", 10, 0, 0.0, 5),
        ],
    )
    v = _verdicts(cur, base)
    assert (v["w"].type_change, v["w"].verdict) == ("widened", "WARN")
    assert (v["n"].type_change, v["n"].verdict) == ("narrowed", "BREAKING")
    assert (v["c"].type_change, v["c"].verdict) == ("changed", "BREAKING")
    assert (v["u"].type_change, v["u"].verdict) == ("widened", "WARN")


def test_compare_null_contract_and_rates(spark):
    base = _prof(
        spark,
        [
            ("_global_", "req", "string", 100, 0, 0.0, 5),     # implicit NOT NULL
            ("_global_", "nul", "string", 100, 10, 0.10, 5),   # already nullable
            ("_global_", "ok", "string", 100, 10, 0.10, 5),
        ],
    )
    cur = _prof(
        spark,
        [
            ("_global_", "req", "string", 100, 1, 0.01, 5),    # first nulls → BREAKING
            ("_global_", "nul", "string", 100, 20, 0.20, 5),   # +0.10 → WARN
            ("_global_", "ok", "string", 100, 10, 0.10, 5),    # unchanged → OK
        ],
    )
    v = _verdicts(cur, base)
    assert v["req"].verdict == "BREAKING"
    assert v["nul"].verdict == "WARN"
    assert v["nul"].null_rate_delta == pytest.approx(0.10)
    assert v["ok"].verdict == "OK"


def test_compare_distinct_blowup(spark):
    base = _prof(spark, [("_global_", "d", "string", 100, 0, 0.0, 10)])
    cur = _prof(spark, [("_global_", "d", "string", 100, 0, 0.0, 25)])
    v = _verdicts(cur, base)
    assert v["d"].verdict == "WARN"


def test_compare_on_real_profiles(spark):
    """End-to-end over profile(): identical halves compare OK on shared
    columns; the added/removed columns get their verdicts."""
    from schema_infer_plugin_spark.operators.profile import profile
    from schema_infer_plugin_spark.plans.compare import profile_compare

    df = spark.range(200).select(
        F.col("id"),
        F.concat(F.lit("u"), (F.col("id") % 7).cast("string")).alias("s"),
    )
    pb = profile(df, ["id", "s"], approx_distinct=False, run_id="base")
    pc = profile(df, ["id"], approx_distinct=False, run_id="cur")
    v = {r.col_name: r for r in profile_compare(pc, pb).collect()}
    assert v["id"].verdict == "OK" and v["id"].type_change == "same"
    assert v["s"].status == "removed" and v["s"].verdict == "BREAKING"


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_offsets_and_spans(spark):
    """Single shard (n_shards=1): offsets are the in-order prefix sums, bins
    cut at the budget, straddlers span the right number of sequences."""
    from schema_infer_plugin_spark.datapipe import pack_sequences

    rows = [("d1", 6), ("d2", 3), ("d3", 5), ("d4", 0), ("d5", 25)]
    df = spark.createDataFrame(rows, "doc_id string, nt long")
    out = {
        r.doc_id: r
        for r in pack_sequences(
            df, "doc_id", budget=10, n_shards=1, n_tokens_col="nt"
        ).collect()
    }
    # order within the shard is by doc_id: d1..d5
    assert out["d1"].start_offset == 0 and out["d1"].seq_idx == 0
    assert out["d2"].start_offset == 6 and out["d2"].seq_offset == 6
    assert out["d2"].n_seqs_spanned == 1  # [6, 9) fits seq 0
    assert out["d3"].start_offset == 9 and out["d3"].n_seqs_spanned == 2  # [9, 14)
    assert out["d4"].n_tokens == 0 and out["d4"].n_seqs_spanned == 1
    assert out["d5"].start_offset == 14 and out["d5"].seq_idx == 1
    assert out["d5"].n_seqs_spanned == 3  # [14, 39) covers seqs 1, 2, 3


def test_pack_budget_boundary_exact_fit(spark):
    from schema_infer_plugin_spark.datapipe import pack_sequences

    rows = [("a", 10), ("b", 10)]
    df = spark.createDataFrame(rows, "doc_id string, nt long")
    out = {
        r.doc_id: r
        for r in pack_sequences(df, "doc_id", budget=10, n_shards=1, n_tokens_col="nt").collect()
    }
    assert out["a"].n_seqs_spanned == 1  # [0, 10) exactly fills seq 0
    assert out["b"].seq_idx == 1 and out["b"].seq_offset == 0


def test_pack_deterministic_across_parallelism(spark):
    """Same input at different partition counts → identical slot assignment
    (the shard hash + in-shard order is partition-invariant)."""
    from schema_infer_plugin_spark.datapipe import pack_sequences

    rows = [(f"doc_{i:04d}", (i * 37) % 200) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id string, nt long")
    a = pack_sequences(df.repartition(1), "doc_id", budget=256, n_shards=8, n_tokens_col="nt")
    b = pack_sequences(df.repartition(16), "doc_id", budget=256, n_shards=8, n_tokens_col="nt")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pack_text_col_and_arg_validation(spark):
    from schema_infer_plugin_spark.datapipe import pack_sequences

    df = spark.createDataFrame([("d", "one two three")], "doc_id string, text string")
    row = pack_sequences(df, "doc_id", budget=8, n_shards=1, text_col="text").collect()[0]
    assert row.n_tokens == 3
    with pytest.raises(ValueError):
        pack_sequences(df, "doc_id", budget=8)


def test_ks_w1_from_counts_matches_separate_stats(spark):
    """drift_compare over two same-grid grid_counts frames (the runner's
    fused drift statistic) gives KS and W1 in one row, agreeing with the
    two-frame ks_statistic / wasserstein_statistic entry points."""
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.checks.drift import drift_compare
    from schema_infer_plugin_spark.checks.ksdrift import ks_statistic, wasserstein_statistic
    from tests.test_drift_counts import grid_counts

    a = spark.createDataFrame([(float(v),) for v in range(20)], "v double")
    b = spark.createDataFrame([(float(v) + 5.0,) for v in range(20)], "v double")
    stacked = lambda d: grid_counts(d, "v", 0.0, 24.0, n_buckets=100).select(  # noqa: E731
        F.lit("v").alias("column"), F.lit(None).cast("string").alias("bucket"), "v", "cnt"
    )
    fused = drift_compare(stacked(b), stacked(a)).collect()[0]
    ks = ks_statistic(a, b, "v", n_buckets=None).collect()[0]
    assert fused["ks_stat"] == ks["ks_stat"] == 0.25  # 5/20 of mass strictly separated
    assert fused["n_base"] == ks["n_a"] == 20 and fused["n_cur"] == ks["n_b"] == 20
    # W1 of a +5 shift = 5 exactly on the raw values, ≈5 on the 0.24-wide grid
    assert wasserstein_statistic(a, b, "v", n_buckets=None).collect()[0]["w1"] == 5.0
    assert abs(fused["w1"] - 5.0) < 0.25
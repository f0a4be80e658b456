"""Bucketed-table validation: the zero-exchange production plan.

Production input is an Iceberg table bucket-partitioned on conv_id
(``bucket(N, conv_id)``); the sandbox stand-in is a parquet table written with
``bucketBy(N, conv_id).sortBy(conv_id, turn_idx)``. The bucketed scan reports
HashPartitioning(conv_id), which satisfies both window specs in the fused plan
— Spark plans NO exchange, so at 10^12 rows validation costs scan + sort +
window only (BENCH/BASELINE.md measures this shape).
"""

from __future__ import annotations

import pytest

from schema_infer_plugin_spark.plans.validate import validate_transcripts
from schema_infer_plugin_spark.sources.synth import synth_transcripts


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    name = "transcripts_bucketed_test"
    t = synth_transcripts(spark, 2_000)
    (
        t.write.mode("overwrite")
        .bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", str(wh / name))
        .format("parquet")
        .saveAsTable(name)
    )
    yield spark.table(name), t
    spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_bucketed_validation_plans_zero_exchange(bucketed, spark):
    bt, _ = bucketed
    plan = validate_transcripts(bt)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_bucketed_validation_matches_unbucketed(bucketed, spark):
    bt, t = bucketed
    a = validate_transcripts(bt)
    b = validate_transcripts(t)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucketed_sft_examples_zero_exchange(bucketed, spark):
    """SFT extraction shares validation's conv_id clustering requirement, so
    over the bucketed table its window also plans ZERO exchanges — and the
    examples match the unbucketed run exactly."""
    from schema_infer_plugin_spark.datapipe import sft_examples

    bt, t = bucketed
    plan = sft_examples(bt)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = sft_examples(bt)
    b = sft_examples(t)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucketed_conversation_texts_zero_exchange(bucketed, spark):
    """conversation_texts groups on conv_id — the bucketed scan satisfies the
    aggregation's distribution requirement too (conversation-level dedup
    renders without a shuffle on the production layout)."""
    from schema_infer_plugin_spark.datapipe import conversation_texts

    bt, t = bucketed
    plan = conversation_texts(bt)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    a = conversation_texts(bt)
    b = conversation_texts(t)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_fused_validation_survives_extreme_conv_skew(spark):
    """VERDICT r3 #4 — adversarial conversation skew. One conv_id holds ~1/3
    of ALL turns (33x past the verdict's 1% scenario). The fused plan's
    windows key on conv_id, so that conversation is irreducible single-key
    skew (no salting without breaking window exactness, no AQE skew split
    for windows — plans/validate.py module docstring documents the
    range-partition + boundary-stitch fallback). The evidence required here:

    * the fused validation COMPLETES on the skewed corpus with every option
      on and stays row-identical to the DuckDB oracle (exactness is not
      load-dependent);
    * the shuffle's residual load stays balanced: excluding the hot
      conversation's own rows, every partition carries < 3x the mean
      residual — the hot key costs one straggler task, never a cascade;
    * the hot conversation lands whole in exactly one partition (window
      exactness precondition).
    """
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
    from tests.test_plans import assert_matches_oracle

    n_hot = 20_000
    base = synth_transcripts(spark, 5_000)  # ~40k turns
    hot = spark.range(n_hot).select(
        F.lit("hot_conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, F.lit("user")).otherwise(F.lit("assistant")).alias("role"),
        F.concat(F.lit("turn "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("ts"),
    )
    t = base.select([f.name for f in TRANSCRIPTS_SCHEMA.fields]).unionByName(hot).persist()
    try:
        total = t.count()
        assert n_hot / total > 0.3  # the stress is real

        # (1) exactness under skew
        assert assert_matches_oracle(t) > 0

        # (2) + (3) residual balance of the conv_id hash exchange the fused
        # plan performs (same partitioning expression, observable via
        # spark_partition_id after an explicit repartition)
        n_parts = 8
        dist = (
            t.repartition(n_parts, "conv_id")
            .select("conv_id")
            .withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("conv_id") == "hot_conv").cast("long")).alias("hot"),
            )
            .collect()
        )
        assert sum(1 for r in dist if r["hot"] > 0) == 1  # whole conv, one partition
        residuals = [r["n"] - r["hot"] for r in dist]
        mean_resid = sum(residuals) / n_parts
        assert max(residuals) < 3 * mean_resid + 50, (residuals, mean_resid)
    finally:
        t.unpersist()


def _plan_nodes(plan):
    """Physical plan nodes, descending through the adaptive wrapper."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_every_option_rides_one_scan_and_one_exchange(bucketed, spark, tmp_path):
    """Plan gate with boundary roles, a transition whitelist, alternation and
    a custom rule reading ``text`` all on: exactly one FileScan, one Exchange
    on unbucketed input and none on the bucketed table, ``text`` in no
    Exchange's output, and no row-at-a-time Python."""
    from tests.test_plans import all_option_rules

    bt, t = bucketed
    assert any("text" in str(r[1]) for r in all_option_rules())  # a rule reads text
    t.write.parquet(str(tmp_path / "flat"))
    flat = spark.read.parquet(str(tmp_path / "flat"))
    for df, n_exchanges in ((flat, 1), (bt, 0)):
        plan = validate_transcripts(df, all_option_rules())._jdf.queryExecution().executedPlan()
        text = plan.toString()
        assert text.count("FileScan") == 1, text
        assert text.count("Exchange") == n_exchanges, text
        assert "BatchEvalPython" not in text
        for node in _plan_nodes(plan):
            if "Exchange" in node.nodeName():
                out = node.output()
                cols = {out.apply(i).name() for i in range(out.size())}
                assert "text" not in cols, cols


def test_drift_counts_plan_gate(bucketed, spark, tmp_path):
    """Plan gate for checks/drift.drift_counts with every series on: one
    FileScan, no row-at-a-time Python, ``text`` in no Exchange's output, and
    exactly one window Exchange (on conv_id) over unbucketed input — none on
    the bucketed table, whose scan already clusters by conv_id. The other
    Exchange is the groupBy over the bounded cell domain."""
    from schema_infer_plugin_spark.checks.drift import TRANSITIONS, drift_counts

    bt, t = bucketed
    t.write.parquet(str(tmp_path / "flat"))
    flat = spark.read.parquet(str(tmp_path / "flat"))
    for df, n_window in ((flat, 1), (bt, 0)):
        counts = drift_counts(df, ["role", "tool", TRANSITIONS], {"turn_idx": (0.0, 50.0, 1000)})
        plan = counts._jdf.queryExecution().executedPlan()
        text = plan.toString()
        assert text.count("FileScan") == 1, text
        assert "BatchEvalPython" not in text
        windows = 0
        for node in _plan_nodes(plan):
            if "Exchange" in node.nodeName():
                out = node.output()
                cols = {out.apply(i).name() for i in range(out.size())}
                assert "text" not in cols, cols
                windows += "conv_id" in cols
        assert windows == n_window, text
        assert text.count("Exchange") == n_window + 1, text

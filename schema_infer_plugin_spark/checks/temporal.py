"""Temporal integrity: ts must be non-decreasing along a conversation's turns.

The reference has no time semantics at all (SURVEY.md §2.9 — wall-clock timing
only); this is the engine's event-time addition: within a conversation ordered
by the engine's turn order (schema.conv_order), every timestamp must be >= its
predecessor. The check itself is the ``ts_monotonic`` rule of the fused plan
(plans/validate.py); this module keeps its epoch-µs witness and the latency
profile over the same order.

NULL ts rows sort first within their turn (asc_nulls_first in Spark; the oracle
SQL must say NULLS FIRST — DuckDB defaults to NULLS LAST) and never produce or
suffer a violation (comparisons with NULL are NULL → filtered).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from schema_infer_plugin_spark.schema import conv_order, well_keyed


def conv_latency_stats(df: DataFrame) -> DataFrame:
    """Per-conversation inter-turn latency profile — the temporal depth the
    transcripts payload invites (agent-latency dashboards, stalled-session
    detection) on top of the pass/fail monotonicity check.

    The fused plan's conversation window (partitionBy conv_id, orderBy
    schema.conv_order), so a fused plan computes the lags from the same
    exchange + sort. Gaps are epoch-microsecond deltas (engine-
    portable per the repo invariant — timestamp STRING rendering differs
    between engines on trailing-zero microseconds); a gap exists only where
    both endpoints are non-null, and rewinds (negative gaps — the
    ts_monotonic violations) are included as measured, not clamped.

    ``mean_response_us`` restricts to user→assistant transitions: the
    assistant-latency number an agent pipeline actually monitors.

    Output: (conv_id, n_turns, n_gaps, mean_gap_us, max_gap_us, n_responses,
    mean_response_us) — means NULL when no qualifying gap exists.
    """
    w = Window.partitionBy("conv_id").orderBy(*conv_order())
    # conversation-unit profile: well-keyed rows only (NULL-key posture,
    # plans/validate.py) — a keyless row sits on no conversation's timeline
    df = well_keyed(df)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    prev_role = F.lag("role").over(w)
    lagged = df.select(
        "conv_id",
        gap.alias("gap_us"),
        F.when((prev_role == "user") & (F.col("role") == "assistant"), gap).alias(
            "resp_us"
        ),
    )
    # means as exact-int sum ÷ count (NOT avg()), UNROUNDED: avg() accumulates
    # in double and drifts in the last ulp, and round(x, 6) is itself engine-
    # divergent here — at µs-scale magnitudes (1e10+) the double ulp exceeds
    # 1e-6, so decimal rounding picks between adjacent doubles differently per
    # engine. One IEEE division of identical exact integers is bit-identical.
    def mean(c: str, n: F.Column) -> F.Column:
        return (F.sum(c) / n).cast("double")

    return lagged.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.count("gap_us").alias("n_gaps"),
        mean("gap_us", F.count("gap_us")).alias("mean_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.count("resp_us").alias("n_responses"),
        mean("resp_us", F.count("resp_us")).alias("mean_response_us"),
    )


def ts_monotonic_violations_us(df: DataFrame) -> DataFrame:
    """Epoch-µs witness of the fused plan's ``ts_monotonic`` rule: one row per
    row whose ts rewinds vs the previous row of the conversation, with
    observed/expected timestamps as epoch microseconds (engine-portable
    compare — string rendering of trailing-zero microseconds differs between
    engines). Single windowed pass; duplicated (conv_id, turn_idx) keys cannot
    fan out because there is no rejoin."""
    w = Window.partitionBy("conv_id").orderBy(*conv_order())
    # NULL-key rows are outside every conversation's timeline (engine-wide
    # posture, plans/validate.py) — their keys are the violation, not their ts
    return (
        well_keyed(df)
        .select("conv_id", "turn_idx", "ts", F.lag("ts").over(w).alias("prev_ts"))
        .filter(F.col("ts") < F.col("prev_ts"))
        .select(
            F.lit("ts_monotonic").alias("check_name"),
            F.col("conv_id"),
            F.col("turn_idx"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("observed_us"),
            F.unix_micros(F.col("prev_ts").cast("timestamp")).alias("expected_after_us"),
        )
    )

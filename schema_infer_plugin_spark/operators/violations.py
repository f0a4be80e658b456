"""Violations table assembly + per-partition verdict rollup.

The reference tallies successes/failures per topic on the driver
(core/inferrer.py:69-165, plugin/cli.py:624-683); here violations are a typed
DataFrame (unioned from every check) and verdicts are one aggregation over it —
both written as tables, never collected.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import broadcast

from schema_infer_plugin_spark.session import local_frame


def union_violations(parts: list[DataFrame], run_id: str = "run0") -> DataFrame:
    """Union check outputs and stamp run_id + detail; stable output ordering is
    applied at write time (orderBy conv_id, turn_idx, check_name)."""
    unified = reduce(lambda a, b: a.unionByName(b), parts)
    return unified.select(
        F.lit(run_id).alias("run_id"),
        "check_name",
        "conv_id",
        "turn_idx",
        "column",
        "observed",
        "expected",
        F.concat_ws(
            " ", F.lit("expected"), F.col("expected"), F.lit("observed"), F.col("observed")
        ).alias("detail"),
    )


def verdicts(
    violations: DataFrame,
    partition_keys: DataFrame,
    check_names: list[str],
    run_id: str = "run0",
) -> DataFrame:
    """Per-(partition, check) pass/fail with violation counts.

    ``partition_keys``: one-column DataFrame of every partition key in the run —
    needed so untouched partitions still get an explicit PASS row.
    ``violations`` must carry a ``partition_key`` column (callers derive it from
    conv_id or the table's partition transform).
    """
    checks = local_frame(
        violations.sparkSession, [(c,) for c in check_names], "check_name string"
    )
    grid = partition_keys.crossJoin(broadcast(checks))
    counts = violations.groupBy("partition_key", "check_name").agg(
        F.count(F.lit(1)).alias("violation_count")
    )
    return grid.join(counts, ["partition_key", "check_name"], "left").select(
        F.lit(run_id).alias("run_id"),
        "partition_key",
        "check_name",
        (F.coalesce("violation_count", F.lit(0)) == 0).alias("pass"),
        F.coalesce("violation_count", F.lit(0)).cast("long").alias("violation_count"),
        F.create_map(
            F.lit("violation_count"),
            F.coalesce("violation_count", F.lit(0)).cast("double"),
        ).alias("metrics"),
    )


def violations_sample(
    violations: DataFrame,
    k: int = 100,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx", "observed"),
) -> DataFrame:
    """Bounded TRIAGE sample: a deterministic k-row slice of each check's
    violations (sources/sampling.fixed_k_sample, md5-ranked within
    check_name) — at 10^12 turns a failing check can emit billions of rows,
    but a human triages from a handful of examples; this keeps the triage
    artifact ≤ k × #checks rows no matter how broken the input is, and the
    SAME rows are picked on every run/engine. ``observed`` participates in
    the rank key so coordinate-duplicate violations (two bad rows at one
    (conv_id, turn_idx)) still rank deterministically.

    Adds ``sample_rank`` (1-based within check_name).
    """
    from ..sources.sampling import fixed_k_sample

    return fixed_k_sample(violations, "check_name", list(key_cols), k)


def violations_scorecard(violations: DataFrame) -> DataFrame:
    """One-row-per-check health summary of a violations frame, plus an
    ``__all__`` grand-total row — the first thing a human reads after a run:
    which rules fired, how many rows, how many conversations touched.

    NOT ``rollup()``: Spark's rollup yields ZERO rows on empty input while
    DuckDB's (and the SQL-standard grouping-sets ``()``) yields the
    grand-total row — a clean table would silently diverge from the oracle
    and produce no "all clean" row at all. Instead each violation feeds both
    its check group and ``__all__`` via one explode (single shuffle,
    2× |violations| rows — still ∝ errors, never ∝ input), and a literal
    zero seed guarantees the ``__all__`` row on a clean run; the final merge
    runs over the bounded per-check frame.

    Output: (check_name, n_violations long, n_convs long).
    """
    spark = violations.sparkSession
    exploded = violations.select(
        F.explode(F.array(F.col("check_name"), F.lit("__all__"))).alias("check_name"),
        "conv_id",
    )
    per = exploded.groupBy("check_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_violations"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
    )
    seed = local_frame(
        spark, [("__all__", 0, 0)], "check_name string, n_violations long, n_convs long"
    )
    return (
        per.unionByName(seed)
        .groupBy("check_name")
        .agg(
            F.max("n_violations").cast("long").alias("n_violations"),
            F.max("n_convs").cast("long").alias("n_convs"),
        )
    )

"""Declared schemas for the engine's tables.

The reference is schema-on-read — schemas exist only as *output*
(/root/reference/schema_infer/schemas/inference.py:92-123). This engine inverts
that: the input ``transcripts`` table has a fixed declared schema, and the
reference's inferred-schema / per-message outcomes become typed output tables
(column profiles, violations, verdicts) that downstream jobs can join and audit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Input table (BASELINE.json input_hint): multi-turn conversation / agent transcripts.
TRANSCRIPTS_SCHEMA = StructType(
    [
        # conv_id/turn_idx are the table's key and SHOULD be non-null — but
        # the reader schema must declare them nullable: not-null is a
        # CONSTRAINT this engine validates (not_null_conv_id/turn_idx,
        # plans/validate.py), and a nullable=False reader schema lets
        # Catalyst constant-fold `IS NULL` predicates away, silently
        # disabling those checks on any stream read with this schema.
        StructField("conv_id", StringType(), nullable=True),
        StructField("turn_idx", IntegerType(), nullable=True),
        StructField("role", StringType(), nullable=True),
        StructField("text", StringType(), nullable=True),
        StructField("tool", StringType(), nullable=True),
        StructField("ts", TimestampType(), nullable=True),
    ]
)

#: Known value domains for the transcripts table (used by the domain checks; the
#: reference's analog is topic include/exclude filtering, discovery.py:29-61).
ROLE_DOMAIN = ["user", "assistant", "system", "tool"]
TOOL_DOMAIN = ["search", "code", "browser", "calc"]

#: Pass-A output: one row per (partition_key, column). Mirrors the reference's
#: SchemaField (inference.py:50-89) plus the at-scale stats it never computes.
PROFILE_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_key", StringType()),
        StructField("column", StringType()),
        StructField("inferred_type", StringType()),
        StructField("type_histogram", MapType(StringType(), LongType())),
        StructField("total_count", LongType()),
        StructField("null_count", LongType()),
        StructField("null_rate", DoubleType()),
        StructField("required", BooleanType()),
        StructField("nullable", BooleanType()),
        StructField("confidence", DoubleType()),
        StructField("distinct_approx", LongType()),
        StructField("min_val", StringType()),
        StructField("max_val", StringType()),
        StructField("quantiles", ArrayType(DoubleType())),
        StructField("examples", ArrayType(StringType())),
    ]
)

#: Pass-B output: typed violation rows (BASELINE.json north_star).
VIOLATION_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("check_name", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("column", StringType()),
        StructField("observed", StringType()),
        StructField("expected", StringType()),
        StructField("detail", StringType()),
    ]
)

#: Pass-B verdicts: one row per (partition_key, check), written once per run
#: as ONE unpartitioned file (``partition_key`` a plain string column) from
#: the ledger's per-check counts. The nullability is what the verdict files
#: have always carried (``operators/violations.verdicts`` output): only
#: ``check_name`` is nullable.
VERDICT_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), nullable=False),
        StructField("partition_key", StringType(), nullable=False),
        StructField("check_name", StringType()),
        StructField("pass", BooleanType(), nullable=False),
        StructField("violation_count", LongType(), nullable=False),
        StructField(
            "metrics",
            MapType(StringType(), DoubleType(), valueContainsNull=False),
            nullable=False,
        ),
    ]
)

#: Checkpoint-resume ledger: one row per completed (run, partition, pass).
#: ``check_counts`` (Pass B only, NULL for every other pass) is the bucket's
#: violation count per check — the record the run's verdict grid is built
#: from, so a resumed run needs no other trace of its finished buckets.
LEDGER_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_key", StringType()),
        StructField("pass_name", StringType()),
        StructField("rows_processed", LongType()),
        StructField("violation_count", LongType()),
        StructField("wall_sec", DoubleType()),
        StructField("completed_ts", TimestampType()),
        StructField("check_counts", MapType(StringType(), LongType())),
    ]
)


def well_keyed_predicate() -> Column:
    """The transcripts key contract as ONE expression: conv_id AND turn_idx
    non-null. This is the single definition of the engine-wide NULL-key
    posture's predicate (SURVEY round-5 item 33) — every sequence check,
    conversation-unit operator, and the fused plan's key_ok consume it from
    here, so a posture change cannot silently fork across call sites."""
    return F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull()


def well_keyed(df: DataFrame) -> DataFrame:
    """Filter to well-keyed rows (see :func:`well_keyed_predicate`). Keyless
    rows are the validation pass's job (not_null_conv_id/turn_idx), never an
    input to key semantics."""
    return df.filter(well_keyed_predicate())


def conv_order(ts_col: str = "ts") -> list[Column]:
    """The conversation turn order as ONE definition, for every window
    partitioned by conv_id: ``(turn_idx, ts NULLS FIRST, role NULLS FIRST)``.
    The role tie-breaker makes the order total up to full-duplicate rows, so
    lag/lead/row_number give the same answer whatever the input row order.
    DuckDB oracles must spell the NULLS FIRST explicitly (its ASC default is
    NULLS LAST)."""
    return [
        F.col("turn_idx").asc_nulls_first(),
        F.col(ts_col).asc_nulls_first(),
        F.col("role").asc_nulls_first(),
    ]


#: salt modulus for NULL-key rows in a conv_id window exchange (null_key_salt)
NULL_KEY_SALT = 64


def null_key_salt() -> Column:
    """The ``_ksalt`` of a ``partitionBy(conv_id, _ksalt)`` window (fused
    Pass B, drift.drift_counts): 0 on well-keyed rows, so a conv_id-bucketed
    scan still satisfies it; ``1 + pmod(xxhash64, N)`` spreads keyless rows.
    The ranges are DISJOINT, or a keyless row would shift a real
    conversation's lag chain."""
    spread = F.xxhash64(F.col("turn_idx"), F.col("role"), F.col("ts"))
    return (
        F.when(well_keyed_predicate(), F.lit(0))
        .otherwise(F.lit(1) + F.pmod(spread, F.lit(NULL_KEY_SALT)))
        .cast("int")
    )


def violation(check: str, column: str, observed: Column, expected: Column) -> Column:
    """One violation as a struct (check_name, column, observed, expected) —
    the single builder behind every Pass-B check. Both values are rendered
    as strings; a NULL observed value renders as ``'NULL'``."""
    return F.struct(
        F.lit(check).alias("check_name"),
        F.lit(column).alias("column"),
        F.coalesce(observed.cast("string"), F.lit("NULL")).alias("observed"),
        expected.cast("string").alias("expected"),
    )

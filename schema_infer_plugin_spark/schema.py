"""Declared schemas for the engine's tables.

The reference is schema-on-read — schemas exist only as *output*
(/root/reference/schema_infer/schemas/inference.py:92-123). This engine inverts
that: the input ``transcripts`` table has a fixed declared schema, and the
reference's inferred-schema / per-message outcomes become typed output tables
(column profiles, violations, verdicts) that downstream jobs can join and audit.
Every run artifact's schema is declared here, once, and plans/artifacts.py
writes and reads each artifact with it: no step infers a schema to read back
its own output.
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

#: The bucketed input layout (plans/runner.write_bucketed): the transcripts
#: plus the partition column its directories carry, read as an int.
BUCKETED_SCHEMA = StructType([*TRANSCRIPTS_SCHEMA, StructField("partition_key", IntegerType())])

#: Known value domains for the transcripts table (used by the domain checks; the
#: reference's analog is topic include/exclude filtering, discovery.py:29-61).
ROLE_DOMAIN = ["user", "assistant", "system", "tool"]
TOOL_DOMAIN = ["search", "code", "browser", "calc"]

#: Pass-A output (``profiles/``): one row per (partition_key, column).
#: Mirrors the reference's SchemaField (inference.py:50-89) plus the
#: at-scale stats it never computes. The nullability is what
#: operators/profile.profile's resolution gives each column.
PROFILE_SCHEMA = StructType(
    [
        StructField("run_id", StringType(), nullable=False),
        StructField("partition_key", StringType(), nullable=False),
        StructField("column", StringType(), nullable=False),
        StructField("inferred_type", StringType(), nullable=False),
        StructField(
            "type_histogram",
            MapType(StringType(), LongType(), valueContainsNull=False),
            nullable=False,
        ),
        StructField("total_count", LongType(), nullable=False),
        StructField("null_count", LongType(), nullable=False),
        StructField("null_rate", DoubleType()),
        StructField("required", BooleanType()),
        StructField("nullable", BooleanType(), nullable=False),
        StructField("confidence", DoubleType()),
        StructField("distinct_approx", LongType(), nullable=False),
        StructField("min_val", StringType()),
        StructField("max_val", StringType()),
        StructField("quantiles", ArrayType(DoubleType())),
        StructField("examples", ArrayType(StringType()), nullable=False),
    ]
)

#: Pass-B output (``violations/``): typed violation rows (BASELINE.json
#: north_star), one directory per ``partition_key`` — the partition column,
#: so it is the last field here and absent from the files themselves. Every
#: column is nullable, as the fused plan writes it over input read from
#: parquet.
VIOLATION_SCHEMA = StructType(
    [
        StructField("check_name", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("column", StringType()),
        StructField("observed", StringType()),
        StructField("expected", StringType()),
        StructField("partition_key", StringType()),
    ]
)

#: the columns operators/violations.violations_sample adds to a violations
#: frame, plus the run stamp: the triage and new-violation samples' tail
_SAMPLED = [
    StructField("sample_rank", IntegerType(), nullable=False),
    StructField("run_id", StringType(), nullable=False),
]

#: ``violations_triage/``: the k-per-check sample of a run's violations
TRIAGE_SCHEMA = StructType([*VIOLATION_SCHEMA, *_SAMPLED])

#: ``scorecard/``: one health row per check plus the ``__all__`` total
SCORECARD_SCHEMA = StructType(
    [
        StructField("check_name", StringType()),
        StructField("n_violations", LongType()),
        StructField("n_convs", LongType()),
        StructField("run_id", StringType(), nullable=False),
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

#: ``histograms/``: the drift baseline, one checks/drift.drift_counts frame
#: of every series in one file. A categorical or ``__transitions__`` row has
#: a bucket (``v`` NULL); a numeric row has ``v`` (bucket NULL) and carries
#: the grid (lo, hi, n_buckets) it was counted on
DRIFT_BASELINE_SCHEMA = StructType(
    [
        StructField("column", StringType()),
        StructField("bucket", StringType()),
        StructField("v", DoubleType()),
        StructField("cnt", LongType(), nullable=False),
        StructField("lo", DoubleType()),
        StructField("hi", DoubleType()),
        StructField("n_buckets", IntegerType()),
    ]
)

#: ``drift_verdicts/``: one row per drift series, in the verdict grid's
#: columns, every one nullable
DRIFT_VERDICT_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_key", StringType()),
        StructField("check_name", StringType()),
        StructField("pass", BooleanType()),
        StructField("violation_count", LongType()),
        StructField("metrics", MapType(StringType(), DoubleType())),
    ]
)

#: ``evolution_verdicts/``: one row per schema-evolution issue, or one PASS;
#: the drift verdicts' (run_id, partition_key, check_name, pass), then the issue
EVOLUTION_VERDICT_SCHEMA = StructType(
    [
        *DRIFT_VERDICT_SCHEMA.fields[:4],
        StructField("kind", StringType()),
        StructField("field", StringType()),
        StructField("detail", StringType()),
    ]
)

#: ``profile_diff_verdicts/``: plans/compare.profile_compare's per-column
#: OK/WARN/BREAKING rows, stamped with the run
PROFILE_DIFF_SCHEMA = StructType(
    [
        StructField("partition_key", StringType()),
        StructField("col_name", StringType()),
        StructField("status", StringType(), nullable=False),
        StructField("type_base", StringType()),
        StructField("type_cur", StringType()),
        StructField("type_change", StringType()),
        StructField("null_rate_base", DoubleType()),
        StructField("null_rate_cur", DoubleType()),
        StructField("null_rate_delta", DoubleType()),
        StructField("distinct_base", LongType()),
        StructField("distinct_cur", LongType()),
        StructField("verdict", StringType(), nullable=False),
        StructField("run_id", StringType(), nullable=False),
    ]
)

#: ``violations_diff_verdicts/``: per check, the violations new and
#: resolved versus the baseline run
VIOLATIONS_DIFF_SCHEMA = StructType(
    [
        StructField("check_name", StringType()),
        StructField("n_current", LongType()),
        StructField("n_baseline", LongType()),
        StructField("n_new", LongType()),
        StructField("n_resolved", LongType()),
        StructField("pass", BooleanType()),
        StructField("run_id", StringType(), nullable=False),
    ]
)

#: ``violations_new/``: the k-per-check sample of the new violations
VIOLATIONS_NEW_SCHEMA = StructType([*VIOLATION_SCHEMA.fields[:-1], *_SAMPLED])


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


#: The conversation turn order's columns, each ascending NULLS FIRST
#: (:func:`conv_order`; the stream's keyed state sorts pandas rows by them).
CONV_ORDER = ("turn_idx", "ts", "role")


def conv_order(ts_col: str = "ts") -> list[Column]:
    """The conversation turn order as ONE definition, for every window
    partitioned by conv_id: ``(turn_idx, ts NULLS FIRST, role NULLS FIRST)``.
    The role tie-breaker makes the order total up to full-duplicate rows, so
    lag/lead/row_number give the same answer whatever the input row order.
    DuckDB oracles must spell the NULLS FIRST explicitly (its ASC default is
    NULLS LAST)."""
    return [F.col(ts_col if c == "ts" else c).asc_nulls_first() for c in CONV_ORDER]


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

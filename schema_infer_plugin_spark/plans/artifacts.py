"""The one seam between a run and its artifacts: every table a run writes
under its out dir, and every read of one, goes through this module.

Each artifact is declared once in :data:`ARTIFACTS`: its path under the out
dir (its name), its schema (declared in schema.py), whether it is
partitioned on ``partition_key`` and whether it is append-only. Every read
passes the declared schema, so none plans a schema-inference job, and a
write whose columns differ from the declaration raises, so a declared read
never silently returns NULL columns. "Missing" has one rule: the path's own
Hadoop ``FileSystem.exists``, asked before any read, so any Hadoop
filesystem URI (file://, hdfs://, s3a://) answers like a local path and a
missing path is never handed to Spark's reader (which logs a stack trace
for it); every read error raises.

The ledger is the checkpoint-resume record: each completed bucket (or
whole-table pass) appends one row, and a restarted run skips what it
records. Append is its only write mode, so the rows can land in any
atomic-append table format (Delta, Iceberg). Bucket counts are bounded
(10^3–10^5 even at 10^12 rows), so collecting completed keys to the driver
is a few MB at worst. A Pass-B row carries the bucket's per-check violation
counts (``check_counts``): the run's verdict grid is built from them.
"""

from __future__ import annotations

import datetime
import os
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from schema_infer_plugin_spark import schema as S
from schema_infer_plugin_spark.session import local_frame

PARTITION_KEY = "partition_key"

#: AQE replaces a shuffle stage that produced no rows with an empty relation,
#: and every Observation computed below that stage goes with it: its ``get``
#: then fails although the stage ran. A partitioned write's repartition is
#: such a stage (a Pass-B batch with no violations), so it runs without
#: that rule. SQL conf is per session and a DataFrame stays bound to the
#: session that built it, so no narrower scope exists: the exclusion holds
#: for the whole session while the write runs, and is restored after it.
#: A query run meanwhile on the same session from another thread also runs
#: without the rule, and a value it sets for the key is overwritten by the
#: restore, so the runner must not share its session with concurrent queries.
_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_RELATION = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


class Artifact(NamedTuple):
    """An artifact's layout: one file, overwritten, unless ``partitioned``
    (one file per ``partition_key`` directory, each overwritten on its own,
    rows ordered by ``order`` within it) or ``append`` (one file per write,
    added)."""

    schema: StructType
    partitioned: bool = False
    append: bool = False
    order: tuple[str, ...] = ()


ARTIFACTS = {
    "profiles": Artifact(S.PROFILE_SCHEMA),
    "histograms": Artifact(S.DRIFT_BASELINE_SCHEMA),
    "violations": Artifact(
        S.VIOLATION_SCHEMA, partitioned=True, order=("conv_id", "turn_idx", "check_name")
    ),
    "verdicts": Artifact(S.VERDICT_SCHEMA),
    # not "_ledger": Spark's file listing ignores underscore-prefixed paths
    "ledger": Artifact(S.LEDGER_SCHEMA, append=True),
    "violations_triage": Artifact(S.TRIAGE_SCHEMA),
    "scorecard": Artifact(S.SCORECARD_SCHEMA),
    "drift_verdicts": Artifact(S.DRIFT_VERDICT_SCHEMA),
    "evolution_verdicts": Artifact(S.EVOLUTION_VERDICT_SCHEMA),
    "profile_diff_verdicts": Artifact(S.PROFILE_DIFF_SCHEMA),
    "violations_diff_verdicts": Artifact(S.VIOLATIONS_DIFF_SCHEMA),
    "violations_new": Artifact(S.VIOLATIONS_NEW_SCHEMA),
}


def _known_nullable(spark: SparkSession, name: str) -> Column:
    """Column ``name`` typed nullable, its values unchanged: Catalyst's
    ``KnownNullable`` tag, which no optimizer rule removes. No public
    function widens nullability: ``DataFrame.to`` keeps a non-null column
    non-null, and the optimizer folds a ``when``/``coalesce`` guard (or a
    union with an empty frame) back to the non-null child.

    Both JVM classes are Spark internals (Spark 4's
    ``org.apache.spark.sql.classic.ExpressionUtils``), reached through py4j;
    a Spark without them raises naming its version. Only in-process frames
    reach this: parquet-read input is nullable already."""
    jvm = spark._jvm
    try:
        expr = jvm.org.apache.spark.sql.catalyst.expressions.KnownNullable(
            jvm.org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(name)
        )
        jcol = jvm.org.apache.spark.sql.classic.ExpressionUtils.column(expr)
    except (Py4JError, TypeError) as e:  # py4j resolves a missing class to a package
        raise RuntimeError(
            f"cannot write column {name!r} nullable: Catalyst's KnownNullable or"
            f" classic.ExpressionUtils is not available in Spark {spark.version}"
        ) from e
    return Column(jcol).alias(name)


def write_artifact(
    spark: SparkSession, out_dir: str, name: str, frame: DataFrame, *metrics: Column
) -> dict:
    """Write ``frame`` as artifact ``name`` under ``out_dir``, in its declared
    layout, and return the write's Observation: the row count ``n`` plus
    ``metrics``, observed on the write rather than read back. A field the
    declaration marks nullable is written nullable, whatever Catalyst proved
    of the frame. Raises when the frame's column names or types differ from
    the declaration."""
    art = ARTIFACTS[name]
    got, want = (
        [(f.name, f.dataType.simpleString()) for f in s] for s in (frame.schema, art.schema)
    )
    if got != want:
        raise ValueError(f"artifact {name!r}: frame columns {got} differ from declared {want}")
    widen = {f.name for f, d in zip(frame.schema, art.schema) if d.nullable and not f.nullable}
    if widen:
        frame = frame.select(*(_known_nullable(spark, c) if c in widen else c for c in frame.columns))
    obs = Observation()
    frame = frame.observe(obs, F.count(F.lit(1)).alias("n"), *metrics)
    path = os.path.join(out_dir, name)
    if art.partitioned:
        excluded = spark.conf.get(_AQE_EXCLUDED_RULES, None)
        spark.conf.set(_AQE_EXCLUDED_RULES, ",".join(filter(None, [excluded, _AQE_EMPTY_RELATION])))
        try:
            # dynamic overwrite replaces only the partitions written, so a
            # re-run bucket replaces its directory rather than duplicating it
            frame.repartition(PARTITION_KEY).sortWithinPartitions(*art.order).write.mode(
                "overwrite"
            ).option("partitionOverwriteMode", "dynamic").partitionBy(PARTITION_KEY).parquet(path)
        finally:
            if excluded is None:
                spark.conf.unset(_AQE_EXCLUDED_RULES)
            else:
                spark.conf.set(_AQE_EXCLUDED_RULES, excluded)
    else:
        frame.coalesce(1).write.mode("append" if art.append else "overwrite").parquet(path)
    return obs.get


def observe_scan(frame: DataFrame, *metrics: Column) -> dict:
    """``metrics`` (aliased aggregates) over ``frame``, observed on ONE job
    that reads it and writes nothing (Spark's ``noop`` sink, no artifact):
    unlike ``agg(...).first()`` it has no exchange, so no second adaptive
    stage job."""
    obs = Observation()
    frame.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
    return obs.get


def read_artifact(
    spark: SparkSession, out_dir: str, name: str, required: bool = True,
    partitions: list[str] | None = None,
) -> DataFrame | None:
    """Artifact ``name`` under ``out_dir``, read with its declared schema
    (lazy: no job until used). When nothing is at its path it raises
    ``FileNotFoundError`` naming the path, or returns None unless
    ``required``. ``partitions`` reads only those ``partition_key``
    directories of a partitioned artifact, listing no other (the column
    kept, through ``basePath``); an absent one holds no rows."""
    path = os.path.join(out_dir, name)
    schema = ARTIFACTS[name].schema
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    jpath = hadoop_path(path)
    # the filesystem the read would use, with the session's Hadoop options
    # (sessionState is Spark-internal, reached through py4j, like
    # _known_nullable's classes)
    fs = jpath.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if partitions is not None:
        glob = hadoop_path(f"{path}/{PARTITION_KEY}={{{','.join(partitions)}}}")
        dirs = [st.getPath().toString() for st in fs.globStatus(glob) or []]
        if not dirs:
            return local_frame(spark, [], schema)
        return spark.read.schema(schema).option("basePath", path).parquet(*dirs)
    if fs.exists(jpath):
        return spark.read.schema(schema).parquet(path)
    if required:
        raise FileNotFoundError(f"no {name} artifact at {path}")
    return None


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    """The run's ledger; empty when there is none yet (no completed work)."""
    ledger = read_artifact(spark, out_dir, "ledger", required=False)
    return local_frame(spark, [], S.LEDGER_SCHEMA) if ledger is None else ledger


def completed_check_counts(
    spark: SparkSession, out_dir: str, run_id: str, pass_name: str
) -> dict[str, dict[str, int] | None]:
    """Each completed bucket of ``run_id``'s ``pass_name`` → its per-check
    violation counts (None where the row carries none), in one read."""
    rows = (
        read_ledger(spark, out_dir)
        .filter((F.col("run_id") == run_id) & (F.col("pass_name") == pass_name))
        .select(PARTITION_KEY, "check_counts")
        .collect()
    )
    return {r[PARTITION_KEY]: r["check_counts"] for r in rows}


def completed_keys(spark: SparkSession, out_dir: str, run_id: str, pass_name: str) -> set[str]:
    return set(completed_check_counts(spark, out_dir, run_id, pass_name))


def append_ledger(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    pass_name: str,
    bucket_metrics: list[tuple[str, int, int, float]],
    check_counts: dict[str, dict[str, int]] | None = None,
) -> None:
    """Append one row per completed bucket: (key, rows, violations, wall_sec),
    plus the bucket's per-check violation counts from ``check_counts`` (keyed
    by bucket; Pass B only, NULL for every other pass)."""
    now = datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None)
    counts = check_counts or {}
    rows = [
        (run_id, key, pass_name, int(nrows), int(nviol), float(wall), now, counts.get(key))
        for key, nrows, nviol, wall in bucket_metrics
    ]
    write_artifact(spark, out_dir, "ledger", local_frame(spark, rows, S.LEDGER_SCHEMA))

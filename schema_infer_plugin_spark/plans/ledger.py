"""Per-partition checkpoint-resume ledger (north_rule: lineage + metrics).

The reference's closest analog is its retry ladder — when one read strategy
fails it falls back and re-reads from scratch (/root/reference/schema_infer/
plugin/optimistic.py:694-925). At 10^12 turns "re-read from scratch" is not an
option: the run is split into conversation-aligned hash buckets, each completed
bucket appends one ledger row (rows processed, violations found, wall time),
and a restarted run anti-joins the bucket list against the ledger to process
only what's left.

Format-agnostic: plain parquet append in-sandbox; the same rows land in a
Delta/Iceberg table in production (append is the only write mode used, so any
atomic-append table format works). Bucket counts are bounded (10^3–10^5 even at
10^12 rows), so collecting completed keys to the driver is a few MB at worst.

A Pass-B row also carries the bucket's per-check violation counts
(``check_counts``), so the ledger is the one record of each bucket's outcome:
a run builds its verdict grid from it once, at the end.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from schema_infer_plugin_spark.schema import LEDGER_SCHEMA
from schema_infer_plugin_spark.session import local_frame


def ledger_path(out_dir: str) -> str:
    # not "_ledger": Spark's file listing ignores underscore-prefixed paths
    return os.path.join(out_dir, "ledger")


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame:
    path = ledger_path(out_dir)
    try:
        return spark.read.schema(LEDGER_SCHEMA).parquet(path)
    except Exception:
        return local_frame(spark, [], LEDGER_SCHEMA)


def completed_check_counts(
    spark: SparkSession, out_dir: str, run_id: str, pass_name: str
) -> dict[str, dict[str, int] | None]:
    """Each completed bucket of ``run_id``'s ``pass_name`` → its per-check
    violation counts (None where the row carries none), in one read."""
    rows = (
        read_ledger(spark, out_dir)
        .filter((F.col("run_id") == run_id) & (F.col("pass_name") == pass_name))
        .select("partition_key", "check_counts")
        .collect()
    )
    return {r["partition_key"]: r["check_counts"] for r in rows}


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
    local_frame(spark, rows, LEDGER_SCHEMA).coalesce(1).write.mode("append").parquet(
        ledger_path(out_dir)
    )

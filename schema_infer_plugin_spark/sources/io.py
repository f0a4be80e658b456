"""Table loading.

The reference's scan layer is a Kafka consumer with offset heuristics
(/root/reference/schema_infer/core/consumer.py:64-147, plugin/optimistic.py:605-692).
Here a scan is a declarative ``spark.read`` — Catalyst/DSv2 handle partition
pruning, predicate pushdown and column pruning; Iceberg (in production) or plain
parquet (in-sandbox) is chosen by path/format, keeping the engine format-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Driver-provided tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. ``sf_dir`` may be a parquet directory (sandbox) or an
    Iceberg namespace like ``iceberg:db`` (production)."""
    if sf_dir.startswith("iceberg:"):
        return spark.read.table(f"{sf_dir.split(':', 1)[1]}.{name}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so shared SQL texts (sources/views.py) run in Spark
    exactly as the DuckDB oracle runs them on its pre-registered views."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)

"""Shared fixtures: one SparkSession per test run (JVM startup is ~45 s, so
session scope is mandatory) and a DuckDB connection with the driver's tables
pre-registered — mirroring the driver's oracle environment exactly."""

from __future__ import annotations

import math
import sys
from pathlib import Path

import pytest

# this checkout's root, wherever it is cloned — never another copy's package
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@pytest.fixture(scope="session")
def spark():
    from schema_infer_plugin_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_CORRECT}/{t}.parquet')"
        )
    return con


def canon(v):
    """Canonical value form for cross-engine row comparison."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def spark_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(canon(r[c]) for c in cols) for r in df.collect())


def duck_rows(con, sql):
    rows = con.execute(sql).fetch_arrow_table().to_pylist()
    if not rows:
        return []
    cols = sorted(rows[0].keys())
    return sorted(tuple(canon(r[c]) for c in cols) for r in rows)

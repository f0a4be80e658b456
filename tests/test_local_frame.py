"""Driver-built frames are LocalRelations (session.local_frame): same values
as ``createDataFrame(<list>)``, no Python worker, and the only way the
engine turns driver rows into a DataFrame."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

from pyspark.sql import functions as F

from schema_infer_plugin_spark.schema import LEDGER_SCHEMA, VERDICT_SCHEMA
from schema_infer_plugin_spark.session import local_frame

PACKAGE = Path(__file__).resolve().parent.parent / "schema_infer_plugin_spark"

LEDGER_ROWS = [
    (
        "r1", "0", "validate", 12, 3, 0.25, dt.datetime(2026, 3, 29, 1, 30, 0, 123456),
        {"uniqueness": 1, "domain_role": 2},
    ),
    ("r1", "1", "profile", 0, 0, 0.5, None, None),
]
VERDICT_ROWS = [
    ("r1", "0", "uniqueness", True, 0, {"violation_count": 0.0}),
    ("r1", "1", "domain_role", False, 7, {"violation_count": 7.0, "share": 0.125}),
]


def _optimized_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


def test_local_frame_plans_as_local_relation(spark):
    for rows, schema in ((LEDGER_ROWS, LEDGER_SCHEMA), (VERDICT_ROWS, VERDICT_SCHEMA)):
        assert _optimized_node(local_frame(spark, rows, schema)) == "LocalRelation"
    assert _optimized_node(local_frame(spark, [], LEDGER_SCHEMA)) == "LocalRelation"


def test_local_frame_matches_list_path(spark):
    """Ledger timestamps (also under a non-UTC session zone, where the
    instant AND its rendering must match), verdict maps and an empty frame
    round-trip exactly as createDataFrame(rows, schema) gives them."""
    ts = ["completed_ts", F.unix_micros("completed_ts"), F.col("completed_ts").cast("string")]
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = local_frame(spark, LEDGER_ROWS, LEDGER_SCHEMA)
            want = spark.createDataFrame(LEDGER_ROWS, LEDGER_SCHEMA)
            assert got.schema == want.schema
            assert got.collect() == want.collect()
            assert got.select(*ts).collect() == want.select(*ts).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)

    got = local_frame(spark, VERDICT_ROWS, VERDICT_SCHEMA)
    assert got.schema == VERDICT_SCHEMA
    assert got.collect() == spark.createDataFrame(VERDICT_ROWS, VERDICT_SCHEMA).collect()

    ddl = "check_name string, n long"
    empty = local_frame(spark, [], ddl)
    assert empty.count() == 0
    assert empty.schema == spark.createDataFrame([], ddl).schema


def test_engine_builds_driver_frames_only_through_local_frame():
    """No module under the package calls createDataFrame except
    session.local_frame: a list there plans a PythonRDD stage (a Python
    worker) where a LocalRelation does."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(fn)}
        offenders += [
            f"{path.relative_to(PACKAGE)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and not (path.name == "session.py" and id(node) in allowed)
        ]
    assert offenders == []

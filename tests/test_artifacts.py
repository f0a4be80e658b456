"""One artifact seam (plans/artifacts.py): every run artifact is read and
written through it, with the schema schema.py declares. A source gate keeps
the I/O spelled once; a validate + revalidate flow with every option on
shows each artifact's file footer equals its declaration and each step
runs a bounded number of Spark jobs (no schema-inference job, no read-back
job); a missing required input or an unreadable ledger fails loudly."""

from __future__ import annotations

import ast
import json
import os
import re
from pathlib import Path

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from schema_infer_plugin_spark.plans import runner
from schema_infer_plugin_spark.plans.artifacts import (
    ARTIFACTS,
    PARTITION_KEY,
    completed_keys,
    write_artifact,
)
from schema_infer_plugin_spark.session import local_frame
from schema_infer_plugin_spark.sources.synth import synth_transcripts

PLANS = Path(__file__).resolve().parent.parent / "schema_infer_plugin_spark" / "plans"
#: the runner's input I/O: the transcripts table, not a run artifact
INPUT_IO = {"write_bucketed", "resolve_transcripts_input"}
IO_ATTRS = {"read", "write", "writeTo", "readStream", "writeStream"}

#: every option main() can enable from config
OPTIONS = dict(
    n_buckets=8,
    batch_buckets=8,
    custom_rules=[["text_max_len", "length(text) <= 320", "text", "length(text)", "<= 320"]],
    boundary_roles=(["system", "user"], ["assistant", "tool"]),
    allowed_transitions=["user->assistant", "assistant->user", "assistant->tool",
                         "tool->assistant", "system->user"],
)
#: Spark jobs per step on the flow below, measured: a declared read plans no
#: job, and a whole-table pass returns its artifact unread, so each step
#: pays only for its ledger read, its computation, its write and its
#: ledger append (one job each more when reads inferred and read back);
#: ``run_validation`` runs one batch here, which adds its grouped read-back
#: of the violations it wrote and the one verdict-grid write
JOB_BOUNDS = {
    "base.run_profile": 5,
    "base.run_validation": 8,
    "cur.run_validation": 8,
    "base.write_triage": 2,
    "base.write_scorecard": 4,
    "cur.run_schema_evolution": 5,
    "cur.run_profile_compare": 5,
    "cur.run_violations_diff": 8,
}


def _io_offenders(path: Path) -> list[str]:
    """``.read``/``.write`` uses in ``path`` outside the input I/O functions."""
    tree = ast.parse(path.read_text())
    allowed = {
        id(n)
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef) and fn.name in INPUT_IO
        for n in ast.walk(fn)
    }
    return [
        f"{path.name}:{node.lineno} .{node.attr}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr in IO_ATTRS and id(node) not in allowed
    ]


def _chain(node: ast.AST) -> list[str]:
    """The attribute names of a call chain ``a.b(...).c(...)``, outermost
    first."""
    names = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
        node = node.func if isinstance(node, ast.Call) else node.value
    return names


#: the seam's functions → the position of their artifact-name argument
NAME_ARG = {"write_artifact": 2, "read_artifact": 2, "_whole_pass": 4}


def _name_sites(path: Path) -> dict[str, bool]:
    """Each call in ``path`` that names an artifact → whether it names it by
    a literal key of ARTIFACTS (a seam function may pass its own name
    parameter on)."""
    tree = ast.parse(path.read_text())
    sites = {}
    for fn in ast.walk(tree):
        if not isinstance(fn, ast.FunctionDef):
            continue
        params = [a.arg for a in fn.args.args]
        own = params[NAME_ARG[fn.name]] if fn.name in NAME_ARG else None
        for node in ast.walk(fn):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in NAME_ARG
            ):
                continue
            i = NAME_ARG[node.func.id]
            arg = node.args[i] if len(node.args) > i else None
            literal = isinstance(arg, ast.Constant) and arg.value in ARTIFACTS
            forwarded = isinstance(arg, ast.Name) and arg.id == own
            sites[f"{path.name}:{node.lineno} {node.func.id}"] = literal or forwarded
    return sites


def test_artifact_names_are_declared_keys():
    """Every artifact a module of the package reads or writes is named by a
    literal key of ARTIFACTS, so each artifact is one declared path — no
    family of paths built at run time."""
    sites = {}
    for path in sorted(PLANS.parent.rglob("*.py")):
        sites.update(_name_sites(path))
    assert len(sites) >= 15, sites  # the gate sees the seam's calls
    assert [site for site, ok in sites.items() if not ok] == []


def test_artifact_io_is_spelled_once():
    """Outside plans/artifacts.py no module under plans/ reads or writes a
    table, except the runner's input resolution and bucketed-input writer;
    every read inside the seam passes a declared schema; the per-site I/O
    it replaced is gone."""
    offenders = []
    for path in sorted(PLANS.glob("*.py")):
        if path.name != "artifacts.py":
            offenders += _io_offenders(path)
    assert offenders == []

    seam = ast.parse((PLANS / "artifacts.py").read_text())
    reads = [
        chain
        for node in ast.walk(seam)
        if isinstance(node, ast.Call) and "read" in (chain := _chain(node))
        and chain[0] in {"parquet", "load", "json", "csv", "orc", "table"}
    ]
    assert reads and all("schema" in chain for chain in reads), reads

    assert not (PLANS / "ledger.py").exists()
    tree = ast.parse((PLANS / "runner.py").read_text())
    names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert not names & {"StructType", "StructField", "_write_observed"}
    ddl = [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and any(f" {t}" in n.value for t in ("string,", "long,", "double,", "boolean,"))
    ]
    assert ddl == []


@pytest.fixture(scope="module")
def flow(spark, tmp_path_factory):
    """A day-1 validate run (``base``) and a day-2 revalidate run (``cur``)
    against it, every option on, each over a bucketed synth table resolved
    as main() resolves its input; ``cur`` skips the steps whose artifacts
    ``base`` already shows. Returns the out dirs and the Spark jobs each
    step ran (the step's call only, its returned frame unused).

    Read from parquet, the input's columns are nullable, as in production.
    A third run (``synth``) validates an unbucketed in-process synth frame,
    whose keys Catalyst knows are non-null: its violations must still carry
    the declared (nullable) footer."""
    root = tmp_path_factory.mktemp("flow")
    sc = spark.sparkContext
    jobs = {}

    def step(tag, fn, *args, **kwargs):
        sc.setJobGroup(tag, tag)
        try:
            return fn(*args, **kwargs)
        finally:
            jobs[tag] = len(sc.statusTracker().getJobIdsForGroup(tag))
            sc.setJobGroup(None, None)

    days = {
        "base": synth_transcripts(spark, 200, seed=1),
        "cur": synth_transcripts(spark, 240, seed=2).withColumn(
            "role", F.when(F.col("turn_idx") == 3, "tool").otherwise(F.col("role"))
        ),
    }
    for day, frame in days.items():
        table, out = str(root / f"{day}_input"), str(root / day)
        runner.write_bucketed(frame, table, OPTIONS["n_buckets"])
        t, bucket_rows = runner.resolve_transcripts_input(
            spark, f"bucketed:{table}", OPTIONS["n_buckets"]
        )
        step(f"{day}.run_profile", runner.run_profile, spark, t, out, run_id=day)
        step(
            f"{day}.run_validation", runner.run_validation, spark, t, out, run_id=day,
            bucket_rows=bucket_rows, **OPTIONS,
        )
        if day == "base":
            runner.write_histograms(spark, t, out)
            step("base.write_triage", runner.write_triage, spark, out, k=5, run_id=day)
            step("base.write_scorecard", runner.write_scorecard, spark, out, run_id=day)
    base, cur = str(root / "base"), str(root / "cur")
    step("cur.run_drift", runner.run_drift, spark, t, cur, base, run_id="cur")
    for name in ("run_schema_evolution", "run_profile_compare", "run_violations_diff"):
        step(f"cur.{name}", getattr(runner, name), spark, cur, base, run_id="cur")
    synth = str(root / "synth")
    runner.run_validation(spark, synth_transcripts(spark, 120, seed=3), synth, run_id="synth", **OPTIONS)
    return {"base": base, "cur": cur, "synth": synth, "jobs": jobs}


def test_steps_run_bounded_spark_jobs(flow):
    """No step plans a schema-inference job, and only ``run_validation``
    reads back what it wrote: once per batch, to count its violations."""
    got = {tag: flow["jobs"][tag] for tag in JOB_BOUNDS}
    assert all(got[tag] <= bound for tag, bound in JOB_BOUNDS.items()), (got, JOB_BOUNDS)


def test_artifact_footers_match_declarations(flow):
    """Every parquet file of every artifact carries exactly its declared
    schema: names, types and nullability, nested ones included (the Spark
    schema in the footer), and the same names and nullability as the
    footer's own parquet schema gives them, whatever nullability the
    written frame had (the ``synth`` run). A partitioned artifact's files
    hold every declared column but the partition column."""
    seen = set()
    for day in ("base", "cur", "synth"):
        for root, _, files in os.walk(flow[day]):
            parquet = [f for f in files if f.endswith(".parquet")]
            if not parquet:
                continue
            name = os.path.relpath(root, flow[day]).split(os.sep)[0]
            art = ARTIFACTS[name]
            # a partitioned artifact's partition column lives in its paths
            want = StructType(
                [f for f in art.schema if not (art.partitioned and f.name == PARTITION_KEY)]
            )
            for f in parquet:
                schema = pq.read_schema(os.path.join(root, f))
                spark_schema = StructType.fromJson(
                    json.loads(schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"])
                )
                assert spark_schema == want, (name, f)
                assert [(x.name, x.nullable) for x in schema] == [
                    (x.name, x.nullable) for x in want
                ], (name, f)
            seen.add(name)
    assert seen == set(ARTIFACTS)


def test_write_artifact_raises_on_undeclared_columns(spark, tmp_path):
    """A frame whose column names or types differ from the declaration is
    never written: a declared read of it would return NULL columns."""
    card = local_frame(
        spark,
        [("uniqueness", 1, 1, "r")],
        "check_name string, n_violations long, n_convs long, run_id string",
    )
    out = str(tmp_path)
    for bad in (
        card.withColumn("n_convs", F.col("n_convs").cast("int")),
        card.drop("n_convs"),
        card.withColumnRenamed("n_convs", "convs"),
        card.select("run_id", "check_name", "n_violations", "n_convs"),
    ):
        with pytest.raises(ValueError, match="scorecard"):
            write_artifact(spark, out, "scorecard", bad)
    assert not os.path.exists(os.path.join(out, "scorecard"))
    assert write_artifact(spark, out, "scorecard", card)["n"] == 1


def test_unreadable_ledger_raises(spark):
    """Only a missing ledger means "no completed work": a ledger that cannot
    be read raises, or a resume would silently redo every bucket."""
    with pytest.raises(Exception, match="nosuchfs"):
        completed_keys(spark, "nosuchfs://x/run", "r", runner.PASS_B)


def test_diff_passes_raise_on_missing_baseline(spark, flow, tmp_path):
    """A baseline dir without ``profiles/`` or ``violations/`` raises
    FileNotFoundError naming the missing path."""
    empty = str(tmp_path / "empty")
    for fn, sub in (
        (runner.run_profile_compare, "profiles"),
        (runner.run_schema_evolution, "profiles"),
        (runner.run_violations_diff, "violations"),
    ):
        with pytest.raises(FileNotFoundError, match=re.escape(os.path.join(empty, sub))):
            fn(spark, flow["cur"], empty, run_id="missing")

"""Checkpoint-resumable validation runner + spark-submit entrypoint.

The full Pass A (profile) / Pass B (constraints) pipeline over a transcripts
table, split into conversation-aligned hash buckets::

    partition_key = pmod(xxhash64(conv_id), n_buckets)

Bucketing by conv_id keeps every conversation whole inside one bucket, so the
fused validation plan (uniqueness + contiguity windows over conv_id) is exact
per bucket and buckets are embarrassingly parallel — the unit of both resume
and lineage. A batch selects its buckets with a filter on ``partition_key``.
On a verified ``bucketed:`` layout (written by ``write_bucketed``, its
sidecar matching ``n_buckets``) that filter runs on the table's STORED
partition column, so it prunes partition directories and a batch reads only
its own buckets. That layout's metadata also gives every bucket's row count,
so its batches are packed from them, in order, up to :data:`BATCH_ROWS`
input rows (a bucket above that is a batch of its own), and its ledger rows
trust them, checked by one observed ``count(1)`` per batch. Any other input
recomputes the key from conv_id, batches ``batch_buckets``
buckets at a time, and every batch scans the whole table (``n_buckets /
batch_buckets`` reads in all), so packing by rows there would only add
reads. ``iceberg:`` input is in that second group today, verified counts or
not: an IDENTITY partition on a precomputed ``partition_key`` column would
prune at the manifest level the same way, but the runner does not filter on
the stored column there yet. Do NOT partition by Iceberg's own ``bucket(N, conv_id)`` —
that transform is Murmur3 (Iceberg spec) and never agrees with this engine's
``pmod(xxhash64(conv_id), N)`` keys, so metadata pruning against it would skip
live buckets; the runner verifies the scheme and refuses to prune when it
can't (sources/metadata.py sidecar + table-property checks).

Resume: a run is a list of steps (:func:`plan`); :func:`run_plan` reads the
ledger once and skips each step whose pass has an ``__all__`` row for the
run. Every artifact is written and read through plans/artifacts.py, which
declares its path, schema and layout, so no step infers a schema. A
whole-table pass (:func:`_whole_pass`) writes its artifact, then appends its
``__all__`` row. Pass B resumes per bucket: it skips the buckets the ledger
records. It writes violations partitioned by ``partition_key`` with
per-bucket dynamic overwrite, then appends the bucket's ledger row (a crash
between the two re-runs the bucket and replaces its directory) with its
per-check violation counts, read back once per batch from the directories
it wrote (work ∝ the errors): the verdict grid is written once, when the
run finishes, from those counts, so a crashed run leaves no verdicts.

CLI (spark-submit --py-files engine.zip -m runner style)::

    python -m schema_infer_plugin_spark.plans.runner \
        --input /root/testdata/sf0.01 --out /tmp/run1 --run-id r1 \
        --n-buckets 64 --batch-buckets 16
"""

from __future__ import annotations

import argparse
import os
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from schema_infer_plugin_spark.checks.alternation import transition_rules
from schema_infer_plugin_spark.checks.boundaries import boundary_rules
from schema_infer_plugin_spark.checks.custom import as_rules
from schema_infer_plugin_spark.config import ConfigError, ValidationConfig, load_config
from schema_infer_plugin_spark.operators.profile import profile
from schema_infer_plugin_spark.plans.artifacts import (
    append_ledger,
    completed_check_counts,
    observe_scan,
    read_artifact,
    read_ledger,
    write_artifact,
)
from schema_infer_plugin_spark.plans.validate import default_rules, validate_transcripts
from schema_infer_plugin_spark.schema import (
    BUCKETED_SCHEMA,
    DRIFT_VERDICT_SCHEMA,
    EVOLUTION_VERDICT_SCHEMA,
    VERDICT_SCHEMA,
)
from schema_infer_plugin_spark.session import get_spark, local_frame

PASS_B = "validate"
PASS_A = "profile"

PROFILE_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]

#: the input rows one packed Pass-B batch may hold on a verified layout. A
#: batch is the unit of resume. Its fixed cost (driver planning, the write's
#: stage jobs, the violations read-back, the ledger append) is about 0.7 s,
#: and the fused plan costs about 14 µs per input row (warm, local[3] on a
#: 4-vCPU host, 10 rules, 64 one-bucket batches against one 64-bucket
#: batch of 100,714 rows), so a full batch runs about a minute: its fixed
#: cost is ~1% of it, and a crash loses at most that minute. More executors
#: shrink the per-row cost in wall time, so a cluster wants a larger value.
#: ``run_validation``'s ``batch_rows`` overrides it for tests.
BATCH_ROWS = 4_000_000


def with_partition_key(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "partition_key",
        F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("string"),
    )


def write_bucketed(df: DataFrame, path: str, n_buckets: int) -> None:
    """Write ``df`` as the engine's bucketed layout: hive-partitioned by
    ``with_partition_key`` plus the ``_bucket_scheme.json`` sidecar that later
    runs verify before metadata-pruning (a dir without a matching sidecar is
    scanned in full — never pruned)."""
    from schema_infer_plugin_spark.sources.metadata import write_bucket_scheme

    keyed = df if "partition_key" in df.columns else with_partition_key(df, n_buckets)
    keyed.write.mode("overwrite").partitionBy("partition_key").parquet(path)
    write_bucket_scheme(path, n_buckets)


def _observe_cells(
    df: DataFrame, name: str, cell: Column, n_cells: int
) -> tuple[DataFrame, Observation]:
    """``df`` with an Observation of its exact row count per integer
    ``cell`` in ``0..n_cells-1``, plus a plain ``count(1)``. The cells are
    ONE array-valued SQL expression (``n_cells`` separate Column aggregates
    cost a py4j round trip each), and exact: never ``histogram_numeric``,
    whose partial merges fold distinct cells together."""
    obs = Observation(name)
    cells = ", ".join(f"count_if(_cell = {i})" for i in range(n_cells))
    observed = (
        df.withColumn("_cell", cell)
        .observe(obs, F.expr(f"array({cells})").alias("cells"), F.count(F.lit(1)).alias("n"))
        .drop("_cell")
    )
    return observed, obs


def _cell_counts(metrics: dict) -> list[int]:
    """The per-cell counts of an :func:`_observe_cells` observation. Raises
    unless they sum to the observed row count: a row outside every cell
    means the cell index and the data disagree, and counts built from it
    would silently under-report."""
    cells = [int(n) for n in metrics["cells"]]
    if sum(cells) != metrics["n"]:
        raise RuntimeError(
            f"observed cell counts sum to {sum(cells)}, but {metrics['n']} rows"
            " were observed: some rows fall outside every cell"
        )
    return cells


def _row_batches(keys: list[str], bucket_rows: dict[str, int], max_rows: int) -> list[list[str]]:
    """``keys`` packed, in their order, into batches of at most ``max_rows``
    rows by their ``bucket_rows`` counts. A bucket above ``max_rows`` is a
    batch of its own."""
    batches: list[list[str]] = []
    rows = 0
    for k in keys:
        if batches and rows + bucket_rows[k] <= max_rows:
            batches[-1].append(k)
            rows += bucket_rows[k]
        else:
            batches.append([k])
            rows = bucket_rows[k]
    return batches


def _written_counts(
    spark: SparkSession, out_dir: str, batch: list[str], check_names: list[str], n: int
) -> dict[str, dict[str, int]]:
    """Each bucket of ``batch`` → check → violations, from ONE grouped read of
    its own violation directories (≤ |batch| × |rules| rows; no other
    bucket's directory is listed). Raises, naming them, unless they hold the
    ``n`` rows the write wrote: dynamic overwrite keeps a directory the write
    left empty, so rows of an earlier write that crashed before its ledger
    append (resumed with other rules) would be counted."""
    viol = read_artifact(spark, out_dir, "violations", partitions=batch)
    got = viol.groupBy("partition_key", "check_name").count().collect()
    held = sum(r["count"] for r in got)
    if held != n:
        dirs = sorted({f"partition_key={r['partition_key']}" for r in got})
        raise RuntimeError(
            f"violations of buckets {batch}: the write wrote {n} rows, but {held} are"
            f" under {dirs}: one holds an earlier write's rows; remove it and resume"
        )
    counts = {k: dict.fromkeys(check_names, 0) for k in batch}
    for k, c, cnt in got:
        counts[k][c] = cnt
    return counts


def _check_resumable(
    run_id: str, done: dict[str, dict[str, int] | None], check_names: list[str]
) -> None:
    """Raise unless every finished bucket in ``done`` (the ledger's per-check
    counts of this run) ran exactly ``check_names``. A row without counts
    (written before the ledger carried them) or with other checks (the rule
    list changed between crash and resume) would mix two verdict grids."""
    for k, counts in sorted(done.items()):
        if counts is None:
            why = f"has no per-check counts, so its checks {sorted(check_names)} are unconfirmed"
        elif set(counts) != set(check_names):
            why = f"names other checks; differing checks: {sorted(set(counts) ^ set(check_names))}"
        else:
            continue
        raise RuntimeError(f"cannot resume run {run_id!r}: the ledger row of bucket {k} {why};"
                           " start a new run_id")


def _whole_pass(
    spark: SparkSession,
    out_dir: str,
    run_id: str,
    pass_name: str,
    name: str,
    build: Callable[[], DataFrame],
    *bad: Column,
) -> DataFrame:
    """One whole-table pass: write ``build()`` as artifact ``name``, then
    append the ledger row ``("__all__", rows, bad, wall)`` that marks
    ``run_id``'s ``pass_name`` done (``bad``: the write's observed metric of
    that alias, else 0), and return the artifact's declared read. Whether
    the pass runs at all is :func:`run_plan`'s decision."""
    t0 = time.time()
    m = write_artifact(spark, out_dir, name, build(), *bad)
    wall = time.time() - t0
    append_ledger(spark, out_dir, run_id, pass_name, [("__all__", m["n"], m.get("bad") or 0, wall)])
    return read_artifact(spark, out_dir, name)


def run_validation(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str = "run0",
    n_buckets: int = 64,
    batch_buckets: int = 16,
    batch_rows: int = BATCH_ROWS,
    on_batch: Callable[[list[str]], None] | None = None,
    role_domain: list[str] | None = None,
    tool_domain: list[str] | None = None,
    bucket_rows: dict[str, int] | None = None,
    custom_rules: list | None = None,
    boundary_roles: tuple[list[str], list[str]] | None = None,
    allowed_transitions: list[str] | None = None,
) -> dict:
    """Pass B over ``transcripts`` with bucket-level checkpoint-resume.

    Every enabled check is one rule of ONE list (plans/validate.py), so each
    batch is one fused plan — 1 scan and 1 exchange (0 over a bucketed
    table) whatever options are on — and the verdict grid is the rule names:

    * ``role_domain`` / ``tool_domain``: the built-in rules' domains
      (:func:`~schema_infer_plugin_spark.plans.validate.default_rules`);
    * ``boundary_roles``: (allowed_first, allowed_last) role sets for the
      conversation boundary rules conv_start_role / conv_end_role
      (checks/boundaries.py);
    * ``allowed_transitions``: 'prev->next' whitelist for the
      role_transition_domain rule (checks/alternation.transition_rules);
    * ``custom_rules``: user-declared (name, predicate, column, observed,
      expected) row rules (checks/custom.py), evaluated before the exchange
      so the columns they read (``text``) never shuffle. Rule names must not
      collide (raises).

    Returns summary metrics; ``on_batch(batch)`` runs after each batch's
    ledger append. Domains default to the schema constants.

    A batch (formed as the module docstring says, with ``batch_rows`` for
    :data:`BATCH_ROWS`) is one scan of its buckets, one violations write,
    one grouped read-back of it for the ledger's ``violation_count`` /
    ``check_counts`` (:func:`_written_counts`) and one ledger append. On a
    verified layout its observed ``count(1)`` raises when it differs from
    its buckets' verified counts; other input observes its rows per bucket.
    The ledger is read once, at the start: a resume plans only the buckets
    it does not record, and raises when their rows lack counts or name other
    checks. The verdict grid is written once, at the end, as one file:
    finished buckets from their ledger counts, pruned buckets as zeros, this
    run's batches from their read-back.

    ``bucket_rows``: metadata-derived row count per partition_key. Buckets
    whose count is 0 — or absent — are metadata-pruned: their all-zero
    ledger rows and PASS verdicts come from the driver without EVER
    scheduling a scan of the input (reference empty-topic skip,
    plugin/optimistic.py:387-510). PRECONDITION: the counts describe the
    values ``with_partition_key`` gives at the SAME ``n_buckets``: take them
    from :func:`resolve_transcripts_input`, which verifies the persisted
    scheme; counts keyed by any other hash (e.g. Iceberg ``bucket(N,
    conv_id)`` Murmur3) would prune live buckets."""
    rules = default_rules(role_domain, tool_domain)
    if boundary_roles:
        rules += boundary_rules(tuple(boundary_roles[0]), tuple(boundary_roles[1]))
    if allowed_transitions:
        rules += transition_rules(allowed_transitions)
    rules = as_rules(rules + list(custom_rules or []))
    check_names = [r.name for r in rules]
    prunes = bucket_rows is not None and "partition_key" in transcripts.columns
    if prunes:
        # a verified layout's stored key IS with_partition_key's value (read
        # back as an int): filtering on it prunes partition directories
        keyed = transcripts.withColumn("partition_key", F.col("partition_key").cast("string"))
    else:
        keyed = with_partition_key(transcripts, n_buckets)
    all_keys = [str(i) for i in range(n_buckets)]
    done = completed_check_counts(spark, out_dir, run_id, PASS_B)
    _check_resumable(run_id, done, check_names)
    counts = dict(done)  # bucket → check → violations, completed below
    pending = [k for k in all_keys if k not in done]

    pruned: list[str] = []
    if bucket_rows is not None:
        pruned = [k for k in pending if bucket_rows.get(k, 0) == 0]
        pending = [k for k in pending if k not in set(pruned)]
        if pruned:
            # every pruned bucket completes with all-zero counts built on the
            # driver — the input table is not read
            zeros = {k: dict.fromkeys(check_names, 0) for k in pruned}
            counts.update(zeros)
            append_ledger(spark, out_dir, run_id, PASS_B, [(k, 0, 0, 0.0) for k in pruned], zeros)
    if prunes:
        batches = _row_batches(pending, bucket_rows, batch_rows)
    else:
        batches = [pending[i : i + batch_buckets] for i in range(0, len(pending), batch_buckets)]
    total_rows = total_viol = 0
    for b_i, batch in enumerate(batches):
        t0 = time.time()
        # Input rows ride the write job as an Observation (CollectMetrics): a
        # verified layout's footer counts ARE its buckets' rows, so one
        # count(1) checks their sum; other input counts each bucket, exactly.
        part = keyed.filter(F.col("partition_key").isin(batch))
        if prunes:
            obs_rows = Observation(f"rows_b{b_i}")
            part = part.observe(obs_rows, F.count(F.lit(1)).alias("n"))
        else:
            key = F.array_position(F.array(*map(F.lit, batch)), F.col("partition_key"))
            part, obs_rows = _observe_cells(part, f"rows_b{b_i}", key - 1, len(batch))
        # partition_key is a pure function of conv_id — recompute, don't join.
        viol = with_partition_key(validate_transcripts(part, rules), n_buckets)
        # One job. Each bucket's directory is replaced on its own, so a
        # crash between this write and the ledger append re-runs the bucket
        # and replaces (not duplicates) its directory.
        n_written = write_artifact(spark, out_dir, "violations", viol)["n"]
        # .get blocks on the completed write action — no extra job
        seen = obs_rows.get
        row_counts = [bucket_rows[k] for k in batch] if prunes else _cell_counts(seen)
        if sum(row_counts) != seen["n"]:  # cells always sum to n: a verified count differs
            raise RuntimeError(
                f"buckets {batch} read {seen['n']} input rows, but their verified counts"
                f" sum to {sum(row_counts)}: the input files changed after verification"
            )
        batch_counts = _written_counts(spark, out_dir, batch, check_names, n_written)
        counts.update(batch_counts)
        wall = time.time() - t0
        metrics = [
            (k, row_counts[i], sum(batch_counts[k].values()), wall / len(batch))
            for i, k in enumerate(batch)
        ]
        append_ledger(spark, out_dir, run_id, PASS_B, metrics, batch_counts)
        total_rows += sum(m[1] for m in metrics)
        total_viol += sum(m[2] for m in metrics)
        if on_batch is not None:
            on_batch(batch)
    # the run's whole verdict grid, one row per (bucket, check), written once
    grid = [
        (run_id, k, c, n == 0, n, {"violation_count": float(n)})
        for k in all_keys for c, n in counts[k].items()
    ]
    write_artifact(spark, out_dir, "verdicts", local_frame(spark, grid, VERDICT_SCHEMA))
    return {
        "run_id": run_id, "buckets": n_buckets, "skipped": len(done), "pruned": len(pruned),
        "processed": len(pending), "rows": total_rows, "violations": total_viol,
    }


def run_profile(
    spark: SparkSession, transcripts: DataFrame, out_dir: str, run_id: str = "run0",
    columns: list[str] | None = None,
) -> DataFrame:
    """Pass A: single-scan wide profile, written once (not bucketed — the
    profile is one agg over the table; resume granularity is the whole pass)."""
    return _whole_pass(
        spark, out_dir, run_id, PASS_A, "profiles",
        lambda: profile(transcripts, columns or PROFILE_COLS, run_id=run_id),
    )


PASS_HISTOGRAMS = "histograms"
PASS_DRIFT = "drift"

DRIFT_COLUMNS = ["role", "tool"]
NUMERIC_DRIFT_COLUMNS = ["turn_idx"]
KS_GRID_BUCKETS = 1000


def write_histograms(
    spark: SparkSession, transcripts: DataFrame, out_dir: str,
    columns: list[str] | None = None, numeric_columns: list[str] | None = None,
    run_id: str = "run0",
) -> DataFrame:
    """Persist the drift baseline for future runs: ``histograms/``, ONE
    checks/drift.drift_counts frame of every series, written once, in one
    file — the categorical ``columns`` and ``__transitions__`` (bucket, cnt
    → PSI/KL/JS/chi2) and each numeric column's counts on a grid over [min,
    max] of THIS run's data (v, cnt, and the grid lo, hi, n_buckets on
    every row → KS; checks/ksdrift.py fixed-grid notes). Two reads: one
    min/max probe for every grid, then the one drift_counts. A whole-table
    pass: its ledger row makes it resumable."""
    from schema_infer_plugin_spark.checks.drift import TRANSITIONS, drift_counts

    def build() -> DataFrame:
        # an explicit [] means "none", on both sides — only None takes the defaults
        num_cols = NUMERIC_DRIFT_COLUMNS if numeric_columns is None else numeric_columns
        # 2 values per column, observed on one scan: baseline construction,
        # not a per-row probe — same posture as ivf_centroids
        x = [F.col(c).cast("double") for c in num_cols]
        aggs = [F.min(v).alias(f"lo{i}") for i, v in enumerate(x)]
        aggs += [F.max(v).alias(f"hi{i}") for i, v in enumerate(x)]
        b = observe_scan(transcripts, *aggs) if aggs else {}
        grids = {
            c: (float(b[f"lo{i}"]), float(b[f"hi{i}"]), KS_GRID_BUCKETS)
            for i, c in enumerate(num_cols)
            if b[f"lo{i}"] is not None  # all-null column: no numeric baseline to persist
        }
        names = [*(DRIFT_COLUMNS if columns is None else columns), TRANSITIONS]
        # each grid row carries its grid; a categorical row carries NULLs
        grid = F.lit(None).cast("struct<lo:double,hi:double,n_buckets:int>")
        for c, (lo, hi, n) in grids.items():
            on = F.col("bucket").isNull() & (F.col("column") == c)
            g = F.struct(F.lit(lo).alias("lo"), F.lit(hi).alias("hi"), F.lit(n).alias("n_buckets"))
            grid = F.when(on, g).otherwise(grid)
        hist = drift_counts(transcripts, names, grids).select("*", grid.alias("_grid"))
        return hist.select("column", "bucket", "v", "cnt", "_grid.*")

    return _whole_pass(spark, out_dir, run_id, PASS_HISTOGRAMS, "histograms", build)


def read_baseline(
    spark: SparkSession, baseline_dir: str, columns: list[str], numeric_columns: list[str]
) -> tuple[DataFrame | None, dict[tuple[str, bool], tuple[float, float, int] | None]]:
    """The requested series of the drift baseline under ``baseline_dir``:
    their stacked checks/drift.drift_counts rows (column, bucket, v, cnt),
    and each series to compare, in request order: ``(column, numeric)`` →
    its grid (lo, hi, n_buckets), None for a categorical one. One declared
    read and one bounded collect of every row's series and grid (≤
    n_buckets rows per grid plus each categorical series' bucket domain,
    fixed at BUILD time — the index_store posture).

    Every requested categorical series (``columns``, the transitions
    included) is compared when a baseline exists: write_histograms counted
    it, and a series without rows counted none. A requested column other
    than the transitions raises ``FileNotFoundError`` when there is no
    baseline, or a non-empty one lacks it (an empty table's baseline holds
    no row). A numeric column is compared where the baseline holds its
    grid and skipped elsewhere. A ``histograms/`` dir with no file of its
    own is the older per-series layout, which a non-recursive read sees as
    empty: it raises ``ValueError``."""
    from schema_infer_plugin_spark.checks.drift import TRANSITIONS

    base = read_artifact(spark, baseline_dir, "histograms", required=False)
    required = [c for c in columns if c != TRANSITIONS]
    if base is None and required:
        raise FileNotFoundError(f"no drift baseline for {required[0]!r} under {baseline_dir}")
    if base is None:
        return None, {}
    if not base.inputFiles():
        raise ValueError(
            f"drift baseline {os.path.join(baseline_dir, 'histograms')} holds no file of its"
            " own (the per-series layout of an older write_histograms): re-run write_histograms"
        )
    numeric = F.col("bucket").isNull()
    rows = base.select("column", numeric.alias("numeric"), "lo", "hi", "n_buckets").collect()
    held = {r["column"] for r in rows if not r["numeric"]}
    missing = [c for c in required if rows and c not in held]
    if missing:
        raise FileNotFoundError(f"no drift baseline for {missing[0]!r} under {baseline_dir}")
    grids = {
        r["column"]: (float(r["lo"]), float(r["hi"]), int(r["n_buckets"]))
        for r in rows
        if r["numeric"]
    }
    series = {(c, False): None for c in columns}
    series.update({(c, True): grids[c] for c in numeric_columns if c in grids})
    requested = F.when(numeric, F.col("column").isin(numeric_columns)).otherwise(
        F.col("column").isin(columns)
    )
    return base.filter(requested).select("column", "bucket", "v", "cnt"), series


def run_drift(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    baseline_dir: str,
    run_id: str = "run0",
    columns: list[str] | None = None,
    numeric_columns: list[str] | None = None,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Distribution drift of ``transcripts`` vs the baseline persisted under
    ``baseline_dir`` (a previous run's out_dir). One verdict row per series:
    categorical columns and the transitions get ``drift_<col>`` /
    ``drift_transitions`` (pass iff total PSI <= threshold; metrics carry
    psi/kl/js), numeric columns get ``ks_<col>`` (two-sample KS on the
    baseline's fixed grid; pass iff ks_stat <= ks_threshold, metrics carry
    ks/ks_at/w1); both carry the binned chi-square (chi2/dof/chi2_z) as
    calibrated evidence, never the pass criterion.

    Thresholds follow the conventional readings: PSI <0.1 stable, 0.1-0.2
    moderate, >0.2 drifted (default 0.2); KS two-sample flags at ~0.1 for
    large same-source samples (default 0.1).

    :func:`read_baseline` reads the one baseline file and collects its
    series and numeric grids once; then ONE drift_counts scan of the
    current data on those grids and ONE checks/drift.drift_compare collect
    give every verdict. Which series are compared, skipped or raise is
    read_baseline's rule; a corrupt baseline raises."""
    from schema_infer_plugin_spark.checks.drift import TRANSITIONS, drift_compare, drift_counts

    cols = DRIFT_COLUMNS if columns is None else columns
    num_cols = NUMERIC_DRIFT_COLUMNS if numeric_columns is None else numeric_columns

    def _chi2_z(chi2: float, dof: float) -> float:
        """Wilson–Hilferty: (χ²/k)^(1/3) is ≈ normal with mean 1 − 2/(9k),
        var 2/(9k) — one z-threshold works at ANY dof. Driver-side float
        math on collected metrics (reported evidence, never hash-compared)."""
        k9 = 2.0 / (9.0 * dof)
        return ((chi2 / dof) ** (1.0 / 3.0) - (1.0 - k9)) / (k9**0.5)

    def build() -> DataFrame:
        stacked, series = read_baseline(spark, baseline_dir, [*cols, TRANSITIONS], num_cols)
        grids = {c: grid for (c, numeric), grid in series.items() if numeric}

        # (check_name, pass, metrics) — one row per series, in the order read
        rows: list[tuple[str, bool, dict[str, float]]] = []
        if series:
            cur = drift_counts(transcripts, [c for c, n in series if not n], grids)
            got = {(r["column"], r["grid"]): r for r in drift_compare(cur, stacked).collect()}
            for key in series:
                r = got.get(key)
                if r is None:
                    continue  # empty on both sides: no cells to compare
                c, numeric = key
                if numeric:
                    # an empty side has no KS: the worst score, never a pass
                    stat = 1.0 if r["ks_stat"] is None else r["ks_stat"]
                    at, w1 = (0.0 if x is None else x for x in (r["ks_at"], r["w1"]))
                    m = {"ks": stat, "ks_at": at, "w1": w1}
                    name, ok = f"ks_{c}", stat <= ks_threshold
                else:
                    m = {"psi": r["psi"], "kl": r["kl"], "js": r["js"]}
                    name = "drift_transitions" if c == TRANSITIONS else f"drift_{c}"
                    ok = m["psi"] <= psi_threshold
                if r["chi2"] is not None:
                    m["chi2"], m["dof"] = r["chi2"], float(r["dof"])
                    if m["dof"] > 0:
                        m["chi2_z"] = _chi2_z(m["chi2"], m["dof"])
                rows.append((name, ok, m))
        verd = [(run_id, "__all__", name, ok, 0, metrics) for name, ok, metrics in rows]
        return local_frame(spark, verd, DRIFT_VERDICT_SCHEMA)

    return _whole_pass(spark, out_dir, run_id, PASS_DRIFT, "drift_verdicts", build)


PASS_PROFILE_DIFF = "profile_diff"


def run_profile_compare(
    spark: SparkSession, out_dir: str, baseline_dir: str, run_id: str = "run0"
) -> DataFrame:
    """Data-profile diff gate (plans/compare.py): OK/WARN/BREAKING verdicts
    per column between this run's persisted profile and the baseline run's.
    Complements run_schema_evolution — that pass applies the registry's
    declared-schema compat rules, this one classifies what the DATA actually
    did (null-rate shifts, distinct blow-ups, observed type changes).
    Ledger-resumable; violation_count = non-OK columns."""
    from schema_infer_plugin_spark.plans.compare import profile_compare

    def build() -> DataFrame:
        base = read_artifact(spark, baseline_dir, "profiles")
        cur = read_artifact(spark, out_dir, "profiles")
        return profile_compare(cur, base).withColumn("run_id", F.lit(run_id))

    return _whole_pass(
        spark, out_dir, run_id, PASS_PROFILE_DIFF, "profile_diff_verdicts", build,
        F.count_if(F.col("verdict") != "OK").alias("bad"),
    )


PASS_EVOLUTION = "schema_evolution"


def run_schema_evolution(
    spark: SparkSession, out_dir: str, baseline_dir: str, run_id: str = "run0",
    mode: str = "BACKWARD",
) -> DataFrame:
    """Schema-drift gate: the current run's inferred column profile must stay
    ``mode``-compatible with the baseline run's (operators/registry.py rules).
    One verdict row per issue, or a single PASS row; ledger-resumable."""
    from schema_infer_plugin_spark.operators.generators import fields_from_profile
    from schema_infer_plugin_spark.operators.registry import evolution_issues

    def _fields(d):
        rows = [r.asDict() for r in read_artifact(spark, d, "profiles").collect()]
        return fields_from_profile(rows)

    def build() -> DataFrame:
        issues = evolution_issues(_fields(baseline_dir), _fields(out_dir), mode)
        rows = [
            (run_id, "__all__", f"evolution_{mode.lower()}", False, i.kind, i.field, i.detail)
            for i in issues
        ] or [(run_id, "__all__", f"evolution_{mode.lower()}", True, None, None, None)]
        return local_frame(spark, rows, EVOLUTION_VERDICT_SCHEMA)

    return _whole_pass(
        spark, out_dir, run_id, PASS_EVOLUTION, "evolution_verdicts", build,
        F.count_if(~F.col("pass")).alias("bad"),
    )


def write_triage(
    spark: SparkSession, out_dir: str, k: int = 100, run_id: str = "run0"
) -> int:
    """Write the bounded triage artifact: a deterministic md5-ranked k-row
    slice per check of the run's written violations
    (operators/violations.violations_sample) to ``violations_triage/``.
    One bounded job over the violations output (∝ errors, not input) — the
    file a human opens first when a 10^12-turn run reports failures.
    Returns the triage row count (≤ k × #checks)."""
    from schema_infer_plugin_spark.operators.violations import violations_sample

    viol = read_artifact(spark, out_dir, "violations")
    sample = violations_sample(viol, k=k).withColumn("run_id", F.lit(run_id))
    return write_artifact(spark, out_dir, "violations_triage", sample)["n"]


PASS_VIOL_DIFF = "violations_diff"

#: a violation's identity across runs — expected is derived from the check
#: config (same rule → same expected), so it rides along rather than keying.
_VIOL_IDENTITY = ["check_name", "conv_id", "turn_idx", "column", "observed"]


def run_violations_diff(
    spark: SparkSession,
    out_dir: str,
    baseline_dir: str,
    run_id: str = "run0",
    k: int = 100,
) -> DataFrame:
    """Violation regression gate: which violations are NEW versus the
    baseline run, and which were RESOLVED — the first operational question
    after a producer or pipeline change. Complements run_profile_compare
    (distribution-level diff): this is ROW-level, over the two runs' WRITTEN
    violations, so the work is ∝ errors, never ∝ input.

    Plan: tag-union the two violation sets (+cur / +base markers), ONE hash
    aggregation on the violation identity, then a bounded per-check rollup —
    the same one-shuffle tagged-union shape as checks/referential.fk_coverage.
    Writes ``violations_diff_verdicts/`` (one row per check: n_current,
    n_baseline, n_new, n_resolved; pass iff n_new == 0) and
    ``violations_new/`` (md5-ranked ≤ k-per-check sample of the new rows —
    operators/violations.violations_sample reuse). Ledger-resumable.
    """
    from schema_infer_plugin_spark.operators.violations import violations_sample

    def build() -> DataFrame:
        cur, base = (
            read_artifact(spark, d, "violations").select(*_VIOL_IDENTITY, "expected")
            for d in (out_dir, baseline_dir)
        )
        tagged = cur.withColumn("in_cur", F.lit(1)).withColumn("in_base", F.lit(0)).unionByName(
            base.withColumn("in_cur", F.lit(0)).withColumn("in_base", F.lit(1))
        )
        per_identity = tagged.groupBy(*_VIOL_IDENTITY).agg(
            F.max("in_cur").alias("in_cur"),
            F.max("in_base").alias("in_base"),
            F.max("expected").alias("expected"),
        )
        new = (F.col("in_cur") == 1) & (F.col("in_base") == 0)
        verdict = per_identity.groupBy("check_name").agg(
            F.sum("in_cur").cast("long").alias("n_current"),
            F.sum("in_base").cast("long").alias("n_baseline"),
            F.count_if(new).alias("n_new"),
            F.count_if((F.col("in_cur") == 0) & (F.col("in_base") == 1)).alias("n_resolved"),
        ).withColumn("pass", F.col("n_new") == 0).withColumn("run_id", F.lit(run_id))
        # bounded sample of the regressions only — the rows a human triages
        new_rows = per_identity.filter(new).select(*_VIOL_IDENTITY, "expected")
        sample = violations_sample(new_rows, k=k).withColumn("run_id", F.lit(run_id))
        write_artifact(spark, out_dir, "violations_new", sample)
        return verdict

    return _whole_pass(
        spark, out_dir, run_id, PASS_VIOL_DIFF, "violations_diff_verdicts", build,
        F.sum("n_new").alias("bad"),
    )


def write_scorecard(spark: SparkSession, out_dir: str, run_id: str = "run0") -> int:
    """Write the per-check quality scorecard artifact (round-3 VERDICT #5):
    one health row per check plus the ``__all__`` grand total
    (operators/violations.violations_scorecard) over the run's WRITTEN
    violations, to ``scorecard/``. Like write_triage this aggregates the
    validation OUTPUT — one job ∝ violation rows, the input table is never
    re-scanned. Returns the scorecard row count (#checks-that-fired + 1)."""
    from schema_infer_plugin_spark.operators.violations import violations_scorecard

    viol = read_artifact(spark, out_dir, "violations")
    card = violations_scorecard(viol).withColumn("run_id", F.lit(run_id))
    return write_artifact(spark, out_dir, "scorecard", card)["n"]


def resolve_transcripts_input(
    spark: SparkSession, input_str: str, n_buckets: int | None = None
) -> tuple[DataFrame, dict[str, int] | None]:
    """Shared input resolution for the validation-family CLI faces:
    ``sf dir`` / ``synth:N`` / ``bucketed:DIR`` / ``iceberg:ns`` →
    (transcripts DataFrame, bucket_rows). bucket_rows (metadata-verified
    per-partition counts for empty-bucket pruning) is only non-None for
    bucketed:/iceberg: inputs whose persisted scheme verifies against
    ``n_buckets`` and that count EVERY bucket of it — any other dir scans in
    full."""
    from schema_infer_plugin_spark.sources.io import load_table
    from schema_infer_plugin_spark.sources.views import transcripts_from_events

    bucket_rows = None
    if input_str.startswith("synth:"):
        from schema_infer_plugin_spark.sources.synth import synth_transcripts

        t = synth_transcripts(spark, int(input_str.split(":", 1)[1]))
    elif input_str.startswith("bucketed:"):
        # production layout: the table was written by write_bucketed —
        # partitioned on partition_key WITH the scheme sidecar. Footer metadata
        # feeds empty-bucket pruning only when the sidecar proves the values
        # came from with_partition_key at THIS n_buckets; any other dir
        # (external tool, different bucket count, no sidecar) scans in full.
        # A verified dir keeps its stored partition_key, so run_validation's
        # batch filter prunes partition directories instead of re-hashing.
        from schema_infer_plugin_spark.sources.metadata import verified_partition_counts

        bdir = input_str.split(":", 1)[1]
        if n_buckets is not None:
            bucket_rows = verified_partition_counts(bdir, n_buckets)
        if os.path.isdir(bdir) and not any(
            f.endswith(".parquet") for _, _, files in os.walk(bdir) for f in files
        ):
            # a bucketed write of no rows leaves no data file to infer a
            # schema from: the table is empty, in the declared schema
            t = local_frame(spark, [], BUCKETED_SCHEMA)
        else:
            t = spark.read.parquet(bdir)
    elif input_str.startswith("iceberg:"):
        from schema_infer_plugin_spark.sources.metadata import iceberg_verified_counts

        table = f"{input_str.split(':', 1)[1]}.events"
        # manifest-only counts; only when the table's TBLPROPERTIES declare
        # the engine's own transform + n_buckets (identity partition on a
        # precomputed partition_key — never bucket(N, conv_id))
        if n_buckets is not None:
            bucket_rows = iceberg_verified_counts(spark, table, n_buckets)
        t = transcripts_from_events(spark, load_table(spark, input_str, "events"))
    else:
        t = transcripts_from_events(spark, load_table(spark, input_str, "events"))
    if bucket_rows is not None and set(bucket_rows) != {str(i) for i in range(n_buckets)}:
        # belt-and-braces behind the verified_* gates: pruning needs an
        # explicit count for EVERY bucket of this scheme, never absent = empty
        bucket_rows = None
    if bucket_rows is None:  # only a verified layout keeps its stored key
        t = t.drop("partition_key")
    return t, bucket_rows


class Step(NamedTuple):
    """One step of a run. ``run()`` does its work; a dict it returns holds its
    entries of the run's summary. A step with a ``pass_name`` is done once
    the ledger holds that pass's ``__all__`` row for the run, and
    :func:`run_plan` then skips it; a step without one runs on every call."""

    name: str
    pass_name: str | None
    run: Callable[[], object]


def plan(
    spark: SparkSession, t: DataFrame, out_dir: str, run_id: str, v: ValidationConfig,
    bucket_rows: dict[str, int] | None = None, baseline: str | None = None,
    triage_k: int = 100, domain_coverage: float | None = None,
) -> list[Step]:
    """``main()``'s run over ``t`` as its steps, in order: Pass A, the drift
    baseline, Pass B, its triage (unless ``triage_k`` is 0) and scorecard;
    then, given the out dir of a ``baseline`` run, drift, schema evolution,
    the profile diff and the violations diff. ``v`` (the config's validation
    section) gives Pass B's buckets, batches, domains and rules;
    ``domain_coverage`` (``--infer-domains``) infers the role/tool domains
    from ``t`` at that cumulative coverage instead, inside the Pass-B step.
    Pass B resumes per bucket inside its step; triage and scorecard, bounded
    rewrites of its output, rerun. Builds no Spark job: the work is in the
    steps' ``run``."""

    def validate() -> dict:
        role_domain, tool_domain = v.role_domain or None, v.tool_domain or None
        if domain_coverage is not None:
            from schema_infer_plugin_spark.checks.domains import inferred_domain_values

            role_domain = inferred_domain_values(t, "role", domain_coverage)
            tool_domain = inferred_domain_values(t, "tool", domain_coverage)
        ends = (v.boundary_first_roles, v.boundary_last_roles)
        return run_validation(
            spark, t, out_dir, run_id=run_id, n_buckets=v.n_buckets,
            batch_buckets=v.batch_buckets, role_domain=role_domain, tool_domain=tool_domain,
            bucket_rows=bucket_rows, custom_rules=v.custom_rules,
            boundary_roles=ends if all(ends) else None,
            allowed_transitions=v.allowed_transitions or None,
        )

    def verdicts(run: Callable[..., DataFrame], *args, **kw) -> list:
        """The rows of a whole pass's verdict frame, for the summary."""
        return run(spark, *args, run_id=run_id, **kw).collect()

    triage = Step("write_triage", None, lambda: {
        "triage_rows": write_triage(spark, out_dir, k=triage_k, run_id=run_id)
    })
    steps = [
        Step("run_profile", PASS_A, lambda: run_profile(spark, t, out_dir, run_id=run_id)),
        Step("write_histograms", PASS_HISTOGRAMS,
             lambda: write_histograms(spark, t, out_dir, run_id=run_id)),
        Step("run_validation", None, validate),
        *([triage] if triage_k else []),
        Step("write_scorecard", None, lambda: {
            "scorecard_rows": write_scorecard(spark, out_dir, run_id=run_id)
        }),
    ]
    if baseline is None:
        return steps
    return steps + [
        Step("run_drift", PASS_DRIFT, lambda: {"drift": {
            r["check_name"]: (r["pass"], dict(r["metrics"]))
            for r in verdicts(run_drift, t, out_dir, baseline, psi_threshold=v.psi_threshold)
        }}),
        Step("run_schema_evolution", PASS_EVOLUTION, lambda: {"schema_evolution": [
            (r["pass"], r["kind"], r["field"])
            for r in verdicts(run_schema_evolution, out_dir, baseline)
        ]}),
        Step("run_profile_compare", PASS_PROFILE_DIFF, lambda: {"profile_diff": {
            r["col_name"]: r["verdict"] for r in verdicts(run_profile_compare, out_dir, baseline)
        }}),
        Step("run_violations_diff", PASS_VIOL_DIFF, lambda: {"violations_diff": {
            r["check_name"]: (r["pass"], int(r["n_new"]), int(r["n_resolved"]))
            for r in verdicts(run_violations_diff, out_dir, baseline)
        }}),
    ]


def run_plan(
    spark: SparkSession, steps: list[Step], out_dir: str, run_id: str,
    around: Callable[[Step, Callable[[], object]], object] | None = None,
) -> dict:
    """Run ``steps`` in order and return the run's summary: the entries the
    run steps return, plus, under ``resumed``, the names of the steps
    skipped because the ledger records their pass done for ``run_id``. The
    ledger is read once, here: the one place a resume decides what it
    skips. Every other step runs as ``around(step, step.run)`` (a caller's
    hook to time, label or interrupt it), or as ``step.run()``."""
    done = {
        r["pass_name"]
        for r in read_ledger(spark, out_dir)
        .filter((F.col("run_id") == run_id) & (F.col("partition_key") == "__all__"))
        .select("pass_name")
        .collect()
    }
    summary: dict = {}
    resumed = [step.name for step in steps if step.pass_name in done]
    for step in steps:
        if step.pass_name not in done:
            out = step.run() if around is None else around(step, step.run)
            summary.update(out if isinstance(out, dict) else {})
    if resumed:
        summary["resumed"] = resumed
    return summary


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="transcripts validation run")
    ap.add_argument("--config", default=None, help="YAML/JSON config file (flags override)")
    ap.add_argument(
        "--input", default=None,
        help="sf dir, iceberg:ns, synth:N_convs, or bucketed:DIR (a transcripts"
        " parquet dir written by write_bucketed — its _bucket_scheme.json"
        " sidecar must match --n-buckets to enable metadata-only empty-bucket"
        " pruning; otherwise the dir is scanned in full)",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument(
        "--batch-buckets", type=int, default=None,
        help="buckets per Pass-B batch, each of which scans the whole table, over"
        " any input but a verified bucketed: layout (default: config, min(16,"
        " n_buckets)); a verified bucketed: batch reads only its buckets and is"
        f" packed by their row counts up to {BATCH_ROWS:,} rows",
    )
    ap.add_argument(
        "--baseline", default=None,
        help="a previous run's --out dir; enables the KL/PSI drift pass",
    )
    ap.add_argument(
        "--infer-domains", action="store_true",
        help="derive role/tool domains from the DATA (checks/domains."
        "inferred_domain_values) instead of config/schema constants — the"
        " inference-first mode: values below --domain-coverage cumulative"
        " frequency become violations",
    )
    ap.add_argument(
        "--domain-coverage", type=float, default=0.999,
        help="cumulative-frequency bar for --infer-domains (default 0.999)",
    )
    ap.add_argument(
        "--triage-k", type=int, default=100,
        help="rows per check in the violations_triage artifact (0 disables)",
    )
    args = ap.parse_args(argv)
    try:
        cfg = load_config(args.config)
    except ConfigError as e:
        raise SystemExit(f"config error: {e}")
    args.input = args.input or cfg.tables.input
    if not args.input:
        raise SystemExit("--input is required (flag or config tables.input)")
    v = cfg.validation
    v.n_buckets = v.n_buckets if args.n_buckets is None else args.n_buckets
    v.batch_buckets = v.batch_buckets if args.batch_buckets is None else args.batch_buckets

    perf = cfg.performance
    spark = get_spark(
        app_name=f"validate-{args.run_id}", master=perf.master,
        shuffle_partitions=perf.shuffle_partitions,
        extra_conf={
            "spark.sql.adaptive.enabled": str(perf.aqe).lower(),
            "spark.sql.files.maxPartitionBytes": perf.max_partition_bytes,
        },
    )
    t, bucket_rows = resolve_transcripts_input(spark, args.input, v.n_buckets)
    steps = plan(spark, t, args.out, args.run_id, v, bucket_rows, args.baseline, args.triage_k,
                 args.domain_coverage if args.infer_domains else None)
    print(run_plan(spark, steps, args.out, args.run_id))


if __name__ == "__main__":
    main()

"""CLI mirroring the reference's command surface over Spark tables.

The reference ships ``schema-infer infer | list-topics | validate-topics |
version`` (/root/reference/schema_infer/plugin/cli.py:70-930). A user of that
CLI maps here 1:1, with topics → tables and Kafka sampling → full-table (or
hash-sampled) profiling:

    python -m schema_infer_plugin_spark infer \
        --input /root/testdata/sf0.01 --table documents \
        --format avro --output /tmp/schemas [--sample-rate 16/256]
    python -m schema_infer_plugin_spark list-tables --input DIR [--prefix p]
    python -m schema_infer_plugin_spark validate-tables --input DIR --tables a,b
    python -m schema_infer_plugin_spark version

``infer`` runs dynamic JSON inference over a JSON string column when
``--json-col`` is given (the reference's primary mode: bytes → schema),
otherwise profiles the table's declared columns via the type ladder. Output is
one schema file per table, ``{table}.{ext}``, like the reference's file sink
(plugin/cli.py:556-567).
"""

from __future__ import annotations

import argparse
import os
import sys

ENGINE_VERSION = "1.0.0"


def _spark(cfg=None):
    from schema_infer_plugin_spark.session import get_spark

    extra = None
    if cfg is not None:
        # performance section -> Spark conf (no-op on an already-running
        # session: getOrCreate returns it; a fresh CLI process applies these)
        extra = {
            "spark.sql.adaptive.enabled": str(cfg.performance.aqe).lower(),
            "spark.sql.files.maxPartitionBytes": cfg.performance.max_partition_bytes,
        }
    return get_spark(
        app_name="schema-infer-cli",
        master=None if cfg is None else cfg.performance.master,
        shuffle_partitions=None if cfg is None else cfg.performance.shuffle_partitions,
        extra_conf=extra,
    )


def _load_cfg(args: argparse.Namespace):
    """File/env config for this invocation (CLI flags override it)."""
    from schema_infer_plugin_spark.config import ConfigError, load_config

    try:
        return load_config(getattr(args, "config", None))
    except ConfigError as e:
        raise SystemExit(f"config error: {e}")


def _auto_infer_rows(df, col: str, cfg) -> tuple[list[dict], str]:
    """The reference's PRIMARY auto mode (plugin/cli.py: sample → detect
    format → parse → infer), distributed: detect the text column's format,
    parse with the matching parser, run the type ladder. Returns (profile
    rows, detected format).

    Distribution note: the reference's stateful CSV header capture ("first
    message becomes the header") has no order to rely on here — generic
    ``column_{i}`` headers are generated from the MAX field count (the
    reference generates them from the first row's count, parsers.py:162-167)."""
    import re as _re

    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.operators.detector import detect_format
    from schema_infer_plugin_spark.operators.inference import infer_json_schema
    from schema_infer_plugin_spark.operators.parsers import parse_csv_line, parse_key_value
    from schema_infer_plugin_spark.operators.profile import type_profile

    fmt, _conf = detect_format(df, col)
    inf = cfg.inference
    if fmt == "json":
        rows = [
            r.asDict()
            for r in infer_json_schema(
                df, col,
                max_depth=inf.max_depth,
                confidence_threshold=inf.confidence_threshold,
                n_examples=inf.n_examples,
                null_ratio_threshold=inf.null_ratio_threshold,
            ).collect()
        ]
    elif fmt in ("csv", "tsv"):
        delim = "\t" if fmt == "tsv" else ","
        n = (
            df.select(
                F.max(F.size(F.split(F.trim(F.col(col)), _re.escape(delim), -1)))
            ).first()[0]
            or 1
        )
        headers = [f"column_{i}" for i in range(int(n))]
        parsed = parse_csv_line(df, col, headers, delim)
        rows = [
            r.asDict()
            for r in type_profile(
                parsed, headers,
                confidence_threshold=inf.confidence_threshold,
                null_ratio_threshold=inf.null_ratio_threshold,
            ).collect()
        ]
    elif fmt == "key-value":
        from schema_infer_plugin_spark.functions.typeladder import resolve_profile

        obs = parse_key_value(df, col).select("kv_key", F.col("kv.vtype").alias("vt"))
        agg = obs.groupBy("kv_key").agg(
            *[
                F.sum((F.col("vt") == t).cast("long")).alias(f"cnt_{t}")
                for t in ("boolean", "int", "float", "string")
            ],
            F.count(F.lit(1)).alias("total"),
        )
        res = resolve_profile(
            F.col("cnt_boolean"), F.col("cnt_int"), F.col("cnt_float"),
            F.col("cnt_string"), F.col("total"), F.lit(0).cast("long"),
            confidence_threshold=inf.confidence_threshold,
            null_ratio_threshold=inf.null_ratio_threshold,
        )
        prof = agg.select(
            F.col("kv_key").alias("column"),
            res["inferred_type"].alias("inferred_type"),
            res["nullable"].alias("nullable"),
            res["required"].alias("required"),
        )
        rows = [r.asDict() for r in prof.collect()]
    else:
        # raw-text fallback schema (reference RawTextParser output shape)
        rows = [
            {"column": "raw_content", "inferred_type": "string", "nullable": False, "required": True},
            {"column": "message_length", "inferred_type": "int", "nullable": False, "required": True},
            {"column": "is_binary", "inferred_type": "boolean", "nullable": False, "required": True},
        ]
    return rows, fmt


def cmd_infer(args: argparse.Namespace) -> int:
    from schema_infer_plugin_spark.operators.generators import (
        fields_from_profile,
        GENERATORS,
        generate_schema,
    )
    from schema_infer_plugin_spark.operators.inference import infer_json_schema
    from schema_infer_plugin_spark.operators.profile import type_profile
    from schema_infer_plugin_spark.sources.io import load_table
    from schema_infer_plugin_spark.sources.sampling import deterministic_sample

    # precedence: explicit CLI flag > config file > env overlay > defaults
    cfg = _load_cfg(args)
    args.input = args.input or cfg.tables.input
    args.tables = args.tables or ",".join(cfg.tables.tables)
    if not args.input or not args.tables:
        raise SystemExit("--input and --tables are required (flags or config)")
    if args.sample_rate is None:
        args.sample_rate = cfg.inference.sample_rate
    if args.compatibility is None:
        args.compatibility = cfg.registry.compatibility
    if args.subject_strategy is None:
        args.subject_strategy = cfg.registry.subject_name_strategy
    if args.registry_dir is None and cfg.registry.root:
        args.registry_dir = cfg.registry.root
    # normalize + validate registry flags here, not mid-loop: register() raising
    # on table 2 of N would leave partial schema output; and subject_name()'s
    # permissive fallback (a reference quirk kept at library level) must not
    # swallow a typo'd strategy coming from the command line
    from schema_infer_plugin_spark.config import COMPAT_LEVELS, SUBJECT_STRATEGIES

    args.compatibility = args.compatibility.upper()
    if args.compatibility not in COMPAT_LEVELS:
        raise SystemExit(f"--compatibility must be one of {', '.join(COMPAT_LEVELS)}")
    if args.subject_strategy not in SUBJECT_STRATEGIES:
        raise SystemExit(f"--subject-strategy must be one of {', '.join(SUBJECT_STRATEGIES)}")

    # validate flag combinations BEFORE the table loop — a failure mid-loop
    # would leave partial schema-file output behind
    if args.register and args.format != "avro":
        raise SystemExit("--register supports --format avro")
    if args.register and cfg.registry.mode == "remote":
        # HttpSchemaRegistry exists behind the same RegistryClient seam but
        # needs a deployed transport — offline runs use the directory backend
        raise SystemExit("registry.mode=remote requires a deployed HTTP transport; use mode=local here")
    sample: tuple[int, int] | None = None
    if args.sample_rate:
        try:
            num, den = (int(x) for x in args.sample_rate.split("/"))
        except ValueError:
            raise SystemExit("--sample-rate must look like NUM/DEN, e.g. 16/256")
        width = {16: 1, 256: 2, 4096: 3}.get(den)
        if width is None:
            raise SystemExit("--sample-rate denominator must be 16, 256 or 4096")
        # the hash sample compares a width-char hex substring against the
        # formatted numerator — an out-of-range numerator would silently
        # under-sample via lexicographic compare, so reject it here
        if not 0 < num <= den:
            raise SystemExit(f"--sample-rate numerator must be in 1..{den}")
        if num < den:  # num == den keeps every row: no sampling
            sample = (num, width)

    spark = _spark(cfg)
    os.makedirs(args.output, exist_ok=True)
    written = []
    for table in args.tables.split(","):
        df = load_table(spark, args.input, table)
        if sample:
            df = deterministic_sample(df, [df.columns[0]], sample[0], sample[1])
        if args.json_col:
            rows = [
                r.asDict()
                for r in infer_json_schema(
                    df,
                    args.json_col,
                    max_depth=cfg.inference.max_depth,
                    confidence_threshold=cfg.inference.confidence_threshold,
                    n_examples=cfg.inference.n_examples,
                    null_ratio_threshold=cfg.inference.null_ratio_threshold,
                ).collect()
            ]
        elif args.text_col:
            rows, fmt = _auto_infer_rows(df, args.text_col, cfg)
            print(f"{table}: detected format '{fmt}' for column {args.text_col}")
        else:
            string_cols = [
                f.name for f in df.schema.fields if f.dataType.simpleString() == "string"
            ]
            rows = [
                r.asDict()
                for r in type_profile(
                    df,
                    string_cols or None,
                    confidence_threshold=cfg.inference.confidence_threshold,
                    null_ratio_threshold=cfg.inference.null_ratio_threshold,
                ).collect()
            ]
            # non-string columns keep their declared Spark type
            for f in df.schema.fields:
                if f.name not in {r["column"] for r in rows}:
                    rows.append(
                        {
                            "column": f.name,
                            "inferred_type": {
                                "bigint": "int", "int": "int", "double": "float",
                                "float": "float", "boolean": "boolean",
                            }.get(f.dataType.simpleString(), "string"),
                            "nullable": f.nullable,
                            "required": True,
                        }
                    )
        fields = fields_from_profile(rows)
        text = generate_schema(fields, args.format, table)
        ext = GENERATORS[args.format][1]
        path = os.path.join(args.output, f"{table}.{ext}")
        with open(path, "w") as f:
            f.write(text)
        written.append(path)
        print(f"wrote {path} ({len(fields)} fields)")
        if args.register:
            from schema_infer_plugin_spark.operators.registry import (
                LocalSchemaRegistry,
                subject_name,
            )

            reg = LocalSchemaRegistry(args.registry_dir or os.path.join(args.output, "registry"))
            subject = subject_name(table, args.subject_strategy)
            v = reg.register(subject, text, compatibility=args.compatibility)
            print(f"registered {subject} v{v} (compatibility={args.compatibility})")
    return 0 if written else 1


def cmd_list_tables(args: argparse.Namespace) -> int:
    from schema_infer_plugin_spark.sources.discovery import discover_tables
    from schema_infer_plugin_spark.sources.io import TABLES, register_views

    cfg = _load_cfg(args)
    spark = _spark(cfg)
    args.input = args.input or cfg.tables.input
    if not args.input:
        raise SystemExit("--input is required (flag or config tables.input)")
    register_views(spark, args.input, tuple(t for t in TABLES))
    # topic_filter mapping: internal-prefix exclusion + include-pattern override
    exclude = tuple(cfg.tables.exclude_prefixes) if cfg.tables.exclude_internal else ()
    r = discover_tables(
        spark,
        prefix=args.prefix,
        pattern=args.pattern,
        names=None if (args.prefix or args.pattern) else list(TABLES),
        exclude_prefixes=exclude,
        include_patterns=tuple(cfg.tables.include_patterns),
    )
    for t in r.found:
        print(t)
    return 0


def cmd_validate_tables(args: argparse.Namespace) -> int:
    """Existence + accessibility split (reference validate-topics,
    core/discovery.py:338-371): exit 1 if any requested table is missing.
    Emptiness is reported from parquet footer metadata — no scan is scheduled
    for it (reference empty-topic skip, plugin/optimistic.py:387-510)."""
    from schema_infer_plugin_spark.sources.discovery import discover_tables
    from schema_infer_plugin_spark.sources.io import TABLES, load_table
    from schema_infer_plugin_spark.sources.metadata import table_row_count

    spark = _spark()
    # Lenient registration (reference validate-topics keeps going past an
    # unreadable topic and reports it, core/discovery.py:349-371): a table
    # whose file EXISTS but fails the schema fetch is INACCESSIBLE — distinct
    # from MISSING (no file) — and both fail the run.
    load_errors: dict[str, Exception] = {}
    if not args.input.startswith("iceberg:"):
        for t in TABLES:
            if not os.path.exists(os.path.join(args.input, f"{t}.parquet")):
                continue  # discover_tables reports it MISSING
            try:
                load_table(spark, args.input, t).createOrReplaceTempView(t)
            except Exception as e:  # noqa: BLE001 — any fetch failure is the signal
                load_errors[t] = e
    else:
        from schema_infer_plugin_spark.sources.io import register_views

        # same per-table leniency on the catalog path: one broken table must
        # not abort the report for the others
        for t in TABLES:
            try:
                register_views(spark, args.input, (t,))
            except Exception as e:  # noqa: BLE001 — any fetch failure is the signal
                load_errors[t] = e
    r = discover_tables(spark, names=args.tables.split(","))
    inaccessible = 0
    for t in r.found:
        if args.input.startswith("iceberg:"):
            # manifest counts need a catalog (sources/metadata.iceberg_partition_counts)
            print(f"OK    {t}")
            continue
        # accessibility probe (reference validate-topics checks existence AND
        # that metadata FETCHES, core/discovery.py:349-371): a listed table
        # whose footer read fails (corrupt file, permission) is INACCESSIBLE,
        # distinct from MISSING — and fails the run the same way
        try:
            n = table_row_count(os.path.join(args.input, f"{t}.parquet"))
        except Exception as e:  # noqa: BLE001 — any footer failure is the signal
            inaccessible += 1
            print(f"INACCESSIBLE {t} ({type(e).__name__}: {e})")
            continue
        status = "OK   " if n > 0 else "EMPTY"
        print(f"{status} {t} rows={n}")
    for t in r.not_found:
        if t in load_errors:
            inaccessible += 1
            print(f"INACCESSIBLE {t} ({type(load_errors[t]).__name__})")
        else:
            print(f"MISSING {t}")
    return 1 if (r.not_found or inaccessible) else 0


def cmd_dedup(args: argparse.Namespace) -> int:
    """Corpus dedup run: near-dup pairs + per-doc keep decision to parquet.

    Methods: ``exact`` (content hash), ``minhash`` (LSH, --threshold =
    min est. Jaccard), ``simhash`` (--threshold = max hamming). minhash /
    simhash resolve pairs → connected components → one canonical doc per
    cluster (longest text wins, ties to smallest id — datapipe/graph.py),
    writing ``pairs/`` and ``decision/`` under --out; ``exact`` writes
    ``dups/`` (one row per distinct text with survivor + count).
    """
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.datapipe import (
        canonical_docs,
        exact_dedup,
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
        simhash_candidate_pairs,
    )
    from schema_infer_plugin_spark.sources.io import load_table

    spark = _spark()
    df = load_table(spark, args.input, args.table).select(args.id_col, args.text_col)
    n_docs = df.count()
    if args.method == "exact":
        dups = exact_dedup(df, args.id_col, args.text_col)
        dups.write.mode("overwrite").parquet(os.path.join(args.out, "dups"))
        n_distinct = spark.read.parquet(os.path.join(args.out, "dups")).count()
        print(f"docs={n_docs} distinct_texts={n_distinct} removed={n_docs - n_distinct}")
        return 0
    if args.method == "minhash":
        sig = minhash_signatures(df, args.id_col, args.text_col)
        pairs = lsh_candidate_pairs(
            sig, args.id_col, min_est_jaccard=float(args.threshold)
        ).withColumnRenamed("est_jaccard", "score")
    else:  # simhash
        pairs = simhash_candidate_pairs(
            simhash(df, args.id_col, args.text_col),
            args.id_col,
            max_hamming=int(float(args.threshold)),
        ).withColumn("score", F.col("hamming").cast("double")).drop("hamming")
    pairs.write.mode("overwrite").parquet(os.path.join(args.out, "pairs"))
    pairs_w = spark.read.parquet(os.path.join(args.out, "pairs"))
    docs = df.select(
        args.id_col, F.length(F.col(args.text_col)).cast("long").alias("_q")
    )
    decision = canonical_docs(docs, pairs_w, id_col=args.id_col, quality_col="_q")
    decision.write.mode("overwrite").parquet(os.path.join(args.out, "decision"))
    dec_w = spark.read.parquet(os.path.join(args.out, "decision"))
    kept = dec_w.filter(F.col("keep")).count()
    print(
        f"docs={n_docs} pairs={pairs_w.count()} kept={kept} removed={n_docs - kept}"
    )
    return 0


def cmd_audit(args: argparse.Namespace) -> int:
    """Table-liveness + distribution audit: freshness lag per group, empty
    time buckets, and categorical entropy — the checks a scheduler runs
    BEFORE a full validation pass is worth its scan (a stale or hole-ridden
    table fails here in seconds). Writes ``freshness/``, ``coverage_gaps/``
    and (with --entropy-cols) ``entropy/`` under --out; exits 1 when any
    freshness group misses its SLA or any coverage gap exists."""
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.checks.entropy import categorical_entropy
    from schema_infer_plugin_spark.checks.freshness import coverage_gaps, freshness
    from schema_infer_plugin_spark.sources.io import load_table

    spark = _spark()
    df = load_table(spark, args.input, args.table)
    fresh = freshness(
        df,
        args.ts_col,
        as_of=args.as_of,
        max_lag_hours=float(args.max_lag_hours),
        group_cols=[args.group_col] if args.group_col else None,
    )
    fresh.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "freshness"))
    fresh_w = spark.read.parquet(os.path.join(args.out, "freshness"))
    n_groups = fresh_w.count()
    n_stale = fresh_w.filter(~F.col("passed")).count()

    gaps = coverage_gaps(df, args.ts_col, unit=args.unit)
    gaps.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.out, "coverage_gaps")
    )
    n_gaps = spark.read.parquet(os.path.join(args.out, "coverage_gaps")).count()

    if args.entropy_cols:
        ent = categorical_entropy(df, args.entropy_cols.split(","))
        ent.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "entropy"))

    print(f"groups={n_groups} stale={n_stale} coverage_gaps={n_gaps}")
    return 1 if (n_stale or n_gaps) else 0


def cmd_estimate(args: argparse.Namespace) -> int:
    """Sampled-validation pre-pass (plans/validate.
    sampled_validation_estimate): the fused checks on a deterministic md5
    sample of whole conversations, each check's per-turn violation rate
    with a Wilson 95% interval — "is this ingest batch worth a full Pass
    B?" at a fraction of its scan. Writes ``estimate/`` under --out and
    prints one line per check; with --fail-above R, exits 1 when any
    check's ci_lo exceeds R (statistically confident the true rate does)."""
    from schema_infer_plugin_spark.plans.runner import resolve_transcripts_input
    from schema_infer_plugin_spark.plans.validate import (
        default_rules,
        sampled_validation_estimate,
    )

    cfg = _load_cfg(args)
    try:
        num, den = (int(x) for x in args.rate.split("/"))
    except ValueError:
        raise SystemExit("--rate must look like NUM/DEN, e.g. 16/256")
    width = {16: 1, 256: 2, 4096: 3}.get(den)
    if width is None:
        raise SystemExit("--rate denominator must be 16, 256 or 4096")
    if not 0 < num < den:
        raise SystemExit(f"--rate numerator must be in 1..{den - 1} (a full-rate"
                         " 'sample' is just the validate command)")
    spark = _spark(cfg)
    t, _ = resolve_transcripts_input(spark, args.input)
    est = sampled_validation_estimate(
        t, num, width,
        default_rules(cfg.validation.role_domain or None, cfg.validation.tool_domain or None),
    )
    est.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.out, "estimate")
    )
    rows = spark.read.parquet(os.path.join(args.out, "estimate")).collect()
    threshold = None if args.fail_above is None else float(args.fail_above)
    # gate on the chosen unit's LOWER bound: per-turn is the operational
    # rate (iid-approximate under conv-cluster sampling); per-conv is the
    # design-consistent unit where the Wilson iid assumption holds exactly
    lo_col = "ci_lo" if args.unit == "turn" else "conv_ci_lo"
    confident_bad = []
    for r in sorted(rows, key=lambda r: r["check_name"]):
        print(
            f"{r['check_name']}: rate={r['rate']} ci=[{r['ci_lo']}, {r['ci_hi']}]"
            f" violations={r['n_violations']}/{r['n_turns']} sampled turns;"
            f" conv_rate={r['conv_rate']} ci=[{r['conv_ci_lo']},"
            f" {r['conv_ci_hi']}] ({r['conv_violations']}/{r['n_convs']} convs)"
        )
        if threshold is not None and r[lo_col] is not None and r[lo_col] > threshold:
            confident_bad.append(r["check_name"])
    if confident_bad:
        print(
            f"estimate: FAILED --fail-above {threshold} (per-{args.unit}):"
            f" {','.join(confident_bad)}"
        )
        return 1
    return 0


def cmd_window_drift(args: argparse.Namespace) -> int:
    """Per-WINDOW drift report ("which day drifted"): event-time windowed
    counts of --column (or --numeric-column, on the baseline's grid)
    compared with that series of a validate run's persisted baseline,
    ``histograms/`` — categorical series by PSI/KL/JS/chi2, numeric ones by
    KS/W1/chi2 (checks/drift.windowed_counts + drift_compare, the batch face
    of the streaming windowed_*_stream). Writes one row per window to
    ``window_drift/`` (``window_ks/`` for a numeric column) under --out,
    prints one line per window, and exits 1 when any window's PSI (KS)
    exceeds --psi-threshold (--ks-threshold); W1 and chi2 ride as evidence.
    The baseline is read like run_drift's (runner.read_baseline): a series
    it lacks exits with advice, a baseline in an older per-series layout
    fails the run (re-run write_histograms). A numeric grid is fixed at
    baseline time (clamp semantics), so out-of-range drift collapses
    conservatively into the edge buckets."""
    from schema_infer_plugin_spark.checks.drift import drift_compare, windowed_counts
    from schema_infer_plugin_spark.plans.runner import read_baseline, resolve_transcripts_input

    cfg = _load_cfg(args)
    spark = _spark(cfg)
    t, _ = resolve_transcripts_input(spark, args.input)
    numeric = args.numeric_column is not None
    c = args.numeric_column if numeric else args.column
    cats, nums = ([], [c]) if numeric else ([c], [])
    try:
        base, series = read_baseline(spark, args.baseline, cats, nums)
    except FileNotFoundError:
        series = {}
    if (c, numeric) not in series:
        kind, arg = ("numeric", "numeric_columns") if numeric else ("histogram", "columns")
        raise SystemExit(
            f"window-drift: no {kind} baseline for {c!r} under"
            f" {os.path.join(args.baseline, 'histograms')} — re-run validate /"
            f" write_histograms with {c!r} in {arg}"
        )
    grids = {c: series[(c, True)]} if numeric else None
    counts = windowed_counts(t, cats, grids, "ts", args.window)
    rep = drift_compare(counts, base, by=("window_start", "window_end"))
    out = os.path.join(args.out, "window_ks" if numeric else "window_drift")
    rep.write.mode("overwrite").parquet(out)
    per_win = spark.read.schema(rep.schema).parquet(out).orderBy("window_start").collect()
    stat, threshold = ("ks_stat", float(args.ks_threshold)) if numeric else (
        "psi", float(args.psi_threshold)
    )
    drifted = []
    for r in per_win:
        flag = r[stat] is not None and r[stat] > threshold
        line = (
            f"ks={r['ks_stat']} at={r['ks_at']} w1={r['w1']} chi2={r['chi2']}"
            f" dof={r['dof']} n={r['n_cur']}"
            if numeric
            else f"psi={r['psi']:.6f} chi2={r['chi2']:.3f} dof={r['dof']}"
        )
        print(f"{r['window_start']} .. {r['window_end']}: {line}{' DRIFTED' if flag else ''}")
        if flag:
            drifted.append(str(r["window_start"]))
    if drifted:
        print(
            f"window-drift: {len(drifted)}/{len(per_win)} windows above"
            f" {'ks' if numeric else 'psi'} {threshold} on {c}"
        )
        return 1
    return 0


def cmd_vector_sanity(args: argparse.Namespace) -> int:
    """Embedding-column gate: NULL / wrong-dim / NaN / Inf / zero-norm
    vectors (checks/vector_sanity.py) — the pre-flight a scheduler runs
    BEFORE an ANN index build or embedding-dedup pass is worth its scan.
    Writes ``vector_violations/`` (row-level triage) and ``vector_stats/``
    (one exact-count row) under --out; exits 1 when any vector fails."""
    from schema_infer_plugin_spark.checks.vector_sanity import (
        vector_sanity_stats,
        vector_sanity_violations,
    )
    from schema_infer_plugin_spark.sources.io import load_table

    spark = _spark()
    df = load_table(spark, args.input, args.table)
    dim = int(args.dim)
    viol = vector_sanity_violations(df, args.id_col, args.vec_col, dim=dim)
    viol.write.mode("overwrite").parquet(os.path.join(args.out, "vector_violations"))
    stats = vector_sanity_stats(df, args.vec_col, dim=dim)
    stats.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.out, "vector_stats")
    )
    row = spark.read.parquet(os.path.join(args.out, "vector_stats")).collect()[0]
    n_bad = row["n_rows"] - row["n_ok"]
    print(
        f"rows={row['n_rows']} ok={row['n_ok']} null={row['n_null']}"
        f" wrong_dim={row['n_wrong_dim']} null_elem={row['n_null_elem']}"
        f" nan={row['n_nan']} inf={row['n_inf']} zero={row['n_zero']}"
    )
    return 1 if n_bad else 0


def cmd_index(args: argparse.Namespace) -> int:
    """Build + persist a search-index artifact (round-3 VERDICT #3): ``ivf``
    centroids / ``pq`` codebook over an embedding column, or the ``minhash``
    band index over a text column — the train-once artifacts that
    ``ann_ivf_topk`` / ``ann_pq_topk`` / ``semantic_dedup_pairs`` /
    ``lsh_pairs_vs_index`` then reuse without re-deriving from the corpus."""
    from schema_infer_plugin_spark.datapipe.index_store import build_vector_index
    from schema_infer_plugin_spark.sources.io import load_table

    spark = _spark()
    df = load_table(spark, args.input, args.table)
    if args.pre_check_dim is not None and args.kind in ("ivf", "pq"):
        # fail BEFORE the expensive train pass: a corrupt embedding column
        # would otherwise bake NaN/short vectors into the persisted artifact
        from schema_infer_plugin_spark.checks.vector_sanity import (
            vector_sanity_stats,
        )

        row = vector_sanity_stats(
            df, args.vec_col, dim=int(args.pre_check_dim)
        ).collect()[0]
        n_bad = row["n_rows"] - row["n_ok"]
        if n_bad:
            print(
                f"index: pre-check FAILED — {n_bad}/{row['n_rows']} bad vectors"
                f" (null={row['n_null']} wrong_dim={row['n_wrong_dim']}"
                f" null_elem={row['n_null_elem']} nan={row['n_nan']}"
                f" inf={row['n_inf']} zero={row['n_zero']});"
                " run vector-sanity for the row-level triage"
            )
            return 1
    manifest = build_vector_index(
        df,
        args.id_col,
        args.vec_col,
        kind=args.kind,
        out=args.out,
        n_cells=int(args.n_cells),
        m=int(args.m),
        n_codes=int(args.n_codes),
        num_hashes=int(args.num_hashes),
        bands=int(args.bands),
        refine_sweeps=int(args.refine_sweeps),
    )
    print(f"kind={manifest['kind']} rows={manifest['rows']} path={manifest['path']}")
    return 0


def cmd_mix(args: argparse.Namespace) -> int:
    """Token-budget mixture selection (datapipe/mixing.mix_token_budget):
    ``--budgets src0=800,src1=500`` selects a deterministic per-source
    document prefix and writes the selection (ids + running token counts)."""
    from schema_infer_plugin_spark.datapipe.mixing import mix_token_budget
    from schema_infer_plugin_spark.sources.io import load_table

    budgets: dict[str, int] = {}
    for part in args.budgets.split(","):
        k, _, v = part.partition("=")
        if not k or not v:
            print(f"mix: malformed --budgets entry {part!r} (want source=tokens)")
            return 2
        try:
            b = int(v)
        except ValueError:
            print(f"mix: budget for {k!r} is not an integer: {v!r}")
            return 2
        if b < 0:
            print(f"mix: budget for {k!r} must be >= 0, got {b}")
            return 2
        budgets[k.strip()] = b
    spark = _spark()
    df = load_table(spark, args.input, args.table)
    sel = mix_token_budget(
        df,
        budgets,
        id_col=args.id_col,
        source_col=args.source_col,
        text_col=args.text_col,
        n_shards=int(args.n_shards),
    )
    sel.write.mode("overwrite").parquet(args.out)
    import pyspark.sql.functions as _F

    stats = (
        spark.read.parquet(args.out)
        .groupBy(args.source_col)
        .agg(_F.count(_F.lit(1)).alias("docs"), _F.max("cum_tokens").alias("tokens"))
        .orderBy(args.source_col)
        .collect()
    )
    for r in stats:
        print(f"{r[args.source_col]}: docs={r['docs']} tokens={r['tokens']}")
    return 0


def cmd_profile_partial(args: argparse.Namespace) -> int:
    """Scan ONE table/partition and persist its mergeable profile state
    (operators/profile.profile_partial): the incremental-profiling producer — run it
    per ingest batch, answer period-level profiles later via
    ``profile-merge`` without rescanning a byte."""
    from schema_infer_plugin_spark.operators.profile import profile_partial
    from schema_infer_plugin_spark.sources.io import load_table

    spark = _spark()
    df = load_table(spark, args.input, args.table)
    cols = args.columns.split(",") if args.columns else None
    part = profile_partial(
        df, cols, run_id=args.run_id, partition_by=args.partition_by
    )
    part.write.mode("overwrite").parquet(args.out)
    print(f"run_id={args.run_id} columns={len(cols or df.columns)} path={args.out}")
    return 0


def cmd_profile_merge(args: argparse.Namespace) -> int:
    """Merge persisted partial-profile artifacts into one long-format
    profile — work ∝ (#artifacts × #columns), never ∝ input."""
    from functools import reduce

    from schema_infer_plugin_spark.operators.profile import profile_merge

    spark = _spark()
    parts = reduce(
        lambda a, b: a.unionByName(b),
        (spark.read.parquet(p) for p in args.partials),
    )
    merged = profile_merge(parts, run_id=args.run_id)
    merged.write.mode("overwrite").parquet(args.out)
    for r in merged.orderBy("column").collect():
        print(
            f"{r['column']}: {r['inferred_type']} total={r['total_count']} "
            f"nulls={r['null_count']} distinct~{r['distinct_approx']}"
        )
    return 0


def cmd_profile_diff(args: argparse.Namespace) -> int:
    """Period-over-period drift from persisted PARTIAL-profile artifacts
    alone — zero input rescans: merge each side (profile_merge), emit
    schema-evolution verdicts (plans/compare.profile_compare: OK/WARN/
    BREAKING) plus IQR-normalized quantile-shift verdicts
    (quantile_drift_verdicts, KLL estimates — threshold-gated, not exact).
    Writes ``compare/`` and ``quantile_drift/`` under --out; exits 1 on any
    BREAKING column or failed quantile shift."""
    from functools import reduce

    from schema_infer_plugin_spark.operators.profile import profile_merge
    from schema_infer_plugin_spark.plans.compare import (
        profile_compare,
        quantile_drift_verdicts,
    )

    spark = _spark()

    def merged(paths: str, run_id: str):
        parts = reduce(
            lambda a, b: a.unionByName(b),
            (spark.read.parquet(p) for p in paths.split(",")),
        )
        return profile_merge(parts, run_id=run_id)

    cur = merged(args.current, "cur")
    base = merged(args.baseline, "base")
    comp = profile_compare(cur, base)
    comp.coalesce(1).write.mode("overwrite").parquet(os.path.join(args.out, "compare"))
    qd = quantile_drift_verdicts(
        cur, base, shift_threshold=float(args.shift_threshold)
    )
    qd.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(args.out, "quantile_drift")
    )
    comp_rows = spark.read.parquet(os.path.join(args.out, "compare")).collect()
    qd_rows = spark.read.parquet(os.path.join(args.out, "quantile_drift")).collect()
    n_breaking = sum(1 for r in comp_rows if r["verdict"] == "BREAKING")
    n_shifted = sum(1 for r in qd_rows if not r["pass"])
    for r in sorted(comp_rows, key=lambda r: (r["partition_key"], r["col_name"])):
        print(f"{r['partition_key']}/{r['col_name']}: {r['verdict']}")
    for r in sorted(qd_rows, key=lambda r: (r["partition_key"], r["col_name"])):
        print(
            f"{r['partition_key']}/{r['col_name']}: quantile_shift="
            f"{r['max_shift']:.4f} {'OK' if r['pass'] else 'FAIL'}"
        )
    print(f"breaking={n_breaking} quantile_shifts={n_shifted}")
    return 1 if (n_breaking or n_shifted) else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="schema-infer-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("infer", help="profile table(s) and emit schema files")
    p.add_argument("--config", default=None,
                   help="YAML/JSON config file (flags override; env SCHEMA_INFER_* underlays)")
    p.add_argument("--input", default=None, help="sf dir or iceberg:namespace")
    p.add_argument("--tables", "--table", default=None, dest="tables")
    p.add_argument("--format", default="avro", choices=["avro", "protobuf", "json-schema"])
    p.add_argument("--output", required=True)
    p.add_argument("--json-col", default=None, help="JSON string column to infer dynamically")
    p.add_argument("--text-col", default=None,
                   help="raw text column: auto-detect format (json/csv/tsv/kv/raw), parse, infer")
    p.add_argument("--sample-rate", default=None, help="e.g. 16/256 (hash sample)")
    p.add_argument("--register", action="store_true", help="register in the local schema registry")
    p.add_argument("--registry-dir", default=None)
    p.add_argument("--compatibility", default=None,
                   help="NONE|BACKWARD|FORWARD|FULL[_TRANSITIVE] (default from config: NONE)")
    p.add_argument("--subject-strategy", default=None)
    p.set_defaults(fn=cmd_infer)

    p = sub.add_parser("list-tables", help="discover tables (reference list-topics)")
    p.add_argument("--config", default=None)
    p.add_argument("--input", default=None)
    p.add_argument("--prefix", default=None)
    p.add_argument("--pattern", default=None)
    p.set_defaults(fn=cmd_list_tables)

    p = sub.add_parser("validate-tables", help="existence check (reference validate-topics)")
    p.add_argument("--input", required=True)
    p.add_argument("--tables", required=True)
    p.set_defaults(fn=cmd_validate_tables)

    p = sub.add_parser(
        "validate",
        help="full validation run: profile + constraint passes, resumable "
        "(delegates to plans.runner; flags: --input --out --run-id "
        "--n-buckets --batch-buckets --baseline)",
        add_help=False,
    )
    p.set_defaults(fn=None)

    p = sub.add_parser(
        "dedup",
        help="corpus dedup: pairs + keep decision to parquet "
        "(exact | minhash | simhash)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", default="documents")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--method", default="minhash", choices=["exact", "minhash", "simhash"])
    p.add_argument(
        "--threshold",
        default="0.5",
        help="minhash: min est. Jaccard (default 0.5); simhash: max hamming",
    )
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_dedup)

    p = sub.add_parser(
        "audit",
        help="liveness audit: freshness lag, empty time buckets, entropy "
        "(exit 1 on stale groups or coverage gaps)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", default="events")
    p.add_argument("--ts-col", default="ts")
    p.add_argument("--as-of", required=True, help="deterministic 'now' (UTC)")
    p.add_argument("--max-lag-hours", default="24")
    p.add_argument("--group-col", default=None)
    p.add_argument("--unit", default="hour", choices=["hour", "day"])
    p.add_argument("--entropy-cols", default=None, help="comma-separated")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_audit)

    p = sub.add_parser(
        "estimate",
        help="sampled-validation pre-pass: per-check violation-rate Wilson "
        "estimates from a deterministic conversation sample "
        "(exit 1 with --fail-above when a rate is confidently above it)",
    )
    p.add_argument("--config", default=None)
    p.add_argument("--input", required=True,
                   help="sf dir, iceberg:ns, synth:N, or bucketed:DIR")
    p.add_argument("--rate", default="16/256",
                   help="conversation sample rate NUM/DEN (DEN in 16/256/4096)")
    p.add_argument("--fail-above", default=None,
                   help="exit 1 if any check's ci_lo exceeds this rate")
    p.add_argument("--unit", default="turn", choices=["turn", "conv"],
                   help="gate unit: per-turn rate (operational) or "
                   "per-conversation rate (design-consistent; the sampling "
                   "unit, so the Wilson iid assumption holds exactly)")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_estimate)

    p = sub.add_parser(
        "window-drift",
        help="per-window drift report vs a validate run's histogram baseline "
        "(exit 1 when any window's PSI exceeds the threshold)",
    )
    p.add_argument("--config", default=None)
    p.add_argument("--input", required=True,
                   help="sf dir, iceberg:ns, synth:N, or bucketed:DIR")
    p.add_argument("--baseline", required=True,
                   help="a validate run's --out dir (its histograms/ drift baseline)")
    p.add_argument("--column", default="role")
    p.add_argument("--numeric-column", default=None,
                   help="numeric mode: per-window KS vs the validate run's "
                   "grid baseline of that column (overrides --column)")
    p.add_argument("--window", default="1 day", help="event-time window duration")
    p.add_argument("--psi-threshold", default="0.2")
    p.add_argument("--ks-threshold", default="0.2",
                   help="numeric mode: exit 1 when any window's KS exceeds this")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_window_drift)

    p = sub.add_parser(
        "vector-sanity",
        help="embedding-column gate: NULL/dim/NaN/Inf/zero-norm violations "
        "(exit 1 when any vector fails)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", default="embeddings")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--dim", required=True, help="declared dimensionality (contract)")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_vector_sanity)

    p = sub.add_parser(
        "index",
        help="build + persist a search index artifact "
        "(ivf centroids | pq codebook | minhash band index)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", default="embeddings")
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding",
                   help="embedding column (ivf/pq) or text column (minhash)")
    p.add_argument("--kind", required=True, choices=["ivf", "pq", "minhash"])
    p.add_argument("--n-cells", default="8", help="ivf: number of centroids")
    p.add_argument("--refine-sweeps", default="0",
                   help="ivf: k-means refinement sweeps over the sampled seeds")
    p.add_argument("--m", default="8", help="pq: blocks per vector")
    p.add_argument("--n-codes", default="8", help="pq: codewords per block")
    p.add_argument("--num-hashes", default="16", help="minhash: signature length")
    p.add_argument("--bands", default="4", help="minhash: LSH bands")
    p.add_argument("--pre-check-dim", default=None,
                   help="ivf/pq: run the vector-sanity gate at this declared "
                   "dim before training; abort (exit 1) on any bad vector")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_index)

    p = sub.add_parser(
        "mix",
        help="token-budget mixture selection per source (deterministic greedy prefix)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", default="documents")
    p.add_argument("--budgets", required=True, help="source=tokens,source=tokens,...")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--source-col", default="source")
    p.add_argument("--text-col", default="text")
    p.add_argument("--n-shards", default="64")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_mix)

    p = sub.add_parser(
        "profile-partial",
        help="scan one table and persist mergeable profile state (parquet)",
    )
    p.add_argument("--input", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--columns", default=None, help="comma-separated subset (default all)")
    p.add_argument("--partition-by", default=None,
                   help="emit one state row per value of this column (per-topic analog)")
    p.add_argument("--run-id", default="run0")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_profile_partial)

    p = sub.add_parser(
        "profile-merge",
        help="merge partial-profile artifacts into one profile without rescanning",
    )
    p.add_argument("partials", nargs="+", help="partial artifact paths")
    p.add_argument("--run-id", default="merged")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_profile_merge)

    p = sub.add_parser(
        "profile-diff",
        help="schema + quantile drift between two partial-profile artifacts "
        "(no input rescans; exit 1 on BREAKING or shifted)",
    )
    p.add_argument("--current", required=True, help="comma-separated artifact paths")
    p.add_argument("--baseline", required=True, help="comma-separated artifact paths")
    p.add_argument("--shift-threshold", default="0.25")
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_profile_diff)

    p = sub.add_parser("version")
    p.set_defaults(fn=lambda a: (print(f"schema-infer-spark {ENGINE_VERSION}"), 0)[1])

    raw = list(sys.argv[1:] if argv is None else argv)
    if raw and raw[0] == "validate":
        from schema_infer_plugin_spark.plans.runner import main as runner_main

        runner_main(raw[1:])
        return 0
    args = ap.parse_args(raw)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())

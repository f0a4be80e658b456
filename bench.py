#!/usr/bin/env python
"""Benchmark harness (driver contract + north_rule scaling evidence).

Default mode: run the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON
line ``{"metric", "value", "unit", "queries", "sf", ...}``.

The transcripts table (BASELINE.json input_hint) is synthesized
deterministically at a size scaled by sf — ``synth_transcripts`` derives every
attribute from xxhash64 of stable keys, so the input is bit-identical at any
parallelism level. That property powers ``--scaling``: the same job on the
same input at local[8] vs local[32] (the sandbox stand-in for N vs 4N
executors), reporting throughput at both plus scaling efficiency
(north_rule: >= 0.8), written to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

DEFAULT_SF_DIR = "/root/testdata/sf0.1"
#: conversations per unit sf (sf0.1 -> 200k convs ~ 1.7M turns; mean ~8.5 turns/conv)
CONVS_PER_SF = 2_000_000


#: r4's 14 headline queries, pinned: ``core_subset_sec`` sums them so rounds
#: compare on one number (the full suite has grown since, so its sum does not)
CORE_SUBSET = (
    "validate_fused",
    "profile",
    "dedup_minhash_lsh",
    "ann_bruteforce_topk",
    "ann_lsh_multitable",
    "dedup_embedding_lsh",
    "text_quality",
    "dedup_simhash_pairs",
    "winnow_fingerprints",
    "dedup_semantic",
    "dedup_incremental_lsh",
    "ann_ivfpq_topk",
    "mix_token_budget",
    "profile_partial_merge",
)


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def run_bench(
    sf_dir: str,
    cpus: int,
    n_convs: int | None = None,
    only: set[str] | None = None,
) -> dict:
    from schema_infer_plugin_spark.plans.validate import validate_transcripts
    from schema_infer_plugin_spark.operators.profile import profile
    from schema_infer_plugin_spark.session import get_spark
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    sf = _sf_of(sf_dir)
    n_convs = n_convs or max(int(CONVS_PER_SF * sf), 1_000)
    spark = get_spark(
        app_name=f"bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    t = synth_transcripts(spark, n_convs).persist()
    n_turns = t.count()

    queries: dict[str, float] = {}
    cold: dict[str, float] = {}
    loadavg: dict[str, list[float]] = {}
    # Host-contention guard: the sandbox's 32 vCPUs are shared, and a single
    # noisy-neighbor window has been measured inflating BOTH iterations of a
    # min-of-2 ~10x (r3's "profile regression" was exactly this artifact). An
    # iteration that STARTS under external load is discounted: it still runs
    # (min over all readings is safe — contention only inflates, never
    # deflates), but it doesn't count toward the 5 calm samples, up to a hard
    # cap of 8 attempts. 1-min loadavg is sampled before the iteration so our
    # own burst doesn't immediately trip the guard; the bench's own sustained
    # contribution is why the guard is generous (1.5 * cpus/4).
    load_guard = max(8.0, 1.5 * cpus / 4)

    def timed(name, fn):
        # min-of-5 calm iterations: the first pays whole-stage-codegen JIT +
        # page-cache warm-up (measured 4-6x on this VM), a fixed cost that
        # amortizes to zero on any long-running cluster — min-of-N is the same
        # protocol the scaling ladder uses (min of 8, first discarded). Cold
        # times stay visible under "cold_queries"; per-iteration start loadavg
        # under "loadavg" so a suspect reading is auditable after the fact.
        if only is not None and name not in only:
            return
        secs, loads, calm = [], [], 0
        cold_secs = None
        while calm < 5 and len(secs) < 8:
            la = os.getloadavg()[0]
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            # re-sample after: contention that began MID-iteration also
            # disqualifies the sample from the calm count (min over all
            # readings stays safe — load only inflates)
            la_end = os.getloadavg()[0]
            secs.append(dt)
            loads.append([round(la, 1), round(la_end, 1)])
            if la <= load_guard and la_end <= load_guard:
                calm += 1
                if cold_secs is None:
                    cold_secs = dt
        # cold = the first CALM iteration, so "cold_queries" documents JIT /
        # page-cache warm-up rather than a noise-inflated reading. Caveat: if
        # the FIRST iteration ran under load, the first calm one has already
        # paid the JIT, so this is a lower bound; with zero calm iterations
        # we fall back to the raw first reading (auditable via "loadavg",
        # which records [start, end] 1-min samples per iteration).
        cold[name] = secs[0] if cold_secs is None else cold_secs
        queries[name] = min(secs)
        loadavg[name] = loads

    timed("validate_fused", lambda: validate_transcripts(t).count())
    timed(
        "profile",
        lambda: profile(t, ["conv_id", "turn_idx", "role", "text", "tool"]).collect(),
    )

    # representative datapipe headliners over the driver-provided tables
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    for name in (
        *CORE_SUBSET[2:],
        # round-5 additions (supplementary keys)
        "mix_temperature_sample",
        "quality_funnel",
        "dup_ngram_rate",
        "tfidf_top_terms",
        "split_leakage",
        "vector_sanity",
        "transcripts_corr",
        "conv_boundary_roles",
        "role_transition_matrix",
        "role_transition_drift",
        "expr_suite",
        "role_transition_domain",
        "transition_chi2",
        "sampled_validation_estimate",
        "windowed_ks_drift",
        "shared_prefixes",
        "dedup_impact",
    ):
        timed(name, lambda name=name: q[name](spark, sf_dir).count())

    # Throughput from the fused-validation min reading alone: it is the
    # north-rule metric (turns/sec validation throughput) and a single
    # load-guarded min is far less noise-exposed than a sum of two readings
    # (the r3 headline "drop" was a noisy profile denominator, not the engine).
    validate_sec = queries.get("validate_fused")
    result = {
        # a --queries subset must not impersonate the full-suite headline:
        # the metric name changes so nothing keyed on headline_suite_sec can
        # mistake a filtered sum for the tracked number
        "metric": "headline_suite_sec" if only is None else "headline_subset_sec",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "cold_queries": cold,
        "loadavg": loadavg,
        "loadavg_guard": load_guard,
        "sf": sf,
        "n_turns": n_turns,
        "cpus": cpus,
        "turns_per_sec": int(n_turns / validate_sec) if validate_sec else None,
    }
    if all(name in queries for name in CORE_SUBSET):
        result["core_subset_sec"] = round(sum(queries[n] for n in CORE_SUBSET), 3)
    if only is not None:
        result["subset"] = sorted(only)
    t.unpersist()
    spark.stop()
    return result


def run_skew_stress(cpus: int, n_convs: int = 200_000, hot_frac: float = 0.01) -> dict:
    """VERDICT r3 #4 — adversarial-skew evidence at bench scale: the fused
    validation timed on (a) the standard synthetic corpus and (b) the same
    corpus plus ONE conversation holding ``hot_frac`` of all turns (default
    1%, the verdict's scenario). The windows key on conv_id, so the hot
    conversation is irreducible single-key skew (plans/validate.py docstring);
    the claim under test is that it costs one straggler task, not a cascade —
    overhead_ratio ≈ 1 + its share of one partition's work. Writes
    ``BENCH/SKEW.md``; same min-of-5-calm protocol as the headline bench."""
    from pyspark.sql import functions as F

    from schema_infer_plugin_spark.plans.validate import validate_transcripts
    from schema_infer_plugin_spark.schema import TRANSCRIPTS_SCHEMA
    from schema_infer_plugin_spark.session import get_spark
    from schema_infer_plugin_spark.sources.synth import synth_transcripts

    spark = get_spark(
        app_name=f"skew-bench-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    cols = [f.name for f in TRANSCRIPTS_SCHEMA.fields]
    base = synth_transcripts(spark, n_convs).select(cols).persist()
    n_base = base.count()
    n_hot = int(n_base * hot_frac / (1 - hot_frac))
    hot = spark.range(n_hot).select(
        F.lit("hot_conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant"))
        .alias("role"),
        F.concat(F.lit("turn "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    skewed = base.unionByName(hot).persist()
    n_skewed = skewed.count()

    load_guard = max(8.0, 1.5 * cpus / 4)

    def timed(fn):
        secs, calm = [], 0
        while calm < 5 and len(secs) < 8:
            la = os.getloadavg()[0]
            t0 = time.time()
            fn()
            secs.append(round(time.time() - t0, 3))
            if la <= load_guard:
                calm += 1
        return min(secs), secs

    base_sec, base_iters = timed(lambda: validate_transcripts(base).count())
    skew_sec, skew_iters = timed(lambda: validate_transcripts(skewed).count())
    result = {
        "metric": "skew_stress_overhead_ratio",
        # normalize per turn: the skewed corpus has hot_frac more rows
        "value": round((skew_sec / n_skewed) / (base_sec / n_base), 3),
        "unit": "ratio",
        "base_sec": base_sec,
        "skewed_sec": skew_sec,
        "base_iters": base_iters,
        "skewed_iters": skew_iters,
        "n_base_turns": n_base,
        "n_hot_turns": n_hot,
        "hot_frac": round(n_hot / n_skewed, 4),
        "cpus": cpus,
    }
    base.unpersist()
    skewed.unpersist()
    spark.stop()
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "SKEW.md"), "w") as f:
        f.write(
            f"""# BENCH — adversarial conversation skew (sf0.1-skewed)

One conversation holding {result["hot_frac"]:.1%} of all turns
({n_hot:,} of {n_skewed:,}) — irreducible single-key skew for the
conv_id-keyed validation windows (no salting without breaking window
exactness; fallback documented in plans/validate.py). Fused validation,
local[{cpus}], min-of-5 calm iterations:

| corpus | turns | best sec |
|---|---|---|
| uniform | {n_base:,} | {base_sec} |
| skewed (+1% hot conv) | {n_skewed:,} | {skew_sec} |

**Per-turn overhead ratio: {result["value"]}** (≈1 means the hot key costs
its own rows' work in one straggler task, no cascade). Structural assertions
(hot conv whole in one partition, residual partition balance < 3x mean,
fused == DuckDB oracle rows with every option on) live in tests/test_bucketed.py.

Residual NULL-key skew on the bucketed path: rows missing conv_id or
turn_idx are salted across 64 window partitions only when the plan has an
exchange. Over a conv_id-bucketed table there is none, so every NULL-conv_id
row stays in the one bucket that xxhash64(NULL) selects and is windowed by a
single task; NULL-turn_idx rows stay in their conversation's bucket. The
keyless rows emit only their not_null_* violations, but a flood of them is
still one straggler task on the zero-exchange plan. Not measured here.

```json
{json.dumps(result, indent=2)}
```
"""
        )
    return result


#: Scaling protocol: taskset-pinned core sets. Pinning matters — an unpinned
#: local[N] JVM still spreads GC/shuffle/IO threads over every machine core,
#: flattering the small-N baseline. Two independent N→4N pairs (2→8, 4→16)
#: keep the criterion away from the noisy 32-thread host ceiling; 32 is
#: measured as the supplementary top end.
SCALE_CORES = ((2, "0-1"), (4, "0-3"), (8, "0-7"), (16, "0-15"), (32, "0-31"))

_WORKER_CODE = """
import time, os, sys, json, shutil
from schema_infer_plugin_spark.session import get_spark
from schema_infer_plugin_spark.sources.synth import synth_transcripts
from schema_infer_plugin_spark.plans.validate import validate_transcripts
cpus, n_convs = int(sys.argv[1]), int(sys.argv[2])
wh = f"/dev/shm/spark-graft-wh-{cpus}"
shutil.rmtree(wh, ignore_errors=True)
spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(cpus * 2, 8),
    extra_conf={"spark.ui.showConsoleProgress": "false",
                "spark.local.dir": "/dev/shm/spark-graft-local",
                "spark.sql.warehouse.dir": wh,
                "spark.driver.extraJavaOptions": f"-Dderby.system.home={wh}"})
spark.sparkContext.setLogLevel("ERROR")
# Bucketed-by-conv_id layout == production Iceberg bucket(N, conv_id) table:
# the scan reports HashPartitioning, the validation windows need ZERO exchange.
t = synth_transcripts(spark, n_convs)
(t.write.mode("overwrite").bucketBy(32, "conv_id")
   .sortBy("conv_id", "turn_idx").format("parquet").saveAsTable("transcripts_bucketed"))
bt = spark.table("transcripts_bucketed")
n_turns = bt.count()
v = validate_transcripts(bt)
plan = v._jdf.queryExecution().executedPlan().toString()
# Same calm-iteration guard as the headline bench (r4: an unguarded ladder
# level that lands in a noisy-neighbor window depresses ONE rung and fakes a
# failed pair — min-of-N within the window can't see load that spans it).
# Our own pinned run contributes ~cpus to the 1-min loadavg, so the guard is
# cpus + slack; iterations that START loaded still count into the min (load
# only inflates) but not toward the 8 calm samples, cap 12.
guard = cpus + 6.0
secs, loads, calm = [], [], 0
while calm < 8 and len(secs) < 12:
    la = os.getloadavg()[0]
    t0 = time.time(); n_viol = v.count(); secs.append(round(time.time() - t0, 3))
    loads.append(round(la, 1))
    if la <= guard:
        calm += 1
print(json.dumps({"cpus": cpus, "n_turns": n_turns, "violations": n_viol,
                  "exchanges": plan.count("Exchange"), "iters_sec": secs,
                  "loadavg": loads, "loadavg_guard": guard,
                  "best_sec": min(secs[1:]), "turns_per_sec": int(n_turns / min(secs[1:]))}))
spark.stop()
shutil.rmtree(wh, ignore_errors=True)
"""


def run_scaling(sf_dir: str, n_convs: int) -> dict:
    """Same deterministic input, three pinned parallelism levels, fresh JVM
    each: evidence for the north rule's N→4N ≥0.8 scaling criterion."""
    results = {}
    for cpus, cpuset in SCALE_CORES:
        out = subprocess.run(
            ["taskset", "-c", cpuset, sys.executable, "-c", _WORKER_CODE,
             str(cpus), str(n_convs)],
            capture_output=True,
            text=True,
            timeout=3600,
            env=dict(os.environ, SPARK_DRIVER_MEMORY="16g"),
            cwd=REPO,
        )
        lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
        if not lines:
            raise RuntimeError(f"scale worker cpus={cpus} failed:\n{out.stderr[-2000:]}")
        results[cpus] = json.loads(lines[-1])
    assert all(r["exchanges"] == 0 for r in results.values())
    tp = {c: results[c]["turns_per_sec"] for c, _ in SCALE_CORES}
    eff_2_8 = (tp[8] / tp[2]) / 4
    eff_4_16 = (tp[16] / tp[4]) / 4
    eff_8_32 = (tp[32] / tp[8]) / 4
    summary = {
        "metric": "scaling_efficiency_n_to_4n",
        "value": round(min(eff_2_8, eff_4_16), 3),
        "unit": "ratio",
        "pair": "min of two independent pinned N->4N pairs: local[2]->[8], local[4]->[16]",
        "eff_2_8": round(eff_2_8, 3),
        "eff_4_16": round(eff_4_16, 3),
        "eff_8_32": round(eff_8_32, 3),
        "turns_per_sec": {str(c): tp[c] for c, _ in SCALE_CORES},
        "n_turns": results[8]["n_turns"],
        "violations": results[8]["violations"],
        "cores": {str(c): results[c] for c, _ in SCALE_CORES},
    }
    _write_bench_md(summary)
    return summary


def _write_bench_md(s: dict) -> None:
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    rows = "\n".join(
        f"| local[{c}] pinned to {cs} | {s['cores'][str(c)]['best_sec']} "
        f"| {s['cores'][str(c)]['turns_per_sec']:,} |"
        for c, cs in SCALE_CORES
    )
    with open(path, "w") as f:
        f.write(
            f"""# BENCH — validation throughput + scaling efficiency

North-rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors. No real cluster exists in this sandbox, so the evidence is the same
job on the SAME deterministic input (`synth_transcripts` derives every value
from xxhash64 of stable keys — bit-identical at any parallelism) at pinned
parallelism levels, fresh JVM each, min of 8 iterations (first discarded as
JIT/warmup; min-of-N filters the sandbox VM's noisy-neighbor interference).

Input: {s["n_turns"]:,} turns of synthetic transcripts (seed 42, hot-conv skew
+ injected violations per FIXTURES.md), written as a parquet table
`bucketBy(32, conv_id) sortBy(conv_id, turn_idx)` — the sandbox stand-in for
an Iceberg `bucket(N, conv_id)` table. Workload: fused Pass-B validation
(uniqueness, contiguity ×2, role/tool domains, tool-role rule, not-null) —
**zero-exchange plan** (asserted per run): the bucketed scan satisfies the
windows' clustering requirement, so the only costs are scan + sort + window,
exactly the 10^12-row production shape.

| cores | validate best sec | validation turns/sec |
|---|---|---|
{rows}

**Scaling efficiency N→4N: {s["value"]}** (criterion: >= 0.8; reported as the
MIN of two independent pinned 4× pairs — local[2]→local[8] = {s["eff_2_8"]},
local[4]→local[16] = {s["eff_4_16"]}).

Supplementary: local[8]→local[32] measures {s["eff_8_32"]} on this VM. The
sandbox's 32 vCPUs are shared/oversubscribed, so the top pair reflects host
contention, not the plan — the plan is exchange-free and embarrassingly
parallel over buckets. On a real 4N-executor cluster the scan/sort/window
work partitions across 4× the memory bandwidth and cores with no shared-bus
ceiling. NOTE: even under taskset pinning and min-of-8, window-level host
contention can shift a single level by ±30% between ladders — quote pair
efficiencies together with a repeat run, never a single ladder in isolation.

Raw JSON:

```json
{json.dumps(s, indent=2)}
```
"""
        )


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument(
        "--skew-stress",
        action="store_true",
        help="adversarial-skew evidence (VERDICT r3 #4): fused validation on "
        "uniform vs one-conv-holds-1%% corpora; writes BENCH/SKEW.md",
    )
    ap.add_argument("--n-convs", type=int, default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of headline query names to time "
        "(default: all); e.g. --queries profile,dedup_semantic",
    )
    args = ap.parse_args()

    if args.scaling:
        n = args.n_convs or 1_000_000
        print(json.dumps(run_scaling(args.sf_dir, n)))
    elif args.skew_stress:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(run_skew_stress(cpus, args.n_convs or 200_000)))
    else:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        only = set(args.queries.split(",")) if args.queries else None
        print(json.dumps(run_bench(args.sf_dir, cpus, args.n_convs, only=only)))


if __name__ == "__main__":
    main()

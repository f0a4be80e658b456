"""Production-path benchmark of the validation engine.

Each workload is one closed-loop, single-client batch job: one Python driver
process with Spark ``local[3]`` calls the engine's public functions in the
order ``plans/runner.main`` calls them, with the session built from the
default config. A run measures whole passes of the workload until
``--seconds`` have passed (at least one pass), checks every pass's outputs
and prints one JSON line::

    python3 perfbench/run.py --workload revalidate --seed 1 --seconds 1 --trace 0

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
pass with Spark's event log on and one job group per public call, and
reports the per-layer metrics (see README.md). Inputs come from ``gen.py``
and are cached per seed under ``.perfbench/cache``; outputs go to
``.perfbench/work`` and are removed at the start of the next run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402

BENCH = ROOT / ".perfbench"
CACHE = BENCH / "cache"
WORK = BENCH / "work"
SLOTS = 3
#: day-1 input behind the revalidate baseline: one fixed seed, so the
#: baseline is built once per checkout rather than once per run
BASELINE_SEED = 0
SETUP_REPEATS = 3
#: end-to-end metrics of an untraced run, with their units
E2E_UNITS = {
    "rows_per_s": "rows/s",
    "cpu_s_per_mrow": "s/Mrow",
    "output_bytes_per_row": "B/row",
    "setup_s": "s",
    "ok_frac": "ratio",
}
#: per-layer metrics a traced run measures outside the event log
PROCESS_UNITS = {"process.peak_rss_mb": "MB", "trace.overhead_frac": "ratio"}


def _env() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the engine."""
    tmp = BENCH / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def ensure_input(kind: str, seed: int) -> Path:
    """Generated input ``kind`` for ``seed``, written once by a child process."""
    path = CACHE / f"{kind}-{seed}-v{gen.GEN_VERSION}"
    if not (path / "facts.json").exists():
        subprocess.run(
            [sys.executable, str(HERE / "gen.py"), "--kind", kind, "--seed", str(seed),
             "--out", str(path)],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    return path


def ensure_baseline() -> Path:
    """Day-1 output dir the revalidate workload diffs against, built once per
    checkout by a child process running this engine's ``validate`` pass."""
    path = CACHE / f"baseline-{BASELINE_SEED}-v{gen.GEN_VERSION}"
    if not (path / "DONE").exists():
        ensure_input("clean", BASELINE_SEED)
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--build-baseline", str(path)],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    return path


# ---------------------------------------------------------------------------
# process accounting
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if int(_stat(int(d))[1]) == pid:
                    kids.append(int(d))
            except (OSError, IndexError):
                pass
    return kids + [g for k in kids for g in _descendants(k)]


def cpu_seconds(jvm_pid: int) -> float:
    """CPU time of this driver, the JVM and the JVM's live and reaped
    children (Python workers)."""
    t = os.times()
    total = t.user + t.system
    for pid in [jvm_pid] + _descendants(jvm_pid):
        try:
            s = _stat(pid)
        except OSError:
            continue
        # fields 14-17 of /proc/pid/stat, counted after the ")"
        total += sum(int(x) for x in s[11:15 if pid == jvm_pid else 13]) / _TICK
    return total


def _status(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart VmHWM at the current RSS (best effort: without the right to
    write ``clear_refs`` the peak also covers set-up)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    return sum(_status(pid, "VmHWM") for pid in pids) / 1024


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ---------------------------------------------------------------------------
# the engine, driven the way plans/runner.main drives it
# ---------------------------------------------------------------------------


class Session:
    """The SparkSession ``main()`` builds from the default config, on
    ``local[3]``; times its own set-up."""

    def __init__(self, trace_dir: Path | None):
        t0 = time.perf_counter()
        from schema_infer_plugin_spark.config import load_config
        from schema_infer_plugin_spark.plans import runner
        from schema_infer_plugin_spark.session import get_spark

        t1 = time.perf_counter()
        self.cfg = load_config(None, env={})
        self.cfg.performance.master = f"local[{SLOTS}]"
        extra = {
            "spark.sql.adaptive.enabled": str(self.cfg.performance.aqe).lower(),
            "spark.sql.files.maxPartitionBytes": self.cfg.performance.max_partition_bytes,
        }
        if trace_dir is not None:
            trace_dir.mkdir(parents=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": trace_dir.as_uri(),
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name="validate-bench",
            master=self.cfg.performance.master,
            shuffle_partitions=self.cfg.performance.shuffle_partitions,
            extra_conf=extra,
        )
        t2 = time.perf_counter()
        self.runner = runner
        self.setup = {"imports": t1 - t0, "session.get_spark": t2 - t1}
        self.jvm = self.spark.sparkContext._gateway.proc
        self.trace = trace_dir is not None
        self.spans: list[tuple[str, float]] = []

    def call(self, span: str, fn, *args, **kwargs):
        """One public call, timed; in traced mode inside its own job group."""
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobGroup(span, span)
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        self.spans.append((span, time.perf_counter() - t0))
        if self.trace:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out

    def stop(self) -> None:
        """Stop Spark and wait for the JVM and anything it started to exit."""
        from pyspark import SparkContext

        workers = _descendants(self.jvm.pid)
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        # Python workers outlive the JVM by a moment; they are not our
        # children, so poll until they are gone
        deadline = time.monotonic() + 10
        while (left := [p for p in workers if os.path.exists(f"/proc/{p}")]) and (
            time.monotonic() < deadline
        ):
            time.sleep(0.2)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def resolve(s: Session, table: Path):
    """``resolve_transcripts_input`` as main() calls it, with its bucket-count
    guard."""
    n_buckets = s.cfg.validation.n_buckets
    t, bucket_rows = s.runner.resolve_transcripts_input(s.spark, f"bucketed:{table}", n_buckets)
    if bucket_rows is not None and set(bucket_rows) != {str(i) for i in range(n_buckets)}:
        bucket_rows = None
    return t, bucket_rows


def validate_pass(s: Session, t, bucket_rows, out: str, options: bool, baseline: str | None):
    """The calls main() makes for one run, in its order. ``options`` turns
    on every check main() can enable from config."""
    r, v = s.runner, s.cfg.validation
    s.call("plans.runner.run_profile", r.run_profile, s.spark, t, out, run_id="bench")
    s.call("plans.runner.write_histograms", r.write_histograms, s.spark, t, out)
    s.call(
        "plans.runner.run_validation", r.run_validation, s.spark, t, out, run_id="bench",
        n_buckets=v.n_buckets, batch_buckets=v.batch_buckets, bucket_rows=bucket_rows,
        custom_rules=gen.CUSTOM_RULES if options else [],
        boundary_roles=(gen.BOUNDARY_FIRST, gen.BOUNDARY_LAST) if options else None,
        allowed_transitions=gen.ALLOWED_TRANSITIONS if options else None,
    )
    s.call("plans.runner.write_triage", r.write_triage, s.spark, out, k=100, run_id="bench")
    s.call("plans.runner.write_scorecard", r.write_scorecard, s.spark, out, run_id="bench")
    if baseline is None:
        return
    # main() collects each verdict frame into its summary
    s.call(
        "plans.runner.run_drift",
        lambda: r.run_drift(
            s.spark, t, out, baseline, run_id="bench", psi_threshold=v.psi_threshold
        ).collect(),
    )
    for name in ("run_schema_evolution", "run_profile_compare", "run_violations_diff"):
        fn = getattr(r, name)
        s.call(f"plans.runner.{name}", lambda: fn(s.spark, out, baseline, run_id="bench").collect())


def curate_pass(s: Session, docs, out: str) -> None:
    """The corpus-dedup funnel; each returned DataFrame is written, as a
    staged pipeline would."""
    from schema_infer_plugin_spark.datapipe.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash,
        simhash_candidate_pairs,
    )
    from schema_infer_plugin_spark.datapipe.graph import dedup_impact_report
    from schema_infer_plugin_spark.datapipe.pipeline import clean_corpus

    def write(df, name):
        df.write.parquet(os.path.join(out, name))

    s.call(
        "datapipe.pipeline.clean_corpus",
        lambda: write(clean_corpus(docs, "doc_id", "text", persist_intermediate=True), "clean"),
    )
    s.call(
        "datapipe.dedup.simhash_candidate_pairs",
        lambda: write(
            simhash_candidate_pairs(simhash(docs, "doc_id", "text"), "doc_id"), "simhash_pairs"
        ),
    )
    s.call(
        "datapipe.dedup.lsh_candidate_pairs",
        lambda: write(
            lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"), "doc_id"), "lsh_pairs"
        ),
    )
    pairs = s.spark.read.parquet(os.path.join(out, "lsh_pairs"))
    s.call(
        "datapipe.graph.dedup_impact_report",
        lambda: write(dedup_impact_report(docs, pairs), "impact"),
    )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Inputs, set-up and one pass of a workload, plus its checks."""

    def __init__(self, name: str, seed: int):
        self.name = name
        if name == "curate":
            self.input = ensure_input("docs", seed)
        else:
            self.input = ensure_input("clean" if name == "validate" else "dirty", seed)
        self.baseline = ensure_baseline() if name == "revalidate" else None
        self.facts = json.loads((self.input / "facts.json").read_text())
        self.rows = self.facts["rows"]

    def load(self, s: Session):
        if self.name == "curate":
            return s.spark.read.parquet(str(self.input / "docs.parquet"))
        return resolve(s, self.input / "table")

    def run(self, s: Session, loaded, out: Path) -> None:
        if self.name == "curate":
            curate_pass(s, loaded, str(out))
        else:
            t, bucket_rows = loaded
            validate_pass(
                s, t, bucket_rows, str(out), options=self.name == "revalidate",
                baseline=str(self.baseline) if self.baseline else None,
            )

    def expected(self):
        import oracle

        if self.name == "curate":
            return None
        want = oracle.expected_violations(str(self.input / "table"), self.name == "revalidate")
        return want, str(self.baseline) if self.baseline else None

    def check(self, out: Path, expected) -> dict:
        import oracle

        if self.name == "curate":
            return oracle.check_curate(str(out), str(self.input / "docs.parquet"), self.facts)
        return oracle.check_validation(str(out), *expected)


def build_baseline(path: Path) -> None:
    """Child process: this engine's validate pass over the day-1 input."""
    _env()
    table = CACHE / f"clean-{BASELINE_SEED}-v{gen.GEN_VERSION}" / "table"
    shutil.rmtree(path, ignore_errors=True)
    s = Session(None)
    try:
        t, bucket_rows = resolve(s, table)
        validate_pass(s, t, bucket_rows, str(path), options=False, baseline=None)
    finally:
        s.stop()
    (path / "DONE").write_text("ok\n")


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    _env()
    shutil.rmtree(WORK, ignore_errors=True)
    WORK.mkdir(parents=True)
    phases = {"start": time.perf_counter()}
    w = Workload(workload, seed)
    phases["inputs"] = time.perf_counter()

    s = Session(WORK / "eventlog" if trace else None)
    try:
        loads = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            loaded = w.load(s)
            loads.append(time.perf_counter() - t0)
        setup_s = s.setup["imports"] + s.setup["session.get_spark"] + statistics.median(loads)

        pids = [os.getpid(), s.jvm.pid]
        reset_peak_rss(pids)
        cpu0 = cpu_seconds(s.jvm.pid)
        passes: list[tuple[Path, float, int]] = []
        started = time.perf_counter()
        # a traced run makes one pass, so the event log holds one pass per span
        while not passes or (not trace and time.perf_counter() - started < seconds):
            out = WORK / f"pass{len(passes)}"
            n_spans = len(s.spans)
            t0 = time.perf_counter()
            try:
                w.run(s, loaded, out)
                wall = sum(d for _, d in s.spans[n_spans:])
            except Exception as e:  # a failed call counts against ok_frac
                print(f"pass {len(passes)} failed: {e!r}", file=sys.stderr)
                wall = time.perf_counter() - t0
            passes.append((out, wall, n_spans))
        cpu_s = cpu_seconds(s.jvm.pid) - cpu0
        peak = peak_rss_mb(pids)
        phases["passes"] = time.perf_counter()
    finally:
        s.stop()
    phases["stop"] = time.perf_counter()

    expected = w.expected()
    attempted = failed = 0
    names = SPANS[workload]
    for out, _, first in passes:
        called = [name for name, _ in s.spans[first : first + len(names)]]
        try:
            res = w.check(out, expected)
        except Exception as e:
            res = {name: f"check failed: {e!r}" for name in names}
        for name in names:
            attempted += 1
            err = res.get(name) if name in called else "not called"
            if err:
                failed += 1
                print(f"{name}: {err}", file=sys.stderr)

    phases["checks"] = time.perf_counter()
    marks = list(phases.values())
    print(json.dumps({
        "phases_s": {k: b - a for k, a, b in zip(list(phases)[1:], marks, marks[1:])},
        "setup": s.setup, "loads": loads, "spans": s.spans,
    }), file=sys.stderr)
    wall = sum(d for _, d, _ in passes)
    rows = w.rows * len(passes)
    rows_per_s = rows / wall
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
    if not trace:
        values = {
            "rows_per_s": rows_per_s,
            "cpu_s_per_mrow": cpu_s / (rows / 1e6),
            "output_bytes_per_row": statistics.median(dir_bytes(o) for o, _, _ in passes) / w.rows,
            "setup_s": setup_s,
            "ok_frac": (attempted - failed) / attempted,
        }
        result["metrics"] = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
        _record_untraced(workload, rows_per_s)
    else:
        import eventlog

        out = passes[0][0]
        pair_dirs = {"simhash_candidate_pairs": "simhash_pairs", "lsh_candidate_pairs": "lsh_pairs"}
        pair_rows = {
            f"datapipe.dedup.{n}": _parquet_rows(out / d)
            for n, d in pair_dirs.items()
            if (out / d).exists()
        }
        setup = {"session.get_spark": s.setup["session.get_spark"]}
        if workload != "curate":
            setup["plans.runner.resolve_transcripts_input"] = statistics.median(loads)
        metrics = eventlog.layer_metrics(
            eventlog.read_events(str(WORK / "eventlog")),
            dict(s.spans), setup, w.rows, pair_rows, ALL_SPANS, SLOTS,
        )
        values = {
            "process.peak_rss_mb": peak,
            "trace.overhead_frac": _overhead(workload, seed, rows_per_s),
        }
        metrics.update({k: {"value": v, "unit": PROCESS_UNITS[k]} for k, v in values.items()})
        result["metrics"] = metrics
    shutil.rmtree(WORK, ignore_errors=True)
    return result


def _parquet_rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in path.glob("*.parquet"))


_VALIDATE_SPANS = [
    "plans.runner.run_profile",
    "plans.runner.write_histograms",
    "plans.runner.run_validation",
    "plans.runner.write_triage",
    "plans.runner.write_scorecard",
]
#: public calls of one pass of each workload, in call order
SPANS = {
    "validate": _VALIDATE_SPANS,
    "revalidate": _VALIDATE_SPANS + [
        "plans.runner.run_drift",
        "plans.runner.run_schema_evolution",
        "plans.runner.run_profile_compare",
        "plans.runner.run_violations_diff",
    ],
    "curate": [
        "datapipe.pipeline.clean_corpus",
        "datapipe.dedup.simhash_candidate_pairs",
        "datapipe.dedup.lsh_candidate_pairs",
        "datapipe.graph.dedup_impact_report",
    ],
}
ALL_SPANS = SPANS["revalidate"] + SPANS["curate"]


def _record_untraced(workload: str, rows_per_s: float) -> None:
    path = CACHE / f"untraced-{workload}-v{gen.GEN_VERSION}.jsonl"
    with open(path, "a") as f:
        f.write(json.dumps({"rows_per_s": rows_per_s}) + "\n")


def _overhead(workload: str, seed: int, traced_rps: float) -> float:
    """1 - traced / untraced rows_per_s; the untraced figure is the median of
    this checkout's untraced runs, or one untraced run made now."""
    path = CACHE / f"untraced-{workload}-v{gen.GEN_VERSION}.jsonl"
    if not path.exists():
        subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
             "--seconds", "1", "--trace", "0"],
            check=True, stdout=subprocess.DEVNULL, timeout=170,
        )
    vals = [json.loads(line)["rows_per_s"] for line in path.read_text().splitlines()]
    return 1.0 - traced_rps / statistics.median(vals)


def main() -> None:
    ap = argparse.ArgumentParser(description="production-path benchmark")
    ap.add_argument("--workload", choices=sorted(SPANS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--build-baseline", help=argparse.SUPPRESS)
    a = ap.parse_args()
    if a.build_baseline:
        build_baseline(Path(a.build_baseline))
        return
    if a.workload is None:
        ap.error("--workload is required")
    print(json.dumps(run(a.workload, a.seed, a.seconds, bool(a.trace))))


if __name__ == "__main__":
    main()

"""Correctness checks behind ``ok_frac``.

Every expected value is computed here, independently of the engine: with
DuckDB over the generated input, with NumPy where DuckDB lacks the function,
or from facts the generator planted (``facts.json``). Nothing is a golden
output recorded from an earlier engine run.

Each ``check_*`` function takes the output dir of one workload pass and
returns ``{span_name: error or None}``; a span passes when its entry is None.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import duckdb
import numpy as np

from gen import ALLOWED_TRANSITIONS, BOUNDARY_FIRST, BOUNDARY_LAST, CUSTOM_RULES

ROLE_DOMAIN = ("user", "assistant", "system", "tool")
TOOL_DOMAIN = ("search", "code", "browser", "calc")
PROFILE_COLS = ("conv_id", "turn_idx", "role", "text", "tool")
N_BUCKETS = 64
TRIAGE_K = 100


def _in(values) -> str:
    return "(" + ",".join(f"'{v}'" for v in values) + ")"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 2")
    return con


def _one(con, sql: str) -> int:
    return int(con.execute(sql).fetchone()[0] or 0)


def expected_violations(table_dir: str, options: bool) -> dict[str, int]:
    """Violation rows per check that run_validation must write for the
    transcripts under ``table_dir``; ``options`` adds the boundary, transition
    whitelist and custom-rule checks the revalidate workload enables."""
    con = _connect()
    con.execute(
        "CREATE VIEW t AS SELECT conv_id, turn_idx, role, text, tool, ts FROM"
        f" read_parquet('{table_dir}/*/*.parquet', hive_partitioning = false)"
    )
    con.execute(
        "CREATE VIEW k AS SELECT * FROM t WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL"
    )
    sql = {
        "uniqueness": "SELECT count(*) FROM (SELECT 1 FROM k GROUP BY conv_id, turn_idx"
        " HAVING count(*) > 1)",
        "contiguity": "SELECT count(*) FROM (SELECT turn_idx, lag(turn_idx) OVER"
        " (PARTITION BY conv_id ORDER BY turn_idx) AS p FROM (SELECT DISTINCT conv_id,"
        " turn_idx FROM k)) WHERE p IS NOT NULL AND turn_idx <> p + 1",
        "contiguity_start": "SELECT count(*) FROM (SELECT min(turn_idx) AS m FROM k"
        " GROUP BY conv_id) WHERE m <> 0",
        "ts_monotonic": "SELECT count(*) FROM (SELECT ts, lag(ts) OVER (PARTITION BY"
        " conv_id ORDER BY turn_idx, ts NULLS FIRST) AS p FROM k) WHERE ts < p",
        "domain_role": f"SELECT count(*) FROM t WHERE role NOT IN {_in(ROLE_DOMAIN)}",
        "domain_tool": f"SELECT count(*) FROM t WHERE tool NOT IN {_in(TOOL_DOMAIN)}",
        "tool_without_role": "SELECT count(*) FROM t WHERE tool IS NOT NULL AND"
        " coalesce(role, '') <> 'tool'",
        "not_null_text": "SELECT count(*) FROM t WHERE text IS NULL",
        "not_null_conv_id": "SELECT count(*) FROM t WHERE conv_id IS NULL",
        "not_null_turn_idx": "SELECT count(*) FROM t WHERE turn_idx IS NULL",
    }
    if options:
        ends = (
            "SELECT role, row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx ASC,"
            " ts ASC NULLS FIRST, role ASC NULLS FIRST) AS rf, row_number() OVER"
            " (PARTITION BY conv_id ORDER BY turn_idx DESC, ts DESC NULLS LAST,"
            " role DESC NULLS LAST) AS rl FROM k"
        )
        sql["conv_start_role"] = (
            f"SELECT count(*) FROM ({ends}) WHERE rf = 1 AND"
            f" NOT coalesce(role IN {_in(BOUNDARY_FIRST)}, false)"
        )
        sql["conv_end_role"] = (
            f"SELECT count(*) FROM ({ends}) WHERE rl = 1 AND"
            f" NOT coalesce(role IN {_in(BOUNDARY_LAST)}, false)"
        )
        sql["role_transition_domain"] = (
            "SELECT count(*) FROM (SELECT role, lag(role) OVER (PARTITION BY conv_id"
            " ORDER BY turn_idx ASC, ts ASC NULLS FIRST, role ASC NULLS FIRST) AS p"
            " FROM k) WHERE role IS NOT NULL AND p IS NOT NULL AND"
            f" p || '->' || role NOT IN {_in(ALLOWED_TRANSITIONS)}"
        )
        for name, pred, *_ in CUSTOM_RULES:
            sql[name] = f"SELECT count(*) FROM t WHERE NOT coalesce({pred}, false)"
    out = {name: _one(con, q) for name, q in sql.items()}
    out["__rows__"] = _one(con, "SELECT count(*) FROM t")
    con.close()
    return out


def _column(con, sql: str) -> list:
    return [r[0] for r in con.execute(sql).fetchall()]


def _counts(con, sql: str) -> dict[str, int]:
    return {r[0]: int(r[1]) for r in con.execute(sql).fetchall()}


def _diff(name: str, got: dict, want: dict) -> str | None:
    keys = sorted(set(got) | set(want))
    bad = [
        f"{k}: {got.get(k, 0)} != {want.get(k, 0)}"
        for k in keys
        if got.get(k, 0) != want.get(k, 0)
    ]
    return f"{name}: " + "; ".join(bad) if bad else None


def check_validation(out: str, want: dict[str, int], baseline_dir: str | None) -> dict:
    """Checks of one validate/revalidate pass written under ``out``;
    ``baseline_dir`` is the day-1 output a revalidate pass diffs against."""
    con = _connect()
    p = lambda sub: f"read_parquet('{os.path.join(out, sub)}/**/*.parquet')"  # noqa: E731
    rows = want["__rows__"]
    checks = [c for c in want if c != "__rows__"]
    nonzero = {c: n for c, n in want.items() if c != "__rows__" and n}
    res: dict[str, str | None] = {}

    prof = con.execute(f"SELECT \"column\", total_count FROM {p('profiles')}").fetchall()
    res["plans.runner.run_profile"] = (
        None
        if sorted(c for c, _ in prof) == sorted(PROFILE_COLS) and all(n == rows for _, n in prof)
        else f"profile rows {prof} vs {rows} input rows"
    )

    hist = _counts(
        con,
        f"SELECT \"column\", sum(cnt) FROM {p('histograms')} WHERE \"column\" IN ('role', 'tool')"
        " GROUP BY 1",
    )
    res["plans.runner.write_histograms"] = _diff(
        "histogram totals", hist, {"role": rows, "tool": rows}
    )

    viol = _counts(con, f"SELECT check_name, count(*) FROM {p('violations')} GROUP BY 1")
    ledger = _one(
        con,
        f"SELECT sum(rows_processed) FROM {p('ledger')} WHERE pass_name = 'validate'",
    )
    grid = _one(con, f"SELECT count(*) FROM {p('verdicts')}")
    errs = [e for e in [_diff("violations", viol, nonzero)] if e]
    if ledger != rows:
        errs.append(f"ledger rows_processed {ledger} != {rows}")
    if grid != N_BUCKETS * len(checks):
        errs.append(f"verdict grid {grid} != {N_BUCKETS} x {len(checks)}")
    res["plans.runner.run_validation"] = "; ".join(errs) or None

    triage = _counts(con, f"SELECT check_name, count(*) FROM {p('violations_triage')} GROUP BY 1")
    res["plans.runner.write_triage"] = _diff(
        "triage rows", triage, {c: min(n, TRIAGE_K) for c, n in nonzero.items()}
    )
    total = _one(
        con, f"SELECT n_violations FROM {p('scorecard')} WHERE check_name = '__all__'"
    )
    want_total = sum(nonzero.values())
    res["plans.runner.write_scorecard"] = (
        None if total == want_total else f"scorecard total {total} != {want_total}"
    )

    if baseline_dir is not None:
        drift = sorted(_column(con, f"SELECT check_name FROM {p('drift_verdicts')}"))
        want_drift = ["drift_role", "drift_tool", "drift_transitions", "ks_turn_idx"]
        res["plans.runner.run_drift"] = None if drift == want_drift else f"drift checks {drift}"
        evo = _one(con, f"SELECT count(*) FROM {p('evolution_verdicts')}")
        res["plans.runner.run_schema_evolution"] = None if evo >= 1 else "no evolution verdict"
        cmp_cols = sorted(_column(con, f"SELECT col_name FROM {p('profile_diff_verdicts')}"))
        res["plans.runner.run_profile_compare"] = (
            None if cmp_cols == sorted(PROFILE_COLS) else f"profile diff columns {cmp_cols}"
        )
        # the diff keys violations by identity, so it counts distinct
        # identities of the two written violation sets
        ident = "check_name, conv_id, turn_idx, \"column\", observed"
        base_v = f"read_parquet('{os.path.join(baseline_dir, 'violations')}/**/*.parquet')"
        want_diff = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                f"WITH c AS (SELECT DISTINCT {ident} FROM {p('violations')}),"
                f" b AS (SELECT DISTINCT {ident} FROM {base_v}),"
                " u AS (SELECT *, 1 AS ic, 0 AS ib FROM c UNION ALL SELECT *, 0, 1 FROM b),"
                f" g AS (SELECT check_name, max(ic) AS ic, max(ib) AS ib FROM u GROUP BY {ident})"
                " SELECT check_name, sum(ic), sum(ib), sum(ic * (1 - ib)), sum(ib * (1 - ic))"
                " FROM g GROUP BY 1"
            ).fetchall()
        }
        got_diff = {
            r[0]: tuple(r[1:])
            for r in con.execute(
                "SELECT check_name, n_current, n_baseline, n_new, n_resolved FROM"
                f" {p('violations_diff_verdicts')}"
            ).fetchall()
        }
        res["plans.runner.run_violations_diff"] = _diff("violations diff", got_diff, want_diff)
    con.close()
    return res


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

MINHASH_P = (1 << 31) - 1
NUM_HASHES = 16
BANDS = 4
SHINGLE_K = 3
MIN_EST_JACCARD = 0.5


def _signature(text: str) -> np.ndarray:
    """MinHash signature as the engine documents it: md5 per distinct word
    3-shingle, h1/h2 = first/second 8 hex digits mod P, sig[i] = min over
    shingles of (h1 + i*h2) mod P."""
    toks = text.split()
    n = max(len(toks) - SHINGLE_K + 1, 1)
    shingles = {" ".join(toks[i : i + SHINGLE_K]) for i in range(n)}
    h = np.array(
        [
            (int(m[:8], 16) % MINHASH_P, int(m[8:16], 16) % MINHASH_P)
            for m in (hashlib.md5(s.encode()).hexdigest() for s in shingles)
        ],
        dtype=np.int64,
    )
    i = np.arange(NUM_HASHES, dtype=np.int64)
    return ((h[:, :1] + i[None, :] * h[:, 1:]) % MINHASH_P).min(axis=0)


def lsh_pairs(ids: list[int], texts: list[str]) -> set[tuple[int, int]]:
    """Banded-LSH candidate pairs with est. Jaccard >= 0.5, id_a < id_b."""
    sigs = {i: _signature(t) for i, t in zip(ids, texts)}
    rows = NUM_HASHES // BANDS
    buckets: dict[tuple[int, str], list[int]] = {}
    for i, s in sigs.items():
        for b in range(BANDS):
            key = "|".join(str(v) for v in s[b * rows : (b + 1) * rows])
            buckets.setdefault((b, hashlib.md5(key.encode()).hexdigest()), []).append(i)
    pairs = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                if (sigs[a] == sigs[b]).mean() >= MIN_EST_JACCARD:
                    pairs.add((a, b))
    return pairs


def cluster_histogram(n_docs: int, ids: list[int], pairs: set[tuple[int, int]]) -> dict[int, int]:
    """cluster_size -> n_clusters for the components of ``pairs`` over all
    ``ids`` (union-find; singletons count as size-1 clusters)."""
    parent = {i: i for i in ids}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    sizes = Counter(find(i) for i in ids)
    assert sum(sizes.values()) == n_docs
    return dict(Counter(sizes.values()))


def check_curate(out: str, docs_path: str, facts: dict) -> dict:
    """Checks of one curate pass written under ``out``."""
    con = _connect()
    p = lambda sub: f"read_parquet('{os.path.join(out, sub)}/*.parquet')"  # noqa: E731
    res: dict[str, str | None] = {}
    n = facts["rows"]
    copy_ids = [c for _, c in facts["copies"]]

    kept = set(_column(con, f"SELECT doc_id FROM {p('clean')}"))
    n_kept, n_md5 = con.execute(
        f"SELECT count(*), count(DISTINCT md5(text)) FROM {p('clean')}"
    ).fetchone()
    errs = []
    if kept & set(copy_ids):
        errs.append(f"{len(kept & set(copy_ids))} planted exact copies survived")
    if n_md5 != n_kept:
        errs.append(f"{n_kept - n_md5} survivors share an md5")
    if not kept <= set(range(n)):
        errs.append("survivor ids outside the corpus")
    res["datapipe.pipeline.clean_corpus"] = "; ".join(errs) or None

    copy_pairs = {tuple(sorted(c)) for c in facts["copies"]}
    sim = con.execute(f"SELECT id_a, id_b, hamming FROM {p('simhash_pairs')}").fetchall()
    sim_pairs = {(a, b) for a, b, _ in sim}
    errs = []
    if any(a >= b or h > 3 for a, b, h in sim):
        errs.append("simhash pair with id_a >= id_b or hamming > 3")
    if not copy_pairs <= sim_pairs:
        errs.append(f"{len(copy_pairs - sim_pairs)} exact-copy pairs missing")
    res["datapipe.dedup.simhash_candidate_pairs"] = "; ".join(errs) or None

    docs = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{docs_path}') ORDER BY doc_id"
    ).fetchall()
    ids = [d for d, _ in docs]
    want_pairs = lsh_pairs(ids, [t for _, t in docs])
    got_pairs = set(con.execute(f"SELECT id_a, id_b FROM {p('lsh_pairs')}").fetchall())
    errs = []
    if got_pairs != want_pairs:
        extra, missing = len(got_pairs - want_pairs), len(want_pairs - got_pairs)
        errs.append(f"lsh pairs: {extra} unexpected, {missing} missing")
    if not copy_pairs <= got_pairs:
        errs.append(f"{len(copy_pairs - got_pairs)} exact-copy pairs missing")
    res["datapipe.dedup.lsh_candidate_pairs"] = "; ".join(errs) or None

    rep = con.execute(f"SELECT cluster_size, n_clusters, n_docs FROM {p('impact')}").fetchall()
    errs = []
    if sum(r[2] for r in rep) != n:
        errs.append(f"sum(n_docs) {sum(r[2] for r in rep)} != {n}")
    want_hist = cluster_histogram(n, ids, want_pairs)
    if {r[0]: r[1] for r in rep} != want_hist:
        errs.append("cluster-size histogram differs from the components of the expected pairs")
    res["datapipe.graph.dedup_impact_report"] = "; ".join(errs) or None
    con.close()
    return res

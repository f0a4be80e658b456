"""Seeded input generators for the benchmark.

Three inputs, each a pure function of ``(kind, seed)``:

* ``clean``  -- day-1 transcripts: geometric turn counts (mean 8, cap 256),
  0.1% hot conversations at 10-100x, an assistant-heavy tail (the last 5% of
  conversations repeat assistant turns), and about 1e-3 injected defects.
* ``dirty``  -- day-2 transcripts from another seed: the same shape, drifted
  (assistant-heavy everywhere, conversations that end on a user turn, long
  texts) and with ten times the defect rate.
* ``docs``   -- a documents corpus: 40-token docs with a stopword every 7th
  token, 5% exact copies and 5% seeds of 4-member near-duplicate chains in
  which member j rewrites the first j tokens of the seed.

Transcripts are written in the engine's bucketed layout
(``partition_key=<pmod(xxhash64(conv_id), 64)>/`` plus the
``_bucket_scheme.json`` sidecar). The hash is re-implemented here with NumPy
so that generating an input never starts a JVM;
``tests/test_perfbench_gen.py`` pins it to Spark's ``xxhash64``.

Run as a script to write one input; ``run.py`` does so in a child process
and caches the result per seed::

    python3 perfbench/gen.py --kind clean --seed 7 --out .perfbench/cache/clean-7
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator's output changes, so stale cache entries are not used
GEN_VERSION = 5

#: conversations per transcripts input, documents per corpus
N_CONVS = 12_000
N_DOCS = 5_000

N_BUCKETS = 64
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
USER, ASSISTANT, SYSTEM, TOOL = range(4)
TOOLS = np.array(["search", "code", "browser", "calc"], dtype=object)
TS0 = np.datetime64("2026-01-01T00:00:00", "us")

#: the checks run_validation can enable from config, as the revalidate
#: workload enables them (prev->next whitelist, boundary roles, custom rules)
ALLOWED_TRANSITIONS = [
    "user->assistant",
    "assistant->user",
    "assistant->tool",
    "tool->assistant",
    "system->user",
]
BOUNDARY_FIRST = ["system", "user"]
BOUNDARY_LAST = ["assistant", "tool"]
#: (name, predicate, column, observed, expected); the predicates are written
#: in the SQL subset Spark and DuckDB share, so oracle.py evaluates them as is
CUSTOM_RULES = [
    ["text_max_len", "length(text) <= 320", "text", "length(text)", "<= 320 chars"],
    ["turn_idx_cap", "turn_idx < 200", "turn_idx", "turn_idx", "< 200"],
]

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for"]
DOC_TOKENS = 40
CHAIN_LEN = 4

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64(strings: list[str], seed: int = 42) -> np.ndarray:
    """XXH64 of each UTF-8 string, as Spark's ``xxhash64`` computes it
    (seed 42), for strings shorter than 32 bytes. Returns int64."""
    out = np.empty(len(strings), dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    raw = [s.encode() for s in strings]
    for i, b in enumerate(raw):
        if len(b) >= 32:
            raise ValueError(f"xxhash64: {len(b)}-byte key; only < 32 bytes supported")
        by_len.setdefault(len(b), []).append(i)
    with np.errstate(over="ignore"):
        for n, idx in by_len.items():
            buf = np.frombuffer(b"".join(raw[i] for i in idx), dtype=np.uint8).reshape(
                len(idx), n
            )
            h = np.full(len(idx), np.uint64(seed) + _P5, dtype=np.uint64) + np.uint64(n)
            off = 0
            while off + 8 <= n:
                k1 = buf[:, off : off + 8].copy().view("<u8").ravel()
                h ^= _rotl(k1 * _P2, 31) * _P1
                h = _rotl(h, 27) * _P1 + _P4
                off += 8
            if off + 4 <= n:
                k = buf[:, off : off + 4].copy().view("<u4").ravel().astype(np.uint64)
                h ^= k * _P1
                h = _rotl(h, 23) * _P2 + _P3
                off += 4
            while off < n:
                h ^= buf[:, off].astype(np.uint64) * _P5
                h = _rotl(h, 11) * _P1
                off += 1
            h ^= h >> np.uint64(33)
            h *= _P2
            h ^= h >> np.uint64(29)
            h *= _P3
            h ^= h >> np.uint64(32)
            out[idx] = h.view(np.int64)
    return out


def bucket_of(conv_ids: list[str], n_buckets: int = N_BUCKETS) -> np.ndarray:
    """``pmod(xxhash64(conv_id), n_buckets)``, the engine's bucket transform."""
    return np.mod(xxhash64(conv_ids), n_buckets)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words = {"".join(rng.choice(letters, size=k)) for k in lens}
    words -= set(STOPWORDS)
    return np.array(sorted(words), dtype=object)


def _roles(rng: np.random.Generator, lengths: np.ndarray, p_aa: np.ndarray) -> np.ndarray:
    """Role sequences as a Markov chain, stepped across all conversations at
    once. ``p_aa``: per-conversation chance that an assistant turn is followed
    by another assistant turn."""
    n_conv = len(lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    roles = np.empty(int(lengths.sum()), dtype=np.int8)
    prev = np.where(rng.random(n_conv) < 0.3, SYSTEM, USER).astype(np.int8)
    roles[starts] = prev
    for t in range(1, int(lengths.max())):
        live = np.flatnonzero(lengths > t)
        p = prev[live]
        u = rng.random(len(live))
        nxt = np.full(len(live), ASSISTANT, dtype=np.int8)
        after_a = p == ASSISTANT
        nxt[after_a] = np.where(
            u[after_a] < p_aa[live][after_a],
            ASSISTANT,
            np.where(u[after_a] < p_aa[live][after_a] + 0.2, TOOL, USER),
        )
        prev[live] = nxt
        roles[starts[live] + t] = nxt
    return roles


def transcripts(seed: int, dirty: bool, n_convs: int = N_CONVS) -> tuple[pa.Table, dict]:
    """One transcripts table plus the facts it was built with."""
    rng = np.random.default_rng([seed, 2 if dirty else 1])
    lengths = np.minimum(rng.geometric(1 / 8, size=n_convs), 256)
    # a fixed 0.1% of conversations are hot, at 10-100x the mean length, so
    # the table's size barely moves with the seed
    hot = rng.choice(n_convs, size=max(1, n_convs // 1000), replace=False)
    lengths[hot] = 8 * rng.permutation(np.linspace(10, 100, len(hot)).astype(int))
    n = int(lengths.sum())

    tail = np.arange(n_convs) >= int(n_convs * 0.95)
    p_aa = np.where(tail, 0.3, 0.0)
    if dirty:
        p_aa = np.where(tail, 0.5, 0.15)
    roles = _roles(rng, lengths, p_aa)
    if dirty:
        # truncated ingest: a fifth of the conversations end on a user turn
        ends = np.cumsum(lengths) - 1
        cut = ends[rng.random(n_convs) < 0.2]
        roles[cut] = USER

    conv_idx = np.repeat(np.arange(n_convs), lengths)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    turn_idx = np.arange(n) - np.repeat(starts, lengths)
    conv_off = rng.integers(0, 86_400 * 30, size=n_convs)
    step = rng.integers(1, 120, size=n)
    first = np.zeros(n, dtype=bool)
    first[starts] = True
    cum = np.cumsum(np.where(first, 0, step))
    ts_sec = np.repeat(conv_off, lengths) + cum - np.repeat(cum[starts], lengths)

    vocab = _vocab(rng, 4000)
    pool_n = 20_000
    pool_len = np.minimum(np.ceil(rng.lognormal(2.3, 0.8 if not dirty else 1.0, pool_n)), 300)
    pool = np.array(
        [" ".join(rng.choice(vocab, size=int(k))) for k in pool_len], dtype=object
    )
    text = pool[rng.integers(0, pool_n, size=n)]
    tool = np.full(n, None, dtype=object)
    is_tool = roles == TOOL
    tool[is_tool] = TOOLS[rng.integers(0, 4, size=int(is_tool.sum()))]

    conv_id = np.array([f"conv_{seed % 1000:03d}_{i:07d}" for i in range(n_convs)], dtype=object)
    cid = conv_id[conv_idx]
    tidx = turn_idx.astype(object)
    role_s = ROLES[roles].astype(object)
    ts = TS0 + ts_sec.astype("timedelta64[s]")

    # defects: each touches one row, chosen without replacement
    rate = 1e-2 if dirty else 1e-3
    kinds = [
        "dup",
        "gap",
        "bad_role",
        "stray_tool",
        "bad_tool",
        "null_text",
        "null_conv",
        "null_turn",
        "ts_back",
    ]
    n_def = max(len(kinds), int(n * rate))
    victims = rng.choice(n, size=n_def, replace=False)
    kind_of = np.arange(n_def) % len(kinds)
    planted = {k: 0 for k in kinds}
    ts_arr = ts.astype(object)
    dup_rows = []
    for v, k in zip(victims.tolist(), kind_of.tolist()):
        kind = kinds[k]
        planted[kind] += 1
        if kind == "dup":
            dup_rows.append(v)
        elif kind == "gap":
            tidx[v] += 1
        elif kind == "bad_role":
            role_s[v] = "moderator"
        elif kind == "stray_tool":
            tool[v] = "search"
        elif kind == "bad_tool":
            tool[v] = "shell"
        elif kind == "null_text":
            text[v] = None
        elif kind == "null_conv":
            cid[v] = None
        elif kind == "null_turn":
            tidx[v] = None
        elif kind == "ts_back":
            ts_arr[v] -= timedelta(hours=1)

    order = np.concatenate([np.arange(n), np.array(dup_rows, dtype=np.int64)])
    table = pa.table(
        {
            "conv_id": pa.array(cid[order].tolist(), pa.string()),
            "turn_idx": pa.array(tidx[order].tolist(), pa.int32()),
            "role": pa.array(role_s[order].tolist(), pa.string()),
            "text": pa.array(text[order].tolist(), pa.string()),
            "tool": pa.array(tool[order].tolist(), pa.string()),
            "ts": pa.array(ts_arr[order].tolist(), pa.timestamp("us", tz="UTC")),
        }
    )
    facts = {"rows": table.num_rows, "convs": n_convs, "planted": planted}
    return table, facts


def write_bucketed(table: pa.Table, out: str, n_buckets: int = N_BUCKETS) -> None:
    """Write ``table`` as ``out/partition_key=<k>/part-0.parquet`` plus the
    bucket-scheme sidecar, as the engine's ``write_bucketed`` lays it out.
    Spark's ``xxhash64`` of a NULL is its seed, so keyless rows land in bucket
    ``42 % n_buckets``."""
    ids = table.column("conv_id").to_pylist()
    keyed = [i for i, c in enumerate(ids) if c is not None]
    buckets = np.full(len(ids), 42 % n_buckets, dtype=np.int64)
    buckets[keyed] = bucket_of([ids[i] for i in keyed], n_buckets)
    for b in np.unique(buckets).tolist():
        part = table.take(pa.array(np.flatnonzero(buckets == b)))
        d = os.path.join(out, f"partition_key={b}")
        os.makedirs(d)
        pq.write_table(part, os.path.join(d, "part-0.parquet"))
    with open(os.path.join(out, "_bucket_scheme.json"), "w") as f:
        json.dump({"transform": "pmod_xxhash64_conv_id", "n_buckets": n_buckets}, f)


def docs(seed: int, n_docs: int = N_DOCS) -> tuple[pa.Table, dict]:
    """The documents corpus plus its planted exact copies and chains."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, 6000)
    n_copy = int(n_docs * 0.05)
    n_chain = int(n_docs * 0.05)
    n_base = n_docs - n_copy - n_chain * (CHAIN_LEN - 1)
    stop_pos = np.arange(DOC_TOKENS) % 7 == 6
    base = rng.choice(vocab, size=(n_base, DOC_TOKENS))
    base[:, stop_pos] = rng.choice(STOPWORDS, size=(n_base, int(stop_pos.sum())))
    texts = [" ".join(row) for row in base]

    seeds = rng.choice(n_base, size=n_chain, replace=False)
    chains = []
    for s in seeds.tolist():
        members = [s]
        toks = base[s].copy()
        for j in range(CHAIN_LEN - 1):
            toks = toks.copy()
            toks[j] = f"{toks[j]}x{j}"
            members.append(len(texts))
            texts.append(" ".join(toks))
        chains.append(members)
    # exact copies come last so each original keeps the smaller id
    originals = rng.choice(n_base, size=n_copy, replace=False)
    copies = []
    for o in originals.tolist():
        copies.append([o, len(texts)])
        texts.append(texts[o])
    table = pa.table(
        {"doc_id": pa.array(np.arange(len(texts)), pa.int64()), "text": pa.array(texts)}
    )
    facts = {"rows": len(texts), "copies": copies, "chains": chains}
    return table, facts


def write_input(kind: str, seed: int, out: str) -> dict:
    """Generate one input into ``out`` (replaced if present): data plus
    ``facts.json`` holding the planted facts and a digest of the rows."""
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "docs":
        table, facts = docs(seed)
        pq.write_table(table, os.path.join(tmp, "docs.parquet"))
    elif kind in ("clean", "dirty"):
        table, facts = transcripts(seed, dirty=kind == "dirty")
        write_bucketed(table, os.path.join(tmp, "table"))
    else:
        raise ValueError(f"unknown input kind: {kind}")
    facts["digest"] = digest(table)
    facts["kind"], facts["seed"], facts["version"] = kind, seed, GEN_VERSION
    with open(os.path.join(tmp, "facts.json"), "w") as f:
        json.dump(facts, f)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return facts


def digest(table: pa.Table) -> str:
    """md5 of the table's Arrow IPC stream (rows in generation order)."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table.combine_chunks())
    return hashlib.md5(sink.getvalue().to_pybytes()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=["clean", "dirty", "docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    facts = write_input(a.kind, a.seed, a.out)
    print(json.dumps({"rows": facts["rows"], "digest": facts["digest"]}))


if __name__ == "__main__":
    main()

"""Driver-style correctness harness: run each __spark_entry__.queries() entry on
Spark and its oracle_sql() on DuckDB over the same sf dir; compare row count,
column names, and order-insensitive values (columns sorted by name, exact match —
floats must agree bit-for-bit after the rounding both sides apply).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

# this checkout's root, wherever it is cloned — never another copy's package
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def main() -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from schema_infer_plugin_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in entrymod.__dict__.get("_ORACLE_TABLES", None) or (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = sorted(
                tuple(canon(r[c]) for c in scols) for r in sdf.collect()
            )
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows={len(srows)} (no oracle — rows-only check)")
            continue
        try:
            ddf = con.execute(oracles[name]).fetch_arrow_table().to_pylist()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        dcols = sorted(ddf[0].keys()) if ddf else scols
        drows = sorted(tuple(canon(r[c]) for c in dcols) for r in ddf)
        if scols != dcols and ddf:
            print(f"FAIL {name}: columns spark={scols} duck={dcols}")
            failures += 1
            continue
        if srows == drows:
            print(f"PASS {name}: rows={len(srows)}")
        else:
            failures += 1
            print(f"FAIL {name}: spark={len(srows)} duck={len(drows)} rows")
            sset, dset = set(srows), set(drows)
            for r in list(sset - dset)[:3]:
                print(f"  spark-only: {r}")
            for r in list(dset - sset)[:3]:
                print(f"  duck-only:  {r}")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Deterministic, engine-portable hashing primitives.

MinHash/SimHash/LSH all need hash families that are (a) computable distributed,
(b) identical across engines so DuckDB oracles can verify them. We derive every
hash from md5 (bit-identical everywhere) instead of Spark's xxhash64/murmur
(which DuckDB cannot reproduce):

* a "permutation" for MinHash is the lexicographic min of ``md5(salt || x)`` —
  salting md5 is a valid hash family over strings;
* a 60-bit integer hash is the first 15 hex digits of md5 parsed base-16
  (15 digits keeps it positive in a signed 64-bit long on the Spark side).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def salted_md5(value: Column, salt: int | str) -> Column:
    """md5 hex digest of ``salt || ':' || value`` — one member of the hash family."""
    return F.md5(F.concat(F.lit(f"{salt}:"), value))


def hex_hash_long(value: Column, salt: int | str = 0) -> Column:
    """60-bit non-negative integer hash (first 15 md5 hex digits, base-16).

    DuckDB equivalent: CAST('0x' || substr(md5(concat(salt,':',x)),1,15) AS UBIGINT).
    """
    return F.conv(F.substring(salted_md5(value, salt), 1, 15), 16, 10).cast("long")

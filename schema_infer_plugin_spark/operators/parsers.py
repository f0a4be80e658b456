"""Parsers as column expressions — the reference's per-row Python parsers
(/root/reference/schema_infer/formats/parsers.py) re-expressed as vectorized
projections. Each returns a DataFrame of typed columns; parse failures yield
NULLs (callers filter), matching parse_batch's drop-failures contract
(parsers.py:49-71).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F


def parse_csv_line(df: DataFrame, col: str, headers: list[str], delimiter: str = ",") -> DataFrame:
    """CSV line → one string column per header; short rows pad with '', long
    rows truncate (CSVParser pad/truncate, parsers.py:169-175). All values stay
    strings — the CSV parser never coerces (parsers.py:137-181).

    The reference's header *statefulness* (first message seen becomes the
    header, :153-158) is meaningless under distribution — headers are declared
    here, exactly as SURVEY.md §2.3 P3 prescribes.
    """
    parts = F.split(F.trim(F.col(col)), re.escape(delimiter), -1)
    # get() (not getItem) tolerates short rows by returning NULL → pad with ''
    cols = [F.coalesce(F.get(parts, i), F.lit("")).alias(h) for i, h in enumerate(headers)]
    return df.select(*cols)


def kv_coerced_value(value: Column) -> Column:
    """The KV coercion ladder as a (vtype, raw, typed-slots) struct — empty →
    null, then bool before int before float before string
    (KeyValueParser._convert_value, parsers.py:360-383: ``if not value: return
    None`` precedes the ladder — reachable only via the quoted path, e.g.
    ``k=""``, since the pair filter drops raw-empty values)."""
    from ..functions.typeladder import string_value_type

    t = F.when(value == "", F.lit("null")).otherwise(string_value_type(value))
    return F.struct(
        t.alias("vtype"),
        value.alias("raw"),
        F.when(t == "boolean", F.lower(value) == "true").alias("as_boolean"),
        F.when(t == "int", value.cast("long")).alias("as_int"),
        F.when(t == "float", value.cast("double")).alias("as_float"),
    )


def _strip_quotes(v: Column) -> Column:
    """Remove one symmetric layer of single or double quotes (parsers.py:308-313).

    No minimum-length guard: a lone quote char satisfies Python's
    startswith/endswith pair, so the reference slices it to '' (``value[1:-1]``)
    — and Spark's substring with a negative length yields '' the same way.
    """
    quoted = (v.startswith('"') & v.endswith('"')) | (v.startswith("'") & v.endswith("'"))
    return F.when(quoted, F.substring(v, 2, F.length(v) - 2)).otherwise(v)


def parse_key_value(
    df: DataFrame,
    col: str,
    pair_sep: str = ",",
    kv_sep: str = "=",
    max_key_len: int = 100,
    max_value_len: int = 1000,
) -> DataFrame:
    """key=value,key=value → exploded (kv_key, kv_value, kv coerced) rows.

    Reproduces KeyValueParser.parse (parsers.py:277-321) in the reference's
    order: split on the pair separator, strip, require the kv separator in the
    pair, split key/value on the FIRST kv separator only (Python split(sep, 1)),
    drop empty/oversized keys/values on the RAW (still-quoted) value
    (parsers.py:305 checks before quote removal — so ``k=""`` survives and
    coerces to null, and the length cap counts the quote chars), THEN strip
    symmetric quotes and coerce. One projection + one explode.
    """
    pairs = F.split(F.trim(F.col(col)), re.escape(pair_sep), -1)

    def pair_to_struct(p: Column) -> Column:
        has_sep = F.instr(p, kv_sep) > 0
        halves = F.split(p, re.escape(kv_sep), 2)
        k = F.trim(F.element_at(halves, 1))
        v = F.trim(F.element_at(halves, 2))
        return F.struct(
            F.when(has_sep, k).alias("k"),
            F.when(has_sep, v).alias("v"),
        )

    kv_ok = F.filter(
        F.transform(pairs, pair_to_struct),
        lambda s: s["k"].isNotNull()
        & s["v"].isNotNull()
        & (s["k"] != "")
        & (s["v"] != "")
        & (F.length(s["k"]) <= max_key_len)
        & (F.length(s["v"]) <= max_value_len),
    )
    exploded = df.withColumn("_kv", F.explode(kv_ok))
    unquoted = _strip_quotes(F.col("_kv.v"))
    return exploded.select(
        *df.columns,
        F.col("_kv.k").alias("kv_key"),
        unquoted.alias("kv_value"),
        kv_coerced_value(unquoted).alias("kv"),
    )


def parse_raw_text(df: DataFrame, col: str) -> DataFrame:
    """RawTextParser (parsers.py:205-233): {raw_content, message_length,
    is_binary}. String input is by definition decodable → is_binary=false;
    binary columns hex-encode (message_length = byte length, :230-232)."""
    c = F.col(col)
    if df.schema[col].dataType.simpleString() == "binary":
        return df.select(
            *df.columns,
            F.lower(F.hex(c)).alias("raw_content"),
            F.octet_length(c).cast("long").alias("message_length"),
            F.lit(True).alias("is_binary"),
        )
    content = F.trim(c)
    return df.select(
        *df.columns,
        content.alias("raw_content"),
        F.length(content).cast("long").alias("message_length"),
        F.lit(False).alias("is_binary"),
    )

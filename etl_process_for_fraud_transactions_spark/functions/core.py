"""Scalar expression helpers with PostgreSQL-parity semantics.

Every helper returns a Catalyst Column built from `pyspark.sql.functions`
so expressions stay inside whole-stage codegen (no Python UDFs).

Reference semantics covered (SURVEY.md §2.9):
- F1  to_date(text,'DDMMYYYY')           -> ddmmyyyy_to_date
- F2  '3000-01-01'::DATE sentinel        -> open_ended_date
- F3  extract(epoch from a - b)          -> epoch_us (microsecond longs)
- F6  null-propagating '||' concat       -> null_safe_concat_ws
- S3  comma-decimal CSV amounts          -> comma_decimal
- P4  null-unsafe '<>' attribute diff    -> any_attr_differs
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce
from operator import or_
from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

#: SCD2 open-row sentinel used by the reference (main.py:138).
OPEN_END = _dt.date(3000, 1, 1)


def open_ended_date() -> Column:
    """`'3000-01-01'::DATE` sentinel (reference main.py:138)."""
    return F.lit("3000-01-01").cast("date")


def ddmmyyyy_to_date(value: str) -> Column:
    """`to_date('{date}','DDMMYYYY')` for a driver-side batch-date string
    (reference main.py:137). Java pattern is lowercase dd/MM/yyyy."""
    return F.to_date(F.lit(value), "ddMMyyyy")


def null_safe_concat_ws(sep: str, *cols: Column | str) -> Column:
    """PostgreSQL `a || ' ' || b` parity: NULL if ANY operand is null
    (reference main.py:535). Spark's concat_ws skips nulls, so use
    plain concat with explicit separators, which null-propagates."""
    parts: list[Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(sep))
        parts.append(F.col(c) if isinstance(c, str) else c)
    return F.concat(*parts)


def comma_decimal(col: Column | str, precision: int = 22, scale: int = 2) -> Column:
    """Parse a comma-decimal-separator string amount (`decimal=','`,
    reference main.py:103) into DecimalType."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", ".").cast(f"decimal({precision},{scale})")


def epoch_us(col: Column | str) -> Column:
    """Epoch microseconds as a long, for exact-integer time arithmetic
    (parity with Postgres `extract(epoch from ...)`, main.py:435, at the
    microsecond granularity both engines store). Works for timestamp and
    timestamp_ntz (session tz is pinned to UTC, session.py)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def any_attr_differs(left_prefix: str, right_prefix: str, attrs: Iterable[str]) -> Column:
    """OR-chain of null-unsafe `<>` over tracked attributes, exactly as
    the reference's SCD2 change predicate (main.py:151-157). A NULL on
    either side makes that term NULL (not TRUE) — Postgres parity; do
    NOT use eqNullSafe here."""
    terms = [
        F.col(f"{left_prefix}.{a}") != F.col(f"{right_prefix}.{a}") for a in attrs
    ]
    return reduce(or_, terms)


# --- driver-side XXH64 (bit-exact twin of F.xxhash64 on strings) ----------

_XXH_M = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_M


def xxhash64_str(s: str, seed: int = 42) -> int:
    """Bit-exact driver-side twin of ``F.xxhash64(string_col)`` —
    the public XXH64 algorithm (Collet's spec) over the UTF-8 bytes
    with Spark's default seed 42, returned as the same signed 64-bit
    value Spark produces. Lets a bounded, driver-held probe set (the
    Bm25 serving path's query terms) derive its partition-pruning
    bucket ids without scheduling a Spark job; the equality with
    ``F.xxhash64`` is property-pinned in tests/test_retrieval.py, so
    a Spark-side hashing change would fail loudly rather than prune
    the wrong buckets."""
    data = s.encode("utf-8")
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _XXH_M
        v2 = (seed + _XXH_P2) & _XXH_M
        v3 = seed & _XXH_M
        v4 = (seed - _XXH_P1) & _XXH_M
        while i + 32 <= n:
            v1 = (_xxh_rotl((v1 + int.from_bytes(data[i:i + 8], "little") * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            v2 = (_xxh_rotl((v2 + int.from_bytes(data[i + 8:i + 16], "little") * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            v3 = (_xxh_rotl((v3 + int.from_bytes(data[i + 16:i + 24], "little") * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            v4 = (_xxh_rotl((v4 + int.from_bytes(data[i + 24:i + 32], "little") * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            i += 32
        h = (
            _xxh_rotl(v1, 1) + _xxh_rotl(v2, 7)
            + _xxh_rotl(v3, 12) + _xxh_rotl(v4, 18)
        ) & _XXH_M
        for v in (v1, v2, v3, v4):
            h = ((h ^ ((_xxh_rotl((v * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M)) * _XXH_P1 + _XXH_P4) & _XXH_M
    else:
        h = (seed + _XXH_P5) & _XXH_M
    h = (h + n) & _XXH_M
    while i + 8 <= n:
        h = ((_xxh_rotl(h ^ ((_xxh_rotl((int.from_bytes(data[i:i + 8], "little") * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M), 27) * _XXH_P1) + _XXH_P4) & _XXH_M
        i += 8
    if i + 4 <= n:
        h = ((_xxh_rotl(h ^ ((int.from_bytes(data[i:i + 4], "little") * _XXH_P1) & _XXH_M), 23) * _XXH_P2) + _XXH_P3) & _XXH_M
        i += 4
    while i < n:
        h = (_xxh_rotl(h ^ ((data[i] * _XXH_P5) & _XXH_M), 11) * _XXH_P1) & _XXH_M
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_M
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h

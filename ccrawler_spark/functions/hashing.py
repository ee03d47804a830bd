"""Pure-Python XXH64 matching Spark's ``F.xxhash64`` on string columns.

Spark's ``xxhash64(col)`` hashes the UTF-8 bytes of a string with the
public XXH64 algorithm (Yann Collet, BSD) at seed 42 and returns the
result reinterpreted as a *signed* int64.  The oracle, the fixture
generator and the engine all need bit-identical values, so this module
is the single Python-side implementation; ``tests/test_hashing.py``
cross-checks it against the JVM implementation.

Reference semantics: BASELINE.json:6 (url_hash / dedup keys),
SURVEY.md §2 O36.  No reference-file citation possible: /root/reference
is empty (SURVEY.md §0.1).
"""

from __future__ import annotations


_MASK64 = 0xFFFFFFFFFFFFFFFF

PRIME64_1 = 0x9E3779B185EBCA87
PRIME64_2 = 0xC2B2AE3D27D4EB4F
PRIME64_3 = 0x165667B19E3779F9
PRIME64_4 = 0x85EBCA77C2B2AE63
PRIME64_5 = 0x27D4EB2F165667C5

SPARK_SEED = 42  # Spark's default seed for xxhash64


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * PRIME64_2) & _MASK64
    acc = _rotl(acc, 31)
    return (acc * PRIME64_1) & _MASK64


def _merge_round(acc: int, val: int) -> int:
    val = _round(0, val)
    acc ^= val
    acc = (acc * PRIME64_1 + PRIME64_4) & _MASK64
    return acc


def xxh64(data: bytes, seed: int = SPARK_SEED) -> int:
    """XXH64 of ``data``; returns *unsigned* 64-bit int."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + PRIME64_1 + PRIME64_2) & _MASK64
        v2 = (seed + PRIME64_2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - PRIME64_1) & _MASK64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + PRIME64_5) & _MASK64
    h = (h + n) & _MASK64
    while i + 8 <= n:
        k1 = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h ^= k1
        h = (_rotl(h, 27) * PRIME64_1 + PRIME64_4) & _MASK64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * PRIME64_1) & _MASK64
        h = (_rotl(h, 23) * PRIME64_2 + PRIME64_3) & _MASK64
        i += 4
    while i < n:
        h ^= (data[i] * PRIME64_5) & _MASK64
        h = (_rotl(h, 11) * PRIME64_1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * PRIME64_2) & _MASK64
    h ^= h >> 29
    h = (h * PRIME64_3) & _MASK64
    h ^= h >> 32
    return h


def to_signed64(u: int) -> int:
    """Reinterpret an unsigned 64-bit int as Spark's signed int64."""
    u &= _MASK64
    return u - (1 << 64) if u >= (1 << 63) else u


def to_unsigned64(s: int) -> int:
    """Reinterpret a signed int64 as unsigned (the k_u of SEMANTICS.md)."""
    return s & _MASK64


def xxhash64_str(s: str, seed: int = SPARK_SEED) -> int:
    """Signed int64, bit-identical to Spark ``F.xxhash64(lit(s))``."""
    return to_signed64(xxh64(s.encode("utf-8"), seed))


def umod(signed_h: int, m: int) -> int:
    """``k_u % m`` where k_u is the unsigned reinterpretation of a signed
    int64 hash.  Mirrors the Spark-side expression in
    ``ccrawler_spark.functions.spark_exprs.umod_long``."""
    return (signed_h & _MASK64) % m


def ushift(signed_h: int, bits: int) -> int:
    """Logical (unsigned) right shift of a signed int64 — mirrors Spark
    ``F.shiftrightunsigned``.  Result is a non-negative Python int."""
    return (signed_h & _MASK64) >> bits


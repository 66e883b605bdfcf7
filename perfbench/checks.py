"""Expected ``(rows, checksum)`` of a result, computed without Spark.

The engine's ``checksum_count`` action returns the row count and the
``bit_xor`` over rows of Spark's ``xxhash64(*columns)`` (seed 42). This
module re-implements that hash (XXH64 as Spark applies it per column
type, nulls skipped) over rows that DuckDB or numpy produced, so every
timed job's checksum can be compared with an expectation that shares no
code with the engine.
"""

from __future__ import annotations

import os
import struct

from pyspark.sql import types as T

_M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & _M
    h ^= h >> 29
    h = (h * P3) & _M
    return h ^ (h >> 32)


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * P2) & _M
    return (_rotl(acc, 31) * P1) & _M


def _merge(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * P1 + P4) & _M


def _tail8(h: int, k: int) -> int:
    h ^= _round(0, k)
    return (_rotl(h, 27) * P1 + P4) & _M


def _tail4(h: int, k: int) -> int:
    h ^= (k * P1) & _M
    return (_rotl(h, 23) * P2 + P3) & _M


def hash_long(v: int, seed: int) -> int:
    return _fmix(_tail8((seed + P5 + 8) & _M, v & _M))


def hash_int(v: int, seed: int) -> int:
    return _fmix(_tail4((seed + P5 + 4) & _M, v & 0xFFFFFFFF))


def hash_bytes(b: bytes, seed: int) -> int:
    n, i = len(b), 0
    if n >= 32:
        v = [(seed + P1 + P2) & _M, (seed + P2) & _M, seed, (seed - P1) & _M]
        while i <= n - 32:
            lanes = struct.unpack_from("<4Q", b, i)
            v = [_round(a, x) for a, x in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M
        for a in v:
            h = _merge(h, a)
    else:
        h = (seed + P5) & _M
    h = (h + n) & _M
    while i <= n - 8:
        h = _tail8(h, struct.unpack_from("<Q", b, i)[0])
        i += 8
    if i <= n - 4:
        h = _tail4(h, struct.unpack_from("<I", b, i)[0])
        i += 4
    while i < n:
        h ^= (b[i] * P5) & _M
        h = (_rotl(h, 11) * P1) & _M
        i += 1
    return _fmix(h)


def _double_bits(d: float) -> int:
    if d != d:
        return 0x7FF8000000000000  # Java's canonical NaN
    if d == 0.0:
        d = 0.0  # -0.0 hashes as 0.0
    return struct.unpack("<q", struct.pack("<d", d))[0]


def _hash_value(v, dt, seed: int) -> int:
    if isinstance(dt, T.LongType):
        return hash_long(int(v), seed)
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType, T.DateType)):
        return hash_int(int(v), seed)
    if isinstance(dt, T.BooleanType):
        return hash_int(1 if v else 0, seed)
    if isinstance(dt, T.DoubleType):
        return hash_long(_double_bits(float(v)), seed)
    if isinstance(dt, T.StringType):
        return hash_bytes(str(v).encode("utf-8"), seed)
    raise TypeError(f"no checksum mirror for column type {dt}")


def checksum(rows, schema: T.StructType) -> tuple[int, int]:
    """``(count, bit_xor of xxhash64 over all columns)`` of ``rows``
    (tuples in ``schema``'s column order), as ``checksum_count``
    computes it."""
    types = [f.dataType for f in schema.fields]
    acc, n = 0, 0
    for row in rows:
        h = SEED
        for v, dt in zip(row, types):
            if v is not None:
                h = _hash_value(v, dt, h)
        acc ^= h
        n += 1
    return n, acc - (1 << 64) if acc >> 63 else acc


def duckdb_views(sf_dir: str):
    """A DuckDB connection with one view per parquet table in sf_dir."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
    return con


def oracle_checksum(con, sql: str, schema: T.StructType) -> tuple[int, int]:
    """Expected ``checksum_count`` of a query from its DuckDB oracle,
    with the oracle's columns taken in the Spark result's order."""
    cur = con.execute(f"SELECT {', '.join(f.name for f in schema.fields)} "
                      f"FROM ({sql})")
    return checksum(cur.fetchall(), schema)

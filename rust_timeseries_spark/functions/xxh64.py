"""Pure-Python XXH64 compatible with Spark's ``F.xxhash64``.

Spark's ``XxHash64`` expression (sql/catalyst XXH64.java — public Apache
Spark source) folds its children left-to-right: starting from the seed
(default 42), each child value is hashed with the running hash as the
seed.  For the types the engine uses:

* ``string``  → XXH64 over the UTF-8 bytes,
* ``int``     → XXH64 over the 4 little-endian bytes (``hashInt``),
* ``bigint``  → XXH64 over the 8 little-endian bytes (``hashLong``).

This module reimplements the XXH64 algorithm (public domain spec,
github.com/Cyan4973/xxHash) so tests and oracle generators can recompute
engine-native hashes (MinHash signatures, band buckets, SimHash bit
votes) independently of the JVM.  ``tests/test_dataops.py`` pins
equality against Spark's own ``F.xxhash64`` output.

The scalar functions are for verification only. ``hash_int_np`` is a
hot path: the vectorised ``hashInt`` behind ``datagen.token_table``'s
token arrays, run on the executors over whole Arrow batches.
"""

from __future__ import annotations

import struct

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M64
    acc = _rotl(acc, 31)
    return (acc * _P1) & _M64


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return (acc * _P1 + _P4) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` with ``seed`` → unsigned 64-bit int."""
    seed &= _M64
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1, v2, v3, v4 = _round(v1, k1), _round(v2, k2), _round(v3, k3), _round(v4, k4)
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        (k,) = struct.unpack_from("<Q", data, i)
        h ^= _round(0, k)
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        (k,) = struct.unpack_from("<I", data, i)
        h ^= (k * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def hash_int_np(values: np.ndarray, seeds: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashInt`` element-wise: the low 32 bits of each
    of ``values`` hashed with the matching int64 of ``seeds``. Returns
    signed int64, as Spark does. uint64 arithmetic wraps mod 2⁶⁴, which
    is XXH64's own arithmetic."""
    h = np.asarray(seeds, dtype=np.int64).view(np.uint64) + np.uint64(_P5 + 4)
    h ^= (np.asarray(values, dtype=np.int64).view(np.uint64) & np.uint64(0xFFFFFFFF)) * np.uint64(_P1)
    h = (h << np.uint64(23)) | (h >> np.uint64(41))
    h *= np.uint64(_P2)
    h += np.uint64(_P3)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_P2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_P3)
    h ^= h >> np.uint64(32)
    return h.view(np.int64)


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def _to_unsigned(s: int) -> int:
    return s & _M64


def spark_hash_string(s: str, seed: int = 42) -> int:
    """= Spark ``xxhash64(string_col)`` with the given running seed
    (signed int64, as Spark returns)."""
    return _to_signed(xxh64(s.encode("utf-8"), _to_unsigned(seed)))


def spark_hash_int(v: int, seed: int = 42) -> int:
    """= Spark's XXH64.hashInt (4 LE bytes) — IntegerType children."""
    return _to_signed(xxh64(struct.pack("<i", v), _to_unsigned(seed)))


def spark_hash_long(v: int, seed: int = 42) -> int:
    """= Spark's XXH64.hashLong (8 LE bytes) — LongType children."""
    return _to_signed(xxh64(struct.pack("<q", v), _to_unsigned(seed)))


def spark_xxhash64(*children, seed: int = 42) -> int:
    """Replicates ``F.xxhash64(c1, c2, ...)``: fold children left to
    right, each hashed with the running hash as seed.  Children are
    Python ``str`` (→ StringType) or ``(int, 'int'|'long')`` tuples;
    bare ints are treated as IntegerType when they fit (PySpark
    ``F.lit`` of a small Python int makes an IntegerType literal)."""
    h = seed
    for c in children:
        if isinstance(c, str):
            h = spark_hash_string(c, h)
        elif isinstance(c, tuple):
            v, kind = c
            h = spark_hash_int(v, h) if kind == "int" else spark_hash_long(v, h)
        elif isinstance(c, int):
            if -(1 << 31) <= c < (1 << 31):
                h = spark_hash_int(c, h)
            else:
                h = spark_hash_long(c, h)
        else:
            raise TypeError(f"unsupported child type {type(c)}")
    return h

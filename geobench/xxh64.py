"""Spark-compatible ``xxhash64`` over string columns, in NumPy.

Spark's ``xxhash64(c1, c2, ...)`` is XXH64 over each column's UTF-8
bytes, chained: the seed starts at 42 and each column's hash becomes
the seed of the next. This module computes the same 64-bit values for
whole columns at once (rows grouped by byte length), so an expected
digest can be built without Spark and compared with what a Spark sink
action computes.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

SPARK_SEED = 42

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc: np.ndarray, lane: np.ndarray) -> np.ndarray:
    return _rotl(acc + lane * P2, 31) * P1


def _merge(h: np.ndarray, v: np.ndarray) -> np.ndarray:
    return (h ^ _round(np.zeros_like(v), v)) * P1 + P4


def _hash_fixed(buf: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """XXH64 of ``n`` rows of equal length: ``buf`` is (n, L) uint8."""
    n, length = buf.shape
    words = buf[:, :length & ~7].copy().view("<u8")
    pos = 0
    if length >= 32:
        v1 = seed + P1 + P2
        v2 = seed + P2
        v3 = seed.copy()
        v4 = seed - P1
        while pos + 4 <= (length // 32) * 4:
            v1 = _round(v1, words[:, pos])
            v2 = _round(v2, words[:, pos + 1])
            v3 = _round(v3, words[:, pos + 2])
            v4 = _round(v4, words[:, pos + 3])
            pos += 4
        h = _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        for v in (v1, v2, v3, v4):
            h = _merge(h, v)
    else:
        h = seed + P5
    h = h + np.uint64(length)
    while pos < words.shape[1]:
        h = _rotl(h ^ _round(np.zeros(n, np.uint64), words[:, pos]), 27) \
            * P1 + P4
        pos += 1
    off = length & ~7
    if off + 4 <= length:
        k = buf[:, off:off + 4].copy().view("<u4")[:, 0].astype(np.uint64)
        h = _rotl(h ^ (k * P1), 23) * P2 + P3
        off += 4
    while off < length:
        h = _rotl(h ^ (buf[:, off].astype(np.uint64) * P5), 11) * P1
        off += 1
    h ^= h >> np.uint64(33)
    h *= P2
    h ^= h >> np.uint64(29)
    h *= P3
    h ^= h >> np.uint64(32)
    return h


def hash_strings(values, seed: np.ndarray) -> np.ndarray:
    """XXH64 of each string's UTF-8 bytes with a per-row seed.

    ``values`` is a list of ``str`` or a pyarrow string array; the
    bytes are gathered from the Arrow buffers, one group of equal-length
    rows at a time."""
    arr = values if isinstance(values, (pa.Array, pa.ChunkedArray)) \
        else pa.array(values, pa.string())
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("null strings are not hashed")
    offsets = np.frombuffer(arr.buffers()[1], np.int32)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(arr.buffers()[2], np.uint8) \
        if arr.buffers()[2] is not None else np.zeros(0, np.uint8)
    lengths = np.diff(offsets)
    out = np.empty(len(arr), np.uint64)
    for length in np.unique(lengths):
        rows = np.flatnonzero(lengths == length)
        buf = data[offsets[rows][:, None] + np.arange(length)]
        out[rows] = _hash_fixed(buf.reshape(len(rows), int(length)),
                                seed[rows])
    return out


def xxhash64(*columns) -> np.ndarray:
    """Spark's ``xxhash64(c1, c2, ...)`` over non-null string columns,
    as signed 64-bit integers."""
    n = len(columns[0])
    h = np.full(n, SPARK_SEED, np.uint64)
    with np.errstate(over="ignore"):
        for col in columns:
            h = hash_strings(col, h)
    return h.view(np.int64)


def digest(*columns) -> tuple[int, int]:
    """(row count, exact sum of the signed hashes) — what the sink
    action computes as ``count(*)`` and
    ``sum(cast(xxhash64(...) as decimal(38,0)))``."""
    h = xxhash64(*columns)
    return len(h), int(h.astype(object).sum()) if len(h) else 0

"""Spark's ``xxhash64`` column function, re-done in Python.

``operators.split.fraction_split`` orders patch keys by
``xxhash64(scene, i, j, seed)``, so the train/validation membership the
benchmark expects can only be computed by hashing the keys the same way.
XXH64 is a public algorithm; Spark chains it over the columns, starting
from seed 42, hashing strings as UTF-8 bytes and ints as 4-byte words.
"""

from __future__ import annotations

import struct

M = (1 << 64) - 1
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    return h ^ (h >> 32)


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * P2) & M, 31) * P1) & M


def hash_bytes(data: bytes, seed: int) -> int:
    n, pos = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed, (seed - P1) & M]
        while pos + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, pos)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            pos += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M
        for a in v:
            h = (((h ^ _round(0, a)) * P1) + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while pos + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, pos)
        h = ((_rotl(h ^ _round(0, k), 27) * P1) + P4) & M
        pos += 8
    if pos + 4 <= n:
        (k,) = struct.unpack_from("<I", data, pos)
        h = ((_rotl(h ^ ((k * P1) & M), 23) * P2) + P3) & M
        pos += 4
    while pos < n:
        h = (_rotl(h ^ ((data[pos] * P5) & M), 11) * P1) & M
        pos += 1
    return _fmix(h)


def hash_int(value: int, seed: int) -> int:
    h = (seed + P5 + 4) & M
    h ^= ((value & 0xFFFFFFFF) * P1) & M
    return _fmix(((_rotl(h, 23) * P2) + P3) & M)


def xxhash64(*values: str | int) -> int:
    """``F.xxhash64(*cols)`` for string and int columns, as a signed long."""
    h = SPARK_SEED
    for v in values:
        h = hash_bytes(v.encode(), h) if isinstance(v, str) else hash_int(v, h)
    return h - (1 << 64) if h >> 63 else h

"""Driver-side XXH64, bit-compatible with Spark's ``xxhash64``.

Spark's ``xxhash64(c1, c2, ...)`` (catalyst ``XXH64``) hashes each
non-null column in turn, the running hash seeding the next column, from
seed 42.  An ``int`` column is its 4-byte little-endian value
(``XXH64.hashInt``), a string its UTF-8 bytes (``hashUnsafeBytes``);
both are plain XXH64 over those bytes.  ``xxhash64`` reproduces that
for the facet types the term dictionary hashes, so rule constants and
query constants get their ids without a Spark job.  Parity with
``F.xxhash64`` is pinned by tests/test_xxh64.py.
"""

from __future__ import annotations

import struct

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M, 31) * _P1 & _M


def _merge(h: int, v: int) -> int:
    return ((h ^ _round(0, v)) * _P1 + _P4) & _M


def xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int (``seed`` taken mod 2^64)."""
    seed &= _M
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            lanes = struct.unpack_from("<4Q", data, i)
            v = [_round(a, b) for a, b in zip(v, lanes)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for lane in v:
            h = _merge(h, lane)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * _P1 & _M), 23) * _P2 + _P3) & _M
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _M), 11) * _P1 & _M
    h = ((h ^ (h >> 33)) * _P2) & _M
    h = ((h ^ (h >> 29)) * _P3) & _M
    return h ^ (h >> 32)


def xxhash64(*cols: int | str | None) -> int:
    """Spark's ``xxhash64(*cols)`` as a signed 64-bit int: ``int`` columns
    are Spark ``IntegerType`` values, ``str`` columns strings, ``None``
    columns nulls (skipped, as Spark skips them)."""
    h = SPARK_SEED
    for c in cols:
        if c is None:
            continue
        data = struct.pack("<i", c) if isinstance(c, int) else c.encode("utf-8")
        h = xxh64(data, h)
    return h - (1 << 64) if h >> 63 else h

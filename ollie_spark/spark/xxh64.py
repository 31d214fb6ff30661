"""Bit-exact pure-Python replica of Spark SQL's ``xxhash64``.

Implements the XXH64 variant Spark uses for the ``xxhash64`` expression
(catalyst ``XxHash64`` / ``XXH64.java``): per-field streaming where the
running hash seeds the next field, initial seed 42; strings hash their
UTF-8 bytes, int fields use the 4-byte finalizer.  Parity with the JVM
implementation is pinned by a property test against ``F.xxhash64``
over random inputs (tests/test_linking.py), and transitively by the
escape-hatch equivalence tests — the local blocking path in linking.py
exists only because these values are identical to Spark's.
"""

from __future__ import annotations

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

SPARK_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def hash_int(value: int, seed: int) -> int:
    """XXH64 4-byte finalizer (Spark IntegerType field)."""
    h = (seed + _P5 + 4) & _M
    h ^= ((value & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _fmix(h)


def hash_bytes(data: bytes, seed: int) -> int:
    """Full XXH64 over a byte string (Spark StringType field: UTF-8)."""
    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        limit = length - 32
        while off <= limit:
            v1 = (_rotl((v1 + int.from_bytes(data[off:off + 8], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[off + 8:off + 16], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[off + 16:off + 24], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[off + 24:off + 32], "little")
                         * _P2) & _M, 31) * _P1) & _M
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + length) & _M
    while off + 8 <= length:
        k = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= length:
        h ^= (int.from_bytes(data[off:off + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < length:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    return _fmix(h)


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64(*fields) -> int:
    """``F.xxhash64(*fields)`` for python values: str fields hash UTF-8
    bytes, ``int`` fields hash as IntegerType.  Returns the signed
    64-bit value Spark returns."""
    h = SPARK_SEED
    for f in fields:
        if isinstance(f, str):
            h = hash_bytes(f.encode("utf-8"), h)
        elif isinstance(f, int):
            h = hash_int(f, h)
        else:
            raise TypeError(f"unsupported field {f!r}")
    return _signed(h)

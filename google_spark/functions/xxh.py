"""Pure-Python XXH64 (xxHash, public algorithm by Yann Collet — spec:
https://github.com/Cyan4973/xxHash/blob/dev/doc/xxhash_spec.md), seeded to
match Spark's ``F.xxhash64`` (seed 42) bit-for-bit.

Why it exists: indexes written before key-sorted files are
bucket-partitioned by ``pmod(xxhash64(term), n_buckets)``
(index_build.term_bucket_col), and still serve. The serving tier's point
lookups (the KVS ``get`` analog) read those buckets directly with pyarrow —
no Spark job — so the DRIVER must compute the same bucket for a query term
that the BUILD computed in the JVM. Parity with
Spark is asserted over the whole testdata vocabulary plus adversarial
lengths in tests/test_xxh.py.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def _merge_round(acc: int, val: int) -> int:
    acc ^= _round(0, val)
    return ((acc * _P1) + _P4) & _M


def xxh64(data: bytes, seed: int = 42) -> int:
    """Unsigned 64-bit XXH64 of ``data``. Spark's default seed is 42."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed & _M
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        h = _merge_round(h, v1)
        h = _merge_round(h, v2)
        h = _merge_round(h, v3)
        h = _merge_round(h, v4)
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = ((_rotl(h, 27) * _P1) + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = ((_rotl(h, 23) * _P2) + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(s: str, seed: int = 42) -> int:
    """SIGNED value identical to Spark's ``F.xxhash64(lit(s))``."""
    h = xxh64(s.encode("utf-8"), seed)
    return h - (1 << 64) if h >= (1 << 63) else h


def term_bucket(term: str, n_buckets: int) -> int:
    """Python twin of index_build.term_bucket_col:
    ``pmod(xxhash64(term), n_buckets)``."""
    return spark_xxhash64(term) % n_buckets

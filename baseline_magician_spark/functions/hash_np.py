"""Vectorized numpy kernels for the numeric-input byte-exact hash
family (round 12, guide §4.2).

The Spark expression renderings of cityHash64 / sipHash64 / xxHash64 /
murmurHash3_64 / murmurHash2 / kafkaMurmurHash are built on
``_let1``-style HOF lets — interpreted expression islands at exec
time (~90 µs/row measured on sipHash64(user_id, event_id)). For
NUMERIC arguments the byte stream is a fixed-width little-endian
layout of the zero-extended bit pattern, so the whole algorithm
vectorizes over rows as plain uint64 arithmetic (numpy wraparound ==
mod-2^64). ch_compat routes numeric-only argument lists through a
pandas UDF over these kernels; the expression paths remain for string
inputs and as the oracle-replayable rendering.

Every kernel is pinned against the existing pure-Python byte models
(sip_hash64_py, xxh64_py, murmur2_64_py, murmur2_32_py,
murmur3_64_py, int_hash64_py, _hl16_py) over random 64-bit values in
tests/test_hash_np.py — the same models the Column/text renderings
are pinned against, so all three renderings share one ground truth.

All inputs are np.uint64 arrays holding the CH-native zero-extended
bit pattern; ``nbytes`` is sizeof(T) of the argument's CH type
(1/2/4/8). Combines take two uint64 hash arrays (the 16-byte or
8-byte LE pair streams of the scalar models).
"""

from __future__ import annotations

import numpy as np

_M32 = np.uint64(0xFFFFFFFF)

# sip
_SC0 = np.uint64(0x736F6D6570736575)
_SC1 = np.uint64(0x646F72616E646F6D)
_SC2 = np.uint64(0x6C7967656E657261)
_SC3 = np.uint64(0x7465646279746573)
# xx
_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
# murmur2-64 / murmur2-32
_M2 = np.uint64(0xC6A4A7935BD1E995)
_M2_32 = np.uint64(0x5BD1E995)
# murmur3 x64_128
_3C1 = np.uint64(0x87C37B91114253D5)
_3C2 = np.uint64(0x4CF5AD432745937F)
_3A1 = np.uint64(0x52DCE729)
_3A2 = np.uint64(0x38495AB5)
_FM1 = np.uint64(0xFF51AFD7ED558CCD)
_FM2 = np.uint64(0xC4CEB9FE1A85EC53)
# city
_KMUL = np.uint64(0x9DDFEA08EB382D69)


def _rotl(x, s: int):
    s = np.uint64(s)
    return (x << s) | (x >> (np.uint64(64) - s))


def int_hash64_np(v):
    """CH IntHash64Impl (fmix64 of x ^ salt) — cityHash64's numeric
    per-argument hash (hashing.int_hash64_py)."""
    x = v ^ np.uint64(0x4CF2D2BAAE6DA887)
    x = x ^ (x >> np.uint64(33))
    x = x * _FM1
    x = x ^ (x >> np.uint64(33))
    x = x * _FM2
    return x ^ (x >> np.uint64(33))


def hl16_np(u, v):
    """CityHash_v1_0_2 Hash128to64 — the combineHashes of cityHash64
    and xxHash64 (cityhash._hl16_py)."""
    a = (u ^ v) * _KMUL
    a = a ^ (a >> np.uint64(47))
    b = (v ^ a) * _KMUL
    b = b ^ (b >> np.uint64(47))
    return b * _KMUL


def _siprounds(v0, v1, v2, v3, n: int):
    for _ in range(n):
        v0 = v0 + v1
        v1 = _rotl(v1, 13) ^ v0
        v0 = _rotl(v0, 32)
        v2 = v2 + v3
        v3 = _rotl(v3, 16) ^ v2
        v0 = v0 + v3
        v3 = _rotl(v3, 21) ^ v0
        v2 = v2 + v1
        v1 = _rotl(v1, 17) ^ v2
        v2 = _rotl(v2, 32)
    return v0, v1, v2, v3


def _sip_words(words, nbytes: int):
    """SipHash-2-4(k=0) over ``nbytes`` little-endian bytes carried as
    full 8-byte words (the last, partial word is the tail block)."""
    n = len(words[0]) if words else 0
    v0 = np.full(n, _SC0)
    v1 = np.full(n, _SC1)
    v2 = np.full(n, _SC2)
    v3 = np.full(n, _SC3)
    nwords = nbytes // 8
    for m in words[:nwords]:
        v3 = v3 ^ m
        v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 2)
        v0 = v0 ^ m
    tail = (
        words[nwords]
        if nbytes % 8
        else np.zeros(n, dtype=np.uint64)
    )
    b = (np.uint64(nbytes & 0xFF) << np.uint64(56)) | tail
    v3 = v3 ^ b
    v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 2)
    v0 = v0 ^ b
    v2 = v2 ^ np.uint64(0xFF)
    v0, v1, v2, v3 = _siprounds(v0, v1, v2, v3, 4)
    return v0 ^ v1 ^ v2 ^ v3


def sip64_np(v, nbytes: int):
    return _sip_words([v], nbytes)


def sip64_pair_np(h0, h1):
    """The CH combineHashes for sipHash64: SipHash of the 16-byte LE
    pair (h_prev, h_i)."""
    return _sip_words([h0, h1], 16)


def _xx_avalanche(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxh64_np(v, nbytes: int):
    """XXH64 (seed 0) over the value's nbytes-wide LE layout
    (nbytes <= 8 — the numeric-argument case)."""
    n = len(v)
    h = np.full(n, _P5 + np.uint64(nbytes))
    i = 0
    if nbytes == 8:
        # one 8-byte stride: h ^= round(0, w); rotl27 * P1 + P4
        k = v * _P2
        k = _rotl(k, 31)
        k = k * _P1
        h = h ^ k
        h = _rotl(h, 27) * _P1 + _P4
        i = 8
    elif nbytes >= 4:
        h = h ^ ((v & _M32) * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        i = 4
    for k in range(i, nbytes):
        byte = (v >> np.uint64(8 * k)) & np.uint64(0xFF)
        h = h ^ (byte * _P5)
        h = _rotl(h, 11) * _P1
    return _xx_avalanche(h)


def murmur2_64_np(v, nbytes: int, seed: int = 0):
    # seed ^ (n * M2) in Python ints (numpy scalar mul warns on the
    # intended wraparound)
    h0 = (seed ^ (nbytes * 0xC6A4A7935BD1E995)) & 0xFFFFFFFFFFFFFFFF
    h = np.full(len(v), np.uint64(h0))
    if nbytes == 8:
        k = v * _M2
        k = k ^ (k >> np.uint64(47))
        k = k * _M2
        h = h ^ k
        h = h * _M2
    elif nbytes:
        h = h ^ v
        h = h * _M2
    h = h ^ (h >> np.uint64(47))
    h = h * _M2
    return h ^ (h >> np.uint64(47))


def murmur2_64_pair_np(h0, h1, seed: int = 0):
    """murmur2_64 of the 16-byte LE pair."""
    s0 = (seed ^ (16 * 0xC6A4A7935BD1E995)) & 0xFFFFFFFFFFFFFFFF
    h = np.full(len(h0), np.uint64(s0))
    for w in (h0, h1):
        k = w * _M2
        k = k ^ (k >> np.uint64(47))
        k = k * _M2
        h = h ^ k
        h = h * _M2
    h = h ^ (h >> np.uint64(47))
    h = h * _M2
    return h ^ (h >> np.uint64(47))


def _fmix_np(k):
    k = k ^ (k >> np.uint64(33))
    k = k * _FM1
    k = k ^ (k >> np.uint64(33))
    k = k * _FM2
    return k ^ (k >> np.uint64(33))


def _m3_tail_k1(k1):
    return _rotl(k1 * _3C1, 31) * _3C2


def murmur3_64_np(v, nbytes: int):
    """CH murmurHash3_64 (x64_128's h1 ^ h2) over nbytes <= 8."""
    n = len(v)
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    if nbytes:
        h1 = h1 ^ _m3_tail_k1(v)
    h1 = h1 ^ np.uint64(nbytes)
    h2 = h2 ^ np.uint64(nbytes)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_np(h1)
    h2 = _fmix_np(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1 ^ h2


def murmur3_64_pair_np(p0, p1):
    """murmur3_64 of the 16-byte LE pair — one full x64_128 block."""
    n = len(p0)
    k1 = _rotl(p0 * _3C1, 31) * _3C2
    h1 = k1  # h1 was 0; h1 ^= k1
    h1 = (_rotl(h1, 27)) * np.uint64(5) + _3A1  # + h2 (= 0)
    k2 = _rotl(p1 * _3C2, 33) * _3C1
    h2 = k2  # h2 was 0; h2 ^= k2
    h2 = (_rotl(h2, 31) + h1) * np.uint64(5) + _3A2
    h1 = h1 ^ np.uint64(16)
    h2 = h2 ^ np.uint64(16)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix_np(h1)
    h2 = _fmix_np(h2)
    h1 = h1 + h2
    h2 = h2 + h1
    return h1 ^ h2


def murmur2_32_np(v, nbytes: int, seed: int = 0):
    """MurmurHash2 (32-bit) over nbytes <= 8 of LE layout — the
    murmurHash2_32 / kafkaMurmurHash carrier (mask applied by the
    caller, per CH's Impl)."""
    h = np.full(len(v), (np.uint64(seed) ^ np.uint64(nbytes)) & _M32)
    nwords = nbytes // 4
    for i in range(nwords):
        k = (v >> np.uint64(32 * i)) & _M32
        k = (k * _M2_32) & _M32
        k = k ^ (k >> np.uint64(24))
        k = (k * _M2_32) & _M32
        h = (h * _M2_32) & _M32
        h = h ^ k
    rem = nbytes % 4
    if rem:
        tail = (v >> np.uint64(32 * nwords)) & np.uint64(
            (1 << (8 * rem)) - 1
        )
        h = h ^ tail
        h = (h * _M2_32) & _M32
    h = h ^ (h >> np.uint64(13))
    h = (h * _M2_32) & _M32
    return h ^ (h >> np.uint64(15))


def murmur2_32_pair_np(h0, h1, seed: int = 0):
    """murmur2_32 of the 8-byte LE pair of two UInt32 values."""
    v = (h0 & _M32) | ((h1 & _M32) << np.uint64(32))
    return murmur2_32_np(v, 8, seed)

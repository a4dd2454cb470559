"""MurmurHash3 x64-128 (public algorithm, Austin Appleby, public domain)
implemented from the published reference description — used for URL
identity hashes and Bloom-filter bit derivation (north_star: "murmur3-
hashed URLs").

The scalar implementation is the source of truth shared by the Spark
engine and the single-threaded simulator, so the URL-seen sets are
bit-identical. The batch path (``murmur3_64_batch`` / ``hash_series``)
runs the same algorithm as one numpy kernel over a whole Arrow batch of
strings, bit-exact against the scalar reference.

Bloom bit indices use Kirsch-Mitzenmacher double hashing:
``g_i(x) = h1(x) + i*h2(x) mod m`` — k probes from one 128-bit hash.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

_MASK64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """128-bit murmur3 (x64 variant) → (h1, h2) unsigned 64-bit ints."""
    length = len(data)
    nblocks = length // 16
    h1 = seed & _MASK64
    h2 = seed & _MASK64

    for b in range(nblocks):
        i = b * 16
        k1 = int.from_bytes(data[i : i + 8], "little")
        k2 = int.from_bytes(data[i + 8 : i + 16], "little")
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = data[nblocks * 16 :]
    k1 = 0
    k2 = 0
    tl = len(tail)
    if tl >= 9:
        k2 = int.from_bytes(tail[8:16].ljust(8, b"\0"), "little")
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    if tl > 0:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        if tl < 8:
            k1 &= (1 << (8 * tl)) - 1
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return h1, h2


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def murmur3_64(s: str, seed: int = 0) -> int:
    """Signed 64-bit URL hash (fits Spark/parquet ``bigint``)."""
    h1, _ = murmur3_x64_128(s.encode("utf-8"), seed)
    return h1 - (1 << 64) if h1 >= (1 << 63) else h1


def _np_rotl64(x, r: int):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _np_fmix64(k):
    k ^= k >> np.uint64(33)
    k *= np.uint64(0xFF51AFD7ED558CCD)
    k ^= k >> np.uint64(33)
    k *= np.uint64(0xC4CEB9FE1A85EC53)
    k ^= k >> np.uint64(33)
    return k


def murmur3_64_batch(strings: Sequence[str], seed: int = 0) -> np.ndarray:
    """``murmur3_64`` of every string, as one int64 array, in one numpy
    pass: the UTF-8 bytes are laid out zero-padded to whole 16-byte
    blocks plus one (possibly empty) tail block, so the tail mixes
    unconditionally (zero tail words mix to zero). Rows are visited
    longest first, so block ``b`` updates a prefix of the rows."""
    enc = [s.encode("utf-8") for s in strings]
    n = len(enc)
    lens = np.fromiter(map(len, enc), dtype=np.int64, count=n)
    nblocks = lens // 16
    padded = (nblocks + 1) * 16
    start = np.zeros(n, dtype=np.int64)
    np.cumsum(padded[:-1], out=start[1:])
    raw = np.frombuffer(b"".join(enc), dtype=np.uint8)
    buf = np.zeros(int(padded.sum()), dtype=np.uint8)
    raw_start = np.cumsum(lens) - lens
    buf[np.arange(raw.size) + np.repeat(start - raw_start, lens)] = raw
    words = buf.view("<u8")

    order = np.argsort(-nblocks, kind="stable")
    nb = nblocks[order]
    w0 = start[order] // 8  # first word of each row, in visit order
    h1 = np.full(n, seed & _MASK64, dtype=np.uint64)
    h2 = h1.copy()
    c1, c2 = np.uint64(_C1), np.uint64(_C2)
    five = np.uint64(5)
    with np.errstate(over="ignore"):
        max_blocks = int(nb[0]) if n else 0
        # rows still inside their block section at block b (a prefix)
        active = np.searchsorted(-nb, -np.arange(max_blocks), side="left")
        for b in range(max_blocks):
            a = active[b]
            k1 = words[w0[:a] + 2 * b] * c1
            k1 = _np_rotl64(k1, 31) * c2
            x1 = _np_rotl64(h1[:a] ^ k1, 27) + h2[:a]
            x1 = x1 * five + np.uint64(0x52DCE729)
            k2 = words[w0[:a] + 2 * b + 1] * c2
            k2 = _np_rotl64(k2, 33) * c1
            x2 = _np_rotl64(h2[:a] ^ k2, 31) + x1
            h2[:a] = x2 * five + np.uint64(0x38495AB5)
            h1[:a] = x1

        tail = w0 + 2 * nb
        k2 = _np_rotl64(words[tail + 1] * c2, 33) * c1
        h2 ^= k2
        k1 = _np_rotl64(words[tail] * c1, 31) * c2
        h1 ^= k1

        ln = lens[order].astype(np.uint64)
        h1 ^= ln
        h2 ^= ln
        h1 += h2
        h2 += h1
        h1 = _np_fmix64(h1)
        h2 = _np_fmix64(h2)
        h1 += h2
    out = np.empty(n, dtype=np.int64)
    out[order] = h1.view(np.int64)
    return out


def hash_series(urls: pd.Series, seed: int = 0) -> pd.Series:
    """pandas Series[str] → Series[Int64] of murmur3_64 hashes (NA for
    missing strings), via ``murmur3_64_batch``."""
    valid = urls.notna().to_numpy()
    out = np.zeros(len(urls), dtype=np.int64)
    out[valid] = murmur3_64_batch(urls.to_numpy(dtype=object)[valid].tolist(), seed)
    return pd.Series(pd.arrays.IntegerArray(out, ~valid), index=urls.index)


def bloom_indices(h1: int, h2: int, k: int, m: int):
    """Kirsch-Mitzenmacher: k bit positions from a 128-bit hash."""
    return [((h1 + i * h2) % m) for i in range(k)]

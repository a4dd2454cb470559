"""URL-seen membership structures: sharded Bloom filter (+ cuckoo-filter
fallback when deletions are required).

Role in the engine (north_star): the Bloom filter is a *prefilter* that
cuts the anti-join input — membership is probabilistic (false positives
only), so the exact decision is always the left-anti join against the
seen table; the Bloom just prunes the overwhelmingly-unseen majority
before the shuffle. Exactness therefore never depends on fpp.

Scale math for 10^10 URLs (SURVEY §4.3): at 1% fpp a Bloom needs
~9.6 bits/key ⇒ ~12 GB total ⇒ sharded by ``hash % n_shards`` into
per-executor-sized bitsets (e.g. 1024 shards × ~12 MB). Shards are
built per hash-bucket with grouped Arrow UDFs (each shard sees only its
bucket's keys — co-partitioned with the seen table so build is
shuffle-aligned), stored as binary rows, and either broadcast (small
crawls) or bucket-joined (at scale).

All hot paths are vectorized numpy over int64 hash arrays — no per-key
Python.
"""

from __future__ import annotations

import math

import numpy as np

_U64 = np.uint64


def _fmix64_np(k: np.ndarray) -> np.ndarray:
    k = k.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        k ^= k >> _U64(33)
        k *= _U64(0xFF51AFD7ED558CCD)
        k ^= k >> _U64(33)
        k *= _U64(0xC4CEB9FE1A85EC53)
        k ^= k >> _U64(33)
    return k


def optimal_bits_per_key(fpp: float) -> float:
    return -math.log(fpp) / (math.log(2) ** 2)


def shard_of(hashes: np.ndarray, n_shards: int) -> np.ndarray:
    """Shard routing: high 16 bits of the uint64 view, mod n_shards.
    Spark-side twin: ``shard_col``."""
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    return ((h >> _U64(48)) % _U64(n_shards)).astype(np.int64)


def shard_col(col, n_shards: int):
    """``shard_of`` as an int Column over a long hash column (name or
    Column). Grouped bloom builds route with this and probes with
    ``shard_of``: any disagreement is a bloom false negative."""
    from pyspark.sql import functions as F

    return F.pmod(F.shiftrightunsigned(col, 48), F.lit(n_shards)).cast("int")


def probe_arrays(hashes: np.ndarray):
    """(h1, h2) probe bases for Kirsch-Mitzenmacher double hashing."""
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    h1 = _fmix64_np(h)
    h2 = _fmix64_np(h ^ _U64(0x9E3779B97F4A7C15)) | _U64(1)
    return h1, h2


def build_bits(hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """Bitset (uint8[m/8]) with all probe bits of ``hashes`` set — the
    per-shard build kernel used by the grouped Arrow UDF."""
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(hashes) == 0:
        return bits
    h1, h2 = probe_arrays(hashes)
    mm = _U64(m)
    with np.errstate(over="ignore"):
        for i in range(k):
            idx = (h1 + _U64(i) * h2) % mm
            np.bitwise_or.at(
                bits,
                (idx >> _U64(3)).astype(np.int64),
                np.left_shift(np.uint8(1), (idx & _U64(7)).astype(np.uint8)),
            )
    return bits


def contains_in_bits(bits: np.ndarray, hashes: np.ndarray, m: int, k: int) -> np.ndarray:
    """Membership probe against a single shard's bitset — the kernel of
    the co-grouped (partitioned-table) probe path, where each task holds
    exactly one shard's OR-merged rows."""
    hashes = np.asarray(hashes, dtype=np.int64)
    if hashes.size == 0:
        return np.zeros(0, dtype=bool)
    h1, h2 = probe_arrays(hashes)
    ok = np.ones(hashes.size, dtype=bool)
    mm = _U64(m)
    with np.errstate(over="ignore"):
        for i in range(k):
            idx = (h1 + _U64(i) * h2) % mm
            byte = bits[(idx >> _U64(3)).astype(np.int64)]
            bit = (byte >> (idx & _U64(7)).astype(np.uint8)) & 1
            ok &= bit.astype(bool)
    return ok


class BloomShards:
    """``n_shards`` independent bitsets; key → shard by high bits of the
    (already murmur3-derived) 64-bit hash, bit probes by
    Kirsch-Mitzenmacher double hashing."""

    def __init__(self, n_shards: int, bits_per_shard: int, k: int = 7):
        assert bits_per_shard % 8 == 0
        self.n_shards = n_shards
        self.m = bits_per_shard
        self.k = k
        self.bits = [
            np.zeros(bits_per_shard // 8, dtype=np.uint8) for _ in range(n_shards)
        ]

    @classmethod
    def for_capacity(cls, n_keys: int, fpp: float = 0.01, n_shards: int = 16):
        bits = int(optimal_bits_per_key(fpp) * max(n_keys, 1024))
        per_shard = ((bits // n_shards) // 8 + 1) * 8
        k = max(1, round(0.693 * per_shard * n_shards / max(n_keys, 1)))
        return cls(n_shards, per_shard, min(k, 12))

    # --- per-shard delegation to the engine's kernels ---------------------

    def add_many(self, hashes) -> None:
        hashes = np.asarray(hashes, dtype=np.int64)
        shard = shard_of(hashes, self.n_shards)
        for s in np.unique(shard):
            self.bits[s] |= build_bits(hashes[shard == s], self.m, self.k)

    def contains_many(self, hashes) -> np.ndarray:
        hashes = np.asarray(hashes, dtype=np.int64)
        shard = shard_of(hashes, self.n_shards)
        out = np.ones(hashes.size, dtype=bool)
        for s in np.unique(shard):
            mask = shard == s
            out[mask] = contains_in_bits(self.bits[s], hashes[mask], self.m, self.k)
        return out

    # --- (de)serialization: shard rows for parquet/broadcast -------------

    def shard_bytes(self, s: int) -> bytes:
        return self.bits[s].tobytes()

    def load_shard(self, s: int, blob: bytes) -> None:
        self.bits[s] = np.frombuffer(blob, dtype=np.uint8).copy()

    def merge(self, other: "BloomShards") -> None:
        assert self.n_shards == other.n_shards and self.m == other.m
        for s in range(self.n_shards):
            self.bits[s] |= other.bits[s]

    def to_rows(self):
        """[(shard_id, m, k, blob)] — the parquet/broadcast layout."""
        return [(s, self.m, self.k, self.shard_bytes(s)) for s in range(self.n_shards)]

    @classmethod
    def from_rows(cls, rows):
        rows = sorted(rows)
        n = len(rows)
        bf = cls(n, rows[0][1], rows[0][2])
        for s, _m, _k, blob in rows:
            bf.load_shard(s, blob)
        return bf


class CuckooFilter:
    """Cuckoo filter (Fan et al., CoNEXT'14 public design): 4-way buckets,
    16-bit fingerprints, supports deletion — the fallback structure when
    the seen-set must forget (e.g. recrawl windows)."""

    SLOTS = 4
    MAX_KICKS = 500

    def __init__(self, n_buckets: int, seed: int = 0):
        # power of two buckets for cheap masking
        self.n_buckets = 1 << (n_buckets - 1).bit_length()
        self.table = np.zeros((self.n_buckets, self.SLOTS), dtype=np.uint16)
        self._rng = np.random.default_rng(seed)

    @classmethod
    def for_capacity(cls, n_keys: int, seed: int = 0):
        return cls(max(16, int(n_keys / (cls.SLOTS * 0.9)) + 1), seed)

    def _fp_and_buckets(self, h: int):
        h = h & ((1 << 64) - 1)
        fp = (h >> 40) & 0xFFFF
        if fp == 0:
            fp = 1
        i1 = h & (self.n_buckets - 1)
        i2 = (i1 ^ (fp * 0x5BD1)) & (self.n_buckets - 1)
        return fp, i1, i2

    def insert(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        for idx in (i1, i2):
            row = self.table[idx]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = fp
                return True
        # evict
        idx = i1 if self._rng.integers(2) else i2
        for _ in range(self.MAX_KICKS):
            slot = int(self._rng.integers(self.SLOTS))
            fp, self.table[idx, slot] = int(self.table[idx, slot]), fp
            idx = (idx ^ (fp * 0x5BD1)) & (self.n_buckets - 1)
            row = self.table[idx]
            empty = np.flatnonzero(row == 0)
            if empty.size:
                row[empty[0]] = fp
                return True
        return False  # table over capacity

    def contains(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        return bool((self.table[i1] == fp).any() or (self.table[i2] == fp).any())

    def delete(self, h: int) -> bool:
        fp, i1, i2 = self._fp_and_buckets(h)
        for idx in (i1, i2):
            row = self.table[idx]
            hit = np.flatnonzero(row == fp)
            if hit.size:
                row[hit[0]] = 0
                return True
        return False

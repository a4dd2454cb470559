import numpy as np
import pandas as pd
import pytest

from scalpel_spark.crawl.bloom import BloomShards, CuckooFilter, build_bits, shard_col, shard_of
from scalpel_spark.crawl.hashing import hash_series, murmur3_64, murmur3_x64_128
from scalpel_spark.crawl.urlnorm import canonicalize_url


class TestCanonicalize:
    @pytest.mark.parametrize(
        "raw,expected",
        [
            ("HTTP://Host-0001.Example/page/1", "http://host-0001.example/page/1"),
            ("http://h.example:80/a", "http://h.example/a"),
            ("https://h.example:443/a", "https://h.example/a"),
            ("http://h.example:8080/a", "http://h.example:8080/a"),
            ("http://h.example/a/./b/../c", "http://h.example/a/c"),
            ("http://h.example//a///b", "http://h.example/a/b"),
            ("http://h.example", "http://h.example/"),
            ("http://h.example/p?b=2&a=1", "http://h.example/p?a=1&b=2"),
            ("http://h.example/p?a=1#frag", "http://h.example/p?a=1"),
            ("http://h.example/p#frag", "http://h.example/p"),
            ("ftp://h.example/x", None),
            ("mailto:x@y.z", None),
            ("", None),
            ("http://h.example/dir/", "http://h.example/dir/"),
        ],
    )
    def test_rules(self, raw, expected):
        assert canonicalize_url(raw) == expected

    def test_relative_resolution(self):
        base = "http://h.example/a/b/page.html"
        assert canonicalize_url("../x", base) == "http://h.example/a/x"
        assert canonicalize_url("./y?z=1", base) == "http://h.example/a/b/y?z=1"
        assert canonicalize_url("/abs", base) == "http://h.example/abs"
        assert (
            canonicalize_url("//other.example/p", base) == "http://other.example/p"
        )

    def test_idempotent(self):
        urls = [
            "HTTP://A.B:80/x/../y//z?b=2&a=1#f",
            "https://q.example:8443/deep/./path/",
        ]
        for u in urls:
            c = canonicalize_url(u)
            assert canonicalize_url(c) == c


class TestMurmur3:
    # Published reference vectors for MurmurHash3 x64_128 (seed 0).
    def test_known_vectors(self):
        h1, h2 = murmur3_x64_128(b"")
        assert (h1, h2) == (0, 0)
        h1, h2 = murmur3_x64_128(b"hello")
        assert h1 == 0xCBD8A7B341BD9B02
        assert h2 == 0x5B1E906A48AE1D19
        h1, h2 = murmur3_x64_128(b"hello, world")
        assert h1 == 0x342FAC623A5EBC8E
        assert h2 == 0x4CDCBC079642414D

    def test_seed_changes_hash(self):
        assert murmur3_64("x", 0) != murmur3_64("x", 1)

    def test_series_matches_scalar(self):
        """The numpy batch kernel is bit-exact against the scalar
        reference: every tail length over 0–3 blocks, 2-, 3- and 4-byte
        UTF-8, missing values (→ NA), a non-default seed, the empty
        Series; the index is kept."""
        strs = ["x" * n for n in range(49)] + ["http://h.example/p"]
        strs += ["h/é" * n for n in range(1, 12)]
        strs += ["€" * n + "a" for n in range(12)]
        strs += ["😀" * n + "ab" for n in range(10)]
        s = pd.Series(strs + [None], index=range(100, 100 + len(strs) + 1))
        out = hash_series(s)
        assert out.dtype == "Int64"
        assert list(out.index) == list(s.index)
        assert out.iloc[:-1].tolist() == [murmur3_64(x) for x in strs]
        assert pd.isna(out.iloc[-1])
        assert hash_series(s.iloc[:20], seed=3).tolist() == [
            murmur3_64(x, 3) for x in strs[:20]
        ]
        empty = hash_series(pd.Series([], dtype=object))
        assert len(empty) == 0 and empty.dtype == "Int64"

    def test_int64_range(self):
        v = murmur3_64("http://host.example/some/page")
        assert -(1 << 63) <= v < (1 << 63)


class TestBloom:
    def test_no_false_negatives(self):
        rng = np.random.default_rng(42)
        keys = rng.integers(-(1 << 62), 1 << 62, size=20000, dtype=np.int64)
        bf = BloomShards.for_capacity(20000, fpp=0.01, n_shards=8)
        bf.add_many(keys)
        assert bf.contains_many(keys).all()

    def test_fpp_bounded(self):
        rng = np.random.default_rng(7)
        keys = rng.integers(-(1 << 62), 1 << 62, size=20000, dtype=np.int64)
        other = rng.integers(-(1 << 62), 1 << 62, size=20000, dtype=np.int64)
        other = np.setdiff1d(other, keys)
        bf = BloomShards.for_capacity(20000, fpp=0.01, n_shards=8)
        bf.add_many(keys)
        fp = bf.contains_many(other).mean()
        assert fp < 0.03

    def test_roundtrip_rows(self):
        keys = np.arange(1000, dtype=np.int64) * 2654435761
        bf = BloomShards.for_capacity(1000, n_shards=4)
        bf.add_many(keys)
        bf2 = BloomShards.from_rows(bf.to_rows())
        assert bf2.contains_many(keys).all()
        assert bf2.n_shards == 4 and bf2.m == bf.m and bf2.k == bf.k

    def test_merge(self):
        a = BloomShards(4, 4096)
        b = BloomShards(4, 4096)
        ka = np.arange(100, dtype=np.int64)
        kb = np.arange(100, 200, dtype=np.int64) * 7
        a.add_many(ka)
        b.add_many(kb)
        a.merge(b)
        assert a.contains_many(ka).all() and a.contains_many(kb).all()

    @pytest.mark.parametrize("n_shards,m,k", [(16, 1 << 16, 7), (5, 800, 12), (1, 4096, 3)])
    def test_per_shard_kernel_bits_found_by_contains_many(self, n_shards, m, k):
        """The engine builds shards with ``build_bits`` over each shard's
        keys and probes with ``BloomShards``: if the two disagree, the
        broadcast probe gives false negatives and a seen URL skips the
        exact seen check."""
        rng = np.random.default_rng(n_shards)
        keys = rng.integers(-(1 << 63), (1 << 63) - 1, size=5000, dtype=np.int64)
        shard = shard_of(keys, n_shards)
        bf = BloomShards(n_shards, m, k)
        for s in range(n_shards):
            bf.load_shard(s, build_bits(keys[shard == s], m, k).tobytes())
        assert bf.contains_many(keys).all()
        added = BloomShards(n_shards, m, k)
        added.add_many(keys)
        assert all((x == y).all() for x, y in zip(added.bits, bf.bits))

    def test_shard_col_matches_shard_of(self, spark):
        """Grouped builds route keys with the Column ``shard_col``, probes
        with numpy ``shard_of``: a key routed to a different shard than the
        one probed is a bloom false negative."""
        rng = np.random.default_rng(3)
        edge = [0, -1, 1, (1 << 63) - 1, -(1 << 63), (1 << 48) - 1, 1 << 48, -(1 << 48)]
        keys = np.concatenate(
            [np.array(edge, dtype=np.int64),
             rng.integers(-(1 << 63), (1 << 63) - 1, size=2000, dtype=np.int64)]
        )
        df = spark.createDataFrame(pd.DataFrame({"h": keys}))
        shard_counts = (1, 4, 7, 1024, 65537)
        got = df.select(
            "h", *[shard_col("h", n).alias(f"s{n}") for n in shard_counts]
        ).toPandas()
        assert got["h"].to_numpy().tolist() == keys.tolist()
        for n in shard_counts:
            assert got[f"s{n}"].tolist() == shard_of(keys, n).tolist(), n


class TestCuckoo:
    def test_insert_contains_delete(self):
        cf = CuckooFilter.for_capacity(5000)
        keys = [murmur3_64(f"url-{i}") for i in range(3000)]
        for k in keys:
            assert cf.insert(k)
        assert all(cf.contains(k) for k in keys)
        for k in keys[:1000]:
            assert cf.delete(k)
        # deleted keys mostly gone (fp collisions possible but rare)
        still = sum(cf.contains(k) for k in keys[:1000])
        assert still < 50
        assert all(cf.contains(k) for k in keys[1000:])

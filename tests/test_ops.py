"""Behavioral checks for training-pipeline ops beyond the SQL oracles:
minhash/simhash actually find planted near-duplicates, ANN returns true
neighbors, image ops decode/measure correctly."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the spark engine "
        "shuffles partitions and the bloom filter prunes the anti join"
    )
    rows = [
        (0, base),
        (1, base + " exactly"),  # near-dup of 0
        (2, base.replace("quick", "fast")),  # near-dup of 0
        (3, "completely different text about databases and columnar formats"),
        (4, "another unrelated document mentioning windows aggregates joins"),
        (5, base),  # exact dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs_with_dups):
    from scalpel_spark.textops import exact_dedup

    out = {r.rep_doc_id: r.n_dupes for r in exact_dedup(docs_with_dups).collect()}
    assert out[0] == 2  # docs 0 and 5
    assert sum(out.values()) == 6


def test_minhash_finds_planted_neardups(spark, docs_with_dups):
    from scalpel_spark.textops import minhash_neardup

    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_neardup(docs_with_dups, threshold=0.5).collect()
    }
    assert (0, 5) in pairs  # exact dup always survives
    assert (0, 2) in pairs or (0, 1) in pairs  # near-dups found
    assert not any(3 in p or 4 in p for p in pairs)  # unrelated docs never pair


def test_simhash_finds_planted_neardups(spark, docs_with_dups):
    from scalpel_spark.textops import simhash_neardup

    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_neardup(docs_with_dups, max_hamming=12).collect()
    }
    assert pairs.get((0, 5)) == 0
    assert (0, 2) in pairs


def test_lang_id(spark):
    from scalpel_spark.textops import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat is in the house and it is happy"),
            (2, "der Hund ist nicht in das Haus und die Katze"),
            (3, "le chat est dans la maison et il est content"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "fr" and out[4] == "und"


def test_ann_brute_force_finds_true_neighbor(spark):
    from scalpel_spark.annops import cosine_topk

    rng = np.random.default_rng(0)
    base = rng.standard_normal(16).astype(np.float32)
    rows = []
    for i in range(50):
        v = rng.standard_normal(16).astype(np.float32)
        rows.append((i, [float(x) for x in v]))
    # vec 100 ≈ vec 0 direction
    rows.append((100, [float(x) for x in (np.array(rows[0][1]) + 0.01 * base)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") == 100)
    out = cosine_topk(df, q, k=1).collect()
    assert out[0].neighbor_id == 0


def test_lsh_topk_subset_of_bruteforce_space(spark):
    from scalpel_spark.annops import lsh_topk

    rng = np.random.default_rng(1)
    rows = [
        (i, [float(x) for x in rng.standard_normal(16).astype(np.float32)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 3)
    out = lsh_topk(df, q, k=3, n_planes=6)
    rows = out.collect()
    assert all(1 <= r.rank <= 3 for r in rows)
    assert all(r.query_id != r.neighbor_id for r in rows)


def test_hamming_neardup_pairs_exact_vs_bruteforce(spark):
    """The pigeonhole pair search is EXACT for any max_hamming (r1 fix:
    the 16-bit-chunk variant silently missed pairs past distance 3),
    including duplicate-signature cliques (degenerate buckets)."""
    from scalpel_spark.textops import hamming_neardup_pairs

    rng = np.random.default_rng(7)
    base = rng.integers(-(2**62), 2**62, size=40).astype(np.int64)
    sigs = []
    for i, b in enumerate(base):
        sigs.append((i, int(b)))
    # planted: near neighbors at controlled distances + a 5-doc clique
    for j, d in enumerate((1, 3, 7, 10, 15)):
        v = int(base[j]) & ((1 << 64) - 1)
        for bit in rng.choice(64, size=d, replace=False):
            v ^= 1 << int(bit)
        sigs.append((100 + j, v - (1 << 64) if v >= (1 << 63) else v))
    for j in range(5):
        sigs.append((200 + j, int(base[20])))
    df = spark.createDataFrame(sigs, "doc_id long, sig long")

    arr = {i: np.uint64(np.int64(v)) for i, v in sigs}
    for k in (0, 4, 10):
        expect = set()
        ids = sorted(arr)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                h = bin(int(arr[ids[x]] ^ arr[ids[y]])).count("1")
                if h <= k:
                    expect.add((ids[x], ids[y], h))
        got = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_neardup_pairs(df, "sig", max_hamming=k).collect()
        }
        assert got == expect, f"k={k}: {got ^ expect}"


def test_hamming_neardup_pairs_degenerate_forces_indirect(spark):
    """A corpus where most docs share a handful of signatures must take
    the distinct-sig (indirect) blocking path — the direct (id, sig)
    join would square the clique — and still return the exact pair set
    (every clique pair at hamming 0, plus the cross-clique pairs)."""
    from scalpel_spark.textops import hamming_neardup_pairs

    a = 0x0123456789ABCDEF
    b = a ^ (1 << 5) ^ (1 << 40)  # hamming(a, b) = 2
    c = 0x7EDCBA9876543210  # far from both
    sigs = (
        [(i, a) for i in range(100)]
        + [(100 + i, b) for i in range(80)]
        + [(200 + i, c) for i in range(3)]
    )
    df = spark.createDataFrame(
        [(i, v - (1 << 64) if v >= (1 << 63) else v) for i, v in sigs],
        "doc_id long, sig long",
    )
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_neardup_pairs(df, "sig", max_hamming=3).collect()
    }
    expect = set()
    ids_a, ids_b = list(range(100)), list(range(100, 180))
    for grp in (ids_a, ids_b, [200, 201, 202]):
        for x in range(len(grp)):
            for y in range(x + 1, len(grp)):
                expect.add((grp[x], grp[y], 0))
    for x in ids_a:
        for y in ids_b:
            expect.add((x, y, 2))
    assert got == expect


def test_simhash_matches_sequential_reference(spark, docs_with_dups):
    """Vectorized simhash64 == a sequential FNV→shingle-poly→fmix→
    bit-vote reference (shingle_k=1: one feature per word)."""
    from scalpel_spark.textops import _WORD_RE, simhash64

    def fmix(h):
        m = (1 << 64) - 1
        h ^= h >> 33
        h = (h * 0xFF51AFD7ED558CCD) & m
        h ^= h >> 33
        h = (h * 0xC4CEB9FE1A85EC53) & m
        h ^= h >> 33
        return h

    def ref(text):
        words = _WORD_RE.findall(text.lower())
        if not words:
            return 0
        votes = [0] * 64
        for w in words:
            h = 1469598103934665603
            for byte in w.encode():
                h = ((h ^ byte) * 1099511628211) & ((1 << 64) - 1)
            h = fmix(h)
            for i in range(64):
                votes[i] += 1 if (h >> i) & 1 else -1
        v = sum(1 << i for i in range(64) if votes[i] >= 0)
        return v - (1 << 64) if v >= (1 << 63) else v

    got = {
        r.doc_id: r.simhash
        for r in simhash64(docs_with_dups, shingle_k=1).collect()
    }
    for row in docs_with_dups.collect():
        assert got[row.doc_id] == ref(row.text), row.doc_id


def test_fingerprint_matches_sequential_reference(spark, docs_with_dups):
    from scalpel_spark.textops import _WORD_RE, doc_fingerprint

    def ref(text):
        h = 0
        for w in _WORD_RE.findall(text.lower()):
            wh = 1469598103934665603
            for byte in w.encode():
                wh = ((wh ^ byte) * 1099511628211) & ((1 << 64) - 1)
            h = (h * 31 + wh) & ((1 << 64) - 1)
        return h - (1 << 64) if h >= (1 << 63) else h

    got = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs_with_dups).collect()}
    for row in docs_with_dups.collect():
        assert got[row.doc_id] == ref(row.text), row.doc_id


def test_ann_lsh_recall_gate(spark):
    """r1 fix: single-table 12-plane LSH had recall ≈ 0. The multi-table
    + multiprobe configuration must reach ≥ 0.9 measured recall against
    exact cosine top-k on the real embeddings table."""
    from scalpel_spark.annops import lsh_recall

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") % 97 == 0)
    row = lsh_recall(e, q, k=5).collect()[0]
    assert row.n_exact > 0 and row.n_queries > 0
    assert row.n_hit / row.n_exact >= 0.9, row


def test_ivf_recall_lift(spark):
    """IVF gate: on this near-uniform 64-dim corpus (partition-based
    ANN's worst case) the learned quantizer must still beat random
    probing — nprobe/n_lists = 5/10 random probes recall ~50% in
    expectation; the k-means lists measure 66.7% at sf0.001
    (deterministic under seed 42)."""
    from scalpel_spark.annops import ivf_recall

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") % 97 == 0)
    row = ivf_recall(e, q, k=5, n_lists=10, nprobe=5, n_iters=15).collect()[0]
    assert row.n_exact == row.n_queries * 5
    assert row.n_hit / row.n_exact >= 0.6, row


def test_ivf_deterministic_and_bounded(spark):
    """Same seed → identical result sets (the centroid training collect
    is TakeOrdered-bounded, so partitioning can't change it), and the
    candidate join scans ≈ nprobe/n_lists of the corpus, never all of
    it."""
    from scalpel_spark.annops import ivf_assign, ivf_centroids, ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.where(F.col("vec_id") % 97 == 0)
    a = {(r.query_id, r.neighbor_id, r.rank) for r in ivf_topk(e, q, k=3).collect()}
    b = {
        (r.query_id, r.neighbor_id, r.rank)
        for r in ivf_topk(e.repartition(7), q, k=3).collect()
    }
    assert a == b and len(a) > 0
    cents = ivf_centroids(e, n_lists=10, n_iters=15)
    assert cents.shape == (10, 64)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-5)
    n = e.count()
    nq = q.count()
    n_cand = (
        ivf_assign(q, cents, 5, out_id="query_id")
        .join(ivf_assign(e, cents, 1, out_id="neighbor_id"), "list_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
        .count()
    )
    assert n_cand <= 0.55 * nq * (n - 1), n_cand


def test_ivf_degenerate_corpus(spark):
    """All-identical vectors: every k-means list but one dies; the
    dead-list reseed keeps training finite and assignment still
    produces one list per vector."""
    from scalpel_spark.annops import ivf_centroids, ivf_topk

    rows = [(i, [1.0] * 8) for i in range(20)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = ivf_centroids(e, n_lists=4, n_iters=5)
    assert cents.shape == (4, 8)
    out = ivf_topk(e, e.where(F.col("vec_id") == 0), k=3, n_lists=4, nprobe=2)
    got = out.collect()
    assert len(got) == 3  # ties broken by id: neighbors 1,2,3
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [1, 2, 3]


@pytest.fixture(scope="module")
def images_df(spark, tmp_path_factory):
    from scalpel_spark.datagen.world import WorldParams, write_world

    d = tmp_path_factory.mktemp("imgs")
    write_world(str(d), WorldParams(n_hosts=2, n_pages=10, n_images=20))
    return spark.read.parquet(str(d / "images.parquet"))


def test_image_features_match_stored_phash(spark, images_df):
    from scalpel_spark.imageops import image_features

    feats = image_features(images_df).join(
        images_df.select("image_id", "phash"), "image_id"
    )
    rows = feats.collect()
    assert len(rows) == 20
    for r in rows:
        assert r.decode_ok
        assert r.phash_check == r.phash  # stored phash == recomputed
        assert 0 <= r.mean_r <= 255
        assert sum(r.luma_hist) > 0


def test_thumbnails_roundtrip(spark, images_df):
    from scalpel_spark.datagen.images import decode_png
    from scalpel_spark.imageops import thumbnails

    rows = thumbnails(images_df, 8, 8).collect()
    assert len(rows) == 20
    for r in rows:
        px = decode_png(bytes(r.thumb))
        assert px.shape == (8, 8, 3)


def test_phash_neardup_self_consistent(spark, images_df):
    from scalpel_spark.imageops import phash_neardup

    dup = images_df.select(
        F.concat(F.lit("copy-"), "image_id").alias("image_id"), "phash"
    )
    both = images_df.select("image_id", "phash").unionByName(dup)
    pairs = phash_neardup(both, max_hamming=0).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # every image pairs with its copy at distance 0
    for r in images_df.select("image_id").collect():
        a, b = sorted([r.image_id, f"copy-{r.image_id}"])
        assert (a, b) in found


class TestAudio:
    """WAV multimodal path: wire format, decode, features."""

    def test_wav_golden_header(self):
        """Hardcoded spec bytes (RIFF/fmt/data layout, little-endian PCM16
        mono @ 8kHz) — so encoder and decoder can't co-validate a private
        dialect."""
        import numpy as np

        from scalpel_spark.datagen.wav import decode_wav, encode_wav

        blob = encode_wav(np.array([0, 1000, -1000, 32767, -32768], np.int16), 8000)
        assert blob[0:4] == b"RIFF" and blob[8:12] == b"WAVE"
        assert blob[12:16] == b"fmt " and blob[16:20] == bytes([16, 0, 0, 0])
        # PCM(1), mono(1), 8000 Hz, 16000 B/s, block 2, 16 bits
        assert blob[20:36] == bytes.fromhex("0100 0100 401f0000 803e0000 0200 1000".replace(" ", ""))
        assert blob[36:40] == b"data" and blob[40:44] == bytes([10, 0, 0, 0])
        assert blob[44:54] == bytes.fromhex("0000 e803 18fc ff7f 0080".replace(" ", ""))
        sr, s = decode_wav(blob)
        assert sr == 8000 and s.tolist() == [0, 1000, -1000, 32767, -32768]

    def test_wav_decoder_tolerates_extra_chunks(self):
        import struct

        import numpy as np

        from scalpel_spark.datagen.wav import decode_wav, encode_wav

        blob = encode_wav(np.arange(7, dtype=np.int16))
        # splice an unknown (odd-sized, word-padded) chunk before fmt
        extra = b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        spliced = blob[:12] + extra + blob[12:]
        spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
        sr, s = decode_wav(spliced)
        assert sr == 8000 and s.tolist() == list(range(7))

    def test_wav_rejects_garbage(self):
        import pytest as _pytest

        from scalpel_spark.datagen.wav import decode_wav

        with _pytest.raises(ValueError):
            decode_wav(b"\x89PNG not wave")

    def test_audio_features_centroid_of_pure_sine(self, spark):
        """The FFT feature (not SQL-expressible, so gated here): spectral
        centroid of a pure sine lands on its frequency."""
        import numpy as np

        from scalpel_spark.datagen.wav import encode_wav
        from scalpel_spark.imageops import audio_features

        sr, n = 8000, 4000
        rows = []
        for aid, f0 in ((1, 440.0), (2, 1200.0)):
            t = np.arange(n) / sr
            s = (np.sin(2 * np.pi * f0 * t) * 20000).astype(np.int16)
            rows.append((aid, bytearray(encode_wav(s, sr))))
        df = spark.createDataFrame(rows, "audio_id long, bytes binary")
        got = {r["audio_id"]: r for r in audio_features(df).collect()}
        assert got[1]["decode_ok"] and got[2]["decode_ok"]
        assert abs(got[1]["centroid_mhz"] / 1000 - 440.0) < 5.0
        assert abs(got[2]["centroid_mhz"] / 1000 - 1200.0) < 5.0
        assert got[1]["duration_ms"] == 500


def test_ngram_neardup_screen_keeps_unscreened_verify_pairs(spark, docs_with_dups):
    """ngram_jaccard_neardup's estimate screen must return the same
    verified pair set as exact_jaccard_verify over the UNSCREENED
    banding candidates (the screen only drops pairs ~3 sigma below the
    threshold, which exact verification would reject anyway) — it
    trades verify volume, never answers."""
    from scalpel_spark.textops import (
        char_minhash_signatures,
        char_ngram_set_col,
        exact_jaccard_verify,
        lsh_candidate_pairs,
        ngram_jaccard_neardup,
        release_candidate_cache,
    )

    base = docs_with_dups.where("doc_id = 0").first()["text"]
    typo = base.replace("brown", "browm").replace("partitions", "partitons")
    docs = docs_with_dups.unionByName(
        spark.createDataFrame([(6, typo)], "doc_id long, text string")
    )
    screened = {
        (r["id_a"], r["id_b"], r["jacc_i4"])
        for r in ngram_jaccard_neardup(docs, ngram_n=4, threshold=0.8).collect()
    }
    cand = lsh_candidate_pairs(char_minhash_signatures(docs, ngram_n=4), n_bands=16)
    plain = {
        (r["id_a"], r["id_b"], r["jacc_i4"])
        for r in exact_jaccard_verify(
            cand, docs, 0.8, set_col=char_ngram_set_col(F.col("text"), 4)
        ).collect()
    }
    release_candidate_cache()
    assert any(p[:2] == (0, 6) for p in plain)  # the planted char-level near-dup
    assert screened == plain


def _fnv1a(s):
    h = 1469598103934665603
    for byte in s.encode("utf-8"):
        h = ((h ^ byte) * 1099511628211) & ((1 << 64) - 1)
    return h


def _word_shingle_reference(text, k=3):
    """k-word shingle hashes (before fmix64): the degree-(k-1) polynomial
    over consecutive FNV-1a word hashes; < k words → one shingle over
    all words; no words → the constant 0."""
    import re

    wh = [_fnv1a(w) for w in re.findall(r"\w+", (text or "").lower())]
    if not wh:
        return [0]
    kk = min(k, len(wh))
    out = []
    for i in range(len(wh) - kk + 1):
        acc = wh[i]
        for w in wh[i + 1 : i + kk]:
            acc = (acc * 0x100000001B3 + w) & ((1 << 64) - 1)
        out.append(acc)
    return out


def _fmix64(k):
    mask = (1 << 64) - 1
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & mask
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & mask
    return k ^ (k >> 33)


def _minhash_reference(features, n_hashes=64):
    """One doc's minhash signature: per seed_i = i · 0x9E3779B97F4A7C15
    (mod 2^64), the min over features of fmix64(feature ^ seed_i), as
    int64."""
    seeds = [(i * 0x9E3779B97F4A7C15) & ((1 << 64) - 1) for i in range(1, n_hashes + 1)]
    mins = [min(_fmix64(f ^ seed) for f in features) for seed in seeds]
    return [v - (1 << 64) if v >= 1 << 63 else v for v in mins]


def test_minhash_signatures_match_per_doc_reference(spark, docs_with_dups):
    """Both minhash families pin to a one-doc-at-a-time reference: word
    3-shingles (fmix64 of the shingle polynomial) and distinct char
    4-grams (FNV-1a), each through the same 64-seed min-reduction."""
    from scalpel_spark.textops import char_minhash_signatures, minhash_signatures

    docs = docs_with_dups.unionByName(
        spark.createDataFrame(
            [(7, ""), (8, None), (9, "two words"), (10, "abc")], "doc_id long, text string"
        )
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    word = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
    char = {r["doc_id"]: r["sig"] for r in char_minhash_signatures(docs, ngram_n=4).collect()}
    assert set(word) == set(char) == set(texts)
    for doc_id, text in texts.items():
        shingles = {_fmix64(h) for h in _word_shingle_reference(text)}
        assert word[doc_id] == _minhash_reference(shingles), doc_id
        t = (text or "").lower()
        grams = [t[i : i + 4] for i in range(len(t) - 3)] if len(t) > 4 else [t]
        assert char[doc_id] == _minhash_reference({_fnv1a(g) for g in grams}), doc_id


def test_image_features_corrupt_blob_yields_decode_false(spark):
    """Corrupt/truncated payloads must surface as decode_ok=false rows
    (the README decode contract), never fail the job."""
    from scalpel_spark.datagen.images import encode_png
    import numpy as np

    good = encode_png(np.zeros((8, 8, 3), np.uint8))
    rows = [
        ("ok", bytearray(good), "png"),
        ("trunc_png", bytearray(good[:20]), "png"),
        ("garbage_jpeg", bytearray(b"\xff\xd8\xff\xdb junk"), "jpeg"),
        ("unknown_fmt", bytearray(good), "webp"),
    ]
    from scalpel_spark.imageops import image_features

    df = spark.createDataFrame(rows, "image_id string, bytes binary, fmt string")
    got = {r["image_id"]: r["decode_ok"] for r in image_features(df).collect()}
    assert got == {
        "ok": True,
        "trunc_png": False,
        "garbage_jpeg": False,
        "unknown_fmt": False,
    }


class TestVideo:
    """MJPEG multimodal path: frame splitting by JPEG segment structure,
    every-Nth sampling, frame ORDER + pixel fidelity (the parts the
    video_stats SQL oracle can't express)."""

    def test_split_walks_segment_structure_not_marker_search(self):
        """Frame boundaries must come from walking segment lengths:
        entropy data is byte-stuffed (FF→FF00) so FFD8 can't occur
        there, but metadata segment PAYLOADS carry arbitrary bytes —
        plant a COM segment containing a literal FF D8 (as real EXIF
        thumbnails do); naive SOI search would mis-split."""
        from scalpel_spark.datagen.mjpeg import encode_mjpeg, split_mjpeg

        rng = np.random.default_rng(0)
        frames = [
            rng.integers(0, 256, (24, 24, 3), dtype=np.uint8) for _ in range(4)
        ]
        blob = bytearray(encode_mjpeg(frames, quality=95))
        # COM (FFFE) with an embedded fake SOI, injected after frame 0's SOI
        payload = b"fake\xff\xd8\xff\xe0soi"
        com = b"\xff\xfe" + (len(payload) + 2).to_bytes(2, "big") + payload
        blob[2:2] = com
        blob = bytes(blob)
        assert blob.count(b"\xff\xd8") > len(frames)  # hazard present
        spans = split_mjpeg(blob)
        assert len(spans) == len(frames)
        # spans still tile the stream exactly
        assert spans[0][0] == 0 and sum(s[1] for s in spans) == len(blob)

    def test_frame_sample_order_and_fidelity(self, spark):
        """Sampled frame f must decode to the PLANTED frame f: PSNR vs
        the matching planted pixels is codec-bounded (>=30 dB even on
        worst-case noise content), while vs any OTHER frame it collapses
        to ~8 dB — proves ordering, not just decodability."""
        from scalpel_spark.datagen.mjpeg import decode_mjpeg_frame, split_mjpeg
        from scalpel_spark.imageops import synthesize_videos, video_frame_sample

        ids = spark.range(0, 8).select(F.col("id").alias("doc_id"))
        vids = synthesize_videos(ids)
        rows = video_frame_sample(vids, every_n=2).collect()
        blobs = {r.video_id: bytes(r.bytes) for r in vids.collect()}

        def psnr(a, b):
            mse = ((a.astype(np.float64) - b.astype(np.float64)) ** 2).mean()
            return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)

        assert rows and all(r.decode_ok for r in rows)
        for r in rows:
            g = r.video_id % 32
            nf = 4 + (g % 5)
            w = 16 + (g % 3) * 8
            h = 16 + (g * 5 % 2) * 16
            spans = split_mjpeg(blobs[r.video_id])
            assert len(spans) == nf
            off, ln = spans[r.frame_idx]
            px = decode_mjpeg_frame(blobs[r.video_id], off, ln)
            planted = np.random.default_rng(3000 + g * 64 + r.frame_idx).integers(
                0, 256, (h, w, 3), dtype=np.uint8
            )
            assert psnr(px, planted) >= 30.0
            other = np.random.default_rng(
                3000 + g * 64 + (r.frame_idx + 1) % nf
            ).integers(0, 256, (h, w, 3), dtype=np.uint8)
            assert psnr(px, other) < 15.0

    def test_corrupt_stream_yields_decode_false_row(self, spark):
        from scalpel_spark.datagen.mjpeg import encode_mjpeg
        from scalpel_spark.imageops import video_frame_sample

        good = encode_mjpeg(
            [np.zeros((16, 16, 3), np.uint8), np.full((16, 16, 3), 7, np.uint8)]
        )
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(good[:-5]))],  # mid-frame cut
            "video_id long, bytes binary",
        )
        got = {
            r.video_id: (r.frame_idx, r.decode_ok)
            for r in video_frame_sample(df, every_n=1).collect()
            if not r.decode_ok or r.video_id == 2
        }
        assert got.get(2) == (-1, False)

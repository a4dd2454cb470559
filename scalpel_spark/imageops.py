"""Multimodal (image) operators over the input_hint table
``(image_id, bytes, w, h, fmt, caption, phash)``.

The binary payload is opaque to Catalyst; every pixel-touching operator
is one Arrow-batched row kernel (``spark.util.map_rows``: schema, carry
columns, decode memo). PNG decode (pure numpy+zlib), baseline JPEG
decode (pure-numpy SOF0, ``datagen/jpeg.py``), MJPEG video frames
(``datagen/mjpeg.py``) and WAV decode (RIFF/PCM16, ``datagen/wav.py``)
are real; formats no codec here reads (e.g. progressive/subsampled
jpeg) raise ``NotImplementedError`` inside the kernel and surface as
``decode_ok=false`` rows.

Scale notes: feature rows are tiny (stats, hashes) — the shuffle after
these operators never carries pixels. ``phash_neardup`` joins on 16-bit
hash chunks (same block-trick as simhash) so hamming search is
bucket-local, never all-pairs.
"""

from __future__ import annotations

import math
import zlib
from struct import error as struct_error

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .datagen.images import decode_png, mean_hash_64
from .spark.util import map_rows, spread

#: Rec.601 luma weights (hoisted: building the array per row costs more
#: than the matmul on thumbnail-sized images)
_LUMA_W = np.array([0.299, 0.587, 0.114])

def decode_image(blob: bytes, fmt: str) -> np.ndarray:
    """bytes → (h, w, 3) uint8. Native here: 'png' (numpy+zlib codec)
    and baseline 'jpeg'/'jpg' (pure-numpy SOF0 codec)."""
    if fmt == "png":
        return decode_png(blob)
    if fmt in ("jpeg", "jpg"):
        from .datagen.jpeg import decode_jpeg

        return decode_jpeg(blob)
    raise NotImplementedError(
        f"decode for fmt={fmt!r} requires an image library not present in "
        "this environment; plug a decoder in here (signature is stable)"
    )


def resize_block_mean(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic block-mean downscale (no interpolation libs)."""
    h, w, _ = px.shape
    ys = (np.arange(out_h + 1) * h) // out_h
    xs = (np.arange(out_w + 1) * w) // out_w
    out = np.empty((out_h, out_w, 3), dtype=np.uint8)
    f = px.astype(np.float32)
    for i in range(out_h):
        for j in range(out_w):
            block = f[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i, j] = block.mean(axis=(0, 1)).astype(np.uint8)
    return out


#: ``luma_hist`` has 16 bins
_FEATURE_SCHEMA = (
    "image_id string, decoded_w int, decoded_h int, mean_r double, "
    "mean_g double, mean_b double, luma_hist array<int>, "
    "phash_check bigint, decode_ok boolean"
)


def image_features(df: DataFrame, carry_cols: tuple = ()) -> DataFrame:
    """Decode → per-image stats + recomputed phash (integrity check
    against the stored ``phash`` column).

    ``carry_cols`` pass input columns through the Arrow stage unchanged
    (same pattern as extract_records): callers that need features NEXT
    TO source metadata (image_stats) get one decode pass instead of a
    join whose other branch re-runs the upstream pipeline."""

    def features(blob, fmt) -> list:
        try:
            px = decode_image(bytes(blob), fmt)
            gray = px.astype(np.float64) @ _LUMA_W
            hist = np.histogram(gray, bins=16, range=(0, 256))[0]
            return [
                (
                    int(px.shape[1]),
                    int(px.shape[0]),
                    float(px[:, :, 0].mean()),
                    float(px[:, :, 1].mean()),
                    float(px[:, :, 2].mean()),
                    hist.astype(int).tolist(),
                    mean_hash_64(px),
                    True,
                )
            ]
        except (NotImplementedError, ValueError, zlib.error, struct_error):
            # unsupported fmt, corrupt/truncated stream, bad inflate —
            # all surface as decode_ok=false rows per the README decode
            # contract, never failed jobs
            return [(None, None, None, None, None, None, None, False)]

    # features are a pure function of (blob, fmt): the memo decodes each
    # distinct blob once per task; ids ride along as carry columns
    return map_rows(
        df,
        ["bytes", "fmt"],
        _FEATURE_SCHEMA,
        features,
        carry_cols=("image_id", *carry_cols),
        memo=True,
    )


def thumbnails(df: DataFrame, out_h: int = 8, out_w: int = 8) -> DataFrame:
    """Decode → block-mean resize → re-encoded PNG thumbnail column."""
    from .datagen.images import encode_png

    def thumb(blob, fmt) -> list:
        try:
            px = decode_image(bytes(blob), fmt)
            return [(encode_png(resize_block_mean(px, out_h, out_w)),)]
        except (NotImplementedError, ValueError, zlib.error, struct_error):
            return [(None,)]

    return map_rows(
        df, ["bytes", "fmt"], "image_id string, thumb binary", thumb, carry_cols=["image_id"]
    )


_IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint"
)


def synthesize_images(
    ids: DataFrame, id_col: str = "doc_id", n_groups: int = 64
) -> DataFrame:
    """Deterministic input_hint-shaped images table
    ``(image_id, bytes, w, h, fmt, caption, phash)`` derived from an id
    column — the planted-truth corpus behind the image CORRECTNESS rows.

    Every attribute is a closed-form function of the integer id, so a
    SQL oracle can recompute the expected metadata without decoding:

    * ``group  = id % n_groups`` — all members share the same pixels
      (same numpy PRNG seed), making same-group rows planted near-dups;
    * ``w = 16 + (group % 5) * 4``, ``h = 16 + (group * 7 % 3) * 8``;
    * ``fmt = 'png'`` for even ids, baseline ``'jpeg'`` (q95) for odd;
    * ``caption = 'cap-' || id``;
    * ``phash`` = mean_hash_64 of the DECODED bytes (not the source
      pixels), preserving the datagen invariant that the stored phash
      matches what a reader of the blob recomputes, for lossy formats
      too (datagen/world.py rule).

    Pixels are uniform noise → distinct groups are maximally spread in
    phash space, while png/jpeg members of one group differ by only the
    q95 quantization error (hamming ≈ 0-3)."""
    from .datagen.images import encode_png
    from .datagen.jpeg import decode_jpeg, encode_jpeg

    # per-task cache: each task unpickles its own empty dict
    blob_cache: dict = {}

    def image(raw_id) -> list:
        i = int(raw_id)
        g = i % n_groups
        w = 16 + (g % 5) * 4
        h = 16 + (g * 7 % 3) * 8
        fmt = "png" if i % 2 == 0 else "jpeg"
        key = (g, fmt)
        if key not in blob_cache:
            rng = np.random.default_rng(1000 + g)
            px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            if fmt == "png":
                blob = encode_png(px)
                ph = mean_hash_64(px)
            else:
                blob = encode_jpeg(px, quality=95)
                ph = mean_hash_64(decode_jpeg(blob))
            blob_cache[key] = (blob, ph)
        blob, ph = blob_cache[key]
        return [(str(i), blob, w, h, fmt, f"cap-{i}", ph)]

    # partition BY GROUP, not round-robin: members of one group share
    # their (deterministically re-generated) blob, so co-locating a
    # group makes the per-task blob cache hit ~100% — round-robin spread
    # would re-encode every group in every task (~40× the encode work)
    grouped = ids.select(id_col).repartition(n_groups, F.col(id_col) % n_groups)
    return map_rows(grouped, [id_col], _IMAGE_SCHEMA, image)


def phash_neardup(df: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Near-duplicate images by phash hamming distance ≤ k — exact for
    any k: pigeonhole chunking (k+1 chunks) over DISTINCT phash values,
    JVM-side throughout (see textops.hamming_neardup_pairs)."""
    from .textops import hamming_neardup_pairs

    return hamming_neardup_pairs(
        df.select("image_id", "phash"), "phash", "image_id", max_hamming
    )


_AUDIO_FEATURE_SCHEMA = (
    "audio_id bigint, sr int, n_samples bigint, duration_ms bigint, "
    "rms_i4 bigint, zcr bigint, centroid_mhz bigint, decode_ok boolean"
)


def audio_features(df: DataFrame) -> DataFrame:
    """Decode WAV blobs (pure-numpy RIFF/PCM16 codec, ``datagen/wav.py``)
    → per-clip features, Arrow-batched:

    * ``duration_ms`` = round(1000·n/sr) — integer-exact;
    * ``rms_i4``      = round(√(Σs²/n)·10⁴) — int sums, so the SQL
      oracle reproduces it bit-exactly;
    * ``zcr``         = #{i : s_i·s_{i−1} < 0} (strict sign product, so
      zeros don't count — matches the SQL formulation);
    * ``centroid_mhz`` = spectral centroid (rFFT power-weighted mean
      frequency) in millihertz — the one genuinely spectral feature;
      NOT SQL-expressible, gated in pytest (pure sine ⇒ centroid ≈ f₀).

    Shuffle discipline: one O(1) feature row per clip — audio bytes
    never cross an exchange."""
    from .datagen.wav import decode_wav

    def features(blob) -> list:
        try:
            sr, s = decode_wav(bytes(blob))
            f = s.astype(np.float64)
            n = len(s)
            rms = float(np.sqrt((f * f).sum() / n)) if n else 0.0
            zcr = int(((f[1:] * f[:-1]) < 0).sum()) if n > 1 else 0
            if n > 1:
                spec = np.abs(np.fft.rfft(f)) ** 2
                freqs = np.fft.rfftfreq(n, d=1.0 / sr)
                tot = spec[1:].sum()  # exclude DC
                cent = float((freqs[1:] * spec[1:]).sum() / tot) if tot > 0 else 0.0
            else:
                cent = 0.0
            # half-away-from-zero (values are ≥ 0 here), matching DuckDB
            # ROUND(); Python round() is banker's and would diverge on an
            # exact .5 tie
            return [
                (
                    sr,
                    n,
                    int(math.floor(1000 * n / sr + 0.5)),
                    int(math.floor(rms * 10000 + 0.5)),
                    zcr,
                    int(math.floor(cent * 1000 + 0.5)),
                    True,
                )
            ]
        except (ValueError, struct_error):
            return [(None,) * 6 + (False,)]

    return map_rows(
        df, ["bytes"], _AUDIO_FEATURE_SCHEMA, features, carry_cols=["audio_id"]
    )


_AUDIO_SCHEMA = "audio_id bigint, bytes binary, sr int, n_samples bigint"


def synthesize_audio(ids: DataFrame, id_col: str = "doc_id", sr: int = 8000) -> DataFrame:
    """Deterministic WAV corpus from an id column — the planted-truth
    audio table behind the audio CORRECTNESS row. Every sample is a
    closed-form integer, so a SQL oracle can regenerate the exact
    waveform with a list comprehension and reproduce rms/zcr bit-exactly:

    * ``n = 800 + (id % 5) * 400`` samples (divisible by sr/1000 ⇒
      duration_ms integer-exact);
    * ``s_i = ((id·31 + i·17) % 201) − 100``.
    """

    from .datagen.wav import encode_wav

    def clip(raw_id) -> list:
        i = int(raw_id)
        n = 800 + (i % 5) * 400
        idx = np.arange(n, dtype=np.int64)
        s = ((i * 31 + idx * 17) % 201 - 100).astype(np.int16)
        return [(i, encode_wav(s, sr), sr, n)]

    # spread for the same reason as synthesize_images: the encode stage
    # and the downstream decode/FFT stage are Python work
    return map_rows(spread(ids.select(id_col)), [id_col], _AUDIO_SCHEMA, clip)


def synthesize_split_images(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Planted-truth corpus for the THUMBNAIL oracle row: PNG (lossless)
    images whose top half is one constant color and bottom half another,
    each a closed form of the id:

    * ``w = 8 + (id % 3) * 4`` (8/12/16), ``h = 16``;
    * top    ``(id·37 % 256, id·59 % 256, id·83 % 256)``;
    * bottom ``(id·101 % 256, id·113 % 256, id·127 % 256)``.

    An 8×8 block-mean thumbnail of such an image is exact: every output
    block lies entirely inside one half (h=16 → 2 source rows per
    block; colors are constant horizontally), so the decoded thumbnail
    is 32 px of the top color + 32 px of the bottom color and
    ``mean_channel × 2 = top + bottom`` exactly — SQL-recomputable with
    no pixel math."""
    from .datagen.images import encode_png

    def image(raw_id) -> list:
        i = int(raw_id)
        w = 8 + (i % 3) * 4
        px = np.empty((16, w, 3), dtype=np.uint8)
        px[:8] = [i * 37 % 256, i * 59 % 256, i * 83 % 256]
        px[8:] = [i * 101 % 256, i * 113 % 256, i * 127 % 256]
        return [(str(i), encode_png(px), w, 16, "png", f"cap-{i}", mean_hash_64(px))]

    # no shared blobs here (every image unique) — plain spread is right
    return map_rows(spread(ids.select(id_col)), [id_col], _IMAGE_SCHEMA, image)


_VIDEO_SCHEMA = (
    "video_id bigint, bytes binary, n_frames int, fps int, w int, h int, "
    "fmt string"
)


def synthesize_videos(
    ids: DataFrame, id_col: str = "doc_id", n_groups: int = 32, fps: int = 10
) -> DataFrame:
    """Deterministic MJPEG video corpus from an id column — the
    planted-truth table behind the video CORRECTNESS row. Metadata is a
    closed form of the integer id (SQL-recomputable):

    * ``group    = id % n_groups`` — group members share the same blob
      (same frame seeds), so the per-task encode cache hits like
      synthesize_images';
    * ``n_frames = 4 + (group % 5)``;
    * ``w = 16 + (group % 3) * 8``, ``h = 16 + (group * 5 % 2) * 16``;
    * frame ``f`` pixels: uniform noise from seed ``3000 + group * 64
      + f`` — every frame distinct, so sampling the WRONG frame index is
      detectable (PSNR collapses; gated in pytest).

    The blob is a real MJPEG elementary stream of baseline-JPEG frames
    (datagen/mjpeg.py) — the decoder re-derives frame boundaries from
    the JPEG segment structure, not from stored offsets."""
    from .datagen.mjpeg import encode_mjpeg

    # per-task cache: each task unpickles its own empty dict
    blob_cache: dict = {}

    def video(raw_id) -> list:
        i = int(raw_id)
        g = i % n_groups
        nf = 4 + (g % 5)
        w = 16 + (g % 3) * 8
        h = 16 + (g * 5 % 2) * 16
        if g not in blob_cache:
            frames = [
                np.random.default_rng(3000 + g * 64 + f).integers(
                    0, 256, (h, w, 3), dtype=np.uint8
                )
                for f in range(nf)
            ]
            blob_cache[g] = encode_mjpeg(frames, quality=95)
        return [(i, blob_cache[g], nf, fps, w, h, "mjpeg")]

    # group-partitioned for the same reason as synthesize_images: one
    # encode per group per task instead of one per task × group
    grouped = ids.select(id_col).repartition(n_groups, F.col(id_col) % n_groups)
    return map_rows(grouped, [id_col], _VIDEO_SCHEMA, video)


_FRAME_SCHEMA = (
    "video_id bigint, frame_idx int, frame_w int, frame_h int, "
    "frame_phash bigint, mean_luma double, decode_ok boolean"
)


def video_frame_sample(
    df: DataFrame, every_n: int = 30, carry_cols: tuple = ()
) -> DataFrame:
    """Every-Nth-frame sampler over the MJPEG video table: split the
    stream by JPEG segment structure (O(bytes), no decode), decode ONLY
    frames 0, N, 2N, … through the baseline-JPEG codec, and emit one
    tiny feature row per sampled frame — dimensions, 64-bit perceptual
    hash, mean luma. A video whose stream fails to parse yields a
    single decode_ok=false row (frame_idx −1) per the README decode
    contract.

    Scale shape: pixels never leave the task — the output rows are
    O(1) per sampled frame, so the downstream shuffle carries hashes
    and stats, never frames. ``carry_cols`` pass metadata through the
    Arrow stage (extract_records pattern) to avoid a join whose other
    branch would re-run synthesis."""
    from .datagen.mjpeg import decode_mjpeg_frame, split_mjpeg

    def sample_stream(blob) -> list:
        """Split + decode + per-frame features for one stream — a pure
        function of the blob bytes (every_n is fixed per operator)."""
        b = bytes(blob)
        try:
            spans = split_mjpeg(b)
        except (ValueError, IndexError):
            return [(-1, None, None, None, None, False)]
        rows = []
        for idx in range(0, len(spans), max(every_n, 1)):
            off, ln = spans[idx]
            try:
                px = decode_mjpeg_frame(b, off, ln)
                gray = px.astype(np.float64) @ _LUMA_W
                rows.append(
                    (
                        idx,
                        int(px.shape[1]),
                        int(px.shape[0]),
                        mean_hash_64(px),
                        float(gray.mean()),
                        True,
                    )
                )
            except (ValueError, zlib.error, struct_error):
                rows.append((idx, None, None, None, None, False))
        return rows

    # decode-distinct-once: content-duplicated video corpora decode each
    # distinct stream once per task; frame pixels never leave the task
    return map_rows(
        df,
        ["bytes"],
        _FRAME_SCHEMA,
        sample_stream,
        carry_cols=("video_id", *carry_cols),
        memo=True,
    )

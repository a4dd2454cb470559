"""``spark.util.map_rows`` — the one Arrow row-kernel stage behind the
extraction and media operators — and the output schemas of the ten
operators built on it."""

import pytest
from pyspark.sql import functions as F

from scalpel_spark import any_selector, attr, chroots, sdo


def test_map_rows_fanout_carry_and_empty_partition(spark):
    """0, 1 and N output rows per input row; carry columns land where the
    schema places them, on every output row; a partition whose rows all
    yield nothing still produces a (zero-row) batch."""
    from scalpel_spark.spark.util import map_rows

    df = spark.range(0, 6, numPartitions=3).select(
        "id", F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag")
    )
    fanout = {0: 0, 1: 0, 2: 1, 3: 3, 4: 1, 5: 0}

    def fn(i):
        return [(i * 10 + j, f"v{j}") for j in range(fanout[i])]

    out = map_rows(
        df, ["id"], "k long, id long, v string, tag string", fn, carry_cols=["id", "tag"]
    )
    assert out.schema.simpleString() == "struct<k:bigint,id:bigint,v:string,tag:string>"
    in_parts = df.rdd.glom().map(lambda rows: [r.id for r in rows]).collect()
    expected = [sum(fanout[i] for i in part) for part in in_parts]
    assert 0 in expected and len(expected) == 3
    assert out.rdd.glom().map(len).collect() == expected
    assert sorted(tuple(r) for r in out.collect()) == [
        (20, 2, "v0", "t2"),
        (30, 3, "v0", "t3"),
        (31, 3, "v1", "t3"),
        (32, 3, "v2", "t3"),
        (40, 4, "v0", "t4"),
    ]


def test_map_rows_memo_runs_once_per_distinct_blob_and_casts_carry(spark):
    """``memo=True`` calls ``fn`` once per distinct argument tuple per
    task (a call counter in the closure shows it); carry columns are
    cast to their declared type."""
    from scalpel_spark.spark.util import map_rows

    df = spark.range(0, 6, numPartitions=1).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 2).cast("string").cast("binary").alias("blob"),
    )

    def kernel():
        calls = [0]

        def fn(blob):
            calls[0] += 1
            return [(calls[0],)]

        return fn

    schema = "id long, n int"
    memo = map_rows(df, ["blob"], schema, kernel(), carry_cols=["id"], memo=True)
    plain = map_rows(df, ["blob"], schema, kernel(), carry_cols=["id"])
    assert memo.schema["id"].dataType.simpleString() == "bigint"
    assert sorted(tuple(r) for r in memo.collect()) == [
        (0, 1), (1, 2), (2, 1), (3, 2), (4, 1), (5, 2)
    ]
    assert sorted(r.n for r in plain.collect()) == [1, 2, 3, 4, 5, 6]


def test_audio_features_long_ids_from_int_input(spark):
    from scalpel_spark.datagen.wav import encode_wav
    from scalpel_spark.imageops import audio_features
    import numpy as np

    clip = encode_wav(np.arange(-50, 50, dtype=np.int16), 8000)
    df = spark.createDataFrame([(7, bytearray(clip))], "audio_id int, bytes binary")
    (row,) = audio_features(df).collect()
    assert (row.audio_id, row.n_samples, row.decode_ok) == (7, 100, True)


SCHEMAS = {
    "extract_records": "struct<url:string,alt:string,src:string>",
    "extract_records_with_errors": (
        "struct<url:string,alt:string,src:string,errors:array<string>,log:array<string>>"
    ),
    "image_features": (
        "struct<image_id:string,decoded_w:int,decoded_h:int,mean_r:double,"
        "mean_g:double,mean_b:double,luma_hist:array<int>,phash_check:bigint,"
        "decode_ok:boolean,w:int,caption:string>"
    ),
    "thumbnails": "struct<image_id:string,thumb:binary>",
    "audio_features": (
        "struct<audio_id:bigint,sr:int,n_samples:bigint,duration_ms:bigint,"
        "rms_i4:bigint,zcr:bigint,centroid_mhz:bigint,decode_ok:boolean>"
    ),
    "video_frame_sample": (
        "struct<video_id:bigint,frame_idx:int,frame_w:int,frame_h:int,"
        "frame_phash:bigint,mean_luma:double,decode_ok:boolean,fps:int,w:int>"
    ),
    "synthesize_images": (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,caption:string,"
        "phash:bigint>"
    ),
    "synthesize_audio": "struct<audio_id:bigint,bytes:binary,sr:int,n_samples:bigint>",
    "synthesize_split_images": (
        "struct<image_id:string,bytes:binary,w:int,h:int,fmt:string,caption:string,"
        "phash:bigint>"
    ),
    "synthesize_videos": (
        "struct<video_id:bigint,bytes:binary,n_frames:int,fps:int,w:int,h:int,fmt:string>"
    ),
}


@pytest.fixture(scope="module")
def operator_frames(spark):
    """Each ported operator applied to a tiny input; building the frames
    and reading their schemas runs no Spark job."""
    from scalpel_spark import imageops as io
    from scalpel_spark.spark.extract import extract_records, extract_records_with_errors

    ids = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    pages = spark.createDataFrame(
        [("u1", "<img src='x' alt='y'>")], "url string, html string"
    )
    scraper = chroots("img", sdo(attr("alt", any_selector), attr("src", any_selector)))
    imgs = io.synthesize_images(ids)
    vids = io.synthesize_videos(ids)
    return {
        "extract_records": extract_records(
            pages, scraper, "alt string, src string", carry_cols=["url"]
        ),
        "extract_records_with_errors": extract_records_with_errors(
            pages, scraper, "alt string, src string", carry_cols=["url"]
        ),
        "image_features": io.image_features(imgs, carry_cols=("w", "caption")),
        "thumbnails": io.thumbnails(imgs),
        "audio_features": io.audio_features(io.synthesize_audio(ids)),
        "video_frame_sample": io.video_frame_sample(vids, carry_cols=("fps", "w")),
        "synthesize_images": imgs,
        "synthesize_audio": io.synthesize_audio(ids),
        "synthesize_split_images": io.synthesize_split_images(ids),
        "synthesize_videos": vids,
    }


@pytest.mark.parametrize("name", sorted(SCHEMAS))
def test_operator_schema_pinned(operator_frames, name):
    assert operator_frames[name].schema.simpleString() == SCHEMAS[name]

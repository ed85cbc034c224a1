"""Null rows next to normal rows: the Arrow text kernels treat a null
text as a document with no tokens, the media kernels drop a row whose
payload is null, and the A/B equality gate sorts rows that contain
NULLs."""

from __future__ import annotations

import numpy as np
import pytest

from multi_threaded_mapreduce_framework_spark.functions.heavy_hitters import (
    bigram_mg_candidates,
)
from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_audio,
    decode_images,
    encode_png,
    extract_frames,
    media_census,
    ppm_stream_bytes,
    resize_images,
    sample_frame_features,
    wav_sine_bytes,
)
from multi_threaded_mapreduce_framework_spark.functions.texthash import (
    word_shingle_hashes_np,
)
from tools.ab_equal import rows_key

TEXTS = ["a b c", "c a b", "a b", "x", "a  b", "a b c d e"]


def _with_nulls(spark):
    """The TEXTS frame, and the same rows with a null row after each."""
    rows = list(enumerate(TEXTS))
    mixed = [r for i, t in rows for r in ((i, t), (100 + i, None))]
    # one partition each, so the sketch sees one batch, and so prunes
    # identically, on both sides
    return tuple(
        spark.createDataFrame(rs, "i bigint, text string").coalesce(1)
        for rs in (rows, mixed)
    )


def test_bigram_candidates_skip_null_text(spark):
    clean, mixed = _with_nulls(spark)

    def cands(df):
        return sorted(
            r.shingle for r in bigram_mg_candidates(df, "text", 3).collect()
        )

    assert cands(mixed) == cands(clean)


def test_word_shingles_of_null_text_are_empty(spark):
    clean, mixed = _with_nulls(spark)

    def hashes(df):
        out = df.select("i", word_shingle_hashes_np("text").alias("h"))
        return {r.i: list(r.h) for r in out.collect()}

    got = hashes(mixed)
    assert {i: h for i, h in got.items() if i < 100} == hashes(clean)
    assert all(got[i] == [] for i in got if i >= 100)


def test_rows_key_sorts_nullable_columns(spark):
    df = spark.createDataFrame(
        [(2, 1.5), (1, None), (3, None), (0, -2.0)], "k int, v double"
    )
    cols, rows = rows_key(df.select("v", "k"))
    assert cols == ["v", "k"]
    assert rows == [(-2.0, 0), (1.5, 2), (None, 1), (None, 3)]


def _media_with_nulls(spark):
    """A PPM, a PNG, a WAV and a P6-stream row, and the same rows with
    a null-payload row of each kind after each."""
    px = (np.arange(5 * 4 * 3) % 256).astype(np.uint8).reshape(4, 5, 3)
    ppm = b"P6\n5 4\n255\n" + px.tobytes()
    stream = ppm_stream_bytes([px, 255 - px, px])
    rows = [
        (1, "image", bytearray(ppm), (5, 4, "ppm", 0, 0)),
        (2, "image", bytearray(encode_png(px)), (5, 4, "png", 0, 0)),
        (3, "audio", bytearray(wav_sine_bytes(440.0, 120)), (0, 0, "wav", 120, 8_000)),
        (4, "video", bytearray(stream), (5, 4, "ppm-stream", 750, 0)),
    ]
    mixed = [r for row in rows for r in (row, (100 + row[0], row[1], None, row[3]))]
    return tuple(
        spark.createDataFrame(rs, MEDIA_SCHEMA).coalesce(1) for rs in (rows, mixed)
    )


@pytest.mark.parametrize(
    "kernel",
    [
        decode_images,
        decode_audio,
        lambda df: resize_images(df, 3, 2),
        media_census,
        extract_frames,
        sample_frame_features,
    ],
    ids=[
        "decode_images",
        "decode_audio",
        "resize_images",
        "media_census",
        "extract_frames",
        "sample_frame_features",
    ],
)
def test_media_kernels_drop_null_payloads(spark, kernel):
    clean, mixed = _media_with_nulls(spark)

    def rows(df):
        return sorted(map(tuple, kernel(df).collect()))

    expected = rows(clean)
    assert expected
    assert rows(mixed) == expected

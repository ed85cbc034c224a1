"""Multimodal kernel tests on real bytes: schemas, batch shapes,
determinism, exact decode values, and the unknown-container error."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame, SparkSession

from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_images,
    encode_png,
    ppm_stream_bytes,
    resize_images,
    sample_frame_features,
    wav_sine_bytes,
)


def synthesize_mixed_media(spark: SparkSession, n: int = 24, parts: int = 4) -> DataFrame:
    """Media table of GENUINE payloads, kind ``("image", "audio",
    "video")[i % 3]`` for row i: a (4 + i%5) x (3 + i%3) RGB ramp as P6
    PPM or PNG (alternating), a WAV sine, or a 4 fps concatenated-P6
    stream of 2 + i%4 frames.  ``meta`` declares what the bytes hold."""
    import numpy as np

    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        w, h = 4 + i % 5, 3 + i % 3
        ramp = ((np.arange(w * h * 3) + i) % 256).astype(np.uint8).reshape(h, w, 3)
        if kind == "image" and (i // 3) % 2:
            rows.append((i, kind, bytearray(encode_png(ramp)), (w, h, "png", 0, 0)))
        elif kind == "image":
            payload = b"P6\n%d %d\n255\n" % (w, h) + ramp.tobytes()
            rows.append((i, kind, bytearray(payload), (w, h, "ppm", 0, 0)))
        elif kind == "audio":
            dur = 100 + 10 * i
            payload = wav_sine_bytes(220.0 + 55.0 * i, dur, 8_000)
            rows.append((i, kind, bytearray(payload), (0, 0, "wav", dur, 8_000)))
        else:
            n_frames = 2 + i % 4
            payload = ppm_stream_bytes([(ramp + 7 * f) % 256 for f in range(n_frames)])
            meta = (w, h, "ppm-stream", 250 * n_frames, 0)
            rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(parts)


def synthesize_ppm_media(spark: SparkSession, n: int = 12, parts: int = 4) -> DataFrame:
    """Media table whose payloads are GENUINE P6 PPM images: row i is a
    (8+i) x (6+i) RGB ramp where pixel byte k has value (i + k) % 256.
    Real decodable bytes — :func:`decode_images` must recover the dims
    and the exact ramp mean from the payload."""
    rows = []
    for i in range(n):
        w, h = 8 + i, 6 + i
        header = f"P6\n# ramp {i}\n{w} {h}\n255\n".encode()
        body = bytes((i + k) % 256 for k in range(w * h * 3))
        rows.append((i, "image", bytearray(header + body), (w, h, "ppm", 0, 0)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(parts)


def synthesize_png_media(spark: SparkSession, n: int = 10, parts: int = 4) -> DataFrame:
    """Media table whose payloads are GENUINE PNG images (zlib IDAT,
    CRC'd chunks): row i is a (8+i) x (6+i) RGB ramp where pixel byte k
    has value (i + k) % 256 — the SAME pixel law as
    :func:`synthesize_ppm_media`, so the two real decode paths must
    agree bit-for-bit on dims and mean. Row i uses scanline filter
    i % 5, so a full table exercises every PNG unfilter branch."""
    import numpy as np

    rows = []
    for i in range(n):
        w, h = 8 + i, 6 + i
        px = np.array(
            [(i + k) % 256 for k in range(w * h * 3)], dtype=np.uint8
        ).reshape(h, w, 3)
        payload = encode_png(px, filters=[(i + y) % 5 for y in range(h)])
        rows.append((i, "image", bytearray(payload), (w, h, "png", 0, 0)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(parts)


def synthesize_wav_media(
    spark: SparkSession,
    n: int = 16,
    sample_rate: int = 8_000,
    parts: int = 4,
) -> DataFrame:
    """Media table whose payloads are GENUINE WAV files (RIFF header +
    16-bit PCM mono written by stdlib ``wave``): row i is a
    (220 + 55*i) Hz sine of (200 + 50*i) ms at amplitude 0.5. Real
    bytes end to end — :func:`decode_audio` must recover the declared
    duration/rate and the sine's RMS (0.5/sqrt(2)) from the payload
    alone."""
    rows = []
    for i in range(n):
        duration_ms = 200 + 50 * i
        freq = 220.0 + 55.0 * i
        rows.append(
            (
                i,
                "audio",
                bytearray(wav_sine_bytes(freq, duration_ms, sample_rate)),
                (0, 0, "wav", duration_ms, sample_rate),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA).repartition(parts)


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_mixed_media(spark, n=24, parts=4).cache()


def test_media_schema(media):
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "kind": "string",
        "payload": "binary",
        "meta": "struct<width:int,height:int,format:string,duration_ms:int,sample_rate:int>",
    }
    assert media.count() == 24


def test_decode_images_deterministic(media):
    out = decode_images(media)
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 8  # every 3rd is an image
    # dims round-trip from the packed header == declared metadata
    meta = {r.media_id: r.meta for r in media.filter("kind='image'").collect()}
    for mid, r in rows.items():
        assert (r.width, r.height) == (meta[mid].width, meta[mid].height)
        assert 0.0 <= r.mean_intensity <= 255.0
    # determinism: second run bit-identical
    again = {r.media_id: r for r in decode_images(media).collect()}
    assert {m: (r.width, r.height, r.mean_intensity) for m, r in rows.items()} == {
        m: (r.width, r.height, r.mean_intensity) for m, r in again.items()
    }


def test_resize_repacks_header(spark, media):
    out = resize_images(media, 8, 8)
    decoded = decode_images(
        out.join(media.select("media_id", "kind", "meta"), "media_id")
    )
    assert {(r.width, r.height) for r in decoded.collect()} == {(8, 8)}


def test_sample_frames_flatmap_shape(media):
    out = sample_frame_features(media, every_ms=250)
    n_videos = media.filter("kind='video'").count()
    rows = out.collect()
    assert len(rows) > n_videos  # flatMap: more rows out than in
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    durations = {
        r.media_id: r.meta.duration_ms
        for r in media.filter("kind='video'").collect()
    }
    for mid, frames in by_media.items():
        assert len(frames) == len(range(0, durations[mid], 250))
        assert sorted(f.frame_idx for f in frames) == list(range(len(frames)))


def test_unknown_container_raises(spark):
    """A payload that is neither P6 PPM nor PNG fails the image kernels
    with ValueError (wrapped in Spark's PythonException), never a
    silent misdecode."""
    from pyspark.errors.exceptions.captured import PythonException

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"GIF89a not supported"), (1, 1, "gif", 0, 0))],
        MEDIA_SCHEMA,
    )
    for out in (decode_images(df), resize_images(df, 2, 2)):
        with pytest.raises(PythonException, match="ValueError: unknown media container"):
            out.collect()


def test_decode_images_real_ppm(spark):
    """REAL image decode: genuine P6 PPM payloads parsed from bytes —
    dims and exact ramp mean recovered with no codec library."""
    ppm = synthesize_ppm_media(spark, n=12, parts=4)
    rows = {r.media_id: r for r in decode_images(ppm).collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        w, h = 8 + i, 6 + i
        assert (r.width, r.height) == (w, h)
        expected = round(sum((i + k) % 256 for k in range(w * h * 3)) / (w * h * 3), 2)
        assert r.mean_intensity == expected, (i, r.mean_intensity, expected)


def test_decode_images_real_png(spark):
    """REAL image decode #2: genuine PNG payloads (zlib IDAT, CRC'd
    chunks, every scanline filter type across the table) parsed by the
    stdlib decoder — dims and exact ramp mean recovered from bytes."""
    png = synthesize_png_media(spark, n=10, parts=4)
    rows = {r.media_id: r for r in decode_images(png).collect()}
    assert len(rows) == 10
    for i, r in rows.items():
        w, h = 8 + i, 6 + i
        assert (r.width, r.height) == (w, h)
        expected = round(sum((i + k) % 256 for k in range(w * h * 3)) / (w * h * 3), 2)
        assert r.mean_intensity == expected, (i, r.mean_intensity, expected)


def test_png_ppm_decode_parity():
    """The two real codec-free decode paths agree bit-for-bit on the
    same pixels (the mean_intensity schema contract), and the PNG
    round-trip is exact for every filter type including gray/RGBA
    profiles."""
    import numpy as np

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_image,
        _parse_png,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(13, 9, 3), dtype=np.uint8)
    for ftype in range(5):
        raw = encode_png(px, filters=[ftype] * 13)
        w, h, got = _parse_png(raw)
        assert (w, h) == (9, 13)
        assert np.array_equal(got, px), f"filter {ftype} round-trip"
    header = f"P6\n{9} {13}\n255\n".encode()
    ppm = _parse_image(header + px.tobytes())
    png = _parse_image(encode_png(px, filters=[(y * 2) % 5 for y in range(13)]))
    assert (ppm[0], png[0]) == ("ppm", "png")
    assert ppm[1:3] == png[1:3] == (9, 13)
    assert float(ppm[3].mean()) == float(png[3].mean())


def test_png_unsupported_profiles_fail_loudly():
    """16-bit / palette / interlaced payloads must raise, not misdecode."""
    import struct as _struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _PNG_SIG,
        _parse_png,
        encode_png,
    )

    good = bytearray(encode_png(np.zeros((2, 2, 3), dtype=np.uint8)))
    # IHDR data starts at offset 8 (sig) + 8 (len+type); depth byte at +8
    ihdr_off = 16
    for field_off, bad_val in ((8, 16), (9, 3), (12, 1)):  # depth, palette, Adam7
        tampered = bytearray(good)
        tampered[ihdr_off + field_off] = bad_val
        # re-CRC the IHDR chunk so only the profile check can object
        data = bytes(tampered[ihdr_off : ihdr_off + 13])
        tampered[ihdr_off + 13 : ihdr_off + 17] = _struct.pack(
            ">I", zlib.crc32(b"IHDR" + data)
        )
        with _pytest.raises(ValueError):
            _parse_png(bytes(tampered))
    with _pytest.raises(ValueError):
        _parse_png(_PNG_SIG + b"\x00" * 8)  # signature but no IHDR


def test_resize_png_real_path(spark):
    """Real PNG resize: output payloads are themselves valid PNGs with
    the target dims, and every output pixel is a true source pixel
    (nearest neighbor), so the mean stays inside the source range."""
    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_png,
    )

    media = synthesize_png_media(spark, n=6, parts=2)
    out = resize_images(media, width=5, height=4)
    resized = {r.media_id: bytes(r.payload) for r in out.collect()}
    assert len(resized) == 6
    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, raw in resized.items():
        w, h, px = _parse_png(raw)
        assert (w, h) == (5, 4)
        _, _, spx = _parse_png(src[mid])
        assert spx.min() <= px.mean() <= spx.max()


def test_decode_audio_real_wav(spark):
    """REAL audio decode: stdlib wave parses genuine RIFF/PCM payloads;
    recovered rate/duration match the writer and the sine's RMS is
    amplitude/sqrt(2) to 3 decimal places."""
    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        decode_audio,
    )

    wav = synthesize_wav_media(spark, n=8, sample_rate=8_000, parts=4)
    rows = {r.media_id: r for r in decode_audio(wav).collect()}
    assert len(rows) == 8
    for i, r in rows.items():
        assert r.sample_rate == 8_000
        assert r.duration_ms == 200 + 50 * i
        assert abs(r.rms - (16383 / 32768) / 2**0.5) < 2e-3, (i, r.rms)
        assert 0.4 < r.peak <= 0.5


def test_metadata_query_never_reads_payload(spark, media, tmp_path):
    """Metadata-only queries over a media lake must not read payload
    bytes — the property that makes metadata scans cheap at 100 TB."""
    from multi_threaded_mapreduce_framework_spark.plans import read_schema_columns

    path = str(tmp_path / "media_lake")
    media.write.mode("overwrite").parquet(path)
    meta_only = (
        spark.read.parquet(path)
        .filter("kind = 'image'")
        .select("media_id", "meta.width", "meta.height")
    )
    cols = read_schema_columns(meta_only)
    assert "payload" not in cols, cols
    assert meta_only.count() == 8


def test_resize_ppm_real_path(spark):
    """REAL codec-free resize: genuine P6 bytes in, genuine (smaller)
    P6 bytes out, decodable by the real decode path with the target
    dimensions; a constant-color image keeps its mean exactly."""
    media = synthesize_ppm_media(spark, n=6, parts=2)
    resized = resize_images(media, width=5, height=4)
    # re-wrap as a media frame for the decoder (kind + payload)
    import pyspark.sql.functions as F

    frame = resized.select("media_id", F.lit("image").alias("kind"), "payload")
    rows = {r.media_id: r for r in decode_images(frame).collect()}
    assert rows, "no decoded rows"
    for r in rows.values():
        assert (r.width, r.height) == (5, 4)

    # nearest-neighbor on a ramp: every output pixel is a true source
    # pixel, so min <= mean <= max of the source bytes holds exactly
    import numpy as np

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_ppm,
    )

    src = {r.media_id: bytes(r.payload) for r in media.collect()}
    for mid, r in rows.items():
        _, _, px = _parse_ppm(src[mid])
        assert px.min() <= r.mean_intensity <= px.max()


def test_png_roundtrip_property():
    """Property: encode_png -> _parse_png is the identity on arbitrary
    8-bit RGB rasters under arbitrary per-row filter choices."""
    import numpy as np
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_png,
        encode_png,
    )

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**31 - 1),
        data=st.data(),
    )
    def inner(w, h, seed, data):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        filters = data.draw(
            st.lists(st.integers(0, 4), min_size=h, max_size=h)
        )
        got_w, got_h, got = _parse_png(encode_png(px, filters=filters))
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(got, px)

    inner()


def test_png_zero_filter_fast_path_equals_general_path():
    """The vectorized all-filter-0 encode/decode fast paths (added for
    q172's 200k-doc scale) must agree byte-for-byte with the general
    per-row path on the same raster."""
    import numpy as np

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (5, 3), (16, 11)]:
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        fast = encode_png(px)  # all-zero filters -> vectorized body
        # force the general path with an explicit non-zero somewhere,
        # then compare DECODED pixels (bytes differ, pixels must not)
        slow = encode_png(px, filters=[1] + [0] * (h - 1))
        for raw in (fast, slow):
            got_w, got_h, got = _parse_png(raw)
            assert (got_w, got_h) == (w, h) and np.array_equal(got, px)


def test_ppm_stream_roundtrip_and_sampling(spark):
    """ppm_stream_bytes -> sample_frame_features recovers exactly the
    frames the grid touches, with exact dims and means (the q173
    video-kernel contract on hand-built frames)."""
    import numpy as np
    import pandas as pd

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        ppm_stream_bytes,
        sample_frame_features,
    )

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8) for _ in range(5)]
    payload = ppm_stream_bytes(frames)
    duration = 5 * 250  # 4 fps
    df = spark.createDataFrame(
        [(1, "video", bytearray(payload), (6, 4, "ppm-stream", duration, 0))],
        MEDIA_SCHEMA,
    )
    rows = sample_frame_features(df, every_ms=500).collect()
    want = []
    for ts in range(0, duration, 500):
        f = min(ts * 5 // duration, 4)
        want.append((1, f, ts, 6, 4, round(float(frames[f].mean()), 2)))
    assert sorted(map(tuple, rows)) == sorted(want)
    # non-video rows are filtered, audio kind never reaches the kernel
    df2 = spark.createDataFrame(
        [(2, "audio", bytearray(b"x"), (0, 0, "wav", 100, 8000))], MEDIA_SCHEMA
    )
    assert sample_frame_features(df2).count() == 0
    # an EMPTY video payload has zero frames: the kernel must skip the
    # row (not IndexError on offsets[-1] inside the executor)
    df3 = spark.createDataFrame(
        [
            (3, "video", bytearray(b""), (0, 0, "ppm-stream", 1000, 0)),
            (1, "video", bytearray(payload), (6, 4, "ppm-stream", duration, 0)),
        ],
        MEDIA_SCHEMA,
    )
    rows3 = sample_frame_features(df3, every_ms=500).collect()
    assert sorted(map(tuple, rows3)) == sorted(want)  # id 3 silently skipped


def test_binaryfile_source_to_decode(spark, tmp_path):
    """The documented media-lake ingestion path end to end on REAL
    bytes: PNG files on disk -> spark.read.format('binaryFile') ->
    schema-mapped media table -> decode_images."""
    import numpy as np
    import pyspark.sql.functions as F

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        encode_png,
    )

    for i in range(5):
        w, h = 6 + i, 4 + i
        px = np.arange(w * h * 3, dtype=np.int64).reshape(h, w, 3) % 256
        (tmp_path / f"img-{i}.png").write_bytes(
            encode_png(px.astype(np.uint8), filters=[i % 5] * h)
        )
    lake = spark.read.format("binaryFile").load(str(tmp_path))
    media = lake.select(
        F.regexp_extract(F.col("path"), r"img-(\d+)\.png", 1)
        .cast("bigint")
        .alias("media_id"),
        F.lit("image").alias("kind"),
        F.col("content").alias("payload"),
    )
    rows = {r.media_id: r for r in decode_images(media).collect()}
    assert len(rows) == 5
    for i, r in rows.items():
        w, h = 6 + i, 4 + i
        assert (r.width, r.height) == (w, h)
        expected = round(
            float((np.arange(w * h * 3) % 256).mean()), 2
        )
        assert r.mean_intensity == expected


def test_layout_tag_is_session_unique(spark):
    """Derived-layout paths/table names embed the applicationId, so two
    concurrent sessions on the same sf can never collide (ADVICE r3)."""
    from multi_threaded_mapreduce_framework_spark.sources import layout_tag

    tag = layout_tag(spark, "/root/testdata/sf0.01")
    app = spark.sparkContext.applicationId.replace("-", "_").replace(".", "_")
    assert tag == f"sf0_01_{app}"
    assert "-" not in tag and "." not in tag  # catalog-identifier safe

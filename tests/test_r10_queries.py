"""Law-pinning tests for the round-10 debuts: the image resize
round-trip census (q267) replayed against an independent numpy
nearest-neighbor resample (the FLOAT kernel law, independently of the
oracle's integer closed form), the float-vs-integer floor equivalence
the q267 oracle rests on, the jsonl writer round trip (q268) —
census equality vs the parquet fixture plus the committed-manifest
invariants of the two-phase commit — the streaming session_window
census (q269) pinned to q199's batch form plus its sentinel-absence
guarantee, and the VARIANT shredded-write round trip (q270) pinned to
the in-memory expression law plus a physical-footer proof that the
files really shred."""

from __future__ import annotations

import json
import os

import numpy as np
import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table

QUERIES = {n: q.builder for n, q in all_queries().items()}


# ------------------------------------------------------------------ q267
def _nn_resample_sum(d: int, W: int = 12, H: int = 10) -> tuple[str, int]:
    """Independent replay of q267's per-doc law with the kernel's OWN
    float index mapping (``((arange + .5) * src / dst).astype(int)``),
    not the oracle's integer closed form — so this test arbitrates
    between the two if they ever diverge."""
    w, h = 8 + d % 8, 6 + d % 5
    px = ((np.arange(w * h * 3, dtype=np.int64) + d) % 256).reshape(h, w, 3)
    rows = np.minimum(((np.arange(H) + 0.5) * h / H).astype(int), h - 1)
    cols = np.minimum(((np.arange(W) + 0.5) * w / W).astype(int), w - 1)
    out = px[rows][:, cols]
    return ("ppm" if d % 2 == 0 else "png"), int(out.sum())


def test_q267_matches_numpy_nn_replay(spark, sf_dir):
    got = {
        r.format: (r.n_media, r.w_sum, r.h_sum, r.pix_bytes, r.pix_sum, r.known_bytes)
        for r in QUERIES["q267_image_resize_census"](spark, sf_dir).collect()
    }
    doc_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    exp: dict[str, list[int]] = {}
    for d in doc_ids:
        fmt, s = _nn_resample_sum(int(d))
        a = exp.setdefault(fmt, [0, 0])
        a[0] += 1
        a[1] += s
    assert set(got) == set(exp)
    for fmt, (n, s) in exp.items():
        kb = n * 373 if fmt == "ppm" else 0
        assert got[fmt] == (n, n * 12, n * 10, n * 360, s, kb)


def test_q267_floor_law_float_equals_integer():
    """The oracle's integer form ``((2k+1)*src) // (2*dst)`` equals the
    kernel's float ``int((k + .5) * src / dst)`` over the ENTIRE q267
    domain (src rows 6..10 / dst 10, src cols 8..15 / dst 12) — the
    bit-determinism claim in the q267 docstring, enumerated."""
    for dst, srcs in ((10, range(6, 11)), (12, range(8, 16))):
        for src in srcs:
            for k in range(dst):
                assert int((k + 0.5) * src / dst) == ((2 * k + 1) * src) // (
                    2 * dst
                )


# ------------------------------------------------------------------ q268
def test_q268_census_equals_batch(spark, sf_dir):
    got = {
        (r.lang, r.source): (
            r.n_docs,
            r.sum_chars,
            r.sum_text_chars,
            r.min_doc,
            r.max_doc,
        )
        for r in QUERIES["q268_jsonl_write_readback"](spark, sf_dir).collect()
    }
    batch = {
        (r.lang, r.source): (
            r.n_docs,
            r.sum_chars,
            r.sum_text_chars,
            r.min_doc,
            r.max_doc,
        )
        for r in (
            load_table(spark, sf_dir, "documents")
            .groupBy("lang", "source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
                F.sum(F.length("text")).cast("bigint").alias("sum_text_chars"),
                F.min("doc_id").cast("bigint").alias("min_doc"),
                F.max("doc_id").cast("bigint").alias("max_doc"),
            )
            .collect()
        )
    }
    assert got == batch


def test_q268_manifest_invariants(spark, sf_dir, build_dir):
    """After the overwrite+append write pair: the manifest names exactly
    the committed shard set (4 overwrite + 3 append tasks), every named
    shard exists, no stray visible shard or temp file survives, and the
    manifest row count equals the corpus size."""
    QUERIES["q268_jsonl_write_readback"](spark, sf_dir).collect()
    out = os.path.join(build_dir(sf_dir, "jsonl_write"), "corpus")
    with open(os.path.join(out, "_MANIFEST.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert manifest["rows"] == n_docs
    assert len(manifest["files"]) == 7
    named = {os.path.basename(f) for f in manifest["files"]}
    for f in manifest["files"]:
        assert os.path.exists(f)
    on_disk = {
        f for f in os.listdir(out) if f.endswith(".jsonl") and not f.startswith("_")
    }
    assert on_disk == named  # no strays, no surviving temp files


# ------------------------------------------------------------------ q269
def test_q269_stream_census_equals_batch_q199(spark, sf_dir):
    """One session law, two engine paths: the streaming session_window
    census (watermarked append-mode state machine) equals q199's batch
    merging-aggregate census exactly, per user."""
    cols = ("n_sessions", "n_events", "sum_dur_us", "max_session_events")
    got = {
        r.user_id: tuple(r[c] for c in cols)
        for r in QUERIES["q269_stream_session_census"](spark, sf_dir).collect()
    }
    batch = {
        r.user_id: tuple(r[c] for c in cols)
        for r in QUERIES["q199_session_window_native"](spark, sf_dir).collect()
    }
    assert got == batch and len(got) > 0


def test_q269_sentinel_absent_from_readback(spark, sf_dir):
    """The far-future sentinel's session can never finalize, so it is
    provably absent from the append-mode readback — no filter needed."""
    users = {
        r.user_id
        for r in QUERIES["q269_stream_session_census"](spark, sf_dir)
        .select("user_id")
        .collect()
    }
    assert 999_999_999 not in users


# ------------------------------------------------------------------ q270
def test_q270_census_equals_unshredded_expression_path(spark, sf_dir):
    """The shredded-write round trip equals q201's in-memory expression
    law, extended with the event_id binding column."""
    got = {
        (r.event_type, r.k_bucket): (r.cnt, r.sum_id, r.sum_k, r.n_distinct_k)
        for r in QUERIES["q270_variant_shredded_write_census"](
            spark, sf_dir
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    batch = {
        (r.event_type, r.k_bucket): (r.cnt, r.sum_id, r.sum_k, r.n_distinct_k)
        for r in (
            ev.select("event_id", "event_type", k.alias("k"))
            .groupBy("event_type", F.expr("k div 25").alias("k_bucket"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum("event_id").cast("bigint").alias("sum_id"),
                F.sum("k").cast("bigint").alias("sum_k"),
                F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
            )
            .collect()
        )
    }
    assert got == batch and len(got) > 0


def test_q270_files_are_physically_shredded(spark, sf_dir, build_dir):
    """Read the written parquet footer with parquet-java: the variant
    column must carry the SHREDDED structure (a ``typed_value`` group
    next to metadata/value) — the gate cannot silently pass on an
    unshredded write."""
    import glob

    QUERIES["q270_variant_shredded_write_census"](spark, sf_dir).collect()
    out = os.path.join(build_dir(sf_dir, "variant_shred"), "events")
    files = glob.glob(os.path.join(out, "*.parquet"))
    assert files
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    inputfile = jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        jvm.org.apache.hadoop.fs.Path(files[0]), hconf
    )
    reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(inputfile)
    try:
        schema = reader.getFooter().getFileMetaData().getSchema().toString()
    finally:
        reader.close()
    assert "VARIANT" in schema
    assert "typed_value" in schema  # shredded, not a plain binary pair


# ------------------------------------------------------------------ q271
def test_q271_matches_python_frame_replay(spark, sf_dir):
    """Replay q271's census in pure Python with the KERNEL's own
    selection loop (``range(0, duration, every_ms)`` + min clamp),
    NOT the oracle's even-frames closed form — so this test
    arbitrates between the two if they ever diverge."""
    got = {
        r.dur_class: (
            r.n_videos,
            r.frames_sampled,
            r.w_sum,
            r.h_sum,
            r.pix_bytes,
            r.pix_sum,
            r.bytes_sum,
            r.fmt,
        )
        for r in QUERIES["q271_video_frame_extract_census"](
            spark, sf_dir
        ).collect()
    }
    doc_ids = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    ]
    exp: dict[int, list[int]] = {}
    vids: dict[int, set[int]] = {}
    for did in doc_ids:
        d = int(did)
        w, h, nf = 8 + d % 5, 6 + d % 3, 2 + d % 4
        cls = d % 4
        vids.setdefault(cls, set()).add(d)
        a = exp.setdefault(cls, [0, 0, 0, 0, 0])
        duration = nf * 250
        for ts in range(0, duration, 500):
            f = min(ts * nf // max(duration, 1), nf - 1)
            n = w * h * 3
            a[0] += 1
            a[1] += w
            a[2] += h
            a[3] += n
            a[4] += sum((d + 7 * f + k) % 256 for k in range(n))
    assert set(got) == set(exp)
    for cls, (fr, ws, hs, pb, psum) in exp.items():
        w_bytes = sum(
            10 + len(str(8 + d % 5)) + (8 + d % 5) * (6 + d % 3) * 3
            for d in vids[cls]
            for _ in range(0, (2 + d % 4) * 250, 500)
        )
        assert got[cls] == (
            len(vids[cls]), fr, ws, hs, pb, psum, w_bytes, "ppm",
        )


def test_q271_extracted_slices_are_standalone_frames(spark):
    """Unit-pin extract_frames on a hand-built 3-frame stream: each
    sampled slice must parse back (via the REAL _parse_ppm) to the
    exact pixels of the frame the selection law picks, and a stream
    shorter than the grid must clamp to a single ts=0 sample."""
    import numpy as np
    import pandas as pd

    from multi_threaded_mapreduce_framework_spark.operators.multimodal import (
        _parse_ppm,
        extract_frames,
        ppm_stream_bytes,
    )

    frames = [
        (np.arange(4 * 3 * 3, dtype=np.int64) * (f + 1) % 256)
        .astype(np.uint8)
        .reshape(3, 4, 3)
        for f in range(3)
    ]
    meta = {
        "width": 4, "height": 3, "format": "ppm-stream",
        "duration_ms": 750, "sample_rate": 0,
    }
    short_meta = dict(meta, duration_ms=250)
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "kind": ["video", "video"],
                "payload": [
                    ppm_stream_bytes(frames),
                    ppm_stream_bytes(frames[:1]),
                ],
                "meta": [meta, short_meta],
            }
        ),
        schema=(
            "media_id bigint, kind string, payload binary,"
            " meta struct<width:int, height:int, format:string,"
            " duration_ms:int, sample_rate:int>"
        ),
    )
    rows = extract_frames(df, every_ms=500).collect()
    by_media: dict[int, list] = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    # media 1: 750ms @ 3 frames -> ts {0, 500} -> frames {0, 2}
    picks = sorted((r.frame_ts_ms, r.frame_idx) for r in by_media[1])
    assert picks == [(0, 0), (500, 2)]
    for r in by_media[1]:
        w, h, px = _parse_ppm(bytes(r.payload))
        assert (w, h) == (4, 3)
        assert (px.reshape(3, 4, 3) == frames[r.frame_idx]).all()
    # media 2: duration < grid step -> exactly one ts=0 sample, frame 0
    assert [(r.frame_ts_ms, r.frame_idx) for r in by_media[2]] == [(0, 0)]
    w, h, px = _parse_ppm(bytes(by_media[2][0].payload))
    assert (px.reshape(3, 4, 3) == frames[0]).all()


# ------------------------------------------------------------------ q272
def test_q272_matches_explicit_fold_replay(spark, sf_dir):
    """Replay q272's collation census in pure Python with an explicit
    case fold — independent of BOTH engine paths (Spark's
    collation-aware grouping AND the oracle's lower() SQL)."""
    got = {
        r.lang: (r.n_docs, r.upper_docs, r.en_matches)
        for r in QUERIES["q272_collation_census"](spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    )
    exp: dict[str, list[int]] = {}
    for r in rows:
        mixed = r.lang.upper() if r.doc_id % 2 == 1 else r.lang
        a = exp.setdefault(mixed.lower(), [0, 0, 0])
        a[0] += 1
        a[1] += 1 if r.doc_id % 2 == 1 else 0
        a[2] += 1 if mixed.lower() == "en" else 0
    assert got == {k: tuple(v) for k, v in exp.items()}
    # the merged groups really contain BOTH case families
    assert all(0 < v[1] < v[0] for v in got.values())

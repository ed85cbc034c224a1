"""The session schema memo behind ``sources.load_table``: each call
returns a fresh relation, only the inferred schema is reused, and a
rewritten file, a rewritten directory table or a changed inference conf
re-infers (sources/memo.py, FIXTURES.md)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from multi_threaded_mapreduce_framework_spark.queries.t2_multimodal import (
    _row_count,
)
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import (
    SessionMemo,
    listing_fingerprint,
    memo_stats,
)


def _attr_ids(df) -> set[int]:
    out = df._jdf.queryExecution().analyzed().output()
    return {out.apply(i).exprId().id() for i in range(out.size())}


def _counts(spark) -> tuple[int, int]:
    s = memo_stats(spark)
    return s["hits"], s["misses"]


def _jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_hit_and_miss_counts_are_exact(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    h0, m0 = _counts(spark)
    load_table(spark, str(tmp_path), "t")
    assert _counts(spark) == (h0, m0 + 1)
    j0 = _jobs(spark)
    for _ in range(3):
        assert load_table(spark, str(tmp_path), "t").columns == ["k"]
    # a hit skips schema inference, the footer-reading Spark job
    assert _jobs(spark) == j0
    assert _counts(spark) == (h0 + 3, m0 + 1)


def test_two_loads_are_fresh_relations(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    assert a.schema == b.schema
    assert not _attr_ids(a) & _attr_ids(b)


def test_self_join_matches_uncached_reads(spark, sf_dir):
    def self_join(n1, n2):
        # two scans of one table joined through Column references (q86
        # loads nation twice); one shared DataFrame would make these
        # references ambiguous
        return n1.join(n2, n1.n_regionkey == n2.n_regionkey).select(
            n1.n_nationkey, n2.n_nationkey.alias("n2_nationkey")
        )

    path = os.path.join(sf_dir, "nation.parquet")
    load_table(spark, sf_dir, "nation")  # the next two loads are hits
    cached = self_join(
        load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "nation")
    )
    plain = self_join(spark.read.parquet(path), spark.read.parquet(path))
    rows = sorted(cached.collect())
    assert rows == sorted(plain.collect())
    assert len(rows) == 125  # 25 nations, 5 per region


def test_rewritten_file_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    h0, m0 = _counts(spark)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y")]
    assert _counts(spark) == (h0, m0 + 1)


def test_rewritten_directory_table_reinfers(spark, tmp_path):
    path = tmp_path / "t.parquet"
    path.mkdir()
    parts = [str(path / f"part-{i}.parquet") for i in range(2)]
    for p in parts:
        pq.write_table(pa.table({"id": [1]}), p)
    assert load_table(spark, str(tmp_path), "t").columns == ["id"]
    # rewriting the part files in place leaves the directory's own
    # mtime alone; the listing fingerprint still sees the files change
    for p in parts:
        pq.write_table(pa.table({"id": [7], "s": ["x"]}), p)
    h0, m0 = _counts(spark)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "s"]
    assert df.collect() == [(7, "x"), (7, "x")]
    assert _counts(spark) == (h0, m0 + 1)


def test_binary_as_string_flip_reinfers(spark, tmp_path):
    pq.write_table(
        pa.table({"b": pa.array([b"ab", b"cd"], pa.binary())}),
        str(tmp_path / "t.parquet"),
    )
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["b"] == "binary"
        spark.conf.set(conf, "true")
        h0, m0 = _counts(spark)
        df = load_table(spark, str(tmp_path), "t")
        assert dict(df.dtypes)["b"] == "string"
        assert sorted(r.b for r in df.collect()) == ["ab", "cd"]
        assert _counts(spark) == (h0, m0 + 1)
    finally:
        spark.conf.set(conf, before)


def test_events_ts_layouts_match_cached_and_uncached(spark, tmp_path):
    stamps = [
        dt.datetime(2024, 1, 1, 0, 0, 0, 123456),
        dt.datetime(2024, 6, 30, 23, 59, 59, 1),
    ]
    rows = {}
    for unit in ("ns", "us"):
        sf = tmp_path / unit
        sf.mkdir()
        pq.write_table(
            pa.table(
                {
                    "user_id": pa.array([1, 2], pa.int64()),
                    # tz-naive: isAdjustedToUTC=false, as the fixtures
                    "ts": pa.array(stamps, pa.timestamp(unit)),
                }
            ),
            str(sf / "events.parquet"),
            version="2.6",
        )
        h0, m0 = _counts(spark)
        uncached = sorted(load_table(spark, str(sf), "events").collect())
        cached_df = load_table(spark, str(sf), "events")
        assert _counts(spark) == (h0 + 1, m0 + 1)
        assert dict(cached_df.dtypes)["ts"] == "timestamp"
        assert sorted(cached_df.collect()) == uncached
        rows[unit] = uncached
    assert rows["ns"] == rows["us"]


def test_rewritten_input_is_recounted(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(10))}), path)
    assert _row_count(spark.read.parquet(path)) == 10
    h0, m0 = _counts(spark)
    assert _row_count(spark.read.parquet(path)) == 10
    assert _counts(spark) == (h0 + 1, m0)
    pq.write_table(pa.table({"a": list(range(25))}), path)
    assert _row_count(spark.read.parquet(path)) == 25


def test_unseen_paths_are_never_fingerprinted(tmp_path):
    assert listing_fingerprint(["s3a://bucket/t.parquet"]) is None
    assert listing_fingerprint([str(tmp_path / "missing.parquet")]) is None
    f = tmp_path / "t.parquet"
    f.write_bytes(b"x")
    local = listing_fingerprint([str(f)])
    assert local == listing_fingerprint([f"file://{f}"])
    assert local[0][:2] == (str(f), 1)


def test_memo_is_bounded_lru():
    memo = SessionMemo("app", capacity=2)
    built = []

    def build(v):
        return lambda: built.append(v) or v

    for key in ("a", "b", "a", "c", "b"):
        memo.get_or_build(key, build(key))
    # "b" was evicted by "c" (least recently used after the "a" hit)
    assert built == ["a", "b", "c", "b"]
    assert memo.stats() == {"hits": 1, "misses": 4, "entries": 2}

"""Null rows next to normal rows: the Arrow text kernels treat a null
text as a document with no tokens, and the A/B equality gate sorts rows
that contain NULLs."""

from __future__ import annotations

from multi_threaded_mapreduce_framework_spark.functions.heavy_hitters import (
    bigram_mg_candidates,
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

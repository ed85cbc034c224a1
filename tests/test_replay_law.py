"""The replay law (``streaming/windowed.py``): one module grows replay
directories, its files list in append order, and sentinel rows carry
the replay's own column types."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import multi_threaded_mapreduce_framework_spark as pkg
from multi_threaded_mapreduce_framework_spark.queries.t2_streamq import (
    build_session_replay,
)
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.streaming import (
    drain_to_convergence,
    events_stream,
    replay_events,
)
from multi_threaded_mapreduce_framework_spark.streaming.windowed import (
    FAR_FUTURE_USER,
    _data_files,
)

REPO = Path(pkg.__file__).parent.parent
WINDOWED = Path(pkg.__file__).parent / "streaming" / "windowed.py"
REPLAY_INTERNALS = ("bump_new_file_mtimes", "_data_files")


# ------------------------------------------------------------------ guard
def _replay_internal_calls(tree):
    """Names of calls to the replay directory's internals in ``tree``."""
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            fn = node.func
            name = getattr(fn, "id", getattr(fn, "attr", None))
            if name in REPLAY_INTERNALS:
                found.append(name)
    return found


def test_only_windowed_stamps_replay_files():
    offenders = []
    paths = sorted(Path(pkg.__file__).parent.rglob("*.py"))
    paths += sorted((REPO / "tools").rglob("*.py"))
    for path in paths:
        if path == WINDOWED:
            continue
        for name in _replay_internal_calls(ast.parse(path.read_text())):
            offenders.append(f"{path.relative_to(REPO)}: {name}")
    assert offenders == []


def test_replay_guard_sees_each_spelling():
    src = (
        "bump_new_file_mtimes(d, seen)\n"
        "w.bump_new_file_mtimes(d, seen)\n"
        "seen = set(_data_files(d))\n"
        "f(bump_new_file_mtimes)\n"
    )
    assert _replay_internal_calls(ast.parse(src)) == [
        "bump_new_file_mtimes",
        "bump_new_file_mtimes",
        "_data_files",
    ]


# -------------------------------------------------------------- the law
def _copy_fixture(src, dst, events=None):
    """A writable copy of ``src``; ``events(table)`` rewrites its events."""
    shutil.copytree(src, dst)
    for f in dst.iterdir():
        f.chmod(0o644)
    if events is not None:
        path = dst / "events.parquet"
        pq.write_table(events(pq.read_table(path)), path, coerce_timestamps=None)
    return str(dst)


def _decimal_value(table):
    i = table.schema.get_field_index("value")
    return table.set_column(i, "value", table["value"].cast(pa.decimal128(10, 2)))


def _listing(replay):
    """Data files in the order the file source replays them."""
    files = [os.path.join(replay, f) for f in _data_files(replay)]
    return sorted(files, key=os.path.getmtime)


def _assert_one_schema(spark, sf_dir, files):
    """Every file has the same Arrow column names and types (constant
    sentinel columns may be written non-nullable), and they read as the
    fixture's ``events`` types."""
    schemas = {tuple((c.name, c.type) for c in pq.read_schema(f)) for f in files}
    assert len(schemas) == 1, schemas
    fixture = {f.name: f.dataType for f in load_table(spark, sf_dir, "events").schema}
    for f in files:
        assert {c.name: c.dataType for c in spark.read.parquet(f).schema} == fixture


@pytest.mark.parametrize("events", [None, _decimal_value], ids=["fixture", "decimal"])
def test_session_replay_lists_chunks_then_one_sentinel(
    spark, sf_dir, tmp_path, events
):
    sf_dir = _copy_fixture(sf_dir, tmp_path / "sf", events)
    replay = str(tmp_path / "replay")
    build_session_replay(spark, sf_dir, replay)

    files = _listing(replay)
    assert len(files) == 5
    mtimes = [os.path.getmtime(f) for f in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    holds_sentinel = [
        FAR_FUTURE_USER in pq.read_table(f, columns=["user_id"])["user_id"].to_pylist()
        for f in files
    ]
    assert holds_sentinel == [False] * 4 + [True]
    assert pq.read_table(files[-1]).num_rows == 1
    _assert_one_schema(spark, sf_dir, files)
    if events is not None:
        assert pq.read_schema(files[-1]).field("value").type == pa.decimal128(10, 2)


def test_drain_appends_sentinel_pairs_in_the_replay_types(spark, sf_dir, tmp_path):
    sf_dir = _copy_fixture(sf_dir, tmp_path / "sf", _decimal_value)
    replay = str(tmp_path / "replay")
    replay_events(spark, sf_dir, replay, n_chunks=2)
    before = _listing(replay)

    out = drain_to_convergence(
        events_stream(spark, replay).select("user_id", "event_type"),
        replay,
        "replay_law_drain",
    )
    assert sorted(map(tuple, out.filter("user_id < 0").collect())) == [
        (-2, "purchase"),
        (-2, "purchase"),
        (-1, "click"),
        (-1, "click"),
    ]
    files = _listing(replay)
    assert files[:2] == before and len(files) == 4
    _assert_one_schema(spark, sf_dir, files)


def test_drain_stops_its_query_when_the_query_raises(spark, sf_dir, tmp_path):
    replay = str(tmp_path / "replay")
    replay_events(spark, sf_dir, replay, n_chunks=2)
    failing = events_stream(spark, replay).select(
        F.when(F.col("user_id") >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col("event_type"))
        .alias("x")
    )
    with pytest.raises(Exception, match="boom"):
        drain_to_convergence(failing, replay, "replay_law_raises")
    assert spark.streams.active == []

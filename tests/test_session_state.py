"""Session state built from a fixture directory (``sources/memo.py::
session_state``): one build per session and fixture as it is now, each
in a fresh directory, and no module-level cache dicts beside the memo."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

import multi_threaded_mapreduce_framework_spark as pkg
from multi_threaded_mapreduce_framework_spark.queries import all_queries
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import (
    memo_stats,
    session_state,
)

QUERIES = all_queries()
SF = "/root/testdata/sf0.001"
MICRO = "CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)"


def _rows(name, spark, sf_dir):
    return sorted(map(tuple, QUERIES[name].builder(spark, sf_dir).collect()))


@pytest.fixture
def sf_copy(tmp_path):
    """A byte-identical, writable copy of sf0.001 with the SAME basename."""
    dst = tmp_path / "sf0.001"
    shutil.copytree(SF, dst)
    for f in dst.iterdir():
        f.chmod(0o644)
    return str(dst)


def test_build_gets_fresh_dir_and_runs_once_per_listing(spark, tmp_path):
    sf = tmp_path / "sf_x"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"v1")
    bases = []

    def build(base):
        assert os.listdir(base) == []
        bases.append(base)
        return base

    first = session_state(spark, str(sf), "probe", build)
    before = memo_stats(spark)
    assert session_state(spark, str(sf), "probe", build) == first
    after = memo_stats(spark)
    assert after["hits"] == before["hits"] + 1
    assert after["misses"] == before["misses"]
    assert len(bases) == 1

    (sf / "t.parquet").write_bytes(b"v2 longer")  # rewritten input
    second = session_state(spark, str(sf), "probe", build)
    assert len(bases) == 2 and second != first
    assert os.path.dirname(second) == os.path.dirname(first)


@pytest.mark.parametrize(
    "name",
    [
        "q188_incremental_matview_readback",
        "q196_stream_stream_join_readback",
        "q269_stream_session_census",
    ],
)
def test_same_basename_fixture_dirs_do_not_share_state(spark, sf_copy, name):
    """Two fixture directories named ``sf0.001`` in one session share a
    layout tag; each must still get its own stream state."""
    assert os.path.basename(sf_copy) == os.path.basename(SF)
    original = _rows(name, spark, SF)
    assert original
    assert _rows(name, spark, sf_copy) == original


def test_rewritten_events_rerun_the_stream(spark, sf_copy):
    """Rewriting ``events.parquet`` within the session re-runs q188's
    stream; its readback equals the batch census of the new file."""
    name = "q188_incremental_matview_readback"
    before = {r.event_type for r in QUERIES[name].builder(spark, sf_copy).collect()}
    path = os.path.join(sf_copy, "events.parquet")
    table = pq.read_table(path)
    dropped = sorted(before)[0]
    pq.write_table(
        table.filter(pc.not_equal(table["event_type"], dropped)),
        path,
        coerce_timestamps=None,
    )

    got = _rows(name, spark, sf_copy)
    batch = sorted(
        map(
            tuple,
            load_table(spark, sf_copy, "events")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("cnt"),
                F.sum(F.expr(MICRO)).cast("bigint").alias("sum_micro"),
            )
            .select(
                "event_type",
                "cnt",
                "sum_micro",
                F.expr("sum_micro div cnt").cast("bigint").alias("avg_micro"),
            )
            .collect(),
        )
    )
    assert got == batch
    assert {r[0] for r in got} == before - {dropped}


def test_layout_follows_a_rewritten_fixture_with_the_same_basename(spark, sf_copy):
    """q115's partitioned layout belongs to the fixture it was built
    from: after a run on sf0.001, a same-named copy whose lineitem holds
    the first half of the rows must read its own layout (DuckDB oracle
    on the copy)."""
    import duckdb

    name = "q115_partition_pruned_scan"
    assert _rows(name, spark, SF)
    path = os.path.join(sf_copy, "lineitem.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows // 2), path, coerce_timestamps=None)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{path}')")
    expected = sorted(con.execute(QUERIES[name].oracle).fetchall())
    assert expected
    assert _rows(name, spark, sf_copy) == expected


def _module_cache_dicts(tree):
    """Names of module-level ``*_CACHE`` / ``*_MEMO`` dict assignments."""
    found = []
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
            isinstance(value, ast.Call)
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in ("dict", "OrderedDict")
        )
        for t in targets:
            if (
                is_dict
                and isinstance(t, ast.Name)
                and t.id.endswith(("_CACHE", "_MEMO"))
            ):
                found.append(t.id)
    return found


def test_no_module_level_cache_dicts_outside_the_memo():
    root = Path(pkg.__file__).parent
    memo = root / "sources" / "memo.py"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        if path == memo:
            continue
        for name in _module_cache_dicts(ast.parse(path.read_text())):
            offenders.append(f"{path.relative_to(root)}: {name}")
    assert offenders == []


def test_cache_dict_guard_sees_each_spelling():
    src = (
        "A_CACHE = {}\n"
        "B_MEMO: dict = {}\n"
        "C_CACHE = dict()\n"
        "D_MEMO = collections.OrderedDict()\n"
        "E_CACHE = {k: 1 for k in ()}\n"
        "F_LIMIT = {}\n"
        "def f():\n    G_CACHE = {}\n"
    )
    assert _module_cache_dicts(ast.parse(src)) == [
        "A_CACHE",
        "B_MEMO",
        "C_CACHE",
        "D_MEMO",
        "E_CACHE",
    ]


def test_only_the_memo_spells_the_state_root():
    """State directories under ``mtmrf_layout`` come from
    ``sources/memo.py`` alone (``state_root``, ``fresh_state_dir``): a
    module that builds such a path itself can hand two builds one
    directory, or leave one behind when its process exits."""
    root = Path(pkg.__file__).parent
    memo = root / "sources" / "memo.py"
    offenders = [
        str(path.relative_to(root))
        for path in sorted(root.rglob("*.py"))
        if path != memo and "mtmrf_layout" in path.read_text()
    ]
    assert offenders == []

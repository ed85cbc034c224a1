"""Shared pytest fixtures: one SparkSession for the whole test run."""

from __future__ import annotations

import glob
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from multi_threaded_mapreduce_framework_spark.session import get_spark
from multi_threaded_mapreduce_framework_spark.streaming.protoshim import ensure_protobuf

# Must run BEFORE the first SparkSession: the vendored protobuf runtime
# (transformWithStateInPandas transport) reaches Spark's Python workers
# via PYTHONPATH, which the JVM snapshots at launch.
ensure_protobuf()

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Few shuffle partitions: test data is tiny; AQE coalesces anyway but
    # a small static number keeps tiny-stage scheduling overhead down.
    s = get_spark("mtmrf-tests", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def build_dir(spark):
    """``build_dir(sf_dir, name)``: the newest directory a
    ``session_state`` build named ``name`` wrote for ``sf_dir`` in
    this session."""
    from multi_threaded_mapreduce_framework_spark.sources.memo import state_root

    def newest(sf_dir, name):
        pattern = os.path.join(state_root(spark, sf_dir), f"{name}_*")
        dirs = glob.glob(pattern)
        assert dirs, f"no build under {pattern}"
        return max(dirs, key=os.path.getmtime)

    return newest

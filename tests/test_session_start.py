"""Session start (``session.py``): the driver heap that fits the host,
the class-data archive the driver JVM starts from, and the state a
session removes when its process exits.

Everything but two JVM starts is tested as pure functions: one
subprocess session (a junk archive at the final path, the caller's JVM
options, a ``session_state`` build) and one trial JVM on a truncated
archive.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from multi_threaded_mapreduce_framework_spark import session
from multi_threaded_mapreduce_framework_spark.session import (
    cds_blocker,
    cds_key,
    class_data_plan,
    driver_memory,
    java_binary,
    promote_archive,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
MEMINFO = "MemTotal:       {} kB\nMemFree:        1024 kB\n"


# ------------------------------------------------------------ driver heap
@pytest.mark.parametrize(
    "meminfo, expected",
    [
        (MEMINFO.format(16479424), "8046m"),  # a 15.7 GiB host: half of it
        (MEMINFO.format(8 * 1024 * 1024), "4096m"),
        (MEMINFO.format(64 * 1024 * 1024), "16384m"),  # capped at 16g
        ("MemFree: 1024 kB\n", "16384m"),  # no MemTotal: the old default
        ("", "16384m"),
    ],
)
def test_driver_memory_is_half_the_host_at_most_16g(meminfo, expected):
    assert driver_memory(meminfo) == expected


# ------------------------------------------------------------ archive key
def _fake_jdk(root, version="17.0.20"):
    java = root / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text("")
    (root / "jdk" / "release").write_text(f'JAVA_VERSION="{version}"\n')
    return str(java)


def test_key_follows_the_jar_listing_and_the_jdk(tmp_path):
    java = _fake_jdk(tmp_path)
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    key = cds_key(java, str(jars))
    assert key and key == cds_key(java, str(jars))

    (jars / "a.jar").write_bytes(b"a longer")  # size changes
    resized = cds_key(java, str(jars))
    (jars / "b.jar").write_bytes(b"b")  # a jar is added
    added = cds_key(java, str(jars))
    os.utime(jars / "b.jar", ns=(0, 0))  # only the mtime changes
    touched = cds_key(java, str(jars))
    assert len({key, resized, added, touched}) == 4

    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert cds_key(java, str(jars)) != touched
    assert cds_key(java, str(tmp_path / "no-jars")) is None
    assert cds_key(str(tmp_path / "nowhere" / "bin" / "java"), str(jars)) is None


# ------------------------------------------------------------ when CDS is off
def test_blocker_names_real_conf_files_and_caller_options(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    cache = str(tmp_path / "cds")
    assert cds_blocker({}, {}, str(conf), cache) is None
    assert cds_blocker({}, {}, str(tmp_path / "absent"), cache) is None
    assert "defaultJavaOptions" in cds_blocker(
        {"spark.driver.defaultJavaOptions": "-Dx=1"}, {}, str(conf), cache
    )
    assert "extraClassPath" in cds_blocker(
        {"spark.driver.extraClassPath": "/x.jar"}, {}, str(conf), cache
    )
    assert "HADOOP_CONF_DIR" in cds_blocker({}, {"HADOOP_CONF_DIR": "/h"}, str(conf), cache)
    assert "whitespace" in cds_blocker({}, {}, str(conf), str(tmp_path / "a b"))
    (conf / "spark-defaults.conf").write_text("spark.master local[1]\n")
    assert "spark-defaults.conf" in cds_blocker({}, {}, str(conf), cache)


@pytest.fixture
def no_gateway(monkeypatch, tmp_path):
    """``class_data_plan`` as a process that has not launched its JVM yet
    sees it, with the archive cache under ``tmp_path``."""
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path / "cds"))
    return str(tmp_path / "cds")


def _env(conf_dir):
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env["SPARK_CONF_DIR"] = str(conf_dir)
    return env


def test_plan_dumps_then_maps_and_adds_no_flags_when_blocked(no_gateway, tmp_path, caplog):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")

    key = cds_key(java_binary(os.environ), os.path.join(_find_spark_home(), "jars"))
    archive = os.path.join(no_gateway, key + ".jsa")
    plan = class_data_plan({}, _env(conf))
    assert plan.conf_dir == os.path.join(no_gateway, "conf")
    assert plan.classpath_file == os.path.join(no_gateway, key + ".classpath")
    assert plan.options.startswith(f"-XX:ArchiveClassesAtExit={no_gateway}{os.sep}{key}.")
    open(archive, "wb").close()
    mapped = class_data_plan({}, _env(conf))
    assert mapped == (f"-XX:SharedArchiveFile={archive}", plan.conf_dir, None)

    caplog.clear()
    assert class_data_plan({"spark.driver.defaultJavaOptions": "-Dx=1"}, _env(conf)) is None
    (conf / "log4j2.properties").write_text("rootLogger.level = info\n")
    assert class_data_plan({}, _env(conf)) is None
    lines = [r.getMessage() for r in caplog.records]
    assert len(lines) == 2 and "log4j2.properties" in lines[1]


def test_plan_is_off_when_the_cache_cannot_be_written(monkeypatch, tmp_path):
    (tmp_path / "file").write_text("")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path / "file" / "cds"))
    conf = tmp_path / "conf"
    conf.mkdir()
    assert class_data_plan({}, _env(conf)) is None


# ------------------------------------------------------------ promotion
def _cache(tmp_path, key="k1"):
    cache = tmp_path / "cds"
    (cache / "conf").mkdir(parents=True)
    (cache / f"{key}.classpath").write_text("/cp")
    return cache


def _part(cache, key, token, age_s=0.0, payload=b"archive"):
    part = cache / f"{key}.{token}.jsa.part"
    part.write_bytes(payload)
    if age_s:
        t = time.time() - age_s
        os.utime(part, (t, t))
    return part


def test_first_part_that_passes_its_trial_is_promoted(tmp_path):
    cache = _cache(tmp_path)
    old = _part(cache, "k1", "a", age_s=5, payload=b"complete")
    new = _part(cache, "k1", "b", payload=b"also complete")
    tried = []

    def trial(java, archive, classpath):
        tried.append((archive, classpath))
        return True

    assert promote_archive(str(cache), "k1", "java", trial)
    assert (cache / "k1.jsa").read_bytes() == b"complete"
    assert tried == [(str(old), "/cp")] and new.exists()
    # with the final archive in place, the remaining temp archives go
    assert promote_archive(str(cache), "k1", "java", trial)
    assert not new.exists() and len(tried) == 1


def test_failed_parts_are_kept_until_stale_and_other_keys_pruned(tmp_path):
    cache = _cache(tmp_path)
    fresh = _part(cache, "k1", "a")
    stale = _part(cache, "k1", "b", age_s=session.CDS_STALE_S + 60)
    (cache / "k0.jsa").write_bytes(b"old key")
    (cache / "k0.classpath").write_text("/old")

    assert not promote_archive(str(cache), "k1", "java", lambda *a: False)
    assert fresh.exists() and not stale.exists()
    assert not (cache / "k1.jsa").exists()
    assert sorted(os.listdir(cache)) == sorted(["conf", "k1.classpath", fresh.name])


def test_parts_without_a_recorded_classpath_are_never_tried(tmp_path):
    cache = _cache(tmp_path)
    (cache / "k1.classpath").unlink()
    part = _part(cache, "k1", "a")

    def trial(*a):
        raise AssertionError("tried without a classpath")

    assert not promote_archive(str(cache), "k1", "java", trial)
    assert part.exists()


def test_truncated_archive_fails_its_trial_and_is_never_promoted(tmp_path):
    """One trial JVM: a temp archive cut in half (the JDK's own archive,
    header intact, tail missing) fails ``-Xshare:on`` and stays out of
    the final path, and the trial leaves no crash log behind."""
    java = java_binary(os.environ)
    base = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "classes.jsa")
    if not os.path.exists(base):
        pytest.skip("this JDK ships no default class-data archive")
    cache = _cache(tmp_path)
    with open(base, "rb") as f:
        data = f.read()
    part = _part(cache, "k1", "a", payload=data[: len(data) // 2])

    assert not promote_archive(str(cache), "k1", java)
    assert not (cache / "k1.jsa").exists() and part.exists()
    assert sorted(os.listdir(cache)) == sorted(["conf", "k1.classpath", part.name])


# ------------------------------------------------------------ one real session
PROBE = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from multi_threaded_mapreduce_framework_spark import session
from multi_threaded_mapreduce_framework_spark.sources import load_table
from multi_threaded_mapreduce_framework_spark.sources.memo import session_state

session.CDS_DIR = sys.argv[2]
sf = sys.argv[3]

def out(**kw):
    print("RESULT " + json.dumps(kw), flush=True)

spark = session.get_spark(
    "cds-probe",
    extra_conf={"spark.driver.extraJavaOptions": "-XX:TieredStopAtLevel=1"},
)

def build(base):
    with open(os.path.join(base, "state.txt"), "w") as f:
        f.write("x")
    return base

out(state=session_state(spark, sf, "probe", build))
row = load_table(spark, sf, "lineitem").selectExpr(
    "count(*) AS n", "sum(l_quantity) AS q"
).first()
out(rows=[row["n"], float(row["q"])])
mx = spark._jvm.java.lang.management.ManagementFactory
out(args=list(mx.getRuntimeMXBean().getInputArguments()),
    memory=spark.conf.get("spark.driver.memory"))
out(report=session.class_data_report(spark))
"""


@pytest.fixture(scope="module")
def probe(tmp_path_factory):
    """One subprocess session on a copy of sf0.001, started with a junk
    file at its archive's final path and the caller's C1 pin; it builds
    one ``session_state`` and exits normally."""
    root = tmp_path_factory.mktemp("probe")
    sf = root / "sf0.001"
    shutil.copytree(SF, sf)
    cds = root / "cds"
    cds.mkdir()
    key = cds_key(java_binary(os.environ), os.path.join(_find_spark_home(), "jars"))
    assert key is not None
    (cds / f"{key}.jsa").write_bytes(os.urandom(4096))
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")
    }
    env.update(TMPDIR=str(root / "tmp"), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    os.makedirs(env["TMPDIR"])
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, REPO, str(cds), str(sf)],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    results = {}
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT "):
            results.update(json.loads(line[len("RESULT "):]))
    return {"code": proc.returncode, "log": proc.stderr[-3000:], "key": key,
            "cds": str(cds), "sf": str(sf), **results}


def test_session_removes_its_state_dirs_at_exit(probe):
    state = probe.get("state")
    assert state, probe["log"]
    assert os.path.basename(state).startswith("probe_")
    assert not os.path.exists(os.path.dirname(state))  # the build's tag directory


def test_junk_archive_still_gives_a_working_session(probe):
    assert probe["code"] == 0, probe["log"]
    table = pq.read_table(os.path.join(probe["sf"], "lineitem.parquet"), columns=["l_quantity"])
    expected = [table.num_rows, float(pc.sum(table["l_quantity"]).as_py())]
    assert probe["rows"][0] == expected[0]
    assert probe["rows"][1] == pytest.approx(expected[1])
    archive = os.path.join(probe["cds"], probe["key"] + ".jsa")
    assert f"-XX:SharedArchiveFile={archive}" in probe["args"]
    assert probe["report"] == {"key": probe["key"], "archive": archive, "used": False}


def test_caller_java_options_and_driver_memory_reach_the_jvm(probe):
    assert "-XX:TieredStopAtLevel=1" in probe["args"], probe["log"]
    assert probe["memory"] == "1g"

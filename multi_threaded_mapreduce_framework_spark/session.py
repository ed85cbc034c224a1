"""SparkSession factory.

The reference engine's only "session" knobs are the worker-thread count
(clamped to input size, ``MapReduceFramework.cpp:264``) and all-in-RAM
buffers. Here the equivalents are executor parallelism + AQE; everything
else (spill, partial aggregation, stage scheduling) is Spark-native.

Scale posture: these defaults are tuned for the local[32] test harness
but written so the same code runs on a 1000-executor cluster — AQE
handles post-shuffle coalescing and skew splits at any scale,
broadcast-join threshold lets Catalyst pick broadcast vs shuffle join by
actual size, and nothing below pins a plan to local mode.

Session start.  Most of a short session is the driver JVM loading the
same ~17k Spark and JDK classes from jars.  ``get_spark`` starts that
JVM from a dynamic class-data archive (JDK Application Class-Data
Sharing) of the Spark classpath, kept in ``.cache/cds/`` beside the
package and keyed on the ``java`` binary, the pyspark version and the
listing of ``$SPARK_HOME/jars``.  A session that finds no archive for
its key asks its JVM to write one at exit (``-XX:ArchiveClassesAtExit``)
to a temp path; a later session moves it into place once a trial JVM has
mapped it, so the final path only ever holds a complete archive.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import time
import uuid
from typing import NamedTuple

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from multi_threaded_mapreduce_framework_spark.sources.memo import listing_fingerprint

CDS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".cache", "cds"
)
# A temp archive still failing its trial this long after its last write
# was abandoned by its writer (a JVM dumps one in about ten seconds).
CDS_STALE_S = 600.0
# Environment that puts more than Spark's jars and conf directory on the
# driver's classpath: an archive dumped with it matches no other session.
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)

_log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "mtmrf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism;
    otherwise ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: post-shuffle partition coalescing and skew-join
        # splitting are the scale-up story (SURVEY.md §4.2) — the reference's
        # dynamic work-queue (MapReduceFramework.cpp:133) generalized.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for every Python<->JVM hop (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Dims (region/nation/supplier/...) should broadcast; let size-based
        # planning decide rather than hard-coding join strategies.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores INT64 TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert explicitly (sources/fixtures.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate injects `size(e)>0 AND isnotnull(e)`
        # below every explode(e); for this engine e is typically an
        # EXPENSIVE interpreted higher-order expression (shingling,
        # n-gramming, band keys), and the inferred conjuncts re-evaluate
        # it up to 2 extra times per SCANNED row — measured 3x the
        # explode stage cost on q98's corpus scan, for a filter that
        # saves nothing (explode of an empty array already emits no
        # rows). Excluding the rule is strictly faster at any scale.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Deterministic timestamp semantics shared with the DuckDB oracle
        # (naive timestamps == UTC instants).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
    )
    extra_conf = extra_conf or {}
    plan = class_data_plan(extra_conf, os.environ)
    if plan is not None:
        builder = builder.config("spark.driver.defaultJavaOptions", plan.options)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    with _spark_conf_dir(plan.conf_dir if plan else None):
        spark = builder.getOrCreate()
    if plan is not None and plan.classpath_file is not None:
        _record_classpath(spark, plan.classpath_file)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def driver_memory(meminfo: str) -> str:
    """Default ``spark.driver.memory`` for a host whose ``/proc/meminfo``
    reads ``meminfo``: half of ``MemTotal``, at most 16g (16g when the
    text names no ``MemTotal``)."""
    cap_mb = 16 * 1024
    m = re.search(r"^MemTotal:\s+(\d+)\s+kB", meminfo, re.M)
    if m is None:
        return f"{cap_mb}m"
    return f"{min(cap_mb, int(m.group(1)) // 2048)}m"


def _host_driver_memory() -> str:
    try:
        with open("/proc/meminfo") as f:
            return driver_memory(f.read())
    except OSError:
        return driver_memory("")


# ---------------------------------------------------------- class-data archive
class ClassDataPlan(NamedTuple):
    """How to launch the driver JVM with a class-data archive: ``options``
    go in ``spark.driver.defaultJavaOptions`` while ``SPARK_CONF_DIR``
    points at ``conf_dir``.  ``classpath_file`` is set when the JVM
    writes a temp archive at exit instead of mapping the final one: the
    JVM's classpath goes there, for the trial of that archive."""

    options: str
    conf_dir: str
    classpath_file: str | None


def java_binary(env) -> str | None:
    """Real path of the ``java`` that ``spark-class`` runs:
    ``$JAVA_HOME/bin/java``, else the first ``java`` on ``PATH``."""
    home = env.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def cds_key(java: str, jars_dir: str) -> str | None:
    """Key of the archive for ``java`` and the jars in ``jars_dir``: the
    binary's real path, its JDK's ``release`` file (the version), the
    pyspark version and the jars' (name, size, mtime) listing.  None when
    any of them cannot be read."""
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release")) as f:
            release = f.read()
    except OSError:
        return None
    jars = listing_fingerprint([jars_dir])
    if not jars:
        return None
    blob = repr((java, release, pyspark.__version__, jars))
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def cds_blocker(conf: dict, env, conf_dir: str, cache_dir: str) -> str | None:
    """Why the driver JVM starts without an archive, or None.  The dump
    and every use must see the same classpath, with one empty directory
    standing in for ``conf_dir``; that is only faithful while
    ``conf_dir`` holds nothing but ``*.template`` files, which Spark
    never reads."""
    for k in ("spark.driver.defaultJavaOptions", "spark.driver.extraClassPath"):
        if conf.get(k):
            return f"{k} is set"
    for k in _CLASSPATH_ENV:
        if env.get(k):
            return f"${k} is set"
    if re.search(r"\s", cache_dir):
        return f"the cache path {cache_dir!r} has whitespace"
    try:
        real = sorted(n for n in os.listdir(conf_dir) if not n.endswith(".template"))
    except FileNotFoundError:
        real = []
    except OSError as e:
        return f"{conf_dir} cannot be listed ({e.strerror})"
    if real:
        return f"{os.path.join(conf_dir, real[0])} is a real configuration file"
    return None


def archive_trial(java: str, archive: str, classpath: str) -> bool:
    """True when ``java`` maps ``archive`` with ``-Xshare:on`` over
    ``classpath`` and exits 0.  A truncated archive kills the JVM that
    maps it (SIGBUS), so only a trial JVM ever maps an unproven one."""
    err = os.path.join(os.path.dirname(archive), "hs_err_trial_%p.log")
    try:
        code = subprocess.run(
            [
                java,
                "-Xshare:on",
                f"-XX:SharedArchiveFile={archive}",
                "-XX:-CreateCoredumpOnCrash",
                f"-XX:ErrorFile={err}",
                "-XX:-UsePerfData",
                "-cp",
                classpath,
                "-version",
            ],
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            timeout=120,
        ).returncode
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        for path in glob.glob(err.replace("%p", "*")):
            os.remove(path)
    return code == 0


def promote_archive(cache_dir: str, key: str, java: str, trial=archive_trial) -> bool:
    """Make ``<key>.jsa`` in ``cache_dir`` hold a complete archive if one
    is to be had; True when it does.  Files of other keys are pruned.
    The oldest temp archive ``<key>.*.jsa.part`` that passes ``trial``
    is moved into place; one that fails it is left to its writer until
    it is ``CDS_STALE_S`` old, then removed.  Once the final archive
    exists, every temp archive of the key is removed."""
    final = os.path.join(cache_dir, key + ".jsa")
    parts = []
    for entry in os.scandir(cache_dir):
        if not entry.is_file():
            continue
        if not entry.name.startswith(key + "."):
            os.remove(entry.path)
        elif entry.name.endswith(".jsa.part"):
            parts.append((entry.stat().st_mtime, entry.path))
    parts.sort()
    if os.path.exists(final):
        for _, part in parts:
            os.remove(part)
        return True
    try:
        with open(os.path.join(cache_dir, key + ".classpath")) as f:
            classpath = f.read()
    except FileNotFoundError:
        classpath = None
    for mtime, part in parts:
        if classpath is not None and trial(java, part, classpath):
            os.replace(part, final)
            return True
        if time.time() - mtime > CDS_STALE_S:
            os.remove(part)
    return False


def class_data_plan(conf: dict, env) -> ClassDataPlan | None:
    """The archive plan for launching the driver JVM, or None: when a JVM
    is already up (nothing launches), when :func:`cds_blocker` names a
    reason (logged in one line), or when the cache cannot be written."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in env:
        return None
    cache_dir = CDS_DIR
    spark_home = _find_spark_home()
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    reason = cds_blocker(conf, env, conf_dir, cache_dir)
    if reason is not None:
        _log.warning("starting the driver JVM without a class-data archive: %s", reason)
        return None
    java = java_binary(env)
    key = cds_key(java, os.path.join(spark_home, "jars")) if java else None
    if key is None:
        return None
    empty_conf = os.path.join(cache_dir, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if promote_archive(cache_dir, key, java):
            options = f"-XX:SharedArchiveFile={os.path.join(cache_dir, key)}.jsa"
            return ClassDataPlan(options, empty_conf, None)
        part = os.path.join(cache_dir, f"{key}.{uuid.uuid4().hex}.jsa.part")
        # the dump's per-class warnings (signed jars, old class files) are noise
        options = f"-XX:ArchiveClassesAtExit={part} -Xlog:cds*=off"
        return ClassDataPlan(options, empty_conf, os.path.join(cache_dir, key + ".classpath"))
    except OSError:
        return None


@contextlib.contextmanager
def _spark_conf_dir(conf_dir: str | None):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` for the gateway launch only."""
    if conf_dir is None:
        yield
        return
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def _record_classpath(spark: SparkSession, path: str) -> None:
    """Store the dumping JVM's classpath at ``path``: a trial must map a
    temp archive over exactly the classpath it was dumped with."""
    classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    try:
        with open(tmp, "w") as f:
            f.write(classpath)
        os.replace(tmp, path)
    except OSError:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def class_data_report(spark: SparkSession) -> dict:
    """The driver JVM's archive: ``key``, ``archive`` (the final path) and
    ``used``, whether the archive is mapped into the running JVM (its
    ``/proc/<pid>/maps``; a JVM that could not map it starts without it)."""
    jvm = spark._jvm
    archive = None
    for arg in jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments():
        for flag in ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="):
            if arg.startswith(flag):
                archive = arg[len(flag):]
    if archive is None:
        return {"key": None, "archive": None, "used": False}
    key = os.path.basename(archive).split(".")[0]
    try:
        with open(f"/proc/{jvm.java.lang.ProcessHandle.current().pid()}/maps") as f:
            used = archive in f.read()
    except OSError:
        used = False
    final = os.path.join(os.path.dirname(archive), key + ".jsa")
    return {"key": key, "archive": final, "used": used}


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs this engine depends on to a session we
    did not create (the verify driver passes its own SparkSession)."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        # see get_spark: inferred generate-filters re-evaluate expensive
        # explode inputs per scanned row
        (
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on this build — loader falls back per-read

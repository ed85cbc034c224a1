"""Session-scoped memo for driver-side values derived from input files.

``materialize(spark, key, build)`` returns the value stored under
``key`` for the session's Spark application, calling ``build()`` only
on a miss.  The memo is bounded (least recently used entries go first)
and counts hits and misses, so a run can report how much work it saved.

What belongs here:

- metadata that is expensive to re-derive on the driver: an inferred
  Parquet schema, a row count that picks a fan-out;
- session-materialized state built once per session: a state directory
  a stream wrote, or a ``localCheckpoint()``-ed relation (a stream's
  readback, a shared pair table).  Such a relation no longer reads its
  inputs; its blocks live in this application's block manager.

What never belongs here is a lazy relation that re-reads its inputs,
such as ``load_table``'s result: a shared one would hand every caller
the same attribute ids, so two loads of one table would self-join
ambiguously.

The memo lives as long as the Spark application: a new
``applicationId`` starts an empty memo with zeroed counts.  Keys that
depend on files carry :func:`listing_fingerprint`, so rewriting an
input invalidates them.  :func:`session_state` is the keyed entry for
state built from a fixture directory: every build gets a fresh
directory, so no build reads files an earlier build left behind, and
the process removes its state directories when it exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import stat
import tempfile
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import SparkSession

CAPACITY = 256


class SessionMemo:
    """Bounded LRU map for one Spark application, with hit/miss counts."""

    def __init__(self, app_id: str, capacity: int = CAPACITY):
        self.app_id = app_id
        self.capacity = capacity
        self.hits = 0
        self.misses = 0
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self._removed_at_exit: set[str] = set()

    def get_or_build(self, key, build):
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                self.hits += 1
                return self._entries[key]
            self.misses += 1
        # built outside the lock: a build may run a Spark job, and two
        # racing misses on one key store equal values
        value = build()
        with self._lock:
            self._entries[key] = value
            self._entries.move_to_end(key)
            while len(self._entries) > self.capacity:
                self._entries.popitem(last=False)
        return value

    def remove_at_exit(self, path: str) -> None:
        """Remove the directory ``path`` when the process exits; the
        application, and with it every reader of its state, ends with
        the process."""
        with self._lock:
            if path in self._removed_at_exit:
                return
            self._removed_at_exit.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)

    def stats(self) -> dict:
        with self._lock:
            return {
                "hits": self.hits,
                "misses": self.misses,
                "entries": len(self._entries),
            }


_current: SessionMemo | None = None
_current_lock = threading.Lock()


def _session_memo(spark: SparkSession) -> SessionMemo:
    """The memo of ``spark``'s application (one live SparkContext per
    process, so one memo; a new application replaces it)."""
    global _current
    app_id = spark.sparkContext.applicationId
    with _current_lock:
        if _current is None or _current.app_id != app_id:
            _current = SessionMemo(app_id)
        return _current


def materialize(spark: SparkSession, key, build):
    """``build()``'s value for ``key`` in this session, built at most once
    while the entry stays in the memo.  ``key`` must be hashable and
    name everything the value depends on."""
    return _session_memo(spark).get_or_build(key, build)


def state_root(spark: SparkSession, sf_dir: str) -> str:
    """``<tmp>/mtmrf_layout/<layout_tag>/``: the directory holding every
    state directory the session builds from ``sf_dir``."""
    from multi_threaded_mapreduce_framework_spark.sources.fixtures import layout_tag

    return os.path.join(tempfile.gettempdir(), "mtmrf_layout", layout_tag(spark, sf_dir))


def fresh_state_dir(spark: SparkSession, sf_dir: str, name: str) -> str:
    """A new, empty directory ``<name>_<random>`` under
    :func:`state_root` for state derived from ``sf_dir``.  Every call
    gets its own directory, so no writer overwrites files that a
    relation built earlier still reads.  The root is removed when the
    process exits."""
    parent = state_root(spark, sf_dir)
    os.makedirs(parent, exist_ok=True)
    _session_memo(spark).remove_at_exit(parent)
    return tempfile.mkdtemp(prefix=f"{name}_", dir=parent)


def session_state(spark: SparkSession, sf_dir: str, name: str, build):
    """``build(base)``'s value, built at most once per session for the
    fixture directory ``sf_dir`` as it is now.  ``base`` is a
    :func:`fresh_state_dir` for the build to write into (replays,
    checkpoints, state); a rebuild after an eviction or a rewritten
    input never sees an earlier build's files."""
    key = (
        "session_state",
        name,
        os.path.abspath(sf_dir),
        listing_fingerprint([sf_dir]),
    )
    return materialize(
        spark, key, lambda: build(fresh_state_dir(spark, sf_dir, name))
    )


def memo_stats(spark: SparkSession) -> dict:
    """Hit, miss and entry counts of the session's memo."""
    return _session_memo(spark).stats()


def _local_path(path: str) -> str | None:
    url = urlparse(path)
    if url.scheme == "":
        return os.path.abspath(path)
    if url.scheme == "file":
        return unquote(url.path)
    return None


def listing_fingerprint(paths) -> tuple | None:
    """``(name, size, mtime_ns)`` of each file in ``paths``, a directory
    standing for every file beneath it.  None when any path is not on
    the local filesystem or cannot be stat'ed: such inputs are never
    memoized, since nothing here would notice them change."""
    out = []
    for path in paths:
        local = _local_path(path)
        if local is None:
            return None
        try:
            st = os.stat(local)
            if not stat.S_ISDIR(st.st_mode):
                out.append((local, st.st_size, st.st_mtime_ns))
                continue
            for root, dirs, files in os.walk(local):
                dirs.sort()
                for name in sorted(files):
                    full = os.path.join(root, name)
                    fst = os.stat(full)
                    out.append((full, fst.st_size, fst.st_mtime_ns))
        except OSError:
            return None
    return tuple(out)

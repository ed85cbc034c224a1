"""Spans recorded around the benchmark's calls into the package, plus
counters read from Spark's status stores and a streaming listener.

Spans stay in memory and are written once, when the run ends.  Tracing is
only switched on for the traced run; untraced runs use ``Tracer(False)``,
whose ``span`` does nothing.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        try:
            yield span
        finally:
            self._stack.pop()
            span["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        if not is_tree(self.spans):
            raise ValueError("span parent links do not form a tree")
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self_times(self.spans)}, f)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = 0.0
        cursor = s["start"]
        for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


def is_tree(spans: list[dict]) -> bool:
    """One root, every parent exists and precedes its child, no cycles."""
    ids = {s["id"] for s in spans}
    roots = [s for s in spans if s["parent"] is None]
    if len(roots) != 1 or len(ids) != len(spans):
        return False
    parent = {s["id"]: s["parent"] for s in spans}
    for s in spans:
        seen = set()
        node = s["id"]
        while parent[node] is not None:
            if node in seen or parent[node] not in ids:
                return False
            seen.add(node)
            node = parent[node]
    return True


# -------------------------------------------------------------- status store
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it, in seconds, bytes or
    rows.  Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``:
    the total is the first value on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


# SQL metric names (as displayed) that feed the per-layer counters.
_BROADCAST_SIZE = "data size"
_BROADCAST_TIMES = ("time to collect", "time to build", "time to broadcast")
_PYTHON_TIME = "time to run Python workers"
# Physical nodes that run Python workers (ArrowEvalPython, MapInArrow,
# FlatMapGroupsInPandas, ...).
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")


class StatusProbe:
    """Counters from the session's status stores for everything that ran
    after the last ``mark()``: jobs, tasks, shuffle and spill bytes from the
    app status store; broadcast and Python-worker SQL metrics and execution
    submission times from the SQL status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self.mark()

    def _list(self, seq):
        return self._conv.asJava(seq)

    def _new(self, seq, key, last):
        """Items of a newest-first status-store list with ``key > last``."""
        out = []
        for item in self._list(seq):
            if key(item) <= last:
                break
            out.append(item)
        return out

    def _stages(self):
        return self._app.stageList(None, False, False, self._no_quantiles, None)

    def mark(self) -> None:
        self._bus.waitUntilEmpty()
        stages = self._list(self._stages())
        jobs = self._list(self._app.jobsList(None))
        self._last_stage = stages.get(0).stageId() if stages.size() else -1
        self._last_job = jobs.get(0).jobId() if jobs.size() else -1
        self._exec_offset = self._sql.executionsCount()

    def collect(self, action_start: float | None = None) -> dict[str, float]:
        """Counters since ``mark()``; ``action_start`` (epoch seconds) gives
        ``plan_s``, the wait until the first execution after it was submitted."""
        self._bus.waitUntilEmpty()
        out = {
            "jobs": 0.0, "tasks": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0,
            "spill_mb": 0.0, "broadcast_mb": 0.0, "broadcast_build_s": 0.0,
            "python_eval_s": 0.0, "plan_s": 0.0,
        }
        out["jobs"] = float(len(self._new(self._app.jobsList(None), lambda j: j.jobId(), self._last_job)))
        for s in self._new(self._stages(), lambda s: s.stageId(), self._last_stage):
            out["tasks"] += s.numCompleteTasks()
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["shuffle_read_mb"] += s.shuffleReadBytes() / 2**20
            out["spill_mb"] += s.diskBytesSpilled() / 2**20
        first_submit = None
        for e in self._list(self._sql.executionsList(self._exec_offset, 1 << 30)):
            eid = e.executionId()
            submitted = e.submissionTime() / 1000.0
            if action_start is not None and submitted >= action_start - 0.001:
                first_submit = submitted if first_submit is None else min(first_submit, submitted)
            values = None
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                node_name = node.name()
                broadcast = node_name == "BroadcastExchange"
                if not broadcast and not _PYTHON_NODE.search(node_name):
                    continue
                if values is None:
                    values = self._list(self._sql.executionMetrics(eid))
                for m in self._list(node.metrics()):
                    name = m.name()
                    wanted = (
                        name == _BROADCAST_SIZE or name in _BROADCAST_TIMES
                        if broadcast
                        else name == _PYTHON_TIME
                    )
                    text = values.get(m.accumulatorId()) if wanted else None
                    if text is None:
                        continue
                    if name == _BROADCAST_SIZE:
                        out["broadcast_mb"] += parse_metric(text) / 2**20
                    elif broadcast:
                        out["broadcast_build_s"] += parse_metric(text)
                    else:
                        out["python_eval_s"] += parse_metric(text)
        if first_submit is not None:
            out["plan_s"] = max(0.0, first_submit - action_start)
        self.mark()
        return out

    def jvm_jit_s(self) -> float:
        bean = self._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return bean.getTotalCompilationTime() / 1000.0

    def jvm_gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---------------------------------------------------------------- streaming
def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps each query's progress
    events by query name until the query terminates."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self._lock = threading.Lock()
            self._names: dict[str, str] = {}
            self.progress: dict[str, list] = {}
            self.terminated: set[str] = set()
            self._done = threading.Condition(self._lock)

        def onQueryStarted(self, event):
            with self._lock:
                self._names[str(event.id)] = event.name
                self.progress.setdefault(event.name, [])

        def onQueryProgress(self, event):
            p = event.progress
            row = {
                "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                "add_batch_s": p.durationMs.get("addBatch", 0) / 1000.0,
                "wal_commit_s": (
                    p.durationMs.get("walCommit", 0) + p.durationMs.get("commitOffsets", 0)
                ) / 1000.0,
                "state_commit_s": sum(s.commitTimeMs for s in p.stateOperators) / 1000.0,
                "state_rows": float(sum(s.numRowsTotal for s in p.stateOperators)),
                "state_mb": sum(s.memoryUsedBytes for s in p.stateOperators) / 2**20,
                "input_rows": float(p.numInputRows),
            }
            with self._lock:
                self.progress.setdefault(p.name, []).append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._done:
                self.terminated.add(self._names.get(str(event.id), str(event.id)))
                self._done.notify_all()

        def wait_terminated(self, name: str, timeout: float = 30.0) -> list:
            with self._done:
                self._done.wait_for(lambda: name in self.terminated, timeout)
                return list(self.progress.get(name, []))

    return ProgressListener()

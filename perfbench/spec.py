"""Workloads and metrics of the benchmark.

Two workloads, chosen so that every optimisation named in the roadmap
has one workload that exercises it and one that bypasses it:

- ``batch``: an interactive analysis session that re-runs a fixed list of
  relational TPC-H queries and corpus text queries on the same tables.
  It exercises query builders, Catalyst planning, broadcast and shuffle
  exchanges and the Python/Arrow kernels; it writes no state.
- ``stream_session``: q269's stateful session-window stream, re-run from a
  fresh checkpoint in every pass.  Its time is micro-batch planning and
  state-store commits; it runs no registered builder and no kernel, so
  builder or kernel work must leave it unchanged, and state-store work
  must leave ``batch`` unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


@dataclass(frozen=True)
class Workload:
    name: str
    tables: tuple[str, ...]
    # Registered queries run in each pass, in order.  For the stream the
    # pass is ``run_session_stream``; q269 names its oracle.
    queries: tuple[str, ...]
    # Untimed passes between the cold pass and the timed ones; the first
    # of them checks every output against the oracle.  Set from the
    # pass-time trend: the timed passes start where it has flattened.
    warmup_passes: int
    stream: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="batch",
            tables=TPCH_TABLES + ("documents",),
            queries=(
                # relational: an aggregate scan, a 6-way join (Q5
                # broadcasts lineitem) and a semi-join on an aggregate
                "q51_tpch_q1",
                "q53_tpch_q5",
                "q75_tpch_q18",
                # corpus: the paper's word count client, as explode ->
                # shuffle -> reduce and through run_mapreduce, an Arrow
                # batch kernel and the numpy winnowing kernel
                "q01_wordcount",
                "q50_mapreduce_wordcount",
                "q180_arrow_doc_stats",
                "q195_winnowing_fingerprints",
            ),
            warmup_passes=3,
        ),
        Workload(
            name="stream_session",
            tables=("events",),
            queries=("q269_stream_session_census",),
            warmup_passes=2,
            stream=True,
        ),
    )
}

# name -> (unit, better, bound); the bound is the share of the parent's
# median by which a metric may worsen before a change is a regression.
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "first_pass_s": ("s", "lower", 0.25),
    "pass_s": ("s", "lower", 0.25),
    "latency_p50_s": ("s", "lower", 0.25),
    "live_heap_mb": ("MB", "lower", 0.10),
}

# name -> unit; measured in the traced run only.
PER_LAYER = {
    "session.start_s": "s",
    "sources.load_s": "s",
    "sources.load_calls": "count",
    "sources.load_call_s": "s",
    "queries.builder_s": "s",
    "queries.builder_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.broadcast_mb": "MB",
    "exec.broadcast_build_s": "s",
    "exec.spill_mb": "MB",
    "exec.python_eval_s": "s",
    "pyworker.cpu_s": "cpu-s",
    "process.cpu_s": "cpu-s",
    "streaming.replay_build_s": "s",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.cpu_s": "cpu-s",
    "trace.overhead": "ratio",
    "host.probe_s": "s",
    "host.load1_before": "load",
    "host.load1_after": "load",
}


def metrics_line(correct: bool, attempted: int, failed: int, values: dict, trace: bool) -> dict:
    """The result object: every end-to-end metric untraced, every
    per-layer metric traced, each with its unit."""
    units = PER_LAYER if trace else {k: v[0] for k, v in END_TO_END.items()}
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }

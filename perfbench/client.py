"""Spark side of one benchmark run: a single-process, closed-loop client.

Started by ``run.py`` as a fresh process, so that set-up time runs from
process start:

    python3 perfbench/client.py CONFIG.json

After set-up it runs the workload's passes:

1. the cold pass, the first in the fresh session (``first_pass_s``);
2. ``warmup_passes`` untimed passes; the first of them collects every
   output and compares it with the oracle's expectation;
3. timed passes until ``seconds`` have passed (at least two).  A traced
   run alternates untraced and traced passes over twice that time, so
   that ``trace.overhead`` compares passes of one session.

Every query is one execution: its registered builder, then a noop-sink
write.  An execution that raises is recorded and the pass goes on.
"""

import time

T0 = time.perf_counter()

import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict, dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import proc  # noqa: E402
from oracle import result_fingerprint  # noqa: E402
from spec import WORKLOADS  # noqa: E402
from tracing import StatusProbe, Tracer, make_stream_listener  # noqa: E402


class OutputMismatch(Exception):
    """A checked output differs from the oracle's expectation."""


@dataclass
class Execution:
    query: str
    pass_no: int
    seconds: float
    error: str | None = None


def run_pass(steps, pass_no: int, tracer: Tracer) -> list[Execution]:
    """Run ``steps`` (name, zero-argument callable) in order.  A step that
    raises is recorded as failed; the pass continues with the next one."""
    out = []
    for name, step in steps:
        with tracer.span("query", query=name, pass_no=pass_no):
            t0 = time.perf_counter()
            try:
                step()
                error = None
            except Exception as e:  # noqa: BLE001 - counted, reported, not fatal
                error = f"{type(e).__name__}: {e}"[:2000]
            out.append(Execution(name, pass_no, time.perf_counter() - t0, error))
    return out


def check_output(expected: dict, name: str, df) -> None:
    got = result_fingerprint(df.columns, [tuple(r) for r in df.collect()])
    want = expected.get(name)
    if want is None:
        raise OutputMismatch(f"no oracle expectation for {name}")
    if got != want:
        raise OutputMismatch(
            f"rows {got['rows']} vs {want['rows']}, columns {got['columns']} vs "
            f"{want['columns']}, hash {got['hash'][:12]} vs {want['hash'][:12]}"
        )


class Client:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.workload = WORKLOADS[cfg["workload"]]
        self.input_dir = cfg["input_dir"]
        self.work_dir = cfg["work_dir"]
        self.tracer = Tracer(bool(cfg["trace"]))
        self.probe = None
        self.listener = None
        self.layer: dict[str, float] = {}
        self.pass_layers: list[dict[str, float]] = []
        self._stream_runs = 0
        # (memory-sink table, checkpoint dir) of the pass's stream runs,
        # dropped between passes
        self._stream_leftovers: list[tuple[str, str]] = []

    # ---------------------------------------------------------------- setup
    def setup(self) -> float:
        """Session start and input loading; returns seconds since process
        start.  With tracing on, a wrapper that records a span per call is
        installed on ``load_table`` before any query module is imported."""
        from multi_threaded_mapreduce_framework_spark import sources
        from multi_threaded_mapreduce_framework_spark.sources import fixtures

        if self.tracer.enabled:
            original = fixtures.load_table
            tracer = self.tracer

            def load_table(spark, sf_dir, name):
                with tracer.span("load_table", table=name):
                    return original(spark, sf_dir, name)

            fixtures.load_table = load_table
            sources.load_table = load_table

        from multi_threaded_mapreduce_framework_spark.session import get_spark

        with self.tracer.span("setup"):
            t = time.perf_counter()
            with self.tracer.span("session"):
                self.spark = get_spark(
                    "perfbench",
                    extra_conf={
                        "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                        "spark.driver.extraJavaOptions": (
                            f"{self.cfg['jvm_options']} "
                            f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')} "
                            f"-Dderby.system.home={self.work_dir}"
                        ),
                        "spark.ui.showConsoleProgress": "false",
                    },
                )
            self.layer["session.start_s"] = time.perf_counter() - t
            t = time.perf_counter()
            for name in self.workload.tables:
                sources.load_table(self.spark, self.input_dir, name).schema
            self.layer["sources.load_s"] = time.perf_counter() - t
            from multi_threaded_mapreduce_framework_spark.queries import all_queries

            with self.tracer.span("import_queries"):
                self.registry = all_queries()
        return time.perf_counter() - T0

    def build_replay(self) -> float:
        """The stream's time-ordered replay files (q269's input), built
        once per session; returns its seconds."""
        from multi_threaded_mapreduce_framework_spark.queries.t2_streamq import (
            build_session_replay,
        )

        self.replay = os.path.join(self.work_dir, "replay")
        t = time.perf_counter()
        with self.tracer.span("build_session_replay"):
            build_session_replay(self.spark, self.input_dir, self.replay)
        return time.perf_counter() - t

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            jvm_proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if jvm_proc is not None:
                try:
                    jvm_proc.stdin.close()
                    jvm_proc.wait(timeout=30)
                except Exception:  # noqa: BLE001
                    jvm_proc.kill()
                    jvm_proc.wait()

    # ---------------------------------------------------------------- steps
    def batch_steps(self, mode: str):
        """One step per query: builder, then the noop sink (``mode="noop"``)
        or a collect that is checked against the oracle (``"check"``)."""
        steps = []
        for name in self.workload.queries:
            builder = self.registry[name].builder

            def step(name=name, builder=builder):
                self._execute(name, lambda: builder(self.spark, self.input_dir), mode)

            steps.append((name, step))
        return steps

    def stream_steps(self, mode: str):
        """One step: q269's stream from a fresh checkpoint.  In ``"check"``
        mode the step is q269's registered builder, which runs the same
        replay and stream and aggregates the census its oracle returns."""
        name = self.workload.queries[0]
        if mode == "check":
            builder = self.registry[name].builder
            return [(name, lambda: self._execute(
                name, lambda: builder(self.spark, self.input_dir), mode))]

        from multi_threaded_mapreduce_framework_spark.queries.t2_streamq import (
            run_session_stream,
        )

        def step():
            i = self._stream_runs
            self._stream_runs += 1
            table = f"perfbench_session_{i}"
            ckpt = os.path.join(self.work_dir, f"ckpt{i}")
            self._stream_leftovers.append((table, ckpt))
            self._execute(
                name,
                lambda: run_session_stream(self.spark, self.replay, ckpt, table),
                mode,
                stream_table=table,
            )

        return [(name, step)]

    def _execute(self, name, build, mode, stream_table=None):
        tracing = self.tracer.enabled
        if tracing:
            self.probe.mark()
        with self.tracer.span("run_session_stream" if stream_table else "builder"):
            df = build()
        if stream_table is not None and tracing:
            with self.tracer.span("listener_wait"):
                self._add_stream_progress(self.listener.wait_terminated(stream_table))
        if mode == "check":
            check_output(self.cfg["expected"], name, df)
            return
        action_start = time.time()
        with self.tracer.span("action"):
            df.write.format("noop").mode("overwrite").save()
        if tracing:
            with self.tracer.span("status_probe"):
                counters = self.probe.collect(action_start)
            for k, v in counters.items():
                self._pass_acc[k] = self._pass_acc.get(k, 0.0) + v

    def _add_stream_progress(self, batches: list[dict]) -> None:
        acc = self._pass_acc
        acc["streaming.batches"] = acc.get("streaming.batches", 0.0) + len(batches)
        self._batch_times.extend(b["trigger_s"] for b in batches)
        for k in ("add_batch_s", "wal_commit_s", "state_commit_s"):
            acc[f"streaming.{k}"] = acc.get(f"streaming.{k}", 0.0) + sum(b[k] for b in batches)
        for k in ("state_rows", "state_mb"):  # peak over the run's batches
            acc[f"streaming.{k}"] = max([b[k] for b in batches] + [acc.get(f"streaming.{k}", 0.0)])

    # --------------------------------------------------------------- passes
    def one_pass(self, pass_no: int, mode: str, traced: bool):
        """Returns (wall seconds, executions, CPU split delta)."""
        steps = self.stream_steps(mode) if self.workload.stream else self.batch_steps(mode)
        was = self.tracer.enabled
        self.tracer.enabled = traced
        self._pass_acc: dict[str, float] = {}
        jvm_pid = self.jvm_pid
        try:
            gc_before = self.probe.jvm_gc_s() if traced else 0.0
            jit_before = self.probe.jvm_jit_s() if traced else 0.0
            cpu0 = proc.cpu_split(jvm_pid)
            with self.tracer.span("pass", pass_no=pass_no, mode=mode) as span:
                t0 = time.perf_counter()
                execs = run_pass(steps, pass_no, self.tracer)
                wall = time.perf_counter() - t0
            cpu1 = proc.cpu_split(jvm_pid)
            cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
            if traced:
                self._pass_acc["jvm.gc_s"] = self.probe.jvm_gc_s() - gc_before
                self._pass_acc["jvm.jit_s"] = self.probe.jvm_jit_s() - jit_before
                span["attrs"].update(self._pass_acc)
                self._record_pass_layers(span, cpu)
        finally:
            self.tracer.enabled = was
        self._between_passes()
        return wall, execs, cpu

    def _record_pass_layers(self, pass_span: dict, cpu: dict) -> None:
        inside = self._descendants(pass_span["id"])
        load = [s for s in inside if s["name"] == "load_table"]
        builders = [s for s in inside if s["name"] == "builder"]
        acc = self._pass_acc
        row = {
            "sources.load_calls": float(len(load)),
            "sources.load_call_s": sum(s["end"] - s["start"] for s in load),
            "queries.builder_s": sum(s["end"] - s["start"] for s in builders),
            "catalyst.plan_s": acc.get("plan_s", 0.0),
            "pyworker.cpu_s": cpu["pyworkers"],
            "process.cpu_s": cpu["tree"],
            "jvm.cpu_s": cpu["jvm"],
            "jvm.gc_s": acc.get("jvm.gc_s", 0.0),
            "jvm.jit_s": acc.get("jvm.jit_s", 0.0),
        }
        for k in ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb", "broadcast_mb",
                  "broadcast_build_s", "spill_mb", "python_eval_s"):
            row[f"exec.{k}"] = acc.get(k, 0.0)
        for k in ("batches", "add_batch_s", "wal_commit_s", "state_commit_s",
                  "state_rows", "state_mb"):
            row[f"streaming.{k}"] = acc.get(f"streaming.{k}", 0.0)
        self.pass_layers.append(row)

    def _descendants(self, span_id: int) -> list[dict]:
        spans = self.tracer.spans
        out, frontier = [], {span_id}
        for s in spans[span_id + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def _between_passes(self) -> None:
        # Hygiene outside every timed region: drop the stream's sink tables
        # and checkpoints, Python references, cached relations and the JVM
        # objects that pin checkpoint blocks.
        for table, ckpt in self._stream_leftovers:
            self.spark.catalog.dropTempView(table)
            shutil.rmtree(ckpt, ignore_errors=True)
        self._stream_leftovers.clear()
        gc.collect()
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def live_heap_mb(self) -> float:
        jvm = self.spark._jvm
        jvm.System.gc()
        jvm.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    # ------------------------------------------------------------------ run
    def run(self) -> dict:
        res: dict = {}
        with self.tracer.span("run", workload=self.workload.name, seed=self.cfg["seed"]):
            res["setup_s"] = self.setup()
            if self.workload.stream:
                res["replay_build_s"] = self.layer["streaming.replay_build_s"] = (
                    self.build_replay()
                )
            self.jvm_pid = jvm_pid_of(self.spark)
            if self.tracer.enabled:
                self.probe = StatusProbe(self.spark)
                if self.workload.stream:
                    self.listener = make_stream_listener()
                    self.spark.streams.addListener(self.listener)
            self._batch_times: list[float] = []
            executions: list[Execution] = []

            wall, execs, _ = self.one_pass(0, "noop", self.tracer.enabled)
            res["first_pass_s"] = wall
            res["warmup_walls"] = []
            executions += execs
            for i in range(self.workload.warmup_passes):
                wall, execs, _ = self.one_pass(1 + i, "check" if i == 0 else "noop",
                                               self.tracer.enabled)
                res["warmup_walls"].append(wall)
                executions += execs
            self.pass_layers.clear()
            self._batch_times.clear()
            res["warm_at_s"] = time.perf_counter() - T0

            timed = []  # (traced, wall, executions, cpu)
            budget = self.cfg["seconds"] * (2 if self.tracer.enabled else 1)
            start = time.perf_counter()
            pass_no = 1 + self.workload.warmup_passes
            while len(timed) < (4 if self.tracer.enabled else 2) or (
                time.perf_counter() - start < budget
            ):
                traced = self.tracer.enabled and len(timed) % 2 == 1
                wall, execs, cpu = self.one_pass(pass_no, "noop", traced)
                timed.append((traced, wall, execs, cpu))
                executions += execs
                pass_no += 1
            res["live_heap_mb"] = self.live_heap_mb()
            res["timed_end_at_s"] = time.perf_counter() - T0

        untraced = [t for t in timed if not t[0]]
        res["pass_walls"] = [t[1] for t in untraced]
        res["pass_cpu_split"] = [t[3] for t in untraced]
        res["latencies"] = [e.seconds for t in untraced for e in t[2]]
        res["executions"] = [asdict(e) for e in executions]
        if self.tracer.enabled:
            res["layer"] = self._layer_summary([t[1] for t in timed if t[0]], res["pass_walls"])
            self.tracer.write(self.cfg["spans_out"])
        return res

    def _layer_summary(self, traced_walls: list[float], untraced_walls: list[float]) -> dict:
        med = statistics.median
        out = {"streaming.replay_build_s": 0.0, **self.layer}
        for k in self.pass_layers[0]:
            out[k] = med(row[k] for row in self.pass_layers)
        out["queries.builder_share"] = out["queries.builder_s"] / med(traced_walls)
        out["streaming.batch_p50_s"] = med(self._batch_times) if self._batch_times else 0.0
        out["trace.overhead"] = med(traced_walls) / med(untraced_walls)
        return out


def jvm_pid_of(spark) -> int | None:
    proc_handle = getattr(spark.sparkContext._gateway, "proc", None)
    return proc_handle.pid if proc_handle is not None else None


def main(cfg_path: str) -> int:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    client = Client(cfg)
    try:
        res = client.run()
    finally:
        if hasattr(client, "spark"):
            client.stop()
    res["stopped_at_s"] = time.perf_counter() - T0
    with open(cfg["out"], "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))

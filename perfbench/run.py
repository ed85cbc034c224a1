"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  One run:

1. derives the seed's inputs from ``perfbench/data`` and computes (or
   reads from its per-seed cache) the DuckDB oracle's expected outputs;
2. runs the client (``client.py``) in a fresh process, so that
   ``setup_s`` runs from process start;
3. prints a summary line, then the result object as the last line.

Everything a run writes lives under ``.perfbench/`` in the checkout: the
oracle cache and result records persist, the run's scratch directory
(inputs, Spark local dirs, checkpoints, warehouse, temp files) is removed
when the run ends.  Each client runs in its own process group, which is
killed and reaped before the run returns.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "multi_threaded_mapreduce_framework_spark"
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import oracle  # noqa: E402
import proc  # noqa: E402
from spec import WORKLOADS, metrics_line  # noqa: E402

# Pinned deployment: four local cores and a heap that fits a 15 GB host
# many times over (the live heap after a full GC stays far below it).
SPARK_GRAFT_CPUS = "4"
SPARK_GRAFT_DRIVER_MEM = "2g"
# Extra options of the Spark JVM; the package sets none.  C1-only JIT:
# under the default tiered compiler the Spark JVM spent 8.3 s compiling
# in the first warm pass of ``batch`` and still 0.7 s in the 14th, and
# that compile work took cores from the passes, so pass times drifted for
# the whole run.  With C1 only, compile time falls below 1 s per pass
# from the first warm pass on and pass times are flat from there; steady
# C2 code is about 20% faster on these passes.  No perf-data file: the
# JVM would write it to /tmp, outside the run's own directory.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
DEFAULT_SEED = 1  # seed 7 is held out: nothing here was tuned on it
# Client time limit: set-up, cold pass and warm-up (about 35 s) with room
# to spare, the timed budget (twice --seconds when traced), and one more
# pass that starts just before the budget runs out.
CLIENT_ALLOWANCE_S = 90


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def client_env(run_dir: str, input_dir: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = SPARK_GRAFT_CPUS
    env["SPARK_GRAFT_DRIVER_MEM"] = SPARK_GRAFT_DRIVER_MEM
    env["SPARK_GRAFT_SF_DIR"] = input_dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # The short-lived JVM that spark-submit starts to build the Spark
    # JVM's command line would otherwise write its perf-data file to /tmp.
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    env.pop("OMP_NUM_THREADS", None)
    return env


def client_timeout(seconds: float, trace: bool) -> float:
    return CLIENT_ALLOWANCE_S + (2 if trace else 1) * seconds


def run_client(cfg: dict, run_dir: str, env: dict) -> dict:
    """Run one client process to completion; returns its result record."""
    cfg_path = os.path.join(run_dir, "client.json")
    cfg["out"] = os.path.join(run_dir, "client.out.json")
    cfg["work_dir"] = os.path.join(run_dir, "client")
    for d in (cfg["work_dir"], os.path.join(cfg["work_dir"], "tmp"), env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "client.log")
    with open(log_path, "w") as log:
        child = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), cfg_path],
            cwd=cfg["work_dir"],
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = child.wait(timeout=client_timeout(cfg["seconds"], cfg["trace"]))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(child)
    if code != 0 or not os.path.exists(cfg["out"]):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"client failed (exit {code}):\n{tail}")
    with open(cfg["out"]) as f:
        return json.load(f)


def _reap_group(child: subprocess.Popen) -> None:
    """Kill whatever is left of the client's process group (the JVM and
    Python workers normally exit with it) and wait for the client."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and _group_alive(child.pid):
        time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rpartition(")")[2].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def spark_version() -> str:
    from importlib.metadata import version

    return version("pyspark")


def failed_frac(executions: list[dict]) -> float:
    """Executions that raised or whose output differed from the oracle,
    over executions attempted."""
    return sum(1 for e in executions if e["error"]) / len(executions)


def summarize(trace: bool, res: dict, host: dict) -> dict:
    """The run's metric values, by name."""
    med = statistics.median
    if trace:
        values = dict(res["layer"])
    else:
        values = {
            "setup_s": res["setup_s"],
            "first_pass_s": res["first_pass_s"],
            "pass_s": med(res["pass_walls"]),
            "latency_p50_s": med(res["latencies"]),
            "live_heap_mb": res["live_heap_mb"],
        }
    values.update(host)
    return values


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    bench_dir = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(bench_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        sys.path.insert(0, ROOT)
        from bench import host_probe  # the suite bench's fixed pure-Python loop

        host = {"host.probe_s": host_probe(), "host.load1_before": proc.load1()}
        input_dir = os.path.join(run_dir, "inputs")
        input_fp = inputs.write_inputs(args.seed, workload.tables, input_dir)

        from multi_threaded_mapreduce_framework_spark.queries import all_queries

        registry = all_queries()
        sql = {q: registry[q].oracle for q in workload.queries}
        expected = oracle.cached_expected_outputs(
            os.path.join(bench_dir, "oracle", f"{args.workload}-seed{args.seed}.json"),
            {"seed": args.seed, "inputs": input_fp, "sql": oracle.sql_digest(sql)},
            input_dir,
            workload.tables,
            sql,
        )

        env = client_env(run_dir, input_dir)
        base = {
            "root": ROOT, "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": trace, "input_dir": input_dir,
            "jvm_options": JVM_OPTIONS,
        }
        phases = {"prepared_s": time.perf_counter() - started}
        results_dir = os.path.join(bench_dir, "results")
        os.makedirs(results_dir, exist_ok=True)
        stem = os.path.join(
            results_dir, f"{args.workload}-seed{args.seed}-trace{int(trace)}-{int(time.time())}"
        )
        res = run_client(
            dict(base, expected=expected, spans_out=stem + ".spans.json"),
            run_dir,
            env,
        )
        phases["done_s"] = time.perf_counter() - started
        phases.update({k: res[k] for k in ("warm_at_s", "timed_end_at_s", "stopped_at_s") if k in res})
        host["host.load1_after"] = proc.load1()

        values = summarize(trace, res, host)
        failures = [e for e in res["executions"] if e["error"]]
        attempted = len(res["executions"])
        record = {
            "workload": args.workload, "seed": args.seed, "trace": trace,
            "seconds": args.seconds, "inputs": input_fp,
            "deployment": {
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": SPARK_GRAFT_CPUS,
                "SPARK_GRAFT_DRIVER_MEM": SPARK_GRAFT_DRIVER_MEM,
                "jvm_options": JVM_OPTIONS,
                "spark_version": spark_version(),
            },
            "values": values,
            "warmup_walls": res["warmup_walls"],
            "pass_walls": res["pass_walls"],
            "pass_cpu_split": res["pass_cpu_split"],
            "replay_build_s": res.get("replay_build_s"),
            "latency_samples": len(res["latencies"]),
            "attempted": attempted,
            "failed": len(failures),
            "failed_frac": failed_frac(res["executions"]),
            "failures": failures,
            "phases": phases,
        }
        with open(stem + ".json", "w") as f:
            json.dump(record, f, indent=1)

        line = metrics_line(not failures, attempted, len(failures), values, trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"# {args.workload} seed={args.seed} trace={int(trace)} "
        f"failed_frac={record['failed_frac']:.4f} "
        f"timed_passes={len(res['pass_walls'])} latency_samples={len(res['latencies'])} "
        f"record={os.path.relpath(stem, ROOT)}.json"
    )
    for f in failures:
        print(f"# failed: {f['query']} pass {f['pass_no']}: {f['error'][:300]}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""How a run is bounded: without the package next to it the benchmark
fails fast and prints no result, and the client's time limit covers the
timed budget."""

import os
import shutil
import subprocess
import sys

from conftest import BENCH, ROOT


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__")
    )
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
    assert not (tmp_path / ".perfbench").exists()


def test_client_time_limit_covers_the_timed_budget():
    from run import CLIENT_ALLOWANCE_S, client_timeout

    for seconds in (1, 20, 60):
        assert client_timeout(seconds, False) == CLIENT_ALLOWANCE_S + seconds
        # a traced run measures for twice --seconds
        assert client_timeout(seconds, True) == CLIENT_ALLOWANCE_S + 2 * seconds

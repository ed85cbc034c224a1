"""A failing execution is counted in failed_frac, and the run goes on."""

from dataclasses import asdict

from client import run_pass
from run import failed_frac
from spec import END_TO_END, metrics_line
from tracing import Tracer


def test_raising_query_is_counted_without_aborting_the_run():
    ran = []

    def ok(name):
        return name, lambda: ran.append(name)

    def boom():
        raise RuntimeError("forced failure")

    steps = [ok("a"), ("bad", boom), ok("b")]
    execs = run_pass(steps, 0, Tracer(False)) + run_pass(steps, 1, Tracer(False))
    assert ran == ["a", "b", "a", "b"]
    assert [e.query for e in execs if e.error] == ["bad", "bad"]
    assert "forced failure" in execs[1].error
    records = [asdict(e) for e in execs]
    assert failed_frac(records) == 2 / 6
    failed = sum(1 for e in records if e["error"])
    line = metrics_line(failed == 0, len(records), failed, dict.fromkeys(END_TO_END, 1.0), False)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 6, 2)

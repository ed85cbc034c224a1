"""bench.py contamination self-enforcement (VERDICT r10 item 3): a run
whose own interleaved probe track shows host interference must refuse to
become the committed BENCH.json record.

Pure-python unit tests — no Spark, no timing; the guard is exercised on
synthetic probe tracks shaped like the real artifact classes (flat clean
track vs the r10 drift-cluster spike)."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_track_ratio_flat_track_is_clean():
    track = {"__start__": 0.080, "q10_x": 0.082, "q20_y": 0.079, "__end__": 0.081}
    assert bench.track_ratio(track) == 1.04
    assert not bench.is_contaminated(track)


def test_track_ratio_spike_marks_contamination():
    # the r10 signature: probes in one suite segment read ~1.8x the rest
    track = {"__start__": 0.080, "q90_x": 0.145, "q100_y": 0.139, "__end__": 0.081}
    assert bench.track_ratio(track) > bench.CALIB_TRACK_CLEAN_MAX_OVER_MIN
    assert bench.is_contaminated(track)


def test_guideline_boundary_is_inclusive_clean():
    # exactly at the guideline: still blessed (the guideline is a strict
    # upper bound; BASELINE.md says "under ~1.5")
    track = {"__start__": 0.100, "__end__": 0.150}
    assert bench.track_ratio(track) == 1.5
    assert not bench.is_contaminated(track)


def test_bless_record_writes_clean_payload(tmp_path):
    path = str(tmp_path / "BENCH.json")
    payload = {"value": 1.0, "contaminated": False}
    assert bench.bless_record(payload, path)
    assert json.load(open(path)) == payload
    assert not os.path.exists(path + ".dirty")


def test_stdout_line_is_tail_proof():
    # VERDICT r11 item 2: the printed line must fit the driver's
    # bounded stdout capture AT ANY QUERY COUNT — r10's 7.8 KB
    # 272-query line parsed as null and destroyed the round-over-round
    # table.  Pin the guarantee on a suite far larger than real.
    payload = {
        "metric": "suite_wall_s",
        "value": 1234.567,
        "unit": "sec",
        "queries": {
            f"q{i}_some_long_query_name_{i}": 0.123 for i in range(2000)
        },
        "sf": 0.1,
        "worst_over_median": 5.2,
        "calib_s": 0.576,
        "calib_track": {f"q{i}_x": 0.08 for i in range(0, 2000, 10)},
        "calib_track_max_over_min": 1.12,
        "contaminated": False,
    }
    line = bench.stdout_line(payload, bench.LAST_RUN_FILE)
    assert len(line) <= bench.STDOUT_LINE_MAX_BYTES
    parsed = json.loads(line)
    # suite-level keys survive; unbounded ones are in the pointed file
    assert parsed["value"] == 1234.567
    assert parsed["calib_s"] == 0.576
    assert parsed["contaminated"] is False
    assert parsed["n_queries"] == 2000
    assert parsed["n_errored"] == 0
    assert parsed["queries_file"] == bench.LAST_RUN_FILE
    assert "queries" not in parsed and "calib_track" not in parsed


def test_stdout_line_refuses_unbounded_keys():
    # regression guard for the guarantee itself: if a future edit adds
    # an unbounded key back into the compact dict, the bench must fail
    # loudly rather than silently regress the driver contract
    payload = {
        "metric": "suite_wall_s",
        "value": 1.0,
        "unit": "sec",
        "queries": {},
        "giant_blob": "x" * 10000,
    }
    try:
        bench.stdout_line(payload, bench.LAST_RUN_FILE)
    except ValueError as e:
        assert "tail-proof" in str(e)
    else:  # pragma: no cover - the guard must fire
        raise AssertionError("oversized stdout line was not refused")


def test_bless_record_refuses_contaminated_payload(tmp_path):
    path = str(tmp_path / "BENCH.json")
    clean = {"value": 1.0, "contaminated": False}
    bench.bless_record(clean, path)
    dirty = {"value": 9.9, "contaminated": True}
    assert not bench.bless_record(dirty, path)
    # the committed record is untouched; the dirty payload is preserved
    # beside it for adjudication
    assert json.load(open(path)) == clean
    assert json.load(open(path + ".dirty")) == dirty


def test_last_run_keeps_one_file_per_core_count(tmp_path):
    # a c8 run after a c32 run must not destroy the c32 map
    c32 = {"value": 1284.4, "queries": {"q01_wordcount": 0.5}, "memo": {"hits": 9}}
    c8 = {"value": 1125.7, "queries": {"q01_wordcount": 0.9}, "memo": {"hits": 7}}
    bench.write_last_run(str(tmp_path), c32, 32)
    bench.write_last_run(str(tmp_path), c8, 8)
    assert json.load(open(tmp_path / "BENCH_LAST_c32.json")) == c32
    assert json.load(open(tmp_path / "BENCH_LAST_c8.json")) == c8
    assert json.load(open(tmp_path / bench.LAST_RUN_FILE)) == c8

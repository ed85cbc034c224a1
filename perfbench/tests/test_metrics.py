"""The printed metrics are exactly the ones BENCHMARK.json declares."""

import json
import os

from conftest import ROOT
from spec import END_TO_END, PER_LAYER, WORKLOADS, metrics_line


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_units_and_bounds_match_benchmark_json():
    decl = _declared()
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in decl["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in decl["per_layer"]} == PER_LAYER
    assert [w["name"] for w in decl["workloads"]] == list(WORKLOADS)


def test_printed_line_has_every_metric_with_its_unit():
    values = {k: 1.5 for k in list(END_TO_END) + list(PER_LAYER)}
    for trace, declared in ((False, "end_to_end"), (True, "per_layer")):
        line = metrics_line(True, 3, 0, values, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        want = {m["name"]: m["unit"] for m in _declared()[declared]}
        assert {k: v["unit"] for k, v in line["metrics"].items()} == want
        json.dumps(line)

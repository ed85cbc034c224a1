"""Spans written by a traced run form a tree, and self time adds up."""

import json

from tracing import Tracer, is_tree, parse_metric, self_times


def _traced_run():
    t = Tracer(True)
    with t.span("run"):
        with t.span("setup"):
            with t.span("session"):
                pass
        for p in range(2):
            with t.span("pass", pass_no=p):
                with t.span("query"):
                    with t.span("builder"):
                        with t.span("load_table"):
                            pass
                    with t.span("action"):
                        pass
    return t


def test_span_file_parent_links_form_a_tree(tmp_path):
    t = _traced_run()
    path = tmp_path / "spans.json"
    t.write(str(path))
    spans = json.loads(path.read_text())["spans"]
    assert is_tree(spans)
    assert sum(1 for s in spans if s["parent"] is None) == 1
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            parent = by_id[s["parent"]]
            assert parent["start"] <= s["start"] <= s["end"] <= parent["end"]


def test_is_tree_rejects_broken_links():
    spans = _traced_run().spans
    assert not is_tree(spans + [dict(spans[0], id=99)])  # second root
    orphan = dict(spans[1], id=100, parent=12345)
    assert not is_tree(spans + [orphan])


def test_self_times_sum_to_root_duration():
    t = _traced_run()
    root = t.spans[0]
    total = sum(self_times(t.spans).values())
    assert abs(total - (root["end"] - root["start"])) < 1e-9


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("run"):
        with t.span("pass"):
            pass
    assert t.spans == []


def test_parse_metric_formats():
    assert parse_metric("981 ms") == 0.981
    assert parse_metric("1.3 s") == 1.3
    assert parse_metric("1024.0 KiB") == 1024 * 1024
    assert parse_metric("60,000") == 60000
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.5 s (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 2.5

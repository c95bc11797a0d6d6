"""Span self-time arithmetic and the event-log parser."""

import os

import pytest

from tracing import Tracer, covered, parse_event_log

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "eventlog.jsonl")


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == pytest.approx(5)
    assert covered(0, 10, [(-5, 2), (9, 20)]) == pytest.approx(3)
    assert covered(0, 10, [(11, 12)]) == 0


def _span(tr, name, start, end, parent=None):
    tr.spans.append({"id": len(tr.spans), "name": name, "parent": parent, "start": start, "end": end})
    return len(tr.spans) - 1


def test_self_time_subtracts_children_once():
    tr = Tracer()
    root = _span(tr, "item", 0.0, 10.0)
    build = _span(tr, "build", 0.0, 4.0, root)
    _span(tr, "plans", 1.0, 2.0, build)
    _span(tr, "plans", 1.5, 3.0, build)  # overlaps its sibling
    _span(tr, "exec", 4.0, 9.0, root)
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(1.0)
    assert selfs[build] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(1.0)


def test_tracer_records_nesting():
    tr = Tracer()
    with tr.span("outer", item="x"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["item"] == "x"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]


def test_event_log_rollup_by_job_group():
    groups = parse_event_log(FIXTURE)
    build, exec_ = groups["p2:q:build"], groups["p2:q:exec"]
    # recorded from: build = one 1-partition collect; exec = a 2-file
    # parquet scan, a groupBy written to noop and a 1-partition collect
    assert build["jobs"] == 1 and exec_["jobs"] == 3
    assert build["tasks"] == 1 and exec_["tasks"] == 6
    assert build["stages"] == 1 and exec_["stages"] == 4
    assert exec_["failed_tasks"] == 0
    assert exec_["shuffle_write_bytes"] > 0 and exec_["shuffle_read_bytes"] == exec_["shuffle_write_bytes"]
    assert exec_["input_bytes"] > 0
    assert exec_["executor_run_s"] > 0 and exec_["executor_cpu_s"] > 0
    assert exec_["job_s"] == pytest.approx(sum(e - s for s, e in exec_["job_intervals"]))
    assert all(s <= e for s, e in exec_["job_intervals"])

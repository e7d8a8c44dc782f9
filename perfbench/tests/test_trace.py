"""The event-log reducer and span/coverage helpers on a canned log.

Run: python3 -m pytest perfbench/tests -q
"""

import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_sample.jsonl")


@pytest.fixture(scope="module")
def reduced():
    return trace.reduce_log(trace.read_events(LOG))


def test_one_row_per_op_and_stage(reduced):
    # job 1 has no job group: its stage belongs to no op and is dropped
    assert [(r["op"], r["stage"]) for r in reduced["stages"]] == [("pip#0", 0), ("pip#0", 1)]
    s0 = reduced["stages"][0]
    assert s0["tasks"] == 2
    assert s0["task_s"] == pytest.approx(4.0)
    assert s0["task_max_s"] == pytest.approx(3.0)
    assert s0["task_median_s"] == pytest.approx(2.0)
    assert s0["wall_s"] == pytest.approx(3.1)
    assert s0["shuffle_write_mb"] == pytest.approx(2.0)
    assert s0["spill_mb"] == pytest.approx(4.0)


def test_op_summary(reduced):
    op = reduced["ops"]["pip#0"]
    assert set(reduced["ops"]) == {"pip#0"}
    assert op["jobs"] == 1
    assert op["tasks"] == 3
    assert op["task_s"] == pytest.approx(4.5)
    assert op["gc_s"] == pytest.approx(0.3)
    assert op["shuffle_mb"] == pytest.approx(2.0)
    # skew is taken in the op's longest stage (stage 0): max 3.0 / median 2.0
    assert op["task_skew"] == pytest.approx(1.5)
    assert op["job_intervals"] == [(1000.1, 1003.9)]
    assert op["exec_intervals"] == [(1000.0, 1004.0)]


def test_python_metrics_are_scaled_by_metric_type(reduced):
    py = reduced["ops"]["pip#0"]["py"]
    assert py["py_run_s"] == pytest.approx(1.5)  # timing metric, ms
    assert py["py_to_mb"] == pytest.approx(3.0)  # size metric, bytes
    assert py["py_from_mb"] == pytest.approx(0.5)
    assert py["py_init_s"] == 0.0


def test_plan_node_rows(reduced):
    op = reduced["ops"]["pip#0"]
    assert trace.rows_of(op, lambda n: n.startswith("Scan parquet")) == 1000
    # ray-cast stage: nearest counted descendant (the join, through the
    # Project) and nearest counted ancestor (the Filter on the UDF result)
    assert trace.around(op, lambda n: n == "ArrowEvalPython") == (500, 150)
    # a scan has no counted descendant; its nearest Filter ancestor is the
    # top Filter, the nearest counted ancestor of any kind is the join
    assert trace.around(op, lambda n: n.startswith("Scan"), lambda n: n == "Filter") == (0, 150)
    assert trace.around(op, lambda n: n.startswith("Scan")) == (0, 500)


def test_covered_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert trace.covered(iv, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
    assert trace.covered([], 0.0, 1.0) == 0.0


def test_spans_nest_and_inherit_the_op():
    t = trace.Tracer(True)
    with t.span("q", "q#0"):
        with t.span("q.build"):
            pass
        with t.span("q.exec"):
            pass
    assert [s["name"] for s in t.spans] == ["q", "q.build", "q.exec"]
    assert [s["parent"] for s in t.spans] == [None, 0, 0]
    assert {s["op"] for s in t.spans} == {"q#0"}
    assert all(s["end"] >= s["start"] for s in t.spans)


def test_disabled_tracer_records_nothing():
    t = trace.Tracer(False)
    with t.span("q", "q#0"):
        pass
    assert t.spans == []

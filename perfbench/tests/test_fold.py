"""The trace fold on synthetic spans and event-log lines (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.trace import (  # noqa: E402
    DESC_PREFIX,
    UNATTRIBUTED,
    Span,
    Tracer,
    fold,
    read_event_log,
    self_times,
    union_length,
)


def _job(job_id, sid=None):
    props = {"spark.job.description": f"{DESC_PREFIX}{sid}"} if sid is not None else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Properties": props}


def _stage(stage_id, sid=None):
    props = {"spark.job.description": f"{DESC_PREFIX}{sid}"} if sid is not None else {}
    return {
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0},
        "Properties": props,
    }


def _task(stage_id, t0, t1, records=0, shuffle=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Stage Attempt ID": 0,
        "Task Info": {"Launch Time": int(t0 * 1000), "Finish Time": int(t1 * 1000)},
        "Task Metrics": {
            "Input Metrics": {"Records Read": records, "Bytes Read": 10 * records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def _spans():
    # op "a": root 0 covers [100, 110]; children 1 [101, 104], 2 [103, 106];
    # grandchild 3 [103.5, 105] inside 2; child 4 [108, 112] runs past the root
    return [
        Span(0, "op", "a", None, 100.0, 110.0),
        Span(1, "x", "a", 0, 101.0, 104.0),
        Span(2, "y", "a", 0, 103.0, 106.0),
        Span(3, "z", "a", 2, 103.5, 105.0),
        Span(4, "w", "a", 0, 108.0, 112.0),
    ]


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert union_length([]) == 0
    assert union_length([(3, 3), (4, 2)]) == 0


def test_self_time_is_span_minus_union_of_children():
    st = self_times(_spans())
    # root: 10 s minus children [101, 106] (5 s) and [108, 110] (clipped, 2 s)
    assert st[0] == 3.0
    assert st[1] == 3.0
    assert st[2] == 3.0 - 1.5  # its child z covers 1.5 s
    assert st[3] == 1.5
    assert st[4] == 4.0


def test_jobs_map_to_spans_by_description():
    events = [_job(0, 1), _job(1, 1), _job(2, 2), _job(3), _job(4, 99)]
    f = fold(_spans(), events)
    assert f.jobs_by_span == {1: 2, 2: 1, UNATTRIBUTED: 2}  # 99 is no known span
    assert f.per_op["a"].jobs == 3


def test_tasks_attributed_through_their_stage():
    events = [
        _stage(7, 3), _task(7, 104.0, 105.0, records=5, shuffle=100),
        _stage(8, 1), _task(8, 101.0, 102.0, records=2),
    ]
    f = fold(_spans(), events)
    assert f.task_s_by_span == {3: 1.0, 1: 1.0}
    op = f.per_op["a"]
    assert op.task_s == 2.0
    assert op.rows_read == 7 and op.bytes_read == 70
    assert op.shuffle_write_bytes == 100
    assert op.unattributed_s == 0.0


def test_task_time_outside_any_span_is_unattributed():
    events = [
        _stage(1), _task(1, 102.0, 103.0),  # no description, inside op a
        _stage(2), _task(2, 50.0, 51.0),  # no description, in no op
        _task(3, 104.0, 104.5),  # stage never submitted
    ]
    f = fold(_spans(), events)
    assert f.task_s_by_span == {UNATTRIBUTED: 2.5}
    assert f.per_op["a"].task_s == 0.0
    assert f.per_op["a"].unattributed_s == 1.5


def test_task_time_of_the_root_span_is_in_no_layer():
    events = [
        _stage(1, 0), _task(1, 100.5, 101.5),  # labelled with the root "op" only
        _stage(2, 2), _task(2, 103.0, 105.0),
    ]
    op = fold(_spans(), events).per_op["a"]
    assert op.task_s == 3.0
    assert op.root_s == 1.0


def test_driver_only_is_op_wall_minus_task_cover():
    events = [
        _stage(1, 1), _task(1, 102.0, 104.0), _task(1, 103.0, 105.0),
        _stage(2, 4), _task(2, 109.0, 111.0),  # clipped at the root's end
    ]
    f = fold(_spans(), events)
    assert f.per_op["a"].driver_only_s == 10.0 - 3.0 - 1.0


def test_read_event_log_skips_blank_lines(tmp_path):
    p = tmp_path / "local-1"
    p.write_text(json.dumps(_job(0, 1)) + "\n\n" + json.dumps(_stage(0)) + "\n")
    assert [e["Event"] for e in read_event_log(str(p))] == [
        "SparkListenerJobStart", "SparkListenerStageSubmitted",
    ]


def test_tracer_wraps_labels_and_restores():
    labels = []
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    orig = mod.f
    t = Tracer(labels.append)
    t.op = "op1"
    t.wrap(mod, "f", "layer.f")
    with t.span("op"):
        assert mod.f(1) == 2
    t.unwrap_all()
    assert mod.f is orig
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("op", None, "op1"), ("layer.f", 0, "op1")]
    # entering sets the span's id; leaving restores the parent's, then none
    assert labels == [f"{DESC_PREFIX}0", f"{DESC_PREFIX}1", f"{DESC_PREFIX}0", None]

import json

import pytest

from eventlog import parse_event_log


def _job(jid, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages, "Properties": props}


def _stage(sid, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": sid}, "Properties": props}


def _task(sid, run_ms, shuffle=0, spill=0, gc_ms=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


def test_tasks_are_attributed_to_the_submitting_group():
    mb = 1024 * 1024
    events = [
        {"Event": "SparkListenerApplicationStart"},
        _job(0, [0, 1], "span-1"),
        _stage(0, "span-1"),
        _task(0, 1500, shuffle=2 * mb, gc_ms=100),
        _stage(1, "span-1"),
        _task(1, 500, spill=mb),
        _job(1, [2]),  # no group: ignored
        _stage(2),
        _task(2, 9000),
        _job(2, [1, 3], "span-2"),  # stage 1 reused: stays with its first job
        _stage(3, "span-2"),
        _task(3, 250, read=3 * mb),
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3},  # failed task, no metrics
    ]
    groups = parse_event_log(json.dumps(e) for e in events)
    assert set(groups) == {"span-1", "span-2"}
    a, b = groups["span-1"], groups["span-2"]
    assert (a.jobs, b.jobs) == (1, 1)
    assert a.task_s == pytest.approx(2.0)
    assert a.gc_s == pytest.approx(0.1)
    assert a.shuffle_mb == pytest.approx(2.0) and a.spill_mb == pytest.approx(1.0)
    assert b.input_mb == pytest.approx(3.0) and b.task_s == pytest.approx(0.25)


def test_stage_submission_properties_take_precedence():
    events = [_job(0, [5], "span-a"), _stage(5, "span-b"), _task(5, 1000)]
    groups = parse_event_log(json.dumps(e) for e in events)
    assert groups["span-a"].task_s == 0
    assert groups["span-b"].task_s == pytest.approx(1.0)

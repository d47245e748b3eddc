"""Event-log reader against a recorded Spark 4.1 log (one pandas_udf +
mapInArrow stage, one shuffle read stage; host paths replaced). A renamed
TaskEnd field or Python accumulable fails here instead of reading 0."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import measure  # noqa: E402

LOG = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "data", "spark41_python_stage.eventlog"
)


def _events():
    return measure.read_event_log(LOG)


def test_task_end_fields_present():
    ends = [e for e in _events() if e["Event"] == "SparkListenerTaskEnd"]
    assert len(ends) == 3
    for e in ends:
        m = e["Task Metrics"]
        for key in (
            "Executor Run Time",
            "Executor CPU Time",
            "JVM GC Time",
            "Peak Execution Memory",
            "Memory Bytes Spilled",
            "Disk Bytes Spilled",
        ):
            assert key in m
        assert "Shuffle Bytes Written" in m["Shuffle Write Metrics"]
        assert "Remote Bytes Read" in m["Shuffle Read Metrics"]
        assert "Local Bytes Read" in m["Shuffle Read Metrics"]


def test_python_accumulable_names_present():
    names = {
        a["Name"]
        for e in _events()
        if e["Event"] == "SparkListenerStageCompleted"
        for a in e["Stage Info"]["Accumulables"]
    }
    for name in (
        measure.ACC_TO_PYTHON,
        measure.ACC_FROM_PYTHON,
        measure.ACC_PY_RUN,
        *measure.ACC_PY_BOOT,
    ):
        assert name in names


def test_summarize_totals():
    s = measure.summarize(_events())
    assert s["jobs"] == 2
    assert s["tasks"] == 3
    ends = [e for e in _events() if e["Event"] == "SparkListenerTaskEnd"]
    run_s = sum(e["Task Metrics"]["Executor Run Time"] for e in ends) / 1000
    assert abs(s["task_s"] - run_s) < 1e-9
    assert s["task_cpu_s"] > 0
    assert s["shuffle_write_mb"] > 0
    assert s["shuffle_read_mb"] > 0
    # the two Python-runner operators of stage 0: bytes and ms as recorded
    assert abs(s["to_python_mb"] - (16544 + 16864) / 2**20) < 1e-12
    assert abs(s["from_python_mb"] - (16288 + 16352) / 2**20) < 1e-12
    assert abs(s["python_run_s"] - (4607 + 1255) / 1000) < 1e-9
    assert abs(s["python_boot_s"] - (3323 + 1248 + 29 + 1133) / 1000) < 1e-9


def test_attribute_jobs_to_innermost_span():
    jobs = measure.job_windows(_events())
    t0, t1 = jobs[0]["submit"], jobs[1]["submit"]
    spans = [
        {"id": 0, "start": t0 - 10, "end": t1 + 10},
        {"id": 1, "start": t1 - 0.5, "end": t1 + 0.5},
    ]
    assert measure.attribute_jobs(_events(), spans) == {0: [0], 1: [1]}


def test_self_time_subtracts_child_union():
    tr = measure.Tracer("t", True)
    p = tr.add("pass", 0.0, 10.0, None)
    tr.add("a", 1.0, 4.0, p)
    tr.add("b", 3.0, 6.0, p)  # overlaps a: union is 1..6
    tr.add("c", 9.0, 12.0, p)  # clipped to the parent: 9..10
    assert tr.self_times()[p] == 10.0 - 5.0 - 1.0

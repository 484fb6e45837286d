import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import eventlog  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_fixture.jsonl")


def spans():
    # outer span holds both jobs; the inner one opens before job 1 only
    return [
        {"id": 0, "name": "outer", "t0": 1000.0, "t1": 1003.0},
        {"id": 1, "name": "inner", "t0": 1001.5, "t1": 1003.0},
    ]


def test_parse_links_tasks_to_jobs_and_writes_to_root_execution():
    log = eventlog.read(FIXTURE)
    assert sorted(log.jobs) == [0, 1]
    assert [t.job for t in log.tasks] == [0, 0, 1]
    assert not log.is_write(log.jobs[0])
    # job 1 runs under execution 2, nested in the write command 1
    assert log.is_write(log.jobs[1])


def test_reduce_attributes_jobs_to_innermost_span_by_submission_time():
    out = eventlog.reduce_spans(eventlog.read(FIXTURE), spans())
    outer, inner = out[0], out[1]
    assert (outer["jobs"], outer["tasks"]) == (1, 2)
    assert (inner["jobs"], inner["tasks"]) == (1, 1)
    assert outer["exec_cpu_s"] == pytest.approx(0.5)
    assert inner["exec_cpu_s"] == pytest.approx(0.5)
    assert outer["shuffle_mb"] == pytest.approx(2.0)  # 1 MB written + 1 MB read
    assert outer["spill_mb"] == pytest.approx(2.0)
    assert outer["write_s"] == 0.0
    assert inner["write_s"] == pytest.approx(0.8)


def test_driver_gap_is_span_time_without_any_running_task():
    out = eventlog.reduce_spans(eventlog.read(FIXTURE), spans())
    # tasks cover 1000.2-1000.9 and 1002.1-1002.6: 1.2 s of the 3 s span
    assert out[0]["driver_gap_s"] == pytest.approx(3.0 - 1.2)
    # inner span 1001.5-1003.0 sees only 1002.1-1002.6
    assert out[1]["driver_gap_s"] == pytest.approx(1.5 - 0.5)


def test_covered_merges_overlapping_intervals_and_clips():
    assert eventlog._covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert eventlog._covered([], 0, 1) == 0.0

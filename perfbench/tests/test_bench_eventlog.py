"""The event-log parser on a small committed log.

The fixture is a scrubbed Spark 4 event log of three jobs: a tagged
aggregation whose map stage runs a Python UDF, its result job (one stage
skipped, one run), and an untagged job whose only task fails.
"""

import os

import pytest

from perfbench import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(FIXTURE) as fh:
        return eventlog.parse(fh)


def test_jobs_carry_their_span_property_and_window(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert [log.jobs[j].properties.get("perfbench.span") for j in (0, 1, 2)] == ["7", "7", None]
    for job in log.jobs.values():
        assert job.end is not None and job.end >= job.submit


def test_skipped_stages_are_left_out(log):
    assert log.jobs[1].stage_ids == [1, 2]
    assert [s.stage_id for s in log.job_stages(log.jobs[1])] == [2]


def test_stage_metrics_and_task_outcomes(log):
    (map_stage,) = log.job_stages(log.jobs[0])
    assert (map_stage.tasks, map_stage.tasks_failed) == (2, 0)
    m = map_stage.metrics
    assert m["executor_run_s"] == pytest.approx(3.229)
    assert m["executor_cpu_s"] == pytest.approx(0.475379, abs=1e-6)
    assert m["py_sent_mb"] == pytest.approx(0.081552, abs=1e-6)
    assert m["py_recv_mb"] == pytest.approx(0.062945, abs=1e-6)
    assert m["shuffle_write_mb"] > 0 and m["shuffle_read_mb"] == 0
    (reduce_stage,) = log.job_stages(log.jobs[1])
    assert reduce_stage.metrics["shuffle_read_mb"] == pytest.approx(m["shuffle_write_mb"])
    (failed,) = log.job_stages(log.jobs[2])
    assert (failed.tasks, failed.tasks_failed) == (1, 1)


def test_idle_time_is_the_job_window_not_covered_by_stages(log):
    for job in log.jobs.values():
        stages = log.job_stages(job)
        busy = max(s.complete for s in stages) - min(s.submit for s in stages)
        assert log.idle_s(job) == pytest.approx((job.end - job.submit) - busy, abs=1e-9)
        assert 0 <= log.idle_s(job) < job.end - job.submit


def test_truncated_last_line_is_ignored():
    with open(FIXTURE) as fh:
        lines = fh.readlines()
    assert len(eventlog.parse(lines + ['{"Event": "SparkListenerJobSt']).jobs) == 3

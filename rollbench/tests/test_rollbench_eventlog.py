"""Event-log parsing on a small log recorded from Spark 4 (trimmed to the
fields the parser reads): jobs 0 and 1 carry the span label, 2 and 3 none."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def parsed():
    with open(LOG) as f:
        return eventlog.parse(f)


def test_jobs_and_labels(parsed):
    jobs, stages = parsed
    assert [(j.id, j.label) for j in jobs] == [
        (0, "catalog.write:rollup_1m"),
        (1, "catalog.write:rollup_1m"),
        (2, None),
        (3, None),
    ]
    assert jobs[1].stage_ids == [1, 2]
    # stage 1 and 4 were skipped (shuffle reuse): no tasks recorded
    assert sorted(stages) == [0, 2, 3, 5]
    assert len(stages[0].run_ms) == 8


def test_summary_totals_and_labeled_skew(parsed):
    jobs, stages = parsed
    s = eventlog.summarize(jobs, stages, "catalog.write:rollup_1m")
    assert s["jobs"] == 4
    assert s["tasks"] == 18
    assert s["executor_run_s"] == pytest.approx(0.736)
    assert s["gc_s"] == pytest.approx(0.032)
    assert s["shuffle_write_bytes"] == 3555
    assert s["shuffle_read_bytes"] == 3555
    assert s["spill_bytes"] == 0
    # heaviest labeled stage is stage 0: max 219 ms over median 25.5 ms
    assert s["task_skew"] == pytest.approx(219 / 25.5)
    # without labeled jobs the heaviest stage of all jobs is used
    assert eventlog.summarize(jobs[2:], stages, "x")["task_skew"] == pytest.approx(23 / 4)


def test_jobs_in_window(parsed):
    jobs, _ = parsed
    t0 = jobs[0].submitted_ms / 1000
    assert [j.id for j in eventlog.jobs_in(jobs, t0, t0)] == [0]
    assert len(eventlog.jobs_in(jobs, t0, t0 + 3600)) == 4

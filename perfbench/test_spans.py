"""Unit tests of the event-log fold over a small committed event log.

``eventlog_sample.jsonl`` was recorded from a ``local[2]`` session
with ``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false``: job group ``span-1`` ran a
count (jobs 0 and 1), ``span-2`` a shuffle plus a parquet write (jobs
2 and 3) and job 4 ran with no group. It keeps only the events and
fields the fold reads. Run with ``python -m pytest perfbench``.
"""

import os

import pytest

from spans import Span, _union_length, fold, per_op_medians, read_events

SAMPLE = os.path.join(os.path.dirname(__file__), "eventlog_sample.jsonl")
T0 = 1792212960000


def _spans():
    return [
        Span("outer", 0, "no-such-group", T0, T0 + 5000),
        Span("count", 0, "span-1", T0 + 900, T0 + 1800),
        Span("write", 0, "span-2", T0 + 2400, T0 + 3950),
        Span("tail", 1, "no-such-group", T0 + 4000, T0 + 4100),
    ]


def test_read_events_keeps_job_and_task_events():
    kinds = {e["Event"] for e in read_events(SAMPLE)}
    assert kinds == {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"}


def test_fold_attributes_jobs_by_group_then_time():
    outer, count, write, tail = fold(read_events(SAMPLE), _spans())
    # grouped jobs go to their group's span even inside a wider span
    assert outer["jobs"] == 0 and outer["tasks"] == 0
    assert outer["driver_s"] == pytest.approx(5.0)
    # count: jobs 0 and 1; stage 1 of job 1 was skipped (no tasks)
    assert count["jobs"] == 2 and count["tasks"] == 3
    assert count["executor_run_s"] == pytest.approx(0.326)
    assert count["executor_cpu_s"] == pytest.approx(0.182866706)
    assert count["shuffle_write_bytes"] == 118 and count["output_bytes"] == 0
    assert count["s"] == pytest.approx(0.9)
    assert count["driver_s"] == pytest.approx(0.9 - 0.518 - 0.194)
    assert write["jobs"] == 2 and write["tasks"] == 3
    assert write["executor_run_s"] == pytest.approx(1.126)
    assert write["shuffle_write_bytes"] == 354 and write["output_bytes"] == 804
    assert write["driver_s"] == pytest.approx(1.55 - 0.306 - 0.920)
    # job 4 has no group: it belongs to the innermost span by time
    assert tail["jobs"] == 1 and tail["tasks"] == 2
    assert tail["executor_cpu_s"] == pytest.approx(0.017473012)
    assert tail["driver_s"] == pytest.approx(0.1 - 0.035)


def test_fold_drops_jobs_outside_every_span():
    (only,) = fold(read_events(SAMPLE), [Span("count", 0, "span-1", T0 + 900, T0 + 1800)])
    assert only["jobs"] == 2 and only["tasks"] == 3


def test_per_op_medians_count_missing_spans_as_zero():
    spans = _spans()
    rows = fold(read_events(SAMPLE), spans)
    med = per_op_medians(spans, rows, ops=[0, 1])
    assert med["count"]["jobs"] == 1  # median of [2, 0]
    assert med["tail"]["tasks"] == 1  # median of [0, 2]
    assert set(med["write"]) >= {"s", "driver_s", "jobs", "tasks", "executor_run_s"}


def test_union_length_merges_overlaps():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0

"""The event-log reader on a small hand-written event log."""

import json
import os

import pytest

from perfbench.eventlog import Span, parse_events, read_event_log, span_metrics, stage_spans

T0 = 1_700_000_000.0  # epoch seconds of the first span


def _ms(t: float) -> int:
    return int(round((T0 + t) * 1000))


def _job(job_id, submit, end, stage_ids):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": _ms(submit),
         "Stage IDs": stage_ids, "Stage Infos": [], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": _ms(end),
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _stage(stage_id, submit, end, tasks):
    """``tasks``: (launch, duration, run_ms, shuffle_bytes, spill_bytes, gc_ms);
    every task reads 500 kB of input."""
    events = [
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Stage Attempt ID": 0,
         "Task Info": {"Launch Time": _ms(launch), "Finish Time": _ms(launch + dur)},
         "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                          "Disk Bytes Spilled": spill,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                          "Input Metrics": {"Bytes Read": 500_000}}}
        for launch, dur, run_ms, shuffle, spill, gc_ms in tasks
    ]
    events.append(
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0,
                        "Submission Time": _ms(submit), "Completion Time": _ms(end)}}
    )
    return events


def _log():
    events = [{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}]
    # span A = [0, 10]: job 0 runs stage 0; job 1 lists stage 0 again
    # (already computed, so skipped) and runs stage 1
    events += _job(0, 1.0, 3.0, [0])
    events += _stage(0, 1.1, 2.9, [(1.1, 1.0, 900, 1_000_000, 0, 10)] * 3
                     + [(1.1, 4.0, 3900, 1_000_000, 2_000_000, 20)])
    events += _job(1, 2.5, 6.0, [0, 1])  # overlaps job 0
    events += _stage(1, 5.1, 5.9, [(5.1, 0.5, 400, 0, 0, 0)])
    # span B = [10, 20]: job 2's stage has one slow task
    events += _job(2, 12.0, 19.0, [2])
    events += _stage(2, 12.1, 18.9, [(12.1, 2.0, 1900, 0, 0, 0)] * 3
                     + [(12.1, 6.0, 5900, 0, 0, 0)])
    return parse_events(json.dumps(e) for e in events)


SPAN_A = Span("a", T0, T0 + 10)
SPAN_B = Span("b", T0 + 10, T0 + 20)


def test_jobs_attributed_by_submission_time():
    log = _log()
    assert span_metrics(log, SPAN_A)["jobs"] == 2
    assert span_metrics(log, SPAN_B)["jobs"] == 1
    # a span covering both sees all three
    assert span_metrics(log, Span("ab", T0, T0 + 20))["jobs"] == 3


def test_stage_belongs_to_first_job_listing_it():
    log = _log()
    assert log.stage_owner() == {0: 0, 1: 1, 2: 2}
    only_job_1 = Span("j1", T0 + 2.4, T0 + 6.1)
    # stage 0 is listed by job 1 but ran for job 0: only stage 1's task counts
    assert span_metrics(log, only_job_1)["busy_s"] == pytest.approx(0.4)


def test_busy_shuffle_spill_gc_input_sum_tasks():
    m = span_metrics(_log(), SPAN_A)
    assert m["busy_s"] == pytest.approx(3 * 0.9 + 3.9 + 0.4)
    assert m["shuffle_mb"] == pytest.approx(4.0)
    assert m["spill_mb"] == pytest.approx(2.0)
    assert m["gc_s"] == pytest.approx(0.05)
    assert m["input_mb"] == pytest.approx(5 * 0.5)


def test_idle_is_the_interval_no_job_covers():
    # span A: jobs cover [1, 3] and [2.5, 6] -> union [1, 6] -> 5 s of 10 idle
    assert span_metrics(_log(), SPAN_A)["idle_s"] == pytest.approx(5.0)
    # span B: job 2 covers [12, 19] -> 3 s idle
    assert span_metrics(_log(), SPAN_B)["idle_s"] == pytest.approx(3.0)
    # a job running past the span's end is clipped to it
    assert span_metrics(_log(), Span("c", T0 + 11, T0 + 15))["idle_s"] == pytest.approx(1.0)


def test_skew_is_max_over_median_task_in_longest_stage():
    # span A's longest stage is stage 0: tasks 1, 1, 1, 4 s
    assert span_metrics(_log(), SPAN_A)["skew"] == pytest.approx(4.0)
    # span B: 6 s over a 2 s median
    assert span_metrics(_log(), SPAN_B)["skew"] == pytest.approx(3.0)


def test_empty_span():
    m = span_metrics(_log(), Span("none", T0 + 30, T0 + 31))
    assert m["jobs"] == 0 and m["busy_s"] == 0 and m["skew"] == 0
    assert m["idle_s"] == pytest.approx(1.0)


def test_read_event_log_takes_the_finished_file(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("")
    with pytest.raises(RuntimeError):
        read_event_log(tmp_path)
    lines = [json.dumps(e) for e in _job(0, 1.0, 2.0, [0])]
    (tmp_path / "local-1").write_text("\n".join(lines) + "\n")
    assert list(read_event_log(tmp_path).jobs) == [0]


def test_stage_spans_from_manifests(tmp_path):
    man = tmp_path / "_manifest"
    man.mkdir()
    for name, wall, end in (("clusters", 1.5, 30.0), ("signatures", 2.0, 12.0)):
        p = man / f"{name}.json"
        p.write_text(json.dumps({"stage": name, "wall_seconds": wall, "rows": 1}))
        os.utime(p, (T0 + end, T0 + end))
    spans = stage_spans(tmp_path)
    assert [s.name for s in spans] == ["signatures", "clusters"]
    assert spans[0].start_s == pytest.approx(T0 + 10.0)
    assert spans[1].end_s - spans[1].start_s == pytest.approx(1.5)

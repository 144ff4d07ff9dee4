"""Event-log parser test on a recorded Spark 4.1 log fragment.

    python3 -m pytest perfbench/test_layers.py -q

``fixtures/events_fragment.jsonl`` is a trimmed ``events_1_*`` file of a
local[2] application: job group ``it1:demo`` ran a two-stage job (shuffle
map + result) and then a job whose map stage was skipped; group
``it1:other`` ran one single-stage collect afterwards.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layers import EventLog, Span, _union_ms, event_files  # noqa: E402

FRAGMENT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures",
                        "events_fragment.jsonl")
DEMO = Span("it1:demo", 1792177188.500, 1792177190.250)


@pytest.fixture
def log() -> EventLog:
    log = EventLog()
    with open(FRAGMENT) as f:
        log.feed(f, app="local-1")
    return log


def test_counters_of_a_job_group(log):
    prof = log.profile(DEMO)
    assert prof["jobs"] == 2
    assert prof["stages"] == 3  # 0 and 1 of job 0, 3 of job 1
    assert prof["stages_skipped"] == 1  # job 1's map stage 2 reused job 0's output
    assert prof["tasks"] == 6
    assert prof["failed_tasks"] == 0
    assert prof["executor_run_s"] == pytest.approx((148 + 150 + 1079 + 1103 + 93 + 101) / 1000)
    assert prof["executor_cpu_s"] == pytest.approx(0.418150036)
    assert prof["shuffle_write_mb"] == pytest.approx((169 + 182) / 1e6)
    # launch minus stage submission, summed over tasks: 80+92, 14+13, 9+10 ms
    assert prof["scheduler_delay_s"] == pytest.approx(0.218)
    # 1.750 s span minus jobs [188572, 190042] and [190078, 190207] ms
    assert prof["driver_s"] == pytest.approx(1.750 - 1.470 - 0.129)


def test_other_group_and_time_window_attribution(log):
    other = log.profile(Span("it1:other", 1792177190.280, 1792177190.400))
    assert (other["jobs"], other["stages"], other["tasks"]) == (1, 1, 2)
    # a job without a group is attributed to the span its submission falls in
    log.feed([json.dumps({"Event": "SparkListenerJobStart", "Job ID": 9,
                          "Submission Time": 1792177190300, "Stage IDs": [4],
                          "Properties": {}})], app="local-1")
    assert log.profile(Span("it1:other", 1792177190.280, 1792177190.400))["jobs"] == 2
    assert log.profile(DEMO)["jobs"] == 2


def test_failed_task_counts():
    log = EventLog()
    log.feed([
        json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
                    "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "g"}}),
        json.dumps({"Event": "SparkListenerStageSubmitted",
                    "Stage Info": {"Stage ID": 0, "Submission Time": 1000}}),
        json.dumps({"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task End Reason": {"Reason": "ExceptionFailure"},
                    "Task Info": {"Launch Time": 1005}, "Task Metrics": None}),
        json.dumps({"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000}),
    ])
    prof = log.profile(Span("g", 0.5, 2.5))
    assert (prof["tasks"], prof["failed_tasks"]) == (1, 1)
    assert prof["driver_s"] == pytest.approx(1.0)


def test_union_of_overlapping_intervals():
    assert _union_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert _union_ms([(0, 10), (5, 20)], 8, 15) == 7
    assert _union_ms([], 0, 10) == 0


def test_rolling_event_log_layout(tmp_path):
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    shutil.copy(FRAGMENT, roll / "events_1_local-1")
    (roll / "appstatus_local-1").write_text("")
    files = event_files(str(tmp_path))
    assert [os.path.basename(p) for p in files] == ["events_1_local-1"]
    assert EventLog.read(files).profile(DEMO)["jobs"] == 2


def test_logs_of_two_applications_stay_apart(tmp_path):
    # the same job ids in two applications (a session restart) are two jobs
    for app in ("local-1", "local-2"):
        roll = tmp_path / f"eventlog_v2_{app}"
        roll.mkdir()
        shutil.copy(FRAGMENT, roll / f"events_1_{app}")
    assert EventLog.read(event_files(str(tmp_path))).profile(DEMO)["jobs"] == 4

"""Self-test of the event-log parser and job-group attribution on a tiny
hand-written log with a known job, stage and task count per step.

    python3 -m pytest perfbench/test_eventlog.py -q
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402


def _job(job_id, stages, group=None, submit=0):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": submit,
            "Stage IDs": stages, "Properties": props}


def _stage_done(stage_id):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, cpu_ns=1_000_000_000, written=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 100, "Memory Bytes Spilled": 0,
                             "Disk Bytes Spilled": 7,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": 10},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


FOCAL = "bench|p0|operators.focal"
INGEST = "bench|p0|streaming.raster.stream_into_catalog"
EVENTS = [
    # operators.focal: 2 jobs, 3 stages, 4 tasks
    _job(0, [0, 1], FOCAL, 1000), _task(0, written=100), _task(0, written=100),
    _stage_done(0), _task(1), _stage_done(1),
    _job(1, [2], FOCAL, 1100), _task(2), _stage_done(2),
    # a thread-pool job: no group, lands inside the pass window
    _job(2, [3], None, 1200), _task(3), _task(3), _stage_done(3),
    # a streaming query's job: group = its runId, mapped to the step
    _job(3, [4], "run-uuid", 1300), _task(4), _stage_done(4),
    # a skipped stage listed by a later job is not counted twice
    _job(4, [0, 5], FOCAL, 1400), _task(5), _stage_done(5),
]


def test_counts_per_group():
    groups = eventlog.by_group(eventlog.jobs(EVENTS, {"run-uuid": INGEST}))
    assert groups[FOCAL]["jobs"] == 3
    assert groups[FOCAL]["stages"] == 4
    assert groups[FOCAL]["tasks"] == 5
    assert groups[FOCAL]["shuffle_write_bytes"] == 200
    assert abs(groups[FOCAL]["executor_cpu_s"] - 5.0) < 1e-9
    assert groups[INGEST] == {**groups[INGEST], "jobs": 1, "stages": 1, "tasks": 1}


def test_ungrouped_jobs_are_unattributed_not_dropped():
    records = eventlog.jobs(EVENTS, {"run-uuid": INGEST})
    groups = eventlog.by_group(records)
    assert groups[eventlog.UNATTRIBUTED]["jobs"] == 1
    assert groups[eventlog.UNATTRIBUTED]["tasks"] == 2
    assert sum(g["jobs"] for g in groups.values()) == 5


def test_unknown_group_is_unattributed(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    groups = eventlog.by_group(eventlog.jobs(eventlog.read_events(log)))
    # without the runId alias the streaming job has no step
    assert groups[eventlog.UNATTRIBUTED]["jobs"] == 2
    assert eventlog.find_log(tmp_path, "app-1") == log

"""The event-log parser on a fixture log in Spark's JSON-lines format."""

import json

import pytest

from perfbench import eventlog


def _events():
    def task(stage, run_ms, cpu_ns, gc_ms, read, write, spill):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                    "JVM GC Time": gc_ms,
                    "Shuffle Read Metrics": {"Remote Bytes Read": read,
                                             "Local Bytes Read": 1},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                    "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}

    def stage(sid, submit_ms, done_ms):
        return {"Event": "SparkListenerStageCompleted",
                "Stage Info": {"Stage ID": sid, "Submission Time": submit_ms,
                               "Completion Time": done_ms}}

    return [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}},
        task(0, 400, 300_000_000, 10, 0, 2048, 0),
        task(0, 600, 500_000_000, 0, 0, 1024, 512),
        stage(0, 1000, 1700),
        task(1, 200, 100_000_000, 5, 3071, 0, 0),
        stage(1, 1600, 2000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # stage 2 was skipped: listed by the job, never run
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [2, 3], "Properties": {
             "streaming.sql.batchId": "7", "sql.streaming.queryId": "q"}},
        task(3, 100, 50_000_000, 0, 0, 0, 0),
        stage(3, 3000, 3500),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]


@pytest.fixture
def log(tmp_path):
    path = tmp_path / "local-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in _events()))
    return eventlog.read(str(path))


def test_jobs_carry_group_and_batch(log):
    assert log.jobs[0].group == "span-3" and log.jobs[0].batch_id is None
    assert log.jobs[1].batch_id == 7 and log.jobs[1].group is None
    assert log.jobs[0].stage_ids == [0, 1]


def test_totals_over_a_job(log):
    t = eventlog.totals(log, [log.jobs[0]])
    assert (t.jobs, t.stages, t.tasks) == (1, 2, 3)
    assert t.run_s == pytest.approx(1.2)
    assert t.cpu_s == pytest.approx(0.9)
    assert t.gc_s == pytest.approx(0.015)
    assert t.shuffle_write_bytes == 3072
    assert t.shuffle_read_bytes == 3071 + 3
    assert t.spill_bytes == 512
    # stages 0 and 1 overlap: their union is 1.0 s, not 1.1 s
    assert t.stage_union_s == pytest.approx(1.0)


def test_skipped_stages_are_not_counted(log):
    t = eventlog.totals(log, [log.jobs[1]])
    assert (t.stages, t.tasks) == (1, 1)


def test_union_of_intervals():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1), (2, 3), (0.5, 1.5)]) == pytest.approx(2.5)

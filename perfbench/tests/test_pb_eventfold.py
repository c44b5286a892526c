import json

import pytest

from eventfold import fold_events

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _job_start(job, group, t_ms, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def _stage(kind, stage, t_ms):
    key = "Submission Time" if kind == "SparkListenerStageSubmitted" else "Completion Time"
    return {"Event": kind, "Stage Info": {"Stage ID": stage, key: t_ms}}


def _task(stage, run_ms, *, cpu_ns=0, read=(0, 0), written=0, spilled=0, accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)} for i, v in accs]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spilled,
            "Shuffle Read Metrics": {"Remote Bytes Read": read[0], "Local Bytes Read": read[1]},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        },
    }


def _plan():
    udf = {
        "nodeName": "ArrowEvalPython",
        "simpleString": "ArrowEvalPython [get_batch(claim_check#108)#97], [pythonUDF0#122], 200",
        "metrics": [
            {"name": "data sent to Python workers", "accumulatorId": 41},
            {"name": "number of output rows", "accumulatorId": 42},
        ],
        "children": [],
    }
    return {
        "Event": SQL_START,
        "executionId": 0,
        "sparkPlanInfo": {"nodeName": "Project", "simpleString": "Project", "metrics": [], "children": [udf]},
    }


def _fold(events):
    return fold_events(json.dumps(e) for e in events)


def test_jobs_stages_and_task_metrics_fold_under_their_group():
    by_group = _fold([
        _plan(),
        _job_start(0, "pb-7", 1_000, [0, 1]),
        _stage("SparkListenerStageSubmitted", 0, 1_100),
        _task(0, 200, cpu_ns=150_000_000, written=300, accs=[(42, 10), (41, 999)]),
        _task(0, 600, cpu_ns=50_000_000, written=100, accs=[(42, 5)]),
        _stage("SparkListenerStageCompleted", 0, 1_800),
        _stage("SparkListenerStageSubmitted", 1, 1_900),
        _task(1, 100, read=(10, 390), spilled=64),
        _stage("SparkListenerStageCompleted", 1, 2_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2_100},
        _job_start(1, None, 3_000, []),
    ])
    assert set(by_group) == {"pb-7", None}
    (job,) = by_group["pb-7"]
    assert (job.submit, job.complete) == (1.0, 2.1)
    s0, s1 = job.stages
    assert s0.tasks == 2 and s0.run_s == pytest.approx(0.8) and s0.cpu_s == pytest.approx(0.2)
    assert s0.shuffle_write_bytes == 400 and s0.shuffle_read_bytes == 0
    assert s0.skew == pytest.approx(600 / 400)  # max / median task time
    assert s0.udf_rows == {"get_batch": 15}  # rows only, not the bytes metric
    assert (s0.submit, s0.complete) == (1.1, 1.8)
    assert s1.shuffle_read_bytes == 400 and s1.spill_bytes == 64 and s1.skew == 1.0


def test_shared_stage_belongs_to_the_job_that_submits_it():
    by_group = _fold([
        _job_start(0, "pb-1", 0, [0]),
        _stage("SparkListenerStageSubmitted", 0, 10),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 20},
        # job 1 lists stage 0 again but reuses its output; it runs stage 1
        _job_start(1, "pb-2", 30, [0, 1]),
        _stage("SparkListenerStageSubmitted", 1, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 50},
    ])
    assert [s.id for s in by_group["pb-1"][0].stages] == [0]
    assert [s.id for s in by_group["pb-2"][0].stages] == [1]


def test_blank_lines_and_unknown_events_are_ignored():
    assert _fold([{"Event": "SparkListenerLogStart"}]) == {}
    assert fold_events(["", "\n"]) == {}

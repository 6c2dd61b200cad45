import json
from pathlib import Path
from types import SimpleNamespace

import pytest

import layers

LOG = Path(__file__).resolve().parent / "data" / "eventlog_small.jsonl"
EVERYTHING = (0, 2**62)


def _lines():
    return LOG.read_text().splitlines()


def _exec_tasks():
    """The task records of the captured log's execute-group jobs, found
    without the harvester."""
    events = [json.loads(line) for line in _lines()]
    stages = {sid for e in events if e["Event"] == "SparkListenerJobStart"
              and e["Properties"]["spark.jobGroup.id"].startswith(layers.EXEC)
              for sid in e["Stage IDs"]}
    return [e for e in events if e["Event"] == "SparkListenerTaskEnd" and e["Stage ID"] in stages]


def test_captured_log_attributes_jobs_by_group():
    out = layers.harvest_event_log(_lines(), EVERYTHING)
    # one query: five jobs in its execute group, then a build of six
    assert out["operators.jobs"] == 5
    assert out["queries.build_jobs_log"] == 6
    assert out["sources.load_jobs_log"] == 0
    assert out["operators.stages"] == 5
    tasks = _exec_tasks()
    assert out["operators.tasks"] == len(tasks) == 7
    assert out["operators.task_run_s"] == pytest.approx(
        sum(t["Task Metrics"]["Executor Run Time"] for t in tasks) / 1e3)
    assert out["operators.failed_tasks"] == 0


def test_captured_log_python_broadcast_and_codegen_numbers():
    out = layers.harvest_event_log(_lines(), EVERYTHING)
    # one MapInPandas task: start 1303 ms + initialize 775 ms, run 2139 ms
    assert out["operators.python_tasks"] == 1
    assert out["operators.python_init_s"] == pytest.approx(2.078)
    assert out["operators.python_s"] == pytest.approx(2.139)
    assert out["operators.python_bytes_sent"] > 0
    assert out["operators.broadcast_bytes"] == 24
    assert out["operators.shuffle_write_bytes"] == out["operators.shuffle_read_bytes"] > 0
    # per task, the longest WholeStageCodegen pipeline
    assert out["operators.codegen_s"] == pytest.approx(
        (621 + 619 + 661 + 726 + 9 + 180 + 5991) / 1e3)


def test_jobs_outside_the_window_are_ignored():
    first_build = 1792174894057
    before = layers.harvest_event_log(_lines(), (0, first_build - 1))
    assert (before["operators.jobs"], before["queries.build_jobs_log"]) == (5, 0)
    after = layers.harvest_event_log(_lines(), (first_build, 2**62))
    assert (after["operators.jobs"], after["queries.build_jobs_log"]) == (0, 6)
    assert after["operators.tasks"] == 0 and after["operators.task_run_s"] == 0


def _task(stage, run_ms, ok=True):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Launch Time": 0, "Finish Time": run_ms, "Failed": not ok,
                          "Accumulables": []},
            "Task Metrics": {"Executor Run Time": run_ms}}


def test_failed_tasks_skew_and_stream_jobs():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10,
         "Stage IDs": [0], "Properties": {"sql.streaming.queryId": "q"}},
        _task(0, 100), _task(0, 100), _task(0, 400, ok=False),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 10, "Completion Time": 500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 500},
    ]
    out = layers.harvest_event_log([json.dumps(e) for e in events], EVERYTHING)
    assert out["operators.jobs"] == 1 and out["operators.tasks"] == 3
    assert out["operators.failed_tasks"] == 1
    assert out["operators.task_skew"] == 4.0  # slowest task over the median
    assert out["operators.exec_s"] == pytest.approx(0.49)


def test_stream_progress_sums_phases_and_keeps_final_state():
    def op(rows, dropped):
        return SimpleNamespace(commitTimeMs=3, numRowsDroppedByWatermark=dropped,
                               numRowsTotal=rows, memoryUsedBytes=1000 * rows,
                               numStateStoreInstances=4)

    progress = [
        SimpleNamespace(durationMs={"addBatch": 20, "walCommit": 5}, stateOperators=[op(10, 0)]),
        SimpleNamespace(durationMs={"addBatch": 30, "getBatch": 1}, stateOperators=[op(12, 2)]),
    ]
    out = layers.stream_progress(progress)
    assert out["streaming.batches"] == 2
    assert out["streaming.add_batch_ms"] == 50 and out["streaming.wal_commit_ms"] == 5
    assert out["streaming.state_commit_ms"] == 6
    assert out["streaming.rows_dropped"] == 2
    assert (out["streaming.state_rows"], out["streaming.state_mem_bytes"],
            out["streaming.state_instances"]) == (12, 12000, 4)

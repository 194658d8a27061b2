"""The ledger parser against a small recorded event log.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log (uncompressed,
not rolling) of a local[2] session that ran two tagged executions:

- ``agg1``: ``spark.range(1000)`` grouped on ``id % 7``, fetched with
  ``toPandas()`` (one job, two stages, 2 + 2 tasks);
- ``py2``: ``spark.range(1000).mapInPandas(...)`` written to parquet
  (one job, one stage, 2 tasks, 2 files, 1000 rows out of Python).

Environment, executor and block-manager events were dropped and job
properties cut to the keys the parser reads, to keep the file small.
``STAMPS`` are the driver-side stamps recorded with it.
"""

import json
from pathlib import Path

import pytest

import eventlog
import run

LOG = str(Path(__file__).resolve().parent / "data" / "eventlog_small.jsonl")
STAMPS = {
    "agg1": {"start": 1792176167313.4243, "built": 1792176167978.68, "end": 1792176169408.73},
    "py2": {"start": 1792176169410.6724, "built": 1792176169512.6172, "end": 1792176173024.474},
}


@pytest.fixture(scope="module")
def ledger():
    return eventlog.parse(LOG, STAMPS)


def test_jobs_stages_tasks_per_tag(ledger):
    assert (ledger["agg1"]["jobs"], ledger["agg1"]["stages"], ledger["agg1"]["tasks"]) == (1, 2, 4)
    assert (ledger["py2"]["jobs"], ledger["py2"]["stages"], ledger["py2"]["tasks"]) == (1, 1, 2)


def test_timeline_partitions_the_wall(ledger):
    for tag, rec in ledger.items():
        terms = (rec["build_ms"] + rec["plan_ms"] + rec["stage_span_ms"]
                 + rec["dispatch_ms"] + rec["tail_ms"])
        assert terms == pytest.approx(rec["wall_ms"])
        assert rec["outside_ms"] == 0.0
        assert 0 < rec["stage_span_ms"] <= rec["jobs_ms"]
        assert rec["dispatch_ms"] == pytest.approx(rec["jobs_ms"] - rec["stage_span_ms"])


def test_executor_shuffle_python_and_sink_terms(ledger):
    agg, py = ledger["agg1"], ledger["py2"]
    assert agg["run_ms"] > 0 and agg["cpu_ms"] > 0
    assert agg["shuffle_write_mb"] > 0 and agg["shuffle_read_mb"] == agg["shuffle_write_mb"]
    assert agg["scan_rows"] == 1000 and py["scan_rows"] == 1000
    assert agg["files_written"] == 0 and agg["python_rows_out"] == 0
    assert py["python_rows_out"] == 1000 and py["python_mb_sent"] > 0
    assert py["python_worker_ms"] > 0 and agg["python_worker_ms"] == 0
    assert py["files_written"] == 2 and py["output_mb"] > 0


def test_untagged_jobs_are_ignored():
    only = eventlog.parse(LOG, {"agg1": STAMPS["agg1"]})
    assert set(only) == {"agg1"}
    assert only["agg1"]["tasks"] == 4


def test_a_tag_no_job_carried_raises():
    with pytest.raises(ValueError, match="nope"):
        eventlog.parse(LOG, dict(STAMPS, nope=STAMPS["agg1"]))


def test_a_window_that_misses_the_jobs_is_flagged():
    late = {"agg1": {k: v + 5000 for k, v in STAMPS["agg1"].items()}}
    assert eventlog.parse(LOG, late)["agg1"]["outside_ms"] > 0


def test_a_job_that_lost_its_tag_is_flagged():
    # py2's job carries no given tag but runs inside agg1's window
    wide = {"agg1": dict(STAMPS["agg1"], end=STAMPS["py2"]["end"])}
    rec = eventlog.parse(LOG, wide)["agg1"]
    assert rec["tasks"] == 4
    assert rec["outside_ms"] > 1000


def _synthetic_log(tmp_path):
    """A job the plan build ran (schema inference), the execution's own
    job, and a later untagged job."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.tags": "t1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0, "Submission Time": 1001,
            "Completion Time": 1040}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1050},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1200,
         "Stage IDs": [1], "Properties": {"spark.job.tags": "t1"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0, "Submission Time": 1210,
            "Completion Time": 1400}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1450},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1500,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1520},
    ]
    log = tmp_path / "log"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    return str(log)


def test_a_job_the_plan_build_ran_stays_in_build(tmp_path):
    log = _synthetic_log(tmp_path)
    rec = eventlog.parse(log, {"t1": {"start": 990.0, "built": 1100.0, "end": 1480.0}})["t1"]
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (2, 2, 2)
    assert (rec["build_ms"], rec["plan_ms"], rec["stage_span_ms"], rec["dispatch_ms"],
            rec["tail_ms"]) == (110.0, 100.0, 190.0, 60.0, 30.0)
    assert rec["outside_ms"] == 0.0
    # a window that opens after the build's job started puts 10 ms outside
    late = eventlog.parse(log, {"t1": {"start": 1010.0, "built": 1100.0, "end": 1480.0}})
    assert late["t1"]["outside_ms"] == 10.0


def test_misattribution_fails_the_ledger():
    records = {"t1": {"outside_ms": 0.0, "wall_ms": 100.0},
               "t2": {"outside_ms": 30.0, "wall_ms": 100.0}}
    out = run._ledger(records, {"t1": "k", "t2": "k"}, {"k": "fetch"}, {})
    assert set(out) == {"layers_error"}
    assert "30.0%" in out["layers_error"]


def test_failed_parse_records_layers_error(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "WORK", tmp_path)
    out = run._layers("missing-app", STAMPS, {"agg1": "k", "py2": "k"}, {"k": "fetch"}, {})
    assert set(out) == {"layers_error"}
    assert "FileNotFoundError" in out["layers_error"]

import json

import pytest

import eventlog

PLAN = {
    "nodeName": "MapInPandas",
    "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"},
    ],
    "children": [{
        "nodeName": "Scan parquet",
        "metrics": [{"name": "number of output rows", "accumulatorId": 9, "metricType": "sum"}],
        "children": [],
    }],
}


def task_end(launch, finish, run_ms, cpu_ns, accs=(), **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 0,
        "Task Info": {
            "Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0,
            "Accumulables": [{"ID": i, "Name": "x", "Update": u} for i, u in accs],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": metrics.get("deser", 0),
            "Result Serialization Time": 0, "JVM GC Time": metrics.get("gc", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Input Metrics": {"Bytes Read": metrics.get("input", 0)},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": metrics.get("sr", 0)},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("sw", 0)},
        },
    }


CANNED = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    {"Event": eventlog.SQL_START, "executionId": 0, "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
    task_end(1005, 1105, 80, 60_000_000, accs=[(7, "40"), (8, 500), (9, 900)],
             deser=10, gc=5, input=2 * eventlog.MB, sw=eventlog.MB),
    task_end(1010, 1060, 50, 40_000_000, accs=[(7, 10), (8, 100)], sr=eventlog.MB),
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000},
    task_end(2001, 2031, 30, 10_000_000, spill=3 * eventlog.MB),
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000},
    task_end(9001, 9002, 1, 1),
]


def test_aggregate_canned_log(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    out = eventlog.aggregate(eventlog.read_events(str(path)), [("a", 900, 1500), ("b", 1900, 2500)])
    a, b = out["a"], out["b"]
    assert a["jobs"] == 1 and a["tasks"] == 2
    assert a["task_s"] == pytest.approx(0.13)
    assert a["task_cpu_s"] == pytest.approx(0.1)
    assert a["gc_s"] == pytest.approx(0.005)
    # (100 - 80 - 10) + (50 - 50) ms of scheduler delay
    assert a["sched_delay_s"] == pytest.approx(0.01)
    assert a["input_mb"] == pytest.approx(2)
    assert a["shuffle_write_mb"] == pytest.approx(1)
    assert a["shuffle_read_mb"] == pytest.approx(1)
    # only the Python node's accumulators count: 9 is a plain scan's rows
    assert a["python_s"] == pytest.approx(0.05)
    assert a["python_rows"] == 600
    assert b["jobs"] == 1 and b["tasks"] == 1
    assert b["spill_mb"] == pytest.approx(3)
    assert b["python_s"] == 0
    # the job and task at 9000 fall in no window


def test_nanosecond_python_timing():
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "nsTiming"}]}
    events = [{"Event": eventlog.SQL_UPDATE, "sparkPlanInfo": plan},
              task_end(10, 20, 5, 0, accs=[(1, 2_000_000_000)])]
    assert eventlog.aggregate(events, [("w", 0, 100)])["w"]["python_s"] == pytest.approx(2.0)


def test_rolling_log_directory_is_read_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_2_app-1").write_text(json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 2}) + "\n")
    (d / "events_1_app-1").write_text(json.dumps({"Event": "SparkListenerJobStart", "Submission Time": 1}) + "\n")
    (d / "appstatus_app-1").write_text("")
    assert [e["Submission Time"] for e in eventlog.read_events(str(d))] == [1, 2]

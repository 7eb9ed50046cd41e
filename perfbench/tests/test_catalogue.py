"""BENCHMARK.json agrees with the metrics the runner prints, and the
event-log reader and output gate behave on small hand-made inputs."""

import json
import os

import pytest

import eventlog
import gate
import metrics
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layer == metrics.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e, separators=(",", ":")) + "\n")


def _task(stage, run_ms, failed=False, shuffle_w=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed
                            else "Success"},
        "Task Info": {"Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
            "JVM GC Time": 1, "Peak Execution Memory": 100,
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": 5,
                                     "Fetch Wait Time": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def test_layer_metrics_sums_tagged_tasks(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    _write_log(app / "events_1_local-1", [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {eventlog.LAYER_PROP: "extract"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {}},
        _task(0, 100), _task(0, 300), _task(0, 100, shuffle_w=7),
        _task(1, 50), _task(2, 999), _task(2, 10, failed=True),
    ])
    acc, failed = eventlog.layer_metrics(str(tmp_path))
    assert failed == 1
    ext = acc["extract"]
    assert ext["tasks"] == 4
    assert ext["executor_run_s"] == pytest.approx(0.55)
    assert ext["shuffle_write_bytes"] == 7
    assert ext["shuffle_read_bytes"] == 20
    # stage 0 is the busiest: slowest 300 ms over median 100 ms
    assert ext["task_max_over_median"] == pytest.approx(3.0)
    assert set(acc) == {"extract"}


def test_reference_rows_follow_row_loop_rules():
    docs = [
        {"doc_id": "a", "spans": [
            {"kind": "text", "text": "<p>one</p><p>two</p>", "media_ref": None,
             "offset": 0},
            {"kind": "media", "text": None, "media_ref": "img://1",
             "offset": 1},
            {"kind": "text", "text": "", "media_ref": None, "offset": 2}]},
        {"doc_id": "b", "spans": [
            {"kind": "media", "text": None, "media_ref": "img://2",
             "offset": 0},
            {"kind": "text", "text": "<p>" + "x" * 50 + "</p>",
             "media_ref": None, "offset": 1}]},
    ]
    rows = list(gate.reference_rows(docs, max_span_bytes=20))
    assert rows == [
        ("a", 0, "text", "one", None, 0),
        ("a", 1, "text", "two", None, 0),
        ("a", 2, "media", None, "img://1", 1),
        ("b", 0, "__quarantine__", "ValueError:oversize-span:57", None, 0),
    ]
    d1 = gate.digest_rows(rows)
    d2 = gate.digest_rows(reversed(rows))
    assert d1 == d2
    assert d1 != gate.digest_rows(rows[:-1])


def test_reference_digest_same_in_worker_processes():
    docs = [{"doc_id": str(i), "spans": [
        {"kind": "text", "text": f"<p>doc {i} &amp; more</p>",
         "media_ref": None, "offset": 0},
        {"kind": "media", "text": None, "media_ref": f"img://{i}",
         "offset": 1}]} for i in range(7)]
    one = gate.reference_digest(docs, skip=frozenset({"3"}))
    assert one == gate.digest_rows(
        gate.reference_rows(docs, skip=frozenset({"3"})))
    assert gate.reference_digest(docs, workers=2,
                                 skip=frozenset({"3"})) == one

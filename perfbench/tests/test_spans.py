import json

import pytest

from spans import Span, Tracer, reduce_event_log, self_times


def _span(i, parent, start, end):
    return Span(i, parent, f"s{i}", start, end, "run")


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),     # overlaps child 1: covered = 1..6
        _span(3, 0, 8.0, 9.0),
        _span(4, 1, 1.5, 2.0),     # grandchild counts only against span 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_self_time_clips_children_to_parent():
    st = self_times([_span(0, None, 0.0, 2.0), _span(1, 0, 1.0, 5.0)])
    assert st[0] == pytest.approx(1.0)


def test_tracer_records_parents_and_writes_self_time(tmp_path):
    tr = Tracer("r1", enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["inner"].parent == by_name["outer"].span_id
    assert by_name["outer"].parent is None
    out = tmp_path / "spans.jsonl"
    tr.write(str(out))
    rows = [json.loads(x) for x in out.read_text().splitlines()]
    assert {r["name"] for r in rows} == {"outer", "inner"}
    assert all(r["run_id"] == "r1" and r["self_s"] >= 0 for r in rows)


def test_disabled_tracer_records_nothing():
    tr = Tracer("r1", enabled=False)
    with tr.span("x", spark_group=True):
        pass
    assert tr.spans == []


def _log(tmp_path):
    """A tiny event log in Spark's JSON-lines shape: two job groups, one
    job without a group, a stage shared by name across jobs."""
    ev = [
        {"Event": "SparkListenerApplicationStart", "App Name": "t"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "backfill.run"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 500_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 0}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "live.refresh"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor CPU Time": 1_000_000_000}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": None},
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [4],
         "Properties": {"spark.jobGroup.id": "backfill.run"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Executor CPU Time": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 28}}},
    ]
    p = tmp_path / "app-1"
    p.write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    return p


def test_event_log_reducer(tmp_path):
    with open(_log(tmp_path)) as fh:
        out = reduce_event_log(fh)
    assert out["backfill.run"] == {"jobs": 2, "shuffle_write_bytes": 128,
                                   "executor_cpu_s": pytest.approx(2.5)}
    assert out["live.refresh"] == {"jobs": 1, "shuffle_write_bytes": 0,
                                   "executor_cpu_s": pytest.approx(1.0)}
    assert out[""]["jobs"] == 1

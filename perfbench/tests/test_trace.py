"""Self-time arithmetic and the event-log parser."""

import json

import pytest

import tracing


def test_covered_merges_overlaps_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(3, 3)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    spans = [tracing.Span("root", 0, 10, None, "r"),
             tracing.Span("a", 1, 4, "root", "r"),
             tracing.Span("b", 3, 6, "root", "r"),      # overlaps a
             tracing.Span("a.x", 1, 2, "a", "r")]       # grandchild: not root's
    assert tracing.self_time(spans, "root") == pytest.approx(5)
    assert tracing.self_time(spans, "a") == pytest.approx(2)
    assert tracing.self_time(spans, "b") == pytest.approx(3)


def test_place_sequential_and_trigger_spans():
    tr = tracing.Tracer("r")
    tr.add("job", 100.0, 110.0, None)
    tracing.place_sequential(tr, "job", {"s1": 2.0, "s2": 3.0})
    assert tracing.self_time(tr.spans, "job") == pytest.approx(5)
    tracing.trigger_spans(tr, [{"batch": 0, "start": 101.0,
                              "ms": {"triggerExecution": 4000,
                                     "addBatch": 3000}}], "job")
    assert tracing.self_time(tr.spans, "streaming.trigger.0") == \
        pytest.approx(1)


def _stage(sid, submit, done, tasks, accums):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Submission Time": submit, "Completion Time": done,
        "Number of Tasks": tasks,
        "Accumulables": [{"Name": k, "Value": v} for k, v in accums.items()]}}


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0, 1], "Properties": {"spark.job.description": "ops.merge"}},
    _stage(0, 1000, 2000, 4, {"internal.metrics.executorRunTime": 3000,
                              "internal.metrics.executorCpuTime": 2e9,
                              "internal.metrics.shuffle.write.bytesWritten":
                                  2e6,
                              "time to run Python workers": 1500,
                              "data sent to Python workers": "3000000"}),
    _stage(1, 3000, 3500, 2, {"internal.metrics.executorRunTime": 1000}),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000,
     "Stage IDs": [2], "Properties": {}},
    _stage(2, 9000, 9500, 1, {"internal.metrics.executorRunTime": 500}),
]


def test_event_log_engine_and_python_metrics():
    log = tracing.EventLog(EVENTS)
    m = log.engine_metrics(1.0, 5.0, cores=2)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2
    assert m["spark.tasks"] == 6
    assert m["spark.executor_run_s"] == pytest.approx(4.0)
    assert m["spark.executor_cpu_s"] == pytest.approx(2.0)
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spark.busy_frac"] == pytest.approx(4.0 / (4.0 * 2))
    # stages ran [1, 2] and [3, 3.5] of the window [1, 5]
    assert m["spark.idle_s"] == pytest.approx(2.5)
    py = log.python_metrics(log.jobs_in(1.0, 5.0))
    assert py["python.run_s"] == pytest.approx(1.5)
    assert py["python.sent_mb"] == pytest.approx(3.0)
    assert log.shuffle_write_mb(log.jobs_described("ops.merge")) == \
        pytest.approx(2.0)


def test_read_event_log_plain_and_rolling(tmp_path):
    lines = "\n".join(json.dumps(e) for e in EVENTS)
    (tmp_path / "local-1").write_text(lines + "\n{broken")
    rolling = tmp_path / "eventlog_v2_local-2"
    rolling.mkdir()
    (rolling / "events_2_local-2").write_text(json.dumps(EVENTS[-1]))
    (rolling / "events_1_local-2").write_text(
        "\n".join(json.dumps(e) for e in EVENTS[:-1]))
    (rolling / "appstatus_local-2").write_text("")
    assert tracing.read_event_log(str(tmp_path), "local-1") == EVENTS
    assert tracing.read_event_log(str(tmp_path), "local-2") == EVENTS

"""Self-test for the benchmark runner's metric extraction.

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The first tests use a hand-written event log; the last one traces a real
``discover_full`` call on a tiny input in a local Spark session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import trace as tr  # noqa: E402


def _events(tmp_path):
    """Two jobs: job 0 (SQL execution 0) inside span ``a.inner``; job 1 with
    no properties at all (as a thread-pool submission has no job group)
    inside ``b``; job 2 outside every span."""
    ev = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "time": 1_000_100,
         "sparkPlanInfo": {"metrics": [{"name": "number of files read", "accumulatorId": 7}],
                           "children": [{"metrics": [{"name": "size of files read",
                                                      "accumulatorId": 8}],
                                         "children": []}]}},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_200,
         "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "time to run Python workers", "Update": "5"}]},
         "Task Metrics": {"Executor Run Time": 40, "JVM GC Time": 3, "Disk Bytes Spilled": 0,
                          "Input Metrics": {"Bytes Read": 1000},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 50}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": "20"}]},
         "Task Metrics": {"Executor Run Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 5}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_700},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[7, 3], [8, 4096], [99, 1]]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_001_500,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 7, "Disk Bytes Spilled": 11}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_001_800},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_005_000,
         "Stage IDs": [3]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_005_100},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in ev) + "\n")
    return str(path)


def _tracer():
    t = tr.Tracer()
    t.add("a", 1000.0, 1001.0)
    t.add("a.inner", 1000.1, 1000.8, parent="a")
    t.add("b", 1001.2, 1002.0)
    return t


def test_event_log_parsing(tmp_path):
    log = tr.parse_event_log(_events(tmp_path))
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].submit == pytest.approx(1000.2)
    assert log.jobs[0].end == pytest.approx(1000.7)
    m = log.job_metrics([0])
    assert m["python_bytes_sent"] == 120
    assert m["python_run_ms"] == 5
    assert m["shuffle_write_bytes"] == 55
    assert log.job_metrics([1])["spill_bytes"] == 11
    assert log.driver_metrics([0]) == {"files_read": 3, "file_bytes_read": 4096}


def test_event_log_without_job_end_is_rejected(tmp_path):
    path = tmp_path / "app-2"
    path.write_text(json.dumps({"Event": "SparkListenerJobStart", "Job ID": 0,
                                "Submission Time": 1, "Stage IDs": []}) + "\n")
    with pytest.raises(RuntimeError, match="no JobEnd"):
        tr.parse_event_log(str(path))


def test_jobs_attributed_to_innermost_span_by_submission_time(tmp_path):
    log = tr.parse_event_log(_events(tmp_path))
    tracer = _tracer()
    jobs, execs = tr.attribute(tracer, log)
    assert jobs == {"a": [], "a.inner": [0], "b": [1]}
    assert execs == {"a": [], "a.inner": [0], "b": []}
    assert tr.jobs_under(tracer, jobs, "a") == [0]


def test_self_times_are_non_negative_and_sum_to_the_wall():
    tracer = _tracer()
    tracer.add("a.second", 1000.5, 1000.9, parent="a")  # overlaps a.inner
    assert tracer.self_time("a") == pytest.approx(1.0 - 0.8)
    total = tracer.self_time("a") + tr.covered(
        [(c.start, c.end) for c in tracer.children("a")], 1000.0, 1001.0)
    assert total == pytest.approx(tracer.get("a").duration)
    assert all(tracer.self_time(s.name) >= 0 for s in tracer.spans)


def test_driver_time_excludes_running_jobs(tmp_path):
    log = tr.parse_event_log(_events(tmp_path))
    assert tr.driver_time(_tracer(), log, "a") == pytest.approx(1.0 - 0.5)
    assert tr.driver_time(_tracer(), log, "b") == pytest.approx(0.8 - 0.3)


def test_covered_merges_overlaps_and_clips():
    assert tr.covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == pytest.approx(3.0)
    assert tr.covered([], 0, 1) == 0.0


def test_traced_discover_full_on_tiny_input(tmp_path, monkeypatch):
    """A real traced call: jobs land in the manifest's stage spans, the layer
    self-times are non-negative and add up to the traced wall."""
    from perfbench import run as runner
    from perfbench.workloads import DiscoverFull

    paths = (runner.ROOT, os.environ.get("PYTHONPATH"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(p for p in paths if p))
    work = str(tmp_path)
    workload = DiscoverFull(work, seed=3, rows=2_000, warmup_calls=0)
    workload.generate()
    spark = runner.start_spark(work, trace=True)
    tracer = tr.Tracer()
    try:
        call = workload.call(spark, tracer, 0)
        extra = workload.layers(spark, tracer, call)
    finally:
        runner.stop_spark(spark)
    assert all(ok for _name, ok, _detail in workload.checks(call))
    log = tr.parse_event_log(tr.find_event_log(os.path.join(work, "eventlog")))
    layers = workload.per_layer(tracer, log, call, extra)
    self_times = {k: v for k, v in layers.items() if k.endswith(".self_s")}
    assert all(v >= 0 for v in self_times.values())
    assert sum(self_times.values()) == pytest.approx(tracer.get("call.0").duration, rel=0.10)
    owned, _ = tr.attribute(tracer, log)
    for stage in ("parse", "discover", "route", "aggregate"):
        assert owned[f"stage.{stage}"], f"no job attributed to stage.{stage}"
    assert layers["pipeline.spark_jobs"] == len(tr.jobs_under(tracer, owned, "call.0"))
    assert layers["parse.bytes_to_python"] > 0
    assert layers["aggregate.files_read"] > 0
    assert layers["discover.templates"] > 0

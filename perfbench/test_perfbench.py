"""The benchmark's own tests.

    python3 -m pytest -q perfbench/test_perfbench.py

The arithmetic tests run on fixed inputs in milliseconds; the Spark
test starts a ``local[2]`` session on tiny generated tables and checks
that job, stage, task and micro-batch counts repeat exactly."""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import layers, stats, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def test_quantile_interpolates_linearly():
    xs = [1.0, 2.0, 3.0, 4.0]
    assert stats.quantile(xs, 0.0) == 1.0
    assert stats.quantile(xs, 1.0) == 4.0
    assert stats.quantile(xs, 0.5) == 2.5
    assert stats.quantile(xs, 0.9) == pytest.approx(3.7)


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 101)]
    # p90 = 90.1 leaves 91..100 (ten) beyond; p91 = 91.09 leaves nine
    assert stats.tail(xs) == (90, pytest.approx(90.1), 10)
    assert stats.tail(list(reversed(xs))) == (90, pytest.approx(90.1), 10)
    # 40 samples: p76 = 30.64 leaves 31..40 beyond, p77 = 31.03 nine
    assert stats.tail([float(i) for i in range(1, 41)])[0] == 76


def test_tail_falls_back_to_median_when_too_few_samples():
    pct, v, beyond = stats.tail([float(i) for i in range(1, 15)])
    assert (pct, v, beyond) == (50, 7.5, 7)


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3), (1.5, 2.5)]) == 3.0
    assert stats.union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_child_time():
    spans = [
        (0, None, 0.0, 10.0),  # gate
        (1, 0, 1.0, 3.0),      # child
        (2, 0, 2.0, 4.0),      # overlapping child (another thread)
        (3, 0, 8.0, 12.0),     # child running past its parent's end
        (4, 1, 1.5, 2.0),      # grandchild: charged to span 1 only
    ]
    selfs = stats.self_times(spans)
    assert selfs[0] == pytest.approx(10 - 3 - 2)
    assert selfs[1] == pytest.approx(2 - 0.5)
    assert selfs[2] == pytest.approx(2)
    assert selfs[3] == pytest.approx(4)
    assert selfs[4] == pytest.approx(0.5)


def test_layer_names():
    assert tracing.layer_of("pandasy_spark.extended.dedup") == "extended"
    assert tracing.layer_of("pandasy_spark.convert") == "convert"
    assert tracing.layer_of("pandasy_spark.workload") is None
    assert tracing.layer_of("pyspark.sql") is None


def test_wrapped_function_pickles_without_the_tracer():
    import pickle

    class _SC:
        def __init__(self):
            self.props = {}

        def getLocalProperty(self, k):
            return self.props.get(k)

        def setLocalProperty(self, k, v):
            self.props[k] = v

    t = tracing.Tracer(_SC())
    w = t.wrap(lambda x: x + 1, "extended", "extended.mod.f")
    assert w(1) == 2 and len(t.spans) == 1
    assert t.sc.props["callSite.short"] is None  # restored after the span
    clone = pickle.loads(pickle.dumps(t))
    assert clone.enabled is False


def test_event_log_roll_up(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "s:0:g", "callSite.short": "extended.profile.f"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 100, "Executor CPU Time": 5e7, "JVM GC Time": 10,
            "Input Metrics": {"Bytes Read": 64, "Records Read": 4},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 32}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 50, "Shuffle Read Metrics": {"Local Bytes Read": 32, "Total Records Read": 0}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 20}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    ]
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    jobs, stages = tracing.read_event_log(str(log))
    assert jobs[0].label == "extended.profile.f" and jobs[1].group is None
    assert (jobs[1].submit_s, jobs[1].end_s) == (2.0, 2.5)
    assert stages[0].tasks == 1 and stages[1].empty_tasks == 1 and stages[2].empty_tasks == 1

    samples = [{
        "gate": "g", "pass": 0, "group": "s:0:g", "construct_s": 0.5, "action_s": 2.0,
        "epoch": (0.9, 3.0), "construct_end": 1.5, "action_window": (1.5, 3.0),
        "construct_ids": {0}, "action_ids": {1}, "action_stages": 1, "action_tasks": 1,
    }]
    (p,) = layers.roll_up(samples, 1, [], [], jobs, stages)
    assert p["extended.jobs"] == 1
    assert p["extended.executor_run_s"] == pytest.approx(0.15)  # stage 1 is owned by job 0
    assert p["spark.executor_run_s"] == pytest.approx(0.02)  # job 1: its own stage 2 only
    assert p["sources.input_bytes"] == 64
    assert p["spark.driver_gap_s"] == pytest.approx(1.5 - 0.5)  # job 1 covers 2.0..2.5
    assert p["workload.construct_share"] == pytest.approx(0.2)
    assert p["spark.empty_task_share"] == 1.0


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layers.PER_LAYER
    assert {m["name"] for m in spec["end_to_end"]} == {
        "gates_per_s", "latency_p50_s", "latency_tail_s", "setup_s"}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import datagen
    from pandasy_spark.session import get_spark

    sf_dir = str(tmp_path_factory.mktemp("sf"))
    datagen.write(sf_dir, 0.001)
    session = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    session.sparkContext.setLogLevel("ERROR")
    yield session, sf_dir
    session.stop()


def test_counts_repeat_exactly(spark):
    """After a warm pass, jobs (construct and action), stages, tasks and
    micro-batches of the same gates are identical on a second run."""
    from pandasy_spark.workload import QUERIES

    session, sf_dir = spark
    sc = session.sparkContext
    counter = tracing.JobCounter(sc)
    listener = tracing.make_stream_listener()
    session.streams.addListener(listener)

    def run_once(tag):
        counts = []
        for name in ("profile_winsorize", "agg_approx", "streaming_enrich"):
            group = f"{tag}:{name}"
            sc.setJobGroup(group, name)
            before = len(listener.batches)
            df = QUERIES[name](session, sf_dir)
            construct = counter.jobs(group)
            df.write.format("noop").mode("overwrite").save()
            action = counter.jobs(group) - construct
            counts.append((name, len(construct), len(action), *counter.stages_tasks(action)))
            counts.append((name, "batches", _settled(listener, before)))
        return counts

    run_once("warm")  # first use in a session reads footers and schemas once
    first, second = run_once("a"), run_once("b")
    assert first == second
    assert any(c[1] == "batches" and c[2] > 0 for c in first)


def _settled(listener, before: int) -> int:
    import time

    n, deadline = -1, time.time() + 10
    while time.time() < deadline:
        time.sleep(0.5)
        if len(listener.batches) == n:
            break
        n = len(listener.batches)
    return n - before

"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q

The pure tests need no Spark. The two tests on the ``spark_run`` fixture
share one small local session on a tiny generated fixture (~20 s).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import metrics  # noqa: E402
import workloads  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(1, 101)]  # 1..100
    value, pct = metrics.tail(samples)
    assert (value, pct) == (90.0, 90.0)
    assert sum(s > value for s in samples) == 10
    value, pct = metrics.tail(samples[::-1][:25])  # 76..100, unordered
    assert (value, pct) == (90.0, 60.0)


def test_tail_with_ten_or_fewer_samples_is_the_minimum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (1.0, 100.0 / 3)
    assert metrics.tail([float(i) for i in range(11)]) == (0.0, 100.0 / 11)
    with pytest.raises(ValueError):
        metrics.tail([])


def test_seed_fixes_order_and_order_is_a_permutation():
    import worker

    assert set(worker.WARM_UPS) == set(workloads.WORKLOADS)
    for name, queries in workloads.WORKLOADS.items():
        a = workloads.order(name, 7)
        assert a == workloads.order(name, 7)
        assert sorted(a) == sorted(queries)
        assert len({tuple(workloads.order(name, s)) for s in range(10)}) > 1


def test_datagen_reproduces_the_seed42_fixture_files(tmp_path):
    # sha256 of the project's seed-42 sf0.001 fixture files (datagen.digest).
    import datagen

    datagen.write_fixture(str(tmp_path), 0.001, 42)
    assert datagen.digest(str(tmp_path)) == (
        "4abe8eae0646d22d213a3baccd13ae0791df7240f5f9d786a0f5ff064d570010"
    )


def _log(*events) -> list[str]:
    return [json.dumps(e) + "\n" for e in events]


def test_event_log_aggregation_attributes_by_job_and_window():
    spans = [
        {"query": "a", "job_ids": [3, 5], "epoch": [100.0, 200.0]},
        {"query": "b", "job_ids": [6, 7], "epoch": [200.0, 300.0]},
    ]
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 10,
        "Task Info": {
            "Accumulables": [
                {"Name": "time to run Python workers", "Update": "1500"},
                {"Name": "data sent to Python workers", "Update": 2097152},
                {"Name": "number of output rows", "Update": 9},
            ]
        },
        "Task Metrics": {
            "Executor Run Time": 2000,
            "Executor CPU Time": 1_000_000_000,
            "JVM GC Time": 100,
            "Input Metrics": {"Bytes Read": 1048576},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1048576},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3145728},
            "Disk Bytes Spilled": 0,
        },
    }

    def progress(ts, rows, run="r1", state_rows=5):
        return {
            "Event": metrics.PROGRESS_EVENT,
            "progress": {
                "runId": run,
                "timestamp": ts,
                "numInputRows": None,  # as Spark writes it to the event log
                "sources": [{"numInputRows": rows}],
                "durationMs": {"queryPlanning": 10, "addBatch": 200},
                "stateOperators": [
                    {"commitTimeMs": 30, "numRowsTotal": state_rows,
                     "memoryUsedBytes": 1048576}
                ],
            },
        }

    from datetime import datetime, timezone

    def iso(epoch):
        return datetime.fromtimestamp(epoch, timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%f"
        )[:-3] + "Z"

    lines = _log(
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [9]},  # set-up
        {"Event": "SparkListenerJobStart", "Job ID": 3, "Stage IDs": [10]},
        {"Event": "SparkListenerJobStart", "Job ID": 4, "Stage IDs": [10, 11]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 10}},
        task,
        task,
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 5, "Stage IDs": [12]},  # check
        progress(iso(150.0), 10),
        progress(iso(160.0), 0, state_rows=7),
        progress(iso(250.0), 0, run="r2"),
        progress(iso(400.0), 3),  # after every span
    )
    per = metrics.aggregate_event_log(lines, spans)
    a, b = per["a"], per["b"]
    assert a["spark.jobs"] == 2 and a["spark.stages"] == 1 and a["spark.tasks"] == 2
    assert a["python.run_ms"] == 3000 and a["python.sent_bytes"] == 2 * 2097152
    assert a["streaming.batches"] == 2 and a["streaming.empty_batches"] == 1
    assert a["streaming.state_rows"] == 7  # last progress of the run only
    assert b["streaming.batches"] == 1 and "spark.jobs" not in b

    tot = metrics.layer_totals(per)
    assert tot["spark.task_s"] == 4.0 and tot["spark.task_cpu_s"] == 2.0
    assert tot["spark.gc_s"] == 0.2 and tot["spark.input_mb"] == 2.0
    assert tot["spark.shuffle_read_mb"] == 2.0 and tot["spark.shuffle_write_mb"] == 6.0
    assert tot["spark.tasks_per_job"] == 1.0
    assert tot["python.run_s"] == 3.0 and tot["python.sent_mb"] == 4.0
    assert tot["streaming.batches"] == 3 and tot["streaming.empty_batch_frac"] == 2 / 3
    assert tot["streaming.planning_s"] == 0.03 and tot["streaming.addbatch_s"] == 0.6
    assert tot["streaming.state_commit_s"] == 0.09 and tot["streaming.state_mb"] == 2.0


@pytest.fixture(scope="module")
def spark_run(tmp_path_factory):
    """One small traced session: a tiny fixture, the event log on, and
    ``stream_hb_session`` then ``knn_bruteforce`` through the worker's
    per-query path."""
    pytest.importorskip("pyspark")
    import datagen
    import worker
    from pyspark.sql import SparkSession

    base = tmp_path_factory.mktemp("perfbench")
    fixture, eventlog = str(base / "sf"), base / "eventlog"
    eventlog.mkdir()
    datagen.write_fixture(fixture, 0.001, 42)
    os.environ.setdefault("PYTHONPATH", ROOT)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", f"file://{eventlog}")
        .getOrCreate()
    )
    from cs686_big_data_p1_spark import registry

    registry.load_all()
    jobs = worker.JobScanner(spark.sparkContext)
    legs = worker.LegTimer()
    queries = [
        worker.run_query(spark, name, fixture, jobs, legs, None)
        for name in ("stream_hb_session", "knn_bruteforce")
    ]
    spark.stop()
    (log,) = os.listdir(eventlog)
    with open(eventlog / log) as f:
        events = metrics.aggregate_event_log(f, queries)
    return queries, events


def test_stream_jobs_outside_group_land_on_query(spark_run):
    queries, _ = spark_run
    stream, nxt = queries
    assert stream["ok"] and nxt["ok"], (stream.get("error"), nxt.get("error"))
    first, end = stream["job_ids"]
    assert end <= nxt["job_ids"][0]  # ranges never overlap
    # Micro-batch jobs escape the caller's job group; the id scan still
    # attributes them to the stream query.
    assert stream["jobs_grouped"] < end - first
    assert stream["construct_jobs"] > 0


def test_event_log_of_a_real_run_matches_the_scan(spark_run):
    queries, events = spark_run
    for q in queries:
        ev = events[q["query"]]
        assert ev["spark.jobs"] == q["jobs"]
        assert ev["spark.tasks"] == q["tasks"]
    assert events["stream_hb_session"]["streaming.batches"] > 0

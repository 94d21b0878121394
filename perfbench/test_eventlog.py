"""Tests of the event-log reducer and span bookkeeping.

    python3 -m pytest perfbench/test_eventlog.py -q

The reducer test runs a tiny local Spark job with the event log on, in a
temporary directory, and checks that task metrics land on the job group
that submitted them.
"""

from __future__ import annotations

import os
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

from eventlog import reduce_event_log, sum_groups  # noqa: E402


@pytest.fixture(scope="module")
def logged_jobs(tmp_path_factory):
    from pyspark.sql import SparkSession

    root = tmp_path_factory.mktemp("eventlog")
    events = root / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{events}")
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.warehouse.dir", str(root / "warehouse"))
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("scan", "scan")
        spark.range(0, 1000, numPartitions=4).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("shuffle", "shuffle")
        df = spark.range(0, 1000, numPartitions=4)
        df.groupBy((df.id % 7).alias("k")).count().collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.range(10).count()
    finally:
        spark.stop()
    return reduce_event_log(str(events))


def test_tasks_land_on_their_job_group(logged_jobs):
    scan = logged_jobs["scan"]
    assert scan["jobs"] == 1
    # one task per range partition, and a noop write shuffles nothing
    assert scan["tasks"] == 4
    assert scan["shuffle_write_bytes"] == 0


def test_shuffle_bytes_are_summed(logged_jobs):
    shuffle = logged_jobs["shuffle"]
    assert shuffle["jobs"] >= 1
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["run_s"] >= 0


def test_untagged_jobs_and_group_sums(logged_jobs):
    assert logged_jobs[None]["jobs"] >= 1
    both = sum_groups(logged_jobs, ["scan", "shuffle"])
    assert both["tasks"] == logged_jobs["scan"]["tasks"] + logged_jobs["shuffle"]["tasks"]
    assert sum_groups(logged_jobs, ["absent"])["tasks"] == 0


def test_self_time_subtracts_children():
    from tracing import Span, Tracer

    t = Tracer("r")
    t.spans = [
        Span("a", "pass", None, "r", 0.0, 10.0),
        Span("b", "stage", "a", "r", 1.0, 4.0),
        Span("c", "stage", "a", "r", 5.0, 9.0),
        Span("d", "inner", "b", "r", 2.0, 3.0),
    ]
    assert t.self_seconds(t.spans[0]) == pytest.approx(3.0)
    assert t.self_seconds(t.spans[1]) == pytest.approx(2.0)
    assert t.total("stage") == pytest.approx(7.0)

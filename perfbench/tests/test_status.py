"""Tests of the status-store collector (perfbench/status.py).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import status  # noqa: E402


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n73 ms (10 ms, 21 ms, 24 ms (stage 13.0: task 11))", 73.0),
        ("total (min, med, max (stageId: taskId))\n1.5 s (0.2 s, 0.5 s, 0.8 s (stage 2.0: task 4))", 1500.0),
        ("total (min, med, max (stageId: taskId))\n2.0 KiB (512.0 B, 1024.0 B, 1024.0 B (stage 1.0: task 3))", 2048.0),
        ("1,234", 1234.0),
        ("12.5 MiB", 12.5 * (1 << 20)),
        ("", 0.0),
        (None, 0.0),
    ],
)
def test_parse_metric(text, value):
    assert status.parse_metric(text) == pytest.approx(value)


def test_busy_union_merges_overlaps():
    assert status.busy_union_ms([(0, 10), (5, 20), (30, 35), (31, 32)]) == 25.0
    assert status.busy_union_ms([]) == 0.0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-status-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_collect_two_job_query(spark):
    sc = spark.sparkContext
    t_lo = int(time.time() * 1000)
    sc.setJobGroup("pb:7", "two-job query")
    try:
        # two SQL executions, one of them an aggregation over a shuffle
        rows = spark.range(0, 1000, 1, 4).selectExpr("id % 10 AS g").groupBy("g").count().collect()
        spark.range(0, 500, 1, 2).selectExpr("sum(id)").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == 10
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    st = status.collect(spark, t_lo, int(time.time() * 1000))

    ours = [j for j in st["jobs"] if j["group"] == "pb:7"]
    assert len(ours) >= 2
    for j in ours:
        assert j["submit"] <= j["complete"]
        assert j["stages"]
    ran = [st["stages"][s] for j in ours for s in j["stages"] if s in st["stages"]]
    assert sum(s["tasks"] for s in ran) >= 4 + 2
    assert sum(s["shuffle_write_bytes"] for s in ran) > 0

    ours_sql = [e for e in st["sql"] if set(e["jobs"]) & {j["id"] for j in ours}]
    assert len(ours_sql) == 2
    # the grouped count emits 10 rows from its final aggregate; the range
    # scans read 1000 + 500 rows
    assert status.sql_sum(ours_sql, "number of output rows", "Range") == 1500
    assert status.sql_sum(ours_sql, "number of output rows", "HashAggregate") >= 10

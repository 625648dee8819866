"""Spark-backed tests of the job-group counters (starts a small local
Spark session).

    python3 -m pytest perfbench/tests/test_sparkstat.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sparkstat import SparkCounters  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-sparkstat-test")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield session
    session.stop()


def _grouped(spark):
    return spark.range(0, 200_000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()


def test_aqe_map_stage_is_counted(spark):
    # under AQE the shuffle map stage runs as a job of its own and the
    # result job lists it again as skipped: both jobs, two executed stages
    counters = SparkCounters(spark)
    g = counters.start_group("aqe")
    assert _grouped(spark).collect()
    st = counters.collect([g])
    assert st["jobs"] == 2
    assert st["stages"] == 2
    assert st["tasks"] >= 5
    assert st["cpu_s"] > 0 and st["run_s"] > 0
    assert st["shuffle_write_mb"] > 0


def test_reused_stage_counts_only_where_it_ran(spark):
    # the second action reuses the first one's shuffle output: its job
    # lists that output as a skipped stage, which must not count again, and
    # reading the first group afterwards must still find its map stage
    counters = SparkCounters(spark)
    rdd = spark.sparkContext.parallelize(range(100_000), 4).map(lambda x: (x % 7, 1)).reduceByKey(lambda a, b: a + b)
    first = counters.start_group("first")
    assert rdd.count() == 7
    second = counters.start_group("second")
    assert rdd.count() == 7
    b, a = counters.collect([second]), counters.collect([first])
    assert (a["stages"], a["tasks"]) == (2, 4 + 4)
    assert (b["stages"], b["tasks"]) == (1, 4)
    assert a["shuffle_write_mb"] > 0 and b["shuffle_write_mb"] == 0
    both = counters.collect([first, second])
    assert both["stages"] == a["stages"] + b["stages"]
    assert both["cpu_s"] == pytest.approx(a["cpu_s"] + b["cpu_s"])

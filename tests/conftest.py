from __future__ import annotations

import sys
import tempfile
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestion_bra_spark.session import get_spark, tune_session


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    s = get_spark(
        "tests",
        cpus="8",
        shuffle_partitions="8",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    tune_session(s)
    yield s


@contextmanager
def sql_conf(spark, conf):
    """Set session SQL confs for the block, then restore them."""
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            # conf.get(key, None) is None for never-set keys — unset to restore
            # the session default, otherwise the override leaks into later tests
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def job_ids(spark, group):
    """Run the block's actions in job group ``group``; once the block exits,
    the yielded list holds the ids of the jobs it launched."""
    sc = spark.sparkContext
    ids = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        # the status tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


SF_SMOKE = "/root/testdata/sf0.001"

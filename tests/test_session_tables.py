"""The session-conf table and the plan-handle memo, pinned.

``get_spark`` must apply the same SQL confs as ``tune_session`` (a session
built by ``get_spark`` alone once ran with Spark 4's ANSI default on), and
``sources.tables`` keeps one memo of lazy plan handles keyed by the dataset
path's stat, so an atomically replaced dataset directory gets a new handle.
"""

from __future__ import annotations

import os
import shutil

from data_ingestion_bra_spark.session import get_spark
from data_ingestion_bra_spark.sources.tables import _PLAN_CACHE, load_table
from tests.conftest import SF_SMOKE, sql_conf

INFER_FILTERS = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def test_get_spark_applies_the_session_conf_table(spark):
    # Start from Spark's own defaults for the two confs, then ask get_spark
    # for the (existing) session: it must come back with the engine's values.
    with sql_conf(
        spark,
        {"spark.sql.ansi.enabled": "true", "spark.sql.optimizer.excludedRules": ""},
    ):
        s = get_spark("tests", cpus="8", shuffle_partitions="8")
        assert s.conf.get("spark.sql.ansi.enabled") == "false"
        assert INFER_FILTERS in s.conf.get("spark.sql.optimizer.excludedRules")
        assert s.sql("SELECT CAST('x' AS INT) AS v").first()["v"] is None


def _write_documents(spark, path: str, n: int) -> None:
    tmp = path + ".tmp"
    spark.range(n).withColumnRenamed("id", "doc_id").write.parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def test_load_table_memo_follows_dataset_replace(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    _write_documents(spark, path, 3)
    first = load_table(spark, sf_dir, "documents")
    assert load_table(spark, sf_dir, "documents") is first

    _write_documents(spark, path, 5)
    second = load_table(spark, sf_dir, "documents")
    assert second is not first
    assert second.count() == 5
    assert [k for k in _PLAN_CACHE[spark] if k[0] == path] == [
        (path, (os.stat(path).st_mtime_ns, os.stat(path).st_size))
    ]
    assert load_table(spark, sf_dir, "documents") is second


def test_load_table_events_ts_is_a_timestamp(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the committed fixtures store MICROS (read as timestamp_ntz); a NANOS
    # file reads as a long and load_table truncates it to micros
    assert dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"] == "timestamp_ntz"
    (tmp_path / "events.parquet").mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet" / "part-0.parquet",
    )
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect()]
    assert got == [n // 1000 for n in ns]

"""Streaming Count-Min maintenance (streaming/cms_maintenance.py): exact
fold (cell-wise sum == single pass), exactly-once replay, empty-store
contract, and the never-underestimate invariant surviving folds."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators.sketch import cms_estimates, cms_summaries
from data_ingestion_bra_spark.streaming.cms_maintenance import (
    cms_maintenance_writer,
    current_estimates,
    current_sketch,
)

D, W = 3, 128


def _stream_df(spark):
    rows = [(f"k{i % 23}",) for i in range(600)]
    return spark.createDataFrame(rows, "key string")


def test_stream_fold_equals_single_pass(spark, tmp_path):
    store = str(tmp_path / "cms_store")
    df = _stream_df(spark)
    w = cms_maintenance_writer(store, key_col="key", depth=D, width=W, query_id="t")
    for epoch in range(3):
        w(df.filter(F.crc32("key") % 3 == epoch), epoch)
    standing = {
        (r["j"], r["col"]): r["cell"] for r in current_sketch(spark, store).collect()
    }
    single = {
        (r["j"], r["col"]): r["cell"]
        for r in cms_summaries(df, "key", depth=D, width=W).collect()
    }
    assert standing == single
    # served point queries == batch-tier point queries, never under truth
    keys = df.select("key").distinct()
    served = {
        r["key"]: r["estimate"]
        for r in current_estimates(spark, store, keys, "key", depth=D, width=W).collect()
    }
    truth = {r["key"]: r["n"] for r in df.groupBy("key").agg(F.count("*").alias("n")).collect()}
    batch = {
        r["key"]: r["estimate"]
        for r in cms_estimates(
            cms_summaries(df, "key", depth=D, width=W), keys, "key", depth=D, width=W
        ).collect()
    }
    assert served == batch
    assert all(served[k] >= truth[k] for k in truth)


def test_stream_epoch_replay_is_exactly_once(spark, tmp_path):
    from data_ingestion_bra_spark.sinks import txlog

    store = str(tmp_path / "cms_store2")
    df = _stream_df(spark)
    w = cms_maintenance_writer(store, key_col="key", depth=D, width=W, query_id="r")
    w(df, 0)
    v0 = txlog.snapshot(store).version
    before = sorted(
        (r["j"], r["col"], r["cell"]) for r in current_sketch(spark, store).collect()
    )
    w(df, 0)  # replay: merges against strictly-prior (empty) state, no-ops on key
    assert txlog.snapshot(store).version == v0
    after = sorted(
        (r["j"], r["col"], r["cell"]) for r in current_sketch(spark, store).collect()
    )
    assert after == before


def test_empty_store_is_explicit_empty(spark, tmp_path):
    assert current_sketch(spark, str(tmp_path / "never")).count() == 0


def test_retire_epochs(spark, tmp_path):
    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.streaming.cms_maintenance import (
        retire_epochs_before,
    )

    store = str(tmp_path / "cms_store3")
    df = _stream_df(spark)
    w = cms_maintenance_writer(store, key_col="key", depth=D, width=W, query_id="ret")
    for epoch in range(3):
        w(df.filter(F.crc32("key") % 3 == epoch), epoch)
    latest = sorted(
        (r["j"], r["col"], r["cell"]) for r in current_sketch(spark, store).collect()
    )
    retire_epochs_before(spark, store, 2)
    rows = txlog.read_snapshot(spark, store)
    assert rows.filter(F.col("epoch") < 2).count() == 0
    after = sorted(
        (r["j"], r["col"], r["cell"]) for r in current_sketch(spark, store).collect()
    )
    assert after == latest  # retirement never touches the standing sketch
    retire_epochs_before(spark, store, 3)  # past the last epoch: nothing left
    assert current_sketch(spark, store).collect() == []

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import functions as F

from data_ingestion_bra_spark.sources.tables import load_table
from data_ingestion_bra_spark.streaming import jobs
from data_ingestion_bra_spark.streaming.bronze_ingest import (
    latest_partition,
    read_latest,
    start_bronze_ingest,
)

SF = "/root/testdata/sf0.001"


def test_stream_to_bronze_with_manifests(spark, tmp_path):
    src = tmp_path / "src"
    ev = load_table(spark, SF, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    ev.repartition(3).write.parquet(str(src))

    stream = jobs.read_events_stream(spark, str(src), max_files_per_trigger=1)
    q = start_bronze_ingest(
        stream,
        str(tmp_path / "bronze"),
        "tb_events",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    # every micro-batch landed under its event-date partition with a manifest
    batch_dirs = [
        p
        for p in glob.glob(str(tmp_path / "bronze/tb_events/anomesdia=*/batch=*"))
        if os.path.isdir(p)
    ]
    assert batch_dirs
    manifests = glob.glob(
        str(tmp_path / "bronze/tb_events/anomesdia=*/batch=*/_manifest.json")
    )
    assert len(manifests) == len(batch_dirs)
    m = json.load(open(manifests[0]))
    assert m["dataset"]["origem"] == "stream"
    assert m["schema_stats"]["linhas"] > 0
    # each manifest counts its own batch: together they cover the source
    linhas = [json.load(open(p))["schema_stats"]["linhas"] for p in manifests]
    assert sum(linhas) == ev.count()

    # total rows across bronze == source rows (exactly-once per epoch)
    back = spark.read.option("basePath", str(tmp_path / "bronze/tb_events")).parquet(
        str(tmp_path / "bronze/tb_events")
    )
    assert back.count() == ev.count()

    # partitions are event-date derived
    pv = latest_partition(spark, str(tmp_path / "bronze"), "tb_events")
    assert pv == "20240130"  # max event date in the fixture
    latest = read_latest(spark, str(tmp_path / "bronze"), "tb_events")
    want = ev.filter(F.date_format("ts", "yyyyMMdd") == pv).count()
    assert latest.count() == want

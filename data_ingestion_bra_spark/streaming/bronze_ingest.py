"""Streaming → bronze ingestion: micro-batches land as Hive-partitioned
parquet with a governance manifest per batch — the streaming evolution of
the reference's batch pipelines (same sink + manifest machinery).

``foreachBatch`` is the right tool here: each micro-batch is a normal
DataFrame, so the batch writer and the write-observed manifest stats are
reused unchanged, and the sink stays exactly-once per epoch (Spark tracks
epoch ids in the checkpoint; a replayed epoch overwrites the same partition
value + batch file deterministically).
"""

from __future__ import annotations

import os
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_bra_spark.manifest import observe_schema_stats, write_metadata_from_df


def bronze_batch_writer(
    base_dir: str,
    table: str,
    *,
    partition_key: str = "anomesdia",
    manifest: bool = True,
) -> Callable[[DataFrame, int], None]:
    """Returns the foreachBatch function: writes each micro-batch under
    ``<table>/<partition_key>=<yyyyMMdd>/batch=<epoch>/`` and drops a
    manifest beside it."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # partition by event date derived from event time (not wall clock):
        # replays land in the same partitions they came from
        dated = batch_df.withColumn(partition_key, F.date_format("ts", "yyyyMMdd"))
        for (pv,) in dated.select(partition_key).distinct().collect():
            part = dated.filter(F.col(partition_key) == pv).drop(partition_key)
            out_dir = os.path.join(base_dir, table, f"{partition_key}={pv}", f"batch={epoch_id}")
            observed, stats = observe_schema_stats(part)
            observed.write.mode("overwrite").parquet(out_dir)
            if manifest:
                write_metadata_from_df(
                    part,
                    out_dir,
                    stats,
                    dataset=table,
                    origem="stream",
                    partition_key=partition_key,
                    partition_value=str(pv),
                    run_id=str(epoch_id),
                    producer="data_ingestion_bra_spark.streaming.bronze_ingest",
                    # underscore-prefixed + inside the batch dir: invisible
                    # to Spark's partition discovery on read-back
                    manifest_name="_manifest.json",
                )

    return write_batch


def start_bronze_ingest(
    events: DataFrame,
    base_dir: str,
    table: str,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    **writer_kwargs: Any,
):
    """Start the streaming bronze ingestion query."""
    writer = events.writeStream.foreachBatch(
        bronze_batch_writer(base_dir, table, **writer_kwargs)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_partition(spark, base_dir: str, table: str, *, partition_key: str = "anomesdia") -> str | None:
    """Most recent partition value of a bronze table — the 'read the latest
    snapshot' helper (SURVEY §2.5 note). Listing-based: no data scan."""
    root = os.path.join(base_dir, table)
    if not os.path.isdir(root):
        return None
    vals = [
        d.split("=", 1)[1]
        for d in os.listdir(root)
        if d.startswith(f"{partition_key}=") and os.path.isdir(os.path.join(root, d))
    ]
    return max(vals) if vals else None


def read_latest(spark, base_dir: str, table: str, *, partition_key: str = "anomesdia") -> DataFrame:
    """Partition-pruned read of the latest snapshot (the filter on the
    partition column prunes directories, never scanning older data)."""
    pv = latest_partition(spark, base_dir, table, partition_key=partition_key)
    if pv is None:
        raise FileNotFoundError(f"no partitions under {base_dir}/{table}")
    return (
        spark.read.option("basePath", os.path.join(base_dir, table))
        .parquet(os.path.join(base_dir, table))
        .filter(F.col(partition_key) == pv)
    )


def acid_batch_writer(
    table_dir: str, *, query_id: str = "bronze"
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer that lands each micro-batch as ONE ACID txlog
    commit, exactly-once across epoch replays: the idempotency key
    ``<query_id>:<epoch>`` makes a replayed epoch a no-op (the Delta
    pattern). CONTRACT: query_id must be unique per CHECKPOINT lineage —
    epoch ids renumber from 0 under a fresh checkpoint, so a constant id
    would collide with the old run's keys and silently no-op batches that
    now cover more source data; derive it with
    ``txlog.checkpoint_scoped_query_id`` (the Delta
    transactional-writer pattern), so restarts re-running the last epoch
    cannot duplicate rows — a guarantee the directory sink gets from
    deterministic overwrite paths and the txlog sink gets from the log
    itself. Readers see each batch atomically (snapshot isolation) and the
    commit's meta records the epoch for lineage."""
    from data_ingestion_bra_spark.sinks import txlog

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txlog.commit_append(
            batch_df,
            table_dir,
            meta={"epoch": int(epoch_id)},
            idempotency_key=f"{query_id}:{epoch_id}",
        )

    return write_batch


def acid_batch_writer_with_view(
    table_dir: str,
    view_dir: str,
    *,
    key_cols: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
    query_id: str = "bronze",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer that lands each micro-batch as one ACID commit
    AND delta-refreshes the downstream aggregate view in the same hook — a
    CONTINUOUSLY-maintained materialized view over the stream.

    Exactly-once composes: a replayed epoch no-ops the append (idempotency
    key), so the follow-up refresh sees no new source version and no-ops
    too — the view can never double-count a replay. Refresh cost per epoch
    tracks the epoch's change volume (sinks/matview.py), so the hook adds
    delta-sized work to each micro-batch, not a source rescan."""
    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.sinks.matview import refresh_agg_view

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        txlog.commit_append(
            batch_df,
            table_dir,
            meta={"epoch": int(epoch_id)},
            idempotency_key=f"{query_id}:{epoch_id}",
        )
        refresh_agg_view(
            batch_df.sparkSession,
            table_dir,
            view_dir,
            key_cols=key_cols,
            sum_cols=sum_cols,
        )

    return write_batch

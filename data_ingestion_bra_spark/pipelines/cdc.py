"""CDC end-to-end pipeline: MERGE upsert → dynamic-partition-overwrite
snapshot write (+ governance manifest per batch) → SCD2 history over the
accumulated change log.

This composes the incremental surface the engine already verifies
operator-by-operator (``operators/merge.py``, ``sinks/writer.py``,
``manifest.py``) into the shape a lakehouse actually runs:

- each CDC batch upserts into the CURRENT snapshot (base never shuffles —
  broadcast-anti on the changeset keys, ``operators/merge.py:32``);
- the merged snapshot lands as a NEW daily partition via the dynamic
  partition-overwrite writer (``sinks/writer.py`` — only the partition
  present in the write is replaced, so prior snapshots stay byte-stable;
  the reference's own layout, app/ingestao_api.py:124-127, gains
  incremental semantics without a table format);
- the raw changes append to a change LOG (insert-only parquet), which is
  what SCD2 consumes — history is derived from the log, never from
  diffing snapshots;
- a manifest is written beside every snapshot partition (the reference's
  governance sidecar, app/utils/metadata.py:85-151).

At 100 TB: the snapshot write is the only full-table-size job and it is
shuffle-free (merge output preserves the base scan's partitioning); the
change log appends are batch-sized; SCD2 shuffles once on the entity key.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_bra_spark.manifest import observe_schema_stats, write_metadata_from_df
from data_ingestion_bra_spark.operators.merge import merge_upsert, scd2_intervals
from data_ingestion_bra_spark.sinks.writer import write_partitioned
from data_ingestion_bra_spark.streaming.bronze_ingest import latest_partition


def read_snapshot(spark: SparkSession, base_dir: str, table: str) -> DataFrame | None:
    """Latest snapshot partition, or None before the first batch."""
    pv = latest_partition(spark, base_dir, table)
    if pv is None:
        return None
    return spark.read.parquet(os.path.join(base_dir, table, f"anomesdia={pv}"))


def run_cdc_batch(
    spark: SparkSession,
    base_dir: str,
    table: str,
    changes: DataFrame,
    *,
    keys: list[str],
    partition_value: str,
    single_file: bool = False,
) -> dict:
    """Apply one CDC batch: upsert into the latest snapshot, write the new
    snapshot partition (dynamic overwrite), append the raw changes to the
    change log, drop a manifest. Changes must carry ``_seq`` (CDC sequence
    number); duplicate keys within a batch resolve last-wins — the Delta-
    parity guard lives in ``merge_upsert`` for callers that want errors."""
    # first batch: an empty base with the changeset's schema, so last-wins
    # dedup within the batch applies from day one
    current = read_snapshot(spark, base_dir, table)
    base = changes.limit(0) if current is None else current
    merged = merge_upsert(base, changes, keys, on_duplicate_keys="last_wins")
    # deterministic intra-partition layout: sorting by key before the write
    # makes replayed pipelines produce identical files, which is what lets
    # the test pin byte-stability (and makes snapshot diffs trivial)
    merged = merged.sortWithinPartitions(*keys)
    observed, stats = observe_schema_stats(merged)
    part_dir = write_partitioned(
        observed,
        base_dir,
        table,
        partition_value=partition_value,
        single_file=single_file,
    )
    changes.write.mode("append").parquet(os.path.join(base_dir, f"{table}__changelog"))
    write_metadata_from_df(
        merged,
        part_dir,
        stats,
        dataset=table,
        origem="cdc",
        partition_key="anomesdia",
        partition_value=partition_value,
        run_id=partition_value,
        producer="data_ingestion_bra_spark.pipelines.cdc",
        manifest_name="_manifest.json",
    )
    return {
        "partition_dir": part_dir,
        "n_changes": changes.count(),
        "n_snapshot": stats.get["linhas"],  # observed by the snapshot write
    }


def change_history(
    spark: SparkSession,
    base_dir: str,
    table: str,
    *,
    entity_col: str,
    attr_col: str,
) -> DataFrame:
    """SCD2 validity intervals over the accumulated change log (ordered by
    the CDC sequence; ties broken by the entity key for totality)."""
    log = spark.read.parquet(os.path.join(base_dir, f"{table}__changelog"))
    return scd2_intervals(log, entity_col, attr_col, "_seq", tiebreak_col=entity_col)


def run_cdc_batch_acid(
    spark: SparkSession,
    base_dir: str,
    table: str,
    changes: DataFrame,
    *,
    keys: list[str],
    batch_id: str,
) -> dict:
    """ACID twin of ``run_cdc_batch``: the snapshot is a ``sinks/txlog``
    table whose VERSION LINEAGE is the batch history.

    Each batch atomically replaces the whole snapshot (one
    ``commit_overwrite_partition`` of the single logical partition
    ``snapshot=current``) and ACID-appends the raw changes to a txlog
    change log. What the directory pipeline gets from daily partition
    values — per-batch lineage — this twin gets from time travel:
    ``txlog.read_snapshot(dir, version=k)`` is the table as of batch k,
    readers are snapshot-isolated against in-flight commits, and a crashed
    writer leaves only unreferenced files (vacuumable), never a torn
    snapshot. Concurrent same-table committers resolve through the
    put-if-absent version race: appends retry through, competing snapshot
    replacements raise ``CommitConflict`` instead of silently losing a
    batch — the guarantee the staged-rename writer cannot make.

    Note the write ordering: the merged DataFrame SCANS the files of the
    current snapshot while its output is staged under a fresh uuid
    directory — data files are immutable, so the read-what-you-replace
    cycle needs no locking.
    """
    from data_ingestion_bra_spark.sinks import txlog

    snap_dir = os.path.join(base_dir, f"{table}__acid")
    log_dir = os.path.join(base_dir, f"{table}__changelog_acid")
    try:
        current = txlog.read_snapshot(spark, snap_dir)
    except FileNotFoundError:
        current = None
    base = changes.limit(0) if current is None else current
    merged = merge_upsert(
        base, changes, keys, on_duplicate_keys="last_wins"
    ).sortWithinPartitions(*keys)
    version = txlog.commit_overwrite_partition(
        merged,
        snap_dir,
        partition_key="snapshot",
        partition_value="current",
        meta={"batch": batch_id, "table": table},
    )
    txlog.commit_append(changes, log_dir, meta={"batch": batch_id, "table": table})
    return {"snapshot_dir": snap_dir, "changelog_dir": log_dir, "version": version}


def change_history_acid(
    spark: SparkSession,
    base_dir: str,
    table: str,
    *,
    entity_col: str,
    attr_col: str,
) -> DataFrame:
    """SCD2 intervals over the ACID change log (txlog snapshot read)."""
    from data_ingestion_bra_spark.sinks import txlog

    log = txlog.read_snapshot(spark, os.path.join(base_dir, f"{table}__changelog_acid"))
    return scd2_intervals(log, entity_col, attr_col, "_seq", tiebreak_col=entity_col)

"""spread_scan sizing contract (round-13 optimization).

The round-12 version fanned every under-split scan out to ALL task slots;
the round-12 driver artifact measured that as a regression on tiny inputs
(dedup_simhash 0.75x at 32 cores — a 32-task round-robin exchange under a
500-row relation). Round 13 caps the spread width by input size:
``ceil(input_bytes / bytes_per_task)``, clamped to [scan partitions, slots].
"""

from __future__ import annotations

import os

import pytest

from data_ingestion_bra_spark.sources.tables import (
    SPREAD_BYTES_PER_TASK,
    _input_bytes,
    load_table,
    spread_scan,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_input_bytes_matches_file_size(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    root = os.path.join(SF_SMOKE, "documents.parquet")
    if os.path.isdir(root):
        expected = sum(
            os.stat(os.path.join(root, f)).st_size
            for f in os.listdir(root)
            if f.endswith(".parquet")
        )
    else:
        expected = os.stat(root).st_size
    assert _input_bytes(d) == expected


def test_input_bytes_is_none_for_a_non_file_scheme(monkeypatch):
    """An object-store input is not sized: no ``os.stat`` is attempted on
    it, and spread_scan then falls back to all slots."""

    class Remote:
        def inputFiles(self):
            return ["s3://bucket/documents.parquet/part-0.parquet"]

    stats = []
    real_stat = os.stat
    monkeypatch.setattr(os, "stat", lambda p, *a, **k: stats.append(p) or real_stat(p, *a, **k))
    remote = Remote()
    assert _input_bytes(remote) is None
    assert stats == [] and remote._scan_bytes == -1


def test_tiny_input_is_not_fanned_to_all_slots(spark):
    """A smoke-scale fixture is far below one bytes_per_task unit per slot:
    the spread must stay narrow (or be skipped) instead of paying a
    slots-wide exchange."""
    d = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    nbytes = _input_bytes(d)
    assert nbytes is not None and nbytes < 8 * SPREAD_BYTES_PER_TASK
    out = spread_scan(d)
    expected_target = -(-nbytes // SPREAD_BYTES_PER_TASK)
    scan_parts = d.rdd.getNumPartitions()
    assert out.rdd.getNumPartitions() <= max(scan_parts, expected_target)


def test_bytes_per_task_controls_width(spark):
    d = spark.read.parquet(os.path.join(SF_SMOKE, "documents.parquet"))
    slots = spark.sparkContext.defaultParallelism
    wide = spread_scan(d, bytes_per_task=1)
    assert wide.rdd.getNumPartitions() == slots


def test_already_parallel_scan_unchanged(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    slots = spark.sparkContext.defaultParallelism
    pre = d.repartition(slots + 4)
    assert spread_scan(pre, bytes_per_task=1) is pre


def test_spread_preserves_rows(spark):
    d = load_table(spark, SF_SMOKE, "documents")
    out = spread_scan(d, bytes_per_task=1)
    assert out.count() == d.count()
    assert out.columns == d.columns


def test_simhash_rejects_overflowing_nibble_count(spark):
    from data_ingestion_bra_spark.operators import dedup

    d = load_table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="15 nibbles"):
        dedup.simhash_fingerprints(d, "doc_id", "text", nibbles=16)

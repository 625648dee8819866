"""Streaming frequency-estimate maintenance: a standing Count-Min sketch
of an unbounded key stream, folded per micro-batch into an ACID txlog
store — the point-query member of the engine's mergeable-summary state
tier (dedup signature store: membership; freq_maintenance: Misra–Gries
candidates; cardinality_maintenance: KMV distinct counts; this module:
how-frequent-is-ANY-key).

Like the KMV fold (and unlike MG's bound-preserving fold), the CMS fold is
EXACT: counting is linear, so the cell-wise sum of per-epoch sketches is
byte-identical to a single-pass sketch of the whole stream (asserted in
tests/test_sketch.py / tests/test_cms_maintenance.py). State is bounded at
depth × width rows forever, and the never-underestimate invariant of the
point query survives any number of folds.

Per micro-batch (the same replay discipline as the freq/KMV/dedup stores):

1. build the batch's sketch relation (operators/sketch.py:cms_summaries),
2. read the standing sketch at the latest epoch STRICTLY BEFORE this one
   (a replayed epoch must merge against the pre-batch state),
3. cms_merge(prior ∪ batch) → the new standing sketch,
4. commit it as one exactly-once txlog append keyed by ``<query>:<epoch>``.

Serving: ``current_estimates`` point-queries the latest standing sketch
for a key relation — at most depth broadcast-join probes, never a scan of
the stream's history.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators.sketch import (
    cms_estimates,
    cms_merge,
    cms_summaries,
)
from data_ingestion_bra_spark.sinks import txlog


def _latest_prior_sketch(
    spark: SparkSession, store_dir: str, before_epoch: int
) -> DataFrame | None:
    if txlog.snapshot(store_dir).version < 0:
        return None
    rows = txlog.read_snapshot(spark, store_dir).filter(
        F.col("epoch") < F.lit(int(before_epoch))
    )
    prior = rows.agg(F.max("epoch").alias("e")).collect()[0]["e"]
    if prior is None:
        return None
    return rows.filter(F.col("epoch") == F.lit(int(prior))).select("j", "col", "cell")


def cms_maintenance_writer(
    store_dir: str,
    *,
    key_col: str,
    depth: int = 3,
    width: int = 1024,
    query_id: str = "cms",  # MUST be checkpoint-unique: txlog.checkpoint_scoped_query_id
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: fold the arriving batch's Count-Min sketch into
    the standing sketch, exactly once per epoch. Replays merge against the
    strictly-prior state and no-op on the idempotency key — the same
    ordering argument as the freq/KMV/dedup maintenance stores."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_sketch = cms_summaries(batch_df, key_col, depth=depth, width=width)
        prior = _latest_prior_sketch(spark, store_dir, int(epoch_id))
        merged = cms_merge(
            batch_sketch if prior is None else prior.unionByName(batch_sketch)
        )
        txlog.commit_append(
            merged.withColumn("epoch", F.lit(int(epoch_id))),
            store_dir,
            idempotency_key=f"{query_id}:sketch:{epoch_id}",
        )

    return write_batch


def current_sketch(spark: SparkSession, store_dir: str) -> DataFrame:
    """The standing sketch at the latest committed epoch (explicit empty
    relation for a never-written or fully retired store)."""
    if txlog.snapshot(store_dir).version < 0:
        return spark.createDataFrame([], "j int, col bigint, cell bigint")
    rows = txlog.read_snapshot(spark, store_dir)
    latest = rows.agg(F.max("epoch").alias("e")).collect()[0]["e"]
    if latest is None:
        return rows.select("j", "col", "cell").limit(0)
    return rows.filter(F.col("epoch") == F.lit(int(latest))).select("j", "col", "cell")


def current_estimates(
    spark: SparkSession,
    store_dir: str,
    keys: DataFrame,
    key_col: str,
    *,
    depth: int = 3,
    width: int = 1024,
) -> DataFrame:
    """Point-query the standing sketch for every row of ``keys``."""
    return cms_estimates(
        current_sketch(spark, store_dir), keys, key_col, depth=depth, width=width
    )


def retire_epochs_before(spark: SparkSession, store_dir: str, epoch: int) -> None:
    """Drop superseded standing-sketch rows (each epoch commits a FULL
    sketch; older epochs are retained only for audit/time-travel)."""
    txlog.commit_delete(
        spark,
        store_dir,
        F.col("epoch") < F.lit(int(epoch)),
        idempotency_key=f"retire:{epoch}",
    )

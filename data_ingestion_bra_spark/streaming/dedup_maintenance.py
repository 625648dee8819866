"""Streaming incremental near-dup dedup: maintain the corpus signature
store at ingest and flag arriving near-duplicates per micro-batch.

The batch tier (operators/dedup.py:incremental_lsh_candidates) answers
"check today's increment against the standing corpus"; this module is its
stream form: every micro-batch

1. shingles + MinHash-signs ONLY the batch and bands it row-locally,
2. equi-joins the batch's buckets against the PERSISTED store → candidate
   flags (doc_new, doc_old) vs all previously ingested docs,
3. adds within-batch candidate pairs (canonical doc_a < doc_b orientation)
   so same-epoch duplicates are not blind spots,
4. commits the flags, then the batch's buckets into the store — both as
   ACID txlog appends with per-epoch idempotency keys.

The store keeps only (doc, band, bucket) — ``dedup.band_buckets`` — not the
signatures, so flags are candidate pairs without the batch tier's in-row
Jaccard estimate.

Exactly-once composes across the two commits because the FLAGS land
first: a crash between the commits replays the epoch with the store still
excluding the batch, so the recomputed flags are identical and their
commit no-ops on the key; the store append then completes. (Store-first
ordering would be wrong: a replay would join the batch against a store
already containing itself.)

Cumulative invariant (pytest-pinned): after streaming the whole corpus in
any number of micro-batches, the union of flagged pairs equals the pair
set of ``dedup.lsh_pair_estimates`` over the full corpus — incrementality changes the join shape
and cost (per epoch: batch-sized work + one equi-join against the store),
never the answer.

At 100 TB the store is one row per (doc, band, bucket) — bands × corpus
docs — and can be bucketed by (band, bucket) on disk so the corpus side of
the per-epoch join never shuffles; the flags table is the dedup decision
log downstream curation consumes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators import dedup
from data_ingestion_bra_spark.sinks import txlog


def _batch_buckets(
    batch_df: DataFrame, *, band_size: int, num_hashes: int
) -> DataFrame:
    sig = dedup.minhash_signatures(
        dedup.doc_shingles(batch_df, "doc_id", "text", n=3, distinct=False),
        num_hashes=num_hashes,
    )
    return dedup.band_buckets(sig, band_size=band_size, num_hashes=num_hashes)


def dedup_maintenance_writer(
    store_dir: str,
    flags_dir: str,
    *,
    query_id: str = "dedup",  # MUST be checkpoint-unique: see txlog.checkpoint_scoped_query_id
    band_size: int = 4,
    num_hashes: int = 16,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch hook: flag near-dups of the arriving batch (vs store
    AND within batch), then fold the batch's buckets into the store.
    Both commits are exactly-once per epoch (idempotency keys); see the
    module docstring for why flags commit first."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        new_b = _batch_buckets(
            batch_df, band_size=band_size, num_hashes=num_hashes
        ).localCheckpoint(eager=True)
        store = (
            txlog.read_snapshot(spark, store_dir)
            if txlog.snapshot(store_dir).version >= 0
            else None
        )
        vs_store = None
        if store is not None:
            vs_store = (
                new_b.select(F.col("doc").alias("doc_new"), "band", "bucket")
                .join(
                    store.select(F.col("doc").alias("doc_old"), "band", "bucket"),
                    ["band", "bucket"],
                )
                .select("doc_new", "doc_old")
            )
        a = new_b.select(F.col("doc").alias("doc_new"), "band", "bucket")
        b = new_b.select(F.col("doc").alias("doc_old"), "band", "bucket")
        within = (
            a.join(b, ["band", "bucket"])
            .filter(F.col("doc_new") > F.col("doc_old"))
            .select("doc_new", "doc_old")
        )
        flags = within if vs_store is None else vs_store.unionByName(within)
        flags = flags.distinct().withColumn("epoch", F.lit(int(epoch_id)))
        txlog.commit_append(
            flags, flags_dir, idempotency_key=f"{query_id}:flags:{epoch_id}"
        )
        txlog.commit_append(
            new_b, store_dir, idempotency_key=f"{query_id}:store:{epoch_id}"
        )
        new_b.unpersist()

    return write_batch

"""Streaming incremental dedup maintenance: per-epoch flags vs the
persisted signature store, exactly-once commits, and the cumulative
stream==batch candidate-graph invariant."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators import dedup
from data_ingestion_bra_spark.sinks import txlog
from data_ingestion_bra_spark.streaming.dedup_maintenance import (
    dedup_maintenance_writer,
)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _full_pairs(spark):
    d = _docs(spark)
    sig = dedup.minhash_signatures(
        dedup.doc_shingles(d, "doc_id", "text", n=3, distinct=False), num_hashes=16
    )
    return {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]))
        for r in dedup.lsh_pair_estimates(sig, band_size=4, num_hashes=16).collect()
    }


def test_cumulative_flags_equal_full_corpus_pairs(tmp_path, spark):
    """Stream the corpus in 3 epochs: the union of flagged pairs must equal
    the full-corpus LSH candidate pairs (canonical orientation) — the
    incremental join shape changes cost, never the answer. Cross-epoch
    pairs surface when the later doc arrives; same-epoch pairs via the
    within-batch join."""
    store, flags = str(tmp_path / "store"), str(tmp_path / "flags")
    w = dedup_maintenance_writer(store, flags, query_id="t")
    d = _docs(spark)
    for epoch in range(3):
        w(d.filter(F.col("doc_id") % 3 == epoch), epoch)
    got = {
        (r["doc_new"], r["doc_old"])
        if r["doc_new"] > r["doc_old"]
        else (r["doc_old"], r["doc_new"])
        for r in txlog.read_snapshot(spark, flags).collect()
    }
    assert got == _full_pairs(spark)
    # the store now holds every doc's buckets exactly once
    n_docs = d.count()
    assert (
        txlog.read_snapshot(spark, store).select("doc").distinct().count() == n_docs
    )


def test_epoch_replay_is_exactly_once(tmp_path, spark):
    """Replaying an epoch (restart after the checkpoint lost the commit
    acknowledgement) adds NOTHING: both the flags and the store appends
    no-op on their idempotency keys."""
    store, flags = str(tmp_path / "store"), str(tmp_path / "flags")
    w = dedup_maintenance_writer(store, flags, query_id="t2")
    d = _docs(spark)
    b0 = d.filter(F.col("doc_id") % 3 == 0)
    w(b0, 0)
    v_store = txlog.snapshot(store).version
    v_flags = txlog.snapshot(flags).version
    n_flags = txlog.read_snapshot(spark, flags).count()
    w(b0, 0)  # replay
    assert txlog.snapshot(store).version == v_store
    assert txlog.snapshot(flags).version == v_flags
    assert txlog.read_snapshot(spark, flags).count() == n_flags


def test_real_stream_end_to_end(tmp_path, spark):
    """Real foreachBatch micro-batches over file replay: cumulative flags
    match the full-corpus pairs restricted to the streamed subset."""
    from data_ingestion_bra_spark.streaming import jobs

    data = str(tmp_path / "in")
    _docs(spark).filter(F.col("doc_id") < 120).repartition(3).write.parquet(data)
    store, flags = str(tmp_path / "store2"), str(tmp_path / "flags2")
    stream = jobs.read_documents_stream(spark, data, max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(
            dedup_maintenance_writer(store, flags, query_id="e2e")
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    sub = spark.read.parquet(data)
    sig = dedup.minhash_signatures(
        dedup.doc_shingles(sub, "doc_id", "text", n=3, distinct=False), num_hashes=16
    )
    want = {
        (max(r["doc_a"], r["doc_b"]), min(r["doc_a"], r["doc_b"]))
        for r in dedup.lsh_pair_estimates(sig).collect()
    }
    got = {
        (r["doc_new"], r["doc_old"])
        if r["doc_new"] > r["doc_old"]
        else (r["doc_old"], r["doc_new"])
        for r in txlog.read_snapshot(spark, flags).collect()
    }
    assert got == want

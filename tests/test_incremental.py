"""Incremental near-dup dedup: batch-vs-standing-corpus LSH candidates and
the persisted signature-store round trip (the daily-increment pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators import dedup
from data_ingestion_bra_spark.plans.registry import get_queries

SF = "/root/testdata/sf0.001"


def _sigs(spark, pred):
    d = spark.read.parquet(f"{SF}/documents.parquet").filter(pred)
    return dedup.minhash_signatures(
        dedup.doc_shingles(d, "doc_id", "text", n=3, distinct=False), num_hashes=16
    )


def test_incremental_matches_full_lsh_restriction(spark):
    """Incremental candidates == full-corpus LSH pairs restricted to
    (new, old), estimate for estimate — incrementality changes the join
    shape, not the answer."""
    d = spark.read.parquet(f"{SF}/documents.parquet")
    sig_all = dedup.minhash_signatures(
        dedup.doc_shingles(d, "doc_id", "text", n=3, distinct=False), num_hashes=16
    ).persist()
    full = dedup.lsh_pair_estimates(sig_all, band_size=4, num_hashes=16)
    # full pairs are doc_a < doc_b; expand to both orientations, keep (new, old)
    expected = {
        ((a, b) if a % 10 == 0 else (b, a)) + (e,)
        for a, b, e in ((r["doc_a"], r["doc_b"], r["jaccard_est_e4"]) for r in full.collect())
        if (a % 10 == 0) != (b % 10 == 0)
    }
    sig_b = sig_all.filter(F.col("doc") % 10 == 0)
    sig_c = sig_all.filter(F.col("doc") % 10 != 0)
    got = {
        (r["doc_new"], r["doc_old"], r["jaccard_est_e4"])
        for r in dedup.incremental_lsh_candidates(sig_c, sig_b).collect()
    }
    sig_all.unpersist()
    assert got == expected


def test_signature_store_roundtrip(tmp_path, spark):
    """The corpus side of the incremental join is a PERSISTED signature
    store: write sigs once, reload, and get byte-identical candidates —
    no historical re-shingling on later increments."""
    store = str(tmp_path / "sig_store")
    _sigs(spark, F.col("doc_id") % 10 != 0).write.parquet(store)
    sig_c = spark.read.parquet(store)
    sig_b = _sigs(spark, F.col("doc_id") % 10 == 0)
    live = dedup.incremental_lsh_candidates(
        _sigs(spark, F.col("doc_id") % 10 != 0), sig_b
    )
    stored = dedup.incremental_lsh_candidates(sig_c, sig_b)
    assert sorted(map(tuple, live.collect())) == sorted(map(tuple, stored.collect()))


def test_incremental_no_corpus_self_join(spark):
    """Plan shape: the candidate join keys on (band, bucket) — SortMerge or
    broadcast hash — and no CartesianProduct / BroadcastNestedLoopJoin."""
    q = get_queries()["dedup_incremental_batch"]
    plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan

"""The registry's prepared builders, pinned.

``get_queries()`` builders return the DataFrame they built before while the
key ``(sf_dir, sf_dir's entries, SQL confs, SPARK_GRAFT_IVF_CACHE)`` holds,
keep one entry per query and session in the one session store, and see
the new rows of a dataset replaced under ``sf_dir``.
"""

from __future__ import annotations

import gc
import os
import shutil
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import __spark_entry__
from data_ingestion_bra_spark.plans.registry import get_queries
from data_ingestion_bra_spark.sources.tables import _STORE
from tests.conftest import SF_SMOKE, job_ids, sql_conf
from tests.test_session_tables import LLM_CURATION, _noop


def _copy_smoke(tmp_path) -> str:
    d = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, d)
    for f in d.iterdir():
        f.chmod(0o644)
    return str(d)


def test_second_build_is_the_same_plan_and_launches_no_job(spark):
    build = get_queries()["dedup_simhash"]
    first = build(spark, SF_SMOKE)
    # the builder's eager checkpoints ran on the first build only
    with job_ids(spark, "test-prepared-simhash") as jobs:
        second = get_queries()["dedup_simhash"](spark, SF_SMOKE)
    assert second is first
    assert jobs == []


def test_replaced_dataset_rebuilds_with_the_new_rows(spark, tmp_path):
    """``dedup_minhash_lsh`` persists its signatures, and so does
    ``dedup_duplicate_clusters`` while it builds. Spark's CacheManager
    matches that plan by path, not by file version: builds over a replaced
    dataset see the new rows only because the data cached over the old one
    was refreshed, whichever query notices the replace first."""
    sf_dir = _copy_smoke(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    queries = get_queries()
    before = queries["dedup_minhash_lsh"](spark, sf_dir)
    first_50 = (F.col("doc_a") < 50) & (F.col("doc_b") < 50)
    assert before.filter(first_50).count() < 1225

    # documents 1-49 take document 0's text: all 50 become one family of
    # 1225 pairs. The file stays under one scan task, so the signature
    # plan is the same as before.
    docs = pq.read_table(path)
    ids, texts = docs["doc_id"].to_pylist(), docs["text"].to_pylist()
    text0 = texts[ids.index(0)]
    i = docs.schema.get_field_index("text")
    docs = docs.set_column(
        i, docs.schema.field(i), pa.array([text0 if d < 50 else t for d, t in zip(ids, texts)])
    )
    pq.write_table(docs, path + ".tmp")
    os.replace(path + ".tmp", path)

    clusters = queries["dedup_duplicate_clusters"](spark, sf_dir).filter(F.col("doc_id") < 50)
    assert len({r["cluster_id"] for r in clusters.collect()}) == 1 and clusters.count() == 50
    after = queries["dedup_minhash_lsh"](spark, sf_dir)
    assert after is not before
    assert after.filter(first_50).count() == 1225


def test_each_key_part_forces_a_rebuild(spark, tmp_path, monkeypatch):
    build = get_queries()["dedup_exact_groups"]
    first = build(spark, SF_SMOKE)
    assert build(spark, SF_SMOKE) is first

    other_dir = build(spark, _copy_smoke(tmp_path))
    assert other_dir is not first

    third = build(spark, SF_SMOKE)
    with sql_conf(spark, {"spark.sql.session.timeZone": "America/Sao_Paulo"}):
        assert build(spark, SF_SMOKE) is not third
    fourth = build(spark, SF_SMOKE)
    assert build(spark, SF_SMOKE) is fourth

    monkeypatch.setenv("SPARK_GRAFT_IVF_CACHE", str(tmp_path / "ivf"))
    assert build(spark, SF_SMOKE) is not fourth


def test_new_session_has_its_own_cache(spark):
    build = get_queries()["dedup_exact_groups"]
    first = build(spark, SF_SMOKE)
    other = spark.newSession()
    assert other not in _STORE
    assert build(other, SF_SMOKE) is not first
    assert build(spark, SF_SMOKE) is first


def test_a_miss_replaces_the_entry(spark, tmp_path):
    """Building a query for a second ``sf_dir`` replaces its entry: the
    first build is no longer held."""
    build = get_queries()["dedup_exact_groups"]
    first = weakref.ref(build(spark, SF_SMOKE))
    sf_dir = _copy_smoke(tmp_path)
    build(spark, sf_dir)
    gc.collect()
    assert first() is None
    assert _STORE[spark][("query", "dedup_exact_groups")][0][0] == sf_dir


def _held_blocks(spark) -> dict[int, int]:
    """Bytes of cached and checkpointed blocks held, memory plus disk, by
    RDD id."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id(): i.memSize() + i.diskSize() for i in infos}


def test_storage_stays_flat_across_passes(spark):
    """Three passes of the llm_curation queries hold the persisted and
    checkpointed blocks of the first: a later pass caches no new RDD and
    grows none. (Totals may fall: Spark's ContextCleaner drops the blocks
    of earlier tests' unreachable plans asynchronously.)"""
    queries = get_queries()
    held = []
    for _ in range(3):
        for name in LLM_CURATION:
            _noop(queries[name](spark, SF_SMOKE))
        held.append(_held_blocks(spark))
    for later in held[1:]:
        assert {rdd: size for rdd, size in later.items() if held[0].get(rdd) != size} == {}, held


def test_small_codegen_cache_is_reported_once_per_session(spark, capsys, monkeypatch):
    # the shared session has the engine's 512: a larger engine figure stands
    # in for a caller's session built with a smaller cap
    monkeypatch.setattr(__spark_entry__, "CODEGEN_CACHE_ENTRIES", 1024)
    session = spark.newSession()
    queries = __spark_entry__.queries()
    queries["dedup_exact_groups"](session, SF_SMOKE)
    __spark_entry__.entry(session)
    lines = [ln for ln in capsys.readouterr().err.splitlines() if "codegen.cache.maxEntries" in ln]
    assert len(lines) == 1 and "is 512" in lines[0] and "181" in lines[0]

    monkeypatch.setattr(__spark_entry__, "CODEGEN_CACHE_ENTRIES", 512)
    __spark_entry__.entry(spark.newSession())
    assert "codegen.cache.maxEntries" not in capsys.readouterr().err

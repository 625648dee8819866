"""The session-conf table and the plan-handle memo, pinned.

``get_spark`` must apply the same SQL confs as ``tune_session`` (a session
built by ``get_spark`` alone once ran with Spark 4's ANSI default on), and
two of them must remove the per-task and per-class fixed costs they were
set for. ``sources.tables`` keeps one store of lazy plan handles keyed by
the dataset path's stat, so an atomically replaced dataset directory gets
a new handle, and refreshes what Spark cached over the old one.
"""

from __future__ import annotations

import gc
import os
import shutil
import weakref

from data_ingestion_bra_spark.plans.registry import get_queries
from data_ingestion_bra_spark.session import get_spark
from data_ingestion_bra_spark.sources.tables import _STORE, load_table
from tests.conftest import SF_SMOKE, job_ids, sql_conf

INFER_FILTERS = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
CHANGE_CACHED_PARTITIONING = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
#: the LLM-data headline queries (bench.py HEADLINE, perfbench llm_curation)
LLM_CURATION = (
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_quality_scores",
    "text_fingerprints",
    "curation_pipeline",
    "text_chunks_sliding",
)


def test_get_spark_applies_the_session_conf_table(spark):
    # Start from Spark's own defaults for the runtime confs, then ask
    # get_spark for the (existing) session: it must come back with the
    # engine's values.
    with sql_conf(
        spark,
        {
            "spark.sql.ansi.enabled": "true",
            "spark.sql.optimizer.excludedRules": "",
            CHANGE_CACHED_PARTITIONING: "false",
        },
    ):
        s = get_spark("tests", cpus="8", shuffle_partitions="8")
        assert s.conf.get("spark.sql.ansi.enabled") == "false"
        assert INFER_FILTERS in s.conf.get("spark.sql.optimizer.excludedRules")
        assert s.conf.get(CHANGE_CACHED_PARTITIONING) == "true"
        assert s.sql("SELECT CAST('x' AS INT) AS v").first()["v"] is None
    # static: set on the builder that created the shared session
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tasks(spark, jobs: list[int]) -> int:
    """Tasks the stages of ``jobs`` ran; a stage whose shuffle output was
    reused is skipped and ran none."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    n = 0
    for sid in {s for j in jobs for s in tracker.getJobInfo(j).stageIds}:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - a skipped stage was never submitted
            continue
        if sd.status().toString() == "COMPLETE":
            n += sd.numCompleteTasks()
    return n


def test_persisted_signatures_are_read_back_coalesced(spark):
    """``dedup_minhash_lsh`` persists its signature set and reads it on both
    sides of the banded self-join. With the cached plan's output
    partitioning frozen, each read ran one task per shuffle partition; AQE
    now coalesces it like any shuffle, so a run over the cached set is a
    few tasks."""
    build = get_queries()["dedup_minhash_lsh"]
    _noop(build(spark, SF_SMOKE))
    with job_ids(spark, "test-minhash-cached-sig") as jobs:
        _noop(build(spark, SF_SMOKE))
    assert _tasks(spark, jobs) <= 4


def test_second_llm_curation_pass_compiles_no_class(spark):
    """The codegen cache holds the 9 llm_curation queries' classes: a second
    pass over them compiles nothing with Janino."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    queries = get_queries()
    for name in LLM_CURATION:
        _noop(queries[name](spark, SF_SMOKE))
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    for name in LLM_CURATION:
        _noop(queries[name](spark, SF_SMOKE))
    assert codegen.METRIC_COMPILATION_TIME().getCount() == before


def _write_documents(spark, path: str, n: int) -> None:
    tmp = path + ".tmp"
    spark.range(n).withColumnRenamed("id", "doc_id").write.parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def test_load_table_memo_follows_dataset_replace(spark, tmp_path):
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    _write_documents(spark, path, 3)
    first = load_table(spark, sf_dir, "documents")
    assert load_table(spark, sf_dir, "documents") is first
    first = weakref.ref(first)

    _write_documents(spark, path, 5)
    second = load_table(spark, sf_dir, "documents")
    gc.collect()
    assert first() is None
    assert second.count() == 5
    st = os.stat(path)
    assert [(slot, hit[0]) for slot, hit in _STORE[spark].items() if path in slot] == [
        (("table", path), (st.st_mtime_ns, st.st_size))
    ]
    assert load_table(spark, sf_dir, "documents") is second
    assert spark.newSession() not in _STORE


def test_persist_over_a_replaced_dataset_reads_the_new_rows(spark, tmp_path):
    """Spark's CacheManager matches a persisted plan by its shape and
    dataset path, not by the files' version: a persist made over a replaced
    dataset reads the new rows only because the first read of the new
    version refreshed the data cached over the old one."""
    sf_dir = str(tmp_path)
    path = os.path.join(sf_dir, "documents.parquet")
    _write_documents(spark, path, 3)
    before = load_table(spark, sf_dir, "documents").filter("doc_id >= 0").persist()
    after = None
    try:
        assert before.count() == 3
        _write_documents(spark, path, 5)
        after = load_table(spark, sf_dir, "documents").filter("doc_id >= 0").persist()
        assert after.count() == 5
    finally:
        for df in (before, after):
            if df is not None:
                df.unpersist()


def test_load_table_events_ts_is_a_timestamp(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    # the committed fixtures store MICROS (read as timestamp_ntz); a NANOS
    # file reads as a long and load_table truncates it to micros
    assert dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"] == "timestamp_ntz"
    (tmp_path / "events.parquet").mkdir()
    ns = [1_700_000_000_123_456_789, 1_700_000_001_000_000_999]
    pq.write_table(
        pa.table({"event_id": [1, 2], "ts": pa.array(ns, pa.timestamp("ns"))}),
        tmp_path / "events.parquet" / "part-0.parquet",
    )
    ev = load_table(spark, str(tmp_path), "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = [r[0] for r in ev.orderBy("event_id").selectExpr("unix_micros(ts)").collect()]
    assert got == [n // 1000 for n in ns]

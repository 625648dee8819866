from __future__ import annotations

import json
import os
from datetime import date, datetime

from data_ingestion_bra_spark.manifest import (
    count_file_lines,
    observe_schema_stats,
    write_manifest_from_file,
    write_metadata_from_df,
)
from data_ingestion_bra_spark.sinks.writer import today_yyyymmdd, write_partitioned
from tests.conftest import SF_SMOKE


def test_today_yyyymmdd_injectable():
    assert today_yyyymmdd(date(2025, 10, 20)) == "20251020"


def test_partitioned_parquet_write_layout(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    part_dir = write_partitioned(
        df, str(tmp_path), "tb_x", partition_value="20251020", fmt="parquet"
    )
    assert part_dir.endswith("tb_x/anomesdia=20251020")
    assert os.path.isdir(part_dir)
    back = spark.read.parquet(str(tmp_path / "tb_x"))
    assert back.count() == 2
    assert "anomesdia" in back.columns  # partition discovery


def test_second_day_overwrite_keeps_prior_partitions(spark, tmp_path):
    """Daily-snapshot accumulation: overwriting day-2 must NOT truncate the
    table root — only the incoming partition is replaced (dynamic partition
    overwrite). This is the data-loss path static overwrite would hit on the
    second daily ingest run."""
    d1 = spark.createDataFrame([(1, "a")], "k bigint, v string")
    d2 = spark.createDataFrame([(2, "b"), (3, "c")], "k bigint, v string")
    write_partitioned(d1, str(tmp_path), "tb_days", partition_value="20251020")
    write_partitioned(d2, str(tmp_path), "tb_days", partition_value="20251021")
    back = spark.read.parquet(str(tmp_path / "tb_days"))
    by_day = {
        str(r["anomesdia"]): r["n"]
        for r in back.groupBy("anomesdia").count().withColumnRenamed("count", "n").collect()
    }
    assert by_day == {"20251020": 1, "20251021": 2}  # day-1 survives
    # re-running day-2 replaces ONLY day-2 (no duplicate accumulation)
    write_partitioned(d2, str(tmp_path), "tb_days", partition_value="20251021")
    assert spark.read.parquet(str(tmp_path / "tb_days")).count() == 3


def test_partitioned_csv_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string")
    part_dir = write_partitioned(
        df, str(tmp_path), "tb_y", partition_value="20251020", fmt="csv", single_file=True
    )
    data_files = [f for f in os.listdir(part_dir) if not f.startswith(("_", "."))]
    assert len(data_files) == 1  # reference writes exactly one file/partition
    text = open(os.path.join(part_dir, data_files[0])).read()
    assert text.splitlines()[0] == "k;v"


def test_manifest_from_df_fields(spark, tmp_path):
    df = spark.createDataFrame([(1, None), (2, "b"), (3, "c")], "k bigint, v string")
    observed, stats = observe_schema_stats(df)
    part_dir = write_partitioned(
        observed, str(tmp_path), "tb_m", partition_value="20251020", fmt="csv", single_file=True
    )
    mpath = write_metadata_from_df(
        df,
        part_dir,
        stats,
        dataset="tb_m",
        origem="unit-test",
        delimitador=";",
        encoding="utf-8",
        partition_key="anomesdia",
        partition_value="20251020",
        producer="tests",
        now=datetime(2025, 10, 20, 17, 45, 39),
    )
    m = json.load(open(mpath))
    assert m["core"]["gerado_em"] == "2025-10-20T17:45:39"
    assert m["core"]["tamanho_bytes"] > 0
    assert len(m["core"]["hash_md5"]) == 32
    assert "\\" not in m["core"]["diretorio"]  # normalized separators
    # Flat DatasetInfo keys, exactly as the reference serializes them
    # (app/utils/metadata.py:62-72)
    assert m["dataset"]["dataset"] == "tb_m"
    assert m["dataset"]["partition_key"] == "anomesdia"
    assert m["dataset"]["partition_value"] == "20251020"
    assert m["schema_stats"]["linhas"] == 3
    assert m["schema_stats"]["nulos"] == {"k": 0, "v": 1}
    assert m["schema_stats"]["dtypes"] == {"k": "bigint", "v": "string"}


def test_manifest_multipart_hash(spark, tmp_path):
    df = spark.createDataFrame([(i,) for i in range(100)], "k bigint").repartition(4)
    observed, stats = observe_schema_stats(df)
    part_dir = write_partitioned(observed, str(tmp_path), "tb_p", partition_value="20251020")
    mpath = write_metadata_from_df(df, part_dir, stats, dataset="tb_p")
    m = json.load(open(mpath))
    assert len(m["core"]["partes"]) >= 2  # multi-part recorded per part
    assert all(len(p["hash_md5"]) == 32 for p in m["core"]["partes"])


def test_manifest_from_file_and_line_count(tmp_path):
    p = tmp_path / "f.txt"
    p.write_text("a;b\n1;2\n3;4\n", encoding="utf-8")
    assert count_file_lines(str(p)) == 3
    mpath = write_manifest_from_file(str(p), dataset="f", now=datetime(2025, 1, 1))
    m = json.load(open(mpath))
    assert m["schema_stats"]["colunas"] == ["a", "b"]
    assert m["schema_stats"]["linhas"] == 2  # header subtracted
    assert m["dataset"]["dataset"] == "f"


def test_line_count_without_trailing_newline(tmp_path):
    """The reference iterates lines (``for _ in f``), so a final line without
    a trailing newline still counts — byte-level \\n counting would miss it."""
    p = tmp_path / "g.txt"
    p.write_text("a;b\n1;2\n3;4", encoding="utf-8")  # no trailing \n
    assert count_file_lines(str(p)) == 3
    m = json.load(open(write_manifest_from_file(str(p), dataset="g")))
    assert m["schema_stats"]["linhas"] == 2
    assert count_file_lines(str(tmp_path / "g.txt")) == 3
    e = tmp_path / "empty.txt"
    e.write_text("", encoding="utf-8")
    assert count_file_lines(str(e)) == 0


def test_manifest_of_empty_write_reports_zeros(spark, tmp_path):
    """An empty write observes count 0 and NULL sums (sum over zero rows):
    the manifest must report 0 nulls per column, not crash on int(None)."""
    df = spark.createDataFrame([], "k bigint, v string")
    observed, stats = observe_schema_stats(df)
    part_dir = write_partitioned(
        observed, str(tmp_path), "tb_e", partition_value="20251020", fmt="csv", single_file=True
    )
    m = json.load(open(write_metadata_from_df(df, part_dir, stats, dataset="tb_e")))
    assert m["schema_stats"]["linhas"] == 0
    assert m["schema_stats"]["nulos"] == {"k": 0, "v": 0}


def test_observed_write_stats_match_catalog_aggregate(spark, tmp_path):
    """The stats a governed write observes must equal the catalog's one-job
    aggregate ``manifest_null_counts_documents`` (itself checked against
    its DuckDB twin) — same numbers, no second scan."""
    from data_ingestion_bra_spark.plans.relational import manifest_null_counts_documents
    from data_ingestion_bra_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    observed, stats = observe_schema_stats(docs)
    part_dir = write_partitioned(observed, str(tmp_path), "tb_docs", partition_value="20251020")
    got = json.load(open(write_metadata_from_df(docs, part_dir, stats, dataset="tb_docs")))
    want = manifest_null_counts_documents(spark, SF_SMOKE).first().asDict()
    assert got["schema_stats"]["linhas"] == want["linhas"]
    assert got["schema_stats"]["nulos"] == {c: want[f"nulos_{c}"] for c in docs.columns}
    assert spark.read.parquet(part_dir).count() == want["linhas"]

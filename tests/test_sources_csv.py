"""``sources.csv.read_csv_asserted`` header handling: with ``columns=None``
and ``header=True`` Spark takes the names from the header row in one one-row
job, and every column stays a string."""

from __future__ import annotations

import pytest

from data_ingestion_bra_spark.sources.csv import read_csv_asserted
from tests.conftest import job_ids


@pytest.mark.parametrize(
    "head, names",
    [
        ("\ufeffAno;UF;IBC", ["Ano", "UF", "IBC"]),  # UTF-8 BOM dropped
        ("Código Município;Município;UF", ["Código Município", "Município", "UF"]),
        ("a;b;a", ["a0", "b", "a2"]),  # duplicates get their position
        ("a;b;A", ["a0", "b", "A2"]),  # ... compared case-insensitively
        ("a;;c", ["a", "_c1", "c"]),  # empty cell → _c<position>
    ],
)
def test_header_names(spark, tmp_path, head, names):
    path = tmp_path / "in.csv"
    path.write_text(f"{head}\n0101;2,5;x\n", encoding="utf-8")
    df = read_csv_asserted(spark, str(path))
    assert df.columns == names
    assert {t for _, t in df.dtypes} == {"string"}
    assert [tuple(r) for r in df.collect()] == [("0101", "2,5", "x")]


def test_header_read_is_one_job(spark, tmp_path):
    path = tmp_path / "in.csv"
    path.write_text("a;b\n" + "".join(f"{i};x\n" for i in range(100)), encoding="utf-8")
    with job_ids(spark, "test-csv-header-jobs") as jobs:
        read_csv_asserted(spark, str(path))
    assert len(jobs) == 1


def test_no_header_names_by_position(spark, tmp_path):
    path = tmp_path / "in.csv"
    path.write_text("a;b\n1;2\n", encoding="utf-8")
    with job_ids(spark, "test-csv-no-header-jobs") as jobs:
        df = read_csv_asserted(spark, str(path), header=False)
    assert len(jobs) == 1
    assert df.columns == ["_c0", "_c1"]
    assert {t for _, t in df.dtypes} == {"string"}
    assert [tuple(r) for r in df.collect()] == [("a", "b"), ("1", "2")]

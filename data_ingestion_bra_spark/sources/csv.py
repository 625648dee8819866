"""CSV source with asserted (never inferred) schema — reference S5
(app/ingestao_csv.py:38-44).

Reads every column as string — the Spark equivalent of pandas ``dtype=str``
— then the cast layer applies the declared types. Names come from the caller,
the header row or the position (``_c<i>``); types are never inferred (no
inference scan). BOM handled by Spark's UTF-8 reader.

``multi_line=True`` is required for quoted fields with embedded newlines
(reference posts.txt: 41 physical lines, 10 records). NOTE: multiLine
disables input splitting — each file is read by one task. Fine for
bronze-landing small files; at 100 TB keep documents in Parquet and reserve
multiLine CSV for ingest edges (SURVEY §7.4.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_bra_spark.schema import all_string_schema


def read_csv_asserted(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
    *,
    sep: str = ";",
    encoding: str = "UTF-8",
    header: bool = True,
    multi_line: bool = False,
    quote: str = '"',
) -> DataFrame:
    """Read CSV with all-string schema.

    With ``columns`` given, that list is the schema. With ``columns=None``
    and ``header=True``, Spark takes the names from the header row in one
    one-row job; ``inferSchema`` stays off, so every column is a string.
    Header cases (pinned in ``tests/test_sources_csv.py``):

    - a UTF-8 BOM before the first name is dropped;
    - accented names are kept as written (``"Código Município"``);
    - duplicate names (case-insensitive) get their 0-based position
      appended: ``a;b;a`` → ``a0, b, a2``;
    - an empty header cell is named ``_c<position>``: ``a;;c`` → ``a, _c1, c``.

    With ``columns=None`` and ``header=False``, the same one-row job counts
    the columns, which are named ``_c0`` … ``_cN``; every row, the first
    included, is data.
    """
    reader = spark.read.options(
        sep=sep,
        encoding=encoding,
        header=header,
        multiLine=multi_line,
        quote=quote,
    )
    if columns is None:
        return reader.csv(path)
    return reader.schema(all_string_schema(columns)).csv(path)


def normalize_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Header normalization via config rename map (accents/spaces →
    snake_case). Ref: normalize_columns app/ingestao_csv.py:19-20."""
    return df.withColumnsRenamed({k: v for k, v in mapping.items() if k in df.columns})

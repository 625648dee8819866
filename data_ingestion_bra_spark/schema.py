"""Config-JSON → Spark schema bridge.

The reference declares schemas in pipeline config JSON as per-type column
lists (``required_columns`` / ``integer_fields`` / ``string_fields`` /
``float_fields`` — reference app/config/simulacao_api.json:11-24,
app/config/indicadores_municipios.json:23-52). Schema is ASSERTED, never
inferred (read all-string, cast once — reference app/ingestao_csv.py:39);
this module keeps that discipline on Spark.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_ingestion_bra_spark.functions.cleaning import apply_casts
from data_ingestion_bra_spark.validate import check_dtypes, ensure_required_columns


def load_config(path: str) -> dict[str, Any]:
    """Pipeline config loader. Ref: app/ingestao_api.py:21-23."""
    with open(path, encoding="utf-8") as f:
        return json.load(f)


def all_string_schema(columns: list[str]) -> T.StructType:
    """Pre-cast read schema: every column string, nullable — the Spark
    equivalent of pandas ``dtype=str`` (no inference scan, no surprises)."""
    return T.StructType([T.StructField(c, T.StringType(), True) for c in columns])


def cast_and_validate(df: DataFrame, schema_cfg: dict[str, list[str]]) -> DataFrame:
    """The reference's load-bearing sequence: required-columns gate → casts →
    dtype re-validation (app/ingestao_csv.py:50-77). All driver-side except
    the cast expressions themselves (lazy, no job)."""
    ensure_required_columns(df, schema_cfg.get("required_columns", []))
    out = apply_casts(
        df,
        integer_fields=schema_cfg.get("integer_fields"),
        string_fields=schema_cfg.get("string_fields"),
        float_fields=schema_cfg.get("float_fields"),
    )
    check_dtypes(
        out,
        integer_fields=schema_cfg.get("integer_fields"),
        string_fields=schema_cfg.get("string_fields"),
        float_fields=schema_cfg.get("float_fields"),
    )
    return out

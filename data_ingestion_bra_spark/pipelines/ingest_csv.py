"""CSV → bronze ingestion pipeline — reference §3.2 parity
(app/ingestao_csv.py:24-127), config-compatible with
``indicadores_municipios.json`` shape.

Flow: read all-string CSV → normalize column names → required-columns gate →
extra-column warning (kept, permissive evolution) → casts per declared
schema → dtype revalidation → preview → observed partitioned write → manifest.

The source is scanned once, by the write, whose job also carries the
manifest's ``linhas``/``nulos``. The other jobs are one-task reads of a file
head: the header row, and the preview's first rows of the first split (Spark
reads on only if that split holds fewer rows than the preview shows). The
preview is the reference's unsorted ``head(10)`` (SURVEY §2.6 O3), which is
the file's first rows in file order when ``csv.path`` names one file, as the
reference's does. For a directory or glob Spark orders the splits largest
file first, so the preview is the head of the largest file.

Exit codes (reference V5, app/ingestao_csv.py:130-138): 1 generic,
3 schema error; FileNotFoundError propagates as 1.
"""

from __future__ import annotations

import sys
from datetime import date
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from data_ingestion_bra_spark.manifest import observe_schema_stats, write_metadata_from_df
from data_ingestion_bra_spark.schema import cast_and_validate, load_config
from data_ingestion_bra_spark.sinks.writer import today_yyyymmdd, write_partitioned
from data_ingestion_bra_spark.sources.csv import normalize_columns, read_csv_asserted
from data_ingestion_bra_spark.validate import (
    SchemaError,
    ensure_preview_columns,
    warn_extra_columns,
)

# Reference hardcodes its display columns (app/ingestao_csv.py:80-88);
# here they're config-driven (output.preview_columns) with a safe default
# of the first three declared columns.
DEFAULT_PREVIEW_N = 3


def run(
    spark: SparkSession,
    config_path: str,
    *,
    run_date: date | None = None,
    fmt: str = "csv",
    single_file: bool = True,
    show_preview: bool = True,
) -> dict[str, Any]:
    cfg = load_config(config_path)
    csv_cfg = cfg["csv"]
    raw = read_csv_asserted(
        spark,
        csv_cfg["path"],
        columns=None,  # names from the header row, all-string types
        sep=csv_cfg.get("delimiter", ";"),
        encoding=csv_cfg.get("encoding", "utf-8"),
        header=csv_cfg.get("has_header", True),
    )
    df = normalize_columns(raw, cfg.get("columns_normalization", {}))
    warn_extra_columns(df, cfg["schema"]["required_columns"])
    df = cast_and_validate(df, cfg["schema"])

    if show_preview:
        preview_cols = cfg.get("output", {}).get(
            "preview_columns", cfg["schema"]["required_columns"][:DEFAULT_PREVIEW_N]
        )
        ensure_preview_columns(df, preview_cols)
        # the reference's head(10), no sort: one CollectLimit task over the
        # first split (file order for a single-file path, see above)
        df.select(*preview_cols).show(10, truncate=False)

    out = cfg["output"]
    pv = today_yyyymmdd(run_date)
    # observed AFTER the preview: an Observation reports the first action only
    observed, stats = observe_schema_stats(df)
    part_dir = write_partitioned(
        observed,
        out["base_dir"],
        out["table"],
        partition_key=out.get("partition_key", "anomesdia"),
        partition_value=pv,
        fmt=fmt,
        delimiter=csv_cfg.get("delimiter", ";"),
        single_file=single_file,
    )
    manifest_path = write_metadata_from_df(
        df,
        part_dir,
        stats,
        dataset=out["table"],
        origem=csv_cfg["path"],
        delimitador=csv_cfg.get("delimiter", ";"),
        encoding=csv_cfg.get("encoding", "utf-8"),
        partition_key=out.get("partition_key", "anomesdia"),
        partition_value=pv,
        producer="data_ingestion_bra_spark.pipelines.ingest_csv",
    )
    return {"rows": stats.get["linhas"], "partition_dir": part_dir, "manifest": manifest_path, "df": df}


def main(argv: list[str]) -> int:
    from data_ingestion_bra_spark.session import get_spark

    config_path = argv[1] if len(argv) > 1 else "configs/indicadores_municipios.json"
    spark = get_spark("ingest-csv")
    try:
        run(spark, config_path)
        return 0
    except SchemaError as exc:
        print(f"schema error: {exc}", file=sys.stderr)
        return 3
    except Exception as exc:  # noqa: BLE001 — pipeline CLI boundary
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))

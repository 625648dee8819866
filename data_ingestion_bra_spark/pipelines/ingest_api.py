"""REST API → bronze ingestion pipeline — reference §3.1 parity
(app/ingestao_api.py:133-244), config-compatible with
``simulacao_api.json`` shape.

Flow: fetch /users → cast+validate → filter by configured target name →
extract user_id → fetch /posts?userId=N (server-side pushdown) →
cast+validate → display → partitioned writes (observing stats) → manifests.

The two-step users→posts flow is the reference's manual semi-join
(SURVEY §2.3); the query-surface twin is ``flagship_customer_orders``
(broadcast hash join). Exit codes: 2 target user missing, 3 schema error,
1 other (app/ingestao_api.py:246-255).
"""

from __future__ import annotations

import sys
from datetime import date
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_ingestion_bra_spark.manifest import observe_schema_stats, write_metadata_from_df
from data_ingestion_bra_spark.schema import cast_and_validate, load_config
from data_ingestion_bra_spark.sinks.writer import today_yyyymmdd, write_partitioned
from data_ingestion_bra_spark.sources.rest import fetch_json_df
from data_ingestion_bra_spark.validate import SchemaError

USERS_FIELD_MAP = {"id": "user_id", "name": "nome", "username": "usuario", "email": "email"}
POSTS_FIELD_MAP = {"userId": "user_id", "id": "post_id", "title": "titulo", "body": "conteudo"}


class TargetUserNotFound(Exception):
    pass


def run(
    spark: SparkSession,
    config_path: str,
    *,
    run_date: date | None = None,
    fmt: str = "csv",
    single_file: bool = True,
    show_preview: bool = True,
    http_session=None,
) -> dict[str, Any]:
    cfg = load_config(config_path)
    api = cfg["api"]
    timeout = (5, float(api.get("timeout_seconds", 30)))
    retries = int(api.get("retries", 2))

    users = fetch_json_df(
        spark,
        api["base_url"],
        api["endpoints"]["users"],
        field_map=USERS_FIELD_MAP,
        timeout=timeout,
        retries=retries,
        session=http_session,
    )
    users = cast_and_validate(users, cfg["schema"]["users"])

    target = cfg["logic"]["user_target"]
    # case-sensitive equality, like the reference (app/ingestao_api.py:162)
    row = users.filter(F.col("nome") == F.lit(target)).select("user_id").head(1)
    if not row:
        raise TargetUserNotFound(target)
    user_id = int(row[0]["user_id"])

    posts = fetch_json_df(
        spark,
        api["base_url"],
        api["endpoints"]["posts"],
        field_map=POSTS_FIELD_MAP,
        params={"userId": user_id},  # server-side predicate pushdown (S2)
        timeout=timeout,
        retries=retries,
        session=http_session,
    )
    posts = cast_and_validate(posts, cfg["schema"]["posts"])

    if show_preview:
        users.orderBy("nome", "usuario").select("nome", "usuario", "email").show(truncate=False)
        posts.orderBy("post_id").select("post_id", "titulo").show(truncate=False)

    out = cfg["output"]
    pv = today_yyyymmdd(run_date)
    results: dict[str, Any] = {"user_id": user_id}
    for key, df in (("users", users), ("posts", posts)):
        observed, stats = observe_schema_stats(df)
        part_dir = write_partitioned(
            observed,
            out["base_dir"],
            out[f"{key}_table"],
            partition_key=out.get("partition_key", "anomesdia"),
            partition_value=pv,
            fmt=fmt,
            delimiter=out.get("csv_delimiter", ";"),
            single_file=single_file,
        )
        manifest = write_metadata_from_df(
            df,
            part_dir,
            stats,
            dataset=out[f"{key}_table"],
            origem=api["base_url"],
            endpoint=api["endpoints"][key],
            delimitador=out.get("csv_delimiter", ";"),
            encoding=out.get("encoding", "utf-8"),
            partition_key=out.get("partition_key", "anomesdia"),
            partition_value=pv,
            producer="data_ingestion_bra_spark.pipelines.ingest_api",
        )
        results[key] = {"partition_dir": part_dir, "manifest": manifest}
    return results


def main(argv: list[str]) -> int:
    from data_ingestion_bra_spark.session import get_spark

    config_path = argv[1] if len(argv) > 1 else "configs/simulacao_api.json"
    spark = get_spark("ingest-api")
    try:
        run(spark, config_path)
        return 0
    except TargetUserNotFound as exc:
        print(f"target user not found: {exc}", file=sys.stderr)
        return 2
    except SchemaError as exc:
        print(f"schema error: {exc}", file=sys.stderr)
        return 3
    except Exception as exc:  # noqa: BLE001 — pipeline CLI boundary
        print(f"error: {exc}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))

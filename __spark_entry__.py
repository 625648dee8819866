"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke), ``queries()``
exposes one builder per implemented operator (SURVEY.md §2 + the LLM-data
tier), ``oracle_sql()`` the DuckDB twins. Registry lives in
``data_ingestion_bra_spark.plans``.

Both run on the caller's session after ``tune_session``, through the
registry's prepared builders (``plans.registry.get_queries``): a query
called again on the same session over unchanged inputs returns the
DataFrame it built before, so repeated runs pay only optimization,
planning and execution. Replacing a dataset under ``sf_dir`` (atomically,
``os.replace``), changing a SQL conf or ``SPARK_GRAFT_IVF_CACHE`` rebuilds.

``spark.sql.codegen.cache.maxEntries`` is static, so ``tune_session``
cannot raise it on a session the caller built. Once per session, both
print one stderr line when it is below the engine's 512.
"""

from __future__ import annotations

import sys
import weakref
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent)
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from data_ingestion_bra_spark.plans.registry import get_oracle_sql, get_queries
from data_ingestion_bra_spark.session import CODEGEN_CACHE_ENTRIES, tune_session

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: sessions whose codegen cache size was already checked
_CHECKED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def _prepare(spark: SparkSession) -> None:
    tune_session(spark)
    if spark in _CHECKED:
        return
    _CHECKED.add(spark)
    cap = int(spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"))
    if cap < CODEGEN_CACHE_ENTRIES:
        print(
            f"spark-graft: spark.sql.codegen.cache.maxEntries is {cap}, below the engine's "
            f"{CODEGEN_CACHE_ENTRIES}; at 100 the 20-query headline recompiled 181 classes "
            "on every pass (PERF_small_relations.json). It is static: set it when building "
            "the session.",
            file=sys.stderr,
        )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _prepare(spark)
    return get_queries()["flagship_customer_orders"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions)."""
    raw = get_queries()

    def _wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _prepare(spark)
            return fn(spark, sf_dir)

        return run

    return {name: _wrap(fn) for name, fn in raw.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; keys missing here get a rows-only check by design
    (engine-specific sketches / non-SQL-expressible ops)."""
    return get_oracle_sql()

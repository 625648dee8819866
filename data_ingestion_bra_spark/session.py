"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration keys are the ones that matter on a 1000-executor cluster:
AQE (runtime shuffle coalescing + skew-join splitting), a shuffle partition
count sized to the data, and Arrow for any pandas interchange.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"
#: ``spark.sql.codegen.cache.maxEntries`` that ``get_spark`` sets (see there)
CODEGEN_CACHE_ENTRIES = 512


def get_spark(
    app_name: str = "data-ingestion-bra-spark",
    *,
    cpus: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local[N] means the driver JVM IS the whole cluster: executor heap,
        # broadcast relations, shuffle buffers, and cached partitions all
        # live here. 8g OOM'd the round-6 official bench (sf10 60M-row
        # replica + 8.2M-row persisted shingle set + 289 MB broadcast on a
        # 128 GiB box). 32g is still conservative for the host; the env var
        # keeps it overridable for small boxes/CI.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        # Static, and JVM-wide: the CodeGenerator cache reads it once, on
        # first use. Spark's default (100 entries) is smaller than one
        # headline pass, so every pass recompiled the classes evicted by
        # the pass before it with Janino (on the driver and in tasks) and
        # the JIT then recompiled those fresh classes. Measured at sf0.1:
        # bench.py's 20-query headline compiles 247 distinct classes and
        # the 9 llm_curation queries 143; with the cache unbounded a second
        # pass compiles none. 512 keeps the headline with headroom (the
        # Guava cache evicts per segment, before the total reaches the cap)
        # and bounds the classes it pins: the whole catalog compiles ~2,400
        # at ~55 KB of Metaspace each, so 512 holds at most ~28 MB.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return tune_session(builder.getOrCreate())


def size_shuffle_partitions(
    spark: SparkSession,
    input_bytes: int,
    *,
    target_partition_bytes: int = 128 * 1024 * 1024,
    floor: int = 32,
    ceiling: int = 200_000,
) -> int:
    """Set ``spark.sql.shuffle.partitions`` from the workload's input size.

    The static partition count is the AQE *upper bound*: AQE coalesces
    small post-shuffle partitions downward at runtime but never splits a
    too-coarse one (except skew-join), so the right discipline at scale is
    to size GENEROUSLY from data volume — bytes / target-partition-size,
    clamped — and let coalescing pull it back. 100 TB / 128 MB ≈ 800k raw;
    the ceiling keeps task-launch overhead sane, and partial aggregation
    means most shuffles move far fewer bytes than the input anyway.
    """
    n = max(floor, min(ceiling, input_bytes // target_partition_bytes or floor))
    spark.conf.set("spark.sql.shuffle.partitions", str(int(n)))
    return int(n)


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the engine's SQL session confs; ``get_spark`` ends here too.

    The driver hands us its own SparkSession; make sure the confs that affect
    query *semantics* (time zone, ANSI off for null-coercing casts — SURVEY
    §2.8 C1) and runtime adaptivity are set.
    """
    for k, v in {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # A persisted relation keeps the output partitioning of its cached
        # plan: off (Spark's default), a 5k-row signature set persisted
        # under hashpartitioning(doc, 32) was read back in 32 tasks on every
        # use. On, AQE coalesces the cached plan's final shuffle like any
        # other (dedup_minhash_lsh at sf0.01: 64 -> 2 tasks per run).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # dynamic: INSERT OVERWRITE replaces only the partitions present in
        # the incoming data. Spark's default (static) truncates the WHOLE
        # table root first — a second daily ingest run would delete every
        # prior anomesdia partition.
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # InferFiltersFromGenerate duplicates the EXPLODED expression into a
        # pre-Generate filter (and, via pushdown, into scan DataFilters).
        # Every exploded array in this catalog is a computed expression
        # (split/transform/regex chains), so the "optimization" re-evaluates
        # the whole chain 2-3x per row — measured: text_winnowing_overlap
        # 33.1 -> 3.9 s and text_heavy_hitters 5.3 -> 2.0 s at sf0.1 with
        # the rule excluded. Pure heuristic, zero semantic effect (explode
        # drops empty arrays regardless).
        "spark.sql.optimizer.excludedRules": (
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
        ),
    }.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf may be static in some deployments; defaults are fine
    return spark

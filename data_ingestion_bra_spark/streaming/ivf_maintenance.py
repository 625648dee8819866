"""Streaming IVF index maintenance: the incremental leg of the
train-once / serve-many ANN story (``operators/similarity.py``).

A persisted IVF index (centroids + inverted lists) goes stale two ways as
vectors keep arriving: the LISTS miss the new vectors (freshness), and the
CENTROIDS stop describing the distribution (drift). This module closes
both inside ``foreachBatch``:

- **append**: each micro-batch is assigned to the FROZEN persisted
  centroids with ``assign_cells`` (the exact batch operator — broadcast
  centroids, max_by argmax, no shuffle of anything but the batch) and the
  (vid, cell, v) rows land as ONE ACID txlog commit keyed
  ``<query_id>:<epoch>`` (``sinks/txlog.py``, the same transactional-writer
  pattern as ``bronze_ingest.acid_batch_writer``). foreachBatch is
  at-least-once — a replayed epoch after restart would otherwise append the
  same vectors again, and duplicated vids become perfect cosine-1.0
  duplicates that flip ``semdedup_prune`` keep decisions — so the handler
  no-ops on an already-committed key before doing ANY work. Read the lists
  back with ``read_lists`` (snapshot-isolated), not a raw parquet scan.
- **drift flag**: the batch's mean winner-centroid cosine (``sim`` e4) is
  compared against the index's own baseline (the mean assignment sim of
  the EXISTING lists, computed once at maintenance start). A batch whose
  mean drops more than ``drift_threshold_e4`` below baseline sets
  ``drift=true`` in the maintenance log — the retrain trigger. Mean
  centroid similarity is the standard k-means inertia proxy (lower sim ==
  higher quantization error == centroids no longer fit the data).

The maintenance log is JSON-lines (one record per epoch: counts, mean sim,
drift flag) — control-plane metadata like the manifest sidecars, never
data-plane state. It is written AFTER the commit publishes, so an epoch
whose writer dies between commit and log line is skipped on replay (data
exactly-once; metadata at-most-once per epoch — acceptable for a retrain
trigger, documented here). At 100 TB the same handler runs unchanged: the
batch is the only thing scored, the index directory is object-store
parquet under a KB-scale commit log, and retraining remains an offline
decision driven by the drift flags.
"""

from __future__ import annotations

import json
import os
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_ingestion_bra_spark.operators.similarity import (
    assign_cells,
    cosine_e4_sql,
    idot_sql,
    norm_sql,
)


def index_mean_sim_e4(lists: DataFrame, centroids: DataFrame) -> int:
    """Baseline index quality: mean winner-centroid cosine (e4) over the
    persisted inverted lists. One broadcast join + one scalar agg — the
    lists carry their assigned cell, so no argmax re-runs."""
    c = centroids.selectExpr("cell", "cvec as cv", f"{norm_sql('cvec')} as cn")
    sim = cosine_e4_sql(idot_sql("v", "cv"), "vn", "cn")
    row = (
        lists.selectExpr("cell", "v", f"{norm_sql('v')} as vn")
        .join(F.broadcast(c), "cell")
        .agg(F.expr(f"floor(avg({sim}))").cast("bigint").alias("mean_sim_e4"))
        .first()
    )
    return int(row["mean_sim_e4"])


def ivf_maintenance_writer(
    centroids: DataFrame,
    lists_dir: str,
    log_path: str,
    *,
    baseline_sim_e4: int,
    drift_threshold_e4: int = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "ivf-maintenance",
):
    """Returns the ``foreachBatch`` handler. ``centroids`` must be the
    PERSISTED index centroids (``load_or_build_ivf_index``) — maintenance
    never retrains, it only measures how badly a retrain is needed.

    Exactly-once: the lists append is a txlog commit keyed
    ``<query_id>:<epoch>``; a replayed epoch no-ops before computing
    anything. ``assigned`` is persisted so the stats action and the commit
    write share one assignment computation."""
    from data_ingestion_bra_spark.sinks import txlog

    def handle(batch_df: DataFrame, epoch_id: int) -> None:
        key = f"{query_id}:{int(epoch_id)}"
        if txlog.committed_version(lists_dir, key) is not None:
            return  # replayed epoch: this batch's lists already committed
        if batch_df.isEmpty():
            return
        assigned = assign_cells(
            batch_df,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            n_probe=1,
            # a micro-batch is small; the corpus-path repartition would be
            # pure overhead here (round-5 advice already gates it, this is
            # the explicit streaming case)
            spread=False,
            include_sim=True,
        ).persist()
        try:
            stats = assigned.agg(
                F.count(F.lit(1)).alias("n"),
                F.floor(F.avg("sim")).cast("bigint").alias("mean_sim_e4"),
            ).first()
            txlog.commit_append(
                assigned.select("vid", "cell", "v"),
                lists_dir,
                meta={"epoch": int(epoch_id)},
                idempotency_key=key,
            )
        finally:
            assigned.unpersist()
        mean_sim = int(stats["mean_sim_e4"])
        rec = {
            "epoch": int(epoch_id),
            "n_vectors": int(stats["n"]),
            "mean_sim_e4": mean_sim,
            "baseline_sim_e4": int(baseline_sim_e4),
            "drift": bool(mean_sim < baseline_sim_e4 - drift_threshold_e4),
        }
        with open(log_path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    return handle


def read_lists(spark, lists_dir: str) -> DataFrame:
    """Snapshot-isolated read of the maintained inverted lists. The lists
    directory is a txlog table, not a bare parquet dir — a raw
    ``spark.read.parquet`` would also pick up any crashed writer's staged
    (uncommitted) files."""
    from data_ingestion_bra_spark.sinks import txlog

    return txlog.read_snapshot(spark, lists_dir)


def start_ivf_maintenance(
    vectors_stream: DataFrame,
    centroids: DataFrame,
    lists_dir: str,
    *,
    checkpoint_dir: str,
    log_path: str,
    baseline_sim_e4: int,
    drift_threshold_e4: int = 500,
    available_now: bool = True,
    **writer_kwargs,
):
    """Start the maintenance stream over a vector source (same schema as
    the embeddings table). ``query_id`` (via writer_kwargs) defaults to a
    CHECKPOINT-scoped id — see ``txlog.checkpoint_scoped_query_id`` for
    why a constant id loses data across a checkpoint reset."""
    from data_ingestion_bra_spark.sinks import txlog as _txlog

    os.makedirs(Path(log_path).parent, exist_ok=True)
    writer_kwargs.setdefault(
        "query_id",
        _txlog.checkpoint_scoped_query_id("ivf-maintenance", checkpoint_dir),
    )
    writer = vectors_stream.writeStream.foreachBatch(
        ivf_maintenance_writer(
            centroids,
            lists_dir,
            log_path,
            baseline_sim_e4=baseline_sim_e4,
            drift_threshold_e4=drift_threshold_e4,
            **writer_kwargs,
        )
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_maintenance_log(log_path: str) -> list[dict]:
    if not os.path.exists(log_path):
        return []
    with open(log_path) as f:
        return [json.loads(line) for line in f if line.strip()]

"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default: the sf0.1 testdata, see ``main``) on
``get_spark``'s local session, writes the full payload to BENCH_FULL.json
and prints ONE compact JSON line as the final stdout line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": "<dir>"}

Each query is timed to full materialization through Spark's noop sink
(every output column computed; a count() materializer let Catalyst prune
computed columns and eliminate cardinality-preserving joins — see
_materialize).

The run is the ordered ``SECTIONS`` table. ``SPARK_GRAFT_SECTIONS`` (comma
list of section names, default all) runs a subset, and
``SPARK_GRAFT_TOTAL_BUDGET_SEC`` bounds the whole run through the measured
gate (``_Gate``): a section, scale point or replica build whose figure in
the previous BENCH_FULL.json's ``gate_seconds`` exceeds the budget left, or
half the total budget, is skipped and named in ``sections_skipped``.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import time
from pathlib import Path
from typing import NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parent))

from data_ingestion_bra_spark.plans.registry import get_queries
from data_ingestion_bra_spark.session import get_spark

_DATA = Path(__file__).resolve().parent / ".data"
_FULL_PATH = Path(__file__).resolve().parent / "BENCH_FULL.json"

# Headline set: one per operator family, weighted toward the shuffling /
# scale-relevant paths (joins, window aggs, sessionization, dedup, ANN).
HEADLINE = [
    "flagship_customer_orders",
    "agg_pricing_summary",
    "join_customers_per_region",
    "join_left_outer_order_counts",
    "count_distinct_customers_per_status",
    "window_top3_orders_per_customer",
    "rollup_status_priority",
    "scalar_cast_suite",
    "events_tumbling_hourly",
    "events_session_windows",
    "events_asof_purchase_click",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "text_quality_scores",
    "text_fingerprints",
    "curation_pipeline",
    "text_chunks_sliding",
]


class Timed(NamedTuple):
    result: object  # what the last timed call returned
    samples: list[float]  # seconds, one per timed call
    median: float  # seconds, rounded to the millisecond
    spread: list[float]  # [min, max] seconds, rounded to the millisecond


def _timed(fn, *, passes: int = 1, warm: bool = False) -> Timed:
    """The one timing primitive: call ``fn()`` ``passes`` times, after one
    untimed call when ``warm``, and time each call. This box shows +/-30-40%
    run-to-run variance (SCALE.md), so a single sample can't tell a plan
    regression from noise; multi-pass figures keep the [min, max] spread
    next to the median."""
    if warm:
        fn()
    samples = []
    for _ in range(passes):
        t0 = time.perf_counter()
        result = fn()
        samples.append(time.perf_counter() - t0)
    return Timed(
        result,
        samples,
        round(statistics.median(samples), 3),
        [round(min(samples), 3), round(max(samples), 3)],
    )


def _timed_each(fn, args: list[tuple]) -> Timed:
    """``_timed`` over one call ``fn(*a)`` per ``a`` in ``args``, in order:
    for steps that each need their own input (an epoch's batch, a fresh
    table)."""
    it = iter(args)
    return _timed(lambda: fn(*next(it)), passes=len(args))


def _materialize(df) -> None:
    """Time-to-noop-sink: materializes EVERY output column. ``count()`` —
    the pre-round-5b materializer — let Catalyst prune computed columns on
    projection-shaped queries and eliminate cardinality-preserving left
    joins outright (text_perplexity_lm's count() optimized to a bare
    parquet row count: 0.45 s "cost" for 500k docs of LM scoring), so
    count-based timings measured the scan, not the operator. Methodology
    recorded in the payload as materialization=noop-write; round-over-round
    headline comparisons cross this boundary and must expect a step up."""
    df.write.format("noop").mode("overwrite").save()


def _pairs(df, a: str = "query_id", b: str = "cand_id") -> set:
    return {(r[a], r[b]) for r in df.collect()}


def _time_queries(spark, queries, sf_dir: str, *, passes: int = 3):
    """Median-of-``passes`` per HEADLINE query, its [min, max] spread, and
    the per-pass totals."""
    # One full UNTIMED pass over the whole headline set first: early queries
    # otherwise measure JVM/JIT/codegen warmup instead of plan cost (round-2
    # evidence: the first headline query clocked slower at sf0.1 than at the
    # 10x replica later in the same process). The warm pass also absorbs
    # one-time index builds (IVF centroid training persists its artifact
    # here), so the timed passes measure the serve path. It is also the only
    # pass that builds plans: the registry's builders return the DataFrame
    # they built for unchanged inputs, so a timed sample measures a prepared
    # query (optimize, plan, execute) and plan construction shows only in
    # the warm pass.
    for name in HEADLINE:
        _materialize(queries[name](spark, sf_dir))
    timed = {
        name: _timed(lambda fn=queries[name]: _materialize(fn(spark, sf_dir)), passes=passes)
        for name in HEADLINE
    }
    # Per-PASS totals (sum of sample i across all queries): on this box a
    # noisy neighbor inflates every query of one pass together, so the
    # pass-total spread is the ambient-contention signature a reader needs
    # to adjudicate a headline move from the artifact alone.
    pass_totals = [round(sum(t.samples[i] for t in timed.values()), 3) for i in range(passes)]
    medians = {n: t.median for n, t in timed.items()}
    return medians, {n: t.spread for n, t in timed.items()}, pass_totals


#: Scale-evidence set: the banded/indexed LLM-tier paths, run over the FULL
#: corpus (no doc_id caps) at the 100x replica. These are the queries whose
#: 100 TB story must be measured, not argued from plan shapes.
SF10_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_simhash_full",
    "dedup_duplicate_clusters",
    "dedup_chunk_level",
    "similarity_topk_ivf",
    "curation_pipeline",
    "curation_gopher_pipeline",
    "dedup_contamination_check",
    "dedup_contamination_bloom",
    "text_perplexity_lm",
    "curation_ccnet_pipeline",
    "incremental_merge_upsert",
    "scd2_event_type_history",
    "text_token_counts_subword",
    "curation_web_pipeline",
]


#: Newer LLM-pipeline ops, timed but kept OUT of the headline total so the
#: round-over-round trend line stays comparable.
EXTENDED_QUERIES = [
    "dedup_duplicate_clusters",
    "dedup_canonical_selection",
    "text_pii_redaction",
    "dedup_contamination_check",
    "text_pack_sequences",
    "text_repetition_scores",
    "text_gopher_quality",
    "curation_gopher_pipeline",
    "multimodal_image_png_decode",
    "multimodal_audio_wav_decode",
    "multimodal_video_gif_meta",
    "multimodal_video_gif_frames",
    "multimodal_video_gif_thumbs",
    "multimodal_image_jpeg_roundtrip",
    "multimodal_image_jpeg_meta",
    "multimodal_video_mp4_meta",
    "dedup_repeated_passages",
    "text_cut_repeated_passages",
    "text_langid_nb",
    "text_quality_model",
    "curation_model_pipeline",
    "dedup_contamination_bloom",
    "dedup_contamination_auto",
    "dedup_semantic_semdedup",
    "text_perplexity_lm",
    "curation_ccnet_pipeline",
    "corpus_cluster_report",
    "incremental_merge_upsert",
    "scd2_event_type_history",
    "text_token_counts_subword",
    "text_pack_sequences_bpe",
    "corpus_domain_mixture",
    "sample_weighted_by_domain",
    "dedup_exact_per_domain",
    "txlog_time_travel",
    "web_url_parse_normalize",
    "web_domain_blocklist_stats",
    "text_html_extract",
    "web_warc_parse",
    "dedup_incremental_batch",
    "corpus_split_leakage_safe",
    "corpus_shard_shuffle",
    "web_robots_filter",
    "web_link_pagerank",
    "curation_web_pipeline",
    "txlog_incremental_matview",
    "text_bpe_fertility_by_lang",
    "text_bpe_roundtrip",
    "similarity_topk_ivfpq",
    "dedup_lsh_calibration",
    "corpus_dataset_card",
    "txlog_restore_clone",
    "text_chunk_overlap",
    "dedup_contamination_spans",
    "text_cut_contaminated_spans",
    "sample_upsample_epochs",
    "dedup_cdc_chunks",
    "txlog_metadata_stats",
    "multimodal_image_dhash",
    "multimodal_video_dhash",
    "multimodal_audio_fingerprint",
    # round-9 additions: the new capability classes carry measured rows too
    "similarity_hybrid_rrf",
    "events_drift_tv",
    "events_anomaly_mad",
    "text_heavy_hitters",
    "sample_temperature_multilingual",
    "web_link_triangles",
    "dedup_sorted_neighborhood",
    "similarity_bitext_mining",
    # round-10 additions
    "similarity_bitext_ivf",
    "multimodal_image_jpeg_gradient",
    # round-11 additions
    "multimodal_image_jpeg_gradient_420",
    "approx_term_counts_cms",
    "multimodal_audio_mulaw_roundtrip",
    "events_trend_theil_sen",
    "linkage_customers_fellegi_sunter",
    "approx_quantiles_histogram",
    "corpus_shard_rendezvous",
    "sketch_users_intersection_kmv",
    "events_forecast_backtest_snaive",
    # round-12 additions
    "events_forecast_backtest_hw",
    "events_forecast_next_week_hw",
    "text_winnowing_overlap_incremental",
    "multimodal_image_jpeg_progressive",
    "text_winnowing_overlap",
    "dedup_doc_containment",
    "text_pmi_collocations",
    "text_keyness_by_source",
    "events_time_weighted_value",
    "events_l_diversity",
    "approx_distinct_users_kmv",
    "text_phrase_search",
    "events_range_join_global_bucketed",
    "events_cohort_retention",
    "events_attribution_last_touch",
    "customer_rfm_segments",
    "corpus_diversity_simpson",
]


#: Single-shot plan-sensitive rows at the sf1 and sf10 replicas.
SF1_PROBES = ("dedup_simhash_full", "dedup_contamination_auto", "text_perplexity_lm")
SF10_PROBES = ("dedup_minhash_lsh", "text_perplexity_lm", "dedup_contamination_bloom")


def _replica_built(name: str, src: str) -> bool:
    """Whether ``.data/<name>`` is a complete replica of ``src``: its
    ``_COMPLETE`` marker names the source directory it was built from."""
    marker = _DATA / name / "_COMPLETE"
    return marker.exists() and marker.read_text() == f"{os.path.realpath(src)}\n"


def _replica_dir(name: str, factor: int, src: str) -> str | None:
    """Resolve (building if needed) a ``factor``x scale replica of ``src``
    ATOMICALLY: build into a .tmp sibling and os.rename into place, so a
    killed build can never leave a truncated parquet at the published path
    (a half-written sf1 lineitem poisoned a round-7 run — existence alone
    is not integrity). A published dir whose marker is missing or names
    another source is rebuilt."""
    out = _DATA / name
    if _replica_built(name, src):
        return str(out)
    try:
        import shutil

        from tools.make_sf import make_sf

        if out.exists():
            shutil.rmtree(out)  # torn build or another source: rebuild
        tmp = out.with_name(name + ".tmp")
        if tmp.exists():
            shutil.rmtree(tmp)
        make_sf(factor, src, str(tmp))
        (tmp / "_COMPLETE").write_text(f"{os.path.realpath(src)}\n")
        os.rename(tmp, out)
    except Exception as exc:  # pragma: no cover - bench must still emit
        print(f"{name} replica unavailable: {exc}", file=sys.stderr)
        return None
    return str(out)


def _semdedup_scale_bench(spark, sf_dir: str) -> dict:
    """SemDeDup with corpus-proportional clustering: k = max(8, N/250) keeps
    E[cell size] ~250 constant, so the within-cell pairwise cosine step is
    O(N * cell_size) at every scale — the measured version of the paper's
    own 100-TB argument. Reports end-to-end (train 1 Lloyd iteration on a
    50% content-hash sample + assign + prune) per scale point, as
    median-of-3 with the [min, max] spread."""
    from data_ingestion_bra_spark.operators import similarity
    from data_ingestion_bra_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k = max(8, n // 250)

    def prune() -> int:
        cents = similarity.kmeans_train(
            emb, n_centroids=k, n_iter=1, train_sample_rate=0.5
        )
        # Materialize the inverted lists once (the production contract:
        # load_or_build_ivf_index persists them to parquet; the prune
        # plan reads the index, never re-running assignment per
        # consumer).
        lists = (
            similarity.assign_cells(emb, cents)
            .select("vid", "cell", "v")
            .localCheckpoint(eager=True)
        )
        return (
            similarity.semdedup_prune(cents, lists, threshold_e4=4500)
            .filter("keep = 1")
            .count()
        )

    t = _timed(prune, passes=3)
    return {
        "sec": t.median,
        "sec_spread": t.spread,
        "n_vectors": n,
        "n_cells": k,
        "n_kept": t.result,
    }


def _incremental_dedup_bench(spark, sf1: str) -> dict:
    """The incremental-dedup claim, measured: a 10% daily batch checked
    against the standing 90% corpus via the persisted signature store
    (operators/dedup.py:incremental_lsh_candidates) vs re-running the
    full-corpus LSH self-join (dedup.lsh_pair_estimates). The store is
    built ONCE outside the timed region (production writes it at ingest);
    the timed increment is batch shingling + signatures + the (band,
    bucket) equi-join with its in-row estimate. Candidate counts are
    reported so the comparison is shape-honest (the full run also finds
    old-old and new-new pairs the increment deliberately skips)."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators import dedup
    from data_ingestion_bra_spark.sources.tables import load_table

    d = load_table(spark, sf1, "documents")
    is_batch = F.col("doc_id") % 10 == 0

    def signatures(docs):
        return dedup.minhash_signatures(
            dedup.doc_shingles(docs, "doc_id", "text", n=3, distinct=False),
            num_hashes=16,
        )

    build = _timed(lambda: signatures(d.filter(~is_batch)).localCheckpoint(eager=True))
    store = build.result
    inc = _timed(
        lambda: dedup.incremental_lsh_candidates(store, signatures(d.filter(is_batch))).count(),
        passes=3,
    )
    full = _timed(
        lambda: dedup.lsh_pair_estimates(signatures(d), band_size=4, num_hashes=16).count(),
        passes=3,
    )
    store.unpersist()
    return {
        "store_build_sec": build.median,
        "incremental_sec": inc.median,
        "incremental_spread": inc.spread,
        "incremental_candidates": inc.result,
        "full_selfjoin_sec": full.median,
        "full_spread": full.spread,
        "full_candidates": full.result,
        "batch_fraction": 0.1,
    }


#: skew fact rows per unit of scale factor: 20M at the default sf0.1
SKEW_ROWS_PER_SF = 200_000_000


def _skew_rows(sf_dir: str) -> int:
    """Skew fact rows for the headline SF named by ``sf_dir``'s last
    component (``sf0.01`` -> 2M); a directory not named ``sf<number>``
    counts as the default sf0.1."""
    try:
        sf = float(Path(sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = 0.1
    return round(SKEW_ROWS_PER_SF * sf)


def _skew_fixture(spark, rows: int) -> tuple:
    """Deterministic skewed join/agg fixture: a ``rows``-row fact table
    where 95% of rows hit ONE key (the rest spread over 100k keys) and a
    200k-row dim (above the broadcast threshold we force off, small enough
    that salt replication is cheap — the realistic salting regime). A
    shuffle join funnels the hot key into one reducer; that task IS the
    runtime."""
    out = _DATA / "skew" / str(rows)
    if not (out / "fact.parquet").exists():
        import duckdb

        out.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        con.execute(
            f"""COPY (SELECT CASE WHEN i % 20 < 19 THEN 0
                                  ELSE CAST((i * 2654435761) % 100000 AS BIGINT) END AS k,
                             CAST(i % 1000 AS BIGINT) AS v,
                             CAST(i AS BIGINT) AS rid
                      FROM range({rows}) t(i))
                TO '{out / "fact.parquet"}' (FORMAT PARQUET)"""
        )
        con.execute(
            f"""COPY (SELECT CAST(i AS BIGINT) AS k,
                             CAST(i * 7 AS BIGINT) AS dim_payload
                      FROM range(200000) t(i))
                TO '{out / "dim.parquet"}' (FORMAT PARQUET)"""
        )
    fact = spark.read.parquet(str(out / "fact.parquet"))
    dim = spark.read.parquet(str(out / "dim.parquet"))
    return fact, dim


def _skew_bench(spark, sf_dir: str) -> dict:
    """Skew stress: the salted join/agg twins vs plain under a 90%-hot key,
    on a fact table sized from the headline SF (``_skew_rows``).

    Honest methodology: AQE's skew-join splitting is Spark's first-line
    mitigation and our session enables it, so the table reports (a) plain
    join with AQE skew handling ON, (b) plain with it OFF (the unmitigated
    baseline that shows the skew is real), and (c) the salted join with it
    OFF (our operator as the only mitigation). Salted aggregation is
    reported against plain; for algebraic aggs Spark's map-side partial
    aggregation already absorbs key skew, so parity (not speedup) is the
    expected and documented result there — the salted agg exists for
    holistic/fallback shapes.
    """
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators.skew import salted_agg_sum, salted_join

    fact, dim = _skew_fixture(spark, _skew_rows(sf_dir))
    timings: dict = {}

    def run(name: str, fn, *, skew_join: bool, noop: bool = False) -> None:
        # Warm run + median of 3: the round-4 AQE number flapped
        # 9.68<->5.98s on identical plans, so single-sample skew claims
        # aren't attributable. noop=True for the holistic-agg rows: count()
        # over an aggregate lets Catalyst PRUNE the aggregate expressions
        # (the distinct trio measured a flat 0.3s under count() — it was
        # counting groups, not merging sets); join/sum rows keep count()
        # for round-over-round comparability.
        mat = _materialize if noop else (lambda df: df.count())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_join).lower())
        t = _timed(lambda: mat(fn()), passes=3, warm=True)
        timings[name] = t.median
        timings[f"{name}_spread"] = t.spread

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        join_plain = lambda: fact.join(dim, "k").select(F.sum("v"))  # noqa: E731
        join_salted = lambda: salted_join(  # noqa: E731
            fact, dim, "k", salt_col="rid", n_salts=32
        ).select(F.sum("v"))
        run("join_plain_aqe_skew", join_plain, skew_join=True)
        run("join_plain_no_mitigation", join_plain, skew_join=False)
        run("join_salted", join_salted, skew_join=False)
        agg_plain = lambda: fact.groupBy("k").agg(  # noqa: E731
            F.sum("v"), F.count(F.lit(1))
        )
        agg_salted = lambda: salted_agg_sum(  # noqa: E731
            fact, "k", F.col("v"), salt_col="rid", n_salts=32
        )
        run("agg_plain", agg_plain, skew_join=True)
        run("agg_salted", agg_salted, skew_join=True)

        # HOLISTIC skew (round-6 verdict item 7): exact distinct-per-key
        # where the hot key holds ~2M distinct values at sf0.1. The naive
        # collect_set plan merges every partial set of the hot key in ONE
        # task — that task is the runtime; the value-hash-salted operator
        # splits the distinct classes disjointly so the merge is an
        # algebraic sum. Spark's builtin count_distinct rewrite (expand
        # over (k, v)) is reported alongside for honesty.
        from data_ingestion_bra_spark.operators.skew import salted_count_distinct

        fact_v2 = fact.withColumn("v2", F.pmod(F.col("rid"), F.lit(2_000_000)))
        distinct_naive = lambda: fact_v2.groupBy("k").agg(  # noqa: E731
            F.size(F.collect_set("v2")).alias("n_distinct")
        )
        distinct_builtin = lambda: fact_v2.groupBy("k").agg(  # noqa: E731
            F.count_distinct("v2").alias("n_distinct")
        )
        distinct_salted = lambda: salted_count_distinct(  # noqa: E731
            fact_v2, "k", F.col("v2"), n_salts=32
        )
        run("distinct_plain_collect_set", distinct_naive, skew_join=True, noop=True)
        run("distinct_builtin_count_distinct", distinct_builtin, skew_join=True, noop=True)
        run("distinct_salted", distinct_salted, skew_join=True, noop=True)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    return timings


def _streaming_bench(spark, sf_dir: str) -> dict[str, float]:
    """Streaming throughput: the ``sf_dir`` events table replayed as an
    8-file parquet stream through (a) watermarked tumbling counts and (b)
    applyInPandasWithState sessionization, availableNow to a memory sink.
    Reports end-to-end wall seconds and rows/sec."""
    from data_ingestion_bra_spark.sources.tables import load_table
    from data_ingestion_bra_spark.streaming import jobs, stateful

    src = _DATA / "stream_events"
    if not src.exists():
        ev = load_table(spark, sf_dir, "events")
        ev.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).repartitionByRange(8, "ts").write.mode("overwrite").parquet(str(src))
    n_rows = spark.read.parquet(str(src)).count()
    out: dict[str, float] = {}
    for name, build in (
        ("tumbling_counts", lambda s: jobs.tumbling_counts(s)),
        (
            "stateful_sessionize",
            lambda s: stateful.sessionize(s.select("user_id", "ts", "value")),
        ),
    ):
        stream = jobs.read_events_stream(spark, str(src), max_files_per_trigger=4)
        t = _timed(
            lambda: jobs.run_to_memory_sink(
                build(stream), name=f"bench_{name}", output_mode="append"
            )
        )
        t.result.stop()
        out[f"{name}_sec"] = t.median
        out[f"{name}_rows_per_sec"] = round(n_rows / t.samples[0])
    return out


def _contamination_inputs(spark, sf10: str, n_synthetic: int = 0) -> tuple:
    """The contamination benches' shared inputs from the ``sf10`` documents:
    the persisted distinct 8-gram benchmark set (docs below 50k, plus
    ``n_synthetic`` synthetic shingles) and its size, the candidate shingle
    stream (the other docs), the bloom size (~10 bits per member, a power
    of two: k=3 → fpp ~1%) and the bytes the exact variant broadcasts —
    the per-executor footprint a single box cannot show in wall clock."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators import dedup
    from data_ingestion_bra_spark.sources.tables import load_table

    d = load_table(spark, sf10, "documents")
    split = 50_000
    bset = dedup.doc_shingles(d.filter(F.col("doc_id") < split), "doc_id", "text", n=8)
    bset = bset.select("shingle")
    if n_synthetic:
        synth = F.concat(F.lit("synthetic benchmark shingle "), F.col("id"))
        bset = bset.union(spark.range(n_synthetic).select(synth.alias("shingle")))
    # common input to both variants (exact broadcasts it; bloom builds the
    # bitmap from it AND confirm-joins it): persisted so the timings isolate
    # the variant difference
    bset = bset.distinct().persist()
    n_shingles = bset.count()
    cand = dedup.doc_shingles(
        d.filter(F.col("doc_id") >= split), "doc_id", "text", n=8, distinct=False
    )
    m_bits = 1 << max(16, (10 * n_shingles).bit_length())
    exact_bytes = int(bset.agg(F.sum(F.length("shingle"))).collect()[0][0])
    return bset, n_shingles, cand, m_bits, exact_bytes


def _overlap_counts(hits):
    """Per-document count of distinct benchmark shingles among ``hits``."""
    from pyspark.sql import functions as F

    return hits.select("doc", "shingle").distinct().groupBy("doc").agg(
        F.count("*").alias("n_overlap")
    )


def _contamination_stress(spark, sf10: str) -> dict:
    """Contamination at a LARGE benchmark side (50k docs → millions of
    distinct 8-gram shingle strings): the regime where the exact variant
    must broadcast a multi-hundred-MB string set while the bloom variant
    ships a fixed 4 MiB bitmap + codegen probes. The catalog entries use a
    tiny benchmark split where the two tie (fixture parity); THIS is the
    measurement that shows what the bloom buys at scale. Outputs are
    asserted identical (the confirm join strikes false positives)."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators import bloom

    bset, n_shingles, cand, m_bits, exact_bytes = _contamination_inputs(spark, sf10)

    def finish(surviving):
        return _overlap_counts(surviving.join(F.broadcast(bset), "shingle"))

    exact = _timed(lambda: finish(cand).count())

    def bloom_probe():
        # Spark-side build (no driver round-trip, no task-closure bitmap)
        bf = bloom.build_bloom_df(bset, "shingle", m_bits=m_bits).persist()
        return bf, finish(bloom.bloom_prefilter(cand, "shingle", bf, m_bits=m_bits)).count()

    probe = _timed(bloom_probe)
    bf, n_bloom = probe.result
    bf.unpersist()
    bset.unpersist()
    return {
        "exact_broadcast_sec": exact.median,
        "bloom_prefilter_sec": probe.median,
        "rows_equal": bool(exact.result == n_bloom),
        "n_flagged_docs": exact.result,
        "exact_broadcast_payload_bytes": exact_bytes,
        "n_benchmark_shingles": n_shingles,
        "bloom_broadcast_payload_bytes": m_bits // 8,
    }


def _contamination_crossover(spark, sf10: str) -> dict:
    """The regime the bloom pre-filter is BUILT for (round-5 verdict item 3):
    a benchmark side whose distinct-shingle set is large enough that
    building/shipping it as a broadcast string hash relation is the binding
    cost. The fixture corpus's ~30-word vocabulary plateaus at ~244k
    distinct shingles (a 10.5 MB broadcast — exact ties bloom there, as r5
    measured), so the benchmark set is inflated with 8M synthetic distinct
    shingles: the EXACT variant must build the full ~240 MB string hash
    relation and probe every candidate shingle against it, while the bloom
    variant ships a fixed 16 MiB bitmap and touches the big set only
    through scan-side joins against BROADCAST-SMALL survivor sets (the
    scalable confirm: the raw benchmark set is never the broadcast side).
    Outputs asserted identical; both timed median-of-3 after a warm pass."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators import bloom

    bset, n_shingles, cand, m_bits, exact_bytes = _contamination_inputs(
        spark, sf10, n_synthetic=8_000_000
    )

    def exact():
        # the exact operator's contract: broadcast the benchmark set
        return _overlap_counts(cand.join(F.broadcast(bset), "shingle")).count()

    def exact_shuffled():
        # the no-bloom fallback once the benchmark set outgrows broadcast:
        # the ENTIRE candidate shingle stream shuffles against the set
        return _overlap_counts(cand.join(bset, "shingle")).count()

    # bitmap build is ONE-TIME for a static benchmark set (the production
    # regime: build once, screen every corpus batch) — timed separately;
    # the exact variant's broadcast hash relation has no such amortization,
    # Spark rebuilds it per query. Spark-side build + persist: the former
    # driver round-trip embedded the ~20 MB word array in a task closure
    # on EVERY probe query (round-7's TaskSetManager large-task warnings).
    def build_bloom():
        bf = bloom.build_bloom_df(bset, "shingle", m_bits=m_bits).persist()
        bf.count()  # materialize: the build cost, not the first probe's
        return bf

    build = _timed(build_bloom)
    bf = build.result

    def bloom_path():
        # ONE pass over the corpus: codegen bitmap probes drop ~all
        # non-matching shingles scan-side, then the (small) survivor
        # stream confirms through a plain SHUFFLED equi-join against the
        # benchmark scan — the 280 MB relation is never a broadcast build,
        # and bloom's job is exactly the shuffle-volume cut vs
        # exact_shuffled. (An earlier two-step broadcast confirm recomputed
        # the corpus scan + probes twice and lost 2.2x to exact_broadcast;
        # journal: r6 crossover first sample.)
        surviving = bloom.bloom_prefilter(cand, "shingle", bf, m_bits=m_bits)
        return _overlap_counts(surviving.join(bset, "shingle")).count()

    out: dict = {
        "n_benchmark_shingles": n_shingles,
        "bloom_build_sec": build.median,
        "bloom_broadcast_payload_bytes": m_bits // 8,
        "exact_broadcast_payload_bytes": exact_bytes,
    }
    results: dict[str, int] = {}
    for name, fn in (
        ("exact_broadcast", exact),
        ("exact_shuffled", exact_shuffled),
        ("bloom_serve", bloom_path),
    ):
        t = _timed(fn, passes=3, warm=True)
        results[name] = t.result
        out[f"{name}_sec"] = t.median
        out[f"{name}_spread"] = t.spread
    out["rows_equal"] = bool(len(set(results.values())) == 1)
    out["n_flagged_docs"] = results["exact_broadcast"]
    bset.unpersist()
    bf.unpersist()
    return out


def _ivf_build_bench(spark, sf_dir: str) -> dict:
    """IVF index BUILD cost vs ``train_sample_rate`` with recall\\@5 of the
    resulting index — the evidence that sample-based k-means training buys
    build time roughly linearly in the rate while holding recall >= 0.9
    (the serve path is benched separately via similarity_topk_ivf). Runs
    2 Lloyd iterations over 16 centroids per (scale, rate); truth is the
    exact brute-force top-5 for 10 queries, recomputed per scale."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators import pq, similarity
    from data_ingestion_bra_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    truth = _pairs(
        similarity.brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)
    )
    per_rate: dict = {}
    for rate in (1.0, 0.5, 0.1):
        build = _timed(
            lambda: similarity.kmeans_train(
                emb, n_centroids=16, n_iter=2, train_sample_rate=rate
            )
        )
        got = _pairs(
            similarity.ivf_topk(
                emb, n_probe=4, query_ids=list(range(10)), k=5, centroids=build.result
            )
        )
        per_rate[f"rate_{rate}"] = {
            "build_sec": build.median,
            "recall_at_5": round(len(got & truth) / len(truth), 3),
        }

    # PQ index CONSTRUCTION cost (round-12 verdict item 6: the serve
    # entries read the persisted codebook+codes, so train-once/serve-many
    # stays honest only while build cost has a measured row). Same
    # (m, k, n_iter, dim) as the serve entries' load_or_build_pq_index
    # defaults; the encode is materialized through the noop sink.
    def train():
        cb = pq.pq_train(emb, n_iter=1)
        return cb, cb.count()

    tr = _timed(train)
    cb, cb_rows = tr.result
    enc = _timed(lambda: _materialize(pq.pq_encode(emb, cb)))
    per_rate["pq_index"] = {
        "codebook_train_sec": tr.median,
        "corpus_encode_sec": enc.median,
        "codebook_rows": cb_rows,
        "n_vectors": emb.count(),
    }
    return per_rate


def _ivfpq_serve_bench(spark, sf_dir: str) -> dict:
    """Composed IVF-PQ+R serve-path accuracy/cost beyond fixture scale
    (round-8 verdict item 7): for the same 10 queries, wall clock +
    recall@10 under three strategies — exact brute force (the floor and
    the cosine truth), IVF full-vector scoring, and the composed IVFPQ+R
    (cell prune × compressed-domain ADC × exact shortlist re-rank).
    Recall is measured against each family's OWN exact ordering (cosine
    for brute/IVF, integer L2 for IVFPQ's re-rank metric) so the number
    isolates the approximation, not the metric change. Index build costs
    are excluded — this section prices the QUERY path, ivf_build_bench
    prices construction."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from data_ingestion_bra_spark.operators import pq, similarity
    from data_ingestion_bra_spark.operators.similarity import quantize_sql
    from data_ingestion_bra_spark.sources.tables import load_table

    def _pack(t: Timed, truth: set | None = None) -> dict:
        row = {"sec": t.median, "per_query_ms": round(t.median * 100, 1)}
        if truth is not None:
            row["recall_at_10"] = round(len(t.result & truth) / len(truth), 3)
        return row

    emb = load_table(spark, sf_dir, "embeddings")
    emb.persist()
    n_vec = emb.count()
    q_df = emb.filter(F.col("vec_id") < 10)

    brute = _timed(lambda: _pairs(similarity.brute_force_topk(q_df, emb, k=10)))
    cos_truth = brute.result

    # exact integer-L2 truth for the IVFPQ re-rank metric
    qv = q_df.selectExpr("vec_id as query_id", f"{quantize_sql('embedding')} as qv")
    cv = emb.selectExpr("vec_id as cand_id", f"{quantize_sql('embedding')} as cv")
    l2 = (
        F.broadcast(qv)
        .crossJoin(cv)
        .filter(F.col("query_id") != F.col("cand_id"))
        .selectExpr("query_id", "cand_id", f"{pq._isq_dist_sql('qv', 'cv')} as d")
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("cand_id").asc()
    )
    l2_truth = _pairs(
        l2.withColumn("rk", F.row_number().over(wl)).filter(F.col("rk") <= 10)
    )

    cents, lists = similarity.load_or_build_ivf_index(
        spark, emb, sf_dir, n_centroids=16, n_iter=1, train_sample_rate=0.5
    )
    lists.persist().count()
    ivf = _timed(
        lambda: _pairs(
            similarity.ivf_topk(
                emb, n_probe=4, query_ids=list(range(10)), k=10,
                centroids=cents, assignments=lists,
            )
        )
    )

    # persisted PQ index (train-once discipline, same as the IVF lists
    # above) — this section prices the QUERY path, not construction
    cb, codes = pq.load_or_build_pq_index(spark, emb, sf_dir)
    codes.persist().count()

    out = {
        "n_vectors": n_vec,
        "bruteforce": _pack(brute),
        "ivf_nprobe4": _pack(ivf, cos_truth),
    }
    # shortlist sweep: the re-rank is exact, so recall is bounded by
    # ADC shortlist quality — record the accuracy/cost knob, not one
    # arbitrary point
    for short in (40, 100):
        served = _timed(
            lambda: _pairs(
                pq.ivfpq_topk(
                    q_df, lists, cents, codes, cb, emb,
                    n_probe=4, shortlist=short, k_top=10,
                )
            )
        )
        out[f"ivfpq_r_nprobe4_short{short}"] = _pack(served, l2_truth)
    codes.unpersist()
    lists.unpersist()
    emb.unpersist()
    return out


def _bitext_clustered_fixture(
    spark, *, n_pairs: int = 1500, dim: int = 16, n_langs: int = 8
) -> tuple:
    """LANGUAGE-CLUSTERED bitext fixture — the realistic regime the CCMatrix
    citation promises (round-10 verdict item 4). Real multilingual encoders
    produce embeddings that cluster by language/topic; the testdata
    embeddings are deliberately UNclustered (the adversarial case for cell
    pruning), so serve-path recall needs a second fixture whose geometry
    matches production.

    Construction is fully deterministic (no RNG — murmur3 ``F.hash`` of the
    coordinates): language ``id % n_langs`` gets a mixture center in
    [-2, 2]^dim, each side's vector is center + a per-(id, side, dim)
    perturbation in [-0.8, 0.8], and every 4th pair is a BOUNDARY case —
    the midpoint of two adjacent language centers (code-switching /
    cross-topic text, the vectors that actually straddle IVF cells in a
    real multilingual corpus) — so the probe curve has something to
    recover. True pair structure a_i <-> b_i. Returns (side_a, side_b)."""
    from pyspark.sql import functions as F

    base = spark.range(n_pairs).select(
        F.col("id").cast("bigint").alias("vec_id"),
        (F.col("id") % n_langs).cast("int").alias("lang"),
        ((F.col("id") + 1) % n_langs).cast("int").alias("lang2"),
        (F.col("id") % 4 == 0).alias("boundary"),
    )

    def vec(side: int):
        dims = F.sequence(F.lit(0), F.lit(dim - 1))

        def center(lang_col, d):
            return (F.hash(lang_col, d) % 1000).cast("double") / 500.0

        return F.transform(
            dims,
            lambda d: (
                F.when(
                    F.col("boundary"),
                    (center(F.col("lang"), d) + center(F.col("lang2"), d)) / 2.0,
                ).otherwise(center(F.col("lang"), d))
                + (F.hash(F.col("vec_id"), F.lit(side), d) % 100).cast("double")
                / 125.0
            ),
        )

    a = base.select("vec_id", vec(0).alias("embedding"))
    b = base.select("vec_id", vec(1).alias("embedding"))
    return a, b


def _pair_scores(served: set, exact: set) -> dict:
    """Served-vs-exact pair recall and precision (mutual-top-1 is relative
    to the candidate set, so the pruned world trades some precision too;
    both sides of that trade are recorded)."""
    out: dict = {}
    if exact:
        out["pair_recall"] = round(len(served & exact) / len(exact), 4)
    if served:
        out["pair_precision"] = round(len(served & exact) / len(served), 4)
    return out


def _bitext_clustered_bench(spark, *, probes=(1, 2, 4)) -> dict:
    """Recall-vs-cost curve of the IVF serve path on the CLUSTERED fixture,
    next to the adversarial-fixture points — both regimes in the payload."""
    from data_ingestion_bra_spark.operators.similarity import (
        bitext_mining_margin,
        bitext_mining_margin_ivf,
        kmeans_train,
    )

    a, b = _bitext_clustered_fixture(spark)
    a = a.localCheckpoint(eager=True)  # fixture gen excluded from timings
    b = b.localCheckpoint(eager=True)
    train = _timed(lambda: kmeans_train(b, n_centroids=8, n_iter=3))
    exact = _timed(lambda: _pairs(bitext_mining_margin(a, b), "a_id", "b_id"))
    pts = []
    for p in probes:
        served = _timed(
            lambda: _pairs(
                bitext_mining_margin_ivf(a, b, train.result, n_probe=p), "a_id", "b_id"
            )
        )
        pts.append(
            {
                "n_probe": p,
                "served_sec": served.median,
                "served_pairs": len(served.result),
                **_pair_scores(served.result, exact.result),
            }
        )
    return {
        "fixture": "clustered(n=1500/side, dim=16, langs=8)",
        "train_sec": train.median,
        "exact_sec": exact.median,
        "exact_pairs": len(exact.result),
        "probe_points": pts,
    }


def _bitext_serve_bench(spark, queries, points: list[tuple], gate: _Gate) -> dict:
    """Bitext mining: exact bipartite baseline vs the IVF-composed serve
    path (similarity_bitext_ivf), with MEASURED pair recall — served ∩
    exact / exact — so the catalog's scale-path claim carries a number the
    same way ivfpq_serve_bench's recall@10 does. The exact side is the
    oracle-twin BNLJ baseline; at corpus scale only the served path runs,
    which is exactly why its recall must be measured here.

    Two fixtures, both regimes recorded: the testdata embeddings
    (UNclustered — adversarial for cell pruning, the honest worst case;
    real multilingual encoders cluster by language/topic and prune far
    better) per scale point, plus the clustered fixture's recall-vs-probes
    curve (the realistic regime). Each point is a ``_per_point`` unit; a
    point the gate skips is named in ``points_skipped``."""
    out: dict = {"points": []}
    # Clustered curve first: it is the cheap, fixed-size block.
    try:
        out["clustered"] = _bitext_clustered_bench(spark)
    except Exception as exc:  # noqa: BLE001 - keep the section alive
        out["clustered_error"] = f"{type(exc).__name__}: {exc}"[:300]

    def point(label: str, d: str) -> dict:
        exact, served = [
            _timed(lambda q=q: _pairs(queries[q](spark, d), "a_id", "b_id"))
            for q in ("similarity_bitext_mining", "similarity_bitext_ivf")
        ]
        return {
            "sf": label,
            "exact_sec": exact.median,
            "exact_pairs": len(exact.result),
            "served_sec": served.median,
            "served_pairs": len(served.result),
            **_pair_scores(served.result, exact.result),
        }

    done, skipped = _per_point(gate, "bitext_serve", points, point)
    out["points"] = list(done.values())
    if skipped:
        out["points_skipped"] = [f"{label}: budget" for label in skipped]
    return out


def _fold_epochs(writer, rows, key_col: str, n_epochs: int) -> tuple[dict, float]:
    """Fold ``rows`` into a streaming store's ``writer`` as ``n_epochs``
    deterministic crc32(``key_col``) slices, one timed trigger epoch each.
    Returns the per-epoch seconds record and the total fold seconds."""
    from pyspark.sql import functions as F

    t = _timed_each(
        writer,
        [
            (rows.filter(F.crc32(F.col(key_col).cast("string")) % n_epochs == e), e)
            for e in range(n_epochs)
        ],
    )
    rec = {
        "sec_per_epoch_median": t.median,
        "sec_per_epoch": [round(s, 3) for s in t.samples],
    }
    return rec, sum(t.samples)


def _freq_maintenance_bench(
    spark, sf_dir: str, *, n_epochs: int = 5, capacity: int = 4096
) -> dict:
    """Streaming Misra–Gries store throughput: fold ``n_epochs`` per-epoch
    token-stream summaries into a txlog-backed standing summary
    (streaming/freq_maintenance) and measure seconds per trigger epoch —
    the number behind the 'one bounded job per trigger' claim. The row
    also records the standing-summary size (bounded at capacity forever)
    and one serving recount so the end-to-end exact-top-k latency is
    priced too."""
    import tempfile

    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.sources.tables import load_table
    from data_ingestion_bra_spark.streaming.freq_maintenance import (
        current_candidates,
        freq_maintenance_writer,
    )

    out: dict = {"capacity": capacity, "n_epochs": n_epochs, "sf": sf_dir}
    with tempfile.TemporaryDirectory(prefix="freq_bench_store_") as store:
        docs = load_table(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("tok")
        ).filter(F.col("tok") != "")
        writer = freq_maintenance_writer(
            store, key_col="tok", capacity=capacity, query_id="bench"
        )
        out.update(_fold_epochs(writer, toks, "doc_id", n_epochs)[0])
        cand = current_candidates(spark, store, "tok")
        out["standing_summary_rows"] = cand.count()
        top = _timed(
            lambda: toks.join(F.broadcast(cand.select("tok")), "tok", "left_semi")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "tok")
            .limit(25)
            .count()
        )
        out["serve_recount_sec"] = top.median
        out["serve_topk_rows"] = top.result
    return out


def _overlap_maintenance_bench(spark, sf_dir: str, *, n_epochs: int = 4) -> dict:
    """Streaming winnowing-overlap store throughput (round-10 verdict item
    6): fold the documents corpus into the standing fingerprint store in
    ``n_epochs`` deterministic slices and price seconds per trigger epoch,
    docs/s folded, the standing store size, and the flag-read (query-path)
    latency — the numbers behind the 'ingest-time plagiarism monitor'
    claim, measured the way freq_maintenance_bench priced the MG store."""
    import tempfile

    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.sources.tables import load_table
    from data_ingestion_bra_spark.streaming.overlap_maintenance import (
        overlap_maintenance_writer,
    )

    out: dict = {"n_epochs": n_epochs, "sf": sf_dir}
    with tempfile.TemporaryDirectory(prefix="overlap_bench_") as root:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        writer = overlap_maintenance_writer(
            f"{root}/store", f"{root}/flags", query_id="bench-overlap"
        )
        rec, fold_sec = _fold_epochs(writer, docs, "doc_id", n_epochs)
        out.update(rec)
        out["docs_per_sec_folded"] = round(n_docs / max(fold_sec, 1e-9), 1)
        out["store_rows"] = txlog.read_snapshot(spark, f"{root}/store").count()
        flags = _timed(lambda: txlog.read_snapshot(spark, f"{root}/flags").count())
        out["flag_rows"] = flags.result
        out["flag_read_sec"] = flags.median
    return out


def _cardinality_maintenance_bench(
    spark, sf_dir: str, *, n_epochs: int = 5, k: int = 64
) -> dict:
    """Streaming KMV cardinality store throughput (round-10 verdict item
    6): fold per-epoch bottom-k summaries of the events stream into the
    standing per-event-type store; price seconds per trigger epoch, the
    standing summary size (k rows per group forever), and the serve-path
    estimate latency. The sibling Count-Min store (point-query frequency
    member of the mergeable family) is priced the same way under ``cms``."""
    import tempfile

    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.sources.tables import load_table
    from data_ingestion_bra_spark.streaming.cardinality_maintenance import (
        cardinality_maintenance_writer,
        current_estimates,
        current_summary,
    )
    from data_ingestion_bra_spark.streaming.cms_maintenance import (
        cms_maintenance_writer,
        current_estimates as cms_current_estimates,
        current_sketch,
    )

    out: dict = {"n_epochs": n_epochs, "k": k, "sf": sf_dir}
    events = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(prefix="kmv_bench_store_") as store:
        kmv_rows = events.select("event_type", "user_id")
        n_rows = kmv_rows.count()
        writer = cardinality_maintenance_writer(
            store, group_cols=["event_type"], key_col="user_id", k=k,
            query_id="bench-kmv",
        )
        rec, fold_sec = _fold_epochs(writer, kmv_rows, "user_id", n_epochs)
        out.update(rec)
        out["rows_per_sec_folded"] = round(n_rows / max(fold_sec, 1e-9), 1)
        out["standing_summary_rows"] = current_summary(
            spark, store, ["event_type"]
        ).count()
        out["store_rows_all_epochs"] = txlog.read_snapshot(spark, store).count()
        est = _timed(lambda: current_estimates(spark, store, ["event_type"], k).collect())
        out["serve_estimate_sec"] = est.median
        out["n_groups"] = len(est.result)
    with tempfile.TemporaryDirectory(prefix="cms_bench_store_") as store:
        users = events.select("user_id")
        writer = cms_maintenance_writer(
            store, key_col="user_id", depth=3, width=1024, query_id="bench-cms"
        )
        cms, _ = _fold_epochs(writer, users, "user_id", n_epochs)
        cms["standing_sketch_rows"] = current_sketch(spark, store).count()
        keys = users.distinct().limit(32)
        probe = _timed(
            lambda: cms_current_estimates(
                spark, store, keys, "user_id", depth=3, width=1024
            ).count()
        )
        cms["n_probed"] = probe.result
        cms["serve_probe_sec"] = probe.median
        out["cms"] = cms
    return out


def _pagerank_scale_bench(
    spark, *, n_nodes: int = 1_000_000, n_edges: int = 10_000_000, n_iter: int = 10
) -> dict:
    """Domain-scale PageRank evidence (round-7 verdict item 7): the catalog
    entry runs on a 50-node fixture, so the 'ranks live per registered
    domain' claim carried no number. This synthesizes a deterministic
    ~1M-node / 10M-edge hash graph (node ids = xxhash64 of a range — no RNG,
    reproducible bit-for-bit) and times the exact-integer pagerank at
    ``n_iter`` rounds, with the per-iteration rate reported. The iteration
    loop localCheckpoints every 5 rounds, so this also exercises the bounded
    plan-depth path."""
    from pyspark.sql import functions as FF

    from data_ingestion_bra_spark.operators.graph import pagerank

    edges = spark.range(n_edges).select(
        FF.pmod(FF.xxhash64("id", FF.lit(1)), FF.lit(n_nodes)).alias("s"),
        FF.pmod(FF.xxhash64("id", FF.lit(2)), FF.lit(n_nodes)).alias("t"),
    )
    t = _timed(lambda: pagerank(edges, n_iter=n_iter))  # eager: final localCheckpoint
    stats = t.result.agg(
        FF.count("*").alias("n"), FF.sum("rank_e9").alias("mass_e9")
    ).collect()[0]
    return {
        "n_nodes": int(stats["n"]),
        "n_edges_requested": n_edges,
        "n_iter": n_iter,
        "total_sec": t.median,
        "sec_per_iter": round(t.samples[0] / n_iter, 3),
        # retained probability mass (×1e9): dangling drop + floor division
        # both shed mass, so this documents how much the default form keeps
        "mass_e9": int(stats["mass_e9"]),
    }


def _exact_join_bench(spark, sf_dir: str) -> dict:
    """The exactness premium of the prefix-filter similarity join, measured
    (round 12): dedup_jaccard_prefix_filter guarantees every J >= 0.5 pair
    (recall-complete by theorem) while the MinHash-LSH tier is
    probabilistic — this section prices both at the same threshold and
    MEASURES the LSH recall against the prefix filter's ground truth, so
    the "LSH for bulk, prefix filter for the guarantee pass" routing
    advice in the operator docstring carries numbers: candidate volumes,
    verified-pair counts, measured LSH recall (e4), and median-of-2
    seconds per path."""
    from data_ingestion_bra_spark.operators import dedup
    from data_ingestion_bra_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    sh = dedup.doc_shingles(d, "doc_id", "text", n=3).persist()
    n_docs = d.count()
    sh.count()

    def lsh_pairs():
        sig = dedup.minhash_signatures(
            dedup.doc_shingles(d, "doc_id", "text", n=3, distinct=False),
            num_hashes=16,
        )
        return dedup.lsh_pair_estimates(sig, band_size=4, num_hashes=16)

    prefix = _timed(
        lambda: dedup.jaccard_prefix_filter_pairs(sh, tau_e4=5000).count(), passes=2
    )
    lsh = _timed(
        lambda: dedup.jaccard_pairs(
            sh, min_jaccard=0.5, pair_filter=lsh_pairs().select("doc_a", "doc_b")
        ).count(),
        passes=2,
    )
    n_exact, n_lsh = prefix.result, lsh.result
    out: dict = {
        "n_docs": n_docs,
        "n_pairs_exact": n_exact,
        "n_pairs_lsh_verified": n_lsh,
        "lsh_recall_e4": None if not n_exact else n_lsh * 10000 // n_exact,
        "prefix_filter_sec": prefix.median,
        "lsh_sec": lsh.median,
    }
    # candidate volumes, once (the cost drivers behind the seconds)
    out["n_cand_prefix"] = dedup.prefix_filter_candidates(sh, tau_e4=5000).count()
    out["n_cand_lsh"] = lsh_pairs().count()
    sh.unpersist()
    return out


def _linkage_bench(spark, sf_dir: str, *, passes: int) -> dict:
    """Fellegi-Sunter linkage priced at scale (round-11 verdict item 7):
    candidate-pair volume under PROGRESSIVELY FINER blocking keys plus
    end-to-end scoring throughput. The point being proven: blocking on
    (segment, balance-bucket) has a FIXED number of cells, so the pair
    relation grows quadratically with corpus size inside each cell — the
    cure is exactly the module contract ("add keys until the largest cell
    fits"), here a finer bucket width. Pair counts per blocking scheme are
    computed from cell-count PRODUCTS (a tiny groupBy join — no pair
    materialization), and the scoring leg runs on the finest width whose
    estimated relation stays under the cap, so the measured throughput is
    the operator, not an exploding join."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.operators.linkage import fellegi_sunter_score
    from data_ingestion_bra_spark.sources.tables import load_table

    # Bound the SCORED relation: the sf1 width-10000 blocking yields ~40M
    # pairs and scores at ~350k pairs/s (113 s measured) — fine evidence,
    # wrong cost for a per-round section. 8M keeps the scored leg ~15-25 s
    # at sf1 (width 1000) while the per-width pair COUNTS still document
    # the quadratic blow-up of the coarse blocking.
    pair_cap = 8_000_000
    c = load_table(spark, sf_dir, "customer")
    n_rows = c.count()
    # side b perturbs balance, segment, name and nation so the
    # comparators see near-matches
    cents_a = "CAST(ROUND(c_acctbal * 100) AS BIGINT)"
    cents_b = f"({cents_a} + (c_custkey % 7) * 100)"
    seg_a = "c_mktsegment"
    seg_b = "CASE WHEN c_custkey % 13 = 0 THEN reverse(c_mktsegment) ELSE c_mktsegment END"

    def blocking_key(seg: str, cents: str, width: int) -> list:
        return [F.expr(seg).alias("blk_seg"), F.expr(f"{cents} div {width}").alias("bucket")]

    per_width: dict = {}
    chosen = None
    for width in (10_000, 1_000, 100):
        a_cells, b_cells = (
            c.select(*blocking_key(seg, cents, width))
            .groupBy("blk_seg", "bucket")
            .agg(F.count(F.lit(1)).alias(n))
            for seg, cents, n in ((seg_a, cents_a, "na"), (seg_b, cents_b, "nb"))
        )
        stats = (
            a_cells.join(b_cells, ["blk_seg", "bucket"])
            .agg(
                F.sum(F.col("na") * F.col("nb")).alias("pairs"),
                F.max(F.col("na") * F.col("nb")).alias("max_cell"),
                F.count(F.lit(1)).alias("cells"),
            )
            .collect()[0]
        )
        n_pairs = int(stats["pairs"] or 0)
        per_width[f"width_{width}"] = {
            "n_blocking_cells": int(stats["cells"]),
            "n_candidate_pairs": n_pairs,
            "max_cell_pairs": int(stats["max_cell"] or 0),
        }
        if chosen is None and n_pairs <= pair_cap:
            chosen = width
    chosen = chosen or 100
    # end-to-end scoring leg on the chosen blocking width: blocked
    # equi-join -> comparators -> verdict counts, one job per pass
    a = c.select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("name_a"),
        F.expr("substring(c_name, length(c_name) - 2, 3)").alias("suffix_a"),
        F.expr(cents_a).alias("cents_a"),
        F.col("c_nationkey").alias("nation_a"),
        *blocking_key(seg_a, cents_a, chosen),
    )
    b = c.select(
        F.col("c_custkey").alias("b_key"),
        F.expr(
            "CASE WHEN c_custkey % 5 = 0"
            " THEN replace(c_name, 'Customer', 'Custmer') ELSE c_name END"
        ).alias("name_b"),
        F.expr("substring(c_name, length(c_name) - 2, 3)").alias("suffix_b"),
        F.expr(cents_b).alias("cents_b"),
        F.expr(
            "CASE WHEN c_custkey % 11 = 0 THEN (c_nationkey + 1) % 25"
            " ELSE c_nationkey END"
        ).alias("nation_b"),
        *blocking_key(seg_b, cents_b, chosen),
    )
    comparators = [
        ("name", F.expr("levenshtein(name_a, name_b) <= 1"), 320, -160),
        ("suffix", F.col("suffix_a") == F.col("suffix_b"), 300, -100),
        ("acctbal", F.expr("abs(cents_a - cents_b) <= 700"), 250, -180),
        ("nation", F.col("nation_a") == F.col("nation_b"), 120, -220),
    ]

    def score():
        scored = fellegi_sunter_score(
            a.join(b, ["blk_seg", "bucket"]),
            comparators,
            match_threshold_e2=600,
            possible_threshold_e2=150,
        )
        return scored.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("verdict") == "match").cast("bigint")).alias("n_match"),
            F.sum((F.col("verdict") == "possible").cast("bigint")).alias(
                "n_possible"
            ),
        ).collect()[0]

    t = _timed(score, passes=passes)
    counts = t.result
    n_scored = int(counts["n_pairs"])
    return {
        "n_rows_per_side": n_rows,
        "blocking": per_width,
        "scored_width": chosen,
        "scored_pairs": n_scored,
        "scored_sec": t.median,
        "scored_sec_spread": t.spread,
        "pairs_per_sec": int(n_scored / t.median) if t.median > 0 else None,
        "n_match": int(counts["n_match"] or 0),
        "n_possible": int(counts["n_possible"] or 0),
    }


def _skipping_bench(spark, sf_dir: str) -> dict:
    """Measured payoff of log-side data skipping + OPTIMIZE ZORDER: one
    txlog table of orders keys, version 0 = random 32-file layout,
    version 1 = the SAME rows Z-ordered by (o_custkey, o_orderkey) — so
    time travel compares the two layouts on identical data. For a ~5%
    o_custkey range predicate, report files-scanned-after-prune (decided
    from the LOG's harvested min/max, zero footer reads) and the filtered
    count's wall clock for each layout. The random layout prunes nothing
    (every file spans the key domain); the Z-ordered layout's tight
    per-file rectangles are what make `read_snapshot(prune=...)` skip —
    at 100 TB this ratio is the fraction of the corpus a selective query
    never reads."""
    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.sources.tables import load_table

    t = str(_DATA / "skipping_bench" / Path(sf_dir).name)
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    if txlog.committed_version(t, "skip-v0") is None:
        txlog.commit_append(
            orders.repartition(32), t, idempotency_key="skip-v0"
        )
    txlog.compact(
        spark,
        t,
        n_files=32,
        zorder_by=("o_custkey", "o_orderkey"),
        idempotency_key="skip-v1",
    )
    st = txlog.table_stats(t)
    ck_lo, ck_hi = st["columns"]["o_custkey"]
    width = max(1, (ck_hi - ck_lo) // 20)
    lo, hi = ck_lo + 10 * width, ck_lo + 11 * width
    out: dict = {"predicate": {"col": "o_custkey", "lo": lo, "hi": hi}}
    latest = txlog.snapshot(t).version
    counts = {}
    for label, ver in (("plain", 0), ("zorder", latest)):
        entries = txlog.snapshot(t, ver).entries
        pruned = [
            e for e in entries if txlog._stats_overlap(e, "o_custkey", lo, hi)
        ]
        n = _timed(
            lambda ver=ver: txlog.read_snapshot(
                spark, t, version=ver, prune=("o_custkey", lo, hi)
            )
            .filter((F.col("o_custkey") >= lo) & (F.col("o_custkey") <= hi))
            .count()
        )
        counts[label] = n.result
        out[label] = {
            "files_total": len(entries),
            "files_scanned": len(pruned),
            "rows": n.result,
            "sec": n.median,
        }
    # identical data in both layouts by construction; state it in the record
    out["counts_equal"] = counts["plain"] == counts["zorder"]
    return out


def _trainer_bench(spark, sf_dir: str) -> dict:
    """In-engine trainer evidence (r8): wall clock for retraining each
    committed model artifact over the headline-SF documents table —
    distributed BPE (the iterative one: per-merge cost = a vocab-relation
    pair groupBy + a 1-row argmax), NB langid (one counting groupBy), and
    the bigram LM (two counting groupBys). Each trainer's output is
    pytest-pinned bit-identical to its offline twin; this section prices
    the 'retrain on the cluster' story."""
    from data_ingestion_bra_spark.operators.bpe import train_bpe_distributed
    from data_ingestion_bra_spark.operators.langid_nb import (
        train_langid_nb_distributed,
    )
    from data_ingestion_bra_spark.operators.ngram_lm import (
        train_ngram_lm_distributed,
    )
    from data_ingestion_bra_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bpe = _timed(lambda: train_bpe_distributed(docs, n_merges=96))
    nb = _timed(lambda: train_langid_nb_distributed(docs, lang_col="lang"))
    lm = _timed(lambda: train_ngram_lm_distributed(docs))
    # pruned retrain (r9): min_count/top_k bound the driver collect inside
    # the aggregation — the row counts below are the PROOF the driver
    # footprint is capped regardless of corpus vocabulary size (retained
    # weights stay bit-identical; pruned words fall back to oov_lp)
    # caps chosen BELOW the fixture's true table sizes so the bound
    # provably binds in the recorded numbers (kept < full), not just in
    # the API: the synthetic corpus has ~31 unigrams / ~931 bigrams
    lmp = _timed(
        lambda: train_ngram_lm_distributed(docs, min_count=2, top_k=24, top_k_bigrams=256)
    )
    return {
        "corpus": sf_dir,
        "n_docs": docs.count(),
        "bpe_96_merges": {"sec": bpe.median, "n_merges": len(bpe.result)},
        "langid_nb": {"sec": nb.median, "n_weights": len(nb.result["weights"])},
        "ngram_lm": {"sec": lm.median, "n_uni": len(lm.result["uni"]), "n_bi": len(lm.result["bi"])},
        "ngram_lm_pruned": {
            "sec": lmp.median,
            "n_uni": len(lmp.result["uni"]),
            "n_bi": len(lmp.result["bi"]),
            "full_vocab": lmp.result["pruning"]["full_vocab"],
            "caps": {"min_count": 2, "top_k": 24, "top_k_bigrams": 256},
        },
    }


def _acid_dml_bench(spark, sf_dir: str, *, passes: int = 3) -> dict:
    """Row-level DML through the transaction log, timed end to end at the
    headline SF: APPEND the orders table (multi-file), copy-on-write
    DELETE of 1/16 of the keys, MERGE/upsert of another 1/16, OPTIMIZE
    ZORDER over (o_orderkey, o_custkey), and a full change-data-feed
    replay. DML mutates state, so warm medians need fresh tables, not
    repeats: each op runs once on each of ``passes`` tables built from
    scratch; median + [min, max, n] per op."""
    import tempfile

    from pyspark.sql import functions as F

    from data_ingestion_bra_spark.sinks import txlog
    from data_ingestion_bra_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    src = orders.filter(F.col("o_orderkey") % 16 == 5).withColumn(
        "o_orderstatus", F.lit("U")
    )
    out: dict = {"sf": sf_dir, "orders_rows": orders.count(), "passes": passes}
    with tempfile.TemporaryDirectory(prefix="acid_dml_bench_") as scratch:
        tables = [(os.path.join(scratch, f"tbl{i}"),) for i in range(passes)]
        for op, fn in (
            ("append", lambda t: txlog.commit_append(orders.repartition(8), t)),
            ("delete_1_16", lambda t: txlog.commit_delete(spark, t, "o_orderkey % 16 = 3")),
            ("upsert_1_16", lambda t: txlog.commit_upsert(spark, t, src, key="o_orderkey")),
            (
                "optimize_zorder",
                lambda t: txlog.compact(
                    spark, t, zorder_by=("o_orderkey", "o_custkey"), n_files=8
                ),
            ),
            ("cdf_replay", lambda t: txlog.read_changes(spark, t, 0).count()),
        ):
            t = _timed_each(fn, tables)
            out[op + "_sec"] = t.median
            out[op + "_spread"] = t.spread + [len(t.samples)]
    return out


def build_compact_line(payload: dict, *, limit: int = 1900) -> str:
    """The FINAL stdout line: compact sf0.1-headline-only JSON guaranteed
    under the driver's 2000-char tail window (round 4's full-payload line
    overflowed it and the official artifact recorded `parsed: null`).
    Degrades in two steps if the headline set ever grows: drop the mode
    string, then keep only the 15 slowest queries (flagged)."""
    compact = {
        "metric": payload.get("metric", "headline_queries_total_runtime_warm"),
        "value": payload.get("value"),
        "unit": "sec",
        "queries": payload.get("queries", {}),
        "sf": payload.get("sf"),
        "mode": "median-of-3 warm; spreads + sf1/sf10/skew/streaming in BENCH_FULL.json",
    }
    # Emit-on-partial: a section failure must be VISIBLE in the official
    # artifact, not just in BENCH_FULL.json — keep only the section names so
    # the compact line stays under the tail window.
    if payload.get("errors"):
        compact["errors"] = sorted({e.split(":", 1)[0] for e in payload["errors"]})
    if payload.get("sections_skipped"):
        compact["skipped"] = sorted(
            {s.split(":", 1)[0] for s in payload["sections_skipped"]}
        )
    line = json.dumps(compact)
    if len(line) > limit:
        compact.pop("mode", None)
        line = json.dumps(compact)
    if len(line) > limit:
        compact["queries"] = dict(sorted(compact["queries"].items(), key=lambda kv: -kv[1])[:15])
        compact["queries_truncated"] = True
        line = json.dumps(compact)
    return line


#: Process start, for the total wall-clock budget. Module import time is
#: within a second of exec() for a script, and using it means session
#: startup counts against the budget (it spends real driver-window time).
_BUDGET_START = time.monotonic()


def total_budget_sec() -> float:
    """Total wall-clock budget for the WHOLE bench run: a caller may run
    bench.py under a timeout it never advertises, so the default is
    conservative — a full-evidence local run sets
    SPARK_GRAFT_TOTAL_BUDGET_SEC=7200 explicitly."""
    return float(os.environ.get("SPARK_GRAFT_TOTAL_BUDGET_SEC", "1500"))


def budget_remaining() -> float:
    return total_budget_sec() - (time.monotonic() - _BUDGET_START)


def install_signal_handlers() -> None:
    """SIGTERM/SIGINT → SystemExit, so ``main``'s ``finally`` emit actually
    runs when the driver's ``timeout`` kills the run. Stock CPython runs NO
    cleanup on SIGTERM — round 7's emit-on-partial ``finally`` was dead code
    against the driver's kill (BENCH_r07: rc 124, parsed: null) until this
    handler converts the signal into a normal exception unwind."""
    import signal

    def _die(signum, frame):  # noqa: ARG001 - signal handler signature
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        try:
            signal.signal(sig, _die)
        except ValueError:  # pragma: no cover - not the main thread
            pass


def _record_error(payload: dict, where: str, exc: Exception) -> None:
    msg = f"{where}: {type(exc).__name__}: {exc}"
    payload.setdefault("errors", []).append(msg[:500])
    print(f"bench section failed ({msg[:2000]})", file=sys.stderr)


def _run_section(payload: dict, name: str, fn, spark=None) -> None:
    """Run one bench section; a failure records an error instead of killing
    the run (round 6 lost its whole artifact to one unguarded executor
    OOM). The artifact is re-emitted after EVERY section: a caller parses
    the LAST stdout line, so even an un-trappable SIGKILL loses at most the
    in-flight section.

    ``SPARK_GRAFT_FAIL_SECTION=<name>`` injects a deterministic failure at
    the top of the named section — the pytest fault-injection hook that
    proves the compact line still emits when a section dies.
    """
    if os.environ.get("SPARK_GRAFT_FAIL_SECTION") == name:
        payload.setdefault("errors", []).append(
            f"{name}: RuntimeError: injected failure (SPARK_GRAFT_FAIL_SECTION)"
        )
        print(f"bench section {name}: injected failure", file=sys.stderr)
        _emit(payload)
        return
    if os.environ.get("SPARK_GRAFT_SLEEP_SECTION") == name:
        # test hook: park here so the signal-survival pytest can SIGTERM the
        # process deterministically mid-section (after >=1 emitted line)
        time.sleep(600)
    if spark is not None:
        try:  # label every Spark job with its bench section (the round-7
            # 20 MB-task-closure hunt had to be done by stage-number
            # archaeology; this makes the next one a log grep)
            spark.sparkContext.setJobDescription(f"bench:{name}")
        except Exception:  # pragma: no cover - labeling must never kill
            pass
    # 1-min load average before/after every section: this box shows heavy
    # noisy-neighbor contention some days (round-10: headline samples
    # spanned 10.8-45.2 s at load-avg ~3 with no local process), and the
    # artifact itself must carry the evidence that distinguishes ambient
    # inflation from a plan regression.
    try:
        load_before = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover - platform without getloadavg
        load_before = None
    t0 = time.monotonic()
    try:
        fn()
    except Exception as exc:  # noqa: BLE001 - bench must still emit
        _record_error(payload, name, exc)
    payload.setdefault("section_seconds", {})[name] = round(time.monotonic() - t0, 1)
    try:
        load_after = round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        load_after = None
    if load_before is not None or load_after is not None:
        payload.setdefault("ambient", {}).setdefault("loadavg_by_section", {})[
            name
        ] = [load_before, load_after]
    _emit(payload)


def _section_hygiene(spark) -> None:
    """Drop cached relations between sections so one section's persists
    cannot push a later section over the heap (the round-6 OOM rode an
    8.2M-row persisted shingle set left over from the crossover section)."""
    try:
        spark.catalog.clearCache()
    except Exception:  # pragma: no cover - hygiene must never kill the run
        pass


class _Skip(BaseException):
    """A gated unit the budget left cannot cover: a BaseException, like
    SIGTERM's SystemExit, so ``except Exception`` guards let it through."""


class _Gate:
    """The measured gate. A gated unit — a section, a point
    ``<section>:<point>``, a replica build ``replica:<name>`` — runs while
    its figure in the previous run's ``gate_seconds`` (none: ``unmeasured``,
    default 0) fits the budget left and half the total budget, and is
    named in ``sections_skipped`` otherwise. This run's ``gate_seconds`` start as the previous run's, so
    a unit skipped or not selected keeps its figure. A unit that runs
    records its seconds less those of the units run inside it, so each
    second is charged once; a unit cut short (an error, the SIGTERM
    unwind) records its seconds so far, a lower bound."""

    def __init__(self, payload: dict, prior: dict):
        self.payload, self.prior = payload, prior
        self.seconds = payload.setdefault("gate_seconds", dict(prior))
        self.open: list[list] = []  # [name, start, inner units' seconds], outermost first

    def rest(self) -> float:
        """Seconds the units in flight still need by their figures."""
        now = time.monotonic()
        return sum(max(0.0, self.prior.get(n, 0.0) - (now - t0)) for n, t0, _ in self.open)

    @contextlib.contextmanager
    def unit(self, name: str, *, unmeasured: float = 0.0, extra: float = 0.0):
        """Run the ``with`` body as unit ``name`` needing its figure plus
        ``extra`` seconds; raise ``_Skip`` when the budget left is short."""
        figure = self.prior.get(name, unmeasured)
        need = figure + extra
        # one unit may take at most half the run, so a single costly point
        # cannot starve every later section of the window
        if need > budget_remaining() or figure > total_budget_sec() / 2:
            self.payload.setdefault("sections_skipped", []).append(
                f"{name}: budget (needs {need:.0f}s, {budget_remaining():.0f}s of "
                f"{total_budget_sec():.0f}s left, at most half per unit)"
            )
            raise _Skip(name)
        t0 = time.monotonic()
        self.open.append([name, t0, 0.0])
        skipped = False
        try:
            yield
        except _Skip:  # a replica build the unit starts with did not fit
            skipped = True
            raise
        finally:
            inner = self.open.pop()[2]
            if not skipped:  # done, failed or cut short (then a lower bound)
                took = time.monotonic() - t0
                if self.open:
                    self.open[-1][2] += took
                self.seconds[name] = round(took - inner, 1)


class _Run:
    """What the sections read: the session, the catalog, the headline SF,
    the payload, the measured gate and the 10x/100x replicas of the
    headline SF (labelled sf1/sf10, their names at the default sf0.1),
    resolved (built on first use, as a gated unit) only when a section that
    needs one runs."""

    def __init__(self, spark, sf_dir: str, payload: dict, gate: _Gate):
        self.spark, self.sf_dir, self.payload, self.gate = spark, sf_dir, payload, gate
        self.queries = get_queries()

    @property
    def sf1(self) -> str:
        # 10x: shuffle/AQE behavior at real shuffle sizes
        return self._replica("sf1", 10)

    @property
    def sf10(self) -> str:
        # 100x (~1.7 GB parquet, 60M-row lineitem, 500k docs in bounded
        # near-dup families): 'the plan would hold at 100x' as a number
        return self._replica("sf10", 100)

    def _replica(self, name: str, factor: int) -> str:
        """An absent replica is built as unit ``replica:<name>``, which
        must fit on top of what the running section still needs. A build
        never measured starts only while half the total budget is left."""
        d: str | None = str(_DATA / name)
        if not _replica_built(name, self.sf_dir):
            with self.gate.unit(
                f"replica:{name}", unmeasured=total_budget_sec() / 2, extra=self.gate.rest()
            ):
                d = _replica_dir(name, factor, self.sf_dir)
        if d is None:  # the build error is on stderr
            raise RuntimeError(f"{name} replica unavailable")
        return d

    def replicas(self) -> list[tuple]:  # for _per_point
        return [("sf1", lambda: self.sf1), ("sf10", lambda: self.sf10)]

    def per_replica(self, section: str, bench) -> dict:
        """``{label: bench(spark, sf_dir)}`` over the replica points."""
        return _per_point(self.gate, section, self.replicas(), lambda _, d: bench(self.spark, d))[0]

    def materialize(self, name: str, sf_dir: str) -> None:
        _materialize(self.queries[name](self.spark, sf_dir))


def _per_point(gate: _Gate, section: str, points: list[tuple], fn) -> tuple[dict, list[str]]:
    """``fn(label, sf_dir)`` per (label, resolver) point, each a gated unit
    ``<section>:<label>`` that resolves its directory first, so a skipped
    point leaves the others running. Returns results by label, skipped labels."""
    done, skipped = {}, []
    for label, resolve in points:
        try:
            with gate.unit(f"{section}:{label}"):
                done[label] = fn(label, resolve())
        except _Skip:
            skipped.append(label)
    return done, skipped


def _headline(r: _Run) -> dict:
    # Warm the JVM/codegen and the Parquet reader path once so query
    # timings measure the plans, not session startup.
    r.spark.range(1).count()
    r.spark.read.parquet(os.path.join(r.sf_dir, "region.parquet")).count()
    timings, spread, pass_totals = _time_queries(r.spark, r.queries, r.sf_dir)
    r.payload.setdefault("ambient", {})["headline_pass_totals"] = pass_totals
    return {
        "queries": timings,
        "queries_spread": spread,
        "value": round(sum(timings.values()), 3),
    }


def _extended(r: _Run) -> dict:
    return {
        "queries_extended": {
            name: _timed(lambda: r.materialize(name, r.sf_dir)).median
            for name in EXTENDED_QUERIES
        }
    }


def _sf1_queries(r: _Run) -> dict:
    timings, spread, pass_totals = _time_queries(r.spark, r.queries, r.sf1)
    r.payload.setdefault("ambient", {})["sf1_pass_totals"] = pass_totals
    return {
        "queries_sf1": timings,
        "queries_sf1_spread": spread,
        "value_sf1": round(sum(timings.values()), 3),
        "sf1": r.sf1,
    }


def _scale_probe(r: _Run, key: str, sf_dir: str, names: tuple[str, ...]) -> dict:
    """Single-shot replica points for plan-sensitive rows. Each point is a
    gated unit ``<key>:<name>`` (an in-flight materialization can't be
    truncated) and guarded, so a failure is a named error, not a lost
    section."""
    probe: dict[str, float] = {}
    for name in names:
        try:
            with r.gate.unit(f"{key}:{name}"):
                probe[name] = _timed(lambda: r.materialize(name, sf_dir)).median
        except _Skip:
            continue
        except Exception as exc:  # noqa: BLE001 - keep the section alive
            _record_error(r.payload, f"{key}:{name}", exc)
    return {key: probe}


def _contamination_sf10(r: _Run) -> dict:
    # Stress and crossover are one section: both need the sf10 replica and
    # price the same operator family.
    r.payload["contamination_stress"] = _contamination_stress(r.spark, r.sf10)
    _section_hygiene(r.spark)
    return {"contamination_crossover": _contamination_crossover(r.spark, r.sf10)}


def _linkage(r: _Run) -> dict:
    def bench(label: str, sf_dir: str) -> dict:  # one pass at the costly sf10
        return _linkage_bench(r.spark, sf_dir, passes=3 if label == "sf1" else 1)

    return {"linkage_bench": _per_point(r.gate, "linkage_bench", r.replicas(), bench)[0]}


def _bitext_serve(r: _Run) -> dict:
    points = [(Path(r.sf_dir).name, lambda: r.sf_dir), ("sf1", lambda: r.sf1)]
    return {"bitext_serve_bench": _bitext_serve_bench(r.spark, r.queries, points, r.gate)}


def _sf10_scaling(r: _Run) -> dict:
    """FULL-corpus banded LLM-tier paths (no doc_id caps) at the headline
    SF (labelled by its directory name, ``sf0.1`` by default) / 10x /
    100x, so per-query scaling factors are measured, not argued. A query's
    3 samples run consecutively per scale point, so samples 2-3 are warm
    and the median is the plan, not the page cache (interleaving 14 other
    sf10 inputs between samples once manufactured a ~78 s phantom simhash
    regression). Each point is a gated unit ``sf10_scaling:<query>@<sf>``
    that resolves its replica; a point the gate skips is named in
    ``sf10_truncated``, a failed point is a named error."""
    scaling: dict = {n: {} for n in SF10_QUERIES}
    spread: dict = {n: {} for n in SF10_QUERIES}
    truncated: list[str] = []
    dirs: dict[str, str] = {}
    resolve = {Path(r.sf_dir).name: lambda: r.sf_dir, "sf1": lambda: r.sf1, "sf10": lambda: r.sf10}
    for name in SF10_QUERIES:
        for label, sf_dir in resolve.items():
            key = f"{name}@{label}"
            try:
                with r.gate.unit(f"sf10_scaling:{key}"):
                    d = dirs[label] = sf_dir()
                    t = _timed(lambda: r.materialize(name, d), passes=3)
            except _Skip:
                truncated.append(key)
                continue
            except Exception as exc:  # noqa: BLE001 - keep the section alive
                _record_error(r.payload, f"sf10:{key}", exc)
                continue
            scaling[name][label] = t.median
            spread[name][label] = t.spread + [len(t.samples)]
    out = {
        "queries_scaling_full_corpus": scaling,
        "queries_scaling_spread": spread,
        "value_sf10": round(sum(v.get("sf10", 0.0) for v in scaling.values()), 3),
        "sf10": dirs.get("sf10"),
        "sf10_meter": "per-query grouped: 3 consecutive samples per (query, scale) "
        "point — committed medians are warm numbers",
    }
    if truncated:
        out["sf10_truncated"] = truncated
    return out


#: The run, in order: (name, fn). ``fn(run)`` returns the payload keys it
#: measured. Order = evidence value per second: the headline artifact and
#: the sf0.1/sf1 trend lines first, the operator benches next, the
#: sf10-heavy and self-bounding sections last.
SECTIONS = [
    ("headline", _headline),
    ("extended", _extended),
    ("sf1", _sf1_queries),
    ("scale_probe", lambda r: _scale_probe(r, "scale_probe_sf1", r.sf1, SF1_PROBES)),
    ("scale_probe_sf10", lambda r: _scale_probe(r, "scale_probe_sf10", r.sf10, SF10_PROBES)),
    ("acid_dml", lambda r: {"acid_dml_bench": _acid_dml_bench(r.spark, r.sf_dir)}),
    ("skipping", lambda r: {"skipping_bench": _skipping_bench(r.spark, r.sf_dir)}),
    ("streaming", lambda r: {"streaming_bench": _streaming_bench(r.spark, r.sf_dir)}),
    ("skew", lambda r: {"skew_bench": _skew_bench(r.spark, r.sf_dir)}),
    ("ivf_build", lambda r: {"ivf_build_bench": r.per_replica("ivf_build", _ivf_build_bench)}),
    (
        "semdedup_scale",
        lambda r: {"semdedup_scale_bench": r.per_replica("semdedup_scale", _semdedup_scale_bench)},
    ),
    ("contamination_sf10", _contamination_sf10),
    (
        "freq_maintenance",
        lambda r: {"freq_maintenance_bench": _freq_maintenance_bench(r.spark, r.sf_dir)},
    ),
    (
        "overlap_maintenance",
        lambda r: {"overlap_maintenance_bench": _overlap_maintenance_bench(r.spark, r.sf_dir)},
    ),
    (
        "cardinality_maintenance",
        lambda r: {
            "cardinality_maintenance_bench": _cardinality_maintenance_bench(r.spark, r.sf_dir)
        },
    ),
    (
        "incremental_dedup",
        lambda r: {"incremental_dedup_bench": _incremental_dedup_bench(r.spark, r.sf1)},
    ),
    ("linkage_bench", _linkage),
    ("trainers", lambda r: {"trainer_bench": _trainer_bench(r.spark, r.sf_dir)}),
    ("pagerank_scale", lambda r: {"pagerank_scale_bench": _pagerank_scale_bench(r.spark)}),
    (
        "ivfpq_serve",
        lambda r: {"ivfpq_serve_bench": r.per_replica("ivfpq_serve", _ivfpq_serve_bench)},
    ),
    ("bitext_serve", _bitext_serve),
    ("exact_join_bench", lambda r: {"exact_join_bench": _exact_join_bench(r.spark, r.sf_dir)}),
    ("sf10_scaling", _sf10_scaling),
]


def _selected(sections: list) -> list:
    """The sections named in SPARK_GRAFT_SECTIONS (comma list; unset or
    empty = all), in table order. An unknown name is an error, not a silent
    no-op."""
    want = {s.strip() for s in os.environ.get("SPARK_GRAFT_SECTIONS", "").split(",")}
    want.discard("")
    if not want:
        return sections
    unknown = want - {name for name, _ in sections}
    if unknown:
        raise ValueError(f"SPARK_GRAFT_SECTIONS: unknown section(s) {sorted(unknown)}")
    return [(name, fn) for name, fn in sections if name in want]


def _run_sections(payload: dict, sections: list, gate: _Gate, run=None) -> None:
    """Run ``sections`` in order, each a gated unit of ``gate`` (a skipped
    one is named in ``sections_skipped``) and guarded by ``_run_section``."""
    spark = run.spark if run is not None else None
    for name, fn in sections:
        try:
            with gate.unit(name):
                _run_section(payload, name, lambda fn=fn: payload.update(fn(run)), spark)
        except _Skip as skip:
            if skip.args[0] != name:  # the replica it starts with did not fit
                payload["sections_skipped"].append(f"{name}: {skip.args[0]} not built")
            continue
        if spark is not None:
            _section_hygiene(spark)


def _prior_payload() -> dict:
    """The previous run's BENCH_FULL.json, which this run overwrites: its
    ``gate_seconds`` are the gate's figures (a payload from before the gate
    kept only ``section_seconds``)."""
    try:
        return json.loads(_FULL_PATH.read_text())
    except (OSError, ValueError):
        return {}


def main() -> None:
    """Emit-on-partial entry: the SIGTERM handler turns a caller's
    timeout into a ``finally`` emit, ``_run_section`` re-emits after every
    section, and the measured gate (``_Gate``) skips, by name, what the
    budget left cannot cover instead of overrunning the window."""
    install_signal_handlers()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    payload: dict = {
        "metric": "headline_queries_total_runtime_warm",
        "value": None,
        "unit": "sec",
        "queries": {},
        "sf": sf_dir,
        "mode": "pre-warmed catalog + median of 3 timed runs per query (spread recorded)",
        "materialization": "noop-write (all output columns computed)",
        "index_cache": "ivf centroids+lists AND pq codebook+codes persisted across runs (.ivf_cache)",
    }
    prior = _prior_payload()
    gate = _Gate(payload, prior.get("gate_seconds", prior.get("section_seconds", {})))
    try:
        sections = _selected(SECTIONS)
        run = _Run(get_spark("bench"), sf_dir, payload, gate)
        _run_sections(payload, sections, gate, run)
    except BaseException as exc:  # noqa: BLE001 - record, emit (finally), re-raise
        payload.setdefault("errors", []).append(
            f"fatal: {type(exc).__name__}: {exc}"[:500]
        )
        raise
    finally:
        _emit(payload)


def _emit(payload: dict) -> None:
    """Write the full payload + print the compact line. Reached from
    ``main``'s ``finally`` so the compact stdout line — previously the LAST
    statement of the happy path — survives any mid-run death."""
    # The FULL multi-section payload (sf1/sf10 scaling, skew, streaming,
    # spreads) goes to a committed file: round 4's single-line dump outgrew
    # the driver's 2000-char stdout tail window and the official artifact
    # recorded `parsed: null`. The FINAL stdout line is a compact
    # sf0.1-headline-only JSON guaranteed to fit that window.
    try:
        _FULL_PATH.write_text(json.dumps(payload, indent=2) + "\n")
        print(f"full payload written to {_FULL_PATH}", file=sys.stderr)
    except Exception as exc:  # pragma: no cover - compact line must still print
        print(f"BENCH_FULL.json write failed: {exc}", file=sys.stderr)
    print(build_compact_line(payload))
    sys.stdout.flush()


if __name__ == "__main__":
    main()

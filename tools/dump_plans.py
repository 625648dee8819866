"""Regenerate PLANS.md: the physical plans of the scale-critical catalog
queries, as evidence that the shapes the docs claim (broadcasts, pushed
filters, partial aggregation, no cartesians) are what Catalyst actually
plans. Run: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from data_ingestion_bra_spark.plans.registry import get_queries
from data_ingestion_bra_spark.session import get_spark

#: the queries whose plan shape carries the 100 TB argument, with the one
#: property worth reading for in each.
SHOWCASE: list[tuple[str, str]] = [
    ("flagship_customer_orders", "filtered dim broadcasts; fact side never shuffles for the join"),
    ("agg_pricing_summary", "partial (map-side) + final HashAggregate; shipdate filter pushed to the scan"),
    ("shipping_priority_top10", "TakeOrderedAndProject top-k — no global sort"),
    ("join_customers_per_region", "snowflake chain: both dims broadcast, zero SortMergeJoin"),
    ("dedup_minhash_lsh", "banded equi-join candidates — nothing pairs-shaped before the bucket join"),
    ("dedup_simhash_full", "full-corpus pigeonhole bands: ONE map-side-combinable fingerprint shuffle, candidates from a (band,val) equi-join"),
    ("dedup_contamination_check", "benchmark shingle set broadcasts; corpus side streams from the scan"),
    ("dedup_contamination_bloom", "fixed-size bloom bitmap attaches via 1-row broadcast; codegen hash probes pre-filter the scan before the exact confirm join"),
    ("text_langid_nb", "trained weight table broadcasts; trigram explode is row-local; ONE map-side-combinable score shuffle"),
    ("similarity_topk_ivf", "serve path: index parquet scan + broadcast centroid assignment of queries + cell equi-join"),
    ("text_pii_redaction", "pure projection — zero Exchange, rides the scan at any scale"),
    ("text_pack_sequences", "running-offset window partitioned BY DOCUMENT (never a global window)"),
    ("curation_pipeline", "gates are scan-resident filters; the only shuffle is the dedup hash partition"),
    ("curation_model_pipeline", "trained-model gate is a codegen dot product at the scan — no model server, no UDF; one dedup shuffle"),
    ("events_session_windows", "session_window aggregation — one shuffle on user_id"),
    ("window_range_frame_trailing30d", "RANGE frame over integer day numbers — one shuffle on the partition key"),
    ("dedup_semantic_semdedup", "SemDeDup: index scan + broadcast centroid join; pairwise cosine ONLY inside the cell equi-join; no iteration"),
    ("text_perplexity_lm", "LM scoring: both weight tables broadcast; bigram explode row-local; ONE map-side-combinable score shuffle"),
    ("incremental_merge_upsert", "MERGE upsert: changeset keys broadcast into a LeftAnti — the base table never shuffles"),
    ("scd2_event_type_history", "SCD2: lag + running version + run aggregation + lead, ALL on one entity-key partitioning"),
    ("text_pack_sequences_bpe", "token-budget packing: BPE encode is a scan-resident literal-replace chain; running-offset window partitioned BY DOCUMENT"),
    ("sample_weighted_by_domain", "DoReMi reweighting: ~|domains|-row totals broadcast back; per-doc decisions are codegen hash thresholds — the corpus never shuffles"),
    ("dedup_repeated_passages", "ExactSubstr spans: the ~40x gram stream persists DISK_ONLY and BOTH consumers read the cache (two InMemoryTableScans, one gram build) — bodies never shuffle"),
    ("text_cut_repeated_passages", "ExactSubstr REMOVE: spans collapse to per-doc arrays; the splice is a row-local higher-order aggregate after one left join"),
    ("multimodal_image_jpeg_roundtrip", "lossy decode: synth + Huffman/DCT decode both Arrow-batched MapInPandas, zero shuffles"),
    ("dedup_contamination_auto", "auto-routed contamination: one tiny benchmark-side sizing aggregate picks the variant (exact_broadcast here); identical confirm semantics on every route"),
    ("multimodal_video_mp4_meta", "ISO-BMFF box walk: synth + header parse both Arrow-batched MapInPandas, zero shuffles, zero codec decode"),
    ("salted_distinct_parts", "holistic distinct under skew: VALUE-hash salt makes per-salt distinct classes disjoint — two map-side-combinable hash aggs, no single-task set merge"),
    ("txlog_time_travel", "time travel: each snapshot is a plain parquet scan of ONLY that version's files (file sets resolved from KBs of log, zero listings)"),
    ("web_url_parse_normalize", "URL parse + canonicalize: pure projection — zero Exchange, rides the scan at any scale"),
    ("curation_web_pipeline", "WARC→HTML→blocklist→gate→dedup in ONE plan: regex chain scan-resident, blocklist a broadcast LeftAnti, ONE fingerprint shuffle for the dedup"),
    ("web_link_pagerank", "PageRank rounds: per iteration one src equi-join + one partial-aggregable dst groupBy — integer fixed point, no float drift"),
    ("dedup_incremental_batch", "incremental dedup: batch bands equi-join the corpus signature store — candidate cost tracks the BATCH, never a corpus self-join"),
    ("web_robots_filter", "robots politeness: per-domain rule arrays broadcast; the prefix test is a row-local exists()"),
    ("txlog_incremental_matview", "matview refresh output: the view reads as a plain scan of its committed state — refresh cost lives in delta-sized maintenance commits, not here"),
    # round 9
    ("text_heavy_hitters", "heavy hitters: MG summaries (ArrowEval MapInPandas, capacity-bounded output) feed a broadcast LEFT SEMI; the exact recount groupBy partial-aggregates — the full distinct-key shuffle never exists"),
    ("web_link_triangles", "triangles: canonicalize + degree join + wedge self-join + closing-edge join, ALL equi-joins; the orientation bound lives in the data, the plan stays hash joins"),
    ("dedup_sorted_neighborhood", "SNM fuzzy pairs: window partitioned by the 2-char key block (never a single global sort partition); lead() pairs + codegen levenshtein"),
    ("events_drift_tv", "drift monitor: one groupBy(day,type) partial-agg touches the corpus; the day-shift full-outer grid and both totals joins run over the |days×types| aggregate"),
    ("events_anomaly_mad", "volume monitor: one groupBy(day) partial-agg; both rank-median windows run over the |days|-row aggregate (single-partition by design at that size)"),
    ("sample_temperature_multilingual", "alpha-sampling: one groupBy(lang) partial-agg; sqrt/normalize windows over the |langs|-row aggregate"),
    ("similarity_bitext_mining", "bitext margin (exact twin): side A broadcasts (allow-listed BNLJ baseline); both rank windows partition by one side's id — per-query-sized frames"),
    ("curation_rejection_report", "rejection audit: gate metrics scan-resident, ONE 1-row partial-agg, constant-size stack reshape"),
    # round 10
    ("similarity_bitext_ivf", "bitext SERVE path: persisted inverted-list scan for side B (no corpus re-assignment), broadcast-centroid multi-probe for side A, candidates from the cell EQUI-join — the bipartite product never exists"),
    ("text_winnowing_overlap", "winnowing: gram hashes are row-local integer folds; selection is one frame-bounded window MIN keyed by doc; the cross-doc join is a hot-capped fingerprint EQUI-join"),
    ("dedup_doc_containment", "containment: hot-capped distinct-shingle universe, candidate pairs from the shingle equi-join, per-pair count + size join both partial-aggregable"),
    ("text_pmi_collocations", "PMI: unigram/bigram counts partial-aggregate; the 1-row corpus total broadcasts; both count joins are term equi-keys"),
    ("text_keyness_by_source", "keyness: four partial-agg groupBys off one tokenization pass; source totals broadcast; per-source top-10 window"),
    ("events_time_weighted_value", "TWAP: one user-keyed lead() window + one integer weighted-sum partial-agg groupBy"),
    ("approx_distinct_users_kmv", "KMV sketch: one (group,hash) distinct shuffle + per-group bottom-k window; estimate is a codegen floor division — the sketch itself is hash-checkable"),
    ("text_phrase_search", "phrase query: per-term filtered postings chained by (doc, pos+offset) equi-joins — cost tracks the rarest posting list, not corpus bytes"),
    ("multimodal_image_jpeg_gradient", "lossy audit: synth + Annex-K encode + decode + error verdicts in ONE Arrow-batched MapInPandas — pixels never shuffle, 8 scalars per image do"),
    # round 11
    ("multimodal_image_jpeg_gradient_420", "4:2:0 audit: chroma downsample + subsampled-MCU decode + replication upsample inside the same single MapInPandas — still zero shuffles"),
    ("approx_term_counts_cms", "Count-Min: ONE partial-agg groupBy over a 3-way stacked projection builds the grid; probes are a summary-sized broadcast join — at most depth×width rows ever shuffle"),
    ("multimodal_audio_mulaw_roundtrip", "G.711 companding: synth + encode + decode + exact stats in ONE Arrow-batched MapInPandas — samples never leave the batch"),
    ("events_trend_theil_sen", "Theil-Sen: one partial-agg daily rollup touches the corpus; the O(d²) pair self-join runs over the checkpointed |days×types| aggregate"),
    ("linkage_customers_fellegi_sunter", "Fellegi-Sunter: two projections + ONE blocking equi-join; agreement vector, score and verdict are row-local codegen — zero added exchanges"),
    ("approx_quantiles_histogram", "histogram quantiles: ONE partial-agg (group,bin) groupBy touches the corpus; cumsum + rank selection run over <= n_bins summary rows per group"),
    ("corpus_shard_rendezvous", "HRW resharding: assignment is a row-local struct argmax riding the scan; the only aggregation is the 16-cell (shard8, shard9) rollup"),
    ("sketch_users_intersection_kmv", "KMV set algebra: sketches from one (group,hash) distinct shuffle; every pair-wise stage after is |pairs| x k summary rows"),
    # round 12
    ("events_forecast_backtest_snaive", "forecast backtest: one partial-agg daily rollup touches the corpus (checkpointed — feeds bounds + dense join); densify/lag/score all run over |days×types| rows"),
    ("events_forecast_backtest_hw", "Holt-Winters: the sequential recurrence is an aggregate() HOF fold over each type's collected daily array — corpus work is still the ONE rollup; fold state is 10 BIGINTs per type"),
    ("text_winnowing_overlap_incremental", "overlap serve path: store side winnowed once (checkpointed, feeds hot-count + join); batch side one winnowing pass + one fp equi-join — never a corpus self-join"),
    ("multimodal_image_jpeg_progressive", "progressive JPEG audit: baseline + 10-scan progressive encode/decode + bit-identity verdict in ONE Arrow-batched MapInPandas — scan data never shuffles"),
    # round 12b
    ("events_changepoint_cusum", "CUSUM: one partial-agg daily rollup touches the corpus; the closed-form statistic is cumsum + running-min windows over |days×types| rows — no recursion, no UDF"),
    ("events_trend_mann_kendall", "Mann-Kendall: same one-rollup shape as Theil-Sen; S/tie/variance aggregates partial-aggregate over the days×types relation; the 128-bit verdict is codegen decimal arithmetic"),
    ("events_survival_kaplan_meier", "Kaplan-Meier: ONE sessionization window on user_id + partial-agg rollups; the truncated-product fold is an aggregate() HOF over per-cohort step arrays; corpus-end anchor is a 1-row broadcast attach"),
    ("join_bloom_runtime_filter", "runtime bloom join: bitmap builds from one distinct+explode groupBy, ships as a 1-row broadcast, probes are codegen md5 expressions at the scan; only survivors reach the broadcast confirm join — the fact table NEVER shuffles"),
    ("web_link_communities_lpa", "LPA communities: per round one adjacency equi-join + one partial-aggregable (node,label) count + a per-node row_number — pagerank's per-round cost class, labels checkpointed per round"),
    ("dedup_jaccard_prefix_filter", "prefix-filter exact join: df groupBy + per-DOC window sort (global order is the (df,shingle) tuple — no vocabulary-wide rank); candidates from the prefix-shingle equi-join; same verify tier as LSH"),
    ("multimodal_audio_lpc_residual", "FLAC predictor audit: PCM regenerates as an array expression, three residual folds run row-local in codegen — ZERO exchanges, rides the scan"),
]


def plan_str(spark, df, mode: str = "formatted") -> str:
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("dump-plans")
    queries = get_queries()
    out = [
        "# PLANS — physical plans of the scale-critical queries",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}` (AQE initial plans;",
        "runtime re-optimization can only improve these). Each section names the",
        "property the plan must show; `tests/test_plans.py` asserts the same",
        "properties so regressions fail CI, not review.",
        "",
    ]
    for name, why in SHOWCASE:
        df = queries[name](spark, sf_dir)
        p = plan_str(spark, df, "simple").strip()
        out += [f"## {name}", "", f"**Reads as:** {why}", "", "```", p, "```", ""]
    Path(__file__).resolve().parents[1].joinpath("PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()

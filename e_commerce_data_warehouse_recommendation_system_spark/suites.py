"""Composite digest suites: the driver-visible form of every micro-operator.

The verify driver checks only the first ``registry.DRIVER_QUERY_BUDGET`` (50)
registered queries. Flagship queries keep their own slots; the ~60 micro
operators from SURVEY.md §2 (projections, joins, aggregations, windows, set
ops, scalar functions, catalog, ETL dims, text profile, sinks)
register as *components* — full queries with full-result oracles, checked
individually by ``scripts/check_correctness.py --components`` — and each
family below collapses into ONE oracle-checked digest query
(operators/digest.py), so the complete inventory fits the driver window with
zero coverage loss: a value bug in any component still flips its suite's
driver row red.

Suite membership mirrors SURVEY.md §2's families; tests/test_registry_contract.py
pins the budget and the family coverage so a future import reshuffle can't
silently evict a flagship query again.
"""

from __future__ import annotations

# Importing the component modules runs their @component registrations.
import e_commerce_data_warehouse_recommendation_system_spark.operators.relational  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.plans.etl  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.plans.queries  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.operators.text  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.operators.quality  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.recommend.queries  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.recommend.graph  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.sources.writer_queries  # noqa: F401
import e_commerce_data_warehouse_recommendation_system_spark.streaming.queries  # noqa: F401

from e_commerce_data_warehouse_recommendation_system_spark.operators.digest import register_suite
from e_commerce_data_warehouse_recommendation_system_spark.registry import _COMPONENTS

#: suite name -> component names (order = digest row grouping, stable)
SUITE_SPECS: dict[str, list[str]] = {
    # §2.2 projections / filters / predicates
    "rel_scan_filter_suite": [
        "p2_projection",
        "p4_filter_timestamp",
        "p5_limit_offset",
        "p6_null_drop",
        "p7_null_fill",
        "p8_isin",
        "p9_column_guard",
    ],
    # §2.3 equi-joins (broadcast dim, fan-out, inner+agg) + the streaming
    # twin of the broadcast dim lookup (stream-static enrichment)
    "rel_join_suite": [
        "j1_left_broadcast",
        "j2_fanout",
        "j3_inner_agg",
        "stream_enrich_segments",
        # incremental maintenance of a join view: delta-join + partial merge
        "j_ivm_join_view",
    ],
    # §2.3 semi/anti/integrity joins + the runtime bloom-filter reduction
    "rel_semi_anti_suite": [
        "j4_semi",
        "j5_anti",
        "j6_fk_integrity",
        "j_bloom_reduce",
    ],
    # custom joins: range-binned interval join + salted skew join + the
    # stream-stream time-bound twin of the interval join
    "rel_range_salted_suite": [
        "j_range_binned",
        "j_salted_skew",
        "stream_pairs_range_join",
        # LEFT OUTER stream-stream interval join: watermark-gated null
        # padding, expiry semantics probed + pinned
        "stream_left_outer_enrich",
    ],
    # §2.4 aggregations (incl. the HLL bound contract, exact percentiles,
    # decimal-moment correlation, fixed-width histogram)
    "rel_agg_suite": [
        "a1_count_star",
        "a3_summary_stats",
        "a4_null_profile",
        "a5_group_collect",
        "a6_distinct_count",
        "a6b_approx_distinct_bound",
        "a8_cube",
        "a10_shape_profile",
        "a11_percentiles",
        "a12_corr_moments",
        "a13_histogram",
        # equi-depth companion: equal-population buckets at exact quantiles
        "a16_equidepth_histogram",
        "a11b_approx_percentile_bound",
        # skew diagnostic: top-K keys + traffic share (salting decision input)
        "a14_heavy_hitters",
        # growth analytics: cohort retention triangle over events
        "cohort_retention",
        # DQ: per-segment exact-percentile tail-outlier detection
        "dq_value_outliers",
        # DQ: the documents-table ingestion contract incl. the derived
        # n_chars==length(text) integrity rule (round 11)
        "dq_documents_checks",
        # DQ: snapshot-over-snapshot corpus drift monitor — per-lang share
        # and length profile deltas in exact integer micro (round 12)
        "dq_corpus_drift",
        # header-vs-lines reconciliation in exact scale-4 integer units
        "dq_reconcile_totals",
        # mergeable HLL sketches: daily -> monthly distinct via union
        "a15_sketch_rollup",
        # count-min sketch: the third classic sketch, one-sided-error
        # bounds checked against SQL-exact heavy hitters
        "a18_cms_heavy_hitters",
        # ABC/Pareto cumulative-revenue banding (exact integer units)
        "a19_abc_pareto",
        # supply-chain concentration: per-part Herfindahl index
        "a21_dual_sourcing_hhi",
        # robust daily-volume anomaly band (median/MAD, exact halves)
        "events_anomaly_days",
        # marketing analytics: last-touch channel credit for purchases
        "attribution_last_touch",
        # experimentation: hash-assigned A/B readout + two-proportion z
        "ab_experiment_metrics",
        # planning: seasonal-naive forecast baseline + APE backtest
        "forecast_seasonal_naive",
        # engagement: DAU / rolling WAU / stickiness (windowed distinct)
        "events_dau_wau",
        # conversion funnel with per-stage 7-day deadlines
        "funnel_windowed",
        # fulfilment: per-priority ship-within-SLA share + mean days
        "delivery_sla",
        # procurement: per-supplier revenue/returns/ship-days scorecard
        "supplier_scorecard",
        # §2.11 UDAF surface: grouped-agg pandas UDF (per-customer Gini)
        "a17_gini_udaf",
        # closed-form OLS revenue trend from exact integer moments
        "a22_ols_trend",
        # forensic DQ: Benford first-digit conformance profile
        "a23_benford_digits",
        # customer-lifetime-value heuristic (AOV × rate × 12mo horizon)
        "a25_clv_segments",
        # monthly acquisition-vs-retention revenue split (first-month rule)
        "a26_new_vs_returning",
        # bitmap-index distinct counting (exact + mergeable, HLL's twin)
        "a27_bitmap_distinct",
        # bitwise OR/AND/XOR flag-mask rollups (mergeable 8-byte state)
        "a28_bitwise_flags",
    ],
    # §2.5 dedup + §2.6 windows
    "rel_window_dedup_suite": [
        "d1_dedup_keep_first",
        "d2_dedup_pair_subset",
        "d3_distinct",
        # regular-grid resampling: gap fill + forward fill per user
        "ts_resample_ffill",
        # Holt level+trend smoothing: per-series sequential state via
        # applyInPandas, recursive-CTE oracle, bit-exact at alpha=0.5
        "ts_holt_forecast",
        # first-order Markov next-event transition matrix (lead window)
        "session_transitions",
        # top user journeys: first-3-event session paths, vocabulary-bounded
        "session_paths_topk",
        "w1_surrogate_key",
        "w1b_surrogate_key_two_phase",
        "w2_category_codes",
        "w3_topk_per_group",
        "w4_running_total",
        "w5_analytic_functions",
        "w6_rolling_7day_revenue",
        "w7_windowed_distinct_count",
        # sweep-line interval concurrency (two-phase prefix sums)
        "w8_interval_concurrency",
        # gaps-and-islands: longest consecutive-month activity streaks
        "w9_order_streaks",
        # repeat-purchase cadence: banded inter-purchase day gaps (LAG)
        "w10_interpurchase_gaps",
        # CUSUM mean-shift detection (N-scaled integer form, exact argmax)
        "ts_cusum_shift",
        # classical additive decomposition (centered 12-mo MA, ×24 exact)
        "ts_seasonal_decompose",
        # streaming dedup: watermarked exactly-once repair over a replayed
        # source
        "stream_dedup_replay",
        # native session_window as a STREAM (boundary-exact vs batch oracle)
        "stream_session_window_native",
        # sliding (overlapping) event-time windows: hourly trending top-k
        "stream_sliding_topk",
        # (session_window_native was here through r4; it now holds its own
        # driver slot — VERDICT r4 item 6)
    ],
    # §2.7 sorts/limits + §2.8 set ops + §2.9 scalar functions
    "rel_set_sort_func_suite": [
        "o2_sort_desc_limit",
        "so1_intersect",
        "so2_except",
        "so3_union_distinct",
        # reshape: UNPIVOT/melt — the inverse of the pivot crosstab,
        # proven lossless against the long-form aggregation
        "so5_unpivot_metrics",
        # bag-semantics EXCEPT ALL / INTERSECT ALL (multiplicity-aware)
        "so6_except_intersect_all",
        "f_string_functions",
        "f_date_functions",
        "f_advanced_strings",
        # error-safe parsing: try_cast classification of dirty numerics
        "f_try_cast_cleaning",
    ],
    # catalog introspection + the raw-SQL surface
    "rel_catalog_sql_suite": [
        "s4_adhoc_sql",
        "s14_list_tables",
        "s15_describe_table",
        # governance: RLS + masking view (pushdown plan-pinned)
        "governed_customer_view",
        # ANALYZE-style per-column stats (nulls/NDV/bounds + approx band)
        "s17_analyze_stats",
        # incremental ANALYZE: partition partials merged without rescan
        "s18_incremental_stats",
        # in-flight observed metrics (df.observe) — DQ without a 2nd pass
        "dq_observed_metrics",
        # the streaming half: per-micro-batch observe via progress events
        "stream_observed_metrics",
        # privacy governance: k-anonymity audit over the QI grain
        "dq_k_anonymity",
        # privacy governance: seeded noisy-release mechanism plumbing
        "dq_noisy_release",
        # pipeline health: per-source freshness lag vs the corpus HWM
        "dq_freshness_sla",
    ],
    # the Kimball dims + end-to-end pipeline counts
    "etl_dims_suite": [
        "etl_dim_customer",
        "etl_dim_part",
        "etl_dim_supplier",
        "etl_dim_market",
        "etl_dim_geo",
        "etl_dim_date",
        "etl_pipeline_counts",
        # Data Vault raw layer: hash-keyed hubs/links/satellites
        "etl_data_vault",
        # customer-dim enrichment: RFM quintile-threshold segmentation
        "rfm_segments",
        # point-in-time fact resolution against the SCD2 dim (as-of reuse)
        "j_pit_scd2",
        # late-arriving dim: quarantine early facts, lossless replay
        "etl_late_dim_quarantine",
        # idempotent partition-range backfill (dynamic overwrite, file-set
        # stability of untouched partitions proven from listings)
        "etl_backfill_range",
        # accumulating-snapshot fact: order lifecycle milestone dates
        "etl_accumulating_snapshot",
    ],
    # text analysis: counting / quality / fingerprint / sampling / tf-idf
    "text_profile_suite": [
        # lang-ID confusion census vs the labeled column (round 12)
        "text_langid_confusion",
        "text_token_count",
        "text_quality_score",
        "text_fingerprint",
        "text_stratified_sample",
        "text_tfidf_topterms",
        "text_repetition",
        "text_pii_scrub",
        # ftfy-class encoding-damage detection + repair (injected markers)
        "text_mojibake_detect",
        # Flesch-style readability (integer-exact band classification)
        "text_readability",
        # intra-document sentence dedup (set fingerprint, zero shuffles)
        "text_sentence_dedup",
        # Unicode NFC normalization (pandas UDF vs DuckDB utf8proc)
        "text_unicode_nfc",
        "text_filter_funnel",
        # per-doc FIRST-failing-rule attribution (row-level funnel routing)
        "text_funnel_reasons",
        # the Gopher rule family: per-rule boolean matrix, integer-exact
        # cross-multiplied bounds (round 11)
        "text_gopher_rules",
        # power-of-two length bands + integer-exact padding-waste audit
        "text_length_bucket_batching",
        # content-safety blocklist (the C4 bad-words rule the funnel lacks)
        "text_blocklist_filter",
        "text_vocab_topk",
        "text_oov_rate",
        # mixture assembly: per-source epoch weights with real row fan-out
        "text_mixture_upsample",
        # temperature (alpha=0.5) mixture weights: sqrt-prior shares
        "text_mixture_temperature",
        # deterministic global shuffle -> fixed training shards
        "text_shuffle_shards",
        # per-domain doc cap (anti domain-dominance)
        "text_domain_cap",
        # long-doc -> overlapping context-window fan-out
        "text_chunk_windows",
        # retrieval: conjunctive AND query via posting-list intersection
        "text_search_conjunctive",
        # retrieval: exact phrase via positional-posting adjacency join
        "text_search_phrase",
        # retrieval: BM25-ranked disjunctive top-k (rational IDF, no libm)
        "text_search_bm25",
        # leakage-safe group-aware holdout split (split = f(md5(source)))
        "text_group_holdout_split",
        # §2.11 UDTF surface: sequential RLE over token streams
        "text_rle_udtf",
        # corpus-trained bigram LM fluency score (CCNet LM filter)
        "text_lm_score",
        # CCNet head/middle/tail per-lang LM-quality terciles (round 11)
        "text_ccnet_buckets",
        # BPE merge statistics (tokenizer-induction first-merge ranking)
        "text_bpe_pair_stats",
        # BPE ENCODE: pretrained merge-list application -> token ids+lengths
        "text_bpe_encode",
        # decode(encode(x)) = x through the id space (per-doc md5 pin)
        "text_bpe_roundtrip",
        # packing driven by REAL BPE lengths (the complete tokenize->pack)
        "text_pack_bpe",
        # per-doc tape manifest: row-by-row two-phase offset pin + the
        # sequence/straddle assignment a trainer consumes (round 11)
        "text_pack_manifest",
        # the materialized boundary split: one segment per context window a
        # doc touches, integer-exact placement algebra (round 11)
        "text_pack_segments",
        # per-language tokenizer fertility (tokens/word fairness audit)
        "text_bpe_fertility",
        # DSIR importance weights (target-vs-raw likelihood ratio)
        "text_dsir_weights",
        # online drift monitoring: keyed per-lang counter state folded
        # per micro-batch; terminal state == the batch monitor (round 12)
        "stream_drift_monitor",
        # incremental tape packing: per-batch local two-phase offsets +
        # per-language running state == the batch manifest row-for-row
        # (cross-MODE differential; order-monotonicity asserted)
        "stream_pack_manifest",
        # token-budget sampling per source: md5-order cumulative token
        # sums via the two-phase prefix machinery, crossing doc included
        "text_token_budget_sample",
    ],
    # recommender prep: label encode / interactions / hash split
    "rec_prep_suite": [
        "rec_label_encode",
        "rec_interactions",
        "rec_train_test_split",
        # item-item co-occurrence twin of the user-item recommender
        "rec_copurchase_pairs",
        # directional Apriori rules: min-support + confidence + lift
        "rec_assoc_rules",
        # cold-start popularity shelf (reference refuses unknown users)
        "rec_popular_fallback",
        # memory-based KNN: per-item cosine neighbor lists (user vectors)
        "rec_itemcf_neighbors",
        # recency-weighted trending shelf (decayed popularity)
        "rec_decayed_popularity",
        # bounded-BFS co-purchase reachability (WITH RECURSIVE oracle)
        "graph_reach_bfs",
        # triangle count + local clustering coefficient (oriented 2-path)
        "graph_triangle_count",
        # k-core decomposition: bounded peel, data-derived p5 threshold
        "graph_kcore",
        # reciprocal-rank-fusion hybrid (itemCF × popularity)
        "rec_rrf_hybrid",
        # user-user CF end-to-end: neighbors + neighborhood voting
        "rec_useruser_recs",
        # influential products: PageRank over the co-purchase graph
        "rec_pagerank_items",
        # NDCG@k of the popularity shelf (no-libm integer discounts)
        "rec_ndcg_popularity",
        # deterministic md5-indexed negative sampling (BPR-style prep)
        "rec_negative_samples",
        # Mann-Whitney ranking AUC of the popularity scorer (tie-exact)
        "rec_auc_popularity",
        # the SERVING CAPSTONE: extract -> encode -> split -> ALS -> serve
        # -> MMR -> eval -> publish, per-stage conservation rows (round 11)
        "rec_pipeline_e2e",
        # ONLINE fold-in serving: micro-batched held-out interactions ->
        # re-fold touched users from accumulated history -> factor-state
        # upsert -> exported-factor top-k; batch-parity pinned (round 11)
        "stream_fold_in_serve",
        # temporal backtest: train-period popularity vs novel post-cutoff
        # interactions, fully hash-exact cross-engine (round 11)
        "rec_backtest_popularity",
        # personalized twin: per-user repurchase-frequency shelf vs ALL
        # post-cutoff purchases (the repeat-purchase baseline) (round 11)
        "rec_backtest_repurchase",
        # sequential twin: first-order Markov next-basket over consecutive
        # orders, leakage-safe cutoff-crossing eval pair (round 11)
        "rec_backtest_markov",
        # the learned fourth row: strictly-pre-cutoff ALS scored on the
        # popularity protocol's novel truth (round 12)
        "rec_backtest_als",
        # four-model leaderboard: SQL-exact baseline totals + measured
        # ALS/MMR rate-floor flags (round 12)
        "rec_backtest_leaderboard",
        # cold-start census: the population the learned model drops,
        # scored on the popularity fallback shelf (round 12)
        "rec_backtest_coldstart",
        # hyperparameter sensitivity: rank x reg sweep on the identical
        # temporal protocol — the tuning record behind the sf0.1
        # lift-vs-popularity question (round 13)
        "rec_backtest_als_grid",
        # online serving-quality monitor: keyed per-user (truth, hit)
        # counters over arriving post-cutoff novel interactions vs the
        # served shelf; terminal state == the batch census verbatim,
        # pinned per row (round 13)
        "stream_serving_quality",
        # the fifth leaderboard row: RRF blend of ALS and the popularity
        # prior on the identical temporal protocol (round 13)
        "rec_backtest_blend",
        # the sixth row: the grid-winning rank-150 ALS promoted to a
        # first-class census — quality half of the rank trade (round 14)
        "rec_backtest_rank150",
        # blend sensitivity: RRF_C x arm sweep answering the sf0.1 blend
        # gap on the identical protocol (round 14)
        "rec_backtest_blend_grid",
    ],
    # sinks: upsert/delete/append/truncate + format round-trips
    "wr_sinks_suite": [
        "wr_upsert",
        "wr_delete_by_keys",
        "wr_append_union",
        "wr_truncate",
        "wr_parquet_roundtrip",
        "wr_json_roundtrip",
        # PERMISSIVE corrupt-record quarantine on a dirty JSONL feed
        "s19_corrupt_json_quarantine",
        # fixed-width byte-offset flat-file round trip (legacy feeds)
        "s21_fixed_width_roundtrip",
        # binaryFile blob ingest (media-lake landing hop, md5-checked)
        "s23_binaryfile_ingest",
        "wr_csv_roundtrip",
        "wr_orc_roundtrip",
        # B2B edge format: Spark 4 native XML round-trip (no external jar)
        "wr_xml_roundtrip",
        # CDC: snapshot diff -> insert/update/delete/unchanged classes
        "wr_snapshot_cdc",
        # table maintenance: small-file compaction (OPTIMIZE pattern)
        "wr_compact_small_files",
        # multi-dimensional clustering: z-order write + skipping evidence
        "wr_zorder_layout",
        # mixed-generation landing dir read back through mergeSchema
        "wr_schema_evolution",
        # quality-gated atomic publication (write-audit-publish manifest)
        "wr_wap_publish",
        # snapshot retention: VACUUM old versions, never the current one
        "wr_wap_vacuum",
        # right-to-be-forgotten: cascading multi-table erasure + audit
        "wr_gdpr_erasure",
        # deterministic tokenization + restricted re-identification vault
        "wr_pseudonymize_vault",
        # streaming WAP: per-micro-batch audited snapshot publication
        "stream_wap_publish",
        # CDC apply: I/U/D log -> snapshot, max-seq merge + tombstones
        "stream_cdc_apply",
    ],
}

for _suite_name, _comp_names in SUITE_SPECS.items():
    register_suite(
        _suite_name, {n: _COMPONENTS[n] for n in _comp_names}
    )

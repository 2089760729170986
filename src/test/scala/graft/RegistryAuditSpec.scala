package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import scala.util.Try

/** Registry-wide audit, asserted over ONE [[Census.walk]]: each registered
  * query is built once, its plans read once (outside [[Census.skip]]) and
  * that same frame run. Each check names the offending query and each has
  * a planted control proving it fires.
  *
  *   - Runs (the benchmark's correctness gate hash-compares a single run, and
  *     the rows-only queries are graded on their recorded output): every
  *     query runs at sf0.001, and runs twice to the same rows, except the
  *     model fits in [[Census.expensiveFit]]; and it builds no
  *     [[Artifact]] it does not declare in `Q.needs`, since Bench times
  *     exactly the declared ones outside query timing.
  *   - Windows (the m10 bug class, VERDICT r8 #2): a bare
  *     `Window.orderBy(...)` coalesces its whole input to ONE partition and
  *     nothing fails until the input is corpus-sized. Every global window in
  *     main goes through operators/GlobalRank (unbounded frames) or names
  *     operators/TinyWindow (frames bounded by construction, partitioned by
  *     a constant); an OPTIMIZED plan with an empty-partitionSpec Window
  *     fails.
  *   - Lambda CSE (the t6 bug class, VERDICT r3 #1): HOF lambdas are
  *     interpreted with no common-subexpression elimination, so an
  *     expensive subtree that references no lambda variable re-evaluates
  *     once per element — `shingles(tokens(text), 2)` re-tokenized every
  *     document once per bigram. Scans the OPTIMIZED plan, where
  *     CollapseProject could re-inline a single-use projection.
  *   - Join shape: a CartesianProduct in an executed plan is an N x M
  *     scale-killer and is forbidden; BroadcastNestedLoopJoin is legitimate
  *     only for the scalar-frame crossJoin idiom, so the set of queries
  *     allowed one is FROZEN in `bnljAllowed` — a new BNLJ fails until it
  *     is reviewed and added.
  *   - Scan and exchange budgets (VERDICT r14 top item, r15 #2 / r16 #2):
  *     the round-14 census found a multi-consumer frame silently re-planning
  *     the fact scan per consumer three times by hand (d13 shipped at 24
  *     documents scans); the shuffle-side sibling is the hidden extra
  *     exchange (a lost partial aggregate, a lost broadcast join, a sneaked
  *     repartition). Every audited query has a committed
  *     `(fact scans, exchanges)` row, and the counts in its AQE-initial
  *     executed plan must match it EXACTLY — a count UP is the defect, a
  *     count DOWN means the row is stale; both force the review.
  *
  * Regenerate the budget table with `sbt "Test/runMain graft.CensusMain"`
  * and review every diff line before pasting — regeneration is for
  * reviewed plan changes, never for making the spec pass.
  */
class RegistryAuditSpec extends SparkSpec {

  /** name -> (fact scans, exchanges), in [[Census.render]] form.
    *
    * Multi-scan rows fall into three reviewed classes, annotated inline:
    * protocol-inherent passes (m10's 3-fold CV), self-join semantics
    * (as-of/interval joins, ANN bucket self-joins, a16-class stats+rows
    * contrasts), and derived test scaffolding (the u-family change
    * batches). Multi-shuffle classes: bounded-round iteration unrolled
    * in-plan over tiny frames (t20's 26: 3 unrolled walk steps x join+agg
    * against the edges artifact); protocol-inherent repetition (m10_cv's
    * 18: 3-fold fit+eval; e8/e13/e9's 10-14: build + assign + ADC rerank +
    * recall-evidence legs of the ANN protocols); stats contrasts whose
    * oracle needs both a distribution pass and a row pass (a26-a31 family,
    * 7-12). Every remaining row is the query's natural agg/join/sort ladder
    * — most oracled queries end in a total-order sort, so shuffle >= 1 is
    * the normal floor.
    */
  private val budget: Map[String, (String, String)] = Map(
    "a10_rmse" -> ("events=1", "shuffle=2"),
    "a12_rollup" -> ("events=1", "shuffle=2"),
    "a13_pivot" -> ("events=1", "shuffle=3"),
    "a14_cube" -> ("", "shuffle=2"),
    "a15_percentiles" -> ("events=1", "shuffle=2"),
    "a16_zscore_anomaly" -> ("events=2", "shuffle=3,broadcast=1"),
    "a17_hll_distinct" -> ("documents=2", "shuffle=6"),
    "a18_ddsketch_quantiles" -> ("events=3", "shuffle=5,broadcast=2"),
    "a19_randomized_response" -> ("documents=1", "shuffle=2"),
    "a1_collect_list" -> ("orders=1", "shuffle=2"),
    "a20_ab_welch" -> ("events=2", "shuffle=3,broadcast=1"),
    "a21_cusum" -> ("events=2", "shuffle=3,broadcast=1"),
    "a22_gini" -> ("orders=1", "shuffle=3,broadcast=2"),
    "a23_benford" -> ("orders=2", "shuffle=3,broadcast=1"),
    // a24/a33: histogram-cut since round 15 (a24 additionally rewritten
    // off its per-type corpus sort onto the a30 cumulative read-off)
    "a24_winsorize" -> ("", "shuffle=4,broadcast=2"),
    "a25_ols_trend" -> ("lineitem=1", "shuffle=2,broadcast=2"),
    "a26_chi_square" -> ("", "shuffle=12,broadcast=9"),
    "a27_rank_correlation" -> ("", "shuffle=11,broadcast=3"),
    "a28_ks_test" -> ("", "shuffle=8,broadcast=2"),
    "a29_mann_whitney" -> ("", "shuffle=7,broadcast=1"),
    "a2_distinct" -> ("orders=1", "shuffle=2"),
    "a30_tukey_fences" -> ("", "shuffle=4,broadcast=2"),
    "a31_cramers_v" -> ("", "shuffle=8,broadcast=5"),
    "a32_two_proportion" -> ("events=2", "shuffle=4,broadcast=1"),
    "a33_mad_outliers" -> ("", "shuffle=6,broadcast=3"),
    "a34_runs_test" -> ("", "shuffle=2,broadcast=2"),
    "a35_acf" -> ("", "shuffle=5,broadcast=5"),
    "a36_odds_ratio" -> ("events=2", "shuffle=4,broadcast=1"),
    "a37_cuped" -> ("events=2", "shuffle=3,broadcast=1"),
    "a38_mde" -> ("events=1", "shuffle=2"),
    "a39_srm" -> ("events=1", "shuffle=2"),
    "a3_group_sum" -> ("lineitem=1", "shuffle=2"),
    "a4_count_by_group" -> ("events=1", "shuffle=2"),
    "a5_group_entries" -> ("lineitem=1", "shuffle=2"),
    "a5_map_from_entries" -> ("events=1", "shuffle=2"),
    "a6_rank_agg" -> ("events=1", "shuffle=3"),
    "a7_summary_stats" -> ("events=1", "shuffle=1"),
    "a8_histogram" -> ("events=1", "shuffle=3"),
    "a9_argmax" -> ("orders=1", "shuffle=2"),
    "a9_argmax_map" -> ("orders=1", "shuffle=2"),
    "b10_tpch_q19" -> ("lineitem=1", "shuffle=1,broadcast=1"),
    "b11_tpch_q15" -> ("", "shuffle=2,broadcast=2"),
    "b12_tpch_q22" -> ("orders=1", "shuffle=3,broadcast=2"),
    "b13_tpch_q7" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=5"),
    "b14_tpch_q4" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=1"),
    "b15_tpch_q12" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=1"),
    "b16_tpch_q13" -> ("orders=1", "shuffle=3,broadcast=1"),
    "b17_tpch_q8" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=7"),
    "b18_tpch_q21" -> ("lineitem=1,orders=1", "shuffle=3,broadcast=2"),
    "b19_tpch_q9" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=4"),
    "b1_bucketed_join" -> ("", "shuffle=2,broadcast=1"),
    "b20_tpch_q16" -> ("lineitem=1", "shuffle=3,broadcast=2"),
    "b21_tpch_q20" -> ("lineitem=1", "shuffle=5,broadcast=2"),
    "b22_tpch_q2" -> ("lineitem=1", "shuffle=1,broadcast=4"),
    "b23_tpch_q11" -> ("", "shuffle=2,broadcast=1"),
    "b2_tpch_q5" -> ("lineitem=1,orders=1", "shuffle=4,broadcast=6"),
    "b3_tpch_q3" -> ("lineitem=1,orders=1", "shuffle=1,broadcast=2"),
    "b4_tpch_q1" -> ("lineitem=1", "shuffle=2"),
    "b5_tpch_q18" -> ("lineitem=1,orders=1", "shuffle=1,broadcast=2"),
    "b6_tpch_q6" -> ("lineitem=1", "shuffle=1"),
    "b7_tpch_q14" -> ("lineitem=1", "shuffle=1,broadcast=1"),
    "b8_tpch_q10" -> ("lineitem=1,orders=1", "shuffle=1,broadcast=3"),
    "b9_tpch_q17" -> ("lineitem=1", "shuffle=2,broadcast=1"),
    "c10_temporal_split" -> ("events=2", "shuffle=3,broadcast=1"),
    // protocol-inherent: survivor-vs-corpus contrast reads both policy branches
    // r17: band frame ships from the shared lshb cut (documents 5 -> 3)
    "c11_quality_survivor" -> ("documents=3", "shuffle=6,broadcast=2"),
    "c13_temperature_mix" -> ("documents=3", "shuffle=5,broadcast=2"),
    // protocol-inherent: train/eval gram sides + per-n replication
    "c14_ngram_contamination" -> ("documents=4", "shuffle=7,broadcast=3"),
    "c15_curriculum_phases" -> ("documents=3", "shuffle=8,broadcast=2"),
    "c16_mixture_raking" -> ("", "shuffle=2"),
    "c17_survivor_quality" -> ("documents=1", "shuffle=2,broadcast=1"),
    "c18_distribution_drift" -> ("", "shuffle=4,broadcast=2"),
    "c19_dedup_report" -> ("", "shuffle=2,broadcast=1"),
    "c1_curation_apply" -> ("documents=1", "shuffle=3"),
    "c2_split_assign" -> ("documents=1", "shuffle=1"),
    "c3_decontaminate" -> ("", "shuffle=3,broadcast=2"),
    "c4_mixture_sample" -> ("documents=1", "shuffle=2"),
    "c5_quality_classifier" -> ("documents=1", "shuffle=2"),
    "c6_domain_cap" -> ("documents=1", "shuffle=2"),
    "c7_epoch_shuffle" -> ("documents=1", ""),
    "c8_bloom_decontaminate" -> ("", "shuffle=4,broadcast=3"),
    // r18 distinct-name rewrite: every exchange now carries name-level
    // aggregates (<= distinct-name rows), not the entity corpus — the two
    // extra groupBys are the pk_min/pk_min2 per-name passes, the extra
    // broadcasts ship the scored-name-pair table to the entity attach
    "d10_fuzzy_pairs" -> ("", "shuffle=6,broadcast=4"),
    "d11_incremental_neardup" -> ("documents=2", "shuffle=4,broadcast=1"),
    "d12_span_excise" -> ("documents=3", "shuffle=4,broadcast=2"),
    "d13_containment" -> ("", "shuffle=8,broadcast=5"),
    "d14_minhash_calibration" -> ("", "shuffle=1,broadcast=1"),
    "d15_chunk_dedup" -> ("", "shuffle=2"),
    "d16_exact_substr" -> ("documents=2", "shuffle=4"),
    "d17_self_repeats" -> ("documents=2", "shuffle=4"),
    "d1_dedup_exact" -> ("documents=1", "shuffle=2"),
    "d2_minhash_sig" -> ("documents=1", "shuffle=1"),
    // r17: both self-join inputs read the shared lshb cut (2 -> 0)
    "d3_lsh_pairs" -> ("", "shuffle=4"),
    "d4_simhash" -> ("documents=1", "shuffle=1"),
    "d5_jaccard_pairs" -> ("", "shuffle=1,broadcast=1"),
    // d6/c11/d8/e6: self-join DIAMONDS (both plan references are the
    // same subtree, collapsed to one execution by ReusedExchange —
    // the d3 pin) plus the anti-join base / partition-pruned slices;
    // not the re-derived-consumer class the cuts fix
    // r17: band branches read the shared lshb cut (3 -> 1, the apply scan)
    "d6_dedup_apply" -> ("documents=1", "shuffle=6"),
    "d7_dup_components" -> ("", "shuffle=1"),
    "d8_incremental_dedup" -> ("documents=3", "shuffle=2,broadcast=1"),
    "d9_span_dedup" -> ("documents=1", "shuffle=3"),
    "e10_mips" -> ("embeddings=2", "shuffle=2,broadcast=1"),
    "e11_mmr_diverse" -> ("", "shuffle=8,broadcast=7"),
    "e12_random_projection" -> ("", "shuffle=1"),
    "e13_probe_sweep" -> ("", "shuffle=12,broadcast=12"),
    "e14_knn_graph" -> ("embeddings=2", "shuffle=4"),
    "e15_matryoshka" -> ("", "shuffle=2,broadcast=1"),
    "e1_cosine_topk" -> ("embeddings=2", "shuffle=2,broadcast=1"),
    "e2_ann_buckets" -> ("embeddings=2", "shuffle=4"),
    "e3_embed_neardup" -> ("embeddings=2", "shuffle=3"),
    // e4/e7/e8/e9/e13: since the round-15 save/load fix the IVF assigned
    // table and PQ code table are READ as parquet artifacts (build's
    // frames were live lineages, so e8 planned 8 corpus scans); the
    // remaining single scan is the exact-recall baseline by construction
    "e4_ann_ivf" -> ("embeddings=1", "shuffle=9,broadcast=7"),
    "e5_quantize" -> ("embeddings=1", "shuffle=1"),
    // cluster-then-compare: quantizer fit + assignment + pair pass
    "e6_semdedup" -> ("embeddings=4", "shuffle=6,broadcast=2"),
    "e7_pq_adc" -> ("embeddings=1", "shuffle=8,broadcast=3"),
    "e8_ivfpq" -> ("embeddings=1", "shuffle=14,broadcast=9"),
    "e9_ivf_maintain" -> ("", "shuffle=10,broadcast=7"),
    "f10_stickiness" -> ("", "shuffle=5,broadcast=1"),
    "f1_funnel" -> ("events=1", "shuffle=2"),
    "f2_retention" -> ("events=2", "shuffle=5,broadcast=1"),
    "f3_top_paths" -> ("events=1", "shuffle=2"),
    "f4_markov_transitions" -> ("events=2", "shuffle=6,broadcast=1"),
    "f5_rfm_segments" -> ("events=1", "shuffle=5"),
    // r17: totals re-derives from the materialized counts parquet — the
    // returned plan no longer replays the events lead-window branch
    // r17: the 8 power rounds collapsed from unrolled join+groupBy stages
    // (37 shuffles / 29 broadcasts) into one single-row HOF fold over the
    // bounded transition matrix (MarkovChain.stationary), and totals now
    // re-derives from the materialized counts parquet (no events lead-
    // window replay); what remains are the collapsed-row collects for
    // pi/prev/mass plus the final tiny joins
    "f6_markov_stationary" -> ("", "shuffle=4,broadcast=3"),
    "f7_cohort_ltv" -> ("events=2", "shuffle=5,broadcast=1"),
    "f8_sessionize" -> ("events=1", "shuffle=2"),
    "f9_survival_km" -> ("", "shuffle=7,broadcast=2"),
    "g10_degree_histogram" -> ("", "shuffle=5,broadcast=1"),
    "g11_modularity" -> ("", "shuffle=5,broadcast=6"),
    "g12_common_neighbors" -> ("", "shuffle=3,broadcast=4"),
    "g13_assortativity" -> ("", "shuffle=3,broadcast=2"),
    "g14_clustering_coeff" -> ("", "shuffle=2,broadcast=2"),
    "g15_link_prediction" -> ("", "shuffle=3,broadcast=4"),
    "g16_harmonic_centrality" -> ("", "shuffle=2"),
    // g1: tag-map frame cut since round 15 (fed rank AND argmax)
    "g1_dominant_tag" -> ("", "shuffle=9,broadcast=2"),
    // r18 runDense fold: the 8 power rounds moved INTO the returned plan
    // (one single-row collapse agg = +1 shuffle of <= 625 edge structs,
    // +1 broadcast of the 1-row fold result into the nation join) —
    // before, the rounds ran EAGERLY at construction as 8 hidden
    // join+groupBy jobs plus 9 checkpoint write+read cycles the budget
    // never saw; the visible plan grew, the executed work collapsed 2.4x
    "g2_pagerank" -> ("", "shuffle=2,broadcast=2"),
    "g3_triangle_count" -> ("", "shuffle=1,broadcast=6"),
    "g4_label_prop" -> ("", "shuffle=1"),
    "g5_bfs" -> ("", "shuffle=1"),
    "g6_weighted_sssp" -> ("", "shuffle=1"),
    "g7_random_walks" -> ("", "shuffle=5,broadcast=3"),
    "g8_kcore" -> ("", "shuffle=4,broadcast=7"),
    "g9_hits" -> ("", "shuffle=1,broadcast=2"),
    "j10_range_join_rule" -> ("events=1", "shuffle=2,broadcast=1"),
    "j11_asof_tolerance" -> ("events=2", "shuffle=2"),
    "j12_attribution" -> ("events=2", "shuffle=1,broadcast=1"),
    "j13_nullsafe_join" -> ("events=2", "shuffle=3,broadcast=1"),
    "j14_interval_overlap" -> ("orders=2", "shuffle=2,broadcast=1"),
    "j15_interp_asof" -> ("events=2", "shuffle=2"),
    "j17_nearest_asof" -> ("events=2", "shuffle=2"),
    "j18_bloom_filtered_join" -> ("lineitem=1", "shuffle=2,broadcast=1"),
    "j1_broadcast_agg" -> ("orders=1", "shuffle=2,broadcast=1"),
    "j2_outer_join" -> ("lineitem=1", "shuffle=3"),
    "j3_join_chain" -> ("lineitem=1,orders=1", "shuffle=2,broadcast=3"),
    "j4_anti_join" -> ("orders=1", "shuffle=1,broadcast=1"),
    "j5_semi_join" -> ("orders=1", "shuffle=1,broadcast=1"),
    "j6_keyed_concat" -> ("orders=2", "shuffle=1,broadcast=1"),
    "j8_asof_join" -> ("events=2", "shuffle=2"),
    "j9_range_join" -> ("events=1", "shuffle=1,broadcast=1"),
    // protocol-inherent: 3-fold CV = fit+eval per fold (2x3); owned by its spec
    "m10_cv" -> ("documents=6", "shuffle=18,broadcast=3"),
    "m13_popularity_baseline" -> ("", "shuffle=10,broadcast=7"),
    "m14_pr_curve" -> ("documents=1", "shuffle=3,broadcast=1"),
    "m15_patch_grid" -> ("documents=1", "shuffle=1"),
    "m16_audio_frames" -> ("documents=1", "shuffle=1"),
    "m17_calibration" -> ("events=2", "shuffle=3,broadcast=1"),
    "m18_gains_table" -> ("", "shuffle=10,broadcast=2"),
    "m19_roc_auc" -> ("", "shuffle=6,broadcast=1"),
    "m1_binary_meta" -> ("documents=1", "shuffle=1"),
    "m20_multiclass_eval" -> ("", "shuffle=3"),
    "m2_frame_sample" -> ("documents=1", "shuffle=1"),
    "m2_precision_at_k" -> ("orders=2", "shuffle=3,broadcast=1"),
    "m3_media_resize" -> ("documents=2", "shuffle=1,broadcast=1"),
    // m8/m9: the ALS sweep fits run at construction; the returned plan is
    // the driver-side sweep points (a local relation) + the total-order sort
    "m8_grid" -> ("", "shuffle=1"),
    "m9_curve" -> ("", "shuffle=1"),
    "o10_zorder_key" -> ("events=1", "shuffle=1"),
    "o11_compaction" -> ("", ""),
    // protocol-inherent: ANALYZE computes one stats pass per audited column family
    "o12_analyze" -> ("lineitem=5", "shuffle=10"),
    "o13_weighted_sample" -> ("documents=1", "shuffle=2"),
    "o14_hash_bucket_sample" -> ("documents=1", "shuffle=1"),
    "o15_block_sample" -> ("lineitem=2", "shuffle=4,broadcast=1"),
    "o16_poisson_bootstrap" -> ("events=3", "shuffle=6,broadcast=2"),
    "o17_systematic_sample" -> ("documents=2", "shuffle=6,broadcast=1"),
    "o1_sort" -> ("orders=1", "shuffle=1"),
    "o2_limit" -> ("orders=1", ""),
    "o3_topk" -> ("lineitem=1", "shuffle=1"),
    "o5_row_sample" -> ("lineitem=2", "shuffle=3,broadcast=1"),
    "o6_user_sample" -> ("events=4", "shuffle=5,broadcast=3"),
    "o7_repartition_write" -> ("", "shuffle=2"),
    "o8_stratified_sample" -> ("events=2", "shuffle=3,broadcast=1"),
    "o9_partitioned_write" -> ("", "shuffle=2"),
    "p10_json_extract" -> ("events=1", "shuffle=2"),
    "p11_dq_checks" -> ("lineitem=2,orders=4", "shuffle=6,broadcast=1"),
    "p12_unpivot" -> ("lineitem=1", "shuffle=1"),
    "p1_project_filter" -> ("lineitem=1", "shuffle=1"),
    "p2_nested_field" -> ("lineitem=1", "shuffle=2"),
    "p5_column_drop" -> ("events=1", "shuffle=1"),
    "p6_null_normalize" -> ("events=1", "shuffle=1"),
    "p7_int_arith" -> ("events=1", "shuffle=1"),
    "p8_regex_clean" -> ("events=1", "shuffle=1"),
    "p9_expr_entry" -> ("events=1", "shuffle=2"),
    "s10_schema_evolution" -> ("", "shuffle=1"),
    "s11_corrupt_json" -> ("events=1", "shuffle=2"),
    "s12_csv_quarantine" -> ("", "shuffle=2"),
    "s13_text_roundtrip" -> ("", "shuffle=1"),
    "s2_parquet_roundtrip" -> ("", "shuffle=2"),
    "s4_sqlite_contract" -> ("", "shuffle=1"),
    "s5_csv_roundtrip" -> ("", "shuffle=2"),
    "s7_reformat" -> ("", "shuffle=1"),
    "s8_json_roundtrip" -> ("", "shuffle=2"),
    "s9_orc_roundtrip" -> ("", "shuffle=2"),
    "set_except" -> ("orders=2", "shuffle=2,broadcast=1"),
    "set_intersect" -> ("", "shuffle=2,broadcast=1"),
    "set_union_distinct" -> ("", "shuffle=2"),
    "sk1_skew_salted_join" -> ("lineitem=1", "shuffle=2,broadcast=1"),
    "sk2_skew_salted_agg" -> ("events=1", "shuffle=4"),
    "t10_nfc_normalize" -> ("documents=1", "shuffle=1"),
    "t11_pii_redact" -> ("documents=1", "shuffle=1"),
    "t12_repetition" -> ("", "shuffle=5,broadcast=2"),
    "t13_chunk" -> ("documents=1", "shuffle=1"),
    // t14/t18/t22/t25/t7: token/gram tables cut since round 15 (the
    // t12/c3 gram-table discipline; uncut they planned 3-5 corpus
    // tokenizations each; t7 keeps the 1-column ndocs count scan)
    "t14_unigram_surprisal" -> ("", "shuffle=5,broadcast=2"),
    "t15_vocab_coverage" -> ("", "shuffle=8,broadcast=2"),
    "t16_bpe_merges" -> ("", "shuffle=1"),
    "t17_heavy_hitters" -> ("", "shuffle=6,broadcast=7"),
    "t18_bm25" -> ("", "shuffle=6,broadcast=3"),
    "t19_compression_ratio" -> ("documents=1", "shuffle=1"),
    "t1_langid" -> ("documents=1", "shuffle=1"),
    "t20_skipgram_pairs" -> ("", "shuffle=26,broadcast=18"),
    "t21_bpe_encode" -> ("documents=1", "shuffle=2,broadcast=1"),
    "t22_bigram_surprisal" -> ("", "shuffle=6,broadcast=3"),
    "t23_lexical_diversity" -> ("documents=1", "shuffle=3"),
    "t24_heaps_law" -> ("", "shuffle=9,broadcast=2"),
    // protocol-inherent: unigram + bigram counts + two scalar total frames off one corpus
    "t25_bigram_lift" -> ("", "shuffle=3,broadcast=4"),
    "t26_hapax_ratio" -> ("documents=1", "shuffle=3"),
    "t27_cdc_chunking" -> ("documents=1", "shuffle=1"),
    "t2_quality" -> ("documents=1", "shuffle=1"),
    "t3_token_count" -> ("documents=1", "shuffle=1"),
    "t4_fingerprint" -> ("documents=1", "shuffle=1"),
    "t5_approx_sketches" -> ("events=1", "shuffle=1"),
    "t6_top_bigrams" -> ("documents=1", "shuffle=1"),
    "t7_tfidf" -> ("documents=1", "shuffle=4,broadcast=2"),
    "t8_edit_distance" -> ("documents=2", "shuffle=1,broadcast=1"),
    "t9_pack" -> ("documents=2", "shuffle=6,broadcast=1"),
    // u-family: the derived change batch + second delta log ride
    // Scratch.cut since round 15 (they model REAL change tables), so the
    // registered plans read the batch like production would — u1 8->1,
    // u10 8->1, u2 9->2 (old + new snapshot digests; the new side reads
    // the cut batch)
    "u10_mor_read" -> ("documents=1", "shuffle=2"),
    "u11_log_compact" -> ("", "shuffle=1"),
    "u1_upsert" -> ("documents=1", "shuffle=1,broadcast=1"),
    "u2_snapshot_diff" -> ("documents=2", "shuffle=3,broadcast=1"),
    "u3_scd2_history" -> ("orders=1", "shuffle=2"),
    "u4_agg_ledger" -> ("events=1", "shuffle=3"),
    "u5_snapshot_publish" -> ("", "shuffle=2"),
    "u6_wap_audit" -> ("", "shuffle=1"),
    "u7_snapshot_rollback" -> ("", "shuffle=3"),
    "u8_cdc_apply" -> ("events=1", "shuffle=2"),
    "u9_snapshot_vacuum" -> ("", "shuffle=3"),
    "w10_gap_fill" -> ("", "shuffle=2,broadcast=1"),
    "w11_ewma" -> ("events=1", "shuffle=2"),
    "w12_rolling_median" -> ("events=1", "shuffle=2"),
    "w13_holt" -> ("events=1", "shuffle=2"),
    "w14_backtest" -> ("events=1", "shuffle=2"),
    "w15_holt_winters" -> ("events=1", "shuffle=2"),
    "w16_changepoint" -> ("", "shuffle=7,broadcast=2"),
    "w17_bollinger_bands" -> ("events=1", "shuffle=3"),
    "w18_seasonal_profile" -> ("events=1", "shuffle=3"),
    "w19_theil_sen" -> ("", "shuffle=13,broadcast=8"),
    "w20_ohlc_candles" -> ("events=1", "shuffle=2"),
    "w21_drawdown" -> ("", "shuffle=3"),
    "w2_topk_per_key" -> ("events=1", "shuffle=2"),
    "w3_tumbling_window" -> ("events=1", "shuffle=2"),
    "w4_session_window" -> ("events=1", "shuffle=2"),
    "w5_sliding_window" -> ("events=1", "shuffle=2"),
    "w6_running_total" -> ("events=1", "shuffle=2"),
    "w7_quantile_buckets" -> ("events=1", "shuffle=2"),
    "w8_trailing_window" -> ("events=1", "shuffle=2"),
    "w9_topk_agg" -> ("events=1", "shuffle=2")
  )

  /** Queries whose BNLJ is the reviewed scalar-frame (or bounded
    * dimension-frame) broadcast idiom: the broadcast side is a one-row
    * aggregate, a literal quantile/config frame, or a model-sized
    * centroid table joined without an equi-key by construction.
    */
  private val bnljAllowed = Set(
    "a18_ddsketch_quantiles", // literal quantile frame x cumulative walk
    "e1_cosine_topk",         // <= 3-row query frame x corpus (baseline op)
    // (e11_mmr_diverse left the list at the round-14 census fix: its
    // candidate frame is materialized, so no BNLJ plans anymore)
    "e10_mips",               // same 3-row query frame x corpus shape
    "e4_ann_ivf",             // query frame / centroid table broadcasts
    "e6_semdedup", "e7_pq_adc", "e8_ivfpq", "e9_ivf_maintain", // same family
    "e13_probe_sweep",        // same 8-row query frame / centroid broadcasts
    "t7_tfidf",               // 1-row corpus-size aggregate
    "t18_bm25",               // 1-row corpus-stats aggregate (TL, ND)
    "t14_unigram_surprisal",  // 1-row corpus-total aggregate
    "t22_bigram_surprisal",   // 1-row vocabulary-size aggregate
    "c10_temporal_split",     // 1-row time-cutoff aggregate
    "t15_vocab_coverage",     // 1-row total-token aggregate
    // (u1/u2/u10 left the list at the round-15 change-batch cut: their
    // 1-row insert-offset crossJoins now execute at construction, inside
    // the batch materialization — the returned plans read the batch like
    // the real change table it models)
    "b23_tpch_q11",           // 1-row (total, n_parts) threshold frame
    "g8_kcore",               // two 1-row count aggregates (convergence flag)
    "c13_temperature_mix",    // 1-row weight-sum aggregate (quota denominator)
    // (g9_hits' per-half-step 1-row max crossJoins run inside its scratch
    // checkpoint writes, so its FINAL plan carries no BNLJ — not listed)
    "m13_popularity_baseline", // 1-row cutoff + 1-row val-user-count frames
    "g10_degree_histogram",   // 1-row node-total frame (share denominator)
    "a23_benford",            // 1-row order-count frame (share denominator)
    "g11_modularity",         // 1-row edge-total frame (Q denominator)
    "a26_chi_square",         // |langs| x |sources| category frames + 1-row N/df
    "t24_heaps_law",          // 1-row doc-count frame (checkpoint stride)
    "m14_pr_curve",           // 6-row literal threshold frame
    "a28_ks_test",            // 1-row sample-size frame (n_a, n_b)
    "f6_markov_stationary",   // 1-row state-count seed + 1-row mass frame
    "t25_bigram_lift",        // 1-row unigram-total + 1-row bigram-total frames
    "a31_cramers_v",          // a26's category frames + 1-row N/dims frames
    "w16_changepoint",        // 1-row (n_bins, series-total) frame
    "c15_curriculum_phases",  // 1-row corpus-count frame (phase denominator)
    "a32_two_proportion",     // two 1-row variant frames (n, x) each
    "a34_runs_test",          // 1-row median / bin-count / flip-count frames
    "a35_acf",                // 1-row (mu, n) and (d2) scalar frames + 3-row lag frame
    "a36_odds_ratio",         // two 1-row variant frames (a32's shape)
    "a37_cuped",              // 1-row cutoff / stats / variant frames
    "w19_theil_sen",          // calendar-bounded daily pair join (d1 < d2)
                              // + 1-row n_pairs/n_days scalar frames
    "m17_calibration",        // 1-row cmax frame (decile denominator)
    "f9_survival_km",         // 1-row observation-end + user-total frames
    "c18_distribution_drift", // 1-row cutoff + half-total frames
    "c19_dedup_report",       // 1-row (n_docs, n_survivors) totals frame
    "m18_gains_table",        // 1-row (N, positives) totals frame
    "b12_tpch_q22"            // 1-row positive-balance threshold frame
  )
  // (c16's scalar crossJoins execute at construction, before the
  // per-round materialization — its RETURNED plan is a parquet read +
  // tiny window, so it needs no allowlist row.)

  private lazy val walked = Census.walk(spark, sfDir)

  // a query the walk could not audit fails every audit check, naming its
  // cause, instead of dropping out of the checks
  private def audits: Seq[(String, Census.Audit)] = {
    assert(walked.unaudited.isEmpty,
      "registered queries the walk could not audit:\n" +
        walked.unaudited.mkString("\n"))
    walked.audits
  }
  private lazy val byName: Map[String, Census.Audit] = audits.toMap

  private def offenders(of: (String, Census.Audit) => Seq[String]): String =
    audits.flatMap { case (name, a) => of(name, a).map(e => s"$name: $e") }
      .mkString("\n")

  private def budgetDiffs(pick: ((String, String)) => String,
                          observed: Census.Audit => Map[String, Int]): String =
    budget.toSeq.sortBy(_._1).flatMap { case (name, row) =>
      byName.get(name) match {
        case None => Some(s"$name: budget [${pick(row)}] but no audit record")
        case Some(a) => Some(observed(a)).filter(_ != Census.parse(pick(row)))
          .map(obs => s"$name: budget [${pick(row)}] observed [${Census.render(obs)}]")
      }
    }.mkString("\n")

  test("all registered queries run and are run-to-run stable") {
    assert(walked.failures.isEmpty, walked.failures.mkString("\n"))
  }

  test("every oracled name is registered and the flagship entry has rows") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private def control(name: String)(run: (SparkSession, String) => DataFrame) =
    Census.walk(spark, sfDir, Seq(Q(name, run, None)))

  test("planted control: the walk reports a nondeterministic query") {
    val failures =
      control("ctl_rand")((s, _) => s.range(50).select(rand().as("r"))).failures
    assert(failures == Seq("ctl_rand: nondeterministic across runs"), failures)
  }

  test("planted control: a query that fails to build fails the audit, with its cause") {
    val w = control("ctl_throw")((_, _) => throw new IllegalStateException("planted"))
    assert(w.audits.isEmpty)
    assert(w.unaudited == Seq("ctl_throw: construction failed: planted"), w.unaudited)
    assert(w.failures == Seq("ctl_throw: planted"), w.failures)
  }

  test("planted control: a plan over a cached frame is no audit") {
    val w = try control("ctl_cached")((s, _) => s.range(5).toDF("id").cache())
      finally spark.catalog.clearCache()
    assert(w.audits.isEmpty)
    assert(w.unaudited == Seq("ctl_cached: audited plan holds an InMemoryRelation"),
      w.unaudited)
  }

  test("planted control: the walk reports an undeclared artifact build") {
    val failures = control("ctl_edges")((s, d) =>
      graft.queries.GraphTemporalQueries.coocEdges(s, d)).failures
    assert(failures == Seq("ctl_edges: built undeclared artifact(s) _edges_build"),
      failures)
  }

  test("no registered query plans a Window with an empty partitionSpec") {
    val bad = offenders((_, a) => a.windows)
    assert(bad.isEmpty,
      "unpartitioned (single-partition) Window in a registered query — " +
        "use GlobalRank for unbounded frames or TinyWindow for " +
        "bounded-by-construction frames:\n" + bad)
  }

  test("the detector flags the bare global-window shape") {
    val broken = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(Window.orderBy(col("event_id"))))
    assert(Census.audit(broken).windows.nonEmpty,
      "detector failed to flag a bare Window.orderBy")
  }

  test("TinyWindow's constant partition key survives the optimizer") {
    val ok = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("rn",
        row_number().over(graft.operators.TinyWindow
          .total(col("event_type"))(desc("n"), col("event_type"))))
    assert(Census.audit(ok).windows.isEmpty,
      "a foldable partition key was optimized away — the guard and the " +
        "WindowExec warning would both regress")
  }

  test("no registered query evaluates an expensive loop-invariant " +
      "expression inside a HOF lambda") {
    val bad = offenders((_, a) => a.lambdas)
    assert(bad.isEmpty,
      "HOF lambdas re-evaluating loop-invariant expensive expressions " +
        "(project them to a column first):\n" + bad)
  }

  test("the detector flags t6's original defective shape") {
    val broken = Tables.documents(spark, sfDir)
      .select(explode(
        TextFunctions.shingles(TextFunctions.tokens(col("text")), 2)).as("bigram"))
    assert(Census.audit(broken).lambdas.nonEmpty,
      "detector failed to flag tokens() inlined into the shingles lambda")
  }

  test("the fixed t6 shape stays clean through the optimizer " +
      "(CollapseProject must not re-inline the token projection)") {
    val fixed = Tables.documents(spark, sfDir)
      .select(TextFunctions.tokens(col("text")).as("w"))
      .select(explode(TextFunctions.shingles(col("w"), 2)).as("bigram"))
    assert(Census.audit(fixed).lambdas.isEmpty)
  }

  test("no CartesianProduct; BroadcastNestedLoopJoin only on the frozen allowlist") {
    val bad = offenders { (name, a) =>
      Seq("CartesianProduct").filter(_ => a.cartesian) ++
        Seq("unreviewed BroadcastNestedLoopJoin")
          .filter(_ => a.bnlj && !bnljAllowed(name))
    }
    assert(bad.isEmpty,
      "scale-killing join shape in a registered query (review it; if the " +
        "broadcast side is provably scalar/model-sized, add it to " +
        "bnljAllowed):\n" + bad)
  }

  test("the allowlist stays minimal: every entry still plans a BNLJ") {
    val stale = bnljAllowed.toSeq.sorted.filterNot(n => byName.get(n).exists(_.bnlj))
    assert(stale.isEmpty,
      "allowlist entries with no BNLJ anymore, or no audited query of that " +
        s"name (remove them): $stale")
  }

  // one key set for both columns of the table; each column's test also
  // checks that its own entries parse, so a hand-edited typo in either
  // column names the column it is in
  private def budgetCoverage(kind: String,
                             pick: ((String, String)) => String): Unit = {
    val names = SparkEntry.queries.keySet -- Census.skip
    val missing = names -- budget.keySet
    val stale = budget.keySet -- names
    val malformed = budget.toSeq.sortBy(_._1)
      .filter { case (_, row) => Try(Census.parse(pick(row))).isFailure }
      .map { case (name, row) => s"$name: [${pick(row)}]" }
    assert(missing.isEmpty,
      s"new queries registered without a $kind budget (run CensusMain, " +
        "review, commit): " + missing.toSeq.sorted.mkString(", "))
    assert(stale.isEmpty,
      "budget rows for unregistered queries (delete them): " +
        stale.toSeq.sorted.mkString(", "))
    assert(malformed.isEmpty,
      s"$kind budget entries that do not parse as k=v,...:\n" +
        malformed.mkString("\n"))
  }

  test("every registered query has a committed scan budget; none is stale") {
    budgetCoverage("scan", _._1)
  }

  test("every registered query has a committed exchange budget; none is stale") {
    budgetCoverage("exchange", _._2)
  }

  test("observed fact-scan counts equal the committed budgets exactly") {
    val diffs = budgetDiffs(_._1, _.scans)
    assert(diffs.isEmpty,
      "fact-scan counts diverged from the committed budget — a count UP " +
        "is the multiplied-scan defect (materialize the shared frame, " +
        "PlanSpec census pattern); a count DOWN means re-commit the " +
        "budget after review:\n" + diffs)
  }

  test("observed exchange counts equal the committed budgets exactly") {
    val diffs = budgetDiffs(_._2, _.exchanges)
    assert(diffs.isEmpty,
      "exchange counts diverged from the committed budget — a shuffle " +
        "count UP is the hidden-extra-exchange defect (lost partial " +
        "agg / lost broadcast / sneaked repartition); a count DOWN " +
        "means re-commit the budget after review:\n" + diffs)
  }

  test("planted control: the detector counts a multiplied-scan plan") {
    val docs = Tables.documents(spark, sfDir)
    // two aggregates unioned from the same source: the optimizer keeps
    // two FileScan nodes — exactly the re-derived-lineage shape the
    // round-14 census kept finding
    val multiplied = docs.groupBy().agg(count(lit(1)).as("v"))
      .unionByName(docs.groupBy().agg(sum(length(col("text"))).cast("long").as("v")))
    val c = Census.audit(multiplied).scans
    assert(c.get("documents").contains(2),
      s"detector failed to count the planted double scan: $c")
    // and the single-scan baseline counts exactly one
    val single = Census.audit(docs.select(col("doc_id"))).scans
    assert(single.get("documents").contains(1), s"baseline miscount: $single")
  }

  test("planted control: the detector counts a lost-broadcast join") {
    val n = Tables.nation(spark, sfDir).select(col("n_nationkey"),
      col("n_regionkey"))
    val r = Tables.region(spark, sfDir).select(col("r_regionkey"))
    // the merge hint forbids the broadcast the tiny side would get: the
    // plan shuffles BOTH sides — exactly the silent regression shape
    val cLost = Census.audit(n.join(r.hint("merge"),
      n("n_regionkey") === r("r_regionkey"))).exchanges
    assert(cLost.getOrElse("shuffle", 0) >= 2 &&
        cLost.getOrElse("broadcast", 0) == 0,
      s"detector missed the planted lost-broadcast shape: $cLost")
    // and the healthy form of the same join broadcasts with no shuffle
    val cHealthy = Census.audit(n.join(broadcast(r),
      n("n_regionkey") === r("r_regionkey"))).exchanges
    assert(cHealthy.getOrElse("broadcast", 0) == 1 &&
        cHealthy.getOrElse("shuffle", 0) == 0,
      s"healthy-baseline miscount: $cHealthy")
  }
}

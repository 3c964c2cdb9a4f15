package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Decode
import graft.ops.{AsOfJoin, Dedup, EventAnalytics, Incremental, Predict, Relational, Resample, Scale, TextOps, TradeOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 is exposed as a named batch query
  * over the driver's synthetic tables, with an equivalent DuckDB oracle
  * in [[oracleSql]]. Column names and rounding are aligned on both sides
  * (the driver sorts columns by name and hash-compares values).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TradeOps.tumblingVolume(Tables.trades(spark, "/root/testdata/sf0.001"))

  private def trades(s: SparkSession, dir: String): DataFrame =
    Tables.trades(s, dir)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- ingest / projection tier (P1-P9) --------------------------------
    "p1_decode_roundtrip" -> ((s, dir) => Decode.roundTrip(trades(s, dir))),
    "p1b_avro_roundtrip" -> ((s, dir) => Decode.avroRoundTrip(s, trades(s, dir))),
    // -- aggregation tier (A1-A6, T3-T4) ---------------------------------
    "a1_tumbling_volume" -> ((s, dir) => TradeOps.tumblingVolume(trades(s, dir))),
    "a2_sliding_features" -> ((s, dir) => TradeOps.slidingFeatures(trades(s, dir))),
    // -- window-function tier (W1-W3, A7) --------------------------------
    "w1_cumulative_volume" -> ((s, dir) => TradeOps.cumulativeVolume(trades(s, dir))),
    "w2_lookback_avg" -> ((s, dir) => TradeOps.lookbackAvg(trades(s, dir))),
    "w2b_lookback_matrix" -> ((s, dir) => Predict.lookbackMatrixDigest(trades(s, dir))),
    "k7_predict_writeback" -> ((s, dir) => Predict.predictWriteback(s, trades(s, dir), dir)),
    "w3_resample_interpolate" -> ((s, dir) => Resample.interpolateHourly(trades(s, dir))),
    // -- scalar/derivation tier (F2, F3, F9) -----------------------------
    "f9_minmax_scale" -> ((s, dir) => TradeOps.minMaxScale(trades(s, dir))),
    "f3_dateparts" -> ((s, dir) => TradeOps.dateParts(trades(s, dir))),
    "f2_json_kv" -> ((s, dir) => TradeOps.jsonKeyValue(trades(s, dir))),
    // -- profiling / time-conversion tier (A8, A9, F5-F7, O5, S5/K8) -----
    "a8_null_profile" -> ((s, dir) => TradeOps.nullProfile(Tables.load(s, dir, "lineitem"))),
    "a9_time_bounds" -> ((s, dir) => TradeOps.timeBounds(trades(s, dir))),
    "a10_quantiles" -> ((s, dir) => TradeOps.discreteQuantiles(trades(s, dir))),
    "a10b_approx_quantiles" -> ((s, dir) => TradeOps.approxQuantilesChecked(trades(s, dir))),
    "o5_union_append" -> ((s, dir) => TradeOps.unionAppend(trades(s, dir))),
    "o6_set_ops" -> ((s, dir) => TradeOps.setOps(trades(s, dir))),
    "j_full_outer_daily" -> ((s, dir) => TradeOps.fullOuterDaily(trades(s, dir))),
    "a_grouping_sets" -> ((s, dir) => Relational.groupingSetsSummary(s, dir)),
    "t_normalize" -> ((s, dir) => TextOps.normalize(Tables.load(s, dir, "documents"))),
    "t_stratified_sample" -> ((s, dir) => TextOps.stratifiedSample(Tables.load(s, dir, "documents"))),
    "t_pack_sequences" -> ((s, dir) => TextOps.packSequences(Tables.load(s, dir, "documents"))),
    "t_source_mix" -> ((s, dir) => TextOps.sourceMixSample(Tables.load(s, dir, "documents"))),
    "f5_time_convert" -> ((s, dir) => TradeOps.timeConvert(trades(s, dir))),
    "s5_csv_roundtrip" -> ((s, dir) => TradeOps.csvRoundTrip(s, trades(s, dir))),
    "s11_orc_roundtrip" -> ((s, dir) => TradeOps.orcRoundTrip(s, trades(s, dir))),
    "s8_json_roundtrip" -> ((s, dir) => TradeOps.jsonRoundTrip(s, trades(s, dir))),
    "k4_partitioned_roundtrip" -> ((s, dir) => TradeOps.partitionedRoundTrip(s, trades(s, dir))),
    // -- serving tier (S6, O1, O2, O4) -----------------------------------
    "s6_serving_range" -> ((s, dir) =>
      TradeOps.servingRange(trades(s, dir), "click", "2024-01-05 00:00:00", "2024-01-20 00:00:00")),
    "s7_keyed_point_read" -> ((s, dir) =>
      TradeOps.keyedPointRead(s, trades(s, dir), dir, "click", "2024-01-05 00:00:00", "2024-01-20 00:00:00")),
    "s9_time_travel" -> ((s, dir) => TradeOps.timeTravelRead(s, trades(s, dir), dir)),
    "s10_version_diff" -> ((s, dir) => TradeOps.versionDiff(s, trades(s, dir), dir)),
    "w4_analytic_funcs" -> ((s, dir) => TradeOps.analyticWindows(trades(s, dir))),
    "w5_ewma" -> ((s, dir) => TradeOps.ewma(trades(s, dir))),
    "w6_rolling_median" -> ((s, dir) => TradeOps.rollingMedian(trades(s, dir))),
    "a11_price_histogram" -> ((s, dir) => TradeOps.priceHistogram(trades(s, dir))),
    "t_bigram_topk" -> ((s, dir) => TextOps.bigramTopK(Tables.load(s, dir, "documents"))),
    "o2_last_row" -> ((s, dir) => TradeOps.lastRow(trades(s, dir))),
    "o4_ordered_split" -> ((s, dir) => TradeOps.orderedSplit(trades(s, dir))),
    // -- joins (§2.6; as-of per predict_btc.py:88-91) --------------------
    "j_asof_click" -> ((s, dir) => {
      val t = trades(s, dir)
      val purchases = t.filter(col("symbol") === "purchase")
        .select("event_id", "user_id", "timestamp", "price")
      val clicks = t.filter(col("symbol") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max_by(col("price"), col("event_id")).as("click_price"))
      AsOfJoin.asOf(purchases, clicks, "user_id", "timestamp",
        "click_price", "click_price")
    }),
    "j_asof_nearest" -> ((s, dir) => {
      val t = trades(s, dir)
      val purchases = t.filter(col("symbol") === "purchase")
        .select("event_id", "user_id", "timestamp", "price")
      val clicks = t.filter(col("symbol") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max_by(col("price"), col("event_id")).as("click_price"))
      AsOfJoin.asOfNearest(purchases, clicks, "user_id", "timestamp",
        "click_price", "near_price")
    }),
    "j_asof_tolerance" -> ((s, dir) => {
      val t = trades(s, dir)
      val purchases = t.filter(col("symbol") === "purchase")
        .select("event_id", "user_id", "timestamp", "price")
      val clicks = t.filter(col("symbol") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max_by(col("price"), col("event_id")).as("click_price"))
      AsOfJoin.asOfTolerance(purchases, clicks, "user_id", "timestamp",
        "click_price", "tol_price", toleranceMs = 60000L)
    }),
    "j_semi_customers_with_orders" -> ((s, dir) => Relational.customersWithOrders(s, dir)),
    "j_anti_customers_without_orders" -> ((s, dir) => Relational.customersWithoutOrders(s, dir)),
    // -- relational breadth ----------------------------------------------
    "q1_pricing_summary" -> ((s, dir) => Relational.pricingSummary(s, dir)),
    "q3_shipping_priority" -> ((s, dir) => Relational.shippingPriority(s, dir)),
    "q5_revenue_by_nation" -> ((s, dir) => Relational.localSupplierVolume(s, dir)),
    "q10_returned_revenue" -> ((s, dir) => Relational.returnedItemRevenue(s, dir)),
    "q17_small_qty_revenue" -> ((s, dir) => Relational.smallQuantityRevenue(s, dir)),
    "q7_volume_shipping" -> ((s, dir) => Relational.volumeShipping(s, dir)),
    "q8_market_share" -> ((s, dir) => Relational.marketShare(s, dir)),
    "q9_product_profit" -> ((s, dir) => Relational.productProfit(s, dir)),
    "q12_priority_lines" -> ((s, dir) => Relational.priorityLineCounts(s, dir)),
    "q13_order_distribution" -> ((s, dir) => Relational.customerOrderDistribution(s, dir)),
    "q14_promo_share" -> ((s, dir) => Relational.promoRevenueShare(s, dir)),
    "q15_top_supplier" -> ((s, dir) => Relational.topSupplier(s, dir)),
    "q18_large_volume" -> ((s, dir) => Relational.largeVolumeOrders(s, dir)),
    "q19_branded_revenue" -> ((s, dir) => Relational.brandedRevenue(s, dir)),
    "q21_sole_returning_supplier" -> ((s, dir) => Relational.soleReturningSupplier(s, dir)),
    "q22_idle_balance" -> ((s, dir) => Relational.idleCustomerBalance(s, dir)),
    "q2_min_cost_supplier" -> ((s, dir) => Relational.minCostSupplier(s, dir)),
    "q11_important_stock" -> ((s, dir) => Relational.importantStockValue(s, dir)),
    "q16_supplier_count" -> ((s, dir) => Relational.supplierCountByPart(s, dir)),
    "q20_excess_stock" -> ((s, dir) => Relational.excessStockSuppliers(s, dir)),
    "a_distinct_counts" -> ((s, dir) => Relational.distinctCounts(s, dir)),
    "a_approx_distinct" -> ((s, dir) => Relational.approxDistinctChecked(s, dir)),
    "w_order_ranks" -> ((s, dir) => Relational.orderRanks(s, dir)),
    "a_rollup_summary" -> ((s, dir) => Relational.rollupSummary(s, dir)),
    "a_cube_summary" -> ((s, dir) => Relational.cubeSummary(s, dir)),
    "j_range_binned" -> ((s, dir) => {
      val t = trades(s, dir)
      val purchases = t.filter(col("symbol") === "purchase")
        .select("event_id", "user_id", "timestamp", "price")
      val clicks = t.filter(col("symbol") === "click")
        .select("user_id", "timestamp")
      AsOfJoin.rangeCountJoin(purchases, clicks, "user_id", "timestamp",
        windowSec = 3600L, binSec = 900L)
    }),
    // -- scale-technique tier (T15, skew, co-located joins) --------------
    "t15_session_windows" -> ((s, dir) => Scale.sessionize(trades(s, dir))),
    "skew_salted_agg" -> ((s, dir) => Scale.saltedVolumeBySymbol(trades(s, dir))),
    "b_bucketed_join" -> ((s, dir) => Scale.bucketedOrderRevenue(s, dir)),
    "k9_zorder_roundtrip" -> ((s, dir) => Scale.zorderRoundTrip(s, trades(s, dir))),
    // -- training-data pipeline tier (SURVEY.md §7.5) --------------------
    "t_token_stats" -> ((s, dir) => TextOps.tokenStats(Tables.load(s, dir, "documents"))),
    "t_lang_id" -> ((s, dir) => TextOps.langId(Tables.load(s, dir, "documents"))),
    "t_quality_score" -> ((s, dir) => TextOps.qualityScore(Tables.load(s, dir, "documents"))),
    "t_fingerprint" -> ((s, dir) => TextOps.fingerprint(Tables.load(s, dir, "documents"))),
    "t_repetition" -> ((s, dir) => TextOps.repetitionStats(Tables.load(s, dir, "documents"))),
    "t_chunking" -> ((s, dir) => TextOps.chunkDocs(Tables.load(s, dir, "documents"))),
    "t_pii_redact" -> ((s, dir) => TextOps.piiRedact(Tables.load(s, dir, "documents"))),
    "t_vocab_topk" -> ((s, dir) => TextOps.vocabTopK(Tables.load(s, dir, "documents"))),
    "t_freq_spectrum" -> ((s, dir) => TextOps.freqSpectrum(Tables.load(s, dir, "documents"))),
    "t_df_rarity" -> ((s, dir) => TextOps.dfRarity(Tables.load(s, dir, "documents"))),
    "t_bpe_train" -> ((s, dir) => TextOps.bpeTrain(Tables.load(s, dir, "documents"))),
    "t_bpe_encode" -> ((s, dir) => TextOps.bpeEncode(Tables.load(s, dir, "documents"))),
    "t_domain_quota" -> ((s, dir) => TextOps.domainQuota(Tables.load(s, dir, "documents"))),
    "d_cluster_best" -> ((s, dir) => Dedup.clusterBest(Tables.load(s, dir, "documents"))),
    "t_tfidf_topk" -> ((s, dir) => TextOps.tfidfTopK(Tables.load(s, dir, "documents"))),
    "k10_compaction" -> ((s, dir) => TradeOps.compactRoundTrip(s, trades(s, dir))),
    "q4_returned_priority" -> ((s, dir) => Relational.returnedPriorityOrders(s, dir)),
    "q6_forecast_revenue" -> ((s, dir) => Relational.forecastRevenue(s, dir)),
    "d_contamination" -> ((s, dir) => TextOps.contamination(Tables.load(s, dir, "documents"))),
    "d_exact_dedup" -> ((s, dir) => Dedup.exactDedup(Tables.load(s, dir, "documents"))),
    "d_minhash_sig" -> ((s, dir) => Dedup.minhashSignatures(Tables.load(s, dir, "documents"))),
    "d_minhash_pairs" -> ((s, dir) => Dedup.minhashPairs(Tables.load(s, dir, "documents"))),
    "d_threshold_curve" -> ((s, dir) => Dedup.thresholdCurve(Tables.load(s, dir, "documents"))),
    "d_band_tuning" -> ((s, dir) => Dedup.bandTuning(Tables.load(s, dir, "documents"))),
    "g_modularity" -> ((s, dir) => Dedup.modularity(
      Tables.load(s, dir, "documents"), edgeBudget = 2000000L)),
    "d_dup_by_source" -> ((s, dir) => Dedup.dupBySource(Tables.load(s, dir, "documents"))),
    "d_simhash_sig" -> ((s, dir) => Dedup.simhashSignatures(Tables.load(s, dir, "documents"))),
    "d_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(Tables.load(s, dir, "documents"))),
    "d_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(Tables.load(s, dir, "documents"))),
    "d_embedding_dup" -> ((s, dir) => Dedup.embeddingDup(s, dir)),
    "d_cos_threshold_curve" -> ((s, dir) => Dedup.cosThresholdCurve(s, dir)),
    "d_segment_dedup" -> ((s, dir) => TextOps.segmentDedup(Tables.load(s, dir, "documents"))),
    "d_dedup_resolve" -> ((s, dir) => Dedup.resolveDuplicates(Tables.load(s, dir, "documents"))),
    "mv_incremental" -> ((s, dir) => Incremental.incrementalAgg(Tables.events(s, dir))),
    "e_funnel" -> ((s, dir) => EventAnalytics.funnel(Tables.events(s, dir))),
    "e_retention" -> ((s, dir) => EventAnalytics.retention(Tables.events(s, dir))),
    "e_transitions" -> ((s, dir) => EventAnalytics.transitionMatrix(Tables.events(s, dir))),
    "mv_incremental_distinct" -> ((s, dir) => Incremental.incrementalDistinct(Tables.events(s, dir))),
    "mv_join_incremental" -> ((s, dir) => Incremental.incrementalJoinAgg(
      Tables.load(s, dir, "orders"), Tables.load(s, dir, "customer"))),
    "mv_minmax_retract" -> ((s, dir) =>
      Incremental.retractableMinMax(Tables.events(s, dir))),
    "mv_median_retract" -> ((s, dir) =>
      Incremental.retractableMedian(Tables.events(s, dir))),
    "mv_topk_retract" -> ((s, dir) =>
      Incremental.retractableTopK(Tables.events(s, dir))),
    "t_importance_weights" -> ((s, dir) =>
      TextOps.importanceWeights(Tables.load(s, dir, "documents"))),
    "t_ngram_novelty" -> ((s, dir) =>
      TextOps.ngramNovelty(Tables.load(s, dir, "documents"))),
    "t_langid_confusion" -> ((s, dir) =>
      TextOps.langIdConfusion(Tables.load(s, dir, "documents"))),
    "t_bpe_fertility" -> ((s, dir) =>
      TextOps.bpeFertility(Tables.load(s, dir, "documents"))),
    "w7_gap_detect" -> ((s, dir) => TradeOps.gapDetect(trades(s, dir))),
    "p2_dead_letter" -> ((s, dir) => graft.ingest.Decode.deadLetterDecode(trades(s, dir))),
    "a_hll_merge" -> ((s, dir) => Relational.hllMergeDistinct(s, dir)),
    "a28_hll_intersect" -> ((s, dir) => Relational.hllIntersect(s, dir)),
    "a27_cms_topk" -> ((s, dir) => Relational.cmsTopK(s, dir)),
    "w_vwma" -> ((s, dir) => TradeOps.vwma(trades(s, dir))),
    "a_gini" -> ((s, dir) => TradeOps.giniActivity(trades(s, dir))),
    "a_runs_test" -> ((s, dir) => TradeOps.runsTest(trades(s, dir))),
    "d_edit_distance" -> ((s, dir) =>
      Dedup.editDistance(Tables.load(s, dir, "documents"))),
    "d_prefix_dup" -> ((s, dir) =>
      Dedup.prefixDup(Tables.load(s, dir, "documents"))),
    "t_charclass_profile" -> ((s, dir) =>
      TextOps.charClassProfile(Tables.load(s, dir, "documents"))),
    "k16_partition_evolution" -> ((s, dir) =>
      TradeOps.partitionEvolution(s, trades(s, dir))),
    "t_length_outliers" -> ((s, dir) =>
      TextOps.lengthOutliers(Tables.load(s, dir, "documents"))),
    "d_minhash_est_error" -> ((s, dir) =>
      Dedup.minhashEstError(Tables.load(s, dir, "documents"))),
    "w_ichimoku" -> ((s, dir) => TradeOps.ichimoku(trades(s, dir))),
    "w_aroon" -> ((s, dir) => TradeOps.aroon(trades(s, dir))),
    "e_burst_detect" -> ((s, dir) =>
      EventAnalytics.burstDetect(Tables.events(s, dir))),
    "a_pivot_dow" -> ((s, dir) => TradeOps.pivotDayOfWeek(trades(s, dir))),
    "a_unpivot_totals" -> ((s, dir) => TradeOps.unpivotTotals(trades(s, dir))),
    // -- technical-indicator tier (W8-W10, A12-A13) ----------------------
    "w8_bollinger" -> ((s, dir) => TradeOps.bollinger(trades(s, dir))),
    "w9_rsi" -> ((s, dir) => TradeOps.rsi(trades(s, dir))),
    "w10_drawdown" -> ((s, dir) => TradeOps.drawdown(trades(s, dir))),
    "a12_pairwise_corr" -> ((s, dir) => TradeOps.pairwiseCorr(trades(s, dir))),
    "a13_vwap" -> ((s, dir) => TradeOps.vwap(trades(s, dir))),
    // -- fingerprint/coverage additions ----------------------------------
    "t_winnow" -> ((s, dir) => TextOps.winnow(Tables.load(s, dir, "documents"))),
    "d_substring_dup" -> ((s, dir) => TextOps.substringDup(Tables.load(s, dir, "documents"))),
    "t_lm_coverage" -> ((s, dir) => TextOps.lmCoverage(Tables.load(s, dir, "documents"))),
    "e_cooccurrence" -> ((s, dir) => EventAnalytics.cooccurrence(Tables.events(s, dir))),
    "w11_obv" -> ((s, dir) => TradeOps.obv(trades(s, dir))),
    "f12_winsorize" -> ((s, dir) => TradeOps.winsorize(trades(s, dir))),
    "t_boilerplate" -> ((s, dir) => TextOps.boilerplateStrip(Tables.load(s, dir, "documents"))),
    "w12_stochastic" -> ((s, dir) => TradeOps.stochasticK(trades(s, dir))),
    "a14_atr" -> ((s, dir) => TradeOps.atr(trades(s, dir))),
    "a15_anomaly" -> ((s, dir) => TradeOps.anomalyFlags(trades(s, dir))),
    "skew_salted_join" -> ((s, dir) => Scale.saltedSkewJoin(trades(s, dir))),
    "d_fuzzy_pairs" -> ((s, dir) => Dedup.fuzzyPairs(Tables.load(s, dir, "documents"))),
    "w13_cusum" -> ((s, dir) => TradeOps.cusum(trades(s, dir))),
    "a16_profile" -> ((s, dir) => TradeOps.columnProfile(Tables.load(s, dir, "lineitem"))),
    "a17_beta" -> ((s, dir) => TradeOps.marketBeta(trades(s, dir))),
    "w14_macd" -> ((s, dir) => TradeOps.macd(trades(s, dir))),
    "a18_mode" -> ((s, dir) => TradeOps.modalPrice(trades(s, dir))),
    "t_code_detect" -> ((s, dir) => TextOps.codeDetect(Tables.load(s, dir, "documents"))),
    "s12_gzip_roundtrip" -> ((s, dir) => TradeOps.gzipJsonRoundTrip(s, trades(s, dir))),
    "a19_robust" -> ((s, dir) => TradeOps.robustStats(trades(s, dir))),
    "a29_weighted_median" -> ((s, dir) => TradeOps.weightedMedian(trades(s, dir))),
    "a16b_profile_sketch" -> ((s, dir) => TradeOps.columnProfileSketch(Tables.load(s, dir, "lineitem"))),
    "s13_keyset_page" -> ((s, dir) =>
      TradeOps.keysetPage(trades(s, dir), "2024-01-15 00:00:00", 0L)),
    "j_asof_forward" -> ((s, dir) => {
      val t = trades(s, dir)
      val purchases = t.filter(col("symbol") === "purchase")
        .select("event_id", "user_id", "timestamp", "price")
      val clicks = t.filter(col("symbol") === "click")
        .groupBy("user_id", "timestamp")
        .agg(max_by(col("price"), col("event_id")).as("next_click_price"))
      AsOfJoin.asOfForward(purchases, clicks, "user_id", "timestamp",
        "next_click_price", "next_click_price")
    }),
    "w15_interval_merge" -> ((s, dir) => TradeOps.mergeIntervals(trades(s, dir))),
    "a20_equidepth" -> ((s, dir) => TradeOps.equiDepthHistogram(trades(s, dir))),
    "o7_walk_forward" -> ((s, dir) => TradeOps.walkForwardSplits(trades(s, dir))),
    "f13_delta_encode" -> ((s, dir) => TradeOps.deltaEncode(trades(s, dir))),
    "e_attribution" -> ((s, dir) =>
      EventAnalytics.lastTouchAttribution(Tables.events(s, dir))),
    "b_bloom_join" -> ((s, dir) => Relational.bloomSemiJoinRevenue(s, dir)),
    "k11_scd2" -> ((s, dir) => TradeOps.scd2Build(trades(s, dir))),
    "o8_kfold" -> ((s, dir) => TradeOps.kfoldAssign(trades(s, dir))),
    "f14_zscore" -> ((s, dir) => TradeOps.zscoreScale(trades(s, dir))),
    "s14_schema_evolution" -> ((s, dir) =>
      TradeOps.schemaEvolutionRead(s, trades(s, dir))),
    "mv_retract" -> ((s, dir) =>
      Incremental.incrementalRetract(Tables.events(s, dir))),
    "e_rfm" -> ((s, dir) => Relational.rfmSegments(s, dir)),
    "a21_yoy_revenue" -> ((s, dir) => Relational.yoyRevenue(s, dir)),
    "k12_cdc_apply" -> ((s, dir) => Incremental.cdcApply(trades(s, dir))),
    "d_containment" -> ((s, dir) => Dedup.containment(Tables.load(s, dir, "documents"))),
    "d_lsh_recall" -> ((s, dir) => Dedup.lshRecall(Tables.load(s, dir, "documents"))),
    "t_feature_hash" -> ((s, dir) => TextOps.featureHash(Tables.load(s, dir, "documents"))),
    "w16_pivot_points" -> ((s, dir) => TradeOps.pivotPoints(trades(s, dir))),
    "w17_twap" -> ((s, dir) => TradeOps.twap(trades(s, dir))),
    "o9_group_split" -> ((s, dir) => TradeOps.groupSplit(trades(s, dir))),
    "a22_benford" -> ((s, dir) => TradeOps.benfordProfile(trades(s, dir))),
    "e_conversion_paths" -> ((s, dir) =>
      EventAnalytics.conversionPaths(Tables.events(s, dir))),
    "p3_props_shred" -> ((s, dir) =>
      EventAnalytics.propsShred(Tables.events(s, dir))),
    "w18_run_length" -> ((s, dir) => TradeOps.runLength(trades(s, dir))),
    "k13_dynamic_overwrite" -> ((s, dir) =>
      TradeOps.dynamicPartitionOverwrite(s, trades(s, dir))),
    "a23_autocorr" -> ((s, dir) => TradeOps.autocorr(trades(s, dir))),
    "a24_ks_drift" -> ((s, dir) => TradeOps.ksDrift(trades(s, dir))),
    "e_stickiness" -> ((s, dir) =>
      EventAnalytics.stickiness(Tables.events(s, dir))),
    "k14_wap" -> ((s, dir) => graft.sinks.Wap.roundTrip(s, trades(s, dir))),
    "a25_concentration" -> ((s, dir) => TradeOps.concentration(trades(s, dir))),
    "f16_target_encode" -> ((s, dir) => TradeOps.targetEncode(trades(s, dir))),
    "f17_quantile_rank" -> ((s, dir) => TradeOps.quantileRank(trades(s, dir))),
    "a26_chisq" -> ((s, dir) => TradeOps.chisqHourly(trades(s, dir))),
    "s16_table_fingerprint" -> ((s, dir) =>
      TradeOps.tableFingerprint(trades(s, dir))),
    "d_cross_dedup" -> ((s, dir) =>
      Dedup.crossDedup(Tables.load(s, dir, "documents"))),
    "o10_purged_embargo" -> ((s, dir) =>
      TradeOps.purgedEmbargoSplits(trades(s, dir))),
    "t_tv_drift" -> ((s, dir) =>
      TextOps.tvDrift(Tables.load(s, dir, "documents"))),
    "k15_merge_on_read" -> ((s, dir) =>
      TradeOps.mergeOnRead(s, trades(s, dir))),
    "s17_zonemap_prune" -> ((s, dir) =>
      TradeOps.zonemapPrune(s, trades(s, dir))),
    "s18_bloom_prune" -> ((s, dir) =>
      TradeOps.bloomPrune(s, trades(s, dir))),
    "f18_robust_scale" -> ((s, dir) => TradeOps.robustScale(trades(s, dir))),
    "e_time_to_convert" -> ((s, dir) =>
      EventAnalytics.timeToConvert(Tables.events(s, dir))),
    "e_ltv_curve" -> ((s, dir) =>
      EventAnalytics.ltvCurve(Tables.events(s, dir))),
    "w19_realized_vol" -> ((s, dir) => TradeOps.realizedVol(trades(s, dir))),
    "q25_copurchase" -> ((s, dir) => Relational.copurchase(s, dir)),
    "a_var_es" -> ((s, dir) => TradeOps.varEs(trades(s, dir))),
    "a_moment_profile" -> ((s, dir) =>
      TradeOps.momentProfile(trades(s, dir))),
    "w_mfi" -> ((s, dir) => TradeOps.mfi(trades(s, dir))),
    "e_interarrival" -> ((s, dir) =>
      EventAnalytics.interarrival(Tables.events(s, dir))),
    "t_readability" -> ((s, dir) =>
      TextOps.readability(Tables.load(s, dir, "documents"))),
    "e_markov_stationary" -> ((s, dir) =>
      EventAnalytics.markovStationary(Tables.events(s, dir))),
    "e_simpson_diversity" -> ((s, dir) =>
      EventAnalytics.simpsonDiversity(Tables.events(s, dir))),
    "s20_partition_diff" -> ((s, dir) =>
      TradeOps.partitionDiff(trades(s, dir))),
    "w_vol_regime" -> ((s, dir) => TradeOps.volRegime(trades(s, dir))),
    "w_vol_regime_banded" -> ((s, dir) =>
      TradeOps.volRegimeBanded(trades(s, dir))),
    "w_donchian" -> ((s, dir) => TradeOps.donchian(trades(s, dir))),
    "t_heaps_law" -> ((s, dir) =>
      TextOps.heapsLaw(Tables.load(s, dir, "documents"))),
    "e_rate_change" -> ((s, dir) =>
      EventAnalytics.rateChange(Tables.events(s, dir))),
    "d_len_dup_bias" -> ((s, dir) =>
      Dedup.lenDupBias(Tables.load(s, dir, "documents"))),
    "e_audience_overlap" -> ((s, dir) =>
      EventAnalytics.audienceOverlap(Tables.events(s, dir))),
    "a_subsample_stability" -> ((s, dir) =>
      TradeOps.subsampleStability(trades(s, dir))),
    "q28_ship_latency" -> ((s, dir) => Relational.shipLatency(s, dir)),
    "q29_order_gap_hist" -> ((s, dir) => Relational.orderGapHist(s, dir)),
    "d_cluster_size_hist" -> ((s, dir) =>
      Dedup.clusterSizeHist(Tables.load(s, dir, "documents"))),
    "k17_rollback" -> ((s, dir) =>
      TradeOps.rollbackRoundTrip(s, trades(s, dir))),
    "w_vpin" -> ((s, dir) => TradeOps.vpin(trades(s, dir))),
    "e_bot_score" -> ((s, dir) =>
      EventAnalytics.botScore(Tables.events(s, dir))),
    "w_amihud" -> ((s, dir) => TradeOps.amihud(trades(s, dir))),
    "w_roll_spread" -> ((s, dir) => TradeOps.rollSpread(trades(s, dir))),
    "a_bootstrap_ci" -> ((s, dir) => TradeOps.bootstrapCi(trades(s, dir))),
    "w_parkinson" -> ((s, dir) => TradeOps.parkinsonRange(trades(s, dir))),
    "w_beta_rolling" -> ((s, dir) => TradeOps.rollingBeta(trades(s, dir))),
    "w_variance_ratio" -> ((s, dir) => TradeOps.varianceRatio(trades(s, dir))),
    "w_kyle_lambda" -> ((s, dir) => TradeOps.kyleLambda(trades(s, dir))),
    "w_keltner" -> ((s, dir) => TradeOps.keltner(trades(s, dir))),
    "a_rank_drift" -> ((s, dir) => TradeOps.rankDrift(trades(s, dir))),
    "w_adx" -> ((s, dir) => TradeOps.adx(trades(s, dir))),
    "a_acf_profile" -> ((s, dir) => TradeOps.acfProfile(trades(s, dir))),
    "w_sharpe" -> ((s, dir) => TradeOps.sharpe(trades(s, dir))),
    "t_vocab_overlap" -> ((s, dir) =>
      TextOps.vocabOverlap(Tables.load(s, dir, "documents"))),
    "a_adf_stat" -> ((s, dir) => TradeOps.adfStat(trades(s, dir))),
    "w_cci" -> ((s, dir) => TradeOps.cci(trades(s, dir))),
    "w_hurst_rs" -> ((s, dir) => TradeOps.hurstRs(trades(s, dir))),
    "w_max_drawdown" -> ((s, dir) => TradeOps.maxDrawdown(trades(s, dir))),
    "e_pareto_share" -> ((s, dir) =>
      EventAnalytics.paretoShare(Tables.events(s, dir))),
    "t_hapax_profile" -> ((s, dir) =>
      TextOps.hapaxProfile(Tables.load(s, dir, "documents"))),
    "e_new_returning" -> ((s, dir) =>
      EventAnalytics.newReturning(Tables.events(s, dir))),
    "e_lifespan_hist" -> ((s, dir) =>
      EventAnalytics.lifespanHist(Tables.events(s, dir))),
    "q30_supplier_hhi" -> ((s, dir) => Relational.supplierHhi(s, dir)),
    "q31_decile_migration" -> ((s, dir) => Relational.decileMigration(s, dir)),
    "e_rate_anomaly" -> ((s, dir) =>
      EventAnalytics.rateAnomaly(Tables.events(s, dir))),
    "e_rolling_wau" -> ((s, dir) =>
      EventAnalytics.rollingWau(Tables.events(s, dir))),
    "w_volume_profile" -> ((s, dir) =>
      TradeOps.volumeProfile(trades(s, dir))),
    "d_bucket_skew" -> ((s, dir) =>
      Dedup.bucketSkew(Tables.load(s, dir, "documents"))),
    "q26_revenue_deciles" -> ((s, dir) => Relational.revenueDeciles(s, dir)),
    "e_seasonal_profile" -> ((s, dir) =>
      EventAnalytics.seasonalProfile(Tables.events(s, dir))),
    "w_sortino" -> ((s, dir) => TradeOps.sortino(trades(s, dir))),
    "w_calmar" -> ((s, dir) => TradeOps.calmar(trades(s, dir))),
    "w_ulcer" -> ((s, dir) => TradeOps.ulcerIndex(trades(s, dir))),
    "w_williams_r" -> ((s, dir) => TradeOps.williamsR(trades(s, dir))),
    "w_obv_divergence" -> ((s, dir) => TradeOps.obvDivergence(trades(s, dir))),
    "e_active_streaks" -> ((s, dir) =>
      EventAnalytics.activeStreaks(Tables.events(s, dir))),
    "k18_snapshot_expire" -> ((s, dir) =>
      TradeOps.snapshotExpire(s, trades(s, dir))),
    "e_churn_rate" -> ((s, dir) =>
      EventAnalytics.churnRate(Tables.events(s, dir))),
    "w_squeeze" -> ((s, dir) => TradeOps.squeeze(trades(s, dir))),
    "w_rvi" -> ((s, dir) => TradeOps.rvi(trades(s, dir))),
    "a_round_price_bias" -> ((s, dir) =>
      TradeOps.roundPriceBias(trades(s, dir))),
    "w_gap_fill" -> ((s, dir) => TradeOps.gapFill(trades(s, dir))),
    "w_narrow_range" -> ((s, dir) => TradeOps.narrowRange(trades(s, dir))),
    "k19_compact_generations" -> ((s, dir) =>
      TradeOps.compactGenerations(s, trades(s, dir))),
    "a_depth_ladder" -> ((s, dir) => TradeOps.depthLadder(trades(s, dir))),
    "d_source_similarity" -> ((s, dir) =>
      Dedup.sourceSimilarity(Tables.load(s, dir, "documents"))),
    "k20_prediction_accuracy" -> ((s, dir) =>
      Predict.predictionAccuracy(trades(s, dir))),
    "k21_audited_lifecycle" -> ((s, dir) =>
      graft.sinks.Wap.auditedLifecycle(s, trades(s, dir))),
    "k22_schema_evolution" -> ((s, dir) =>
      TradeOps.schemaEvolution(s, trades(s, dir))),
    "k23_gdpr_purge" -> ((s, dir) =>
      TradeOps.gdprPurge(s, trades(s, dir))),
    "q_constraint_suite" -> ((s, dir) =>
      Relational.constraintSuite(s, dir)),
    "e_survival_curve" -> ((s, dir) =>
      EventAnalytics.survivalCurve(Tables.events(s, dir))),
    "j_fanout_profile" -> ((s, dir) =>
      Relational.fanoutProfile(s, dir)),
    "e_cuped_ab" -> ((s, dir) =>
      EventAnalytics.cupedAb(Tables.events(s, dir))),
  )

  private val T = Tables.tradesCte

  private val decodeRoundTripSql: String =
    s"""$T
       |SELECT symbol,
       |       make_timestamp(epoch_ms("timestamp") * 1000) AS "timestamp",
       |       price, volume,
       |       price * volume AS usd_volume,
       |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) OVER (PARTITION BY symbol
       |         ORDER BY "timestamp", event_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
       |         AS cumulative_volume
       |FROM trades""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "p1_decode_roundtrip" -> decodeRoundTripSql,
    "p1b_avro_roundtrip" -> decodeRoundTripSql,

    "a8_null_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      cols.map(c => s"count(*) - count($c) AS nulls_$c")
        .mkString("SELECT ", ",\n       ", "\nFROM lineitem")
    },

    "k4_partitioned_roundtrip" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume FROM trades
         |WHERE year("timestamp") = 2024 AND month("timestamp") = 1""".stripMargin,

    "a9_time_bounds" ->
      s"""$T
         |SELECT min("timestamp") AS ts_min, max("timestamp") AS ts_max,
         |       count(*) AS n_rows
         |FROM trades""".stripMargin,

    "o5_union_append" ->
      s"""$T
         |SELECT event_id, symbol, price FROM trades WHERE symbol = 'click'
         |UNION ALL
         |SELECT event_id, symbol, price FROM trades WHERE symbol = 'purchase'""".stripMargin,

    "j_full_outer_daily" ->
      s"""$T,
         |c AS (SELECT date_trunc('day', "timestamp") AS day, count(*) AS n_clicks
         |      FROM trades WHERE symbol = 'click' GROUP BY 1),
         |p AS (SELECT date_trunc('day', "timestamp") AS day, count(*) AS n_purchases
         |      FROM trades WHERE symbol = 'purchase' GROUP BY 1)
         |SELECT coalesce(c.day, p.day) AS day, c.n_clicks, p.n_purchases
         |FROM c FULL OUTER JOIN p ON c.day = p.day""".stripMargin,

    "a_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""".stripMargin,

    "t_normalize" -> TextOps.normalizeSql,
    "t_stratified_sample" -> TextOps.stratifiedSampleSql(),
    "t_pack_sequences" -> TextOps.packSequencesSql(),
    "t_source_mix" -> TextOps.sourceMixSampleSql(),

    "a10_quantiles" ->
      s"""$T,
         |ranked AS (
         |  SELECT symbol, price,
         |         row_number() OVER (PARTITION BY symbol ORDER BY price, event_id) AS rn,
         |         count(*) OVER (PARTITION BY symbol) AS n
         |  FROM trades
         |)
         |SELECT symbol,
         |  max(CASE WHEN rn = CAST(ceil(0.5::DOUBLE * n) AS BIGINT) THEN price END) AS p50,
         |  max(CASE WHEN rn = CAST(ceil(0.9::DOUBLE * n) AS BIGINT) THEN price END) AS p90,
         |  max(CASE WHEN rn = CAST(ceil(0.99::DOUBLE * n) AS BIGINT) THEN price END) AS p99
         |FROM ranked GROUP BY 1""".stripMargin,

    // GK sketches aren't cross-engine comparable; the oracle asserts the
    // exact quantiles plus the rank-envelope flags as constant 1s
    "a10b_approx_quantiles" ->
      s"""$T,
         |ranked AS (
         |  SELECT symbol, price,
         |         row_number() OVER (PARTITION BY symbol ORDER BY price, event_id) AS rn,
         |         count(*) OVER (PARTITION BY symbol) AS n
         |  FROM trades
         |)
         |SELECT symbol,
         |  max(CASE WHEN rn = CAST(ceil(0.5::DOUBLE * n) AS BIGINT) THEN price END) AS p50,
         |  max(CASE WHEN rn = CAST(ceil(0.9::DOUBLE * n) AS BIGINT) THEN price END) AS p90,
         |  max(CASE WHEN rn = CAST(ceil(0.99::DOUBLE * n) AS BIGINT) THEN price END) AS p99,
         |  1 AS p50_in_spec, 1 AS p90_in_spec, 1 AS p99_in_spec
         |FROM ranked GROUP BY 1""".stripMargin,

    "o6_set_ops" ->
      s"""$T,
         |c AS (SELECT user_id FROM trades WHERE symbol = 'click'),
         |p AS (SELECT user_id FROM trades WHERE symbol = 'purchase')
         |SELECT user_id, 'both' AS membership FROM (SELECT * FROM c INTERSECT SELECT * FROM p)
         |UNION ALL
         |SELECT user_id, 'click_only' AS membership FROM (SELECT * FROM c EXCEPT SELECT * FROM p)
         |UNION ALL
         |SELECT user_id, 'purchase_only' AS membership FROM (SELECT * FROM p EXCEPT SELECT * FROM c)""".stripMargin,

    "f5_time_convert" ->
      s"""$T
         |SELECT event_id,
         |       date_trunc('milliseconds', "timestamp") AS ts_iso_roundtrip,
         |       date_trunc('second', "timestamp") AS ts_second_floor,
         |       "timestamp" + INTERVAL 10 SECOND AS ts_next_interval
         |FROM trades""".stripMargin,

    "s5_csv_roundtrip" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume FROM trades""".stripMargin,

    "s8_json_roundtrip" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume FROM trades""".stripMargin,

    "s11_orc_roundtrip" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume FROM trades""".stripMargin,

    "t15_session_windows" ->
      s"""$T,
         |m AS (
         |  SELECT user_id, "timestamp", usd_volume,
         |         CASE WHEN "timestamp" - lag("timestamp") OVER (
         |             PARTITION BY user_id ORDER BY "timestamp")
         |           <= INTERVAL 5 MINUTE THEN 0 ELSE 1 END AS new_s
         |  FROM trades
         |), s AS (
         |  SELECT user_id, "timestamp", usd_volume,
         |         sum(new_s) OVER (PARTITION BY user_id ORDER BY "timestamp"
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM m
         |)
         |SELECT user_id,
         |       min("timestamp") AS session_start,
         |       max("timestamp") + INTERVAL 5 MINUTE AS session_end,
         |       count(*) AS n_events,
         |       CAST(CAST(sum(CAST(usd_volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS session_usd
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "skew_salted_agg" ->
      s"""$T
         |SELECT symbol,
         |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_volume,
         |       count(*) AS n_trades,
         |       min(price) AS min_price,
         |       max(price) AS max_price
         |FROM trades GROUP BY symbol""".stripMargin,

    "k9_zorder_roundtrip" -> s"$T,\n${Scale.zorderSql()}",

    "b_bucketed_join" ->
      """SELECT c.c_custkey, c.c_name,
        |       count(*) AS n_orders,
        |       (CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0) AS revenue
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2""".stripMargin,

    "a1_tumbling_volume" ->
      s"""$T
         |SELECT symbol,
         |       date_trunc('minute', "timestamp") AS "timestamp",
         |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_volume,
         |       CAST(CAST(sum(CAST(usd_volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_usd_volume,
         |       count(*) AS n_trades
         |FROM trades GROUP BY 1, 2""".stripMargin,

    "a2_sliding_features" ->
      s"""$T
         |SELECT symbol,
         |       make_timestamp((CAST(floor(epoch("timestamp") / 10) AS BIGINT) * 10 - k) * 1000000)
         |         AS "timestamp",
         |       CAST(CAST(sum(CAST(usd_volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_usd_volume,
         |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_volume,
         |       arg_max(price, event_id) AS close,
         |       max(price) AS high,
         |       min(price) AS low,
         |       count(price) AS num_trades
         |FROM trades CROSS JOIN (VALUES (0), (10), (20)) offs(k)
         |GROUP BY 1, 2""".stripMargin,

    "w1_cumulative_volume" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", volume,
         |       CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) OVER (PARTITION BY symbol
         |         ORDER BY "timestamp", event_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0
         |         AS cumulative_volume
         |FROM trades""".stripMargin,

    "w2_lookback_avg" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", lookback_avg, n_rows FROM (
         |  SELECT event_id, symbol, "timestamp",
         |         CAST(CAST(sum(CAST(price AS DECIMAL(18,6))) OVER w * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 / 100 AS lookback_avg,
         |         count(*) OVER w AS n_rows
         |  FROM trades
         |  WINDOW w AS (PARTITION BY symbol ORDER BY "timestamp", event_id
         |               ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
         |) WHERE n_rows = 100""".stripMargin,

    "w2b_lookback_matrix" -> Predict.lookbackMatrixDigestSql(),
    "k7_predict_writeback" -> Predict.predictSql(),

    "w3_resample_interpolate" ->
      s"""$T, obs AS (
         |  SELECT symbol, date_trunc('hour', "timestamp") AS bucket,
         |         arg_max(price, event_id) AS p, count(*) AS n
         |  FROM trades GROUP BY 1, 2
         |), bounds AS (
         |  SELECT symbol, min(bucket) AS mn, max(bucket) AS mx FROM obs GROUP BY 1
         |), grid AS (
         |  SELECT symbol, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
         |  FROM bounds
         |), j AS (
         |  SELECT g.symbol, g.bucket, o.p, o.n
         |  FROM grid g LEFT JOIN obs o ON o.symbol = g.symbol AND o.bucket = g.bucket
         |), n8 AS (
         |  SELECT symbol, bucket, p, n,
         |    last_value(p IGNORE NULLS) OVER past AS pv,
         |    last_value(CASE WHEN p IS NOT NULL THEN bucket END IGNORE NULLS) OVER past AS pt,
         |    first_value(p IGNORE NULLS) OVER fut AS nv,
         |    first_value(CASE WHEN p IS NOT NULL THEN bucket END IGNORE NULLS) OVER fut AS nt,
         |    last_value(n IGNORE NULLS) OVER past AS n_ff
         |  FROM j
         |  WINDOW past AS (PARTITION BY symbol ORDER BY bucket
         |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         fut AS (PARTITION BY symbol ORDER BY bucket
         |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT symbol, bucket,
         |  (CASE WHEN p IS NOT NULL THEN p
         |             WHEN pv IS NULL THEN NULL
         |             WHEN nv IS NULL THEN pv
         |             ELSE pv + (nv - pv) *
         |               (CAST(epoch(bucket)::BIGINT - epoch(pt)::BIGINT AS DOUBLE) /
         |                CAST(epoch(nt)::BIGINT - epoch(pt)::BIGINT AS DOUBLE))
         |        END) AS price_filled,
         |  n_ff AS n_trades_ff
         |FROM n8""".stripMargin,

    "f9_minmax_scale" ->
      s"""$T
         |SELECT event_id, symbol, price,
         |       ((price - min(price) OVER (PARTITION BY symbol)) /
         |             (max(price) OVER (PARTITION BY symbol) -
         |              min(price) OVER (PARTITION BY symbol))) AS scaled
         |FROM trades""".stripMargin,

    "f3_dateparts" ->
      s"""$T
         |SELECT year("timestamp") AS year, month("timestamp") AS month,
         |       day("timestamp") AS day, hour("timestamp") AS hour,
         |       count(*) AS n, CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_volume
         |FROM trades GROUP BY 1, 2, 3, 4""".stripMargin,

    "f2_json_kv" ->
      s"""$T, bars AS (
         |  SELECT symbol, date_trunc('minute', "timestamp") AS minute_start,
         |         count(*) AS n_trades
         |  FROM trades GROUP BY 1, 2
         |)
         |SELECT symbol AS key,
         |       to_json(struct_pack(
         |         symbol := symbol,
         |         minute_start := CAST(minute_start AS VARCHAR),
         |         n_trades := n_trades))::VARCHAR AS value
         |FROM bars""".stripMargin,

    "s6_serving_range" ->
      s"""$T
         |SELECT event_id, "timestamp", price FROM trades
         |WHERE symbol = 'click'
         |  AND "timestamp" BETWEEN TIMESTAMP '2024-01-05 00:00:00'
         |                      AND TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "s7_keyed_point_read" ->
      s"""$T
         |SELECT event_id, "timestamp", price FROM trades
         |WHERE symbol = 'click'
         |  AND "timestamp" BETWEEN TIMESTAMP '2024-01-05 00:00:00'
         |                      AND TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "s9_time_travel" ->
      s"""$T, k AS (
         |  SELECT symbol, date_trunc('hour', "timestamp") AS hr,
         |         event_id % 3 AS batch,
         |         count(*) AS n_events, max(event_id) AS max_event_id
         |  FROM trades GROUP BY 1, 2, 3
         |), pick AS (
         |  SELECT symbol, hr, n_events, max_event_id,
         |         row_number() OVER (PARTITION BY symbol, hr
         |                            ORDER BY batch DESC) AS rn
         |  FROM k WHERE batch <= 1
         |)
         |SELECT symbol, hr, n_events, max_event_id
         |FROM pick WHERE rn = 1""".stripMargin,

    "w5_ewma" ->
      s"""$T
         |${TradeOps.ewmaSql()}""".stripMargin,

    "w6_rolling_median" ->
      s"""$T
         |${TradeOps.rollingMedianSql()}""".stripMargin,

    "a11_price_histogram" ->
      s"""$T,
         |${TradeOps.priceHistogramSql().stripPrefix("WITH ")}""".stripMargin,

    "s10_version_diff" ->
      s"""$T, k AS (
         |  SELECT symbol, date_trunc('hour', "timestamp") AS hr,
         |         event_id % 3 AS batch,
         |         count(*) AS n_events, max(event_id) AS max_event_id
         |  FROM trades GROUP BY 1, 2, 3
         |), v1 AS (
         |  SELECT symbol, hr, n_events, max_event_id FROM (
         |    SELECT symbol, hr, n_events, max_event_id,
         |           row_number() OVER (PARTITION BY symbol, hr
         |                              ORDER BY batch DESC) AS rn
         |    FROM k WHERE batch <= 1)
         |  WHERE rn = 1
         |), v2 AS (
         |  SELECT symbol, hr, n_events, max_event_id FROM (
         |    SELECT symbol, hr, n_events, max_event_id,
         |           row_number() OVER (PARTITION BY symbol, hr
         |                              ORDER BY batch DESC) AS rn
         |    FROM k WHERE batch <= 2)
         |  WHERE rn = 1
         |)
         |SELECT symbol, hr,
         |       o.n_events AS old_n, o.max_event_id AS old_max,
         |       n.n_events AS new_n, n.max_event_id AS new_max,
         |       CASE WHEN o.n_events IS NULL THEN 'insert'
         |            WHEN n.n_events IS NULL THEN 'delete'
         |            WHEN o.n_events != n.n_events
         |              OR o.max_event_id != n.max_event_id THEN 'update'
         |            ELSE 'unchanged' END AS change_type
         |FROM v1 o FULL OUTER JOIN v2 n USING (symbol, hr)""".stripMargin,

    "w4_analytic_funcs" ->
      s"""$T
         |SELECT symbol, event_id,
         |       ntile(4) OVER w AS quartile,
         |       (percent_rank() OVER w) AS pct_rank,
         |       (cume_dist() OVER w) AS cum_dist,
         |       first_value(price) OVER w AS first_price,
         |       nth_value(price, 100) OVER w AS price_100th
         |FROM trades
         |WINDOW w AS (PARTITION BY symbol ORDER BY "timestamp", event_id)""".stripMargin,

    "o2_last_row" ->
      s"""$T
         |SELECT symbol, arg_max(price, event_id) AS last_price,
         |       max("timestamp") AS last_ts
         |FROM trades GROUP BY 1""".stripMargin,

    "o4_ordered_split" ->
      s"""$T, numbered AS (
         |  SELECT event_id, symbol,
         |         row_number() OVER (ORDER BY "timestamp", event_id) AS rn,
         |         count(*) OVER () AS total
         |  FROM trades
         |)
         |SELECT event_id, symbol,
         |       CASE WHEN rn <= floor(total * 0.8::DOUBLE) THEN 'train'
         |            ELSE 'test' END AS split
         |FROM numbered""".stripMargin,

    "j_asof_click" ->
      s"""$T, p AS (
         |  SELECT event_id, user_id, "timestamp", price
         |  FROM trades WHERE symbol = 'purchase'
         |), c AS (
         |  SELECT user_id, "timestamp" AS cts,
         |         arg_max(price, event_id) AS click_price
         |  FROM trades WHERE symbol = 'click' GROUP BY 1, 2
         |)
         |SELECT p.event_id, p.user_id, p."timestamp", p.price, c.click_price
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND c.cts <= p."timestamp"""".stripMargin,

    "j_asof_nearest" ->
      s"""$T, p AS (
         |  SELECT event_id, user_id, "timestamp", price
         |  FROM trades WHERE symbol = 'purchase'
         |), c AS (
         |  SELECT user_id, "timestamp" AS cts,
         |         arg_max(price, event_id) AS click_price
         |  FROM trades WHERE symbol = 'click' GROUP BY 1, 2
         |), b AS (
         |  SELECT p.event_id, c.cts AS bt, c.click_price AS bp
         |  FROM p ASOF LEFT JOIN c
         |    ON p.user_id = c.user_id AND c.cts <= p."timestamp"
         |), f AS (
         |  SELECT p.event_id, c.cts AS ft, c.click_price AS fp
         |  FROM p ASOF LEFT JOIN c
         |    ON p.user_id = c.user_id AND c.cts > p."timestamp"
         |)
         |SELECT p.event_id, p.user_id, p."timestamp", p.price,
         |       CASE WHEN bt IS NOT NULL AND (ft IS NULL
         |                  OR epoch_us(p."timestamp") - epoch_us(bt)
         |                     <= epoch_us(ft) - epoch_us(p."timestamp"))
         |            THEN bp ELSE fp END AS near_price,
         |       CASE WHEN bt IS NOT NULL AND (ft IS NULL
         |                  OR epoch_us(p."timestamp") - epoch_us(bt)
         |                     <= epoch_us(ft) - epoch_us(p."timestamp"))
         |            THEN -((epoch_us(p."timestamp") - epoch_us(bt)) // 1000)
         |            ELSE (epoch_us(ft) - epoch_us(p."timestamp")) // 1000
         |       END AS delta_ms
         |FROM p LEFT JOIN b USING (event_id)
         |       LEFT JOIN f USING (event_id)""".stripMargin,
    "j_asof_tolerance" ->
      s"""$T, p AS (
         |  SELECT event_id, user_id, "timestamp", price
         |  FROM trades WHERE symbol = 'purchase'
         |), c AS (
         |  SELECT user_id, "timestamp" AS cts,
         |         arg_max(price, event_id) AS click_price
         |  FROM trades WHERE symbol = 'click' GROUP BY 1, 2
         |), b AS (
         |  SELECT p.event_id, p.user_id, p."timestamp", p.price,
         |         c.cts, c.click_price
         |  FROM p ASOF LEFT JOIN c
         |    ON p.user_id = c.user_id AND c.cts <= p."timestamp"
         |)
         |SELECT event_id, user_id, "timestamp", price,
         |       CASE WHEN cts IS NOT NULL
         |                 AND (epoch_us("timestamp") - epoch_us(cts)) // 1000
         |                     <= 60000
         |            THEN click_price END AS tol_price,
         |       CASE WHEN cts IS NOT NULL
         |                 AND (epoch_us("timestamp") - epoch_us(cts)) // 1000
         |                     <= 60000
         |            THEN (epoch_us("timestamp") - epoch_us(cts)) // 1000
         |       END AS staleness_ms
         |FROM b""".stripMargin,

    "j_semi_customers_with_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    "j_anti_customers_without_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    // money sums route DECIMAL → exact micro BIGINT → one long→double
    // cast (Relational.decD): a direct decimal cast double-rounds in
    // DuckDB past 2^53 micro-units (r13 sf1 catch)
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_qty,
        |       CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_base_price,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_disc_price,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_charge,
        |       (CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 / count(*)) AS avg_qty,
        |       (CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 / count(*)) AS avg_price,
        |       (CAST(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 / count(*)) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q5_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, n_name,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q17_small_qty_revenue" ->
      """WITH w AS (
        |  SELECT l_extendedprice, l_quantity,
        |         avg(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
        |  FROM lineitem
        |)
        |SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_price,
        |       count(*) AS n_items
        |FROM w WHERE l_quantity < 0.2::DOUBLE * avg_qty""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |       year(l_shipdate) AS l_year,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |WHERE ns.n_name IN ('NATION_1', 'NATION_2')
        |  AND nc.n_name IN ('NATION_1', 'NATION_2')
        |  AND ns.n_name != nc.n_name
        |  AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """WITH a AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    CAST(CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS nation_revenue,
        |    CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_revenue
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
        |  GROUP BY 1
        |)
        |SELECT o_year, (nation_revenue / total_revenue) AS mkt_share,
        |       nation_revenue, total_revenue
        |FROM a""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |       CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) -
        |                CAST(p_retailprice * l_quantity * 0.5 AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS profit,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%widget%'
        |GROUP BY 1, 2""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_linestatus,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       ps_supplycost AS supply_cost
        |FROM part, supplier, ps, nation, region
        |WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
        |  AND p_size = 15 AND p_type = 'STANDARD'
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'EUROPE'
        |  AND ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM ps ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = p_partkey
        |      AND s2.s_suppkey = ps2.ps_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,

    "q11_important_stock" ->
      """WITH vals AS (
        |  SELECT l_partkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem
        |  WHERE l_suppkey IN (
        |    SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |    WHERE n_name = 'NATION_7')
        |  GROUP BY 1
        |)
        |SELECT l_partkey, CAST(CAST(value_dec * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS part_value
        |FROM vals
        |WHERE value_dec > (SELECT sum(value_dec) FROM vals) * 0.001""".stripMargin,

    "q16_supplier_count" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |  FROM lineitem
        |)
        |SELECT p_brand, p_type, p_size,
        |       count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM ps JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
        |  AND ps_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q20_excess_stock" ->
      """SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT l_suppkey FROM lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |    GROUP BY l_partkey, l_suppkey
        |    HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |                     AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |               THEN CAST(l_quantity AS DECIMAL(18,6))
        |               ELSE CAST(0 AS DECIMAL(18,6)) END)
        |         > sum(CAST(l_quantity AS DECIMAL(18,6))) * 0.5)""".stripMargin,

    "q13_order_distribution" ->
      """WITH c AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders
        |    ON c_custkey = o_custkey AND o_orderstatus != 'P'
        |  GROUP BY 1
        |)
        |SELECT c_count, count(*) AS custdist FROM c GROUP BY 1""".stripMargin,

    "q14_promo_share" ->
      """WITH a AS (
        |  SELECT
        |    CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS promo_revenue,
        |    CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1995-09-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1995-10-01 00:00:00'
        |)
        |SELECT (100.0::DOUBLE * promo_revenue / total_revenue) AS promo_pct,
        |       promo_revenue, total_revenue
        |FROM a""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY 1
        |)
        |SELECT s_suppkey, s_name, CAST(CAST(total_revenue_dec * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_dec = (SELECT max(total_revenue_dec) FROM rev)""".stripMargin,

    "q18_large_volume" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
        |)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin,

    "q19_branded_revenue" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin,

    // Decorrelated form of the EXISTS/NOT-EXISTS pair: per-order distinct
    // supplier counts (all lines vs returned lines) replace both
    // correlated subqueries — identical result, one scan.
    "q21_sole_returning_supplier" ->
      """WITH per_order AS (
        |  SELECT l_orderkey,
        |         count(DISTINCT l_suppkey) AS n_supp,
        |         count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_supp_r
        |  FROM lineitem GROUP BY 1
        |), r_lines AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |)
        |SELECT s_name, count(*) AS numwait
        |FROM r_lines
        |JOIN per_order USING (l_orderkey)
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE n_supp >= 2 AND n_supp_r = 1
        |  AND EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_orderstatus = 'F')
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "q22_idle_balance" ->
      """SELECT c_nationkey AS cntry, count(*) AS numcust,
        |       CAST(CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS totacctbal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY 1""".stripMargin,

    // HLL sketches aren't cross-engine comparable; the oracle asserts the
    // exact columns plus the 3·rsd accuracy envelope as constant-1 flags
    // (Spark emits 0 if its estimate drifts out → hash goes red).
    "a_approx_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n_rows,
        |       1 AS supp_within_3rsd,
        |       1 AS part_within_3rsd
        |FROM lineitem GROUP BY 1""".stripMargin,

    "a_distinct_counts" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    "w_order_ranks" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |         row_number() OVER w AS rn,
        |         lag(o_totalprice, 1) OVER w AS prev_price,
        |         lead(o_totalprice, 1) OVER w AS next_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |) WHERE rn <= 3""".stripMargin,

    "a_rollup_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_qty, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "t_token_stats" ->
      """WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS words FROM documents)
        |SELECT doc_id,
        |  len(words) AS n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS n_subtokens,
        |  len(list_distinct(words)) AS n_distinct,
        |  (CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)) AS ttr,
        |  (CAST(length(text) - (len(words) - 1) AS DOUBLE) / CAST(len(words) AS DOUBLE)) AS avg_token_len
        |FROM w""".stripMargin,

    "t_lang_id" -> TextOps.langIdSql,
    "t_quality_score" -> TextOps.qualitySql,

    "t_fingerprint" -> TextOps.fingerprintSql,
    "t_pii_redact" -> TextOps.piiRedactSql,
    "t_vocab_topk" -> TextOps.vocabTopKSql(),
    "t_freq_spectrum" -> TextOps.freqSpectrumSql,
    "t_bigram_topk" -> TextOps.bigramTopKSql(),
    "t_repetition" -> TextOps.repetitionSql,
    "t_chunking" -> TextOps.chunkDocsSql(),

    "q4_returned_priority" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.09
        |  AND l_quantity < 24""".stripMargin,
    "d_contamination" -> TextOps.contaminationSql(),

    "d_exact_dedup" ->
      """SELECT md5(text) AS fp, min(doc_id) AS canonical_doc, count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    "d_minhash_sig" -> Dedup.minhashSigSql,
    "d_minhash_pairs" -> Dedup.minhashPairsSql,
    "d_threshold_curve" -> Dedup.thresholdCurveSql(),
    "d_band_tuning" -> Dedup.bandTuningSql(),
    "g_modularity" -> Dedup.modularitySql(edgeBudget = 2000000L),
    "d_dup_by_source" -> Dedup.dupBySourceSql,
    "d_simhash_sig" -> Dedup.simhashSigSql,
    "d_simhash_pairs" -> Dedup.simhashPairsSql,

    "a_cube_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_qty, count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "j_range_binned" ->
      s"""$T,
         |p AS (SELECT event_id, user_id, "timestamp", price FROM trades
         |      WHERE symbol = 'purchase'),
         |c AS (SELECT user_id, "timestamp" AS cts FROM trades
         |      WHERE symbol = 'click')
         |SELECT p.event_id, p.user_id, p."timestamp", p.price,
         |       count(c.cts) AS n_in_range
         |FROM p LEFT JOIN c ON c.user_id = p.user_id
         |  AND c.cts > p."timestamp" - INTERVAL 3600 SECOND
         |  AND c.cts <= p."timestamp"
         |GROUP BY p.event_id, p.user_id, p."timestamp", p.price""".stripMargin,

    "d_embedding_dup" -> Dedup.embeddingDupSql,
    "d_cos_threshold_curve" -> Dedup.cosThresholdCurveSql(),
    "d_segment_dedup" -> TextOps.segmentDedupSql(),
    "t_df_rarity" -> TextOps.dfRaritySql(),
    "t_bpe_train" -> TextOps.bpeTrainSql(),
    "t_bpe_encode" -> TextOps.bpeEncodeSql(),
    "t_domain_quota" -> TextOps.domainQuotaSql(),
    "d_cluster_best" -> Dedup.clusterBestSql,
    "t_tfidf_topk" -> TextOps.tfidfTopKSql(),
    "mv_incremental" -> Incremental.incrementalAggSql,
    "e_funnel" -> EventAnalytics.funnelSql(),
    "e_retention" -> EventAnalytics.retentionSql,
    "e_transitions" -> EventAnalytics.transitionMatrixSql,
    "mv_incremental_distinct" -> Incremental.incrementalDistinctSql,
    "mv_join_incremental" -> Incremental.incrementalJoinAggSql,
    "mv_minmax_retract" -> Incremental.retractableMinMaxSql,
    "mv_median_retract" -> Incremental.retractableMedianSql,
    "mv_topk_retract" -> Incremental.retractableTopKSql,
    "t_importance_weights" -> TextOps.importanceWeightsSql(),
    "t_ngram_novelty" -> TextOps.ngramNoveltySql(),
    "t_langid_confusion" -> TextOps.langIdConfusionSql,
    "t_bpe_fertility" -> TextOps.bpeFertilitySql(),
    "w7_gap_detect" ->
      s"""$T
         |${TradeOps.gapDetectSql()}""".stripMargin,
    "k10_compaction" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume
         |FROM trades""".stripMargin,
    "d_dedup_resolve" -> Dedup.resolveSql,
    "p2_dead_letter" ->
      s"""$T
         |SELECT event_id,
         |       CASE WHEN event_id % 100 = 0 THEN 'quarantined'
         |            ELSE 'ok' END AS status,
         |       CASE WHEN event_id % 100 = 0
         |            THEN '{corrupt:' || CAST(event_id AS VARCHAR)
         |            ELSE NULL END AS raw_payload,
         |       CASE WHEN event_id % 100 = 0 THEN NULL
         |            ELSE symbol END AS symbol,
         |       CASE WHEN event_id % 100 = 0 THEN NULL
         |            ELSE price END AS price
         |FROM trades""".stripMargin,
    "a_hll_merge" ->
      """SELECT CAST(count(DISTINCT l_returnflag) AS BIGINT) AS n_sketches,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supp,
        |       1 AS within_5pct
        |FROM lineitem""".stripMargin,
    "a28_hll_intersect" ->
      """SELECT
        |  CAST((SELECT count(DISTINCT l_suppkey) FROM lineitem
        |        WHERE l_returnflag = 'R') AS BIGINT) AS exact_a,
        |  CAST((SELECT count(DISTINCT l_suppkey) FROM lineitem
        |        WHERE l_returnflag = 'A') AS BIGINT) AS exact_b,
        |  CAST((SELECT count(*) FROM (
        |          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        |          INTERSECT
        |          SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'A'))
        |        AS BIGINT) AS exact_both,
        |  1 AS within_env""".stripMargin,
    "a27_cms_topk" -> Relational.cmsTopKSql(),
    "d_substring_dup" -> TextOps.substringDupSql(),
    "w_vwma" ->
      s"""$T
         |${TradeOps.vwmaSql()}""".stripMargin,
    "a_gini" ->
      s"""$T
         |${TradeOps.giniActivitySql}""".stripMargin,
    "d_minhash_est_error" -> Dedup.minhashEstErrorSql(),
    "a_runs_test" ->
      s"""$T
         |${TradeOps.runsTestSql}""".stripMargin,
    "d_edit_distance" -> Dedup.editDistanceSql(),
    "d_prefix_dup" -> Dedup.prefixDupSql(),
    "t_charclass_profile" -> TextOps.charClassProfileSql,
    "k16_partition_evolution" ->
      s"""$T
         |${TradeOps.partitionEvolutionSql}""".stripMargin,
    "t_length_outliers" -> TextOps.lengthOutliersSql,
    "w_ichimoku" ->
      s"""$T
         |${TradeOps.ichimokuSql()}""".stripMargin,
    "w_aroon" ->
      s"""$T
         |${TradeOps.aroonSql()}""".stripMargin,
    "e_burst_detect" -> EventAnalytics.burstDetectSql,

    "d_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, lang, source,
        |    list_distinct(list_transform(generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingles
        |  FROM documents
        |), p AS (
        |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
        |         len(list_intersect(s1.shingles, s2.shingles)) AS n_inter,
        |         len(s1.shingles) AS na, len(s2.shingles) AS nb
        |  FROM sh s1 JOIN sh s2
        |    ON s1.lang = s2.lang AND s1.source = s2.source AND s1.doc_id < s2.doc_id
        |)
        |SELECT doc_a, doc_b,
        |       (CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE)) AS jaccard
        |FROM p
        |WHERE CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) >= 0.1::DOUBLE""".stripMargin,

    "a_pivot_dow" -> {
      val cols = (1 to 7).map(d =>
        s"count(*) FILTER (WHERE dayofweek(\"timestamp\") + 1 = $d) AS d$d")
        .mkString(",\n       ")
      s"""$T
         |SELECT symbol,
         |       $cols
         |FROM trades GROUP BY symbol""".stripMargin
    },

    "a_unpivot_totals" ->
      s"""$T, agg AS (
         |  SELECT symbol,
         |    CAST(CAST(sum(CAST(volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_volume,
         |    CAST(CAST(sum(CAST(usd_volume AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS total_usd_volume
         |  FROM trades GROUP BY symbol
         |)
         |SELECT symbol, 'total_volume' AS metric, total_volume AS value FROM agg
         |UNION ALL
         |SELECT symbol, 'total_usd_volume' AS metric, total_usd_volume AS value FROM agg""".stripMargin,

    "w8_bollinger" ->
      s"""$T
         |${TradeOps.bollingerSql()}""".stripMargin,
    "w9_rsi" ->
      s"""$T
         |${TradeOps.rsiSql()}""".stripMargin,
    "w10_drawdown" ->
      s"""$T
         |${TradeOps.drawdownSql}""".stripMargin,
    "a12_pairwise_corr" ->
      s"""$T, ${TradeOps.barsCte}
         |${TradeOps.pairwiseCorrSql}""".stripMargin,
    "a13_vwap" ->
      s"""$T
         |${TradeOps.vwapSql}""".stripMargin,
    "t_winnow" -> TextOps.winnowSql(),
    "t_lm_coverage" -> TextOps.lmCoverageSql(),
    "e_cooccurrence" -> EventAnalytics.cooccurrenceSql,
    "w11_obv" ->
      s"""$T
         |${TradeOps.obvSql}""".stripMargin,
    "f12_winsorize" ->
      s"""$T
         |${TradeOps.winsorizeSql()}""".stripMargin,
    "t_boilerplate" -> TextOps.boilerplateStripSql(),
    "w12_stochastic" ->
      s"""$T
         |${TradeOps.stochasticKSql()}""".stripMargin,
    "a14_atr" ->
      s"""$T, ${TradeOps.ohlcCte}
         |${TradeOps.atrSql()}""".stripMargin,
    "a15_anomaly" ->
      s"""$T
         |${TradeOps.anomalyFlagsSql()}""".stripMargin,
    "skew_salted_join" -> s"$T,\n${Scale.saltedSkewJoinSql}",
    "d_fuzzy_pairs" -> Dedup.fuzzyPairsSql(),
    "w13_cusum" ->
      s"""$T
         |${TradeOps.cusumSql()}""".stripMargin,
    "a16_profile" -> TradeOps.columnProfileSql(Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate")),
    "s12_gzip_roundtrip" ->
      s"""$T
         |SELECT event_id, symbol, "timestamp", price, volume FROM trades""".stripMargin,
    "a19_robust" ->
      s"""$T
         |${TradeOps.robustStatsSql()}""".stripMargin,
    "a29_weighted_median" ->
      s"""$T
         |${TradeOps.weightedMedianSql}""".stripMargin,
    "s13_keyset_page" ->
      s"""$T
         |${TradeOps.keysetPageSql("2024-01-15 00:00:00", 0L)}""".stripMargin,
    "j_asof_forward" ->
      s"""$T, p AS (
         |  SELECT event_id, user_id, "timestamp", price
         |  FROM trades WHERE symbol = 'purchase'
         |), c AS (
         |  SELECT user_id, "timestamp" AS cts,
         |         arg_max(price, event_id) AS next_click_price
         |  FROM trades WHERE symbol = 'click' GROUP BY 1, 2
         |)
         |SELECT p.event_id, p.user_id, p."timestamp", p.price,
         |       c.next_click_price
         |FROM p ASOF LEFT JOIN c
         |  ON p.user_id = c.user_id AND c.cts >= p."timestamp"""".stripMargin,
    "a16b_profile_sketch" -> TradeOps.columnProfileSketchSql(Seq(
      "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate")),
    "a17_beta" ->
      s"""$T, ${TradeOps.dbarsCte}
         |${TradeOps.marketBetaSql}""".stripMargin,
    "w14_macd" ->
      s"""$T
         |${TradeOps.macdSql()}""".stripMargin,
    "a18_mode" ->
      s"""$T
         |${TradeOps.modalPriceSql}""".stripMargin,
    "t_code_detect" -> TextOps.codeDetectSql,
    "w15_interval_merge" ->
      s"""$T
         |${TradeOps.mergeIntervalsSql()}""".stripMargin,
    "a20_equidepth" ->
      s"""$T
         |${TradeOps.equiDepthHistogramSql()}""".stripMargin,
    "o7_walk_forward" ->
      s"""$T
         |${TradeOps.walkForwardSplitsSql()}""".stripMargin,
    "f13_delta_encode" ->
      s"""$T
         |${TradeOps.deltaEncodeSql}""".stripMargin,
    "e_attribution" -> EventAnalytics.lastTouchAttributionSql(),
    "b_bloom_join" -> Relational.bloomSemiJoinRevenueSql,
    "k11_scd2" ->
      s"""$T
         |${TradeOps.scd2BuildSql}""".stripMargin,
    "o8_kfold" ->
      s"""$T
         |${TradeOps.kfoldAssignSql()}""".stripMargin,
    "f14_zscore" ->
      s"""$T
         |${TradeOps.zscoreScaleSql}""".stripMargin,
    "s14_schema_evolution" ->
      s"""$T
         |${TradeOps.schemaEvolutionReadSql()}""".stripMargin,
    "mv_retract" -> Incremental.incrementalRetractSql,
    "e_rfm" -> Relational.rfmSegmentsSql,
    "a21_yoy_revenue" -> Relational.yoyRevenueSql,
    "k12_cdc_apply" -> s"$T,\n${Incremental.cdcApplySql}",
    "d_containment" -> Dedup.containmentSql(),
    "d_lsh_recall" -> Dedup.lshRecallSql(),
    "t_feature_hash" -> TextOps.featureHashSql(),
    "w16_pivot_points" -> s"$T\n${TradeOps.pivotPointsSql}",
    "w17_twap" -> s"$T,\n${TradeOps.twapSql.stripPrefix("WITH ")}",
    "o9_group_split" -> s"$T\n${TradeOps.groupSplitSql()}",
    "a22_benford" -> s"$T,\n${TradeOps.benfordProfileSql.stripPrefix("WITH ")}",
    "e_conversion_paths" -> EventAnalytics.conversionPathsSql(),
    "p3_props_shred" -> EventAnalytics.propsShredSql,
    "w18_run_length" -> s"$T,\n${TradeOps.runLengthSql().stripPrefix("WITH ")}",
    "k13_dynamic_overwrite" -> s"$T\n${TradeOps.dynamicPartitionOverwriteSql()}",
    "a23_autocorr" -> s"$T,\n${TradeOps.autocorrSql.stripPrefix("WITH ")}",
    "a24_ks_drift" -> s"$T,\n${TradeOps.ksDriftSql().stripPrefix("WITH ")}",
    "e_stickiness" -> EventAnalytics.stickinessSql,
    "k14_wap" -> s"$T\n${graft.sinks.Wap.roundTripSql}",
    "a25_concentration" -> s"$T,\n${TradeOps.concentrationSql.stripPrefix("WITH ")}",
    "f16_target_encode" -> s"$T,\n${TradeOps.targetEncodeSql.stripPrefix("WITH ")}",
    "f17_quantile_rank" -> s"$T,\n${TradeOps.quantileRankSql.stripPrefix("WITH ")}",
    "a26_chisq" -> s"$T,\n${TradeOps.chisqHourlySql.stripPrefix("WITH ")}",
    "s16_table_fingerprint" -> s"$T,\n${TradeOps.tableFingerprintSql.stripPrefix("WITH ")}",
    "d_cross_dedup" -> Dedup.crossDedupSql(),
    "o10_purged_embargo" -> s"$T\n${TradeOps.purgedEmbargoSplitsSql()}",
    "t_tv_drift" -> TextOps.tvDriftSql,
    "k15_merge_on_read" -> s"$T\n${TradeOps.mergeOnReadSql()}",
    "s17_zonemap_prune" -> s"$T\n${TradeOps.zonemapPruneSql()}",
    "s18_bloom_prune" -> s"$T\n${TradeOps.bloomPruneSql()}",
    "f18_robust_scale" -> s"$T,\n${TradeOps.robustScaleSql.stripPrefix("WITH ")}",
    "e_time_to_convert" -> EventAnalytics.timeToConvertSql,
    "e_ltv_curve" -> EventAnalytics.ltvCurveSql,
    "w19_realized_vol" -> s"$T,\n${TradeOps.realizedVolSql.stripPrefix("WITH ")}",
    "q25_copurchase" -> Relational.copurchaseSql(),
    "a_var_es" -> s"$T\n${TradeOps.varEsSql()}",
    "a_moment_profile" -> s"$T\n${TradeOps.momentProfileSql}",
    "w_mfi" -> s"$T\n${TradeOps.mfiSql()}",
    "e_interarrival" -> EventAnalytics.interarrivalSql,
    "t_readability" -> TextOps.readabilitySql,
    "e_markov_stationary" -> EventAnalytics.markovStationarySql(),
    "e_simpson_diversity" -> EventAnalytics.simpsonDiversitySql,
    "s20_partition_diff" -> s"$T\n${TradeOps.partitionDiffSql()}",
    "w_vol_regime" -> s"$T\n${TradeOps.volRegimeSql()}",
    // banded two-pass rank is a physical rewrite: the exact-ntile SQL
    // doubles as its equivalence proof
    "w_vol_regime_banded" -> s"$T\n${TradeOps.volRegimeSql()}",
    "w_donchian" -> s"$T\n${TradeOps.donchianSql()}",
    "t_heaps_law" -> TextOps.heapsLawSql(),
    "e_rate_change" -> EventAnalytics.rateChangeSql,
    "d_len_dup_bias" -> Dedup.lenDupBiasSql,
    "e_audience_overlap" -> EventAnalytics.audienceOverlapSql,
    "a_subsample_stability" -> s"$T\n${TradeOps.subsampleStabilitySql()}",
    "q28_ship_latency" -> Relational.shipLatencySql,
    "q29_order_gap_hist" -> Relational.orderGapHistSql,
    "d_cluster_size_hist" -> Dedup.clusterSizeHistSql,
    "k17_rollback" -> s"$T\n${TradeOps.rollbackRoundTripSql}",
    "w_vpin" -> s"$T\n${TradeOps.vpinSql()}",
    "e_bot_score" -> EventAnalytics.botScoreSql(),
    "w_amihud" -> s"$T\n${TradeOps.amihudSql}",
    "w_roll_spread" -> s"$T\n${TradeOps.rollSpreadSql}",
    "a_bootstrap_ci" -> s"$T\n${TradeOps.bootstrapCiSql()}",
    "w_parkinson" -> s"$T\n${TradeOps.parkinsonRangeSql}",
    "w_beta_rolling" ->
      s"""$T, ${TradeOps.dbarsCte}
         |${TradeOps.rollingBetaSql()}""".stripMargin,
    "w_variance_ratio" -> s"$T,\n${TradeOps.varianceRatioSql()}",
    "w_kyle_lambda" -> s"$T,\n${TradeOps.kyleLambdaSql}",
    "w_keltner" -> s"$T\n${TradeOps.keltnerSql()}",
    "a_rank_drift" -> s"$T\n${TradeOps.rankDriftSql}",
    "w_adx" -> s"$T\n${TradeOps.adxSql()}",
    "a_acf_profile" -> s"$T,\n${TradeOps.acfProfileSql()}",
    "w_sharpe" -> s"$T\n${TradeOps.sharpeSql}",
    "t_vocab_overlap" -> TextOps.vocabOverlapSql,
    "a_adf_stat" -> s"$T,\n${TradeOps.adfStatSql}",
    "w_cci" -> s"$T\n${TradeOps.cciSql()}",
    "w_hurst_rs" -> s"$T\n${TradeOps.hurstRsSql()}",
    "w_max_drawdown" -> s"$T\n${TradeOps.maxDrawdownSql}",
    "e_pareto_share" -> EventAnalytics.paretoShareSql,
    "t_hapax_profile" -> TextOps.hapaxProfileSql,
    "e_new_returning" -> EventAnalytics.newReturningSql,
    "e_lifespan_hist" -> EventAnalytics.lifespanHistSql,
    "q30_supplier_hhi" -> Relational.supplierHhiSql,
    "q31_decile_migration" -> Relational.decileMigrationSql,
    "e_rate_anomaly" -> EventAnalytics.rateAnomalySql,
    "e_rolling_wau" -> EventAnalytics.rollingWauSql,
    "w_volume_profile" -> s"$T\n${TradeOps.volumeProfileSql}",
    "d_bucket_skew" -> Dedup.bucketSkewSql,
    "q26_revenue_deciles" -> Relational.revenueDecilesSql,
    "e_seasonal_profile" -> EventAnalytics.seasonalProfileSql,
    "w_sortino" -> s"$T\n${TradeOps.sortinoSql}",
    "w_calmar" -> s"$T\n${TradeOps.calmarSql}",
    "w_ulcer" -> s"$T\n${TradeOps.ulcerIndexSql}",
    "w_williams_r" -> s"$T\n${TradeOps.williamsRSql}",
    "w_obv_divergence" -> s"$T\n${TradeOps.obvDivergenceSql}",
    "e_active_streaks" -> EventAnalytics.activeStreaksSql,
    "k18_snapshot_expire" -> s"$T\n${TradeOps.snapshotExpireSql}",
    "e_churn_rate" -> EventAnalytics.churnRateSql,
    "w_squeeze" -> s"$T\n${TradeOps.squeezeSql()}",
    "w_rvi" -> s"$T\n${TradeOps.rviSql}",
    "a_round_price_bias" -> s"$T\n${TradeOps.roundPriceBiasSql}",
    "w_gap_fill" -> s"$T\n${TradeOps.gapFillSql}",
    "w_narrow_range" -> s"$T\n${TradeOps.narrowRangeSql}",
    "k19_compact_generations" -> s"$T\n${TradeOps.compactGenerationsSql}",
    "a_depth_ladder" -> s"$T\n${TradeOps.depthLadderSql()}",
    "d_source_similarity" -> Dedup.sourceSimilaritySql,
    "k20_prediction_accuracy" -> Predict.predictionAccuracySql(),
    "k21_audited_lifecycle" -> s"$T\n${graft.sinks.Wap.auditedLifecycleSql}",
    "k22_schema_evolution" -> s"$T\n${TradeOps.schemaEvolutionSql}",
    "k23_gdpr_purge" -> s"$T\n${TradeOps.gdprPurgeSql}",
    "q_constraint_suite" -> Relational.constraintSuiteSql,
    "e_survival_curve" -> EventAnalytics.survivalCurveSql,
    "j_fanout_profile" -> Relational.fanoutProfileSql,
    "e_cuped_ab" -> EventAnalytics.cupedAbSql,
  )
}

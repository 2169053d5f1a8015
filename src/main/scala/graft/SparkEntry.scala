package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.queries.{AnalyticsQueries, CoreQueries, FuncQueries, TrainingQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY.md §2
  * instantiated on the driver testdata; [[oracleSql]] holds the DuckDB
  * ANSI equivalent (same column names, same ORDER BY, same rounding) for
  * the hash-compare correctness gate.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's signature analytic: deterministic arg-max ("best
    * year per series", `report_processor.py:164-166`) over grouped sums.
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.argMaxBestYear(spark, "/root/testdata/sf0.001")

  /** Dev focus filter shared by Bench and Verify:
    * `SPARK_GRAFT_ONLY=q_a,q_b` selects a subset of [[queries]]; unset
    * selects everything, so a full run always covers the whole surface.
    * A typo'd name silently matching nothing would masquerade as a fast
    * or clean run, so unknown names are reported on stderr under `[tag]`.
    */
  def only(tag: String): Option[Set[String]] = {
    val names = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    names.foreach { ns =>
      val unknown = ns -- queries.keySet
      if (unknown.nonEmpty) System.err.println(
        s"[$tag] SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    names
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_sum"      -> (CoreQueries.aggSum _),
    "q_agg_salted"   -> (CoreQueries.aggSumSalted _),
    "q_argmax"       -> (CoreQueries.argMaxBestYear _),
    "q_global_stats" -> (CoreQueries.globalStats _),
    "q_proj_filter"  -> (CoreQueries.projFilter _),
    "q_range_filter" -> (CoreQueries.rangeFilter _),
    "q_left_join"    -> (CoreQueries.leftJoinEnrich _),
    "q_anti_join"    -> (CoreQueries.antiJoin _),
    "q_distinct"     -> (CoreQueries.distinctVals _),
    "q_topk"         -> (CoreQueries.topK _),
    "q_set_except"   -> (CoreQueries.setExcept _),
    "q_window"       -> (CoreQueries.windowFuncs _),
    "q_full_join"    -> (CoreQueries.fullOuterJoin _),
    "q_cross_join"   -> (CoreQueries.crossJoinSmall _),
    "q_having"       -> (CoreQueries.havingAgg _),
    "q_string_agg"   -> (CoreQueries.stringAgg _),
    "q_array_funcs"  -> (CoreQueries.arrayFuncs _),
    "q_rollup"       -> (CoreQueries.rollupAgg _),
    "q_star_join"    -> (CoreQueries.starJoin _),
    "q_topk_group"   -> (CoreQueries.topKPerGroup _),
    "q_range_join"   -> (CoreQueries.rangeJoinBands _),
    "q_join_salted"  -> (CoreQueries.joinSalted _),
    "q_except_all"   -> (CoreQueries.exceptAll _),
    "q_intersect_all" -> (CoreQueries.intersectAll _),
    "q_union_evolve" -> (CoreQueries.unionEvolve _),
    "q_nullsafe_join" -> (CoreQueries.nullSafeJoin _),
    "q_bloom_join"   -> (CoreQueries.bloomJoin _),
    "q_bucketed_join" -> (CoreQueries.bucketedJoin _),
    "q_regression"   -> (FuncQueries.regression _),
    // scalar functions / semi-structured / events (SURVEY §2.8–2.9)
    "q_string_funcs"   -> (FuncQueries.stringFuncs _),
    "q_date_funcs"     -> (FuncQueries.dateFuncs _),
    "q_coerce"         -> (FuncQueries.coerce _),
    "q_format"         -> (FuncQueries.formatFuncs _),
    "q_md5"            -> (FuncQueries.md5Hash _),
    "q_json_extract"   -> (FuncQueries.jsonExtract _),
    "q_events_hourly"  -> (FuncQueries.eventsHourly _),
    "q_sliding_hourly" -> (FuncQueries.slidingHourly _),
    "q_sessionize"     -> (FuncQueries.sessionize _),
    "q_case_union"     -> (FuncQueries.caseUnion _),
    "q_semi_join"      -> (FuncQueries.semiJoin _),
    "q_asof_join"      -> (FuncQueries.asofJoin _),
    "q_asof_native"    -> (FuncQueries.asofJoinNative _),
    "q_percentiles"    -> (FuncQueries.percentiles _),
    "q_zscore"         -> (FuncQueries.zscore _),
    "q_corr"           -> (FuncQueries.corrAgg _),
    "q_histogram"      -> (FuncQueries.histogram _),
    "q_tfidf"          -> (TrainingQueries.tfidf _),
    "q_cube"           -> (FuncQueries.cubeAgg _),
    "q_grouping_sets"  -> (FuncQueries.groupingSets _),
    "q_window_range"   -> (FuncQueries.windowRangeFrame _),
    "q_ignore_nulls"   -> (FuncQueries.ignoreNullsWindow _),
    "q_count_distinct" -> (FuncQueries.countDistinctAgg _),
    "q_approx_distinct" -> (FuncQueries.approxDistinct _),
    "q_approx_percentile" -> (FuncQueries.approxPercentile _),
    "q_latest_key"     -> (FuncQueries.latestKey _),
    "q_stats_prune"    -> (FuncQueries.statsPrune _),
    "q_pivot"          -> (FuncQueries.pivotAgg _),
    "q_unpivot"        -> (FuncQueries.unpivotMeasures _),
    "q_rank"           -> (FuncQueries.rankFuncs _),
    "q_math_funcs"     -> (FuncQueries.mathFuncs _),
    "q_date_arith"     -> (FuncQueries.dateArith _),
    "q_set_intersect"  -> (FuncQueries.setIntersect _),
    "q_from_json"      -> (FuncQueries.fromJson _),
    "q_variant"        -> (FuncQueries.variantJson _),
    "q_subquery"       -> (FuncQueries.correlatedSubquery _),
    "q_hll_union"      -> (FuncQueries.hllSketchUnion _),
    "q_media_features" -> (TrainingQueries.mediaFeatures _),
    "q_media_dedup"    -> (TrainingQueries.mediaDedup _),
    "q_media_neardup"  -> (TrainingQueries.mediaNearDup _),
    "q_frame_features" -> (TrainingQueries.frameFeatures _),
    // training-data pipeline surface (north star)
    "q_dedup_exact"    -> (TrainingQueries.dedupExact _),
    "q_dedup_ngram"    -> (TrainingQueries.dedupNgramJaccard _),
    "q_substr_spans"   -> (TrainingQueries.dedupSubstrSpans _),
    "q_substr_clean"   -> (TrainingQueries.dedupSubstrClean _),
    "q_dedup_minhash"  -> (TrainingQueries.dedupMinhash _),
    "q_dedup_simhash"  -> (TrainingQueries.dedupSimhash _),
    "q_knn_brute"      -> (TrainingQueries.knnBruteForce _),
    "q_knn_filtered"   -> (TrainingQueries.knnFiltered _),
    "q_bq_topk"        -> (TrainingQueries.bqTopK _),
    "q_knn_ivf"        -> (TrainingQueries.knnIvf _),
    "q_recall_at_k"    -> (TrainingQueries.recallAtK _),
    "q_emb_neardup"    -> (TrainingQueries.embNearDup _),
    "q_emb_neardup_lsh" -> (TrainingQueries.embNearDupLsh _),
    "q_emb_neardup_lsh_prod" -> (TrainingQueries.embNearDupLshProd _),
    "q_emb_neardup_incr" -> (TrainingQueries.embNearDupIncr _),
    "q_centroid"       -> (TrainingQueries.centroids _),
    "q_token_counts"   -> (TrainingQueries.tokenCounts _),
    "q_train_test_split" -> (TrainingQueries.trainTestSplit _),
    "q_stratified_sample" -> (TrainingQueries.stratifiedSample _),
    "q_term_freq"      -> (TrainingQueries.termFreq _),
    "q_shingles"       -> (TrainingQueries.shingles _),
    "q_top_bigrams"    -> (TrainingQueries.topBigrams _),
    "q_text_quality"   -> (TrainingQueries.textQuality _),
    "q_quality_model"  -> (TrainingQueries.qualityModel _),
    "q_quantize"       -> (TrainingQueries.quantize _),
    "q_fingerprint"    -> (TrainingQueries.fingerprints _),
    "q_repetition"     -> (TrainingQueries.repetition _),
    "q_chunks"         -> (TrainingQueries.chunks _),
    "q_redact"         -> (TrainingQueries.redact _),
    "q_curate"         -> (TrainingQueries.curate _),
    "q_curate_v2"      -> (TrainingQueries.curateV2 _),
    "q_dedup_minhash_incr" -> (TrainingQueries.dedupMinhashIncr _),
    "q_gopher_rules"   -> (TrainingQueries.gopherRules _),
    "q_dedup_clusters" -> (TrainingQueries.dedupClusters _),
    "q_dedup_reps"     -> (TrainingQueries.dedupReps _),
    "q_cluster_sample" -> (TrainingQueries.clusterSample _),
    "q_pack"           -> (TrainingQueries.pack _),
    "q_lang_id"        -> (TrainingQueries.langId _),
    "q_quality_linear" -> (TrainingQueries.qualityLinear _),
    "q_weighted_sample" -> (TrainingQueries.weightedSample _),
    "q_contamination"  -> (TrainingQueries.contamination _),
    "q_strip_markup"   -> (TrainingQueries.stripMarkup _),
    "q_normalize_nfc"  -> (TrainingQueries.normalizeNfc _),
    "q_rrf_fusion"     -> (TrainingQueries.rrfFusion _),
    "q_kmeans_cells"   -> (TrainingQueries.kmeansCells _),
    "q_dedup_incremental" -> (TrainingQueries.dedupIncremental _),
    "q_char_entropy"   -> (TrainingQueries.charEntropy _),
    "q_heavy_hitters"  -> (TrainingQueries.heavyHitters _),
    "q_heavy_hitters_exact" -> (TrainingQueries.heavyHittersExact _),
    "q_cms_freq"       -> (TrainingQueries.cmsFreq _),
    "q_cms_exact"      -> (TrainingQueries.cmsExact _),
    "q_pq_assign"      -> (TrainingQueries.pqAssign _),
    "q_pq_topk"        -> (TrainingQueries.pqTopK _),
    "q_pq_topk_exact"  -> (TrainingQueries.pqTopKExact _),
    "q_pq_ivf"         -> (TrainingQueries.pqIvf _),
    "q_bm25"           -> (TrainingQueries.bm25 _),
    "q_topk_agg"       -> (AnalyticsQueries.topKAgg _),
    "q_scd2"           -> (AnalyticsQueries.scd2 _),
    "q_funnel"         -> (AnalyticsQueries.funnel _),
    "q_cohort"         -> (AnalyticsQueries.cohort _),
    "q_interpolate"    -> (AnalyticsQueries.interpolate _),
    "q_fuzzy_dedup"    -> (AnalyticsQueries.fuzzyDedup _),
    "q_scd2_lookup"    -> (AnalyticsQueries.scd2Lookup _),
    "q_lm_score"       -> (TrainingQueries.lmScore _),
    "q_mix_rebalance"  -> (TrainingQueries.mixRebalance _),
    "q_epoch_plan"     -> ((s, d) => TrainingQueries.epochPlan(s, d)),
    "q_date_spine"     -> (AnalyticsQueries.dateSpine _),
    "q_equi_depth"     -> (AnalyticsQueries.equiDepth _),
    "q_substring_dup"  -> (TrainingQueries.substringDups _),
    "q_textrank"       -> (TrainingQueries.textRank _),
    "q_robust_stats"   -> (AnalyticsQueries.robustStats _),
    "q_skyline"        -> (AnalyticsQueries.skyline _),
    "q_triangles"      -> (AnalyticsQueries.triangles _),
    "q_spatial_join"   -> (AnalyticsQueries.spatialJoin _),
    "q_vocab_coverage" -> (TrainingQueries.vocabCoverage _),
    "q_url_stats"      -> (FuncQueries.urlStats _),
    "q_interval_join"  -> (AnalyticsQueries.intervalJoin _),
    "q_interval_count" -> (AnalyticsQueries.intervalCount _),
    "q_profile"        -> (AnalyticsQueries.profileTable _),
    "q_dq_checks"      -> (AnalyticsQueries.dqChecks _),
    "q_transitions"    -> (AnalyticsQueries.transitions _),
    "q_period_over_period" -> (AnalyticsQueries.periodOverPeriod _),
    "q_pmi"            -> (TrainingQueries.pmi _),
    "q_pca"            -> (TrainingQueries.pcaVariance _),
    "q_semdedup"       -> (TrainingQueries.semDedup _),
    "q_semdedup_prod"  -> (TrainingQueries.semDedupProd _),
    "q_pq_opq"         -> (TrainingQueries.pqOpq _),
    "q_dsir"           -> (TrainingQueries.dsirWeights _),
    "q_bpe"            -> (TrainingQueries.bpeMerges _),
    "q_bpe_tokenize"   -> (TrainingQueries.bpeTokenize _),
    "q_bpe_tokenize_exact" -> (TrainingQueries.bpeTokenizeExact _),
    "q_attribution"    -> (AnalyticsQueries.attribution _),
    "q_skew_report"    -> (AnalyticsQueries.skewReport _),
    "q_rfm"            -> (AnalyticsQueries.rfm _),
    "q_basket"         -> (AnalyticsQueries.basket _),
    "q_shuffle_shard"  -> ((s, d) => TrainingQueries.shuffleShard(s, d)),
    "q_sparse_retrieval" -> ((s, d) => TrainingQueries.sparseRetrieval(s, d)),
    "q_zipf"           -> (TrainingQueries.zipfFit _),
    "q_hierarchy"      -> (AnalyticsQueries.hierarchy _),
    "q_ewma"           -> (AnalyticsQueries.ewma _),
    "q_pattern"        -> (AnalyticsQueries.pattern _),
    "q_nucleus"        -> (TrainingQueries.nucleus _),
    "q_subtree_agg"    -> (AnalyticsQueries.subtreeAgg _),
    "q_chisq"          -> (AnalyticsQueries.chiSquare _),
    "q_wilson"         -> (AnalyticsQueries.wilson _),
    "q_gini"           -> (AnalyticsQueries.gini _),
    "q_benford"        -> (AnalyticsQueries.benford _),
    "q_entropy_cat"    -> (AnalyticsQueries.entropyCat _),
    "q_mode"           -> (AnalyticsQueries.modeGroup _),
    "q_autocorr"       -> (AnalyticsQueries.autocorr _),
    "q_psi"            -> (AnalyticsQueries.psi _),
    "q_lift"           -> (AnalyticsQueries.lift _),
    "q_zorder"         -> (AnalyticsQueries.zorder _),
    "q_kanon"          -> (TrainingQueries.kAnonymity _),
    "q_stream_hourly"  -> (FuncQueries.streamHourly _),
    "q_stream_sessions" -> (FuncQueries.streamSessions _),
    "q_stream_sessions_tws" -> (FuncQueries.streamSessionsTws _),
    "q_stream_dedup"   -> (FuncQueries.streamDedup _),
    "q_stream_enrich"  -> (FuncQueries.streamEnrich _),
    "q_stream_neardup" -> (FuncQueries.streamNearDup _),
    "q_stream_curate"  -> (FuncQueries.streamCurate _),
    "q_stream_join"    -> (FuncQueries.streamJoin _),
    "q_streaks"        -> (AnalyticsQueries.streaks _),
    "q_dow_seasonality" -> (AnalyticsQueries.dowSeasonality _),
    "q_hhi"            -> (AnalyticsQueries.hhi _),
    "q_sql_q3"         -> (AnalyticsQueries.sqlQ3 _),
    "q_tpch_q1"        -> (AnalyticsQueries.tpchQ1 _),
    "q_tpch_q18"       -> (AnalyticsQueries.tpchQ18 _),
    "q_event_paths"    -> (AnalyticsQueries.eventPaths _),
    "q_funnel_windowed" -> (AnalyticsQueries.funnelWindowed _),
    "q_rolling_distinct" -> (AnalyticsQueries.rollingDistinct _),
    "q_auc"            -> (AnalyticsQueries.rocAuc _),
    "q_ndcg"           -> (AnalyticsQueries.ndcgAt10 _),
    "q_calibration"    -> (AnalyticsQueries.calibration _),
    "q_xcorr"          -> (AnalyticsQueries.crossCorr _),
    "q_ks_test"        -> (AnalyticsQueries.ksTest _),
    "q_survival"       -> (AnalyticsQueries.survivalKm _),
    "q_seasonal_naive" -> (AnalyticsQueries.seasonalNaive _),
    "q_mann_kendall"   -> (AnalyticsQueries.mannKendall _),
    "q_degree_dist"    -> (AnalyticsQueries.degreeDist _),
    "q_did"            -> (AnalyticsQueries.diffInDiff _),
    "q_seq_mining"     -> (AnalyticsQueries.seqMining _),
    "q_concurrency"    -> (AnalyticsQueries.concurrency _),
    "q_entity_clusters" -> (AnalyticsQueries.entityClusters _),
    "q_hist2d"         -> (AnalyticsQueries.hist2d _),
    "q_stl"            -> (AnalyticsQueries.stlDecompose _),
    "q_attribution_ushape" -> (AnalyticsQueries.attributionUshape _),
    "q_quantile_norm"  -> (AnalyticsQueries.quantileNorm _),
    "q_mmr"            -> (TrainingQueries.mmr _),
    "q_kcenter"        -> (TrainingQueries.kcenter _),
    "q_ppr_terms"      -> (TrainingQueries.pprTerms _),
    "q_consistent_sample" -> (TrainingQueries.consistentSample _),
    "q_tpch_q5"        -> (AnalyticsQueries.tpchQ5 _),
    "q_tpch_q10"       -> (AnalyticsQueries.tpchQ10 _),
    "q_mutual_info"    -> (AnalyticsQueries.mutualInfo _),
    "q_dedup_containment" -> (TrainingQueries.dedupContainment _),
    "q_dedup_containment_prod" -> (TrainingQueries.dedupContainmentProd _),
    "q_kfold"          -> (TrainingQueries.kfold _),
    "q_changepoint"    -> (AnalyticsQueries.changepoint _),
    "q_anomaly_days"   -> (AnalyticsQueries.anomalyDays _),
    "q_pareto"         -> (AnalyticsQueries.pareto _),
    "q_boilerplate"    -> (TrainingQueries.boilerplate _),
    "q_winsorize"      -> (AnalyticsQueries.winsorize _),
    "q_decay"          -> (AnalyticsQueries.decayValue _),
    "q_ab_test"        -> (AnalyticsQueries.abTest _),
    "q_vocab_jaccard"  -> (TrainingQueries.vocabJaccard _),
    "q_assortativity"  -> (AnalyticsQueries.assortativity _),
    "q_burstiness"     -> (AnalyticsQueries.burstiness _),
    "q_gap_stats"      -> (AnalyticsQueries.gapStats _),
    "q_item_sim"       -> (AnalyticsQueries.itemSim _),
    "q_item_sim_bucketed" -> (AnalyticsQueries.itemSimBucketed _),
    "q_item_sim_bucketed_persisted" ->
      (AnalyticsQueries.itemSimBucketedPersisted _),
    "q_communities"    -> (TrainingQueries.communities _),
    "q_hop_dist"       -> (AnalyticsQueries.hopDist _),
    "q_target_encode"  -> (TrainingQueries.targetEncode _),
    "q_woe_bins"       -> (TrainingQueries.woeBins _),
    "q_feature_hash"   -> (TrainingQueries.featureHash _),
    "q_cuped"          -> (AnalyticsQueries.cuped _),
    "q_srm"            -> (AnalyticsQueries.srm _),
    "q_theil_sen"      -> (AnalyticsQueries.theilSen _),
    "q_stump"          -> (AnalyticsQueries.stump _),
    "q_kl_sources"     -> (TrainingQueries.klSources _),
    "q_funnel_latency" -> (AnalyticsQueries.funnelLatency _),
    "q_ltv_cohort"     -> (AnalyticsQueries.ltvCohort _)
  )

  /** DuckDB oracles — same column names, same total ORDER BY, same
    * rounding as the Spark plans (hash compare is exact).
    */
  /** Shared by q_item_sim and q_item_sim_bucketed — identical
    * semantics, different physical join strategy (broadcast vs
    * co-partitioned shuffle-hash; see
    * [[graft.queries.AnalyticsQueries.itemSimBucketed]]).
    */
  private val itemSimOracle: String =
    """WITH li AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |  FROM lineitem),
      |pp AS MATERIALIZED (SELECT pk, count(*) AS n FROM li GROUP BY 1),
      |pairs AS MATERIALIZED (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
      |  GROUP BY 1, 2),
      |j1 AS MATERIALIZED (
      |  SELECT pairs.*, pp.n AS n_a
      |  FROM pairs JOIN pp ON pp.pk = pairs.part_a),
      |j2 AS MATERIALIZED (
      |  SELECT j1.*, pp.n AS n_b
      |  FROM j1 JOIN pp ON pp.pk = j1.part_b),
      |sim AS (
      |  SELECT part_a, part_b,
      |    n_pair / sqrt(CAST(n_a * n_b AS DOUBLE)) AS cos
      |  FROM j2),
      |r AS (
      |  SELECT part_a, part_b, cos, row_number() OVER (
      |    PARTITION BY part_a ORDER BY cos DESC, part_b) AS rn
      |  FROM sim)
      |SELECT part_a AS part, CAST(rn AS BIGINT) AS rank,
      |  part_b AS neighbor, round(cos, 6) AS cosine
      |FROM r WHERE rn <= 3 ORDER BY part, rank""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_agg_sum" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | round(CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |   AS DOUBLE) / 100, 2) AS sum_price,
        | round(CAST(sum(CAST(round(l_discount * 1000000, 0) AS BIGINT))
        |   AS DOUBLE) / 1000000 / count(*), 6) AS avg_disc,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_agg_salted" ->
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_argmax" ->
      """SELECT l_suppkey, ship_year, total_qty FROM (
        |  SELECT l_suppkey, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |         sum(l_quantity) AS total_qty
        |  FROM lineitem GROUP BY 1, 2)
        |QUALIFY row_number() OVER (
        |  PARTITION BY l_suppkey ORDER BY total_qty DESC, ship_year ASC) = 1
        |ORDER BY l_suppkey""".stripMargin,
    "q_global_stats" ->
      """SELECT round(avg(o_totalprice), 4) AS mean_price,
        | round(stddev_samp(o_totalprice), 4) AS stddev_price,
        | count(o_totalprice) AS n,
        | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders
        |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
        |  AND TIMESTAMP '1997-12-31'""".stripMargin,
    "q_proj_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE trim(l_returnflag) = 'R' AND trim(l_linestatus) = 'F'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_range_filter" ->
      """SELECT o_orderkey, o_custkey,
        | CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice
        |FROM orders WHERE year(o_orderdate) BETWEEN 1996 AND 1998
        |ORDER BY o_orderkey""".stripMargin,
    "q_left_join" ->
      """SELECT c_custkey, c_name, n_orders, total_spent
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_orders,
        |         round(sum(o_totalprice), 2) AS total_spent
        |  FROM orders GROUP BY 1) ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND year(o.o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) >= 1999
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) < 1999
        |ORDER BY custkey""".stripMargin,
    "q_window" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(row_number() OVER w AS BIGINT) AS order_rank,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | round(sum(o_totalprice) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |   AS running_spend,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | first_value(o_totalprice) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
        |FROM orders
        |WINDOW w AS (
        |  PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
        | s.signup_event_id
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id AS signup_event_id
        |      FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY event_id""".stripMargin,
    "q_asof_native" ->
      """SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
        | s.signup_event_id
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, event_id AS signup_event_id
        |      FROM events WHERE event_type = 'signup') s
        |ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY event_id""".stripMargin,
    "q_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        | round(quantile_cont(l_quantity, 0.9), 6) AS p90_qty,
        | round(quantile_cont(l_extendedprice, 0.5), 6) AS p50_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_zscore" ->
      """SELECT event_id, event_type, value,
        | round((value - avg(value) OVER w) /
        |   stddev_samp(value) OVER w, 6) AS z
        |FROM events WINDOW w AS (PARTITION BY event_type)
        |ORDER BY event_id""".stripMargin,
    "q_corr" ->
      """SELECT l_returnflag,
        | round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        | round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
        | round(avg(l_quantity), 6) AS avg_q
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
        | count(*) AS n, round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM terms GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM (
        |         SELECT DISTINCT doc_id, token FROM terms) GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT doc_id, rank, token, tfidf FROM (
        |  SELECT tf.doc_id, tf.token,
        |    round(tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)), 6) AS tfidf,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * ln(n.n_docs / CAST(df.df AS DOUBLE)) DESC,
        |        tf.token ASC) AS BIGINT) AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN n
        |  WHERE tf.doc_id < 20)
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_full_join" ->
      """SELECT COALESCE(a.custkey, b.custkey) AS custkey,
        | a.spend_1995, b.spend_1996
        |FROM (SELECT o_custkey AS custkey,
        |        round(sum(o_totalprice), 2) AS spend_1995
        |      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1) a
        |FULL JOIN (SELECT o_custkey AS custkey,
        |        round(sum(o_totalprice), 2) AS spend_1996
        |      FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1) b
        |ON a.custkey = b.custkey
        |ORDER BY custkey""".stripMargin,
    "q_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, count(*) AS n_orders FROM orders
        |GROUP BY 1 HAVING count(*) >= 15 ORDER BY 1""".stripMargin,
    "q_string_agg" ->
      """SELECT source,
        | string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs,
        | count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        | round(list_min(CAST(embedding AS DOUBLE[])), 6) AS min_v,
        | round(list_max(CAST(embedding AS DOUBLE[])), 6) AS max_v,
        | round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6)
        |   AS mean_v
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_star_join" ->
      """SELECT r_name, n_name, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_topk_group" ->
      """SELECT p_brand, p_partkey, p_retailprice FROM part
        |QUALIFY row_number() OVER (PARTITION BY p_brand
        |  ORDER BY p_retailprice DESC, p_partkey ASC) <= 3
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "q_range_join" ->
      """WITH bands AS (
        |  SELECT p_brand AS band_brand, min(p_retailprice) AS band_lo,
        |    max(p_retailprice) AS band_hi
        |  FROM part GROUP BY 1)
        |SELECT band_brand, count(*) AS n_in_band,
        | round(avg(p_retailprice), 6) AS avg_in_band
        |FROM part JOIN bands
        |  ON p_retailprice BETWEEN band_lo AND band_hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_except_all" ->
      """SELECT l_suppkey AS suppkey FROM lineitem
        |EXCEPT ALL
        |SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY suppkey""".stripMargin,
    "q_intersect_all" ->
      """SELECT l_suppkey AS suppkey FROM lineitem WHERE l_returnflag = 'R'
        |INTERSECT ALL
        |SELECT l_suppkey AS suppkey FROM lineitem WHERE l_linestatus = 'F'
        |ORDER BY suppkey""".stripMargin,
    "q_union_evolve" ->
      """SELECT o_orderkey, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_orderpriority
        |FROM orders WHERE year(o_orderdate) = 1995
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE) AS o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE year(o_orderdate) = 1996
        |ORDER BY o_orderkey""".stripMargin,
    "q_nullsafe_join" ->
      """SELECT COALESCE(ck, -1) AS nation_key, count(*) AS n_pairs
        |FROM (SELECT nullif(c_nationkey, 3) AS ck FROM customer) c
        |JOIN (SELECT nullif(s_nationkey, 3) AS sk FROM supplier) s
        |ON ck IS NOT DISTINCT FROM sk
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stats_prune" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice BETWEEN 100000.0 AND 150000.0
        |ORDER BY o_orderkey""".stripMargin,
    "q_bloom_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        | round(CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |   AS DOUBLE) / 100, 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_regression" ->
      """SELECT l_returnflag,
        | round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        | CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
        | round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_x,
        | round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_join_salted" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, flag_avg_disc
        |FROM lineitem JOIN (
        |  SELECT l_returnflag AS rf,
        |    round(avg(l_discount), 6) AS flag_avg_disc
        |  FROM lineitem GROUP BY 1) ON l_returnflag = rf
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_string_funcs" ->
      """SELECT p_partkey, upper(p_name) AS name_upper,
        | lower(p_brand) AS brand_lower,
        | CAST(length(p_name) AS BIGINT) AS name_len,
        | substr(p_name, 1, 5) AS name_pfx,
        | contains(p_type, 'BRASS') AS is_brass,
        | starts_with(p_name, 'a') AS starts_a,
        | ends_with(p_name, 'e') AS ends_e,
        | concat_ws('|', p_brand, p_type) AS brand_type,
        | regexp_replace(p_name, '\s+', '_', 'g') AS name_snake
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS o_year,
        | month(o_orderdate) AS o_month, day(o_orderdate) AS o_day,
        | strftime(o_orderdate, '%Y-%m') AS o_ym,
        | CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        | quarter(o_orderdate) AS o_quarter
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_coerce" ->
      """SELECT o_orderkey,
        | TRY_CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS priority_num,
        | TRY_CAST(o_orderstatus AS BIGINT) AS status_num,
        | CAST(floor(o_totalprice) AS BIGINT) AS price_int
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_format" ->
      """SELECT o_orderkey,
        | format('{:,}', CAST(floor(o_totalprice) AS BIGINT)) || '.' ||
        |   lpad(CAST(CAST(round((o_totalprice - floor(o_totalprice)) * 100)
        |     AS BIGINT) AS VARCHAR), 2, '0') AS price_display,
        | format('{:,}', CAST(floor(o_totalprice) AS BIGINT))
        |   AS price_grouped,
        | 'https://data.example.org/pub/' || 'orders_' ||
        |   CAST(o_orderkey AS VARCHAR) || '.json' AS url
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_md5" ->
      """SELECT doc_id, md5(text) AS text_md5,
        | substr(md5(lower(text)), 1, 8) AS md5_pfx
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_json_extract" ->
      """SELECT event_type, count(k) AS n,
        | CAST(sum(k) AS BIGINT) AS sum_k,
        | CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k
        |FROM (SELECT event_type,
        |        CAST(props->>'$.k' AS BIGINT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sliding_hourly" ->
      """SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900 - k * 900)
        |   AS TIMESTAMP) AS w_start,
        | event_type, count(*) AS n_events,
        | round(sum(value), 2) AS sum_value
        |FROM events, unnest([0, 1, 2, 3]) AS t(k)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |    lag(ts) OVER w AS prev_ts
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END
        |      AS is_break
        |  FROM g),
        |sess AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        | round(sum(value), 2) AS session_value
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_case_union" ->
      """SELECT event_type, tier, count(*) AS n FROM (
        |  SELECT event_type, 'high' AS tier FROM events WHERE value >= 100
        |  UNION ALL
        |  SELECT event_type, 'low' AS tier FROM events WHERE value < 100)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND year(o.o_orderdate) = 1995)
        |ORDER BY c_custkey""".stripMargin,
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(grouping(l_returnflag) AS BIGINT) AS flag_rolled
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_linestatus))
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(count(*) OVER w AS BIGINT) AS n_90d,
        | round(sum(o_totalprice) OVER w, 2) AS spend_90d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |  RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_ignore_nulls" ->
      """SELECT event_id, user_id,
        | CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v_ok,
        | round(last_value(CASE WHEN event_type = 'error' THEN NULL
        |   ELSE value END IGNORE NULLS) OVER w, 2) AS v_filled,
        | round(first_value(CASE WHEN event_type = 'error' THEN NULL
        |   ELSE value END IGNORE NULLS) OVER w, 2) AS v_first
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_latest_key" ->
      """SELECT lang, max(source) AS latest_source,
        | min(source) AS first_source, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        | round(sum(CASE WHEN event_type = 'click' THEN value END), 2) AS click,
        | round(sum(CASE WHEN event_type = 'error' THEN value END), 2) AS error,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        | round(sum(CASE WHEN event_type = 'signup' THEN value END), 2) AS signup,
        | round(sum(CASE WHEN event_type = 'view' THEN value END), 2) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_date_arith" ->
      """SELECT o_orderkey,
        | CAST(date_diff('day', o_orderdate, DATE '1998-12-31') AS BIGINT)
        |   AS days_to_eoy98,
        | last_day(o_orderdate) AS month_end,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
        | CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        | CAST(weekofyear(o_orderdate) AS BIGINT) AS woy
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        | abs(l_quantity - 25.0) AS abs_dev,
        | round(sqrt(l_extendedprice), 6) AS sqrt_price,
        | round(exp(l_discount), 6) AS exp_disc,
        | round(ln(l_extendedprice), 6) AS ln_price,
        | round(log10(l_extendedprice), 6) AS log10_price,
        | round(pow(l_quantity, 2.0), 6) AS qty_sq,
        | CASE WHEN l_quantity > 25.0 THEN 1.0
        |   WHEN l_quantity < 25.0 THEN -1.0 ELSE 0.0 END AS qty_sign,
        | greatest(l_tax, l_discount) AS max_rate,
        | least(l_tax, l_discount) AS min_rate,
        | CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_rank" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(rank() OVER w AS BIGINT) AS price_rank,
        | CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | round(percent_rank() OVER w, 6) AS price_pct_rank,
        | round(cume_dist() OVER w, 6) AS price_cume_dist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        | l_quantity AS value FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure,
        | l_extendedprice AS value FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    "q_set_intersect" ->
      """SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) = 1996
        |ORDER BY custkey""".stripMargin,
    "q_from_json" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_variant" ->
      """SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k,
        | CAST(props->>'$.missing' AS BIGINT) AS k_missing
        |FROM events ORDER BY event_id""".stripMargin,
    "q_subquery" ->
      """SELECT c_custkey, c_name,
        | (SELECT max(o_totalprice) FROM orders o
        |  WHERE o.o_custkey = c.c_custkey) AS max_order_price
        |FROM customer c
        |ORDER BY c_custkey""".stripMargin,
    "q_media_features" ->
      """SELECT doc_id AS media_id, 'fake/utf8' AS format,
        | CAST(strlen(text) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_media_dedup" ->
      """WITH off AS (SELECT max(doc_id) + 1 AS o FROM documents),
        |m AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + off.o AS media_id, text FROM documents, off
        |  WHERE doc_id % 10 = 0),
        |f AS (SELECT media_id, md5(text) AS content_md5 FROM m),
        |k AS (SELECT content_md5, min(media_id) AS keeper
        |      FROM f GROUP BY 1)
        |SELECT f.media_id, f.content_md5,
        |  (f.media_id = k.keeper) AS kept
        |FROM f JOIN k USING (content_md5)
        |ORDER BY media_id""".stripMargin,
    "q_media_neardup" -> graft.sim.Similarity.signatureClusterOracleSql(
      planes = 24, dim = 16,
      dvCtes = graft.queries.TrainingQueries.mediaNearDupDvSql),
    "q_frame_features" ->
      """SELECT media_id, frame_index, n_bytes, frame_md5 FROM (
        |  SELECT doc_id AS media_id,
        |    CAST(ci // 2 AS INTEGER) AS frame_index,
        |    CAST(strlen(substr(text, CAST(ci * 256 + 1 AS BIGINT), 256))
        |      AS BIGINT) AS n_bytes,
        |    md5(substr(text, CAST(ci * 256 + 1 AS BIGINT), 256))
        |      AS frame_md5
        |  FROM (
        |    SELECT doc_id, text, unnest(range(0,
        |      CAST(ceil(strlen(text) / 256.0) AS BIGINT))) AS ci
        |    FROM documents)
        |  WHERE ci % 2 = 0)
        |ORDER BY media_id, frame_index""".stripMargin,
    "q_dedup_exact" ->
      """SELECT doc_id, fp FROM (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents)
        |QUALIFY row_number() OVER (
        |  PARTITION BY coalesce(fp, '__null_' || CAST(doc_id AS VARCHAR))
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        | round(n_both / (ca.n + cb.n - n_both), 6) AS jaccard
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = doc_a
        |JOIN cnt cb ON cb.doc_id = doc_b
        |WHERE round(n_both / (ca.n + cb.n - n_both), 6) >= 0.8
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q_knn_brute" ->
      """SELECT query_id, neighbor_id, rank, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(
        |        CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id ASC) AS BIGINT) AS rank,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM embeddings q
        |  JOIN embeddings c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_knn_filtered" ->
      // the predicate (label equality) joins INTO the pair source, so
      // the oracle is q_knn_brute's shape with one more join key
      """SELECT query_id, neighbor_id, rank, cosine FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(
        |        CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC,
        |      c.vec_id ASC) AS BIGINT) AS rank,
        |    round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
        |  FROM embeddings q
        |  JOIN embeddings c ON q.vec_id < 10 AND q.label = c.label
        |   AND q.vec_id <> c.vec_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_bq_topk" -> graft.sim.Similarity.bqTopKOracleSql(),
    // fixed-corpus anchor cap (TrainingQueries.EmbAnchorCap) on BOTH
    // sides: the all-pairs ground truth needs a bounded n, not an
    // sf-scaled one
    "q_emb_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 6) AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < ${TrainingQueries.EmbAnchorCap}
        |  AND b.vec_id < ${TrainingQueries.EmbAnchorCap}
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q_mmr" -> graft.queries.TrainingQueries.mmrOracleSql(),
    "q_kcenter" -> graft.queries.TrainingQueries.kcenterOracleSql(),
    "q_heavy_hitters_exact" ->
      // lang IS NOT NULL pins null parity: MisraGriesSketch.update
      // SKIPS null inputs, while a bare GROUP BY would emit a
      // NULL-keyed row — a latent mismatch if the testdata ever gains
      // nullable lang
      """SELECT lang AS token, count(*) AS est_count FROM documents
        |WHERE lang IS NOT NULL
        |GROUP BY 1 ORDER BY est_count DESC, token""".stripMargin,
    "q_cms_exact" ->
      // CMS degeneracy regime: 5 keys vs width 1000 ⇒ no bucket
      // collisions under the fixed seed ⇒ every estimate equals the
      // true grouped count (and CMS merge is cellwise addition, so
      // unlike Misra–Gries there is no merge-order caveat)
      """SELECT lang, count(*) AS est_count FROM documents
        |WHERE lang IS NOT NULL
        |GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_pq_assign" -> graft.queries.TrainingQueries.pqAssignOracleSql(),
    // seed-codebook ADC scan replay (r9 VERDICT #5): LUT dots, sub-order
    // ADC sum, shortlist + exact re-rank all pure SQL
    "q_pq_topk_exact" ->
      graft.queries.TrainingQueries.pqTopKExactOracleSql(),
    "q_textrank" -> graft.queries.TrainingQueries.textRankOracleSql(),
    "q_knn_ivf" -> graft.queries.TrainingQueries.knnIvfOracleSql(),
    // recall@k of the IVF index vs exact ground truth — both legs the
    // already-pinned deterministic replays, so the MEASUREMENT is exact
    "q_recall_at_k" -> graft.queries.TrainingQueries.recallAtKOracleSql(),
    "q_ppr_terms" -> graft.queries.TrainingQueries.pprTermsOracleSql(),
    // span-grain duplication: DuckDB groups positional 5-gram STRINGS
    // where Spark groups their xxhash64 — identical partitions of the
    // position set barring 64-bit collisions, the same posture as
    // q_dedup_ngram's hashed verify
    "q_substr_spans" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(
        |      [{'pos': i, 'g': array_to_string(list_slice(w, i, i+4), ' ')}
        |       for i in range(1, len(w) - 5 + 2)]) AS u
        |    FROM tok)),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos FROM pos
        |        WHERE g IN (SELECT g FROM dup)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |    AS grp FROM cov)
        |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
        |  CAST(max(pos) - min(pos) + 5 AS BIGINT) AS span_tokens
        |FROM isl GROUP BY doc_id, grp
        |HAVING max(pos) - min(pos) + 5 >= 5
        |ORDER BY doc_id, span_start""".stripMargin,
    "q_dedup_simhash" -> graft.dedup.XxHashSql.simhashOracleSql(),
    "q_quality_linear" -> graft.text.QualityModel.oracleSql,
    "q_curate_v2" -> graft.queries.TrainingQueries.curateV2OracleSql(),
    // removal pass: same string-grouped cover as q_substr_spans, then
    // drop every token under a duplicated window and rebuild the text
    "q_substr_clean" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(
        |      [{'pos': i, 'g': array_to_string(list_slice(w, i, i+4), ' ')}
        |       for i in range(1, len(w) - 5 + 2)]) AS u
        |    FROM tok)),
        |dup AS (SELECT g FROM pos GROUP BY g HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, pos FROM pos
        |        WHERE g IN (SELECT g FROM dup)),
        |remtok AS (SELECT DISTINCT doc_id, j FROM (
        |  SELECT doc_id, unnest([pos + i for i in range(0, 5)]) AS j
        |  FROM cov)),
        |rem AS (SELECT doc_id, list(j) AS remlist, count(*) AS nrem
        |        FROM remtok GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(r.nrem, 0) AS BIGINT) AS n_tokens_removed,
        |  -- DuckDB array_to_string([]) is NULL, Spark array_join([]) is ''
        |  CASE WHEN d.text IS NULL THEN NULL ELSE
        |    coalesce(array_to_string([t.w[i] for i in range(1, len(t.w) + 1)
        |      if NOT list_contains(coalesce(r.remlist, []), i)], ' '), '')
        |  END AS clean_text
        |FROM documents d
        |JOIN tok t USING (doc_id)
        |LEFT JOIN rem r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_minhash" -> graft.dedup.XxHashSql.minhashOracleSql(),
    // full MinHash relation restricted to pairs touching a new doc
    // (doc_id % 5 = 4) — the incremental band-probe plan reproduces
    // the full rebuild's verified relation (single-key probe caveat:
    // a ~2^-32 cross-band band_hash collision whose est_jaccard also
    // clears the threshold would ADD a pair the rebuild never emits;
    // verification guards recall exactly, set equality probabilistically)
    "q_dedup_minhash_incr" -> graft.dedup.XxHashSql.minhashOracleSql(
      pairFilter = "a.doc_id % 5 = 4 OR b.doc_id % 5 = 4"),
    // tokenizer under the frozen seed merge table — training stays
    // rows-only (q_bpe), the APPLY step is hash-exact at every SF
    "q_bpe_tokenize_exact" -> graft.text.Bpe.tokenizeOracleSql(
      TrainingQueries.BpeSeedMerges),
    "q_gopher_rules" -> TrainingQueries.gopherRulesOracleSql,
    "q_emb_neardup_lsh" -> graft.sim.Similarity.nearDupLshOracleSql(
      threshold = 0.4, bands = 16, rowsPerBand = 4, dim = 64,
      dvCtes = graft.sim.Similarity.embeddingsDvSqlWhere(
        s"vec_id < ${TrainingQueries.EmbAnchorCap}")),
    // production config (4 x 16-bit bands): scale-safe candidate
    // volume (65 536 buckets/band), same literal-hyperplane replay
    "q_emb_neardup_lsh_prod" -> graft.sim.Similarity.nearDupLshOracleSql(
      threshold = 0.25, bands = 4, rowsPerBand = 16, dim = 64),
    // full banded relation restricted to pairs touching a new vector
    // (vec_id % 5 = 4) — proves the incremental single-bkey probe
    // finds exactly what a full rebuild would
    "q_emb_neardup_incr" -> graft.sim.Similarity.nearDupLshOracleSql(
      threshold = 0.25, bands = 4, rowsPerBand = 16, dim = 64,
      pairFilter = "a.vec_id % 5 = 4 OR b.vec_id % 5 = 4"),
    "q_kmeans_cells" ->
      s"""WITH ${graft.queries.TrainingQueries.kmeansAssignSql(16)}
         |SELECT cell, count(*) AS n_vectors FROM assign
         |GROUP BY cell ORDER BY cell""".stripMargin,
    // fixed-corpus anchor (EmbAnchorCap, r10): k=16 cells are
    // quadratic in n via cell occupancy — the anchor pins the replay
    // on a bounded corpus; q_semdedup_prod scales k with the data
    "q_semdedup" ->
      s"""WITH ${graft.queries.TrainingQueries.kmeansAssignSql(16,
             s"vec_id < ${TrainingQueries.EmbAnchorCap}")},
         |dom AS (
         |  SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9)
         |SELECT s.vec_id, s.cell FROM assign s
         |LEFT JOIN dom ON s.vec_id = dom.vec_id
         |WHERE dom.vec_id IS NULL ORDER BY s.vec_id""".stripMargin,
    // production config: full SF, k=256 (occupancy-bounded pair stage)
    "q_semdedup_prod" ->
      s"""WITH ${graft.queries.TrainingQueries.kmeansAssignSql(256)},
         |dom AS (
         |  SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) >= 0.9)
         |SELECT s.vec_id, s.cell FROM assign s
         |LEFT JOIN dom ON s.vec_id = dom.vec_id
         |WHERE dom.vec_id IS NULL ORDER BY s.vec_id""".stripMargin,
    "q_centroid" ->
      """WITH pos AS (SELECT unnest(range(1, 65)) AS pos)
        |SELECT label, CAST(pos AS BIGINT) AS pos,
        | round(avg(CAST(embedding[pos] AS DOUBLE)), 6) AS mean_v
        |FROM embeddings, pos GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_token_counts" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |   AS n_ws_tokens,
        | CAST(len(regexp_extract_all(text, '[\w]+|[^\w\s]')) AS BIGINT)
        |   AS n_re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |   CAST(length(text) AS BIGINT) AS n_chars_q,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   round(length(regexp_replace(trim(text), '\s+', '', 'g')) /
        |     nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS mean_token_len,
        |   round(len(regexp_extract_all(text, '[^\w\s]')) /
        |     nullif(CAST(length(text) AS DOUBLE), 0.0), 6) AS punct_ratio,
        |   round(len(list_filter(toks, x -> x IN
        |     ('the','a','an','and','or','of','to','in','is','it'))) /
        |     nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS stopword_ratio
        |  FROM t)
        |SELECT doc_id, n_chars_q, n_tokens, mean_token_len, punct_ratio,
        | stopword_ratio,
        | round(greatest(
        |   least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) *
        |   (1.0 - least(punct_ratio * 5.0, 1.0)) *
        |   (1.0 - (CASE WHEN mean_token_len IS NULL THEN 1.0
        |     WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 0.5
        |     ELSE 0.0 END) * 0.5),
        |   0.0), 6) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_quality_model" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   round(len(regexp_extract_all(text, '[^\w\s]')) /
        |     nullif(CAST(length(text) AS DOUBLE), 0.0), 6) AS punct_ratio,
        |   round(len(list_filter(toks, x -> x IN
        |     ('the','a','an','and','or','of','to','in','is','it'))) /
        |     nullif(CAST(len(toks) AS DOUBLE), 0.0), 6) AS stopword_ratio
        |  FROM t)
        |SELECT doc_id,
        | round(1.0 / (1.0 + exp(-(-1.0
        |   + 2.5 * least(n_tokens / 64.0, 1.0)
        |   - 3.0 * punct_ratio
        |   + 1.5 * stopword_ratio))), 6) AS model_score
        |FROM m ORDER BY doc_id""".stripMargin,
    "q_train_test_split" ->
      """SELECT doc_id,
        | CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 % 100 AS BIGINT) AS bucket,
        | CASE WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 % 100 < 90
        |   THEN 'train' ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, doc_id, source FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang ORDER BY doc_id) <= 3
        |ORDER BY lang, doc_id""".stripMargin,
    "q_term_freq" ->
      """SELECT token, count(*) AS freq FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 20""".stripMargin,
    "q_shingles" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents WHERE doc_id < 50),
        |sh AS (
        |  SELECT doc_id, unnest(
        |    [{'pos': i - 1,
        |      'shingle': w[i] || ' ' || w[i+1] || ' ' || w[i+2]}
        |     for i in range(1, len(w) - 1)]) AS s
        |  FROM tok)
        |SELECT doc_id, CAST(s.pos AS INT) AS pos, s.shingle AS shingle
        |FROM sh ORDER BY doc_id, pos""".stripMargin,
    "q_top_bigrams" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS bigram
        |  FROM tok)
        |SELECT bigram, count(DISTINCT doc_id) AS doc_freq
        |FROM sh GROUP BY 1
        |ORDER BY doc_freq DESC, bigram ASC LIMIT 10""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      """SELECT doc_id,
        | round(1.0 - len(list_distinct(regexp_split_to_array(trim(text),
        |   '\s+'))) / nullif(CAST(len(regexp_split_to_array(trim(text),
        |   '\s+')) AS DOUBLE), 0.0), 6) AS rep_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |nc AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 32 THEN 1
        |      ELSE (len(w) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM tok),
        |c AS (
        |  SELECT doc_id, len(w) AS n,
        |    unnest([{ci: i,
        |      txt: array_to_string(w[(i*24+1):(i*24+32)], ' ')}
        |      for i in range(0, n_chunks)]) AS ch
        |  FROM nc)
        |SELECT doc_id, CAST(ch.ci AS BIGINT) AS chunk_id,
        | ch.txt AS chunk_text,
        | CAST(least(32, n - ch.ci*24) AS BIGINT) AS chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q_dedup_clusters" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE round(n_both / (ca.n + cb.n - n_both), 6) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach
        |  GROUP BY a)
        |SELECT d.doc_id,
        | COALESCE(c.cluster, d.doc_id) AS cluster_id,
        | COALESCE(c.cluster, d.doc_id) = d.doc_id AS is_kept
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_reps" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM inter
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE round(n_both / (ca.n + cb.n - n_both), 6) >= 0.8),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (
        |  SELECT a AS doc_id, least(a, min(b)) AS cluster FROM reach
        |  GROUP BY a),
        |qm AS (
        |  SELECT doc_id,
        |   CAST(len(w) AS BIGINT) AS n_tokens,
        |   round(length(regexp_replace(trim(text), '\s+', '', 'g')) /
        |     nullif(CAST(len(w) AS DOUBLE), 0.0), 6) AS mean_token_len,
        |   round(len(regexp_extract_all(text, '[^\w\s]')) /
        |     nullif(CAST(length(text) AS DOUBLE), 0.0), 6) AS punct_ratio
        |  FROM (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS w
        |    FROM documents)),
        |q AS (
        |  SELECT doc_id, round(greatest(
        |   least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) *
        |   (1.0 - least(punct_ratio * 5.0, 1.0)) *
        |   (1.0 - (CASE WHEN mean_token_len IS NULL THEN 1.0
        |     WHEN mean_token_len < 2.0 OR mean_token_len > 12.0 THEN 0.5
        |     ELSE 0.0 END) * 0.5),
        |   0.0), 6) AS quality_score
        |  FROM qm),
        |members AS (
        |  SELECT q.doc_id, COALESCE(c.cluster, q.doc_id) AS cluster_id,
        |    q.quality_score
        |  FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id),
        |reps AS (
        |  SELECT cluster_id, doc_id AS rep_doc_id,
        |    quality_score AS rep_quality
        |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY quality_score DESC, doc_id) AS rn
        |    FROM members m)
        |  WHERE rn = 1),
        |nm AS (SELECT cluster_id, count(*) AS n_members FROM members
        |       GROUP BY 1)
        |SELECT nm.cluster_id, nm.n_members, reps.rep_doc_id,
        |  reps.rep_quality
        |FROM nm JOIN reps USING (cluster_id)
        |ORDER BY cluster_id""".stripMargin,
    "q_cluster_sample" ->
      s"""WITH ${graft.queries.TrainingQueries.kmeansAssignSql(16)}
         |SELECT cell, vec_id, h FROM (
         |  SELECT a.cell, a.vec_id,
         |    CAST((CAST(a.vec_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h,
         |    row_number() OVER (PARTITION BY a.cell
         |      ORDER BY (CAST(a.vec_id AS HUGEINT) * 2654435761) % 4294967296, a.vec_id)
         |      AS rn
         |  FROM assign a)
         |WHERE rn <= 3 ORDER BY cell, h, vec_id""".stripMargin,
    "q_pack" ->
      """SELECT doc_id, source, n_tokens,
        | CAST(floor((cum - 1) / 256) AS BIGINT) AS bin
        |FROM (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    sum(CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |      AS BIGINT)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_redact" ->
      """WITH ef AS (
        |  SELECT doc_id, text, regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS email_free
        |  FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |   AS n_emails,
        | CAST(len(regexp_extract_all(email_free, '\d{4,}')) AS BIGINT)
        |   AS n_long_nums,
        | regexp_replace(email_free, '\d{4,}', '<NUM>', 'g') AS redacted
        |FROM ef ORDER BY doc_id""".stripMargin,
    "q_weighted_sample" ->
      """SELECT doc_id, n_chars, sample_key FROM (
        |  SELECT doc_id, n_chars,
        |    round(ln((((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296) + 0.5)
        |      / 4294967296) / n_chars, 6) AS sample_key
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY sample_key DESC, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,
    "q_contamination" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |tagged AS (
        |  SELECT doc_id, CASE WHEN (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 % 100 < 90
        |    THEN 'train' ELSE 'test' END AS split FROM documents),
        |train_sh AS (
        |  SELECT DISTINCT shingle FROM sh JOIN tagged USING (doc_id)
        |  WHERE split = 'train'),
        |test_sh AS (
        |  SELECT sh.doc_id, sh.shingle FROM sh JOIN tagged USING (doc_id)
        |  WHERE split = 'test'),
        |totals AS (SELECT doc_id, count(*) AS n_shingles FROM test_sh GROUP BY 1),
        |shared AS (
        |  SELECT doc_id, count(*) AS n_shared FROM test_sh
        |  WHERE shingle IN (SELECT shingle FROM train_sh) GROUP BY 1)
        |SELECT t.doc_id, t.n_shingles, coalesce(s.n_shared, 0) AS n_shared,
        |  round(coalesce(s.n_shared, 0) / t.n_shingles, 6) AS contamination
        |FROM totals t LEFT JOIN shared s USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_strip_markup" ->
      """WITH page AS (
        |  SELECT doc_id,
        |    '<html><p id="1">' || text || '</p>&nbsp;<br/></html>' AS page
        |  FROM documents),
        |base AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(page, '<[^>]*>')) AS BIGINT) AS n_tags,
        |    regexp_replace(page, '<[^>]*>', ' ', 'g') AS no_tags
        |  FROM page)
        |SELECT doc_id, n_tags,
        |  CAST(len(regexp_extract_all(no_tags, '&[a-zA-Z]+;|&#[0-9]+;'))
        |    AS BIGINT) AS n_entities,
        |  md5(trim(regexp_replace(regexp_replace(no_tags,
        |    '&[a-zA-Z]+;|&#[0-9]+;', ' ', 'g'), '\s+', ' ', 'g')))
        |    AS clean_md5,
        |  CAST(length(trim(regexp_replace(regexp_replace(no_tags,
        |    '&[a-zA-Z]+;|&#[0-9]+;', ' ', 'g'), '\s+', ' ', 'g')))
        |    AS BIGINT) AS clean_len
        |FROM base ORDER BY doc_id""".stripMargin,
    "q_normalize_nfc" ->
      """WITH suf AS (
        |  SELECT doc_id, text || ' Cafe' || chr(769) AS suffixed
        |  FROM documents)
        |SELECT doc_id,
        |  md5(nfc_normalize(suffixed)) AS nfc_md5,
        |  CAST(length(nfc_normalize(suffixed)) AS BIGINT) AS nfc_len,
        |  CAST(length(suffixed) - length(nfc_normalize(suffixed)) AS BIGINT)
        |    AS n_composed
        |FROM suf ORDER BY doc_id""".stripMargin,
    "q_rrf_fusion" ->
      """WITH q AS (
        |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        |cosr AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
        |l2r AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_distance(CAST(q.embedding AS DOUBLE[]),
        |        CAST(c.embedding AS DOUBLE[])) ASC, c.vec_id) AS rank
        |  FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
        |u AS (
        |  SELECT query_id, neighbor_id, 1.0::DOUBLE / (60 + rank) AS s
        |  FROM cosr WHERE rank <= 10
        |  UNION ALL
        |  SELECT query_id, neighbor_id, 1.0::DOUBLE / (60 + rank)
        |  FROM l2r WHERE rank <= 10),
        |f AS (
        |  SELECT query_id, neighbor_id, round(sum(s), 6) AS rrf_score,
        |    count(*) AS n_systems
        |  FROM u GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, rrf_score, n_systems,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY rrf_score DESC, neighbor_id) AS BIGINT) AS rank
        |FROM f
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |old_idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id % 5 < 4),
        |batch AS (SELECT doc_id, fp FROM fp WHERE doc_id % 5 = 4),
        |first_in_batch AS (
        |  SELECT doc_id, fp FROM batch
        |  QUALIFY row_number() OVER (
        |    PARTITION BY coalesce(fp, '__null_' || CAST(doc_id AS VARCHAR))
        |    ORDER BY doc_id) = 1)
        |SELECT doc_id, fp FROM first_in_batch b
        |WHERE NOT EXISTS (SELECT 1 FROM old_idx o WHERE o.fp = b.fp)
        |ORDER BY doc_id""".stripMargin,
    "q_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, unnest(string_split(substring(text, 1, 1000), ''))
        |    AS ch
        |  FROM documents),
        |freq AS (
        |  SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS c
        |  FROM chars GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY 1)
        |SELECT f.doc_id,
        |  round(-sum((c / n) * log2(c / n)), 6) AS char_entropy,
        |  CAST(n AS BIGINT) AS n_chars_sampled
        |FROM freq f JOIN tot USING (doc_id)
        |GROUP BY f.doc_id, n
        |ORDER BY doc_id""".stripMargin,
    "q_bm25" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM terms GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf FROM terms
        |  WHERE token IN ('vector', 'join', 'stream') GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT doc_id,
        |  round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        |    * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))),
        |    6) AS bm25,
        |  count(*) AS n_terms
        |FROM tf JOIN dfq USING (token) JOIN dl USING (doc_id)
        |CROSS JOIN stats
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_topk_agg" ->
      """SELECT o_orderpriority, rank, order_key, total_price FROM (
        |  SELECT o_orderpriority, o_orderkey AS order_key,
        |    round(o_totalprice, 2) AS total_price,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rank
        |  FROM orders)
        |WHERE rank <= 5 ORDER BY o_orderpriority, rank""".stripMargin,
    "q_scd2" ->
      """SELECT user_id, event_id, round(value, 2) AS attr,
        | epoch_us(ts) AS valid_from,
        | epoch_us(lead(ts) OVER w) AS valid_to,
        | (lead(ts) OVER w IS NULL) AS is_current
        |FROM events WHERE user_id < 30
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
        |SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        |UNION ALL
        |SELECT '2_click' AS stage, count(*) AS n_users FROM s2
        |UNION ALL
        |SELECT '3_purchase' AS stage, count(*) AS n_users FROM s3
        |ORDER BY stage""".stripMargin,
    "q_cohort" ->
      """WITH first AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1)
        |SELECT epoch_us(cw) AS cohort_week,
        |  epoch_us(date_trunc('week', ts)) AS activity_week,
        |  count(DISTINCT user_id) AS n_users
        |FROM events JOIN first USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, activity_week""".stripMargin,
    "q_interpolate" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS x,
        |    CASE WHEN event_id % 7 <> 0 THEN round(value, 2) END AS y
        |  FROM events WHERE user_id < 5)
        |SELECT user_id, event_id, x, y,
        |  CASE WHEN y IS NOT NULL THEN y
        |    WHEN last_value(y IGNORE NULLS) OVER wb IS NULL
        |      THEN first_value(y IGNORE NULLS) OVER wa
        |    WHEN first_value(y IGNORE NULLS) OVER wa IS NULL
        |      THEN last_value(y IGNORE NULLS) OVER wb
        |    ELSE round(last_value(y IGNORE NULLS) OVER wb
        |      + (first_value(y IGNORE NULLS) OVER wa
        |         - last_value(y IGNORE NULLS) OVER wb)
        |      * (x - last_value(CASE WHEN y IS NOT NULL THEN x END
        |          IGNORE NULLS) OVER wb)
        |      / (first_value(CASE WHEN y IS NOT NULL THEN x END
        |          IGNORE NULLS) OVER wa
        |         - last_value(CASE WHEN y IS NOT NULL THEN x END
        |          IGNORE NULLS) OVER wb), 6)
        |  END AS y_filled
        |FROM base
        |WINDOW
        |  wb AS (PARTITION BY user_id ORDER BY x, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |  wa AS (PARTITION BY user_id ORDER BY x, event_id
        |    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |ORDER BY user_id, x, event_id""".stripMargin,
    "q_fuzzy_dedup" ->
      """WITH n AS (
        |  SELECT DISTINCT p_name AS name FROM part WHERE p_name IS NOT NULL),
        |b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n)
        |SELECT a.name AS name_a, c.name AS name_b,
        |  levenshtein(a.name, c.name) AS lev,
        |  round(jaro_winkler_similarity(a.name, c.name), 6) AS jw
        |FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
        |WHERE levenshtein(a.name, c.name) <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    "q_scd2_lookup" ->
      """WITH dim AS (
        |  SELECT user_id, event_id AS version_id, round(value, 2) AS attr,
        |    epoch_us(ts) AS t
        |  FROM events WHERE user_id < 30 AND event_type <> 'purchase'),
        |facts AS (
        |  SELECT user_id, event_id AS fact_id, epoch_us(ts) AS t
        |  FROM events WHERE user_id < 30 AND event_type = 'purchase')
        |SELECT f.user_id, f.fact_id, f.t, d.attr, d.version_id
        |FROM facts f ASOF LEFT JOIN dim d
        |  ON f.user_id = d.user_id AND f.t >= d.t
        |ORDER BY f.user_id, f.fact_id""".stripMargin,
    "q_lm_score" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(
        |    [{'w': w[i], 'w2': w[i+1]} for i in range(1, len(w))]) AS b
        |  FROM tok),
        |bge AS (SELECT doc_id, b.w AS w, b.w2 AS w2 FROM bg),
        |c12 AS (SELECT w, w2, count(*) AS c12 FROM bge GROUP BY 1, 2),
        |c1 AS (SELECT w, count(*) AS c1 FROM bge GROUP BY 1),
        |v AS (SELECT count(DISTINCT w) AS v FROM bge)
        |SELECT doc_id,
        |  round(avg(ln((c12 + 1.0) / (c1 + v))), 6) AS lm_score,
        |  count(*) AS n_bigrams
        |FROM bge JOIN c12 USING (w, w2) JOIN c1 USING (w) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_mix_rebalance" ->
      """WITH s AS (
        |  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        |z AS (SELECT sum(sqrt(n_docs)) AS z FROM s)
        |SELECT source, n_docs,
        |  round(sqrt(n_docs) / z, 6) AS mix_p,
        |  round(200.0 * (sqrt(n_docs) / z), 2) AS alloc,
        |  round((sqrt(n_docs) / z) / n_docs, 6) AS doc_weight
        |FROM s CROSS JOIN z ORDER BY source""".stripMargin,
    // token-budget epoch plan: pure-integer replay (fixed-point
    // weights, bigint DIV/%, multiplicative-hash shuffle order) — see
    // TrainingQueries.epochPlan scaladoc for why no float threshold
    // can flip a document between engines
    "q_epoch_plan" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(
        |      regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |      x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS src_tokens,
        |    CAST(round(sqrt(sum(n_tok)) * 1000000) AS BIGINT) AS w_fp
        |  FROM docs GROUP BY 1),
        |z AS (SELECT CAST(sum(w_fp) AS BIGINT) AS z FROM s),
        |plan AS (
        |  SELECT source, n_docs, src_tokens,
        |    (100000 * w_fp) // z AS target_tokens,
        |    coalesce(((100000 * w_fp) // z) // src_tokens, 0)
        |      AS full_epochs,
        |    coalesce(((100000 * w_fp) // z) % src_tokens, 0)
        |      AS rem_tokens
        |  FROM s CROSS JOIN z),
        |ordered AS (
        |  SELECT source, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY (doc_id % 2147483648) * 2654435761 % 4294967296,
        |        doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM docs),
        |part AS (
        |  SELECT o.source, count(*) AS n_partial_docs,
        |    CAST(sum(o.n_tok) AS BIGINT) AS partial_tokens
        |  FROM ordered o JOIN plan p ON o.source = p.source
        |  WHERE o.cum_before < p.rem_tokens GROUP BY 1)
        |SELECT p.source, p.n_docs, p.src_tokens, p.target_tokens,
        |  p.full_epochs, p.rem_tokens,
        |  coalesce(n_partial_docs, 0) AS n_partial_docs,
        |  coalesce(partial_tokens, 0) AS partial_tokens
        |FROM plan p LEFT JOIN part USING (source)
        |ORDER BY source""".stripMargin,
    "q_date_spine" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day FROM events
        |  WHERE user_id < 5),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(
        |    CAST(min(day) AS TIMESTAMP), CAST(max(day) AS TIMESTAMP),
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM ev GROUP BY user_id),
        |daily AS (
        |  SELECT user_id, day, count(*) AS n FROM ev GROUP BY 1, 2)
        |SELECT s.user_id, s.day,
        |  coalesce(d.n, 0) AS n_events, (d.n IS NOT NULL) AS active
        |FROM spine s LEFT JOIN daily d USING (user_id, day)
        |ORDER BY user_id, day""".stripMargin,
    "q_equi_depth" ->
      """SELECT bucket, count(*) AS n,
        | round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM (
        |  SELECT o_totalprice, CAST(ntile(10) OVER (
        |    ORDER BY o_totalprice ASC, o_orderkey ASC) AS BIGINT) AS bucket
        |  FROM orders)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_substring_dup" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '') AS w
        |  FROM documents),
        |wins AS (
        |  SELECT doc_id, unnest(
        |    [array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)])
        |    AS shingle
        |  FROM tok),
        |cross_doc AS (
        |  SELECT shingle FROM wins
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2)
        |SELECT doc_id, count(*) AS n_windows,
        |  count(c.shingle) AS n_dup_windows,
        |  round(count(c.shingle) / CAST(count(*) AS DOUBLE), 6) AS dup_ratio
        |FROM wins LEFT JOIN cross_doc c USING (shingle)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_robust_stats" ->
      """WITH q AS (
        |  SELECT o_orderpriority AS pri,
        |    quantile_cont(o_totalprice, 0.25) AS q1,
        |    quantile_cont(o_totalprice, 0.5) AS med,
        |    quantile_cont(o_totalprice, 0.75) AS q3
        |  FROM orders GROUP BY 1)
        |SELECT pri, round(min(med), 4) AS median_price,
        |  round(min(q3 - q1), 4) AS iqr,
        |  round(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad,
        |  count(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
        |    OR o_totalprice > q3 + 1.5 * (q3 - q1) THEN 1 END) AS n_outliers,
        |  count(*) AS n
        |FROM orders JOIN q ON o_orderpriority = pri
        |GROUP BY pri ORDER BY pri""".stripMargin,
    "q_skyline" ->
      """SELECT o_orderkey, day, price FROM (
        |  SELECT o_orderkey, day, price,
        |    max(price) OVER (ORDER BY day
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
        |    max(price) OVER (PARTITION BY day) AS m2
        |  FROM (SELECT o_orderkey,
        |          CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |            AS BIGINT) AS day,
        |          o_totalprice AS price FROM orders))
        |WHERE (m1 IS NULL OR m1 < price) AND m2 <= price
        |ORDER BY day, o_orderkey""".stripMargin,
    "q_triangles" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem WHERE l_orderkey % 7 = 0),
        |e AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM e e1 JOIN e e2 ON e2.src = e1.src AND e2.dst > e1.dst
        |       JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT count(*) AS n_nodes,
        |  CAST(sum(deg) / 2 AS BIGINT) AS n_edges,
        |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
        |  min(n_triangles) AS n_triangles,
        |  round(3.0 * min(n_triangles) /
        |    greatest(CAST(sum(deg * (deg - 1) / 2) AS BIGINT), 1), 6) AS gcc
        |FROM deg, tri""".stripMargin,
    "q_spatial_join" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    ((c_custkey * 7919) % 1200) / 10.0 - 60.0 AS c_lat,
        |    ((c_custkey * 104729) % 3500) / 10.0 - 175.0 AS c_lon
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    (((s_suppkey + 17) * 7919) % 1200) / 10.0 - 60.0 AS s_lat,
        |    (((s_suppkey + 17) * 104729) % 3500) / 10.0 - 175.0 AS s_lon
        |  FROM supplier)
        |SELECT s_suppkey, c_custkey,
        |  round(2 * 6371.0 * asin(sqrt(
        |    sin(radians(c_lat - s_lat) / 2) * sin(radians(c_lat - s_lat) / 2)
        |    + cos(radians(s_lat)) * cos(radians(c_lat))
        |      * sin(radians(c_lon - s_lon) / 2)
        |      * sin(radians(c_lon - s_lon) / 2))), 3) AS dist_km
        |FROM s JOIN c ON 2 * 6371.0 * asin(sqrt(
        |    sin(radians(c_lat - s_lat) / 2) * sin(radians(c_lat - s_lat) / 2)
        |    + cos(radians(s_lat)) * cos(radians(c_lat))
        |      * sin(radians(c_lon - s_lon) / 2)
        |      * sin(radians(c_lon - s_lon) / 2))) <= 50.0
        |ORDER BY s_suppkey, c_custkey""".stripMargin,
    "q_vocab_coverage" ->
      """WITH counts AS (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(list_filter(
        |      regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS token
        |    FROM documents)
        |  GROUP BY 1),
        |tot AS (SELECT sum(freq) AS total FROM counts),
        |head AS (
        |  SELECT token, freq FROM counts
        |  ORDER BY freq DESC, token ASC LIMIT 1024),
        |r AS (
        |  SELECT token, freq,
        |    CAST(row_number() OVER w AS BIGINT) AS rank,
        |    sum(freq) OVER (w ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM head WINDOW w AS (ORDER BY freq DESC, token ASC))
        |SELECT rank, token, freq, round(cum / CAST(total AS DOUBLE), 6)
        |  AS cum_share
        |FROM r, tot WHERE (cum - freq) * 10 < total * 9
        |ORDER BY rank""".stripMargin,
    "q_url_stats" ->
      """WITH u AS (
        |  SELECT doc_id, 'https://' || source || '.example.com/' || lang
        |    || '/doc/' || doc_id || '?utm_source=feed&page='
        |    || (doc_id % 7) || '#sec' || (doc_id % 3) AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^https://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^https://[^/]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]page=([^&#]*)', 1) AS page,
        |  'https://' || regexp_extract(url, '^https://([^/]+)', 1)
        |    || regexp_extract(url, '^https://[^/]+(/[^?#]*)', 1) AS canonical
        |FROM u ORDER BY doc_id""".stripMargin,
    "q_interval_join" ->
      """WITH l AS (
        |  SELECT o_orderkey AS l_id,
        |    CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |      AS BIGINT) AS l_lo,
        |    CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |      + o_orderkey % 14 AS BIGINT) AS l_hi
        |  FROM orders WHERE o_orderkey % 101 = 0
        |    AND o_orderkey < 10000000),
        |r AS (
        |  SELECT l_orderkey * 8 + l_linenumber AS r_id,
        |    CAST(date_diff('day', DATE '1990-01-01', l_shipdate)
        |      AS BIGINT) AS r_lo,
        |    CAST(date_diff('day', DATE '1990-01-01', l_shipdate)
        |      + l_linenumber * 3 AS BIGINT) AS r_hi
        |  FROM lineitem WHERE l_orderkey % 23 = 0)
        |SELECT l_id, r_id,
        |  least(l_hi, r_hi) - greatest(l_lo, r_lo) + 1 AS overlap_days
        |FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_id, r_id""".stripMargin,
    "q_interval_count" ->
      """WITH l AS (
        |  SELECT o_orderkey AS l_id,
        |    CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |      AS BIGINT) AS l_lo,
        |    CAST(date_diff('day', DATE '1990-01-01', o_orderdate)
        |      + o_orderkey % 14 AS BIGINT) AS l_hi
        |  FROM orders WHERE o_orderkey % 101 = 0),
        |r AS (
        |  SELECT CAST(date_diff('day', DATE '1990-01-01', l_shipdate)
        |      AS BIGINT) AS r_lo,
        |    CAST(date_diff('day', DATE '1990-01-01', l_shipdate)
        |      + l_linenumber * 3 AS BIGINT) AS r_hi
        |  FROM lineitem WHERE l_orderkey % 23 = 0)
        |SELECT l_id, count(r_lo) AS n_overlap
        |FROM l LEFT JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |GROUP BY l_id
        |ORDER BY l_id""".stripMargin,
    "q_profile" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    round(o_totalprice, 2) AS o_totalprice,
        |    CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
        |  FROM orders)
        |SELECT col_name, n_rows, n_nulls, n_distinct, min_value, max_value
        |FROM (
        |  SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |    count(*) - count(o_orderkey) AS n_nulls,
        |    count(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(min(o_orderkey) AS VARCHAR) AS min_value,
        |    CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM t
        |  UNION ALL
        |  SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
        |    count(DISTINCT o_custkey), CAST(min(o_custkey) AS VARCHAR),
        |    CAST(max(o_custkey) AS VARCHAR) FROM t
        |  UNION ALL
        |  SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
        |    count(DISTINCT o_orderstatus),
        |    CAST(min(o_orderstatus) AS VARCHAR),
        |    CAST(max(o_orderstatus) AS VARCHAR) FROM t
        |  UNION ALL
        |  SELECT 'o_totalprice', count(*), count(*) - count(o_totalprice),
        |    count(DISTINCT o_totalprice), CAST(min(o_totalprice) AS VARCHAR),
        |    CAST(max(o_totalprice) AS VARCHAR) FROM t
        |  UNION ALL
        |  SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
        |    count(DISTINCT o_orderdate), CAST(min(o_orderdate) AS VARCHAR),
        |    CAST(max(o_orderdate) AS VARCHAR) FROM t
        |  UNION ALL
        |  SELECT 'o_orderpriority', count(*),
        |    count(*) - count(o_orderpriority),
        |    count(DISTINCT o_orderpriority),
        |    CAST(min(o_orderpriority) AS VARCHAR),
        |    CAST(max(o_orderpriority) AS VARCHAR) FROM t)
        |ORDER BY col_name""".stripMargin,
    "q_dq_checks" ->
      """WITH v AS (
        |  SELECT 'orders_orderkey_unique' AS check_name,
        |    count(*) - count(DISTINCT o_orderkey) AS n_violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders_custkey_complete',
        |    count(CASE WHEN o_custkey IS NULL THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'orders_price_positive',
        |    count(CASE WHEN NOT coalesce(o_totalprice > 0, false) THEN 1 END) FROM orders
        |  UNION ALL
        |  SELECT 'orders_status_domain',
        |    count(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), false)
        |      THEN 1 END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_qty_range',
        |    count(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, false)
        |      THEN 1 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |    count(CASE WHEN NOT coalesce(l_discount BETWEEN 0.0 AND 0.1, false)
        |      THEN 1 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_custkey_fk', count(*) FROM orders
        |  WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem_orderkey_fk', count(*) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey))
        |SELECT check_name AS "check", n_violations,
        |  n_violations = 0 AS passed
        |FROM v ORDER BY check_name""".stripMargin,
    "q_transitions" ->
      """WITH nxt AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM events)
        |SELECT from_state, to_state, count(*) AS n,
        |  round(count(*) / sum(count(*)) OVER (PARTITION BY from_state),
        |    6) AS p
        |FROM nxt WHERE to_state IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_period_over_period" ->
      """WITH m AS (
        |  SELECT epoch_us(CAST(date_trunc('month', o_orderdate)
        |      AS TIMESTAMP)) AS month,
        |    round(sum(o_totalprice), 2) AS revenue,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT month, revenue, n_orders,
        |    lag(revenue) OVER (ORDER BY month) AS prev_revenue
        |  FROM m)
        |SELECT month, revenue, n_orders, prev_revenue,
        |  round((revenue - prev_revenue) / prev_revenue * 100, 4)
        |    AS mom_pct
        |FROM l ORDER BY month""".stripMargin,
    "q_pmi" ->
      """WITH tok AS (
        |  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS w
        |  FROM documents),
        |uni AS (SELECT unnest(w) AS t FROM tok),
        |ucnt AS (SELECT t, count(*) AS c FROM uni GROUP BY 1),
        |nu AS (SELECT count(*) AS nu FROM uni),
        |big AS (
        |  SELECT unnest([{'w1': w[i], 'w2': w[i+1]}
        |    for i in range(1, len(w))], recursive := true)
        |  FROM tok),
        |nb AS (SELECT count(*) AS nb FROM big),
        |bcnt AS (
        |  SELECT w1, w2, count(*) AS c_ab FROM big
        |  GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, c_ab,
        |  round(ln((c_ab / nb) / ((a.c / nu) * (b.c / nu))), 6) AS pmi
        |FROM bcnt
        |JOIN ucnt a ON a.t = w1
        |JOIN ucnt b ON b.t = w2
        |CROSS JOIN nu CROSS JOIN nb
        |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "q_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)),
        |    '\s+')) AS t
        |  FROM documents),
        |raw AS (SELECT t, count(*) AS c_r FROM toks GROUP BY 1),
        |tgt AS (SELECT t, count(*) AS c_t FROM toks
        |  WHERE doc_id % 10 = 0 GROUP BY 1),
        |tot AS (SELECT sum(c_r) AS n_r, count(*) AS v FROM raw),
        |nt AS (SELECT count(*) AS n_t FROM toks WHERE doc_id % 10 = 0),
        |score AS (
        |  SELECT r.t, ln(((coalesce(c_t, 0) + 1) / (n_t + v)) /
        |    ((c_r + 1) / (n_r + v))) AS s
        |  FROM raw r LEFT JOIN tgt USING (t)
        |  CROSS JOIN tot CROSS JOIN nt)
        |SELECT doc_id, round(avg(s), 6) AS log_ratio,
        |  count(*) AS n_tokens
        |FROM toks JOIN score USING (t)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_attribution" ->
      """WITH t AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS last_touch
        |  FROM events)
        |SELECT coalesce(last_touch, 'none') AS touch,
        |  count(*) AS n_purchases, round(sum(value), 2) AS revenue
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_skew_report" ->
      """WITH
        |c1 AS (SELECT l_suppkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |r1 AS (SELECT c, row_number() OVER (ORDER BY c, k) AS i FROM c1),
        |c2 AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |r2 AS (SELECT c, row_number() OVER (ORDER BY c, k) AS i FROM c2),
        |c3 AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |r3 AS (SELECT c, row_number() OVER (ORDER BY c, k) AS i FROM c3),
        |g AS (
        |  SELECT 'lineitem.l_suppkey' AS key_name, count(*) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_cnt,
        |    round(max(c) / sum(c), 6) AS top_share,
        |    round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 6)
        |      AS p99_over_med,
        |    round((2 * sum(i * c)) / (count(*) * sum(c))
        |      - (count(*) + 1) / count(*), 6) AS gini
        |  FROM r1
        |  UNION ALL
        |  SELECT 'orders.o_custkey', count(*), CAST(sum(c) AS BIGINT),
        |    max(c), round(max(c) / sum(c), 6),
        |    round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 6),
        |    round((2 * sum(i * c)) / (count(*) * sum(c))
        |      - (count(*) + 1) / count(*), 6)
        |  FROM r2
        |  UNION ALL
        |  SELECT 'events.user_id', count(*), CAST(sum(c) AS BIGINT),
        |    max(c), round(max(c) / sum(c), 6),
        |    round(quantile_cont(c, 0.99) / quantile_cont(c, 0.5), 6),
        |    round((2 * sum(i * c)) / (count(*) * sum(c))
        |      - (count(*) + 1) / count(*), 6)
        |  FROM r3)
        |SELECT * FROM g ORDER BY key_name""".stripMargin,
    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    date_diff('day', DATE '1970-01-01', max(o_orderdate))
        |      AS last_day,
        |    count(*) AS freq, round(sum(o_totalprice), 2) AS monetary
        |  FROM orders GROUP BY 1),
        |th AS (
        |  SELECT quantile_cont(last_day, [0.25, 0.5, 0.75]) AS tr,
        |    quantile_cont(freq, [0.25, 0.5, 0.75]) AS tf,
        |    quantile_cont(monetary, [0.25, 0.5, 0.75]) AS tm
        |  FROM base),
        |s AS (
        |  SELECT o_custkey, freq, monetary,
        |    1 + (last_day >= tr[1])::INT + (last_day >= tr[2])::INT
        |      + (last_day >= tr[3])::INT AS r,
        |    1 + (freq >= tf[1])::INT + (freq >= tf[2])::INT
        |      + (freq >= tf[3])::INT AS f,
        |    1 + (monetary >= tm[1])::INT + (monetary >= tm[2])::INT
        |      + (monetary >= tm[3])::INT AS m
        |  FROM base CROSS JOIN th)
        |SELECT o_custkey, freq, monetary, r, f, m,
        |  r * 100 + f * 10 + m AS segment
        |FROM s ORDER BY o_custkey""".stripMargin,
    // MATERIALIZED barriers + threshold-before-dimension-joins (r11):
    // the flat two-pp-join form let DuckDB's optimizer pick a
    // pp × pp × no CROSS_PRODUCT build side (4×10^10 rows at sf1 —
    // the 52-CPU-min sf1-sweep exclusion of BASELINE §14.6). Barriers
    // pin the join order; the top-20-by-n_pair threshold is applied
    // BEFORE the per-part-count joins (sound: n_pair is the primary
    // sort key, so every true top-20 row clears the 20th-largest
    // n_pair). Verified value-identical to the flat form at
    // sf0.001/0.01/0.1; 3.8 s at sf1 where the flat form never
    // finished.
    "q_basket" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |no AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |pp AS MATERIALIZED (
        |  SELECT pk, count(*) AS n_part FROM li GROUP BY 1),
        |pr AS MATERIALIZED (
        |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_pair
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |th AS (SELECT n_pair AS t FROM pr
        |       ORDER BY n_pair DESC LIMIT 1 OFFSET 19),
        |cand AS MATERIALIZED (
        |  SELECT * FROM pr
        |  WHERE n_pair >= coalesce((SELECT min(t) FROM th), 0)),
        |j1 AS MATERIALIZED (
        |  SELECT cand.*, pp.n_part AS n_a
        |  FROM cand JOIN pp ON pp.pk = cand.part_a),
        |j2 AS MATERIALIZED (
        |  SELECT j1.*, pp.n_part AS n_b
        |  FROM j1 JOIN pp ON pp.pk = j1.part_b)
        |SELECT part_a, part_b, n_pair,
        |  round((n_pair * (SELECT n_orders FROM no)) / (n_a * n_b), 6)
        |    AS lift
        |FROM j2
        |ORDER BY n_pair DESC, lift DESC, part_a, part_b
        |LIMIT 20""".stripMargin,
    "q_shuffle_shard" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5('seed42:' || doc_id) AS h FROM documents),
        |sharded AS (
        |  SELECT doc_id, h,
        |    CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
        |       + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
        |      AS BIGINT) AS shard
        |  FROM keyed)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) - 1 AS pos
        |FROM sharded ORDER BY shard, pos""".stripMargin,
    "q_sparse_retrieval" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |dfq AS (
        |  SELECT token, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, token FROM terms) GROUP BY 1),
        |pruned AS (
        |  SELECT token, df FROM dfq CROSS JOIN n WHERE df * 5 <= n_docs * 4),
        |weighted AS (
        |  SELECT tf.doc_id, tf.token,
        |    tf.tf * ln(n_docs / CAST(df AS DOUBLE)) AS w
        |  FROM tf JOIN pruned USING (token) CROSS JOIN n),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS norm
        |  FROM weighted GROUP BY 1),
        |q AS (SELECT doc_id AS query_id, token, w AS qw
        |  FROM weighted WHERE doc_id < 5),
        |qn AS (SELECT doc_id AS query_id, norm AS qnorm
        |  FROM norms WHERE doc_id < 5),
        |dots AS (
        |  SELECT q.query_id, weighted.doc_id, sum(weighted.w * q.qw) AS dot
        |  FROM weighted JOIN q USING (token) GROUP BY 1, 2),
        |scored AS (
        |  SELECT query_id, doc_id, dot / (norm * qnorm) AS raw
        |  FROM dots JOIN norms USING (doc_id) JOIN qn USING (query_id)
        |  WHERE query_id <> doc_id)
        |SELECT query_id, rank, doc_id, round(raw, 6) AS cosine FROM (
        |  SELECT query_id, doc_id, raw,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY raw DESC, doc_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_zipf" ->
      """WITH freqs AS (
        |  SELECT token, count(*) AS freq FROM (
        |    SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |    FROM documents)
        |  GROUP BY 1 ORDER BY freq DESC, token ASC LIMIT 1000),
        |ranked AS (
        |  SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
        |  FROM freqs)
        |SELECT round(regr_slope(ln(freq), ln(rank)), 6) AS zipf_slope,
        |  round(regr_r2(ln(freq), ln(rank)), 6) AS r2,
        |  count(*) AS n_terms, CAST(sum(freq) AS BIGINT) AS n_tokens
        |FROM ranked""".stripMargin,
    "q_hierarchy" ->
      """WITH RECURSIVE walk AS (
        |  SELECT doc_id, doc_id AS cur, CAST(0 AS BIGINT) AS depth,
        |    CAST(doc_id AS VARCHAR) AS path
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, cur // 2 AS cur, depth + 1,
        |    CAST(cur // 2 AS VARCHAR) || '/' || path
        |  FROM walk WHERE cur >= 10)
        |SELECT doc_id, cur AS root, depth, path
        |FROM walk WHERE cur < 10 ORDER BY doc_id""".stripMargin,
    "q_ewma" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts,
        |    CAST(floor(value) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events),
        |j AS (
        |  SELECT c.user_id, c.event_id, c.ts, c.x, c.rn,
        |    sum(p.x * power(0.5, c.rn - p.rn)) AS num
        |  FROM t c JOIN t p ON p.user_id = c.user_id
        |    AND p.rn BETWEEN c.rn - 15 AND c.rn
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT user_id, event_id, epoch_us(ts) AS ts_us, x,
        |  round(num / (2.0 - power(0.5, least(rn, 16) - 1)), 6) AS ewma
        |FROM j ORDER BY user_id, ts_us, event_id""".stripMargin,
    "q_pattern" ->
      """WITH t AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3,
        |    lead(ts, 2) OVER w AS ts3,
        |    lead(event_id, 2) OVER w AS id3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS start_event, epoch_us(ts) AS start_us,
        |  id3 AS end_event, epoch_us(ts3) - epoch_us(ts) AS elapsed_us
        |FROM t
        |WHERE event_type = 'view' AND t2 = 'click' AND t3 = 'purchase'
        |ORDER BY user_id, start_us, start_event""".stripMargin,
    "q_nucleus" ->
      """WITH t AS (
        |  SELECT doc_id, lang, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        |    sum(n_chars) OVER (PARTITION BY lang) AS total
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |  round(cum / CAST(total AS DOUBLE), 6) AS share_before
        |FROM t WHERE cum * 10 < total * 9
        |ORDER BY lang, n_chars DESC, doc_id""".stripMargin,
    "q_subtree_agg" ->
      """WITH RECURSIVE anc AS (
        |  SELECT doc_id, doc_id AS node FROM documents
        |  UNION ALL
        |  SELECT doc_id, node // 2 AS node FROM anc WHERE node >= 10)
        |SELECT node, count(*) AS n_desc,
        |  CAST(sum(d.n_chars) AS BIGINT) AS subtree_chars
        |FROM anc JOIN documents d USING (doc_id)
        |GROUP BY node ORDER BY node""".stripMargin,
    "q_chisq" ->
      """WITH obs AS (
        |  SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, count(*) AS rl FROM documents GROUP BY 1),
        |c AS (SELECT source, count(*) AS cl FROM documents GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |grid AS (
        |  SELECT r.lang, c.source, rl, cl, n.n,
        |    coalesce(o, 0) AS o, rl * cl / CAST(n.n AS DOUBLE) AS e
        |  FROM r CROSS JOIN c CROSS JOIN n
        |  LEFT JOIN obs USING (lang, source))
        |SELECT round(sum((o - e) * (o - e) / e), 6) AS chi2,
        |  (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
        |  max(n) AS n
        |FROM grid""".stripMargin,
    "q_wilson" ->
      """WITH a AS (
        |  SELECT o_orderpriority, count(*) AS n,
        |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS pos
        |  FROM orders GROUP BY 1),
        |b AS (SELECT o_orderpriority, n, pos,
        |  CAST(pos AS DOUBLE) / n AS ph FROM a)
        |SELECT o_orderpriority, n, pos, round(ph, 6) AS p_hat,
        |  round((ph + 1.96 * 1.96 / (2.0 * n)
        |      - 1.96 * sqrt((ph * (1.0 - ph)
        |          + 1.96 * 1.96 / (4.0 * n)) / n))
        |    / (1.0 + 1.96 * 1.96 / n), 6) AS wilson_lb
        |FROM b ORDER BY wilson_lb DESC, o_orderpriority""".stripMargin,
    "q_gini" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c.c_mktsegment AS segment, cust.cents, cust.o_custkey
        |  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey),
        |r AS (
        |  SELECT segment, cents, row_number() OVER (
        |    PARTITION BY segment ORDER BY cents, o_custkey) AS i FROM j),
        |g AS (
        |  SELECT segment, count(*) AS n_cust,
        |    CAST(sum(cents) AS BIGINT) AS s0,
        |    sum(CAST(i AS BIGINT) * cents) AS s1
        |  FROM r GROUP BY 1)
        |SELECT segment, n_cust,
        |  round(2.0 * CAST(s1 AS DOUBLE) / n_cust / s0
        |    - (n_cust + 1.0) / n_cust, 6) AS gini
        |FROM g ORDER BY segment""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT digit, n, sum(n) OVER () AS total FROM g)
        |SELECT digit, n,
        |  round(CAST(n AS DOUBLE) / total, 6) AS observed_p,
        |  round(log10(1.0 + 1.0 / digit), 6) AS expected_p,
        |  round(abs(CAST(n AS DOUBLE) / total
        |    - log10(1.0 + 1.0 / digit)), 6) AS abs_dev
        |FROM t ORDER BY digit""".stripMargin,
    "q_entropy_cat" ->
      """WITH cp AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS ni
        |  FROM orders GROUP BY 1, 2),
        |g AS (
        |  SELECT o_orderstatus, CAST(sum(ni) AS BIGINT) AS n,
        |    count(*) AS k,
        |    sum(CAST(ni AS DOUBLE) * ln(CAST(ni AS DOUBLE))) AS snl
        |  FROM cp GROUP BY 1)
        |SELECT o_orderstatus, n, k,
        |  round(ln(CAST(n AS DOUBLE)) - snl / n, 6) AS entropy,
        |  round((ln(CAST(n AS DOUBLE)) - snl / n)
        |    / ln(CAST(k AS DOUBLE)), 6) AS norm_entropy
        |FROM g ORDER BY o_orderstatus""".stripMargin,
    "q_mode" ->
      """SELECT user_id, event_type AS mode_type, n FROM (
        |  SELECT user_id, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY n DESC, event_type ASC) = 1
        |ORDER BY user_id""".stripMargin,
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |l AS (SELECT day, cents,
        |  lag(cents) OVER (ORDER BY day) AS prev FROM daily)
        |SELECT count(*) AS n_days,
        |  round(corr(CAST(cents AS DOUBLE), CAST(prev AS DOUBLE)), 6)
        |    AS acf1
        |FROM l""".stripMargin,
    "q_psi" ->
      """WITH c AS (
        |  SELECT o_orderpriority AS category,
        |    count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS na,
        |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS nb
        |  FROM orders WHERE o_orderstatus IN ('O', 'F') GROUP BY 1),
        |t AS (SELECT category, na, nb,
        |  CAST(sum(na) OVER () AS BIGINT) AS ta,
        |  CAST(sum(nb) OVER () AS BIGINT) AS tb FROM c)
        |SELECT category, na, nb,
        |  round(CAST(na AS DOUBLE) / ta, 6) AS p_a,
        |  round(CAST(nb AS DOUBLE) / tb, 6) AS p_b,
        |  round((CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
        |    * ln(greatest(CAST(na AS DOUBLE) / ta, 1e-9)
        |      / greatest(CAST(nb AS DOUBLE) / tb, 1e-9)),
        |    6) AS psi_term
        |FROM t ORDER BY category""".stripMargin,
    "q_lift" ->
      """WITH s AS (
        |  SELECT event_id, value,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS resp
        |  FROM events),
        |dec AS (SELECT ntile(10) OVER (ORDER BY value DESC, event_id)
        |    AS decile, resp FROM s),
        |g AS (SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
        |  CAST(sum(resp) AS BIGINT) AS n_resp FROM dec GROUP BY 1),
        |t AS (SELECT decile, n, n_resp,
        |  CAST(n_resp AS DOUBLE) / n AS rate,
        |  CAST(CAST(sum(n_resp) OVER () AS BIGINT) AS DOUBLE)
        |    / CAST(sum(n) OVER () AS BIGINT) AS base FROM g)
        |SELECT decile, n, n_resp, round(rate, 6) AS resp_rate,
        |  round(rate / base, 6) AS lift
        |FROM t ORDER BY decile""".stripMargin,
    "q_zorder" -> s"""WITH xy AS (
        |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y
        |  FROM lineitem),
        |m AS (SELECT x, y, ${AnalyticsQueries.mortonSql} AS z FROM xy)
        |SELECT z // 256 AS tile, count(*) AS n,
        |  min(x) AS x_lo, max(x) AS x_hi,
        |  min(y) AS y_lo, max(y) AS y_hi
        |FROM m GROUP BY 1 ORDER BY tile""".stripMargin,
    "q_kanon" ->
      """WITH g AS (
        |  SELECT lang, source, n_chars // 100 AS len_bucket,
        |    count(*) AS n
        |  FROM documents GROUP BY 1, 2, 3)
        |SELECT lang, count(*) AS n_groups,
        |  count(CASE WHEN n < 5 THEN 1 END) AS n_violating,
        |  CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT)
        |    AS suppressed_rows,
        |  round(CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0)
        |      AS DOUBLE) / CAST(sum(n) AS BIGINT), 6)
        |    AS suppression_rate
        |FROM g GROUP BY 1 ORDER BY lang""".stripMargin,
    "q_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_sessions" ->
      """WITH g AS (
        |  SELECT user_id, event_id, value, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |      THEN 1 ELSE 0 END AS is_break
        |  FROM g),
        |sess AS (
        |  SELECT user_id, value, ts,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM b)
        |SELECT epoch_us(min(ts)) AS s_start_us,
        |  epoch_us(max(ts)) + 1800000000 AS s_end_us,
        |  user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, s_start_us""".stripMargin,
    "q_stream_sessions_tws" ->
      // the q_stream_sessions sessionize plus the append-mode closed
      // filter: emitted sessions are exactly those the final watermark
      // finalized. Watermark law stated µs-exact: wm = (max event time
      // floored to ms − 10 min delay) in µs; a session is closed when
      // its end (last event + 30 min gap) ≤ wm.
      """WITH wm AS (
        |  SELECT ((max(epoch_us(ts)) // 1000) - 600000) * 1000 AS wm_us
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_id, value, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |      THEN 1 ELSE 0 END AS is_break
        |  FROM g),
        |sess AS (
        |  SELECT user_id, value, ts,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS sid
        |  FROM b)
        |SELECT epoch_us(min(ts)) AS s_start_us,
        |  epoch_us(max(ts)) + 1800000000 AS s_end_us,
        |  user_id, count(*) AS n_events,
        |  round(sum(value), 2) AS session_value
        |FROM sess GROUP BY user_id, sid
        |HAVING epoch_us(max(ts)) + 1800000000 <= (SELECT wm_us FROM wm)
        |ORDER BY user_id, s_start_us""".stripMargin,
    "q_stream_dedup" ->
      """SELECT lang, count(DISTINCT md5(text)) AS n_unique
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_enrich" ->
      """WITH w(lang, weight) AS (
        |  VALUES ('en', 100), ('de', 60), ('fr', 40), ('es', 20))
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CAST(len(list_filter(regexp_split_to_array(
        |      lower(trim(d.text)), '\s+'), t -> t != '')) AS BIGINT)
        |    * coalesce(w.weight, 0)) AS BIGINT) AS weighted_tokens
        |FROM documents d LEFT JOIN w ON d.lang = w.lang
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    "q_stream_neardup" -> graft.dedup.XxHashSql.streamNearDupOracleSql(),
    "q_stream_curate" -> graft.dedup.XxHashSql.streamCurateOracleSql(),
    "q_stream_join" ->
      """SELECT c.user_id, c.event_id AS l_id, p.event_id AS r_id,
        |  epoch_us(c.ts) AS l_ts_us, epoch_us(p.ts) AS r_ts_us
        |FROM events c JOIN events p ON p.user_id = c.user_id
        |  AND epoch_us(p.ts) >= epoch_us(c.ts)
        |  AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        |ORDER BY 1, 2, 3""".stripMargin,
    "q_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day, row_number() OVER (
        |    PARTITION BY user_id ORDER BY day) AS rn FROM days),
        |isl AS (
        |  SELECT user_id, day - CAST(rn AS INTEGER) AS grp,
        |    count(*) AS len
        |  FROM r GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
        |  count(*) AS n_streaks, max(len) AS longest
        |FROM isl GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_dow_seasonality" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |g AS (
        |  SELECT isodow(day) - 1 AS dow, count(*) AS n_days,
        |    CAST(sum(cents) AS BIGINT) AS s
        |  FROM daily GROUP BY 1),
        |t AS (SELECT dow, n_days, s,
        |  CAST(sum(s) OVER () AS BIGINT) AS st,
        |  CAST(sum(n_days) OVER () AS BIGINT) AS nt FROM g)
        |SELECT dow, n_days,
        |  round(CAST(s AS DOUBLE) / n_days / 100.0, 2) AS avg_daily_rev,
        |  round((CAST(s AS DOUBLE) / n_days)
        |    / (CAST(st AS DOUBLE) / nt), 6) AS seasonality_idx
        |FROM t ORDER BY dow""".stripMargin,
    "q_hhi" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c.c_mktsegment AS segment, cust.cents
        |  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey),
        |g AS (
        |  SELECT segment, count(*) AS n_cust,
        |    CAST(sum(cents) AS BIGINT) AS s0,
        |    sum(CAST(cents AS DOUBLE) * CAST(cents AS DOUBLE)) AS sq
        |  FROM j GROUP BY 1)
        |SELECT segment, n_cust,
        |  round(sq / (CAST(s0 AS DOUBLE) * s0), 6) AS hhi,
        |  round((CAST(s0 AS DOUBLE) * s0) / sq, 2) AS effective_n
        |FROM g ORDER BY segment""".stripMargin,
    "q_sql_q3" ->
      """SELECT o_orderkey,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        |GROUP BY o_orderkey, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 20""".stripMargin,
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |p AS (
        |  SELECT day, cents,
        |    row_number() OVER (ORDER BY day) AS k,
        |    CAST(sum(cents) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum,
        |    count(*) OVER () AS n,
        |    CAST(sum(cents) OVER () AS BIGINT) AS s
        |  FROM daily),
        |c AS (
        |  SELECT day, k,
        |    CAST(cum AS DOUBLE) / k AS m1,
        |    CAST(s - cum AS DOUBLE) / (n - k) AS m2,
        |    sqrt(CAST(k * (n - k) AS DOUBLE) / n)
        |      * abs(CAST(cum AS DOUBLE) / k
        |        - CAST(s - cum AS DOUBLE) / (n - k)) AS stat
        |  FROM p WHERE k < n)
        |SELECT day AS split_day, CAST(k AS INTEGER) AS k,
        |  round(m1 / 100.0, 2) AS mean_before,
        |  round(m2 / 100.0, 2) AS mean_after,
        |  round(stat, 4) AS shift_stat
        |FROM c ORDER BY stat DESC, day LIMIT 1""".stripMargin,
    "q_anomaly_days" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |m AS (SELECT day, cents,
        |  quantile_cont(cents, 0.5) OVER () AS med FROM daily),
        |m2 AS (SELECT day, cents, med,
        |  quantile_cont(abs(cents - med), 0.5) OVER () AS mad FROM m)
        |SELECT day, round(cents / 100.0, 2) AS rev,
        |  round(abs(cents - med) / mad, 4) AS dev_mads
        |FROM m2 WHERE abs(cents - med) > 3.0 * mad
        |ORDER BY day""".stripMargin,
    "q_pareto" ->
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c.c_mktsegment AS segment, cust.cents, cust.o_custkey
        |  FROM cust JOIN customer c ON c.c_custkey = cust.o_custkey),
        |r AS (
        |  SELECT segment, cents,
        |    row_number() OVER (PARTITION BY segment
        |      ORDER BY cents DESC, o_custkey) AS rn,
        |    count(*) OVER (PARTITION BY segment) AS nc
        |  FROM j)
        |SELECT segment, count(*) AS n_cust,
        |  count(CASE WHEN rn * 10 <= nc THEN 1 END) AS top_decile_n,
        |  round(CAST(coalesce(sum(CASE WHEN rn * 10 <= nc THEN cents
        |      END), 0) AS DOUBLE) / CAST(sum(cents) AS BIGINT), 6)
        |    AS top_decile_share
        |FROM r GROUP BY 1 ORDER BY segment""".stripMargin,
    "q_boilerplate" ->
      """WITH n AS (
        |  SELECT DISTINCT source, substr(lower(
        |    regexp_replace(substr(text, 1, 200),
        |      '[^a-zA-Z0-9]+', ' ', 'g')), 1, 40) AS pfx
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |FROM n a JOIN n b ON a.pfx = b.pfx AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_winsorize" ->
      """WITH p AS (
        |  SELECT o_orderstatus, o_totalprice,
        |    round(quantile_cont(o_totalprice, 0.05)
        |      OVER (PARTITION BY o_orderstatus), 2) AS p05,
        |    round(quantile_cont(o_totalprice, 0.95)
        |      OVER (PARTITION BY o_orderstatus), 2) AS p95
        |  FROM orders),
        |c AS (SELECT o_orderstatus, p05, p95,
        |  least(greatest(o_totalprice, p05), p95) AS wz FROM p)
        |SELECT o_orderstatus, count(*) AS n,
        |  round(min(p05), 2) AS p05, round(min(p95), 2) AS p95,
        |  round(avg(wz), 4) AS winsor_mean,
        |  round(stddev_samp(wz), 4) AS winsor_std
        |FROM c GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_decay" ->
      """WITH m AS (
        |  SELECT o_custkey, o_totalprice,
        |    date_diff('day', CAST(o_orderdate AS DATE),
        |      max(CAST(o_orderdate AS DATE)) OVER ()) AS age
        |  FROM orders),
        |g AS (
        |  SELECT o_custkey,
        |    round(sum(o_totalprice * exp(-CAST(age AS DOUBLE) / 30.0)),
        |      2) AS decayed_value,
        |    count(*) AS n_orders
        |  FROM m GROUP BY 1)
        |SELECT o_custkey, decayed_value, n_orders
        |FROM g ORDER BY decayed_value DESC, o_custkey LIMIT 50""".stripMargin,
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id, max(CASE WHEN event_type = 'purchase'
        |    THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS n_b,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv END)
        |      AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv END)
        |      AS BIGINT) AS conv_b
        |  FROM u),
        |t AS (SELECT n_a, n_b, conv_a, conv_b,
        |  CAST(conv_a AS DOUBLE) / n_a AS pa,
        |  CAST(conv_b AS DOUBLE) / n_b AS pb,
        |  CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp FROM g)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        |  round((pa - pb) / sqrt(pp * (1.0 - pp)
        |    * (1.0 / n_a + 1.0 / n_b)), 6) AS z
        |FROM t""".stripMargin,
    "q_vocab_jaccard" ->
      """WITH tok AS (
        |  SELECT DISTINCT source, token FROM (
        |    SELECT source, unnest(regexp_split_to_array(trim(text),
        |      '\s+')) AS token
        |    FROM documents)),
        |sizes AS (SELECT source, count(*) AS v FROM tok GROUP BY 1),
        |i AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS inter
        |  FROM tok a JOIN tok b ON a.token = b.token
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, inter,
        |  round(CAST(inter AS DOUBLE) / (sa.v + sb.v - inter), 6)
        |    AS jaccard
        |FROM i
        |JOIN sizes sa ON sa.source = i.source_a
        |JOIN sizes sb ON sb.source = i.source_b
        |ORDER BY source_a, source_b""".stripMargin,
    "q_assortativity" ->
      // Pearson r assembled from exact integer moments (node grain:
      // Σ_edges f(da) = Σ_a da·f(da)) — the IDENTICAL expression tree
      // the Spark side computes, because corr as a black-box aggregate
      // would tie hash-exactness to two engines' co-moment update
      // orders. All sums are integer-exact; only the final scalar is
      // IEEE double.
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey <> b.l_partkey),
        |deg AS (SELECT pa, count(*) AS deg FROM e GROUP BY 1),
        |agg_a AS (
        |  SELECT e.pa, count(*) AS da,
        |    sum(db.deg) AS s1, sum(db.deg * db.deg) AS s2
        |  FROM e JOIN deg db ON db.pa = e.pb
        |  GROUP BY e.pa),
        |mo AS (
        |  SELECT count(*) AS n_nodes, sum(da) AS m,
        |    sum(da * da) AS sx, sum(da * da * da) AS sxx,
        |    sum(s1) AS sy, sum(s2) AS syy, sum(da * s1) AS sxy
        |  FROM agg_a)
        |SELECT n_nodes, CAST(m AS BIGINT) // 2 AS n_edges,
        |  round((m * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(m * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(m * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |    AS assortativity
        |FROM mo""".stripMargin,
    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type, count(*) AS n_days,
        |    CAST(sum(n) AS BIGINT) AS sn,
        |    var_samp(CAST(n AS DOUBLE)) AS v
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, sn AS n_events,
        |  round(CAST(sn AS DOUBLE) / n_days, 4) AS mean_daily,
        |  round(v / (CAST(sn AS DOUBLE) / n_days), 4) AS dispersion,
        |  round((sqrt(v) - CAST(sn AS DOUBLE) / n_days)
        |    / (sqrt(v) + CAST(sn AS DOUBLE) / n_days), 6) AS burstiness
        |FROM g ORDER BY event_type""".stripMargin,
    "q_gap_stats" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id)) AS gap
        |  FROM events)
        |SELECT event_type, count(gap) AS n_gaps,
        |  round(quantile_cont(gap, 0.5) / 1000000.0, 3)
        |    AS median_gap_s,
        |  round(quantile_cont(gap, 0.9) / 1000000.0, 3) AS p90_gap_s
        |FROM g GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_tpch_q1" ->
      """WITH m AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS d,
        |    CAST(round(l_tax * 100, 0) AS BIGINT) AS t
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(sum(qty) AS BIGINT) AS sum_qty,
        |  round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2)
        |    AS sum_base_price,
        |  round(CAST(sum(price_c * (100 - d)) AS DOUBLE) / 10000.0, 2)
        |    AS sum_disc_price,
        |  round(CAST(sum(price_c * (100 - d) * (100 + t)) AS DOUBLE)
        |    / 1000000.0, 2) AS sum_charge,
        |  round(CAST(sum(qty) AS DOUBLE) / count(*), 4) AS avg_qty,
        |  round(CAST(sum(price_c) AS DOUBLE) / count(*) / 100.0, 4)
        |    AS avg_price,
        |  round(CAST(sum(d) AS DOUBLE) / count(*) / 100.0, 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_tpch_q5" ->
      """SELECT n_name,
        |  round(CAST(sum(
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |    * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |    AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem
        |JOIN supplier s ON l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'ASIA'
        |JOIN orders o ON l_orderkey = o.o_orderkey
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |  AND c.c_nationkey = s.s_nationkey
        |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin,
    "q_tpch_q10" ->
      """WITH rev AS (
        |  SELECT o.o_custkey,
        |    CAST(sum(
        |      CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |      * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |      AS BIGINT) AS rev_4
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE l.l_returnflag = 'R'
        |    AND o.o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
        |    AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
        |  GROUP BY 1)
        |SELECT c.c_custkey, c.c_name,
        |  round(CAST(rev_4 AS DOUBLE) / 10000.0, 2) AS revenue,
        |  round(c_acctbal, 2) AS c_acctbal,
        |  n.n_name, c.c_mktsegment
        |FROM rev
        |JOIN customer c ON rev.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,
    "q_mutual_info" ->
      """WITH cells AS (
        |  SELECT c.c_mktsegment AS segment,
        |    o.o_orderpriority AS priority, count(*) AS n_xy
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT segment, priority, n_xy,
        |    CAST(sum(n_xy) OVER (PARTITION BY segment) AS BIGINT) AS n_x,
        |    CAST(sum(n_xy) OVER (PARTITION BY priority) AS BIGINT) AS n_y,
        |    CAST(sum(n_xy) OVER () AS BIGINT) AS n
        |  FROM cells),
        |p AS (
        |  SELECT segment, priority, n_xy, n,
        |    ln(CAST(n_xy AS DOUBLE) * n
        |      / (CAST(n_x AS DOUBLE) * n_y)) AS pmi
        |  FROM m)
        |SELECT segment, priority, n_xy, round(pmi, 6) AS pmi,
        |  round(sum(CAST(n_xy AS DOUBLE) / n * pmi) OVER (), 6)
        |    AS mi_nats
        |FROM p ORDER BY segment, priority""".stripMargin,
    "q_dedup_containment" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS contained, b.doc_id AS container,
        |    count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT contained, container,
        |  round(n_both / ca.n, 6) AS containment
        |FROM inter JOIN cnt ca ON ca.doc_id = contained
        |WHERE round(n_both / ca.n, 6) >= 0.9
        |ORDER BY contained, container""".stripMargin,
    // production config: identical pipeline with the maxDf stop-gram
    // cap applied to sets AND index before scoring (see
    // TrainingQueries.ContainmentMaxDf)
    "q_dedup_containment_prod" ->
      s"""WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |  FROM documents),
        |sh0 AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM tok),
        |keep AS (
        |  SELECT shingle FROM (
        |    SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1)
        |  WHERE df <= ${graft.queries.TrainingQueries.ContainmentMaxDf}),
        |sh AS (
        |  SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS contained, b.doc_id AS container,
        |    count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT contained, container,
        |  round(n_both / ca.n, 6) AS containment
        |FROM inter JOIN cnt ca ON ca.doc_id = contained
        |WHERE round(n_both / ca.n, 6) >= 0.9
        |ORDER BY contained, container""".stripMargin,
    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 300)
        |SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
        |  round(o.o_totalprice, 2) AS o_totalprice, big.sum_qty
        |FROM big
        |JOIN orders o ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    // transitive closure via recursive CTE — tractable because the
    // blocked pair graph is small; the Spark side scales via
    // iterative min-label propagation instead
    "q_entity_clusters" ->
      """WITH RECURSIVE
        |n AS (
        |  SELECT DISTINCT p_name AS name FROM part
        |  WHERE p_name IS NOT NULL),
        |b AS (SELECT name, string_split(name, ' ')[-1] AS blk FROM n),
        |pairs AS (
        |  SELECT a.name AS na, c.name AS nb
        |  FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
        |  WHERE levenshtein(a.name, c.name) <= 3),
        |edges AS (
        |  SELECT na AS a, nb AS b FROM pairs
        |  UNION SELECT nb, na FROM pairs),
        |nodes AS (SELECT DISTINCT a AS v FROM edges),
        |reach AS (
        |  SELECT v AS src, v AS dst FROM nodes
        |  UNION
        |  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a),
        |comp AS (SELECT src, min(dst) AS rep FROM reach GROUP BY 1)
        |SELECT rep AS entity, count(*) AS n_variants
        |FROM comp GROUP BY 1 ORDER BY entity""".stripMargin,
    "q_rolling_distinct" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1),
        |c AS (
        |  SELECT day + CAST(o AS INTEGER) AS day, user_id
        |  FROM du, range(0, 7) t(o)),
        |wau AS (
        |  SELECT day, count(DISTINCT user_id) AS wau FROM c GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY d.day""".stripMargin,
    // exact tie-corrected Mann-Whitney AUC on the 3dp-quantized score;
    // hugeint sums cast back to BIGINT for schema parity
    "q_auc" ->
      """WITH scored AS (
        |  SELECT round(CAST(embedding[1] AS DOUBLE), 3) AS score,
        |    CASE WHEN label % 2 = 1 THEN 1 ELSE 0 END AS pos
        |  FROM embeddings),
        |bins AS (
        |  SELECT score, sum(pos) AS pos_g, count(*) - sum(pos) AS neg_g
        |  FROM scored GROUP BY 1),
        |cum AS (
        |  SELECT pos_g, neg_g, coalesce(sum(neg_g) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS neg_below
        |  FROM bins)
        |SELECT round(sum(pos_g * (neg_below + neg_g / 2.0)) /
        |    (sum(pos_g) * sum(neg_g)), 6) AS auc,
        |  CAST(sum(pos_g) AS BIGINT) AS n_pos,
        |  CAST(sum(neg_g) AS BIGINT) AS n_neg
        |FROM cum""".stripMargin,
    "q_ndcg" ->
      """WITH docs AS (
        |  SELECT source, doc_id, n_chars,
        |    least(3, CAST((length(text)
        |      - length(replace(text, 'spark', ''))) / 5 AS INTEGER)) AS rel
        |  FROM documents),
        |ranked AS (
        |  SELECT source, rel, row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS pos
        |  FROM docs),
        |dcg AS (
        |  SELECT source, sum((pow(2.0, rel) - 1) / log2(pos + 1)) AS dcg
        |  FROM ranked WHERE pos <= 10 GROUP BY 1),
        |ideal AS (
        |  SELECT source, rel, row_number() OVER (PARTITION BY source
        |    ORDER BY rel DESC, doc_id) AS ipos
        |  FROM docs),
        |idcg AS (
        |  SELECT source, sum((pow(2.0, rel) - 1) / log2(ipos + 1)) AS idcg
        |  FROM ideal WHERE ipos <= 10 GROUP BY 1)
        |SELECT d.source, round(d.dcg / i.idcg, 6) AS ndcg10
        |FROM dcg d JOIN idcg i USING (source)
        |WHERE i.idcg > 0 ORDER BY source""".stripMargin,
    "q_calibration" ->
      """WITH u AS (
        |  SELECT user_id, round(avg(value), 2) AS spend,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        |  FROM events GROUP BY 1),
        |p AS (SELECT least(1.0, spend / 100) AS p, y FROM u)
        |SELECT CAST(least(9, floor(p * 10)) AS INTEGER) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  round(avg(p), 6) AS avg_p,
        |  round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate,
        |  round(avg((p - y) * (p - y)), 6) AS brier
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_ks_test" ->
      """WITH docs AS (
        |  SELECT n_chars, source FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |bins AS (
        |  SELECT n_chars,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS c_a,
        |    sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS c_b
        |  FROM docs GROUP BY 1),
        |cum AS (
        |  SELECT
        |    sum(c_a) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
        |    sum(c_b) OVER (ORDER BY n_chars
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
        |    sum(c_a) OVER () AS n_a, sum(c_b) OVER () AS n_b
        |  FROM bins)
        |SELECT
        |  round(max(abs(CAST(cum_a AS DOUBLE) / n_a
        |    - CAST(cum_b AS DOUBLE) / n_b)), 6) AS d_stat,
        |  round(1.358 * sqrt((max(n_a) + max(n_b))
        |    / CAST(max(n_a) * max(n_b) AS DOUBLE)), 6) AS crit_05,
        |  CAST(max(n_a) AS BIGINT) AS n_a,
        |  CAST(max(n_b) AS BIGINT) AS n_b
        |FROM cum""".stripMargin,
    // ln-clamp mirrors the Spark side: a terminal d==n group must give
    // S -> 0, not an ln(0) error
    "q_survival" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value
        |  FROM events),
        |u AS (
        |  SELECT date_diff('day', min(day),
        |      coalesce(min(CASE WHEN event_type = 'purchase'
        |        AND value > 95 THEN day END), max(day))) AS t,
        |    CASE WHEN min(CASE WHEN event_type = 'purchase'
        |        AND value > 95 THEN day END) IS NULL
        |      THEN 1 ELSE 0 END AS censored
        |  FROM ev GROUP BY user_id),
        |byt AS (
        |  SELECT t, count(*) AS n_t, sum(1 - censored) AS d_t
        |  FROM u GROUP BY 1),
        |r AS (
        |  SELECT t, n_t, d_t,
        |    sum(n_t) OVER () - coalesce(sum(n_t) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_risk
        |  FROM byt),
        |f AS (
        |  SELECT t, n_risk, d_t,
        |    exp(sum(ln(greatest(1.0 - CAST(d_t AS DOUBLE) / n_risk,
        |      1e-300))) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS surv
        |  FROM r WHERE d_t > 0)
        |SELECT CAST(t AS BIGINT) AS t_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  CAST(d_t AS BIGINT) AS d_events, round(surv, 6) AS survival
        |FROM f ORDER BY 1""".stripMargin,
    "q_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  round(avg(abs(a.rev - f.rev) / a.rev), 6) AS mape,
        |  round(avg(2.0 * abs(a.rev - f.rev)
        |    / (abs(a.rev) + abs(f.rev))), 6) AS smape,
        |  round(avg(f.rev - a.rev), 6) AS mean_bias
        |FROM daily a JOIN daily f
        |  ON a.event_type = f.event_type AND a.day = f.day + 7
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_did" ->
      """WITH ev AS (
        |  SELECT value, user_id % 2 = 1 AS treat,
        |    CAST(ts AS DATE) >= DATE '2024-01-16' AS post
        |  FROM events)
        |SELECT
        |  round(avg(CASE WHEN treat AND NOT post THEN value END), 6)
        |    AS treat_pre,
        |  round(avg(CASE WHEN treat AND post THEN value END), 6)
        |    AS treat_post,
        |  round(avg(CASE WHEN NOT treat AND NOT post THEN value END), 6)
        |    AS ctrl_pre,
        |  round(avg(CASE WHEN NOT treat AND post THEN value END), 6)
        |    AS ctrl_post,
        |  round((avg(CASE WHEN treat AND post THEN value END)
        |      - avg(CASE WHEN treat AND NOT post THEN value END))
        |    - (avg(CASE WHEN NOT treat AND post THEN value END)
        |      - avg(CASE WHEN NOT treat AND NOT post THEN value END)), 6)
        |    AS did
        |FROM ev""".stripMargin,
    "q_seq_mining" ->
      """WITH steps AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS idx
        |  FROM events QUALIFY idx <= 10)
        |SELECT concat(a.event_type, '>', b.event_type, '>',
        |    c.event_type) AS pattern,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS support
        |FROM steps a
        |JOIN steps b ON a.user_id = b.user_id AND a.idx < b.idx
        |JOIN steps c ON b.user_id = c.user_id AND b.idx < c.idx
        |GROUP BY 1 ORDER BY support DESC, pattern LIMIT 20""".stripMargin,
    "q_concurrency" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800
        |    THEN 1 ELSE 0 END AS is_break
        |  FROM g),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(is_break) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM b),
        |sb AS (
        |  SELECT min(CAST(ts AS DATE)) AS day,
        |    CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS end_s
        |  FROM sess GROUP BY user_id, session_id),
        |bounds AS (
        |  SELECT day, start_s AS t, 1 AS delta FROM sb
        |  UNION ALL SELECT day, end_s AS t, -1 AS delta FROM sb),
        |sweep AS (
        |  SELECT day, delta,
        |    sum(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM bounds)
        |SELECT day,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_sessions,
        |  CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM sweep GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS rev
        |  FROM events GROUP BY 1, 2),
        |sp AS (
        |  SELECT a.event_type,
        |    sum(CASE WHEN b.rev > a.rev THEN 1
        |      WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |tg AS (
        |  SELECT event_type, rev, count(*) AS t FROM daily GROUP BY 1, 2),
        |ties AS (
        |  SELECT event_type, sum(t) AS n,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tt
        |  FROM tg GROUP BY 1)
        |SELECT s.event_type, CAST(t.n AS BIGINT) AS n_days,
        |  CAST(s.s_stat AS BIGINT) AS s_stat,
        |  round(CAST(s.s_stat AS DOUBLE) / (t.n * (t.n - 1) / 2), 6)
        |    AS tau,
        |  round(CASE
        |    WHEN s.s_stat > 0 THEN (s.s_stat - 1)
        |      / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tt) / 18.0)
        |    WHEN s.s_stat < 0 THEN (s.s_stat + 1)
        |      / sqrt((t.n * (t.n - 1) * (2 * t.n + 5) - t.tt) / 18.0)
        |    ELSE 0.0 END, 6) AS z
        |FROM sp s JOIN ties t USING (event_type) ORDER BY 1""".stripMargin,
    "q_degree_dist" ->
      """WITH deg AS (
        |  SELECT l_partkey, count(DISTINCT l_orderkey) AS k
        |  FROM lineitem GROUP BY 1),
        |dist AS (SELECT k, count(*) AS n_parts FROM deg GROUP BY 1),
        |sl AS (
        |  SELECT regr_slope(ln(CAST(n_parts AS DOUBLE)),
        |    ln(CAST(k AS DOUBLE))) AS slope
        |  FROM dist)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n_parts AS BIGINT) AS n_parts,
        |  round(sl.slope, 6) AS slope
        |FROM dist CROSS JOIN sl ORDER BY k""".stripMargin,
    "q_xcorr" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |      AS clicks,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS purchases
        |  FROM events GROUP BY 1),
        |l AS (SELECT CAST(o AS INTEGER) AS lag FROM range(-3, 4) t(o))
        |SELECT l.lag, CAST(count(*) AS BIGINT) AS n_days,
        |  round(corr(CAST(x.clicks AS DOUBLE),
        |    CAST(y.purchases AS DOUBLE)), 6) AS xcorr
        |FROM daily x CROSS JOIN l
        |JOIN daily y ON y.day = x.day + l.lag
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // deadline mirrors Spark's `cast(ts as long)` WHOLE-SECOND
    // truncation (event timestamps carry microseconds)
    "q_funnel_windowed" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s1d AS (
        |  SELECT user_id, t1,
        |    make_timestamp((CAST(floor(epoch(t1)) AS BIGINT) + 259200)
        |      * 1000000) AS deadline
        |  FROM s1),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2, min(s.deadline) AS deadline
        |  FROM events e JOIN s1d s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.t1
        |    AND e.ts <= s.deadline
        |  GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |    AND e.ts <= s2.deadline
        |  GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
        |  UNION ALL SELECT '2_click_72h', count(*) FROM s2
        |  UNION ALL SELECT '3_purchase_72h', count(*) FROM s3)
        |ORDER BY stage""".stripMargin,
    "q_hist2d" ->
      """SELECT CAST(hour(ts) AS BIGINT) AS hour,
        |  least(CAST(floor(value / CAST(50.0 AS DOUBLE)) AS BIGINT), 9)
        |    AS vband,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |    AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, vband""".stripMargin,
    "q_stl" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (
        |  SELECT day, cents,
        |    CAST(sum(cents) OVER w7 AS BIGINT) AS t7,
        |    count(*) OVER w7 AS c7,
        |    dayofweek(day) AS dow
        |  FROM daily WINDOW w7 AS (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT * FROM t WHERE c7 = 7),
        |sn AS (
        |  SELECT dow, CAST(sum(7 * cents - t7) AS BIGINT) AS num,
        |    count(*) AS nd
        |  FROM f GROUP BY 1)
        |SELECT f.day,
        |  round(CAST(cents AS DOUBLE) / 100.0, 2) AS revenue,
        |  round(CAST(t7 AS DOUBLE) / 700.0, 2) AS trend,
        |  round(CAST(num AS DOUBLE) / (7.0 * nd) / 100.0, 2) AS seasonal,
        |  round(CAST(cents AS DOUBLE) / 100.0
        |    - CAST(t7 AS DOUBLE) / 700.0
        |    - CAST(num AS DOUBLE) / (nd * 700.0), 2) AS residual
        |FROM f JOIN sn ON f.dow = sn.dow ORDER BY day""".stripMargin,
    "q_event_paths" ->
      """WITH g AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0
        |    END AS is_break
        |  FROM g),
        |sess AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    CAST(sum(is_break) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS session_id
        |  FROM b),
        |p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM sess GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p
        |GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin,
    // credit arithmetic is CAST(... AS DOUBLE) throughout: DuckDB
    // parses bare 0.2 as DECIMAL, and decimal division would diverge
    // from Spark's double credit at the 4dp rounding
    "q_attribution_ushape" ->
      """WITH t AS (
        |  SELECT user_id, ts AS t_ts, event_id AS t_id,
        |    event_type AS touch
        |  FROM events WHERE event_type IN ('click', 'view')),
        |p AS (
        |  SELECT user_id, ts AS p_ts, event_id AS p_id, value
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, p.value, t.touch, t.t_ts, t.t_id,
        |    count(*) OVER (PARTITION BY p.p_id) AS n,
        |    row_number() OVER (PARTITION BY p.p_id
        |      ORDER BY t.t_ts, t.t_id) AS rnk
        |  FROM p JOIN t ON p.user_id = t.user_id AND t.t_ts < p.p_ts),
        |c AS (
        |  SELECT touch, value,
        |    CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |      WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |      WHEN rnk = 1 OR rnk = n THEN CAST(0.4 AS DOUBLE)
        |      ELSE CAST(0.2 AS DOUBLE) / (n - 2) END AS credit
        |  FROM j)
        |SELECT touch, round(sum(credit), 4) AS credited_purchases,
        |  round(sum(credit * value), 2) AS credited_revenue
        |FROM c GROUP BY 1 ORDER BY touch""".stripMargin,
    "q_quantile_norm" ->
      """SELECT doc_id, source, n_chars,
        |  round(percent_rank() OVER (PARTITION BY source
        |    ORDER BY n_chars, doc_id), 6) AS pct,
        |  least(CAST(floor(round(percent_rank() OVER (
        |    PARTITION BY source ORDER BY n_chars, doc_id), 6) * 10)
        |    AS BIGINT), 9) AS decile
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_consistent_sample" ->
      """SELECT lang, doc_id, h FROM (
        |  SELECT lang, doc_id,
        |    CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 AS BIGINT) AS h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY (CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 5 ORDER BY lang, h, doc_id""".stripMargin,
    "q_kfold" ->
      """SELECT fold, count(*) AS n_docs,
        |  round(avg(n_chars), 2) AS avg_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (
        |  SELECT doc_id, n_chars,
        |    CAST((CAST(doc_id AS HUGEINT) * 2654435761) % 4294967296 % 5 AS BIGINT)
        |      AS fold
        |  FROM documents)
        |GROUP BY 1 ORDER BY fold""".stripMargin,
    // MATERIALIZED barriers (r11, same rationale as q_basket): the
    // flat two-pp-join form is one optimizer mood away from the
    // pp × pp cross-product build side that hung q_basket at sf1.
    // Sequential single-key joins behind barriers are
    // order-deterministic; verified value-identical tri-SF, 17 s at
    // sf1 (600k output rows).
    // The bucketed form is the SAME function of the data (only the
    // physical join strategy differs), so it shares q_item_sim's
    // oracle verbatim — one relational truth, two physical plans, both
    // hash-gated.
    "q_item_sim_bucketed" -> itemSimOracle,
    // same relational truth again, third physical plan: the persisted-
    // bucketed-layout form (zero-exchange count probes)
    "q_item_sim_bucketed_persisted" -> itemSimOracle,
    "q_item_sim" -> itemSimOracle,
    "q_communities" ->
      // the 4 deterministic LPA rounds unrolled as CTEs: each round
      // re-derives every node's argmax-weight neighbor label (ties to
      // the smallest label) from the previous round's labeling
      """WITH tok AS (
        |  SELECT list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '') AS w
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS sh
        |  FROM tok WHERE len(w) >= 2),
        |cnt AS (
        |  SELECT split_part(sh, ' ', 1) AS src,
        |    split_part(sh, ' ', 2) AS dst, count(*) AS w
        |  FROM bg GROUP BY 1, 2),
        |e AS (
        |  SELECT src, dst, sum(w) AS w FROM (
        |    SELECT src, dst, w FROM cnt
        |    UNION ALL
        |    SELECT dst, src, w FROM cnt) u
        |  GROUP BY 1, 2),
        |r0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
        |r1 AS (
        |  SELECT r.id, coalesce(p.label, r.label) AS label
        |  FROM r0 r LEFT JOIN (
        |    SELECT id, label FROM (
        |      SELECT e.dst AS id, l.label AS label,
        |        row_number() OVER (PARTITION BY e.dst
        |          ORDER BY sum(e.w) DESC, l.label ASC) AS rn
        |      FROM e JOIN r0 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) f WHERE rn = 1) p
        |    ON r.id = p.id),
        |r2 AS (
        |  SELECT r.id, coalesce(p.label, r.label) AS label
        |  FROM r1 r LEFT JOIN (
        |    SELECT id, label FROM (
        |      SELECT e.dst AS id, l.label AS label,
        |        row_number() OVER (PARTITION BY e.dst
        |          ORDER BY sum(e.w) DESC, l.label ASC) AS rn
        |      FROM e JOIN r1 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) f WHERE rn = 1) p
        |    ON r.id = p.id),
        |r3 AS (
        |  SELECT r.id, coalesce(p.label, r.label) AS label
        |  FROM r2 r LEFT JOIN (
        |    SELECT id, label FROM (
        |      SELECT e.dst AS id, l.label AS label,
        |        row_number() OVER (PARTITION BY e.dst
        |          ORDER BY sum(e.w) DESC, l.label ASC) AS rn
        |      FROM e JOIN r2 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) f WHERE rn = 1) p
        |    ON r.id = p.id),
        |r4 AS (
        |  SELECT r.id, coalesce(p.label, r.label) AS label
        |  FROM r3 r LEFT JOIN (
        |    SELECT id, label FROM (
        |      SELECT e.dst AS id, l.label AS label,
        |        row_number() OVER (PARTITION BY e.dst
        |          ORDER BY sum(e.w) DESC, l.label ASC) AS rn
        |      FROM e JOIN r3 l ON e.src = l.id
        |      GROUP BY e.dst, l.label) f WHERE rn = 1) p
        |    ON r.id = p.id)
        |SELECT label AS community, CAST(count(*) AS BIGINT) AS n_tokens,
        |  min(id) AS sample_token
        |FROM r4 GROUP BY 1
        |ORDER BY n_tokens DESC, community LIMIT 20""".stripMargin,
    "q_hop_dist" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |e AS (
        |  SELECT DISTINCT a.pk AS src, b.pk AS dst
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk),
        |seeds AS (
        |  SELECT p_partkey AS node FROM part WHERE p_partkey <= 10),
        |nodes AS (SELECT DISTINCT src AS node FROM e),
        |walk(node, dist) AS (
        |  SELECT s.node, 0 FROM seeds s JOIN nodes n ON s.node = n.node
        |  UNION
        |  SELECT e.dst, w.dist + 1
        |  FROM walk w JOIN e ON e.src = w.node
        |  WHERE w.dist < 4)
        |SELECT node AS part, CAST(min(dist) AS BIGINT) AS hops
        |FROM walk GROUP BY 1 ORDER BY part""".stripMargin,
    "q_target_encode" ->
      """WITH li AS (
        |  SELECT o.o_orderpriority AS cat,
        |    CAST(l_returnflag = 'R' AS BIGINT) AS y,
        |    CAST(CAST(l_orderkey * 8 + l_linenumber AS HUGEINT) * 2654435761
        |      % 4294967296 % 5 AS BIGINT) AS fold
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |pf AS (
        |  SELECT cat, fold, count(*) AS n_cf, sum(y) AS sum_cf
        |  FROM li GROUP BY 1, 2),
        |pc AS (
        |  SELECT cat, count(*) AS n_c, sum(y) AS sum_c
        |  FROM li GROUP BY 1),
        |pr AS (SELECT sum(y) / CAST(count(*) AS DOUBLE) AS prior FROM li)
        |SELECT pf.cat, pf.fold,
        |  CAST(pc.n_c - pf.n_cf AS BIGINT) AS n_oof,
        |  round((CAST(pc.sum_c - pf.sum_cf AS DOUBLE) + 20.0 * pr.prior)
        |    / (CAST(pc.n_c - pf.n_cf AS DOUBLE) + 20.0), 6) AS enc
        |FROM pf JOIN pc ON pf.cat = pc.cat CROSS JOIN pr
        |ORDER BY pf.cat, fold""".stripMargin,
    "q_woe_bins" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_returnflag = 'R' AS BIGINT) AS bad
        |  FROM lineitem),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM li),
        |binned AS (
        |  SELECT least(9, ((cents - lo) * 10) // (hi - lo + 1)) AS bin,
        |    count(*) AS n, sum(bad) AS n_bad
        |  FROM li CROSS JOIN bounds GROUP BY 1),
        |tot AS (
        |  SELECT sum(n - n_bad) AS tot_good, sum(n_bad) AS tot_bad
        |  FROM binned)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n AS BIGINT) AS n,
        |  CAST(n_bad AS BIGINT) AS n_bad,
        |  round(ln(((n - n_bad + 0.5) / tot_good)
        |    / ((n_bad + 0.5) / tot_bad)), 6) AS woe
        |FROM binned CROSS JOIN tot ORDER BY bin""".stripMargin,
    "q_feature_hash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket,
        |  count(*) AS n
        |FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "q_cuped" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    coalesce(sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
        |      THEN value END), 0.0) AS x,
        |    coalesce(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
        |      THEN value END), 0.0) AS y,
        |    user_id % 2 = 1 AS treat
        |  FROM events GROUP BY user_id)
        |SELECT
        |  round(covar_pop(x, y) / var_pop(x), 6) AS theta,
        |  round(avg(CASE WHEN treat THEN y END)
        |    - avg(CASE WHEN NOT treat THEN y END), 6) AS diff_raw,
        |  round((avg(CASE WHEN treat THEN y END)
        |      - covar_pop(x, y) / var_pop(x)
        |        * avg(CASE WHEN treat THEN x END))
        |    - (avg(CASE WHEN NOT treat THEN y END)
        |      - covar_pop(x, y) / var_pop(x)
        |        * avg(CASE WHEN NOT treat THEN x END)), 6) AS diff_cuped,
        |  round(corr(x, y) * corr(x, y), 6) AS var_reduction
        |FROM pu""".stripMargin,
    "q_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |c AS (
        |  SELECT CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END)
        |      AS BIGINT) AS n_a,
        |    CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END)
        |      AS BIGINT) AS n_b
        |  FROM u)
        |SELECT n_a, n_b,
        |  round((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
        |      / ((n_a + n_b) / 2.0)
        |    + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
        |      / ((n_a + n_b) / 2.0), 6) AS chi2
        |FROM c""".stripMargin,
    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2),
        |dd AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE)
        |      AS t, v
        |  FROM daily),
        |pairs AS (
        |  SELECT a.event_type, (b.v - a.v) / (b.t - a.t) AS slope
        |  FROM dd a JOIN dd b
        |    ON a.event_type = b.event_type AND a.t < b.t)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |  round(quantile_cont(slope, 0.5), 6) AS sen_slope
        |FROM pairs GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_stump" ->
      """WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(l_returnflag = 'R' AS BIGINT) AS pos
        |  FROM lineitem),
        |bounds AS (SELECT min(cents) AS lo, max(cents) AS hi FROM li),
        |bins AS (
        |  SELECT least(99, ((cents - lo) * 100) // (hi - lo + 1)) AS bin,
        |    count(*) AS n, sum(pos) AS p
        |  FROM li CROSS JOIN bounds GROUP BY 1),
        |tot AS (SELECT sum(n) AS nt, sum(p) AS pt FROM bins),
        |cum AS (
        |  SELECT bin,
        |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS nl,
        |    sum(p) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS pl
        |  FROM bins),
        |sp AS (
        |  SELECT bin, nl, nt - nl AS nr,
        |    CAST(pl AS DOUBLE) / nl AS fl,
        |    CAST(pt - pl AS DOUBLE) / (nt - nl) AS fr, nt
        |  FROM cum CROSS JOIN tot WHERE nl < nt),
        |g AS (
        |  SELECT bin, nl, nr,
        |    round((nl / CAST(nt AS DOUBLE)) * (2.0 * fl * (1.0 - fl))
        |      + (nr / CAST(nt AS DOUBLE)) * (2.0 * fr * (1.0 - fr)), 6)
        |      AS gini
        |  FROM sp)
        |SELECT bin AS split_bin, CAST(nl AS BIGINT) AS nl,
        |  CAST(nr AS BIGINT) AS nr, gini
        |FROM g ORDER BY gini, split_bin LIMIT 1""".stripMargin,
    "q_kl_sources" ->
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents),
        |bs AS (SELECT source, tok, count(*) AS c_st FROM tk GROUP BY 1, 2),
        |st AS (SELECT source, count(*) AS tot_s FROM tk GROUP BY 1),
        |bt AS (SELECT tok, count(*) AS c_t FROM tk GROUP BY 1),
        |t AS (SELECT count(*) AS tot FROM tk)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(sum((CAST(c_st AS DOUBLE) / tot_s)
        |    * ln((CAST(c_st AS DOUBLE) / tot_s)
        |      / (CAST(c_t AS DOUBLE) / tot))), 6) AS kl
        |FROM bs JOIN bt USING (tok) JOIN st USING (source) CROSS JOIN t
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Mirrors TextAnalysis.languageId exactly: score = count of the
    // lang profile's DISTINCT words present among the doc's tokens
    // (array_intersect semantics), argmax per doc with ties to the
    // lexicographically smallest code (row_number ORDER score DESC,
    // lang ASC), zero-score docs included via the doc x lang grid.
    "q_lang_id" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(
        |    regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |prof(lang, word) AS (VALUES
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('en','is'),('en','that'),('en','it'),('en','for'),('en','was'),
        |  ('es','de'),('es','la'),('es','que'),('es','el'),('es','en'),
        |  ('es','los'),('es','del'),('es','las'),('es','por'),('es','un'),
        |  ('fr','de'),('fr','la'),('fr','le'),('fr','et'),('fr','les'),
        |  ('fr','des'),('fr','en'),('fr','du'),('fr','que'),('fr','une'),
        |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','von'),
        |  ('de','den'),('de','des'),('de','im'),('de','ein'),('de','mit'),
        |  ('zh','的'),('zh','了'),('zh','是'),('zh','在'),('zh','我'),
        |  ('zh','有'),('zh','和'),('zh','就'),('zh','不'),('zh','人')),
        |hit AS (
        |  SELECT t.doc_id, p.lang, count(DISTINCT p.word) AS score
        |  FROM tk t JOIN prof p ON t.tok = p.word GROUP BY 1, 2),
        |grid AS (
        |  SELECT d.doc_id, l.lang, coalesce(h.score, 0) AS score
        |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
        |  LEFT JOIN hit h ON h.doc_id = d.doc_id AND h.lang = l.lang),
        |pred AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang ASC) AS rn
        |  FROM grid),
        |lp AS (
        |  SELECT lang AS lang_pred FROM pred WHERE rn = 1
        |  UNION ALL
        |  -- NULL text propagates: scores are NULL, no lang matches the
        |  -- NULL max, so the Spark side predicts NULL — mirror it
        |  SELECT NULL FROM documents WHERE text IS NULL)
        |SELECT lang_pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM lp GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,
    // The END-TO-END curation pipeline, exactly: each stage below is
    // the already-oracled fragment of its standalone query (quality =
    // q_text_quality's score, lang-ID = q_lang_id, exact dedup =
    // q_dedup_exact, near-dup drop = q_dedup_ngram's pairs, chunking =
    // q_chunks at 32/24, split = q_train_test_split's Knuth bucket),
    // composed in TrainingPipeline.curate's staging order: score →
    // filter ≥ 0.2 → exact dedup (min doc_id per fingerprint) →
    // drop doc_b of each ≥ 0.8 pair among survivors → chunk → split.
    "q_curate" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens,
        |    round(length(regexp_replace(trim(text), '\s+', '', 'g')) /
        |      nullif(CAST(len(regexp_split_to_array(trim(text), '\s+'))
        |        AS DOUBLE), 0.0), 6) AS mean_token_len,
        |    round(len(regexp_extract_all(text, '[^\w\s]')) /
        |      nullif(CAST(length(text) AS DOUBLE), 0.0), 6) AS punct_ratio
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, text, round(greatest(
        |      least(CAST(n_tokens AS DOUBLE) / 64.0, 1.0)
        |      * (1.0 - least(punct_ratio * 5.0, 1.0))
        |      * (1.0 - (CASE WHEN mean_token_len IS NULL THEN 1.0
        |          WHEN mean_token_len < 2.0 OR mean_token_len > 12.0
        |            THEN 0.5 ELSE 0.0 END) * 0.5),
        |      0.0), 6) AS quality_score
        |  FROM m),
        |kept AS (
        |  SELECT doc_id, text, quality_score FROM q
        |  WHERE quality_score >= 0.2),
        |ltk AS (
        |  SELECT doc_id, unnest(
        |    regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        |  FROM kept),
        |prof(lang, word) AS (VALUES
        |  ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),
        |  ('en','is'),('en','that'),('en','it'),('en','for'),('en','was'),
        |  ('es','de'),('es','la'),('es','que'),('es','el'),('es','en'),
        |  ('es','los'),('es','del'),('es','las'),('es','por'),('es','un'),
        |  ('fr','de'),('fr','la'),('fr','le'),('fr','et'),('fr','les'),
        |  ('fr','des'),('fr','en'),('fr','du'),('fr','que'),('fr','une'),
        |  ('de','der'),('de','die'),('de','und'),('de','das'),('de','von'),
        |  ('de','den'),('de','des'),('de','im'),('de','ein'),('de','mit'),
        |  ('zh','的'),('zh','了'),('zh','是'),('zh','在'),('zh','我'),
        |  ('zh','有'),('zh','和'),('zh','就'),('zh','不'),('zh','人')),
        |hit AS (
        |  SELECT t.doc_id, p.lang, count(DISTINCT p.word) AS score
        |  FROM ltk t JOIN prof p ON t.tok = p.word GROUP BY 1, 2),
        |lp AS (
        |  SELECT k.doc_id, l.lang, coalesce(h.score, 0) AS score
        |  FROM (SELECT doc_id FROM kept) k
        |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
        |  LEFT JOIN hit h ON h.doc_id = k.doc_id AND h.lang = l.lang),
        |lang1 AS (
        |  SELECT doc_id, lang AS lang_pred FROM (
        |    SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, lang ASC) AS rn FROM lp)
        |  WHERE rn = 1),
        |ex AS (
        |  SELECT doc_id, text, quality_score FROM (
        |    SELECT doc_id, text, quality_score, row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)),
        |        '\s+', ' ', 'g'))
        |      ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |     for i in range(1, len(w) - 1)])) AS shingle
        |  FROM (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM ex)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_both
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |drop_ids AS (
        |  SELECT DISTINCT doc_b AS doc_id
        |  FROM pairs
        |  JOIN cnt ca ON ca.doc_id = doc_a
        |  JOIN cnt cb ON cb.doc_id = doc_b
        |  WHERE round(n_both / (ca.n + cb.n - n_both), 6) >= 0.8),
        |uniq AS (
        |  SELECT * FROM ex
        |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)),
        |nc AS (
        |  SELECT doc_id, quality_score, w,
        |    CASE WHEN len(w) <= 32 THEN 1
        |      ELSE (len(w) - 32 + 23) // 24 + 1 END AS n_chunks
        |  FROM (SELECT doc_id, quality_score,
        |    regexp_split_to_array(trim(text), '\s+') AS w FROM uniq)),
        |c AS (
        |  SELECT doc_id, quality_score, len(w) AS n,
        |    unnest([{ci: i,
        |      txt: array_to_string(w[(i*24+1):(i*24+32)], ' ')}
        |      for i in range(0, n_chunks)]) AS ch
        |  FROM nc)
        |SELECT c.doc_id, CAST(c.ch.ci AS BIGINT) AS chunk_id,
        |  c.ch.txt AS chunk_text,
        |  CAST(least(32, c.n - c.ch.ci * 24) AS BIGINT) AS chunk_tokens,
        |  l.lang_pred, c.quality_score,
        |  CASE WHEN (c.doc_id * 2654435761) % 4294967296 % 100 < 90
        |    THEN 'train' ELSE 'test' END AS split
        |FROM c JOIN lang1 l ON l.doc_id = c.doc_id
        |ORDER BY c.doc_id, chunk_id""".stripMargin,
    // Parity argument: both engines fold |x| with max (order-free),
    // compute the identical IEEE double (x·127)/absmax, and round
    // ties away from zero (Spark HALF_UP via the double's canonical
    // decimal form; DuckDB std::round) — bit-equal inputs, same tie
    // rule, so the quantized ints agree everywhere, not just off the
    // .5 boundary.
    "q_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE)))) AS absmax
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(absmax / 127.0, 6) AS qscale,
        |  CAST(CASE WHEN absmax = 0.0 THEN 0
        |    ELSE list_sum(list_transform(embedding, x ->
        |      abs(CAST(greatest(-127.0, least(127.0,
        |        round(CAST(x AS DOUBLE) * 127.0 / absmax))) AS INT))))
        |    END AS BIGINT) AS q_l1,
        |  CAST(len(embedding) AS BIGINT) AS dim
        |FROM e ORDER BY vec_id""".stripMargin,
    "q_funnel_latency" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3, min(s1.t1) AS t1
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s1.t1
        |  GROUP BY 1),
        |l AS (
        |  SELECT CAST(epoch_us(t3) - epoch_us(t1) AS DOUBLE) AS lat_us
        |  FROM s3)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(lat_us, 0.5) / 1000000.0, 3) AS p50_s,
        |  round(quantile_cont(lat_us, 0.9) / 1000000.0, 3) AS p90_s
        |FROM l""".stripMargin,
    "q_ltv_cohort" ->
      """WITH first AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cw
        |  FROM events GROUP BY 1),
        |sizes AS (
        |  SELECT cw, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM first GROUP BY 1),
        |weekly AS (
        |  SELECT f.cw,
        |    date_diff('day', f.cw, date_trunc('week', e.ts)) // 7
        |      AS age_weeks,
        |    round(sum(e.value), 2) AS rev
        |  FROM events e JOIN first f ON e.user_id = f.user_id
        |  WHERE e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (
        |  SELECT cw, age_weeks,
        |    sum(rev) OVER (PARTITION BY cw ORDER BY age_weeks
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_rev
        |  FROM weekly)
        |SELECT CAST(epoch_us(c.cw) AS BIGINT) AS cohort_week,
        |  CAST(c.age_weeks AS BIGINT) AS age_weeks, s.n_users,
        |  round(c.cum_rev / s.n_users, 6) AS ltv
        |FROM cum c JOIN sizes s ON c.cw = s.cw
        |ORDER BY cohort_week, age_weeks""".stripMargin
  )
}

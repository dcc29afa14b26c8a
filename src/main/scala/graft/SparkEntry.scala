package graft

import graft.queries.{CoreQueries, LlmQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Driver contract — one named query per implemented operator (SURVEY.md
  * §2) plus its DuckDB-runnable ANSI-SQL oracle over the same parquet
  * tables. Column names/types are aligned pairwise (driver hashes values
  * after sorting columns by name).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.goldAgg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_gold_agg"          -> ((s, d) => CoreQueries.goldAgg(s, d)),
    "q02_quality_split_ok"  -> ((s, d) => CoreQueries.qualitySplitOk(s, d)),
    "q03_quality_split_bad" -> ((s, d) => CoreQueries.qualitySplitBad(s, d)),
    "q04_derive"            -> ((s, d) => CoreQueries.derive(s, d)),
    "q05_stay_duration"     -> ((s, d) => CoreQueries.stayDuration(s, d)),
    "q06_latest_lookup"     -> ((s, d) => CoreQueries.latestLookup(s, d)),
    "q07_alter_row"         -> ((s, d) => CoreQueries.alterRow(s, d)),
    "q08_merge_upsert"      -> ((s, d) => CoreQueries.mergeUpsert(s, d)),
    "q09_scd1_fold"         -> ((s, d) => CoreQueries.scd1Fold(s, d)),
    "q10_final_select"      -> ((s, d) => CoreQueries.finalSelect(s, d)),
    "q11_cdc_end_to_end"    -> ((s, d) => CoreQueries.cdcEndToEnd(s, d)),
    "q12_pricing_summary"   -> ((s, d) => CoreQueries.pricingSummary(s, d)),
    "q13_topk_customers"    -> ((s, d) => CoreQueries.topkCustomers(s, d)),
    "q14_region_rollup"     -> ((s, d) => CoreQueries.regionRollup(s, d)),
    // LLM-data-pipeline operator families (documents/embeddings tables)
    "q15_text_stats"        -> ((s, d) => LlmQueries.textStats(s, d)),
    "q16_lang_id"           -> ((s, d) => LlmQueries.langIdTokens(s, d)),
    "q17_quality_score"     -> ((s, d) => LlmQueries.qualityBySource(s, d)),
    "q18_fingerprints"      -> ((s, d) => LlmQueries.fingerprints(s, d)),
    "q19_exact_dedup"       -> ((s, d) => LlmQueries.exactDedup(s, d)),
    "q20_minhash_lsh"       -> ((s, d) => LlmQueries.minhashLsh(s, d)),
    "q21_ngram_jaccard"     -> ((s, d) => LlmQueries.ngramJaccard(s, d)),
    "q22_ann_topk"          -> ((s, d) => LlmQueries.annTopK(s, d)),
    "q23_ann_ivf"           -> ((s, d) => LlmQueries.annIvf(s, d)),
    "q24_ann_lsh_pairs"     -> ((s, d) => LlmQueries.annLshPairs(s, d)),
    "q25_binary_meta"       -> ((s, d) => LlmQueries.binaryMeta(s, d)),
    "q26_frame_sample"      -> ((s, d) => LlmQueries.frameSample(s, d)),
    // O3: real Structured Streaming drain (checkpointed AvailableNow,
    // foreachBatch version-merge, atomic sink), verified via batch oracle
    "q27_stream_cdc"        -> ((s, d) => CoreQueries.streamCdc(s, d)),
    // S3/K2: CSV all-string round-trip through the cast-on-write translator.
    // Money surfaces as DOUBLE (rounded via the decimal(10,2) translator
    // cast): a raw DECIMAL output column hashes differently across the
    // driver's two readers even when values are identical.
    "q28_csv_ingest"        -> ((s, d) =>
      CoreQueries.csvIngest(s, d).withColumn("c_acctbal",
        org.apache.spark.sql.functions.col("c_acctbal").cast("double"))),
    // S4/K3/K4/O2: landing-file lifecycle fold (later file wins)
    "q29_file_lifecycle"    -> ((s, d) => CoreQueries.fileLifecycle(s, d)),
    // O1/O4/Q3/Q4: orchestrated dim→fact→gold with write+read-back
    "q30_pipeline_gold"     -> ((s, d) => CoreQueries.pipelineGold(s, d)),
    // G1 + S1-shape: deterministic mock booking feed (nested struct) run
    // through the reference dataflow T1→T2→T5
    "q31_mock_bookings"     -> ((s, _) =>
      graft.sources.MockBookings.dataflow(
        graft.sources.MockBookings.generate(s, 10000L))),
    // event-time extensions: gap sessionization + tumbling-day windows
    "q32_sessionize"        -> ((s, d) =>
      graft.streaming.EventTimeOps.sessionizeBatch(
        graft.sources.Tables.events(s, d), gapSeconds = 14400L)),
    "q33_event_windows"     -> ((s, d) =>
      graft.streaming.EventTimeOps.dailyTypeRollup(
        graft.sources.Tables.events(s, d))),
    // distribution profiling: exact interpolated per-lang quantiles
    "q34_length_quantiles"  -> ((s, d) => LlmQueries.lengthQuantiles(s, d)),
    // k-means aggregation step: per-label element-wise centroids
    "q35_centroids"         -> ((s, d) => LlmQueries.embeddingCentroids(s, d)),
    // IVF with computed cells: route to nearest representative, probe one cell
    "q36_ann_ivf_routed"    -> ((s, d) => LlmQueries.annIvfComputed(s, d)),
    // streaming stateful exact dedup across micro-batches
    "q37_stream_dedup"      -> ((s, d) => LlmQueries.streamDedup(s, d)),
    // vocabulary building: global doc-frequency top-k (TakeOrdered plan)
    "q38_vocab_topk"        -> ((s, d) => LlmQueries.vocabTopK(s, d)),
    // Gopher-style repetition/quality gates per doc
    "q39_gopher_rules"      -> ((s, d) => LlmQueries.gopherQuality(s, d)),
    // fixed-budget token chunking (sequence-packing prep)
    "q40_chunk_tokens"      -> ((s, d) => LlmQueries.chunkTokens(s, d)),
    // benchmark n-gram decontamination (broadcast hash equi-join)
    "q41_decontaminate"     -> ((s, d) => LlmQueries.decontaminate(s, d)),
    // deterministic hash train/val/test split
    "q42_train_split"       -> ((s, d) => LlmQueries.trainSplit(s, d)),
    // weighted per-source mixture sampling
    "q43_mixture_sample"    -> ((s, d) => LlmQueries.mixtureSample(s, d)),
    // streaming incremental MinHash-LSH near-dup dedup (batch-oracle parity)
    "q44_stream_near_dup"   -> ((s, d) => LlmQueries.streamNearDup(s, d)),
    // mergeable KMV distinct-count sketch (custom TypedImperativeAggregate)
    "q45_kmv_distinct"      -> ((s, d) => LlmQueries.kmvDistinct(s, d)),
    // SQL front-end: temp views + spark.sql text (join/group/having)
    "q46_sql_api"           -> ((s, d) => CoreQueries.sqlApi(s, d)),
    // AS-OF point-in-time join (union-window encoding, DuckDB ASOF oracle)
    "q47_asof_join"         -> ((s, d) => CoreQueries.asofJoin(s, d)),
    // bucketized range join: points x containing intervals, equi-join plan
    "q48_range_join"        -> ((s, d) => CoreQueries.rangeJoin(s, d)),
    // 4-way star join with broadcast dims (part/supplier coverage)
    "q49_star_join"         -> ((s, d) => CoreQueries.starJoin(s, d)),
    // ROLLUP hierarchy totals with grouping markers
    "q50_rollup"            -> ((s, d) => CoreQueries.rollupAgg(s, d)),
    // explicit-value pivot (wide per-type counts)
    "q51_pivot"             -> ((s, d) => CoreQueries.pivotEvents(s, d)),
    // PII redaction with per-doc counts (RE2∩Java regex dialect)
    "q52_pii_redact"        -> ((s, d) => LlmQueries.piiRedact(s, d)),
    // one-pass data-quality profile incl. KMV distinct estimate
    "q53_profile"           -> ((s, d) => LlmQueries.profileTable(s, d)),
    // incremental materialized-view maintenance of the gold aggregate
    "q54_incremental_gold"  -> ((s, d) => CoreQueries.incrementalGold(s, d)),
    // sequential windows: row_number + lag gaps + ROWS-frame rolling sum
    "q55_user_activity"     -> ((s, d) => CoreQueries.userActivity(s, d)),
    // Spark-native session_window aggregation (builtin twin of q32)
    "q56_session_window"    -> ((s, d) =>
      graft.streaming.EventTimeOps.sessionWindowBatch(
        graft.sources.Tables.events(s, d), "4 hours")),
    // set algebra: gates INTERSECT split EXCEPT contamination
    "q57_final_corpus"      -> ((s, d) => LlmQueries.finalCorpusSelect(s, d)),
    // round-3 extensions: SimHash near-dup pairs, connected-components
    // dedup clustering, BM25 retrieval, per-group top-k
    "q58_simhash_pairs"     -> ((s, d) => LlmQueries.simhashPairs(s, d)),
    "q59_dedup_groups"      -> ((s, d) => LlmQueries.dedupGroups(s, d)),
    "q60_bm25_search"       -> ((s, d) => LlmQueries.bm25Search(s, d)),
    "q61_grouped_topk"      -> ((s, d) => CoreQueries.groupedTopK(s, d)),
    "q62_sql_native"        -> ((s, d) => CoreQueries.sqlNativeKernels(s, d)),
    "q63_window_suite"      -> ((s, d) => CoreQueries.windowSuite(s, d)),
    "q64_cube"              -> ((s, d) => CoreQueries.cubeAgg(s, d)),
    "q65_snapshot_diff"     -> ((s, d) => CoreQueries.snapshotDiff(s, d)),
    "q66_quantized_ann"     -> ((s, d) => LlmQueries.quantizedAnn(s, d)),
    "q67_latest_skew_safe"  -> ((s, d) => CoreQueries.latestLookupSkewSafe(s, d)),
    "q68_dml_roundtrip"     -> ((s, d) => CoreQueries.dmlRoundTrip(s, d)),
    "q69_partitioned_gold"  -> ((s, d) => CoreQueries.partitionedGold(s, d)),
    "q70_bloom_decontaminate" -> ((s, d) => LlmQueries.bloomDecontaminate(s, d)),
    "q71_dup_spans"         -> ((s, d) => LlmQueries.dupSpans(s, d)),
    "q72_pack_sequences"    -> ((s, d) => LlmQueries.packSequences(s, d)),
    "q73_tfidf_terms"       -> ((s, d) => LlmQueries.tfidfTerms(s, d)),
    "q74_semantic_dedup"    -> ((s, d) => LlmQueries.semanticDedup(s, d)),
    "q75_quality_model"     -> ((s, d) => LlmQueries.qualityModel(s, d)),
    "q76_knn_graph"         -> ((s, d) => LlmQueries.knnGraph(s, d)),
    "q77_incremental_dedup" -> ((s, d) => LlmQueries.incrementalDedup(s, d)),
    "q78_quality_canonical" -> ((s, d) => LlmQueries.qualityCanonical(s, d)),
    "q79_unpivot"           -> ((s, d) => CoreQueries.unpivotMetrics(s, d)),
    "q80_zipf_slope"        -> ((s, d) => LlmQueries.zipfSlope(s, d)),
    "q81_repetition"        -> ((s, d) => LlmQueries.repetitionSignals(s, d)),
    "q82_cms_heavy"         -> ((s, d) => LlmQueries.cmsHeavy(s, d)),
    "q83_resample_daily"    -> ((s, d) => CoreQueries.resampleDaily(s, d)),
    "q84_mad_outliers"      -> ((s, d) => LlmQueries.madOutliers(s, d)),
    "q85_funnel"            -> ((s, d) => CoreQueries.funnel(s, d)),
    "q86_ann_multiprobe"    -> ((s, d) => LlmQueries.annMultiprobe(s, d)),
    "q87_shipping_priority" -> ((s, d) => CoreQueries.shippingPriority(s, d)),
    "q88_pagerank"          -> ((s, d) => LlmQueries.pageRankKnn(s, d)),
    "q89_minhash_estimate"  -> ((s, d) => LlmQueries.minhashEstimate(s, d)),
    "q90_trailing_window"   -> ((s, d) => CoreQueries.trailingWindow(s, d)),
    "q91_lang_confusion"    -> ((s, d) => LlmQueries.langConfusion(s, d)),
    "q92_unigram_xent"      -> ((s, d) => LlmQueries.unigramXent(s, d)),
    // round-5 relational breadth: the classic decorrelated-subquery
    // shapes (EXISTS semi-join, outer-join histogram, correlated scalar
    // agg, anti-join + global scalar, scalar-MAX over an aggregate)
    "q93_exists_semi"       -> ((s, d) => CoreQueries.orderPriorityExists(s, d)),
    "q94_order_histogram"   -> ((s, d) => CoreQueries.custOrderDistribution(s, d)),
    "q95_small_qty_revenue" -> ((s, d) => CoreQueries.smallQtyRevenue(s, d)),
    "q96_dormant_customers" -> ((s, d) => CoreQueries.dormantHighValue(s, d)),
    "q97_top_supplier"      -> ((s, d) => CoreQueries.topSupplier(s, d)),
    // round-5 LLM-pipeline ops: DSIR target-likeness weights, full
    // Lloyd k-means, two-stage quantized→exact retrieval, per-domain
    // quota, CCNet perplexity terciles
    "q98_dsir_weights"      -> ((s, d) => LlmQueries.dsirWeights(s, d)),
    "q99_kmeans"            -> ((s, d) => LlmQueries.kmeansClusters(s, d)),
    "q100_rerank_ann"       -> ((s, d) => LlmQueries.rerankAnn(s, d)),
    "q101_domain_cap"       -> ((s, d) => LlmQueries.domainCap(s, d)),
    "q102_ccnet_buckets"    -> ((s, d) => LlmQueries.ccnetBuckets(s, d)),
    // multi-COUNT(DISTINCT) via Expand; RRF hybrid retrieval fusion;
    // exact-N stratified sampling; temperature-flattened mixture
    // design; filtered-ANN hard negatives; dedup cluster histogram;
    // multiset INTERSECT/EXCEPT ALL
    "q103_multi_distinct"   -> ((s, d) => CoreQueries.multiDistinct(s, d)),
    "q104_hybrid_rrf"       -> ((s, d) => LlmQueries.hybridRrf(s, d)),
    "q105_stratified_sample" -> ((s, d) => LlmQueries.stratifiedSample(s, d)),
    "q106_temperature_mix"  -> ((s, d) => LlmQueries.temperatureMixture(s, d)),
    "q107_hard_negatives"   -> ((s, d) => LlmQueries.hardNegatives(s, d)),
    "q108_cluster_histogram" -> ((s, d) => LlmQueries.clusterHistogram(s, d)),
    "q109_bag_setops"       -> ((s, d) => CoreQueries.bagSetOps(s, d)),
    // SCD2 versioned dimension history; triangle counts on the kNN graph
    "q110_scd2_history"     -> ((s, d) => CoreQueries.scd2History(s, d)),
    "q111_triangles"        -> ((s, d) => LlmQueries.triangleCounts(s, d)),
    // native k-bounded-heap grouped top-k aggregate (no-sort plan,
    // q61's rows) — seventh native kernel
    "q112_native_topk"      -> ((s, d) => CoreQueries.nativeTopK(s, d)),
    // dedup τ sweep; feature-hashed sparse cosine; weighted sampling
    "q113_tau_sweep"        -> ((s, d) => LlmQueries.tauSweep(s, d)),
    "q114_sparse_cosine"    -> ((s, d) => LlmQueries.sparseCosine(s, d)),
    "q115_weighted_sample"  -> ((s, d) => LlmQueries.weightedSample(s, d)),
    // per-group z-score standardization; no-window argmax (max_by)
    "q116_zscores"          -> ((s, d) => CoreQueries.zscores(s, d)),
    "q117_argmax"           -> ((s, d) => CoreQueries.argmaxCustomer(s, d)),
    // round-5 continuation: the remaining classic TPC-H shapes —
    // conditional-ratio (Q14), returned-revenue top-k (Q10), HAVING-IN
    // decorrelation (Q18), correlated scalar-MIN argmin (Q2), NOT-IN +
    // COUNT(DISTINCT) (Q16), market-share ratio per year (Q8)
    "q118_promo_share"      -> ((s, d) => CoreQueries.promoShare(s, d)),
    "q119_returned_value"   -> ((s, d) => CoreQueries.returnedValue(s, d)),
    "q120_large_orders"     -> ((s, d) => CoreQueries.largeOrders(s, d)),
    "q121_min_price_supplier" -> ((s, d) => CoreQueries.minPriceSupplier(s, d)),
    "q122_supplier_types"   -> ((s, d) => CoreQueries.supplierTypeCounts(s, d)),
    "q123_market_share"     -> ((s, d) => CoreQueries.marketShare(s, d)),
    // round-5 continuation, LLM side: Matryoshka prefix-dim two-stage
    // retrieval, recall@k index audit, bigram-LM fluency, trigram
    // novelty, per-source length-Gini corpus balance
    // the FULL custom-operator stack: resolved logical node + planner
    // strategy + merge-scan physical exec (tier (c) of the brief's
    // preference order), sharing q47's oracle semantics
    "q129_asof_native"      -> ((s, d) => CoreQueries.asofJoinNative(s, d)),
    "q124_matryoshka_ann"   -> ((s, d) => LlmQueries.matryoshkaAnn(s, d)),
    "q125_ann_recall"       -> ((s, d) => LlmQueries.annRecall(s, d)),
    "q126_bigram_xent"      -> ((s, d) => LlmQueries.bigramXent(s, d)),
    "q127_gram_novelty"     -> ((s, d) => LlmQueries.gramNovelty(s, d)),
    "q128_source_gini"      -> ((s, d) => LlmQueries.sourceGini(s, d)),
    // TPC-H Q5/Q7/Q12/Q19/Q21 shapes: same-nation revenue, nation-pair
    // volume, priority counts, disjunctive pushdown, double-EXISTS
    // waiting-supplier decorrelation
    "q130_local_supplier"   -> ((s, d) => CoreQueries.localSupplierRevenue(s, d)),
    "q131_volume_shipping"  -> ((s, d) => CoreQueries.volumeShipping(s, d)),
    "q132_priority_counts"  -> ((s, d) => CoreQueries.priorityCounts(s, d)),
    "q133_disjunctive"      -> ((s, d) => CoreQueries.disjunctiveRevenue(s, d)),
    "q134_waiting_suppliers" -> ((s, d) => CoreQueries.waitingSuppliers(s, d)),
    // Q6 pushed-predicate aggregate; cross-source near-dup matrix;
    // KMV sketch set algebra (union-by-merge + inclusion-exclusion)
    "q135_simple_revenue"   -> ((s, d) => CoreQueries.simpleRevenue(s, d)),
    "q136_dup_matrix"       -> ((s, d) => LlmQueries.dupSourceMatrix(s, d)),
    "q137_kmv_setops"       -> ((s, d) => LlmQueries.kmvSetOps(s, d)),
    // PMI collocations (phrase mining); robust trimmed mean; fixed-
    // width value histogram
    "q138_pmi_pairs"        -> ((s, d) =>
      graft.text.TextOps.pmiCollocations(
        graft.sources.Tables.documents(s, d), "text", minCount = 5, k = 20)),
    "q139_trimmed_mean"     -> ((s, d) => CoreQueries.trimmedMean(s, d)),
    "q140_price_histogram"  -> ((s, d) => CoreQueries.priceHistogram(s, d)),
    // the last TPC-H shapes (Q9/Q11/Q20 analogs — fixture has no
    // partsupp): multi-table computed-measure rollup, HAVING vs a
    // global scalar, semi-join chain over an aggregate threshold
    "q141_profit_rollup"    -> ((s, d) => CoreQueries.profitByNationYear(s, d)),
    "q142_important_parts"  -> ((s, d) => CoreQueries.importantParts(s, d)),
    "q143_dominant_suppliers" -> ((s, d) => CoreQueries.dominantSuppliers(s, d)),
    // streaming mergeable-KMV drain: per-batch k-minima merges whose
    // final estimate is bit-identical to the one-shot batch sketch
    "q144_stream_kmv"       -> ((s, d) => LlmQueries.streamKmv(s, d)),
    // product-analytics batch: cohort retention, event-transition
    // matrix, ALL()-per-group fill rate, month-over-month growth
    "q145_cohorts"          -> ((s, d) => CoreQueries.cohortRetention(s, d)),
    "q146_transitions"      -> ((s, d) => CoreQueries.eventTransitions(s, d)),
    "q147_fill_rate"        -> ((s, d) => CoreQueries.fillRate(s, d)),
    "q148_mom_revenue"      -> ((s, d) => CoreQueries.momRevenue(s, d)),
    // custom DataSourceV2 connector: reader-side filter pushdown +
    // column pruning, one task per feed file
    "q149_changefeed_source" -> ((s, d) => CoreQueries.changeFeedSource(s, d)),
    // ordered group concat; trailing-window distinct actives (explode-
    // to-equi-join, no nested loop); exact Pearson by brand; Benford
    "q150_top_customer_list" -> ((s, d) => CoreQueries.topCustomerList(s, d)),
    "q151_rolling_actives"  -> ((s, d) => CoreQueries.rollingActives(s, d)),
    "q152_qty_price_corr"   -> ((s, d) => CoreQueries.qtyPriceCorr(s, d)),
    "q153_benford"          -> ((s, d) => CoreQueries.benfordDigits(s, d)),
    // asymmetric containment (excerpt detection) on LSH candidates;
    // tokenizer fertility per language
    "q154_containment"      -> ((s, d) => LlmQueries.containmentPairs(s, d)),
    "q155_fertility"        -> ((s, d) => LlmQueries.tokenizerFertility(s, d)),
    // watermarked streaming window rollup through the oracle gate
    // (update-mode key-merged sink; q33's batch semantics); exact
    // 128-char prefix boilerplate groups
    "q156_stream_windows"   -> ((s, d) => CoreQueries.streamWindows(s, d)),
    "q157_prefix_groups"    -> ((s, d) => LlmQueries.prefixGroups(s, d)),
    // table maintenance through the gate: compaction round-trip and
    // snapshot time-travel restore, both against q01's oracle
    "q158_compaction"       -> ((s, d) => CoreQueries.compactionRoundtrip(s, d)),
    "q159_time_travel"      -> ((s, d) => CoreQueries.timeTravelRestore(s, d)),
    // non-hierarchical GROUPING SETS via the SQL front-end; schema-full
    // from_json struct parsing
    "q160_grouping_sets"    -> ((s, d) => CoreQueries.groupingSets(s, d)),
    "q161_from_json"        -> ((s, d) => CoreQueries.fromJsonStats(s, d)),
    // ratio-to-parent share; exact running totals; partitioned YoY lag;
    // sentence segmentation stats
    "q162_share_of_region"  -> ((s, d) => CoreQueries.shareOfRegion(s, d)),
    "q163_running_total"    -> ((s, d) => CoreQueries.runningTotal(s, d)),
    "q164_yoy_by_nation"    -> ((s, d) => CoreQueries.yoyByNation(s, d)),
    "q165_sentence_stats"   -> ((s, d) =>
      graft.text.TextOps.sentenceStats(
        graft.sources.Tables.documents(s, d), "doc_id", "text")),
    // 2-phase window skyline (Pareto frontier); 2-D histogram grid
    "q166_pareto"           -> ((s, d) => CoreQueries.paretoCustomers(s, d)),
    "q167_histogram_2d"     -> ((s, d) => CoreQueries.histogram2d(s, d)),
    // Heaps-law vocabulary growth; Fano-factor burstiness
    "q168_vocab_growth"     -> ((s, d) =>
      graft.text.TextOps.vocabGrowth(
        graft.sources.Tables.documents(s, d), "doc_id", "text")),
    "q169_burstiness"       -> ((s, d) => CoreQueries.burstiness(s, d)),
    // kNN-graph label mixing matrix (homophily diagnostic)
    "q170_knn_labels"       -> ((s, d) => LlmQueries.knnLabelMatrix(s, d)),
    // gaps-and-islands error streaks; staleness-bounded as-of
    "q171_error_streaks"    -> ((s, d) => CoreQueries.errorStreaks(s, d)),
    "q172_asof_tolerance"   -> ((s, d) => CoreQueries.asofTolerance(s, d)),
    // IDF-weighted soft Jaccard (boilerplate-insensitive dedup weight)
    "q173_weighted_jaccard" -> ((s, d) =>
      graft.dedup.Dedup.weightedJaccardPairs(
        graft.sources.Tables.documents(s, d), "doc_id", "text",
        tau = 0.5)),
    // exact source-overlap ground truth for q137's sketch estimates
    "q174_source_overlap"   -> ((s, d) =>
      graft.text.TextOps.sourceOverlapExact(
        graft.sources.Tables.documents(s, d),
        Seq("src0", "src1", "src2", "src3", "src4"))),
    // T5 as LITERALLY written in the reference dataflow: enrichment
    // columns from the lookup side — NULL on fresh inserts (q10 is
    // the documented-intent reading of the same select)
    "q175_final_select_literal" -> ((s, d) =>
      CoreQueries.finalSelectLiteral(s, d)),
    // Z-order clustering + file-stats manifest pruning: the pruned
    // box scan must equal the plain filter (oracle runs the latter)
    "q176_zorder_box"       -> ((s, d) => CoreQueries.zorderBoxScan(s, d)),
    // skew-proof variant: equal-mass rank-bucket curve cells
    "q177_zorder_ranked"    -> ((s, d) => CoreQueries.zorderRankedBoxScan(s, d)),
    // leakage-safe split: near-dup clusters never straddle splits
    "q178_leakage_safe_split" -> ((s, d) =>
      graft.sampling.Sampling.leakageSafeSplit(
        graft.sources.Tables.documents(s, d), "doc_id", "text")),
    // positional-index exact-phrase match (m-1 position-arith joins)
    "q179_phrase_search"    -> ((s, d) =>
      graft.search.Search.phraseSearch(
        graft.sources.Tables.documents(s, d), "doc_id", "text",
        Seq("the", "group", "line"))),
    // OPTIMIZE ZORDER BY on the atomic sink: fragmented commit →
    // clustered rewrite + write-time manifest → pruned box read
    "q180_zorder_compact"   -> ((s, d) => CoreQueries.zorderCompactScan(s, d)),
    // phrase search over the PERSISTED term-bucketed posting index —
    // same contract as q179, but reads ≤ m pruned index partitions
    "q181_phrase_indexed"   -> ((s, d) => {
      val work = graft.TempDirs.create("graft-pidx-")
      graft.search.Search.buildPostings(
        graft.sources.Tables.documents(s, d), "doc_id", "text",
        s"$work/postings")
      graft.search.Search.phraseSearchIndexed(
        s, s"$work/postings", Seq("the", "group", "line"))
    }),
    // 3-dim Z-order: the generalized Morton interleave through the
    // oracle — a box over (user, value, id) against the plain filter
    "q182_zorder_3d"        -> ((s, d) => CoreQueries.zorder3dBoxScan(s, d)),
    // INCREMENTAL posting-index maintenance: build from half the
    // corpus, APPEND the other half, query — must equal the
    // full-corpus phrase search (q179's oracle again)
    "q183_postings_append"  -> ((s, d) => {
      val work = graft.TempDirs.create("graft-pinc-")
      val docs = graft.sources.Tables.documents(s, d)
      val dir = s"$work/postings"
      graft.search.Search.buildPostings(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dir)
      graft.search.Search.appendPostings(
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", dir)
      graft.search.Search.phraseSearchIndexed(
        s, dir, Seq("the", "group", "line"))
    }),
    // bloom-sidecar file skipping: the equality-probe complement to
    // the min/max manifest — a point lookup on a hash-clustered table
    // (where min/max stats prune nothing) reads ~|values| of 16 files
    "q184_bloom_point"      -> ((s, d) => CoreQueries.bloomPointScan(s, d)),
    // persisted IVF vector index: cell-partitioned table + routing
    // sidecar; search reads ONLY the probed cell partitions (the ANN
    // serving form of q36 — identical rows, pruned read path)
    "q185_ivf_indexed"      -> ((s, d) => LlmQueries.annIvfIndexed(s, d)),
    // incremental IVF maintenance: even ids built, odd ids appended
    // (O(batch) + sidecar fold) — must equal the full build
    "q186_ivf_append"       -> ((s, d) => LlmQueries.annIvfIndexedAppend(s, d)),
    // HyperLogLog sketch: 64-byte mergeable register state per group,
    // integer-exact register sum → engine-exact estimate (q45's KMV
    // sibling at a fraction of the shuffled state)
    "q187_hll_distinct"     -> ((s, d) => LlmQueries.hllDistinct(s, d)),
    // incremental Z-order maintenance: clustered batch append with an
    // O(batch) manifest fold — pruned box read must still equal the
    // plain filter on the full table
    "q188_zorder_append"    -> ((s, d) => CoreQueries.zorderAppendBoxScan(s, d)),
    // streaming HLL: micro-batch max-merged 64-byte register states
    // must estimate exactly like the one-pass kernel (q187's math,
    // q144's streaming shape, smaller state than either)
    "q189_stream_hll"       -> ((s, d) => LlmQueries.streamHll(s, d)),
    // secondary bloom index: the q184 table clustered on user_id ALSO
    // carries a `_bloom_event_id` sidecar — a primary-key fetch prunes
    // to ~1 of 16 files despite the layout hashing a different column
    "q190_bloom_secondary"  -> ((s, d) => CoreQueries.bloomSecondaryFetch(s, d)),
    // composite skipping: manifest box prune ∩ bloom id prune — a
    // "these ids, inside this box" query reads only files surviving
    // BOTH metadata passes, still row-identical to the plain filter
    "q191_composite_skip"   -> ((s, d) => CoreQueries.compositeSkipScan(s, d)),
    // incremental bloom maintenance: append a batch, fold it into the
    // sidecar at O(batch), answer q184's lookup through the folded
    // index — must equal the full-table filter (q184's oracle)
    "q192_bloom_fold"       -> ((s, d) => CoreQueries.bloomAppendFetch(s, d)),
    // streaming indexed layout: micro-batches append clustered files
    // with manifest + bloom folded per batch (replay-fenced); the
    // drained table answers q191's composite query via its metadata
    "q193_stream_indexed"   -> ((s, d) => CoreQueries.streamIndexedScan(s, d)),
    // merge-on-read DELETE: tombstone row identities in a committed
    // deletion-vector sidecar (bloom-pruned locate, no data rewrite);
    // the DV-aware read equals the plain complement filter
    "q194_dv_delete"        -> ((s, d) => CoreQueries.dvDeleteScan(s, d)),
    // DV compaction: applyDeletes rewrites ONLY tombstoned files and
    // empties the slate — a plain read then equals the same complement
    "q195_dv_apply"         -> ((s, d) => CoreQueries.dvApplyScan(s, d)),
    // merge-on-read UPSERT: tombstone-by-key + append (Hudi-MOR /
    // Iceberg-v2 MERGE) — equals the CASE twin over the raw table
    "q196_mor_upsert"       -> ((s, d) => CoreQueries.morUpsertScan(s, d)),
    // streaming CDC apply, merge-on-read: an I/U/D change feed drained
    // at O(batch) per micro-batch (tombstone + append, replay-fenced);
    // the DV read equals the CASE/complement twin over the raw table
    "q197_stream_mor"       -> ((s, d) => CoreQueries.streamMorScan(s, d)),
    // skipping ∧ tombstones: the bloom-pruned point lookup THROUGH the
    // deletion vectors — pruning may not resurrect deleted rows
    "q198_dv_pruned_point"  -> ((s, d) => CoreQueries.dvPrunedPoint(s, d)),
    // merge-on-read UPDATE: tombstone matched rows + append updated
    // images (O(matched)); equals the CASE twin over the raw table
    "q199_mor_update"       -> ((s, d) => CoreQueries.morUpdateScan(s, d)),
    // tombstones ∧ Z-order manifest: the pruned BOX scan through the
    // deletion vectors — file skipping may not resurrect deleted rows
    "q200_dv_box_scan"      -> ((s, d) => CoreQueries.dvBoxScan(s, d)),
    // full MoR speed layer in one checkpointed stream: change feed →
    // tombstone+append fact → delta-folded gold; equals q30's
    // from-scratch batch gold over the same events
    "q201_stream_mor_gold"  -> ((s, d) => CoreQueries.streamMorGold(s, d)),
    // Delta-CDF-shaped change feed: adjacent-snapshot diffs with
    // stable commit ids and pre/post-image payloads, oracle-checked
    "q202_table_changes"    -> ((s, d) => CoreQueries.tableChangesScan(s, d)),
    // cross-corpus best-match with top1−top2 margin (bitext mining /
    // contrastive-pair construction): queries broadcast, corpus never
    // shuffles, cosine is the native codegen'd kernel
    "q204_bitext_margin"    -> ((s, d) => LlmQueries.bitextMargin(s, d)),
    // the same margin mining routed through IVF cells: each query
    // matches only within its own coarse cell — partition-pruned probes
    "q205_bitext_ivf"       -> ((s, d) => LlmQueries.bitextIvf(s, d)),
    // manifest ∧ bloom ∧ tombstones: the composite-pruned scan through
    // the deletion vectors — double skipping may not resurrect deletes
    "q203_composite_dv"     -> ((s, d) => CoreQueries.compositeDvScan(s, d)),
    // q201's drain with exactLastSeen: deletes must retract last_seen
    "q206_gold_exact_retract" -> ((s, d) => CoreQueries.streamMorGoldExact(s, d)),
    // trickle drain → bin-pack smalls through DVs → same answers
    "q207_mor_small_files"  -> ((s, d) => CoreQueries.streamMorPacked(s, d)),
    // bloom-indexed fact + small keyed batches: the pruned MoR drain
    "q208_stream_mor_indexed" -> ((s, d) => CoreQueries.streamMorIndexed(s, d)),
    // q202's diff over bucketed snapshots: the zero-Exchange pair join
    "q209_bucketed_changes" -> ((s, d) => CoreQueries.bucketedTableChanges(s, d)),
    // doc→chunk sliding-window fan-out (32-word chunks, 50% overlap)
    "q210_rag_chunks"       -> ((s, d) => LlmQueries.ragChunks(s, d)),
    // 8-gram benchmark-overlap decontamination gate
    "q211_contamination"    -> ((s, d) => LlmQueries.benchContamination(s, d)),
    // incremental SCD2 CDC fold (q110 is the one-shot backfill form)
    "q212_scd2_fold"        -> ((s, d) => CoreQueries.scd2Fold(s, d)),
    // q212 via merge-on-read: keyed MoR close + append open, same rows
    "q213_scd2_mor"         -> ((s, d) => CoreQueries.scd2FoldMoR(s, d)),
    // q213 as a checkpointed change-feed drain: same rows again
    "q214_scd2_stream"      -> ((s, d) => CoreQueries.scd2Stream(s, d)),
    // q208's drain + one maintain() pass: value-neutral, sidecars fresh
    "q215_mor_maintain"     -> ((s, d) => CoreQueries.streamMorMaintained(s, d)),
    // two-source checkpointed stream-stream interval join (attribution)
    "q216_stream_join"      -> ((s, d) => CoreQueries.streamIntervalJoin(s, d)),
    // flatMapGroupsWithState sessionization as a checkpointed drain
    "q217_stream_sessions"  -> ((s, d) => CoreQueries.streamSessions(s, d)),
    // one-pass distributed covariance of the embedding column
    "q218_embed_cov"        -> ((s, d) => LlmQueries.embedCovariance(s, d)),
    // JL Rademacher random projection (literal sign matrix, in-scan)
    "q219_rand_proj"        -> ((s, d) => LlmQueries.randomProjection(s, d)),
    // PQ-ADC: 8-byte codes + broadcast per-query LUT scan
    "q220_pq_adc"           -> ((s, d) => LlmQueries.pqAdc(s, d)),
    // IVF-PQ: the ADC scan routed through the coarse cell
    "q221_ivf_pq"           -> ((s, d) => LlmQueries.ivfPqAdc(s, d)),
    // streaming moment state: drained covariance = one-pass q218
    "q222_stream_cov"       -> ((s, d) => LlmQueries.streamCovariance(s, d)),
    // schema drift on the MoR table: evolved append + cross-gen delete
    "q223_schema_evolve"    -> ((s, d) => CoreQueries.schemaEvolve(s, d)),
    // metadata-only DROP COLUMN on the evolved MoR table
    "q224_schema_drop"      -> ((s, d) => CoreQueries.schemaDrop(s, d)),
    // mid-stream schema drift: second drain evolves the live fact
    "q225_stream_drift"     -> ((s, d) => CoreQueries.streamDrift(s, d)),
    // persisted PQ index: query reads 8 B/vector off disk
    "q226_pq_persisted"     -> ((s, d) => LlmQueries.pqPersisted(s, d)),
    // O(batch) PQ append against the stored codebook
    "q227_pq_append"        -> ((s, d) => LlmQueries.pqAppend(s, d)),
    // recall@3 of PQ-ADC vs the exact dot-product top-3
    "q228_pq_recall"        -> ((s, d) => LlmQueries.pqRecall(s, d)),
    // stream-stream LEFT OUTER: watermark-evicted unmatched emission
    "q229_stream_outer_join" -> ((s, d) => CoreQueries.streamOuterJoin(s, d)),
    // tombstone time travel: read the reader-grace snapshot
    "q230_dv_undelete"      -> ((s, d) => CoreQueries.dvUndelete(s, d)),
    // per-label covariance: one moment buffer per group
    "q231_grouped_cov"      -> ((s, d) => LlmQueries.groupedCovariance(s, d)),
    // past-the-guard deletes: per-file sidecars applied in-scan
    "q232_dv_inscan"        -> ((s, d) => CoreQueries.dvInScan(s, d)),
    // int→long widening as metadata: both file generations, one schema
    "q233_type_widen"       -> ((s, d) => CoreQueries.typeWiden(s, d)),
    // one commit log: snapshots across append+delete+compaction
    "q234_mor_timetravel"   -> ((s, d) => CoreQueries.morTimeTravel(s, d)),
    // watermark-evicted unmatched PURCHASES (right outer)
    "q235_stream_router_join" -> ((s, d) => CoreQueries.streamRightOuterJoin(s, d)),
    // both sides' unmatched in one drain (full outer)
    "q236_stream_fouter_join" -> ((s, d) => CoreQueries.streamFullOuterJoin(s, d)),
    // recall@3 A/B: mean-threshold vs per-subspace Lloyd codebooks
    "q237_pq_kmeans"        -> ((s, d) => LlmQueries.pqKmeansRecall(s, d)),
    // keyed upsert on the log table: one atomic version per merge
    "q238_morlog_upsert"    -> ((s, d) => CoreQueries.morLogUpsert(s, d)),
    // change feed spanning upsert+delete versions: the snapshot diff
    "q239_morlog_changes"   -> ((s, d) => CoreQueries.morLogChanges(s, d)),
    // checkpointed drain: one time-travelable version per micro-batch
    "q240_morlog_stream"    -> ((s, d) => CoreQueries.morLogStream(s, d)),
    // CDF from the log's own deltas — O(changed), q239's oracle
    "q241_morlog_cdf"       -> ((s, d) => CoreQueries.morLogCdf(s, d)),
    // RESTORE TO VERSION: one metadata commit rewinds to v0
    "q242_morlog_restore"   -> ((s, d) => CoreQueries.morLogRestore(s, d)),
    // genuine PNG/JPEG/GIF header parse, corrupt blobs → NULL
    "q243_image_dims"       -> ((s, d) => LlmQueries.imageDims(s, d)),
    // bin-pack the drain's debris as one version: value-invisible
    "q244_morlog_packed"    -> ((s, d) => CoreQueries.morLogPacked(s, d)),
    // route the corpus by (format, aspect) from header bytes alone
    "q245_aspect_buckets"   -> ((s, d) => LlmQueries.aspectBuckets(s, d)),
    // checkpointed drain crossing the per-file DV migration + maintain
    "q246_stream_mor_pf"    -> ((s, d) => CoreQueries.streamMorPf(s, d)),
    // keyed UPDATE through the per-file store's in-scan visible view
    "q247_mor_update_pf"    -> ((s, d) => CoreQueries.morUpdatePf(s, d)),
    // log-backed drain crossing the per-file migration mid-stream
    "q248_morlog_stream_pf" -> ((s, d) => CoreQueries.morLogStreamPf(s, d)),
    // log-level data skipping: per-file min/max stats prune the scan
    "q249_morlog_stats_skip" -> ((s, d) => CoreQueries.morLogStatsSkip(s, d)),
    // genuine WAV/FLAC/MP3 header parse, corrupt blobs → NULL
    "q250_audio_meta"       -> ((s, d) => LlmQueries.audioMeta(s, d)),
    // span-level dedup with removal: cross-doc 5-gram spans cut,
    // survivors reassembled in order (Lee et al. ExactSubstr analog)
    "q251_span_scrub"       -> ((s, d) => LlmQueries.spanScrub(s, d)),
    // genuine MP4/AVI header parse, corrupt blobs → NULL
    "q254_video_meta"       -> ((s, d) => LlmQueries.videoMeta(s, d)),
    // OPTIMIZE ZORDER under the log: same values, better skipping
    "q252_morlog_cluster"   -> ((s, d) => CoreQueries.morLogCluster(s, d)),
    // the same skipping maintained incrementally on drain debris
    "q258_morlog_cluster_small" -> ((s, d) => CoreQueries.morLogClusterSmall(s, d)),
    // retention delete where whole files drop as pure metadata
    "q253_morlog_drop_delete" -> ((s, d) => CoreQueries.morLogDropDelete(s, d)),
    // mergeable KLL quantile sketch, rank-checked against exact
    "q255_quantile_sketch"  -> ((s, d) => CoreQueries.quantileSketch(s, d)),
    // the sketch folded across a fenced streaming drain
    "q256_stream_quantiles" -> ((s, d) => CoreQueries.streamQuantiles(s, d)),
    // ADC shortlist -> exact re-rank: the two-stage serving pattern
    "q257_pq_rerank"        -> ((s, d) => LlmQueries.pqRerank(s, d)),
    // watermark-late rows quarantined to a dead-letter sink, not dropped
    "q259_stream_dlq"       -> ((s, d) => CoreQueries.streamDlq(s, d)),
    // count(*)/min/max answered from stats + sidecar headers alone
    "q260_meta_agg"         -> ((s, d) => CoreQueries.morLogMetaAgg(s, d)),
    // the q82 CMS grid sum-folded across a fenced streaming drain
    "q261_stream_cms"       -> ((s, d) => LlmQueries.streamCms(s, d)),
    // zero-copy clone forks the table in one metadata commit
    "q262_morlog_clone"     -> ((s, d) => CoreQueries.morLogClone(s, d)),
    // gate -> dedup -> decontam -> pack, one composed lazy plan
    "q263_curation_pipeline" -> ((s, d) => LlmQueries.curationPipeline(s, d)),
    // MERGE INTO: mixed delete/update/insert batch as ONE version
    "q264_morlog_merge"     -> ((s, d) => CoreQueries.morLogMerge(s, d)),
    // per-dim p05/p95 clip bounds: d KLL sketches in one agg pass
    "q265_dim_clip"         -> ((s, d) => LlmQueries.dimClipStats(s, d)),
    // packed bins with per-bin doc-start offsets (attention masks)
    "q266_pack_boundaries"  -> ((s, d) => LlmQueries.packBoundaries(s, d)),
    // metadata-only DROP COLUMN with a loud resurrection guard
    "q267_morlog_dropcol"   -> ((s, d) => CoreQueries.morLogDropColumn(s, d)),
    // conditional MERGE: per-clause routing, one committed version
    "q268_morlog_merge_when" -> ((s, d) => CoreQueries.morLogMergeWhen(s, d)),
    // metadata-only RENAME COLUMN via the column mapping
    "q269_morlog_rename"    -> ((s, d) => CoreQueries.morLogRename(s, d)),
    // the DSv2 SQL surface: versionAsOf + pushdown-pruned scans
    "q270_morlog_dsv2"      -> ((s, d) => CoreQueries.morLogSqlRead(s, d)),
    // streaming CDC-MERGE drain: mixed I/U/D batches, one version each
    "q271_morlog_stream_merge" -> ((s, d) => CoreQueries.morLogStreamMerge(s, d)),
    // the connector decodes the reference's fact types: timestamp
    // (pushed + stats-pruned), decimal(10,2), nested struct
    "q272_morlog_typed_dsv2" -> ((s, d) => CoreQueries.morLogTypedRead(s, d)),
    // the change feed through the connector: changesFrom/changesTo
    "q273_morlog_changes_dsv2" -> ((s, d) => CoreQueries.morLogChangesSql(s, d)),
    // PARTITIONED BY (day): aligned files, exact partition pruning,
    // metadata-only partition-range retention
    "q274_morlog_partitioned" -> ((s, d) => CoreQueries.morLogPartitioned(s, d)),
    // Opus/M4A/ADTS-AAC header parse, corrupt blobs → NULL
    "q275_audio_meta2"      -> ((s, d) => LlmQueries.audioMeta2(s, d)),
    // AVIF/HEIC ispe-walk dims, corrupt blobs → NULL
    "q276_image_meta2"      -> ((s, d) => LlmQueries.imageMeta2(s, d)),
    // named SQL tables over the log tier: CREATE/INSERT/VERSION AS OF
    "q277_morlog_catalog"   -> ((s, d) => CoreQueries.morLogCatalogSql(s, d)),
    // the log tier as a readStream SOURCE: offsets are versions
    "q278_morlog_stream_source" -> ((s, d) => CoreQueries.morLogStreamSource(s, d)),
    // SQL MERGE INTO + UPDATE lowered onto the engine's pruned-locate
    // merge/update ops — one committed version per statement
    "q279_morlog_sql_merge" -> ((s, d) => CoreQueries.morLogSqlMerge(s, d)),
    // commit timestamps: TIMESTAMP AS OF via versionAt + connector +
    // SQL catalog, three-way agreement asserted in-query
    "q281_morlog_timestamp_travel" -> ((s, d) => CoreQueries.morLogTimestampTravel(s, d)),
    // streaming WRITE through the connector: CDC subscribe→apply with
    // checkpoint resume and replay fence, asserted in-query
    "q280_morlog_stream_sink" -> ((s, d) => CoreQueries.morLogStreamSink(s, d)),
    // hidden partitioning: PARTITIONED BY (days(ts)), one-day read
    // scans 1/30 partitions (asserted in-query)
    "q282_morlog_hidden_partition" -> ((s, d) => CoreQueries.morLogHiddenPartition(s, d)),
    // SQL CALL maintenance procedures: compact shrinks, vacuum
    // retires, history narrates (all asserted in-query)
    "q283_morlog_procedures" -> ((s, d) => CoreQueries.morLogProcedures(s, d)),
    // legacy raster probes: BMP (incl. top-down) + TIFF (both endians)
    "q284_image_meta3"      -> ((s, d) => LlmQueries.imageMeta3(s, d)),
    // fragmented MP4: duration from moov/mvex/mehd (v0 and v1)
    "q285_video_meta2"      -> ((s, d) => LlmQueries.videoMeta2(s, d)),
    // COMPOSITE-KEY SQL MERGE: ON t.a=s.a AND t.b=s.b — tuple-key
    // classification, leading-key pruned locate (asserted in-query)
    "q286_morlog_composite_merge" -> ((s, d) =>
      CoreQueries.morLogCompositeMerge(s, d)),
    // partition-scoped CALL compact('t', '<pred>'): O(day) rewrite,
    // other partitions' files byte-identical (asserted in-query)
    "q287_morlog_compact_where" -> ((s, d) =>
      CoreQueries.morLogCompactWhere(s, d)),
    // uncapped CDC drain: netBy last-wins netting folds a 4-version
    // feed into ONE epoch commit; mirror == source (asserted in-query)
    "q288_morlog_stream_net" -> ((s, d) =>
      CoreQueries.morLogStreamNet(s, d)),
    // composite-key CDC end-to-end: tuple-keyed Scala merge + a
    // composite-mergeKey netted sink drain, one epoch, exact decimals
    "q289_morlog_composite_cdc" -> ((s, d) =>
      CoreQueries.morLogCompositeCdc(s, d)),
    // quarantine-list DELETE: non-correlated IN (SELECT …) folds to a
    // stats-prunable literal set; one commit; correlated refuses
    "q290_morlog_delete_subquery" -> ((s, d) =>
      CoreQueries.morLogDeleteSubquery(s, d)),
    // durable TBLPROPERTIES: one metadata commit, SHOW round-trips,
    // the table-level writer cap governs the sink (counter-pinned)
    "q291_morlog_tblproperties" -> ((s, d) =>
      CoreQueries.morLogTblProps(s, d)),
    // version-stamped ANN index: stale serving refuses, CDF refresh
    // rewrites O(delta) files (counter-pinned), answers == tip corpus
    "q292_pq_refresh" -> ((s, d) => LlmQueries.pqRefresh(s, d)),
    // persisted LSH band index: 3 rolling ingests (batch-only
    // hashing, bucket-pruned candidate scans) == one-shot q20 exactly
    "q293_band_index_dedup" -> ((s, d) =>
      LlmQueries.bandIndexDedup(s, d)),
    // tied coarse ordinals drain in one epoch on the netBy tiebreak
    // LIST; mirror row-exact (single-column netBy would refuse)
    "q294_morlog_stream_net_ties" -> ((s, d) =>
      CoreQueries.morLogStreamNetTies(s, d)),
    // version-stamped IVF index (q292's contract, cell-shaped):
    // stale serving refuses, CDF refresh rewrites only the cells the
    // changed ids left/entered (counter-pinned), routed answers ==
    // the post-mutation corpus
    "q295_ivf_refresh" -> ((s, d) => LlmQueries.ivfRefresh(s, d)),
    // composite-key quarantine DELETE: (k1,k2) IN (SELECT …) folds
    // to a struct-literal In + per-column prune lists; one commit;
    // NULL list members refuse loud
    "q296_morlog_delete_tuple_subquery" -> ((s, d) =>
      CoreQueries.morLogDeleteTupleSubquery(s, d)),
  )

  // DuckDB twins. Conventions shared with the Spark side (graft.Oracle):
  // second-precision strftime for event timestamps (ns parquet),
  // DECIMAL-routed money sums, BIGINT-aligned integer outputs,
  // deterministic window tie-breaks on (formatted ts, key).
  /** The full MinHash-LSH pipeline in SQL — shared verbatim by q20
    * (the one-shot batch pipeline) and q293 (the persisted band
    * index's rolling ingest), because the index form's CONTRACT is
    * exact equality with the batch result. */
  private val minhashLshOracle: String =
    """WITH str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         j AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id)
         SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.8"""

  /** Shared CTE block: trigram 60-bit shingle hashes split into the
    * corpus/benchmark halves — used verbatim by BOTH q41 and q57 so
    * the contamination definition can never drift between them. */
  private val contaminationCtes: String =
    """sh AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(
                 list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])),
                 s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
             ELSE [] END AS grams
           FROM documents),
         corpus AS (SELECT doc_id, unnest(grams) AS gram FROM sh
           WHERE doc_id % 20 <> 0),
         bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
           WHERE doc_id % 20 = 0)"""

  /** Shared oracle: routed IVF top-3 (min-id representative per
    * label-cell, queries cosine-routed to their nearest rep, exact
    * top-3 within the assigned cell) — used verbatim by q36 (inline
    * scan), q185 (persisted-index pruned read), and q186 (incremental
    * append), so the routing definition can never drift between the
    * inline and indexed paths. */
  private val ivfRoutedOracle: String =
    """WITH e AS (SELECT vec_id, label AS cell,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
         reps AS (SELECT e.cell, e.v AS rv FROM e
           JOIN (SELECT cell, min(vec_id) AS rep_id FROM e GROUP BY cell) r
             ON e.vec_id = r.rep_id),
         routed AS (SELECT q.query_id, reps.cell, q.qv,
             round(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> q.qv[i] * reps.rv[i])) /
               (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(reps.rv, x -> x * x)))), 5) AS rcos
           FROM q CROSS JOIN reps),
         assigned AS (SELECT query_id, cell, qv FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rcos DESC, cell ASC) AS rr FROM routed)
           WHERE rr = 1),
         s AS (SELECT a.query_id, a.cell, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(a.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM assigned a JOIN e ON a.cell = e.cell
             AND a.query_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, cell, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3"""

  /** Shared CTE chain: MinHash-LSH near-dup pairs → recursive
    * min-label closure ending at `comp(id, canonical)` — used verbatim
    * by q59 (doc→cluster rows) and q108 (cluster-size histogram) so
    * the clustering definition can never drift between them. */
  private val dedupGroupCtes: String =
    """str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         j AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id),
         und AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jaccard >= 0.8
                 UNION
                 SELECT doc_b, doc_a FROM j WHERE jaccard >= 0.8),
         reach(id, lbl) AS (
           SELECT a, a FROM und
           UNION
           SELECT u.a, r.lbl FROM und u JOIN reach r ON u.b = r.id),
         comp AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)"""

  /** Shared CTE chain: sign-bucketed top-2 cosine kNN edges over the
    * embedding corpus, ending at `e(src, dst)` — used verbatim by q88
    * (PageRank) and q111 (triangles) so the graph definition cannot
    * drift between them. */
  private val knnEdgeCtes: String =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > embedding[2] THEN 1 ELSE 0 END
            + CASE WHEN embedding[3] > embedding[4] THEN 2 ELSE 0 END
            + CASE WHEN embedding[5] > embedding[6] THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] > embedding[8] THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM e0 a JOIN e0 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         rk AS (SELECT *, row_number() OVER (PARTITION BY src
                 ORDER BY cos5 DESC, dst) AS rank FROM p),
         e AS (SELECT src, dst FROM rk WHERE rank <= 2)"""

  /** Shared by q208 (indexed drain) and q215 (same drain + one
    * maintain() pass): maintenance must be value-invisible. */
  private val indexedDrainOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(CASE WHEN event_id % 1000 = 2
                            THEN value + 10000.0 ELSE value END
                       AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         CAST(sum(event_id) AS BIGINT) AS sum_event_id
       FROM events
       WHERE (event_id % 2 = 0 AND event_id % 1000 <> 502)
          OR event_id % 1000 = 1
       GROUP BY event_type"""

  /** Shared by q212 (copy-on-write fold) and q213 (merge-on-read
    * fold): same scenario, same rows — only the storage plan differs. */
  private val scd2IntervalOracle: String =
    """WITH base AS (
         SELECT user_id,
           CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
             AS BIGINT) AS attr
         FROM events GROUP BY user_id),
       allb AS (
         SELECT user_id, attr, '2024-01-01 00:00:00' AS ts, 'U' AS op
         FROM base
         UNION ALL
         SELECT user_id,
           CASE WHEN user_id % 2 = 0 THEN attr + 100 ELSE attr END AS attr,
           '2024-02-01 00:00:00' AS ts, 'U' AS op
         FROM base WHERE user_id % 2 = 0 OR user_id % 10 = 1
         UNION ALL
         SELECT user_id, CAST(NULL AS BIGINT) AS attr,
           '2024-03-01 00:00:00' AS ts, 'D' AS op
         FROM base WHERE user_id % 5 = 0
         UNION ALL
         SELECT user_id + 1000000 AS user_id, CAST(7 AS BIGINT) AS attr,
           '2024-03-01 00:00:00' AS ts, 'I' AS op
         FROM base WHERE user_id % 3 = 0),
       seq AS (
         SELECT *, LAG(attr) OVER w AS p_attr, LAG(op) OVER w AS p_op
         FROM allb WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       changes AS (
         SELECT * FROM seq
         WHERE p_op IS NULL
            OR (op = 'D' AND p_op <> 'D')
            OR (op <> 'D' AND (p_op = 'D' OR attr IS DISTINCT FROM p_attr))),
       iv AS (
         SELECT user_id, attr, op, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
         FROM changes)
       SELECT user_id, attr, valid_from, valid_to,
         (valid_to IS NULL) AS is_current
       FROM iv WHERE op <> 'D'"""

  /** Shared by q218 (one-pass covariance kernel) and q222 (the same
    * moments maintained as streaming state — merge-then-derive must
    * equal derive-of-union). */
  /** Shared by q207 (packed drain) and q246 (drain across the
    * per-file DV migration + maintain) — same final state, three
    * physical histories. */
  private val morDrainFoldOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_id % 10 = 4
                              THEN value + 10000.0 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 8
         GROUP BY event_type"""

  /** Shared by q240 (drain) and q244 (post-pack read) — small-file
    * compaction must be value-invisible. */
  /** Shared by q255 (one-pass KLL sketch A/B) and q256 (the same
    * sketch folded across a fenced streaming drain): both emit the
    * EXACT rank-based quantiles — integer-ceil ranks over a
    * (value, event_id) order — while the sketch estimates are
    * rank-asserted inside the queries themselves. */
  /** Shared by q82 (one-pass CMS heavy hitters) and q261 (the same
    * grid SUM-folded across a fenced streaming drain): counter sums
    * are associative, so both are the SAME deterministic grid. */
  private val cmsHeavyOracle: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
           FROM documents),
         occ AS (SELECT CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS x
           FROM toks),
         cells AS (SELECT h,
             ((((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
               + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
               + h) % 1073741789) % 1024 AS bucket,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM occ, unnest(range(4)) AS t(h) GROUP BY h, bucket),
         tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM toks GROUP BY tok),
         top AS (SELECT tok, cnt,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS x
           FROM tf ORDER BY cnt DESC, tok LIMIT 20),
         probes AS (SELECT t.tok, t.cnt, u.h,
             ((((2654435761 * (u.h + 1)) % 1073741789) * (t.x // 1073741824)
               + ((2246822519 * (u.h + 1)) % 1073741789) * (t.x % 1073741824)
               + u.h) % 1073741789) % 1024 AS bucket
           FROM top t, unnest(range(4)) AS u(h))
         SELECT p.tok, p.cnt AS exact_cnt, MIN(c.c) AS cms_est,
           MIN(c.c) - p.cnt AS overcount
         FROM probes p JOIN cells c ON p.h = c.h AND p.bucket = c.bucket
         GROUP BY p.tok, p.cnt"""

  private val exactQuantileOracle: String =
    """WITH r AS (
         SELECT event_type, value, event_id,
                row_number() OVER (PARTITION BY event_type
                  ORDER BY value, event_id) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
         FROM events)
       SELECT event_type, CAST(max(n) AS BIGINT) AS n_events,
         MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS p50,
         MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90,
         MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN value END) AS p99
       FROM r GROUP BY event_type"""

  /** Shared by q252 (full OPTIMIZE-ZORDER rewrite) and q258 (the
    * incremental small-file clustering): both are value-invisible
    * layout moves over the same delete complement and box. */
  private val clusterBoxOracle: String =
    """WITH b AS (SELECT max(event_id) * 2 // 5 AS e0,
                  max(event_id) * 3 // 5 AS e1,
                  max(user_id) // 5 AS u0,
                  max(user_id) * 2 // 5 AS u1 FROM events)
       SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           AS total_value,
         CAST(sum(event_id) AS BIGINT) AS sum_event_id
       FROM events, b
       WHERE event_id % 10 <> 6
         AND event_id >= e0 AND event_id < e1
         AND user_id >= u0 AND user_id < u1
       GROUP BY event_type"""

  private val morLogDrainOracle: String =
    """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id)
         SELECT user_id,
           CASE WHEN user_id % 10 = 0 THEN val + 100 ELSE val END AS val
         FROM base"""

  /** Shared by q239 (snapshot diff) and q241 (incremental CDF) — the
    * two change-feed implementations must net to ONE truth. */
  private val morLogDiffOracle: String =
    """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         v2 AS (SELECT * FROM (
                  SELECT user_id,
                    CASE WHEN user_id % 4 = 0 THEN val + 100 ELSE val END AS val
                  FROM base
                  UNION ALL
                  SELECT user_id + 1000000, val + 9
                  FROM base WHERE user_id % 9 = 0)
                WHERE user_id % 7 <> 0)
         SELECT COALESCE(base.user_id, v2.user_id) AS user_id,
           CASE WHEN base.user_id IS NULL THEN 'insert'
                WHEN v2.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           base.val AS old_val, v2.val AS new_val
         FROM base FULL OUTER JOIN v2 ON base.user_id = v2.user_id
         WHERE base.user_id IS NULL OR v2.user_id IS NULL
            OR base.val <> v2.val"""

  private val embedCovOracle =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       x AS (SELECT i, j, v[i] * v[j] AS p, v[i] AS xi, v[j] AS xj
             FROM e,
               unnest(range(1, len(v) + 1)) AS t(i),
               unnest(range(1, len(v) + 1)) AS t2(j)
             WHERE j >= i)
       SELECT CAST(i - 1 AS INT) AS di, CAST(j - 1 AS INT) AS dj,
         floor((AVG(p) - AVG(xi) * AVG(xj)) * 100000.0 + 0.5) / 100000.0
           AS cov5
       FROM x GROUP BY 1, 2"""

  /** Shared by q220 (inline PQ-ADC) and q226 (the persisted index —
    * same codebook, same codes, same ranks; only the storage plan
    * differs). */
  private val pqAdcOracle =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       mu AS (SELECT i, AVG(v[i]) AS mu
              FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
       cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                  THEN 1 << b ELSE 0 END) AS INT) AS code
              FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
              WHERE mu.i = s * 8 + b + 1
              GROUP BY 1, 2),
       cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                AVG(e.v[cd.s * 8 + b + 1]) AS cv
              FROM e JOIN cd USING (vec_id), range(0, 8) tb(b)
              GROUP BY 1, 2, 3),
       q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
       lut AS (SELECT q.query_id, cb.s, cb.code,
                 SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
               FROM q, cb GROUP BY 1, 2, 3),
       sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                SUM(lut.dot8) AS adc
              FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
              WHERE cd.vec_id <> lut.query_id
              GROUP BY 1, 2),
       r AS (SELECT query_id, neighbor_id,
               floor(adc * 100000.0 + 0.5) / 100000.0 AS adc5,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                   neighbor_id) AS rank
             FROM sc)
       SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc5
       FROM r WHERE rank <= 3"""

  def oracleSql: Map[String, String] = Map(
    "q213_scd2_mor" -> scd2IntervalOracle,
    "q214_scd2_stream" -> scd2IntervalOracle,
    "q216_stream_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id AS purchase_id, ts AS p_ts
               FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, COUNT(*) AS n_pairs,
           COUNT(DISTINCT click_id) AS n_clicks,
           COUNT(DISTINCT purchase_id) AS n_purchases
         FROM c JOIN p ON p.user_id = c.user_id
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 4 HOUR
         GROUP BY c.user_id""",
    "q229_stream_outer_join" ->
      """WITH c AS (SELECT user_id, event_id AS click_id, ts AS c_ts
               FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id AS p_user, event_id AS purchase_id,
               ts AS p_ts FROM events WHERE event_type = 'purchase')
         SELECT c.user_id, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unmatched,
           CAST(SUM(CASE WHEN purchase_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pairs
         FROM c LEFT JOIN p ON p.p_user = c.user_id
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 4 HOUR
         GROUP BY c.user_id""",
    // right outer: q229's oracle shape with the sides swapped
    "q235_stream_router_join" ->
      """WITH c AS (SELECT user_id AS c_user, event_id AS click_id,
               ts AS c_ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id, event_id AS purchase_id,
               ts AS p_ts FROM events WHERE event_type = 'purchase')
         SELECT p.user_id, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unmatched,
           CAST(SUM(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pairs
         FROM p LEFT JOIN c ON c.c_user = p.user_id
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 4 HOUR
         GROUP BY p.user_id""",
    // full outer: both sides' unmatched, grouped on whichever is present
    "q236_stream_fouter_join" ->
      """WITH c AS (SELECT user_id AS c_user, event_id AS click_id,
               ts AS c_ts FROM events WHERE event_type = 'click'),
           p AS (SELECT user_id AS p_user, event_id AS purchase_id,
               ts AS p_ts FROM events WHERE event_type = 'purchase')
         SELECT COALESCE(c_user, p_user) AS user_id, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unmatched_clicks,
           CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unmatched_purchases,
           CAST(SUM(CASE WHEN click_id IS NOT NULL
                     AND purchase_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_pairs
         FROM c FULL JOIN p ON p.p_user = c.c_user
           AND p.p_ts >= c.c_ts AND p.p_ts <= c.c_ts + INTERVAL 4 HOUR
         GROUP BY COALESCE(c_user, p_user)""",
    "q230_dv_undelete" ->
      """SELECT user_id,
           CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
             AS BIGINT) AS val
         FROM events GROUP BY user_id
         HAVING user_id % 7 <> 0""",
    "q217_stream_sessions" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s FROM events),
         d AS (SELECT *, CASE WHEN lag(s) OVER w IS NULL
                 OR s - lag(s) OVER w > 14400 THEN 1 ELSE 0 END AS boundary
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         x AS (SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id
                 ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
               FROM d)
         SELECT user_id,
           strftime(make_timestamp(MIN(s) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(MAX(s) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
         FROM x GROUP BY user_id, session_idx""",
    "q218_embed_cov" -> embedCovOracle,
    "q222_stream_cov" -> embedCovOracle,
    "q231_grouped_cov" ->
      """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         x AS (SELECT label, i, j, v[i] * v[j] AS p, v[i] AS xi, v[j] AS xj
               FROM e,
                 unnest(range(1, len(v) + 1)) AS t(i),
                 unnest(range(1, len(v) + 1)) AS t2(j)
               WHERE j >= i)
         SELECT label, CAST(i - 1 AS INT) AS di, CAST(j - 1 AS INT) AS dj,
           floor((AVG(p) - AVG(xi) * AVG(xj)) * 100000.0 + 0.5) / 100000.0
             AS cov5
         FROM x GROUP BY 1, 2, 3""",
    "q223_schema_evolve" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         ev AS (SELECT user_id, val, CAST(NULL AS VARCHAR) AS tier FROM base
           UNION ALL
           SELECT user_id + 1000000, val + 1,
             't' || CAST(user_id % 4 AS VARCHAR)
           FROM base WHERE user_id % 3 = 0)
         SELECT user_id, val, tier FROM ev WHERE user_id % 7 <> 0""",
    // per-file (post-migration) deletion vectors answer exactly like
    // plain predicate deletes — the representation is invisible
    "q232_dv_inscan" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id)
         SELECT user_id, val FROM base
         WHERE user_id % 7 <> 0 AND user_id % 11 <> 3""",
    // metadata-widened int column: old int32 files and new bigint
    // files answer under ONE bigint schema
    "q233_type_widen" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS INT) AS vi
           FROM events GROUP BY user_id),
         ev AS (SELECT user_id, CAST(vi AS BIGINT) AS val FROM base
           UNION ALL
           SELECT user_id + 1000000, user_id + 3000000000
           FROM base WHERE user_id % 3 = 0)
         SELECT user_id, val FROM ev WHERE user_id % 7 <> 0""",
    // upsert (updates + inserts) then delete, folded to the final state
    "q238_morlog_upsert" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         up AS (SELECT user_id,
                  CASE WHEN user_id % 4 = 0 THEN val + 100 ELSE val END AS val
                FROM base
                UNION ALL
                SELECT user_id + 1000000, val + 9
                FROM base WHERE user_id % 9 = 0)
         SELECT user_id, val FROM up WHERE user_id % 7 <> 0""",
    // v0→v2 diff: inserts (new keys), updates (%4 repriced, not
    // deleted), deletes (%7 keys gone) — unchanged keys emit nothing
    "q239_morlog_changes" -> morLogDiffOracle,
    // the INCREMENTAL feed nets to the identical diff — one oracle,
    // two implementations (snapshot scan vs per-version log deltas)
    "q241_morlog_cdf" -> morLogDiffOracle,
    // restore(v0) must reproduce the original aggregate exactly
    "q242_morlog_restore" ->
      """SELECT user_id,
           CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
             AS BIGINT) AS val
         FROM events GROUP BY user_id""",
    // (format, aspect-bucket) routing incl. the corrupt-quarantine cell
    "q245_aspect_buckets" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 31 = 0 THEN NULL
                  WHEN doc_id % 4 = 0 THEN 'png'
                  WHEN doc_id % 4 = 1 THEN 'jpeg'
                  WHEN doc_id % 4 = 2 THEN 'gif'
                  ELSE 'webp' END AS format,
             doc_id % 640 + 16 AS w, doc_id % 480 + 16 AS h
           FROM documents)
         SELECT COALESCE(format, 'corrupt') AS format,
           CASE WHEN format IS NULL THEN -1
                ELSE CAST(floor(w * 10 / h) AS BIGINT) END AS aspect10,
           COUNT(*) AS n_blobs,
           CAST(SUM(CASE WHEN format IS NULL THEN 0 ELSE w * h END)
             AS BIGINT) AS sum_pixels
         FROM d GROUP BY 1, 2""",
    // the parsed container dims are pure doc_id arithmetic; corrupted
    // (%31) payloads surface NULLs
    "q243_image_dims" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                WHEN doc_id % 4 = 0 THEN 'png'
                WHEN doc_id % 4 = 1 THEN 'jpeg'
                WHEN doc_id % 4 = 2 THEN 'gif'
                ELSE 'webp' END AS format,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                ELSE CAST(doc_id % 640 + 16 AS INT) END AS width,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                ELSE CAST(doc_id % 480 + 16 AS INT) END AS height
         FROM documents""",
    // drain fold: evens seeded, %10 repriced by the feed, odds inserted
    "q240_morlog_stream" -> morLogDrainOracle,
    // the CDC-merge drain's net state: in the covered range every 5th
    // user deletes and the rest reprice +500; 10 inserts per chunk;
    // the tail never moves
    "q271_morlog_stream_merge" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         m AS (SELECT max(user_id) AS mu, max(user_id) // 8 + 1 AS r
           FROM base),
         u AS (
           SELECT user_id,
               CASE WHEN user_id < 6 * m.r THEN val + 500 ELSE val END
                 AS val
             FROM base, m
             WHERE NOT (user_id < 6 * m.r AND user_id % 5 = 0)
           UNION ALL
           SELECT m.mu + 1 + j, j % 10 + 1
             FROM m, unnest(range(0, 60)) AS t(j))
         SELECT user_id, val FROM u""",
    // the packed table answers exactly like the never-packed drain
    "q244_morlog_packed" -> morLogDrainOracle,
    // the drain that crossed the per-file migration mid-stream (and
    // was maintained through the migrated store) answers identically
    "q248_morlog_stream_pf" -> morLogDrainOracle,
    // stats-pruned range read = the plain range filter over the
    // delete complement (skipping is value-invisible by construction;
    // the query itself asserts a file was actually skipped)
    "q249_morlog_stats_skip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 6
           AND event_id >= 100 AND event_id < 600
         GROUP BY event_type""",
    // the parsed audio container fields are pure doc_id arithmetic;
    // corrupted (%29) payloads surface NULLs; durations are the
    // parser's integer formulas (WAV/FLAC: samples*1000/rate; CBR
    // MP3: stream-bytes*8000/bps over an ID3v2-skipped stream; VBR
    // MP3: the Xing/VBRI frame count × 1152 samples over the rate)
    "q250_audio_meta" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 4 AS fmt,
             CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               WHEN 2 THEN 44100 ELSE 48000 END AS prate,
             CASE (doc_id % 5) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
               ELSE 32000 END AS mrate,
             CAST((doc_id % 3) % 2 + 1 AS INT) AS ch,
             (doc_id % 1000 + 1) * 441 AS units,
             (doc_id % 2000 + 100) AS vframes,
             CASE doc_id % 14 + 1 WHEN 1 THEN 32 WHEN 2 THEN 40
               WHEN 3 THEN 48 WHEN 4 THEN 56 WHEN 5 THEN 64
               WHEN 6 THEN 80 WHEN 7 THEN 96 WHEN 8 THEN 112
               WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192
               WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS kbps
           FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 29 = 0 THEN NULL WHEN fmt = 0 THEN 'wav'
                WHEN fmt = 1 THEN 'flac' ELSE 'mp3' END AS format,
           CASE WHEN doc_id % 29 = 0 THEN NULL
                WHEN fmt >= 2 THEN CAST(mrate AS INT)
                ELSE CAST(prate AS INT) END AS sample_rate,
           CASE WHEN doc_id % 29 = 0 THEN NULL ELSE ch END AS channels,
           CASE WHEN doc_id % 29 = 0 THEN NULL
                WHEN fmt = 2 THEN CAST(
                  (kbps * (doc_id % 5 + 1) + 4) * 8000 // (kbps * 1000)
                  AS BIGINT)
                WHEN fmt = 3 THEN CAST(
                  vframes * 1152 * 1000 // mrate AS BIGINT)
                ELSE CAST(units * 1000 // prate AS BIGINT)
             END AS duration_ms
         FROM d""",
    // span scrub: every word position covered by a 5-gram occurring
    // in >= 2 distinct docs is cut, survivors rejoined in order (the
    // Spark side groups by 60-bit gram hashes, the oracle by gram
    // strings — equal strings hash equal; collisions are ~2^-60)
    "q251_span_scrub" ->
      """WITH tok AS (
           SELECT doc_id, string_split(text, ' ') AS w,
                  len(string_split(text, ' ')) AS nw
           FROM documents),
         grams AS (
           SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS g
           FROM tok, unnest(range(1, nw - 3)) AS t(i)),
         dup AS (
           SELECT g FROM grams GROUP BY g
           HAVING count(DISTINCT doc_id) >= 2),
         cov AS (
           SELECT DISTINCT grams.doc_id, grams.i + t.k AS widx
           FROM grams JOIN dup USING (g), unnest(range(0, 5)) AS t(k)),
         words AS (
           SELECT doc_id, i AS widx, w[i] AS word
           FROM tok, unnest(range(1, nw + 1)) AS t(i)),
         kept AS (
           SELECT words.doc_id, count(*) AS n_kept,
                  string_agg(words.word, ' ' ORDER BY words.widx)
                    AS clean_text
           FROM words ANTI JOIN cov
             ON words.doc_id = cov.doc_id AND words.widx = cov.widx
           GROUP BY words.doc_id)
         SELECT tok.doc_id,
           COALESCE(kept.clean_text, '') AS clean_text,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(tok.nw - COALESCE(kept.n_kept, 0) AS BIGINT) AS n_cut
         FROM tok LEFT JOIN kept USING (doc_id)""",
    // the sketch is asserted in-query; the emitted columns are the
    // EXACT rank-based quantiles (integer-ceil ranks, value+id order)
    // both stages replicated: ADC shortlist to 12 off mean-threshold
    // codes, exact dot re-rank of only the shortlist to top-3
    "q257_pq_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                  AVG(e.v[cd.s * 8 + b + 1]) AS cv
                FROM e JOIN cd USING (vec_id), range(0, 8) tb(b)
                GROUP BY 1, 2, 3),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         lut AS (SELECT q.query_id, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                     neighbor_id) AS rank
               FROM sc),
         cand AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 12),
         ex AS (SELECT cand.query_id, cand.neighbor_id,
                  floor(SUM(q.v[i] * e.v[i]) * 100000.0 + 0.5)
                    / 100000.0 AS dot5
                FROM cand
                  JOIN q ON q.query_id = cand.query_id
                  JOIN e ON e.vec_id = cand.neighbor_id,
                  unnest(range(1, len(q.v) + 1)) AS t(i)
                GROUP BY 1, 2),
         r2 AS (SELECT query_id, neighbor_id, dot5,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dot5 DESC, neighbor_id) AS rank
                FROM ex)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           dot5
         FROM r2 WHERE rank <= 3""",
    // q257's two-stage replication over the MUTATED corpus: thresholds
    // (mu) and codebook (cb) train on the ORIGINAL corpus e0 (the
    // build snapshot — train once, encode forever), codes re-derive
    // over the FINAL corpus e (erasure cut + doubled vectors); unseen
    // cells score 0 on both engines (inner cell join)
    "q292_pq_refresh" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                     FROM embeddings),
         m0 AS (SELECT max(vec_id) AS hi FROM embeddings),
         e AS (SELECT vec_id,
                 CASE WHEN vec_id % 10 = 4 AND vec_id <= m0.hi // 4
                   THEN list_transform(v, x -> x * 2) ELSE v END AS v
               FROM e0, m0
               WHERE NOT (vec_id % 10 = 3 AND vec_id <= m0.hi // 4)),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM e0, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd0 AS (SELECT e0.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e0.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e0, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd0.s, cd0.code, CAST(b AS INT) AS b,
                  AVG(e0.v[cd0.s * 8 + b + 1]) AS cv
                FROM e0 JOIN cd0 USING (vec_id), range(0, 8) tb(b)
                GROUP BY 1, 2, 3),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         lut AS (SELECT q.query_id, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                     neighbor_id) AS rank
               FROM sc),
         cand AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 12),
         ex AS (SELECT cand.query_id, cand.neighbor_id,
                  floor(SUM(q.v[i] * e.v[i]) * 100000.0 + 0.5)
                    / 100000.0 AS dot5
                FROM cand
                  JOIN q ON q.query_id = cand.query_id
                  JOIN e ON e.vec_id = cand.neighbor_id,
                  unnest(range(1, len(q.v) + 1)) AS t(i)
                GROUP BY 1, 2),
         r2 AS (SELECT query_id, neighbor_id, dot5,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY dot5 DESC, neighbor_id) AS rank
                FROM ex)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           dot5
         FROM r2 WHERE rank <= 3""",
    // the watermark recurrence replayed in SQL: batch b's rows are
    // late iff older than (max event time over batches < b) − 1 h
    "q259_stream_dlq" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
         a AS (SELECT e.*, LEAST(e.event_id * 8 // (m.mx + 1) +
                 CASE WHEN e.event_id % 37 = 0 THEN 1 ELSE 0 END, 7)
                 AS b
               FROM events e, m),
         wm AS (SELECT b, max(ts) AS mxts FROM a GROUP BY b),
         wmc AS (SELECT b, max(mxts) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS wm_prev
                 FROM wm),
         r AS (SELECT a.event_type, a.event_id,
                 CASE WHEN wmc.wm_prev IS NOT NULL
                      AND a.ts < wmc.wm_prev - INTERVAL 1 HOUR
                      THEN 1 ELSE 0 END AS late
               FROM a JOIN wmc USING (b))
         SELECT event_type,
           CAST(sum(1 - late) AS BIGINT) AS n_main,
           CAST(sum(late) AS BIGINT) AS n_dlq,
           CAST(COALESCE(sum(CASE WHEN late = 1 THEN event_id END), 0)
             AS BIGINT) AS dlq_sum_event_id
         FROM r GROUP BY event_type""",
    // the full four-stage pipeline composed: Gopher gate, min-id
    // exact dedup, benchmark 5-gram decontamination, 512-token bins
    "q263_curation_pipeline" ->
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
           FROM documents),
         s AS (SELECT doc_id, text, w, len(w) AS n,
             CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
               / len(w) AS mean_len,
             1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)
               AS rep_ratio,
             len(list_filter(w,
               t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS stop_hits
           FROM d),
         gated AS (SELECT doc_id, text, w FROM s
           WHERE n >= 5 AND n <= 1000
             AND mean_len >= 2.0 AND mean_len <= 12.0
             AND stop_hits >= 1 AND rep_ratio <= 0.5),
         keeper AS (SELECT md5(text) AS h, MIN(doc_id) AS kid
           FROM gated GROUP BY 1),
         dd AS (SELECT g.doc_id, g.w FROM gated g
           JOIN keeper k ON g.doc_id = k.kid),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 5 THEN
               list_distinct(list_transform(
                 list_distinct(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                     || w[i+3] || ' ' || w[i+4])),
                 s2 -> CAST('0x' || substr(md5(s2), 1, 15) AS BIGINT)))
             ELSE [] END AS grams
           FROM d),
         bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
           WHERE doc_id % 10 = 0),
         poolg AS (SELECT dd.doc_id, unnest(sh.grams) AS gram
           FROM dd JOIN sh USING (doc_id) WHERE dd.doc_id % 10 <> 0),
         contaminated AS (SELECT DISTINCT p.doc_id
           FROM poolg p JOIN bench b ON p.gram = b.gram),
         clean AS (SELECT dd.doc_id, CAST(len(dd.w) AS BIGINT) AS n
           FROM dd ANTI JOIN contaminated c ON dd.doc_id = c.doc_id
           WHERE dd.doc_id % 10 <> 0),
         c AS (SELECT doc_id, n,
             COALESCE(CAST(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS strt
           FROM clean)
         SELECT strt // 512 AS bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_tokens, MIN(doc_id) AS first_doc
         FROM c GROUP BY 1""",
    // the transient column never reaches the answer: original rows
    // plus the 50 evolved rows, flag dropped
    "q267_morlog_dropcol" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
         u AS (SELECT event_id, event_type, value FROM events
           UNION ALL
           SELECT m.mx + i, 'evolved', CAST(i AS DOUBLE)
           FROM m, unnest(range(1, 51)) AS t(i))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM u GROUP BY event_type""",
    // conditional-merge routing as a SQL fold: every 8th event
    // reprices up (the only matched-update clause hit), matched
    // non-updates die only on the user_id%5 clause, click%11
    // target-only rows purge, and only even-user candidates insert
    "q268_morlog_merge_when" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
         u AS (
           SELECT event_id, 'repriced' AS event_type,
               value + 100 AS value
             FROM events WHERE event_id % 8 = 0
           UNION ALL
           SELECT event_id, event_type, value FROM events
             WHERE event_id % 4 = 0 AND event_id % 8 <> 0
               AND user_id % 5 <> 0
           UNION ALL
           SELECT event_id, event_type, value FROM events
             WHERE event_id % 4 <> 0
               AND NOT (event_type = 'click' AND event_id % 11 = 0)
           UNION ALL
           SELECT m.mx + i, 'merged', CAST(i AS DOUBLE)
             FROM m, unnest(range(1, 41)) AS t(i) WHERE i % 2 = 0)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM u GROUP BY event_type""",
    // renames are value-invisible: the oracle is the q262-style fold
    // (delete every 10th%6, reprice every 7th of the survivors) with
    // the outputs under the RENAMED aliases
    "q269_morlog_rename" ->
      """WITH base AS (SELECT event_id, event_type, value FROM events
           WHERE event_id % 10 <> 6),
         u AS (SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN value + 1000 ELSE value END
               AS value
           FROM base)
         SELECT event_type AS etype, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_amount,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM u GROUP BY event_type""",
    // the connector is value-invisible: the q269-style fold, filtered
    // at the pushed cut (max*2//5) — skipping asserted in-query
    "q270_morlog_dsv2" ->
      """WITH m AS (SELECT max(event_id) * 2 // 5 AS cut FROM events),
         base AS (SELECT event_id, event_type, value FROM events
           WHERE event_id % 10 <> 6),
         u AS (SELECT event_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN value + 1000 ELSE value END
               AS value
           FROM base)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_amount,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM u, m WHERE event_id >= m.cut GROUP BY event_type""",
    // the typed connector read: same lifecycle over the bookings-fact
    // shape (timestamp cut, decimal money, nested status field)
    "q272_morlog_typed_dsv2" ->
      """WITH base AS (SELECT o_orderkey AS booking_id,
             CAST(floor(o_totalprice * 100 + 0.5) / 100
               AS DECIMAL(10,2)) AS price,
             o_orderdate AS ts, o_orderstatus AS status
           FROM orders WHERE o_orderkey % 10 <> 6),
         u AS (SELECT booking_id, ts, status,
             CASE WHEN booking_id % 7 = 0 THEN price + 100 ELSE price END
               AS price
           FROM base)
         SELECT status, CAST(count(*) AS BIGINT) AS n_bookings,
           CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price,
           CAST(sum(booking_id) AS BIGINT) AS sum_id
         FROM u WHERE ts >= TIMESTAMP '1999-01-01 00:00:00'
         GROUP BY status""",
    // the change feed through the connector: v1 deletes every 10th
    // key, v2's upsert is its delete+insert pair (raw per-version
    // events, Delta's table_changes shape)
    "q273_morlog_changes_dsv2" ->
      """WITH del1 AS (SELECT event_id, event_type, 'delete' AS ct,
             1 AS v FROM events WHERE event_id % 10 = 3),
         up AS (SELECT event_id, event_type FROM events
           WHERE event_id % 10 <> 3 AND event_id % 9 = 0),
         ev AS (SELECT * FROM del1
           UNION ALL SELECT event_id, event_type, 'delete', 2 FROM up
           UNION ALL SELECT event_id, event_type, 'insert', 2 FROM up)
         SELECT ct AS change_type, v AS commit_version, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id
         FROM ev GROUP BY 1, 2, 3""",
    // round-13 audio formats: opus duration = EOS granule − pre-skip
    // over the 48 kHz decode clock; m4a = mdhd duration/timescale;
    // adts = frames × 1024 samples / rate; vorbis = EOS granule over
    // the stream's own rate
    "q275_audio_meta2" ->
      """WITH d AS (
           SELECT doc_id, doc_id % 4 AS fmt,
             CASE (doc_id % 7) % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
               WHEN 2 THEN 44100 ELSE 48000 END AS prate,
             CASE (doc_id % 5) % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000
               ELSE 32000 END AS mrate,
             CASE doc_id % 5 WHEN 0 THEN 48000 WHEN 1 THEN 44100
               WHEN 2 THEN 32000 WHEN 3 THEN 16000 ELSE 8000
               END AS arate,
             doc_id % 3000 + 48 AS osamples,
             (doc_id % 2000 + 100) * 441 AS msamples,
             doc_id % 500 + 10 AS aframes
           FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 31 = 0 THEN NULL WHEN fmt = 0 THEN 'opus'
                WHEN fmt = 3 THEN 'vorbis'
                ELSE 'aac' END AS format,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                WHEN fmt = 1 THEN CAST(mrate AS INT)
                WHEN fmt = 2 THEN CAST(arate AS INT)
                ELSE CAST(prate AS INT) END AS sample_rate,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                WHEN fmt = 2 THEN CAST(doc_id % 3 + 1 AS INT)
                ELSE CAST(doc_id % 2 + 1 AS INT) END AS channels,
           CASE WHEN doc_id % 31 = 0 THEN NULL
                WHEN fmt = 0 THEN osamples * 1000 // 48000
                WHEN fmt = 1 THEN msamples * 1000 // mrate
                WHEN fmt = 2 THEN aframes * 1024 * 1000 // arate
                ELSE osamples * 1000 // prate
                END AS duration_ms
         FROM d""",
    // round-13 image formats: the ispe property carries the dims
    "q276_image_meta2" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                WHEN doc_id % 2 = 0 THEN 'avif' ELSE 'heic'
                END AS format,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                ELSE CAST(doc_id % 2048 + 16 AS INT) END AS width,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                ELSE CAST(doc_id % 1024 + 16 AS INT) END AS height
         FROM documents""",
    // round-14 raster formats: BMP dims (negative height reads back
    // abs'd) and TIFF IFD entries
    "q284_image_meta3" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 'bmp' ELSE 'tiff'
                END AS format,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                ELSE CAST(doc_id % 2048 + 16 AS INT) END AS width,
           CASE WHEN doc_id % 19 = 0 THEN NULL
                ELSE CAST(doc_id % 1024 + 16 AS INT) END AS height
         FROM documents""",
    // fragmented MP4: mehd fragment_duration over the mvhd timescale —
    // the timescale choice makes duration_ms exactly (id%500+1)*100
    "q285_video_meta2" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 23 = 0 THEN NULL ELSE 'mp4'
                END AS format,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                ELSE CAST(doc_id % 1280 + 16 AS INT) END AS width,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                ELSE CAST(doc_id % 720 + 16 AS INT) END AS height,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                ELSE (doc_id % 500 + 1) * 100 END AS duration_ms
         FROM documents""",
    // the streaming CDC source's drained events: v0 = the create's
    // inserts, v1 = the delete's victims, v2 = the upsert's pair
    "q278_morlog_stream_source" ->
      """WITH ins0 AS (SELECT event_id, event_type, 'insert' AS ct,
             0 AS v FROM events),
         del1 AS (SELECT event_id, event_type, 'delete', 1
           FROM events WHERE event_id % 10 = 3),
         up AS (SELECT event_id, event_type FROM events
           WHERE event_id % 10 <> 3 AND event_id % 9 = 0),
         ev AS (SELECT * FROM ins0 UNION ALL SELECT * FROM del1
           UNION ALL SELECT event_id, event_type, 'delete', 2 FROM up
           UNION ALL SELECT event_id, event_type, 'insert', 2 FROM up)
         SELECT ct AS change_type, v AS commit_version, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(event_id) AS BIGINT) AS sum_id
         FROM ev GROUP BY 1, 2, 3""",
    // SQL MERGE (matched-delete / matched-update / not-matched-insert
    // over the low key slice, inserts re-keyed negative) then UPDATE
    // doubling the inserted rows — replayed in pure SQL; the one-
    // version-per-statement and locate-prune claims assert in-query
    "q279_morlog_sql_merge" ->
      """WITH cut AS (SELECT max(event_id) // 8 AS c FROM events),
         base AS (SELECT event_id, event_type, value FROM events),
         merged AS (
           SELECT b.event_id, b.event_type,
             CASE WHEN b.event_id % 10 = 4
                    AND b.event_id <= (SELECT c FROM cut)
               THEN b.value + 1000.0 ELSE b.value END AS value
           FROM base b
           WHERE NOT (b.event_id % 10 = 3
             AND b.event_id <= (SELECT c FROM cut))
           UNION ALL
           SELECT -b.event_id - 1, b.event_type || '_new', b.value
           FROM base b
           WHERE b.event_id % 10 = 5
             AND b.event_id <= (SELECT c FROM cut)),
         updated AS (SELECT event_id, event_type,
             CASE WHEN event_id < 0 THEN value * 2 ELSE value END
               AS value
           FROM merged)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM updated GROUP BY event_type""",
    // the mirrored table after the full CDC drain = the source's own
    // final snapshot: delete %10=3, upsert %9=0 (+500), delete %10=7
    // (mirror == source asserted row-exactly in-query)
    "q280_morlog_stream_sink" ->
      """WITH st1 AS (SELECT event_id, event_type, value FROM events
           WHERE event_id % 10 <> 3),
         st2 AS (SELECT event_id, event_type,
             CASE WHEN event_id % 9 = 0 THEN value + 500.0
               ELSE value END AS value
           FROM st1),
         st3 AS (SELECT * FROM st2 WHERE event_id % 10 <> 7)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM st3 GROUP BY event_type""",
    // the compact+vacuum lifecycle is value-invisible: the table
    // still folds to the plain events aggregate (file-count shrink,
    // retention and history narration assert in-query)
    "q283_morlog_procedures" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events GROUP BY event_type""",
    // the days(ts) hidden-partitioned table's one-day fold (the 1/30
    // partition prune asserts in-query)
    "q282_morlog_hidden_partition" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
           AND ts < TIMESTAMP '2024-01-16 00:00:00'
         GROUP BY event_type""",
    // composite-key MERGE: delete %10=3, add 1000 to %10=4, and the
    // %10=5 rows insert under a NEW (event_id, event_type||'_x')
    // tuple — same event_id as an existing row, so only tuple
    // matching (not single-key) classifies them NOT MATCHED
    "q286_morlog_composite_merge" ->
      """WITH cut AS (SELECT max(event_id) // 8 AS c FROM events),
         base AS (SELECT event_id, event_type, value FROM events),
         merged AS (
           SELECT b.event_id, b.event_type,
             CASE WHEN b.event_id % 10 = 4
                    AND b.event_id <= (SELECT c FROM cut)
               THEN b.value + 1000.0 ELSE b.value END AS value
           FROM base b
           WHERE NOT (b.event_id % 10 = 3
             AND b.event_id <= (SELECT c FROM cut))
           UNION ALL
           SELECT b.event_id, b.event_type || '_x', b.value
           FROM base b
           WHERE b.event_id % 10 = 5
             AND b.event_id <= (SELECT c FROM cut))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM merged GROUP BY event_type""",
    // the partition-scoped compact is value-invisible: the table
    // still folds to the plain events aggregate (the O(day) rewrite
    // set and untouched-file identity assert in-query)
    "q287_morlog_compact_where" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events GROUP BY event_type""",
    // the netted one-epoch drain lands the same final snapshot as
    // q280's capped multi-epoch drain (mirror == source asserted
    // row-exactly in-query)
    "q288_morlog_stream_net" ->
      """WITH st1 AS (SELECT event_id, event_type, value FROM events
           WHERE event_id % 10 <> 3),
         st2 AS (SELECT event_id, event_type,
             CASE WHEN event_id % 9 = 0 THEN value + 500.0
               ELSE value END AS value
           FROM st1),
         st3 AS (SELECT * FROM st2 WHERE event_id % 10 <> 7)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM st3 GROUP BY event_type""",
    // q288's lifecycle netted on the ("ord","seq") tiebreak list —
    // same final snapshot, same arithmetic
    "q294_morlog_stream_net_ties" ->
      """WITH st1 AS (SELECT event_id, event_type, value FROM events
           WHERE event_id % 10 <> 3),
         st2 AS (SELECT event_id, event_type,
             CASE WHEN event_id % 9 = 0 THEN value + 500.0
               ELSE value END AS value
           FROM st1),
         st3 AS (SELECT * FROM st2 WHERE event_id % 10 <> 7)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM st3 GROUP BY event_type""",
    // the tuple-keyed lifecycle in DECIMAL(18,2) money: per-
    // (event_type, bucket) totals, delete bucket%7=3, +1000 on
    // bucket%5=0, mirrored through the composite-mergeKey netted sink
    "q289_morlog_composite_cdc" ->
      """WITH base AS (
           SELECT event_type, event_id % 50 AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
               AS total
           FROM events GROUP BY 1, 2),
         st1 AS (SELECT * FROM base WHERE bucket % 7 <> 3),
         st2 AS (SELECT event_type, bucket, n,
             CASE WHEN bucket % 5 = 0 THEN total + 1000
               ELSE total END AS total
           FROM st1)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(SUM(total) AS DOUBLE) AS total_value,
           CAST(sum(bucket) AS BIGINT) AS sum_bucket
         FROM st2 GROUP BY event_type""",
    // the property-capped sink drain lands every event exactly once
    "q291_morlog_tblproperties" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events GROUP BY event_type""",
    // quarantine-list DELETE: the surviving rows' fold — NOT IN over
    // the same range-bounded erasure set
    "q290_morlog_delete_subquery" ->
      """WITH m AS (SELECT max(event_id) AS hi FROM events),
         q AS (SELECT event_id FROM events, m
               WHERE event_id % 10 = 3 AND event_id <= hi // 4),
         kept AS (SELECT * FROM events
                  WHERE event_id NOT IN (SELECT event_id FROM q))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM kept GROUP BY event_type""",
    // the tuple-key quarantine DELETE: rows whose (event_id,
    // event_type) pair sits on the folded list are gone; NOT EXISTS
    // spells the row-value membership DuckDB-side
    "q296_morlog_delete_tuple_subquery" ->
      """WITH m AS (SELECT max(event_id) AS hi FROM events),
         q AS (SELECT event_id, event_type FROM events, m
               WHERE event_id % 10 = 3 AND event_id <= hi // 4),
         kept AS (SELECT e.* FROM events e
                  WHERE NOT EXISTS (SELECT 1 FROM q
                    WHERE q.event_id = e.event_id
                      AND q.event_type = e.event_type))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM kept GROUP BY event_type""",
    // the TIMESTAMP AS OF travel lands on the pre-delete snapshot =
    // all events (monotonicity + three-way agreement asserted
    // in-query)
    "q281_morlog_timestamp_travel" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events GROUP BY event_type""",
    // the catalog lifecycle's final pruned fold (insert + retention
    // delete below 01-10 + a day >= 2024-01-20 read whose partition
    // pruning is asserted in-query; travel asserted in-query too)
    "q277_morlog_catalog" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-20'
         GROUP BY event_type""",
    // the partitioned table after its day < 2024-01-10 retention
    // delete (partition pruning/file-drop asserted in-query)
    "q274_morlog_partitioned" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
         GROUP BY event_type""",
    // the in-bin offset of a doc is its global token start mod the
    // budget; boundaries ride as a CSV in doc order
    "q266_pack_boundaries" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents),
         c AS (SELECT doc_id, n,
             COALESCE(CAST(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS strt
           FROM d)
         SELECT strt // 512 AS bin_id, COUNT(*) AS n_docs,
           string_agg(CAST(strt % 512 AS VARCHAR), ','
             ORDER BY doc_id) AS boundaries
         FROM c GROUP BY 1""",
    // the emitted bounds are exact rank-based values; the one-pass
    // d-sketch plan is asserted in-query
    "q265_dim_clip" ->
      """WITH v AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
             CAST(embedding AS DOUBLE[])[i] AS x
           FROM embeddings,
             unnest(range(1, len(embedding) + 1)) AS t(i)),
         r AS (SELECT dim, x, vec_id,
             row_number() OVER (PARTITION BY dim ORDER BY x, vec_id)
               AS rn,
             count(*) OVER (PARTITION BY dim) AS n
           FROM v),
         q AS (SELECT dim,
             MAX(CASE WHEN rn = (n + 19) // 20 THEN x END) AS p05,
             MAX(CASE WHEN rn = (19 * n + 19) // 20 THEN x END) AS p95
           FROM r GROUP BY dim)
         SELECT q.dim, q.p05, q.p95,
           CAST(sum(CASE WHEN v.x < q.p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_below,
           CAST(sum(CASE WHEN v.x > q.p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above
         FROM v JOIN q USING (dim)
         GROUP BY q.dim, q.p05, q.p95""",
    // the merge fold: %5 deleted, %5+1 repriced, 50 inserts appended
    "q264_morlog_merge" ->
      """WITH m AS (SELECT max(event_id) AS mx FROM events),
         kept AS (SELECT event_id, event_type,
             CASE WHEN event_id % 5 = 1 THEN value + 500 ELSE value END
               AS value
           FROM events WHERE event_id % 5 <> 0),
         ins AS (SELECT m.mx + i AS event_id, 'merged' AS event_type,
             CAST(i AS DOUBLE) AS value
           FROM m, unnest(range(1, 51)) AS t(i)),
         u AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM u GROUP BY event_type""",
    // the diverged clone: source's delete complement with every 7th
    // event repriced by the upsert (the source's own answer is
    // asserted unchanged in-query)
    "q262_morlog_clone" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_id % 7 = 0 THEN value + 1000
             ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 6
         GROUP BY event_type""",
    // the metadata answers must equal the raw-data answers exactly
    "q260_meta_agg" ->
      """SELECT
           CAST(sum(CASE WHEN event_id % 10 <> 6 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_visible,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id
         FROM events""",
    "q255_quantile_sketch" -> exactQuantileOracle,
    // the drained sketch asserts in-query; output is the same exact
    // rank-based computation
    "q256_stream_quantiles" -> exactQuantileOracle,
    // the parsed video container fields are pure doc_id arithmetic;
    // corrupted (%23) payloads surface NULLs; durations are the
    // parser's integer formulas (MP4: mvhd duration*1000/timescale;
    // AVI: frames*µs-per-frame/1000; WebM/MKV: Duration ticks ×
    // TimestampScale/1e6 — the builder's ticks×multiplier)
    "q254_video_meta" ->
      """SELECT doc_id,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 'mp4'
                WHEN doc_id % 3 = 1 THEN 'avi'
                WHEN doc_id % 2 = 0 THEN 'webm' ELSE 'mkv' END AS format,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                ELSE CAST(doc_id % 1280 + 16 AS INT) END AS width,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                ELSE CAST(doc_id % 720 + 16 AS INT) END AS height,
           CASE WHEN doc_id % 23 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN
                  CAST((doc_id % 500 + 1) * 100 AS BIGINT)
                WHEN doc_id % 3 = 1 THEN CAST((doc_id % 1000 + 1) *
                  (CASE (doc_id % 7) % 3 WHEN 0 THEN 16667
                   WHEN 1 THEN 33333
                   ELSE 40000 END) // 1000 AS BIGINT)
                ELSE CAST((doc_id % 900 + 1) * (doc_id % 4 + 1)
                  AS BIGINT)
             END AS duration_ms
         FROM documents""",
    // clustering is value-invisible: the oracle is the plain filtered
    // aggregate (box bounds from the data's own maxima); the query
    // itself asserts the skipping improvement
    "q252_morlog_cluster" -> clusterBoxOracle,
    // incremental clusterSmall lands on the same complement
    "q258_morlog_cluster_small" -> clusterBoxOracle,
    // the metadata-only drop and the tombstone path must land on the
    // same complement: everything at or above the 60% cut, minus the
    // earlier scattered delete
    "q253_morlog_drop_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 6
           AND event_id >= (SELECT max(event_id) * 3 // 5 FROM events)
         GROUP BY event_type""",
    // four snapshots reconstructed: v1 append, v2 delete, v3 compact
    // (≡ v2 — value-invisible), v4 append-after-compact
    "q234_mor_timetravel" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         v1 AS (SELECT user_id, val FROM base
           UNION ALL
           SELECT user_id + 1000000, val + 1 FROM base WHERE user_id % 3 = 0),
         v2 AS (SELECT * FROM v1 WHERE user_id % 7 <> 0),
         v4 AS (SELECT * FROM v2
           UNION ALL
           SELECT user_id + 2000000, val + 2 FROM base WHERE user_id % 5 = 0)
         SELECT CAST(1 AS BIGINT) AS v, user_id, val FROM v1
         UNION ALL SELECT 2, user_id, val FROM v2
         UNION ALL SELECT 3, user_id, val FROM v2
         UNION ALL SELECT 4, user_id, val FROM v4""",
    "q224_schema_drop" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id),
         ev AS (SELECT user_id, CAST(NULL AS VARCHAR) AS tier FROM base
           UNION ALL
           SELECT user_id + 1000000, 't' || CAST(user_id % 4 AS VARCHAR)
           FROM base WHERE user_id % 3 = 0)
         SELECT user_id, tier FROM ev WHERE user_id % 7 <> 0""",
    "q225_stream_drift" ->
      """WITH base AS (SELECT user_id,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE))
               AS BIGINT) AS val
           FROM events GROUP BY user_id)
         SELECT user_id,
           CASE WHEN user_id % 2 = 0 THEN val + 100 ELSE val END AS val,
           CASE WHEN user_id % 2 = 0
             THEN 't' || CAST(user_id % 3 AS VARCHAR)
             ELSE CAST(NULL AS VARCHAR) END AS tier
         FROM base WHERE user_id % 5 <> 0""",
    "q219_rand_proj" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT k, i,
             CASE WHEN CAST('0x' || substr(md5('rp' || k || '_' || i), 1, 8)
               AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS sgn
           FROM range(0, 16) t(k), range(0, 64) t2(i)),
         p AS (SELECT vec_id, k, SUM(v[i + 1] * sgn) AS y
               FROM e, s GROUP BY 1, 2)
         SELECT vec_id, CAST(k AS INT) AS k,
           floor(y / sqrt(16.0) * 100000.0 + 0.5) / 100000.0 AS y5
         FROM p""",
    "q220_pq_adc" -> pqAdcOracle,
    "q226_pq_persisted" -> pqAdcOracle,
    "q227_pq_append" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         tr AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM tr, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                  AVG(tr.v[cd.s * 8 + b + 1]) AS cv
                FROM tr, cd, range(0, 8) tb(b)
                WHERE cd.vec_id = tr.vec_id
                GROUP BY 1, 2, 3),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         lut AS (SELECT q.query_id, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                 floor(adc * 100000.0 + 0.5) / 100000.0 AS adc5,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                     neighbor_id) AS rank
               FROM sc)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc5
         FROM r WHERE rank <= 3""",
    "q228_pq_recall" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                  AVG(e.v[cd.s * 8 + b + 1]) AS cv
                FROM e JOIN cd USING (vec_id), range(0, 8) tb(b)
                GROUP BY 1, 2, 3),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         lut AS (SELECT q.query_id, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         pq AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rank
                  FROM sc) WHERE rank <= 3),
         ex AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
                  list_sum(list_transform(range(1, len(q.v) + 1),
                    i -> q.v[i] * e2.v[i])) AS dot
                FROM q, e e2 WHERE e2.vec_id <> q.query_id),
         exact AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(dot * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rnk
                  FROM ex) WHERE rnk <= 3)
         SELECT x.query_id,
           CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS hits,
           floor(CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1
               ELSE 0 END) AS DOUBLE) / 3.0 * 100000.0 + 0.5) / 100000.0
             AS recall3
         FROM exact x LEFT JOIN pq p
           ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
         GROUP BY 1""",
    // the q228 audit over BOTH codebooks: the mean-threshold CTEs are
    // q228's verbatim; the kmeans chain unrolls two deterministic
    // Lloyd rounds per subspace (seeds = 8 lowest ids, 5-dp quantized
    // distances and centroid means, code tie-breaks)
    "q237_pq_kmeans" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                  AVG(e.v[cd.s * 8 + b + 1]) AS cv
                FROM e JOIN cd USING (vec_id), range(0, 8) tb(b)
                GROUP BY 1, 2, 3),
         q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
         lut AS (SELECT q.query_id, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         pq AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rank
                  FROM sc) WHERE rank <= 3),
         x AS (SELECT vec_id, CAST((i - 1) // 8 AS INT) AS s,
                 CAST((i - 1) % 8 AS INT) AS b, v[i] AS x
               FROM e, unnest(range(1, len(v) + 1)) AS t(i)),
         sd0 AS (SELECT DISTINCT s, (SELECT MIN(vec_id) FROM e) AS sid FROM x),
         dd0 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd0 ON sd0.s = x.s
                  JOIN x sv ON sv.vec_id = sd0.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm0 AS (SELECT vec_id, s, nd AS mind FROM dd0),
         sd1 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm0)
                WHERE rk = 1),
         dd1 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd1 ON sd1.s = x.s
                  JOIN x sv ON sv.vec_id = sd1.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm1 AS (SELECT mm0.vec_id, mm0.s,
                  LEAST(mm0.mind, dd1.nd) AS mind
                FROM mm0 JOIN dd1 ON dd1.vec_id = mm0.vec_id
                  AND dd1.s = mm0.s),
         sd2 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm1)
                WHERE rk = 1),
         dd2 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd2 ON sd2.s = x.s
                  JOIN x sv ON sv.vec_id = sd2.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm2 AS (SELECT mm1.vec_id, mm1.s,
                  LEAST(mm1.mind, dd2.nd) AS mind
                FROM mm1 JOIN dd2 ON dd2.vec_id = mm1.vec_id
                  AND dd2.s = mm1.s),
         sd3 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm2)
                WHERE rk = 1),
         dd3 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd3 ON sd3.s = x.s
                  JOIN x sv ON sv.vec_id = sd3.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm3 AS (SELECT mm2.vec_id, mm2.s,
                  LEAST(mm2.mind, dd3.nd) AS mind
                FROM mm2 JOIN dd3 ON dd3.vec_id = mm2.vec_id
                  AND dd3.s = mm2.s),
         sd4 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm3)
                WHERE rk = 1),
         dd4 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd4 ON sd4.s = x.s
                  JOIN x sv ON sv.vec_id = sd4.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm4 AS (SELECT mm3.vec_id, mm3.s,
                  LEAST(mm3.mind, dd4.nd) AS mind
                FROM mm3 JOIN dd4 ON dd4.vec_id = mm3.vec_id
                  AND dd4.s = mm3.s),
         sd5 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm4)
                WHERE rk = 1),
         dd5 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd5 ON sd5.s = x.s
                  JOIN x sv ON sv.vec_id = sd5.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm5 AS (SELECT mm4.vec_id, mm4.s,
                  LEAST(mm4.mind, dd5.nd) AS mind
                FROM mm4 JOIN dd5 ON dd5.vec_id = mm4.vec_id
                  AND dd5.s = mm4.s),
         sd6 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm5)
                WHERE rk = 1),
         dd6 AS (SELECT x.vec_id, x.s,
                  floor(SUM((x.x - sv.x) * (x.x - sv.x)) * 100000.0 + 0.5)
                    / 100000.0 AS nd
                FROM x JOIN sd6 ON sd6.s = x.s
                  JOIN x sv ON sv.vec_id = sd6.sid AND sv.s = x.s
                    AND sv.b = x.b
                GROUP BY 1, 2),
         mm6 AS (SELECT mm5.vec_id, mm5.s,
                  LEAST(mm5.mind, dd6.nd) AS mind
                FROM mm5 JOIN dd6 ON dd6.vec_id = mm5.vec_id
                  AND dd6.s = mm5.s),
         sd7 AS (SELECT s, vec_id AS sid FROM (
                  SELECT s, vec_id, row_number() OVER (PARTITION BY s
                    ORDER BY mind DESC, vec_id) AS rk FROM mm6)
                WHERE rk = 1),
         seedsx AS (SELECT s, sid, CAST(0 AS INT) AS code FROM sd0
           UNION ALL SELECT s, sid, 1 FROM sd1
           UNION ALL SELECT s, sid, 2 FROM sd2
           UNION ALL SELECT s, sid, 3 FROM sd3
           UNION ALL SELECT s, sid, 4 FROM sd4
           UNION ALL SELECT s, sid, 5 FROM sd5
           UNION ALL SELECT s, sid, 6 FROM sd6
           UNION ALL SELECT s, sid, 7 FROM sd7),
         c0 AS (SELECT x.s, seedsx.code, x.b, x.x AS cv
               FROM x JOIN seedsx ON x.vec_id = seedsx.sid
                 AND x.s = seedsx.s),
         a1 AS (SELECT x.vec_id, x.s, c0.code,
                 SUM((x.x - c0.cv) * (x.x - c0.cv)) AS dist
               FROM x JOIN c0 ON x.s = c0.s AND x.b = c0.b GROUP BY 1, 2, 3),
         g1 AS (SELECT vec_id, s, code FROM (
                 SELECT vec_id, s, code, row_number() OVER (
                   PARTITION BY vec_id, s
                   ORDER BY floor(dist * 100000.0 + 0.5), code) AS rk
                 FROM a1) WHERE rk = 1),
         c1 AS (SELECT x.s, g1.code, x.b,
                 CAST(SUM(CAST(floor(x.x * 100000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100000.0 / COUNT(*) AS cv
               FROM x JOIN g1 ON x.vec_id = g1.vec_id AND x.s = g1.s
               GROUP BY 1, 2, 3),
         a2 AS (SELECT x.vec_id, x.s, c1.code,
                 SUM((x.x - c1.cv) * (x.x - c1.cv)) AS dist
               FROM x JOIN c1 ON x.s = c1.s AND x.b = c1.b GROUP BY 1, 2, 3),
         g2 AS (SELECT vec_id, s, code FROM (
                 SELECT vec_id, s, code, row_number() OVER (
                   PARTITION BY vec_id, s
                   ORDER BY floor(dist * 100000.0 + 0.5), code) AS rk
                 FROM a2) WHERE rk = 1),
         cf AS (SELECT x.s, g2.code, x.b,
                 CAST(SUM(CAST(floor(x.x * 100000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100000.0 / COUNT(*) AS cv
               FROM x JOIN g2 ON x.vec_id = g2.vec_id AND x.s = g2.s
               GROUP BY 1, 2, 3),
         lutk AS (SELECT x.vec_id AS query_id, cf.s, cf.code,
                   SUM(x.x * cf.cv) AS dot8
                 FROM x JOIN cf ON x.s = cf.s AND x.b = cf.b
                 WHERE x.vec_id < 20 GROUP BY 1, 2, 3),
         sck AS (SELECT lutk.query_id, g2.vec_id AS neighbor_id,
                  SUM(lutk.dot8) AS adc
                FROM g2 JOIN lutk ON lutk.s = g2.s AND lutk.code = g2.code
                WHERE g2.vec_id <> lutk.query_id GROUP BY 1, 2),
         pqk AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rank
                  FROM sck) WHERE rank <= 3),
         g1c AS (SELECT vec_id, s, code FROM (
                 SELECT x.vec_id, x.s, cb.code, row_number() OVER (
                   PARTITION BY x.vec_id, x.s
                   ORDER BY floor(SUM((x.x - cb.cv) * (x.x - cb.cv))
                     * 100000.0 + 0.5), cb.code) AS rk
                 FROM x JOIN cb ON x.s = cb.s AND x.b = cb.b
                 GROUP BY x.vec_id, x.s, cb.code) WHERE rk = 1),
         c1c AS (SELECT x.s, g1c.code, x.b,
                 CAST(SUM(CAST(floor(x.x * 100000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100000.0 / COUNT(*) AS cv
               FROM x JOIN g1c ON x.vec_id = g1c.vec_id AND x.s = g1c.s
               GROUP BY 1, 2, 3),
         g2c AS (SELECT vec_id, s, code FROM (
                 SELECT x.vec_id, x.s, c1c.code, row_number() OVER (
                   PARTITION BY x.vec_id, x.s
                   ORDER BY floor(SUM((x.x - c1c.cv) * (x.x - c1c.cv))
                     * 100000.0 + 0.5), c1c.code) AS rk
                 FROM x JOIN c1c ON x.s = c1c.s AND x.b = c1c.b
                 GROUP BY x.vec_id, x.s, c1c.code) WHERE rk = 1),
         cfc AS (SELECT x.s, g2c.code, x.b,
                 CAST(SUM(CAST(floor(x.x * 100000.0 + 0.5) AS BIGINT))
                   AS DOUBLE) / 100000.0 / COUNT(*) AS cv
               FROM x JOIN g2c ON x.vec_id = g2c.vec_id AND x.s = g2c.s
               GROUP BY 1, 2, 3),
         lutc AS (SELECT x.vec_id AS query_id, cfc.s, cfc.code,
                   SUM(x.x * cfc.cv) AS dot8
                 FROM x JOIN cfc ON x.s = cfc.s AND x.b = cfc.b
                 WHERE x.vec_id < 20 GROUP BY 1, 2, 3),
         scc AS (SELECT lutc.query_id, g2c.vec_id AS neighbor_id,
                  SUM(lutc.dot8) AS adc
                FROM g2c JOIN lutc ON lutc.s = g2c.s
                  AND lutc.code = g2c.code
                WHERE g2c.vec_id <> lutc.query_id GROUP BY 1, 2),
         pqc AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rank
                  FROM scc) WHERE rank <= 3),
         ex AS (SELECT q.query_id, e2.vec_id AS neighbor_id,
                  list_sum(list_transform(range(1, len(q.v) + 1),
                    i -> q.v[i] * e2.v[i])) AS dot
                FROM q, e e2 WHERE e2.vec_id <> q.query_id),
         exact AS (SELECT query_id, neighbor_id FROM (
                  SELECT query_id, neighbor_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY floor(dot * 100000.0 + 0.5) / 100000.0 DESC,
                      neighbor_id) AS rnk
                  FROM ex) WHERE rnk <= 3)
         SELECT 'mean' AS variant, x.query_id,
           CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS hits,
           floor(CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1
               ELSE 0 END) AS DOUBLE) / 3.0 * 100000.0 + 0.5) / 100000.0
             AS recall3
         FROM exact x LEFT JOIN pq p
           ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
         GROUP BY 1, 2
         UNION ALL
         SELECT 'kmeans', x.query_id,
           CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           floor(CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1
               ELSE 0 END) AS DOUBLE) / 3.0 * 100000.0 + 0.5) / 100000.0
         FROM exact x LEFT JOIN pqk p
           ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
         GROUP BY 1, 2
         UNION ALL
         SELECT 'kmeans_cells', x.query_id,
           CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           floor(CAST(SUM(CASE WHEN p.neighbor_id IS NOT NULL THEN 1
               ELSE 0 END) AS DOUBLE) / 3.0 * 100000.0 + 0.5) / 100000.0
         FROM exact x LEFT JOIN pqc p
           ON x.query_id = p.query_id AND x.neighbor_id = p.neighbor_id
         GROUP BY 1, 2""",
    "q221_ivf_pq" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         mu AS (SELECT i, AVG(v[i]) AS mu
                FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         cd AS (SELECT e.vec_id, CAST(s AS INT) AS s,
                  CAST(SUM(CASE WHEN e.v[s * 8 + b + 1] >= mu.mu
                    THEN 1 << b ELSE 0 END) AS INT) AS code
                FROM e, range(0, 8) ts(s), range(0, 8) tb(b), mu
                WHERE mu.i = s * 8 + b + 1
                GROUP BY 1, 2),
         cb AS (SELECT cd.s, cd.code, CAST(b AS INT) AS b,
                  AVG(e.v[cd.s * 8 + b + 1]) AS cv
                FROM e JOIN cd USING (vec_id), range(0, 8) tb(b)
                GROUP BY 1, 2, 3),
         q AS (SELECT vec_id AS query_id, label AS qlabel, v
               FROM e WHERE vec_id < 5),
         lut AS (SELECT q.query_id, q.qlabel, cb.s, cb.code,
                   SUM(q.v[cb.s * 8 + cb.b + 1] * cb.cv) AS dot8
                 FROM q, cb GROUP BY 1, 2, 3, 4),
         sc AS (SELECT lut.query_id, cd.vec_id AS neighbor_id,
                  SUM(lut.dot8) AS adc
                FROM cd
                JOIN e en ON en.vec_id = cd.vec_id
                JOIN lut ON lut.s = cd.s AND lut.code = cd.code
                  AND en.label = lut.qlabel
                WHERE cd.vec_id <> lut.query_id
                GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
                 floor(adc * 100000.0 + 0.5) / 100000.0 AS adc5,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY floor(adc * 100000.0 + 0.5) / 100000.0 DESC,
                     neighbor_id) AS rank
               FROM sc)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, adc5
         FROM r WHERE rank <= 3""",
    "q01_gold_agg" ->
      """SELECT n_name AS country, COUNT(*) AS total_bookings,
         CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_booking_date
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q02_quality_split_ok" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE NOT COALESCE(l_shipdate < o_orderdate, FALSE)""",
    "q03_quality_split_bad" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS ship_ts,
         strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE COALESCE(l_shipdate < o_orderdate, FALSE)""",
    "q04_derive" ->
      """SELECT event_id, user_id,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         CAST(year(ts) AS BIGINT) AS booking_year,
         CAST(month(ts) AS BIGINT) AS booking_month,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
         event_type || ':' || CAST(user_id AS VARCHAR) AS tag
         FROM events""",
    "q05_stay_duration" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST((epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) // 86400000 AS BIGINT) AS stay_duration
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    "q06_latest_lookup" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
         ts_s AS last_ts
         FROM (SELECT user_id, event_id, event_type,
                 strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1""",
    "q07_alter_row" ->
      """SELECT e.event_id, e.user_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
         CASE WHEN x.user_id IS NULL THEN 'insert' ELSE 'update' END AS op
         FROM events e
         LEFT JOIN (SELECT DISTINCT user_id FROM events
                    WHERE event_id % 10 < 8) x
           ON e.user_id = x.user_id
         WHERE e.event_id % 10 >= 8""",
    "q08_merge_upsert" ->
      """WITH pre AS (
           SELECT user_id, event_id, event_type, value,
                  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM events WHERE event_id % 10 < 8),
         post AS (
           SELECT user_id, event_id, event_type, value,
                  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM events WHERE event_id % 10 >= 8)
         SELECT user_id, event_id, event_type, value, ts_s FROM pre
         WHERE rn = 1 AND user_id NOT IN (SELECT user_id FROM post WHERE rn = 1)
         UNION ALL
         SELECT user_id, event_id, event_type, value, ts_s FROM post WHERE rn = 1""",
    "q09_scd1_fold" ->
      """SELECT user_id, event_id, event_type, ts_s
         FROM (SELECT user_id, event_id, event_type,
                 strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY (CASE quarter(ts) WHEN 2 THEN 0 WHEN 1 THEN 1
                             WHEN 4 THEN 2 ELSE 3 END) DESC,
                            strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1""",
    "q10_final_select" ->
      """SELECT c_custkey AS customer_id, c_name AS full_name,
         c_mktsegment AS segment, n_name AS country,
         c_name || ', ' || n_name AS full_address
         FROM customer JOIN nation ON c_nationkey = n_nationkey""",
    "q11_cdc_end_to_end" ->
      """WITH ok AS (SELECT * FROM events WHERE NOT COALESCE(event_type = 'error', FALSE)),
         latest AS (
           SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM ok)
         SELECT n_name AS country, COUNT(*) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts_s) AS last_seen
         FROM latest JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1
         GROUP BY n_name""",
    "q12_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",
    "q13_topk_customers" ->
      """SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
         FROM orders GROUP BY o_custkey
         ORDER BY revenue DESC, o_custkey ASC LIMIT 10""",
    "q14_region_rollup" ->
      """SELECT r_name AS region, COUNT(*) AS total_bookings,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_amount
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",
    // ---- LLM-data-pipeline twins. Shared conventions: tokenization =
    // string_split on one space; hashes = md5 lowercase hex; integer
    // arithmetic exact; per-row double math identical IEEE expressions;
    // cross-row double sums routed through DECIMAL; cosine = left-fold
    // double dot rounded to 5 dp with id tiebreaks.
    "q15_text_stats" ->
      """WITH w AS (SELECT doc_id, lang, source, length(text) AS nc,
           string_split(text, ' ') AS ws FROM documents)
         SELECT doc_id, lang, source,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr,
           CAST(nc - len(ws) + 1 AS DOUBLE) / len(ws) AS avg_token_len,
           CAST(len(list_filter(ws, t -> t IN ('the','a'))) AS DOUBLE) / len(ws) AS stopword_ratio
         FROM w""",
    "q16_lang_id" ->
      """WITH w AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ws FROM documents),
         sc AS (SELECT doc_id, lang, l AS cand,
             CAST(len(list_filter(ws, t -> ascii(substr(md5(l || '~' || t), 1, 1)) % 4 = 0)) AS BIGINT) AS score
           FROM w, unnest(['de','en','es','fr','zh']) AS u(l)),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cand) AS rn FROM sc),
         t AS (SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_word_tokens,
             CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_number_tokens
           FROM documents)
         SELECT r.doc_id, r.lang AS labeled_lang, r.cand AS predicted_lang, r.score,
           t.n_bpe_tokens, t.n_word_tokens, t.n_number_tokens
         FROM r JOIN t ON r.doc_id = t.doc_id WHERE r.rn = 1""",
    "q17_quality_score" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
         q AS (SELECT source,
             least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4
             + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
             + least(CAST(len(list_filter(ws, t -> t IN ('the','a'))) AS DOUBLE) / 5.0, 1.0) * 0.2 AS score
           FROM w)
         SELECT source,
           CASE WHEN score >= 0.6 THEN 'high' WHEN score >= 0.4 THEN 'mid' ELSE 'low' END AS quality_tier,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE) AS sum_score
         FROM q GROUP BY 1, 2""",
    "q18_fingerprints" ->
      """SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ' '),
               w -> CAST('0x' || substr(md5(w), 1, 6) AS BIGINT))),
             (acc, x) -> (acc * 1000003 + x) % 1000000007) AS rolling_fp,
           CAST(list_sum([CASE WHEN list_sum(list_transform(
                 list_distinct(string_split(text, ' ')),
                 t -> (ascii(substr(md5(t), b + 1, 1)) % 2) * 2 - 1)) > 0
               THEN CAST(1 AS BIGINT) << b ELSE 0 END FOR b IN range(16)]) AS BIGINT) AS simhash
         FROM documents""",
    "q19_exact_dedup" ->
      """WITH r AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 1000000, text FROM documents)
         SELECT md5(text) AS text_md5, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
         FROM r GROUP BY 1""",
    "q20_minhash_lsh" -> minhashLshOracle,
    // rolling band-index ingest == the one-shot batch pipeline, so the
    // SAME oracle verifies the union of the three increments' pairs
    "q293_band_index_dedup" -> minhashLshOracle,
    "q21_ngram_jaccard" ->
      """WITH sh AS (SELECT doc_id, lang,
             CAST(floor(len(string_split(text, ' ')) / 16.0) AS BIGINT) AS lb,
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_transform(
                 list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])),
                 s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))
             ELSE [] END AS sh
           FROM documents),
         a AS (SELECT doc_id AS id_a, lang, sh AS sh_a,
             unnest([lb - 1, lb, lb + 1]) AS pb FROM sh),
         b AS (SELECT doc_id AS id_b, lang, sh AS sh_b, lb AS pb FROM sh),
         p AS (SELECT a.id_a, b.id_b, a.lang,
             CAST(len(list_intersect(a.sh_a, b.sh_b)) AS DOUBLE) /
               len(list_distinct(list_concat(a.sh_a, b.sh_b))) AS jaccard
           FROM a JOIN b ON a.lang = b.lang AND a.pb = b.pb AND a.id_a < b.id_b)
         SELECT id_a AS doc_a, id_b AS doc_b, lang, jaccard
         FROM p WHERE jaccard >= 0.5""",
    "q22_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.vec_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3""",
    "q23_ann_ivf" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, q.label AS cell, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, cell, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3""",
    "q24_ann_lsh_pairs" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > embedding[2] THEN 1 ELSE 0 END
            + CASE WHEN embedding[3] > embedding[4] THEN 2 ELSE 0 END
            + CASE WHEN embedding[5] > embedding[6] THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] > embedding[8] THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(a.bucket AS BIGINT) AS bucket,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT vec_a, vec_b, bucket, cos5 FROM p WHERE cos5 >= 0.3""",
    "q25_binary_meta" ->
      """SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS payload_md5, 'utf8-text' AS format,
           lang AS source_lang
         FROM documents""",
    "q26_frame_sample" ->
      """SELECT doc_id, f AS frame_no,
           md5(substr(text, 1 + f * 48, 64)) AS frame_md5,
           CAST(length(substr(text, 1 + f * 48, 64)) AS BIGINT) AS frame_len
         FROM documents,
           unnest(range(CAST(ceil(length(text) / 48.0) AS BIGINT))) AS t(f)
         WHERE length(substr(text, 1 + f * 48, 64)) > 0""",
    "q27_stream_cdc" ->
      """WITH ok AS (SELECT * FROM events
                     WHERE NOT COALESCE(event_type = 'error', FALSE))
         SELECT user_id, event_id, event_type, value, ts_s
         FROM (SELECT user_id, event_id, event_type, value,
                 strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
               FROM ok)
         WHERE rn = 1""",
    "q28_csv_ingest" ->
      """SELECT c_custkey, c_name, c_nationkey,
           CAST(CAST(c_acctbal AS DECIMAL(10,2)) AS DOUBLE) AS c_acctbal,
           c_mktsegment
         FROM customer""",
    "q29_file_lifecycle" ->
      """SELECT c_custkey, c_name,
           CAST(CASE c_custkey % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 2 END
                AS BIGINT) AS file_seq
         FROM customer""",
    "q30_pipeline_gold" ->
      """WITH ok AS (SELECT * FROM events
                     WHERE NOT COALESCE(event_type = 'error', FALSE)),
         latest AS (
           SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM ok)
         SELECT n_name AS country, COUNT(*) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts_s) AS last_seen
         FROM latest JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1
         GROUP BY n_name""",
    "q31_mock_bookings" ->
      """WITH g AS (
           SELECT id,
             md5('bk' || id) AS booking_id,
             CAST('0x' || substr(md5('cu' || id), 1, 8) AS BIGINT) % 100 + 1 AS customer_id,
             round(50 + (CAST('0x' || substr(md5('am' || id), 1, 8) AS BIGINT) % 95000) / 100.0, 2) AS amount,
             (['USD','EUR','GBP','CAD'])[CAST('0x' || substr(md5('cy' || id), 1, 8) AS BIGINT) % 4 + 1] AS currency,
             strftime(DATE '2024-01-01'
               + CAST(CAST('0x' || substr(md5('ci' || id), 1, 8) AS BIGINT) % 330 AS INTEGER), '%Y-%m-%d') AS check_in_date,
             strftime(DATE '2024-01-01'
               + CAST(CAST('0x' || substr(md5('ci' || id), 1, 8) AS BIGINT) % 330 AS INTEGER)
               + CAST(CASE WHEN CAST('0x' || substr(md5('bad' || id), 1, 8) AS BIGINT) % 15 = 0 THEN -2
                       ELSE CAST('0x' || substr(md5('nt' || id), 1, 8) AS BIGINT) % 14 + 1 END AS INTEGER),
               '%Y-%m-%d') AS check_out_date,
             strftime(DATE '2024-01-01'
               + CAST(CAST('0x' || substr(md5('bd' || id), 1, 8) AS BIGINT) % 364 AS INTEGER), '%Y-%m-%d')
               || ' ' || lpad(CAST(CAST('0x' || substr(md5('hh' || id), 1, 8) AS BIGINT) % 24 AS VARCHAR), 2, '0')
               || ':' || lpad(CAST(CAST('0x' || substr(md5('mm' || id), 1, 8) AS BIGINT) % 60 AS VARCHAR), 2, '0')
               || ':' || lpad(CAST(CAST('0x' || substr(md5('ss' || id), 1, 8) AS BIGINT) % 60 AS VARCHAR), 2, '0') AS booking_date,
             (['new york','paris','berlin','madrid','tokyo'])[CAST('0x' || substr(md5('lc' || id), 1, 8) AS BIGINT) % 5 + 1] AS city,
             (['usa','france','germany','spain','japan'])[CAST('0x' || substr(md5('lc' || id), 1, 8) AS BIGINT) % 5 + 1] AS country
           FROM range(10000) t(id))
         SELECT booking_id, customer_id, amount, currency,
           (epoch_ms(strptime(check_out_date, '%Y-%m-%d'))
            - epoch_ms(strptime(check_in_date, '%Y-%m-%d'))) // 86400000 AS stay_duration,
           CAST(year(strptime(booking_date, '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS booking_year,
           CAST(month(strptime(booking_date, '%Y-%m-%d %H:%M:%S')) AS BIGINT) AS booking_month,
           city, country, city || ', ' || country AS full_address
         FROM g
         WHERE NOT COALESCE(check_out_date < check_in_date, FALSE)""",
    "q32_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s FROM events),
         d AS (SELECT *, CASE WHEN lag(s) OVER w IS NULL
                 OR s - lag(s) OVER w > 14400 THEN 1 ELSE 0 END AS boundary
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)),
         x AS (SELECT *, CAST(SUM(boundary) OVER (PARTITION BY user_id
                 ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_idx
               FROM d)
         SELECT user_id, session_idx,
           strftime(make_timestamp(MIN(s) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(MAX(s) * 1000000), '%Y-%m-%d %H:%M:%S') AS session_end,
           COUNT(*) AS n_events
         FROM x GROUP BY user_id, session_idx""",
    "q33_event_windows" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "q34_length_quantiles" ->
      """SELECT lang, COUNT(*) AS n_docs,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.95), 4) AS p95_chars
         FROM documents GROUP BY lang""",
    "q35_centroids" ->
      """SELECT label AS cell, CAST(i - 1 AS INT) AS pos,
           round(avg(CAST(embedding[i] AS DOUBLE)), 5) AS c5
         FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
         GROUP BY 1, 2""",
    "q36_ann_ivf_routed" -> ivfRoutedOracle,
    "q37_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS text_md5 FROM documents""",
    "q38_vocab_topk" ->
      """WITH g AS (SELECT unnest(list_distinct(
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
             ELSE [] END)) AS ngram
           FROM documents)
         SELECT ngram, COUNT(*) AS doc_freq FROM g
         GROUP BY 1 ORDER BY doc_freq DESC, ngram ASC LIMIT 20""",
    "q39_gopher_rules" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w
           FROM documents),
         s AS (SELECT doc_id, lang, len(w) AS n,
             CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE) / len(w)
               AS mean_len,
             1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS rep_ratio,
             len(list_filter(w,
               t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS stop_hits
           FROM d)
         SELECT doc_id, lang,
           n >= 5 AND n <= 1000 AS ok_len,
           mean_len >= 2.0 AND mean_len <= 12.0 AS ok_mean_word_len,
           stop_hits >= 1 AS ok_stopwords,
           rep_ratio <= 0.5 AS ok_repetition,
           (n >= 5 AND n <= 1000) AND (mean_len >= 2.0 AND mean_len <= 12.0)
             AND stop_hits >= 1 AND rep_ratio <= 0.5 AS keep
         FROM s""",
    "q40_chunk_tokens" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents)
         SELECT doc_id, CAST(p AS BIGINT) AS chunk_no,
           CAST(LEAST(32, n - p * 32) AS BIGINT) AS n_tokens,
           w[CAST(p * 32 + 1 AS INT)] AS first_token
         FROM d, unnest(range(CAST(ceil(n / 32.0) AS BIGINT))) AS t(p)""",
    "q41_decontaminate" ->
      s"""WITH $contaminationCtes
         SELECT c.doc_id, COUNT(*) AS n_contaminated_ngrams
         FROM corpus c JOIN bench b ON c.gram = b.gram
         GROUP BY 1""",
    "q42_train_split" ->
      """WITH d AS (SELECT lang,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 100 AS bucket
           FROM documents)
         SELECT lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
           COUNT(*) AS n_docs
         FROM d GROUP BY 1, 2""",
    "q43_mixture_sample" ->
      """WITH d AS (SELECT source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000 AS bucket
           FROM documents)
         SELECT source, COUNT(*) AS n_kept FROM d
         WHERE bucket < (CASE source WHEN 'src0' THEN 1000
                         WHEN 'src1' THEN 500 WHEN 'src2' THEN 250
                         ELSE 100 END)
         GROUP BY 1""",
    "q44_stream_near_dup" ->
      """WITH str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         dropped AS (SELECT DISTINCT c.doc_b AS doc_id
           FROM cand c JOIN sh a ON c.doc_a = a.doc_id
             JOIN sh b ON c.doc_b = b.doc_id
           WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8)
         SELECT d.doc_id, d.lang FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)""",
    "q45_kmv_distinct" ->
      """WITH h AS (SELECT DISTINCT lang,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT lang, hv,
             row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS nd
           FROM h)
         SELECT lang,
           CASE WHEN MAX(nd) < 64 THEN round(CAST(MAX(nd) AS DOUBLE), 4)
                ELSE round(63.0 * 1152921504606846976
                           / MAX(CASE WHEN rn = 64 THEN hv END), 4)
           END AS est_distinct,
           MAX(nd) AS exact_distinct
         FROM r GROUP BY lang""",
    "q46_sql_api" ->
      """SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS order_year,
           o.o_orderpriority AS priority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2""",
    "q47_asof_join" ->
      """WITH e AS (SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value FROM events),
         l AS (SELECT * FROM e WHERE event_id % 5 <> 0),
         r0 AS (SELECT user_id, ts_s, value, event_id,
             row_number() OVER (PARTITION BY user_id, ts_s
               ORDER BY event_id DESC) AS rn
           FROM e WHERE event_id % 5 = 0),
         r AS (SELECT user_id, ts_s, value, event_id FROM r0 WHERE rn = 1)
         SELECT l.event_id, l.user_id, l.ts_s, l.value,
           r.value AS asof_value, r.event_id AS asof_event_id,
           r.ts_s AS asof_ts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts_s >= r.ts_s""",
    "q48_range_join" ->
      """WITH e AS (SELECT event_id,
             epoch_ms(CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP)) // 1000
               AS ep
           FROM events),
         p AS (SELECT * FROM e WHERE event_id % 50 <> 0),
         i AS (SELECT event_id AS interval_id, ep AS start_ep,
             ep + 7200 AS end_ep
           FROM e WHERE event_id % 50 = 0)
         SELECT p.event_id, i.interval_id, p.ep, i.start_ep
         FROM p JOIN i ON p.ep BETWEEN i.start_ep AND i.end_ep""",
    "q49_star_join" ->
      """SELECT n.n_name AS nation, p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem l
         JOIN part p ON l.l_partkey = p.p_partkey
         JOIN supplier s ON l.l_suppkey = s.s_suppkey
         JOIN nation n ON s.s_nationkey = n.n_nationkey
         WHERE p.p_size <= 20
         GROUP BY 1, 2""",
    "q50_rollup" ->
      """SELECT COALESCE(n_name, '(all)') AS nation,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY ROLLUP (n_name, o_orderpriority)""",
    "q51_pivot" ->
      """SELECT user_id % 10 AS user_decile,
           COUNT(*) FILTER (event_type = 'view') AS view,
           COUNT(*) FILTER (event_type = 'click') AS click,
           COUNT(*) FILTER (event_type = 'signup') AS signup,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'error') AS error
         FROM events GROUP BY 1""",
    "q52_pii_redact" ->
      """WITH t AS (SELECT doc_id, lang,
             text || ' contact user' || doc_id ||
               '@example.com or call 555123' || doc_id AS text
           FROM documents),
         r AS (SELECT doc_id, lang, text,
             regexp_replace(text, '[A-Za-z0-9._]+@[A-Za-z0-9.]+',
               '<EMAIL>', 'g') AS noemail
           FROM t)
         SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(noemail, '[0-9]{4,}')) AS BIGINT)
             AS n_long_nums,
           right(regexp_replace(noemail, '[0-9]{4,}', '<NUM>', 'g'), 40)
             AS tail40
         FROM r""",
    "q53_profile" ->
      """WITH h AS (SELECT DISTINCT
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
           FROM documents),
         k AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             COUNT(*) OVER () AS nd FROM h)
         SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_text,
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_lang,
           MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT source) AS n_sources,
           (SELECT CASE WHEN MAX(nd) < 64 THEN round(CAST(MAX(nd) AS DOUBLE), 4)
                   ELSE round(63.0 * 1152921504606846976
                              / MAX(CASE WHEN rn = 64 THEN hv END), 4) END
            FROM k) AS est_distinct_texts
         FROM documents""",
    "q54_incremental_gold" ->
      """WITH ok AS (SELECT * FROM events WHERE NOT COALESCE(event_type = 'error', FALSE)),
         latest AS (
           SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM ok)
         SELECT n_name AS country, COUNT(*) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts_s) AS last_seen
         FROM latest JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1
         GROUP BY n_name""",
    "q55_user_activity" ->
      """WITH e AS (SELECT event_id, user_id, value,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events)
         SELECT event_id, user_id, ts_s,
           CAST(row_number() OVER w AS BIGINT) AS event_seq,
           epoch_ms(CAST(ts_s AS TIMESTAMP)) // 1000
             - epoch_ms(CAST(lag(ts_s) OVER w AS TIMESTAMP)) // 1000 AS gap_s,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY user_id ORDER BY ts_s, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS rolling_value_3
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)""",
    "q56_session_window" ->
      """WITH e AS (SELECT user_id,
             CAST(strftime(ts, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts
           FROM events),
         d AS (SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 4 HOUR
                  THEN 1 ELSE 0 END AS brk
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM d)
         SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 4 HOUR, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*) AS n_events
         FROM s GROUP BY user_id, sid""",
    "q57_final_corpus" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents),
         gates AS (SELECT doc_id FROM (
             SELECT doc_id, len(toks) AS n,
               CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                 / len(toks) AS mean_len,
               1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                 AS rep_ratio,
               len(list_filter(toks,
                 t -> t IN ('the', 'a', 'of', 'to', 'and'))) AS stop_hits
             FROM w)
           WHERE n >= 5 AND n <= 1000 AND mean_len >= 2.0 AND mean_len <= 12.0
             AND stop_hits >= 1 AND rep_ratio <= 0.5),
         train AS (SELECT doc_id FROM documents
           WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) % 100 < 90),
         $contaminationCtes,
         contaminated AS (SELECT DISTINCT c.doc_id
           FROM corpus c JOIN bench b ON c.gram = b.gram),
         sel AS (SELECT doc_id FROM gates
           INTERSECT SELECT doc_id FROM train
           EXCEPT SELECT doc_id FROM contaminated)
         SELECT s.doc_id, d.lang, d.source
         FROM sel s JOIN documents d ON s.doc_id = d.doc_id""",
    "q58_simhash_pairs" ->
      """WITH tm AS (SELECT doc_id,
             list_transform(list_distinct(string_split(text, ' ')),
               t -> md5(t)) AS tok_md5
           FROM documents),
         sh AS (SELECT doc_id,
             CAST(list_sum([CASE WHEN list_sum(list_transform(tok_md5,
                   h -> (ascii(substr(h, b + 1, 1)) % 2) * 2 - 1)) > 0
                 THEN CAST(1 AS BIGINT) << b ELSE 0 END
               FOR b IN range(32)]) AS BIGINT) AS sh
           FROM tm),
         bands AS (SELECT doc_id, sh, b, (sh >> (b * 8)) % 256 AS bkey
           FROM sh, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.sh AS sh_a, y.sh AS sh_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
         FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3""",
    "q59_dedup_groups" ->
      s"""WITH RECURSIVE $dedupGroupCtes
         SELECT id AS doc_id, canonical AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT)
             AS cluster_size
         FROM comp""",
    "q60_bm25_search" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             AVG(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ('merge', 'stream', 'window') GROUP BY doc_id, tok),
         dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         s AS (SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
           FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id)
           CROSS JOIN stats),
         sc AS (SELECT doc_id, round(SUM(s), 4) AS score4 FROM s
           GROUP BY doc_id)
         SELECT doc_id, rank, score4 FROM (
           SELECT doc_id, score4,
             CAST(row_number() OVER (ORDER BY score4 DESC, doc_id ASC)
               AS BIGINT) AS rank
           FROM sc)
         WHERE rank <= 20""",
    "q61_grouped_topk" ->
      """WITH rev AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders GROUP BY o_custkey)
         SELECT nation, o_custkey, revenue, rnk FROM (
           SELECT n_name AS nation, o_custkey, revenue,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY revenue DESC, o_custkey ASC) AS BIGINT) AS rnk
           FROM rev JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
         WHERE rnk <= 3""",
    "q62_sql_native" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         q AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
         sc AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1),
                 i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.vec_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5 DESC, neighbor_id) AS rnk FROM sc)
         SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rnk <= 5""",
    "q63_window_suite" ->
      """WITH rev AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders GROUP BY o_custkey)
         SELECT n_name AS nation, o_custkey, revenue,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           floor((percent_rank() OVER w) * 100000.0 + 0.5) / 100000.0
             AS pct_rank,
           floor((cume_dist() OVER w) * 100000.0 + 0.5) / 100000.0 AS cume,
           round(COALESCE(lag(revenue, 1) OVER w - revenue, 0.0), 2)
             AS gap_to_next
         FROM rev JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WINDOW w AS (PARTITION BY n_name
           ORDER BY revenue DESC, o_custkey ASC)""",
    "q64_cube" ->
      """SELECT COALESCE(n_name, '(all)') AS nation,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY CUBE (n_name, o_orderpriority)""",
    "q65_snapshot_diff" ->
      """SELECT c_custkey, 'delete' AS change FROM customer
           WHERE c_custkey % 10 = 0
         UNION ALL
         SELECT c_custkey, 'update' FROM customer WHERE c_custkey % 10 = 1
         UNION ALL
         SELECT c_custkey + 10000000000, 'insert' FROM customer
           WHERE c_custkey % 10 = 2""",
    "q66_quantized_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         dims AS (SELECT i AS pos, min(v[i]) AS lo, max(v[i]) AS hi
           FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         stats AS (SELECT list(lo ORDER BY pos) AS los,
             list(hi ORDER BY pos) AS his FROM dims),
         dq AS (SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN his[i] = los[i] THEN los[i]
                 ELSE los[i]
                   + (CAST(least(255, floor((v[i] - los[i])
                        / (his[i] - los[i]) * 256)) AS DOUBLE) + 0.5)
                   * (his[i] - los[i]) / 256 END) AS dv
           FROM e CROSS JOIN stats),
         q AS (SELECT vec_id AS query_id, dv AS qv FROM dq
           WHERE vec_id < 10),
         sc AS (SELECT q.query_id, dq.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> q.qv[i] * dq.dv[i])) /
               (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(dq.dv, x -> x * x)))), 5)
               AS cos5q
           FROM q JOIN dq ON q.query_id <> dq.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5q DESC, neighbor_id) AS rnk FROM sc)
         SELECT query_id, CAST(rnk AS BIGINT) AS rank, neighbor_id, cos5q
         FROM r WHERE rnk <= 5""",
    // identical to q06's oracle: the salted two-phase plan must produce
    // exactly the plain window dedupe's answer
    "q67_latest_skew_safe" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
         ts_s AS last_ts
         FROM (SELECT user_id, event_id, event_type,
                 strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1""",
    "q68_dml_roundtrip" ->
      """SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 10 = 1 THEN c_acctbal * 2.0
                ELSE c_acctbal END AS bal
         FROM customer WHERE c_custkey % 10 <> 0""",
    "q69_partitioned_gold" ->
      """SELECT n_name AS country, COUNT(*) AS total_bookings,
           CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_amount,
           strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_booking_date
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name HAVING n_name < 'NATION_2'""",
    // bloom prefilter is pure pruning (exact join removes false
    // positives) — the oracle is the plain exact contamination count
    "q70_bloom_decontaminate" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_distinct(list_transform(
                 list_distinct(list_transform(range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])),
                 s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
             ELSE [] END AS grams
           FROM documents),
         corpus AS (SELECT doc_id, unnest(grams) AS gram FROM sh
           WHERE doc_id % 10 <> 0),
         bench AS (SELECT DISTINCT unnest(grams) AS gram FROM sh
           WHERE doc_id % 10 = 0)
         SELECT c.doc_id, COUNT(*) AS n_contaminated_ngrams
         FROM corpus c JOIN bench b ON c.gram = b.gram
         GROUP BY 1""",
    "q71_dup_spans" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (SELECT doc_id,
             CASE WHEN len(w) >= 5 THEN
               list_distinct(list_transform(range(1, len(w) - 3),
                 i -> CAST('0x' || substr(md5(
                   w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                     || ' ' || w[i+4]), 1, 15) AS BIGINT)))
             ELSE [] END AS spans
           FROM w),
         g AS (SELECT doc_id, CAST(len(spans) AS BIGINT) AS n_spans,
             unnest(CASE WHEN len(spans) = 0 THEN [NULL] ELSE spans END) AS gram
           FROM sh),
         f AS (SELECT gram, COUNT(*) AS span_df FROM g
           WHERE gram IS NOT NULL GROUP BY 1 HAVING COUNT(*) >= 2)
         SELECT g.doc_id, g.n_spans,
           CAST(COUNT(f.gram) AS BIGINT) AS n_dup_spans,
           CASE WHEN g.n_spans = 0 THEN 0.0
                ELSE floor(CAST(COUNT(f.gram) AS DOUBLE) / g.n_spans
                  * 100000.0 + 0.5) / 100000.0
           END AS dup_ratio
         FROM g LEFT JOIN f ON g.gram = f.gram
         GROUP BY g.doc_id, g.n_spans""",
    "q72_pack_sequences" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents),
         c AS (SELECT doc_id, n,
             COALESCE(CAST(SUM(n) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS strt
           FROM d)
         SELECT strt // 512 AS bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS sum_tokens, MIN(doc_id) AS first_doc
         FROM c GROUP BY 1""",
    "q73_tfidf_terms" ->
      """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
         t AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
         df AS (SELECT term, COUNT(*) AS df FROM t GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         r AS (SELECT t.doc_id, t.term, t.tf, df.df, n.n_docs,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY t.tf DESC, df.df ASC, t.term ASC) AS rnk
           FROM t JOIN df ON t.term = df.term CROSS JOIN n)
         SELECT doc_id, term, tf, df, CAST(rnk AS BIGINT) AS rnk,
           round(tf * ln(CAST(n_docs AS DOUBLE) / df), 5) AS tfidf
         FROM r WHERE rnk <= 3""",
    // same sign-LSH pair generation as q24, closed into components via
    // the recursive-reach pattern of q59
    "q74_semantic_dedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > embedding[2] THEN 1 ELSE 0 END
            + CASE WHEN embedding[3] > embedding[4] THEN 2 ELSE 0 END
            + CASE WHEN embedding[5] > embedding[6] THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] > embedding[8] THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         und AS (SELECT vec_a AS a, vec_b AS b FROM p WHERE cos5 >= 0.3
                 UNION
                 SELECT vec_b, vec_a FROM p WHERE cos5 >= 0.3),
         reach(id, lbl) AS (
           SELECT a, a FROM und
           UNION
           SELECT u.a, r.lbl FROM und u JOIN reach r ON u.b = r.id),
         comp AS (SELECT id, MIN(lbl) AS canonical FROM reach GROUP BY id)
         SELECT id AS vec_id, canonical AS canonical_id,
           CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT)
             AS cluster_size
         FROM comp""",
    "q75_quality_model" ->
      """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w
           FROM documents),
         f AS (SELECT doc_id, lang,
             LEAST(CAST(len(w) AS DOUBLE) / 128.0, 1.0) AS lenadq,
             CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
             LEAST(CAST(len(list_filter(w, t -> t IN ('the', 'a')))
               AS DOUBLE) / 4.0, 1.0) AS stopsc
           FROM d),
         z AS (SELECT doc_id, lang,
             -3.0 + lenadq * 2.0 + ttr * 2.5 + stopsc * 1.5 AS z FROM f)
         SELECT doc_id, lang,
           floor(z * 100000.0 + 0.5) / 100000.0 AS z5,
           floor(1.0 / (1.0 + exp(-z)) * 100000.0 + 0.5) / 100000.0
             AS prob5, z >= 0.0 AS keep
         FROM z""",
    "q76_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > embedding[2] THEN 1 ELSE 0 END
            + CASE WHEN embedding[3] > embedding[4] THEN 2 ELSE 0 END
            + CASE WHEN embedding[5] > embedding[6] THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] > embedding[8] THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         p AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM p)
         SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 2""",
    "q77_incremental_dedup" ->
      """WITH str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh WHERE len(shingles) > 0),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
           FROM bands n JOIN bands o
             ON n.b = o.b AND n.band_key = o.band_key
           WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0),
         j AS (SELECT c.new_id,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM cand c JOIN sh a ON c.new_id = a.doc_id
                       JOIN sh b ON c.old_id = b.doc_id),
         flagged AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_near_dups,
             floor(MAX(jaccard) * 100000.0 + 0.5) / 100000.0 AS jmax5
           FROM j WHERE jaccard >= 0.8 GROUP BY new_id)
         SELECT d.doc_id,
           CAST(COALESCE(f.n_near_dups, 0) AS BIGINT) AS n_near_dups,
           COALESCE(f.jmax5, 0.0) AS jmax5,
           COALESCE(f.n_near_dups, 0) = 0 AS admit
         FROM documents d LEFT JOIN flagged f ON d.doc_id = f.new_id
         WHERE d.doc_id % 10 = 0""",
    "q78_quality_canonical" ->
      """WITH RECURSIVE str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         j AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM cand c JOIN sh a ON c.doc_a = a.doc_id JOIN sh b ON c.doc_b = b.doc_id),
         und AS (SELECT doc_a AS a, doc_b AS b FROM j WHERE jaccard >= 0.8
                 UNION
                 SELECT doc_b, doc_a FROM j WHERE jaccard >= 0.8),
         reach(id, lbl) AS (
           SELECT a, a FROM und
           UNION
           SELECT u.a, r.lbl FROM und u JOIN reach r ON u.b = r.id),
         comp AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
         q AS (SELECT c.id AS doc_id, c.cluster_id, d.n_chars
           FROM comp c JOIN documents d ON c.id = d.doc_id)
         SELECT doc_id, cluster_id,
           FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
             ORDER BY n_chars DESC, doc_id) AS keeper_id,
           doc_id = FIRST_VALUE(doc_id) OVER (PARTITION BY cluster_id
             ORDER BY n_chars DESC, doc_id) AS keep
         FROM q""",
    "q79_unpivot" ->
      """WITH a AS (SELECT n_name AS nation,
             CAST(COUNT(*) AS DOUBLE) AS n_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_acctbal,
             MAX(c_acctbal) AS max_acctbal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name)
         SELECT nation, 'n_customers' AS metric, n_customers AS value FROM a
         UNION ALL
         SELECT nation, 'sum_acctbal' AS metric, sum_acctbal FROM a
         UNION ALL
         SELECT nation, 'max_acctbal' AS metric, max_acctbal FROM a""",
    "q80_zipf_slope" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
           FROM documents),
         freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
           FROM toks GROUP BY tok),
         top AS (SELECT * FROM freq ORDER BY freq DESC, tok LIMIT 500),
         ranked AS (SELECT freq, row_number() OVER
             (ORDER BY freq DESC, tok) AS rank FROM top),
         q AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
             ln(CAST(freq AS DOUBLE)) AS y FROM ranked),
         qt AS (SELECT
             CAST(floor(x * 1000000000.0 + 0.5) AS BIGINT) AS xq,
             CAST(floor(y * 1000000000.0 + 0.5) AS BIGINT) AS yq,
             CAST(floor(x * y * 1000000000.0 + 0.5) AS BIGINT) AS xyq,
             CAST(floor(x * x * 1000000000.0 + 0.5) AS BIGINT) AS xxq
           FROM q),
         s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(xq) AS DOUBLE) / 1000000000.0 AS sx,
             CAST(SUM(yq) AS DOUBLE) / 1000000000.0 AS sy,
             CAST(SUM(xyq) AS DOUBLE) / 1000000000.0 AS sxy,
             CAST(SUM(xxq) AS DOUBLE) / 1000000000.0 AS sxx
           FROM qt)
         SELECT CAST(n AS BIGINT) AS n_ranks,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 100000.0
             + 0.5) / 100000.0 AS slope5,
           floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 100000.0 + 0.5) / 100000.0 AS intercept5
         FROM s""",
    "q81_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents),
         b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM d),
         uc AS (SELECT doc_id, n, g, COUNT(*) AS c
           FROM (SELECT doc_id, n, unnest(w) AS g FROM b)
           GROUP BY doc_id, n, g),
         uni AS (SELECT doc_id,
             floor(CAST(MAX(c) AS DOUBLE) / n * 100000.0 + 0.5)
               / 100000.0 AS top_uni5
           FROM uc GROUP BY doc_id, n),
         bc AS (SELECT doc_id, n - 1 AS m, g, COUNT(*) AS c
           FROM (SELECT doc_id, n, unnest(list_transform(range(1, len(w)),
               i -> w[i] || ' ' || w[i+1])) AS g FROM b WHERE n >= 2)
           GROUP BY doc_id, n, g),
         bi AS (SELECT doc_id,
             floor(CAST(MAX(c) AS DOUBLE) / m * 100000.0 + 0.5)
               / 100000.0 AS top_bi5
           FROM bc GROUP BY doc_id, m),
         tc AS (SELECT doc_id, n - 2 AS m, g, COUNT(*) AS c
           FROM (SELECT doc_id, n, unnest(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS g
             FROM b WHERE n >= 3)
           GROUP BY doc_id, n, g),
         tri AS (SELECT doc_id,
             floor(CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS DOUBLE)
               / m * 100000.0 + 0.5) / 100000.0 AS dup_tri5
           FROM tc GROUP BY doc_id, m)
         SELECT b.doc_id,
           COALESCE(u.top_uni5, 0.0) AS top_uni5,
           COALESCE(bi.top_bi5, 0.0) AS top_bi5,
           COALESCE(t.dup_tri5, 0.0) AS dup_tri5,
           COALESCE(u.top_uni5, 0.0) >= 0.125
             OR COALESCE(t.dup_tri5, 0.0) >= 0.25 AS repetitive
         FROM b LEFT JOIN uni u ON b.doc_id = u.doc_id
           LEFT JOIN bi ON b.doc_id = bi.doc_id
           LEFT JOIN tri t ON b.doc_id = t.doc_id""",
    // the drained grid is bit-identical to the one-pass CMS: q261
    // shares q82's oracle verbatim
    "q261_stream_cms" -> cmsHeavyOracle,
    "q82_cms_heavy" -> cmsHeavyOracle,
    "q83_resample_daily" ->
      """WITH e AS (SELECT user_id,
             CAST(floor(epoch(ts) / 86400.0) AS BIGINT) AS day, value
           FROM events WHERE user_id < 50),
         agg AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
           FROM e GROUP BY user_id, day),
         spine AS (SELECT user_id,
             unnest(range(MIN(day), MAX(day) + 1)) AS day
           FROM e GROUP BY user_id)
         SELECT s.user_id, s.day,
           COALESCE(a.n_events, 0) AS n_events,
           COALESCE(a.sum_value, 0.0) AS sum_value
         FROM spine s LEFT JOIN agg a
           ON s.user_id = a.user_id AND s.day = a.day""",
    "q84_mad_outliers" ->
      """WITH med AS (SELECT lang, quantile_cont(n_chars, 0.5) AS med
           FROM documents GROUP BY lang),
         dev AS (SELECT d.doc_id, d.lang, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS adev
           FROM documents d JOIN med m ON d.lang = m.lang),
         mad AS (SELECT lang, med, quantile_cont(adev, 0.5) AS mad
           FROM dev GROUP BY lang, med)
         SELECT v.doc_id, v.lang, v.n_chars, a.med, a.mad,
           v.adev > 3.0 * a.mad AS outlier
         FROM dev v JOIN mad a ON v.lang = a.lang""",
    "q85_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events),
         t1 AS (SELECT user_id, MIN(ts_s) AS t_view FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         t2 AS (SELECT e.user_id, MIN(e.ts_s) AS t_click
           FROM e JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts_s > t1.t_view
           GROUP BY e.user_id),
         t3 AS (SELECT e.user_id, MIN(e.ts_s) AS t_purchase
           FROM e JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts_s > t2.t_click
           GROUP BY e.user_id),
         u AS (SELECT DISTINCT user_id FROM e)
         SELECT u.user_id,
           CAST(CASE WHEN t3.t_purchase IS NOT NULL THEN 3
                     WHEN t2.t_click IS NOT NULL THEN 2
                     WHEN t1.t_view IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS funnel_stage,
           COALESCE(t1.t_view, '') AS t_view,
           COALESCE(t2.t_click, '') AS t_click,
           COALESCE(t3.t_purchase, '') AS t_purchase
         FROM u LEFT JOIN t1 ON u.user_id = t1.user_id
           LEFT JOIN t2 ON u.user_id = t2.user_id
           LEFT JOIN t3 ON u.user_id = t3.user_id""",
    "q86_ann_multiprobe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             (CASE WHEN embedding[1] > embedding[2] THEN 1 ELSE 0 END
            + CASE WHEN embedding[3] > embedding[4] THEN 2 ELSE 0 END
            + CASE WHEN embedding[5] > embedding[6] THEN 4 ELSE 0 END
            + CASE WHEN embedding[7] > embedding[8] THEN 8 ELSE 0 END) AS bucket
           FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv,
             unnest([bucket, xor(bucket, 1), xor(bucket, 2),
                     xor(bucket, 4), xor(bucket, 8)]) AS bucket
           FROM e WHERE vec_id < 10),
         s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.bucket = e.bucket AND q.query_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3""",
    "q87_shipping_priority" ->
      """SELECT l_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts,
           o_orderpriority,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON l_orderkey = o_orderkey
         WHERE c_mktsegment = 'BUILDING'
           AND strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
             < '1998-01-01 00:00:00'
           AND strftime(l_shipdate, '%Y-%m-%d %H:%M:%S')
             > '1998-01-01 00:00:00'
         GROUP BY l_orderkey, order_ts, o_orderpriority
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q88_pagerank" ->
      s"""WITH $knnEdgeCtes,
         deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg
           FROM e GROUP BY src),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
         vx AS (SELECT vec_id AS id FROM embeddings),
         r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / n.n AS r FROM vx, n),
         s1 AS (SELECT e.dst AS id, SUM(CAST(floor(r0.r / deg.deg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS scq
           FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src
           GROUP BY e.dst),
         r1 AS (SELECT vx.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             + CAST(0.85 AS DOUBLE)
             * (CAST(COALESCE(s1.scq, 0) AS DOUBLE) / 1000000000000.0) AS r
           FROM vx LEFT JOIN s1 ON vx.id = s1.id, n),
         s2 AS (SELECT e.dst AS id, SUM(CAST(floor(r1.r / deg.deg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS scq
           FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src
           GROUP BY e.dst),
         r2 AS (SELECT vx.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             + CAST(0.85 AS DOUBLE)
             * (CAST(COALESCE(s2.scq, 0) AS DOUBLE) / 1000000000000.0) AS r
           FROM vx LEFT JOIN s2 ON vx.id = s2.id, n),
         s3 AS (SELECT e.dst AS id, SUM(CAST(floor(r2.r / deg.deg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS scq
           FROM e JOIN r2 ON e.src = r2.id JOIN deg ON e.src = deg.src
           GROUP BY e.dst),
         r3 AS (SELECT vx.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             + CAST(0.85 AS DOUBLE)
             * (CAST(COALESCE(s3.scq, 0) AS DOUBLE) / 1000000000000.0) AS r
           FROM vx LEFT JOIN s3 ON vx.id = s3.id, n),
         s4 AS (SELECT e.dst AS id, SUM(CAST(floor(r3.r / deg.deg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS scq
           FROM e JOIN r3 ON e.src = r3.id JOIN deg ON e.src = deg.src
           GROUP BY e.dst),
         r4 AS (SELECT vx.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             + CAST(0.85 AS DOUBLE)
             * (CAST(COALESCE(s4.scq, 0) AS DOUBLE) / 1000000000000.0) AS r
           FROM vx LEFT JOIN s4 ON vx.id = s4.id, n),
         s5 AS (SELECT e.dst AS id, SUM(CAST(floor(r4.r / deg.deg
               * 1000000000000.0 + 0.5) AS BIGINT)) AS scq
           FROM e JOIN r4 ON e.src = r4.id JOIN deg ON e.src = deg.src
           GROUP BY e.dst),
         r5 AS (SELECT vx.id, (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
             + CAST(0.85 AS DOUBLE)
             * (CAST(COALESCE(s5.scq, 0) AS DOUBLE) / 1000000000000.0) AS r
           FROM vx LEFT JOIN s5 ON vx.id = s5.id, n)
         SELECT id AS vec_id, r AS pagerank FROM r5""",
    "q89_minhash_estimate" ->
      """WITH str AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
             ELSE [] END AS shingles
           FROM documents),
         sh AS (SELECT doc_id,
             list_distinct(list_transform(shingles,
               s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS shingles
           FROM str),
         sig AS (SELECT doc_id, shingles,
             [list_min(list_transform(shingles, x ->
                (((2654435761 * (h + 1)) % 1073741789) * (x // 1073741824)
                 + ((2246822519 * (h + 1)) % 1073741789) * (x % 1073741824)
                 + h) % 1073741789)) FOR h IN range(12)] AS sig
           FROM sh WHERE len(shingles) > 0),
         bands AS (SELECT doc_id, b,
             md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3])) AS band_key
           FROM sig, unnest(range(4)) AS t(b)),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           FROM bands x JOIN bands y
             ON x.b = y.b AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         j AS (SELECT c.doc_a, c.doc_b,
             CAST(list_sum(list_transform(range(1, 13),
               i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
               AS DOUBLE) / 12.0 AS sig_est,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE) /
               len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
           FROM cand c JOIN sig a ON c.doc_a = a.doc_id
                       JOIN sig b ON c.doc_b = b.doc_id)
         SELECT doc_a, doc_b, sig_est, jaccard,
           abs(sig_est - jaccard) AS abs_err
         FROM j""",
    "q90_trailing_window" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
           FROM events)
         SELECT user_id, event_id, ts_sec,
           CAST(COUNT(*) OVER wf AS BIGINT) AS n_1h,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wf AS DOUBLE)
             AS sum_1h
         FROM e WINDOW wf AS (PARTITION BY user_id ORDER BY ts_sec
           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",
    "q91_lang_confusion" ->
      """WITH w AS (SELECT doc_id, lang,
             list_distinct(string_split(text, ' ')) AS ws FROM documents),
         sc AS (SELECT doc_id, lang, l AS cand,
             CAST(len(list_filter(ws, t -> ascii(substr(md5(l || '~' || t), 1, 1)) % 4 = 0)) AS BIGINT) AS score
           FROM w, unnest(['de','en','es','fr','zh']) AS u(l)),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, cand) AS rn FROM sc),
         pred AS (SELECT lang AS labeled_lang, cand AS predicted_lang
           FROM r WHERE rn = 1),
         cm AS (SELECT labeled_lang, predicted_lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM pred GROUP BY labeled_lang, predicted_lang)
         SELECT labeled_lang, predicted_lang, n_docs,
           floor(CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER (PARTITION BY labeled_lang) AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS frac5,
           labeled_lang = predicted_lang AS correct
         FROM cm""",
    "q92_unigram_xent" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY tok),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
         q AS (SELECT t.doc_id,
             CAST(floor(-ln(f.tf / n.total) * 1000000000.0 + 0.5)
               AS BIGINT) AS qln
           FROM toks t JOIN freq f ON t.tok = f.tok, n),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(qln) AS DOUBLE) / 1000000000.0 AS sq
           FROM q GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           floor(sq / n_tokens * 100000.0 + 0.5) / 100000.0 AS xent5
         FROM agg""",
    "q93_exists_semi" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
         FROM orders o
         WHERE EXISTS (SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey
             AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority""",
    "q94_order_histogram" ->
      """WITH pc AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
           GROUP BY c_custkey)
         SELECT c_count, COUNT(*) AS n_customers FROM pc GROUP BY c_count""",
    "q95_small_qty_revenue" ->
      """WITH lp AS (SELECT l_partkey, l_quantity, l_extendedprice
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE p_brand = 'Brand#1' AND p_size < 10),
           aq AS (SELECT l_partkey AS a_partkey, avg(l_quantity) AS avg_qty
             FROM lp GROUP BY 1)
         SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
         FROM lp JOIN aq ON l_partkey = a_partkey
         WHERE l_quantity < 0.2 * avg_qty""",
    "q96_dormant_customers" ->
      """WITH ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_bal
           FROM customer WHERE c_acctbal > 0)
         SELECT c_mktsegment, COUNT(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer, ab
         WHERE c_acctbal > avg_bal
           AND NOT EXISTS (SELECT 1 FROM orders
             WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment""",
    "q97_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
               AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
           FROM lineitem
           WHERE strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') >= '1998-01-01 00:00:00'
             AND strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') < '1998-04-01 00:00:00'
           GROUP BY l_suppkey)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
    "q98_dsir_weights" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS is_target,
             unnest(string_split(text, ' ')) AS tok FROM documents),
         tb AS (SELECT doc_id, is_target,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 256 AS bucket
           FROM toks),
         bb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct
           FROM tb GROUP BY bucket),
         tt AS (SELECT CAST(SUM(cr) AS BIGINT) AS nr,
             CAST(SUM(ct) AS BIGINT) AS nt FROM bb),
         st AS (SELECT bucket,
             CAST(floor((ln((CAST(ct AS DOUBLE) + 1.0)
                   / (CAST(nt AS DOUBLE) + 256.0))
                 - ln((CAST(cr AS DOUBLE) + 1.0)
                   / (CAST(nr AS DOUBLE) + 256.0)))
               * 1000000000.0 + 0.5) AS BIGINT) AS qlr
           FROM bb, tt),
         pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(qlr) AS DOUBLE) / 1000000000.0 AS slr
           FROM tb JOIN st USING (bucket) GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           floor(slr / n_tokens * 100000.0 + 0.5) / 100000.0 AS logw5
         FROM pd""",
    "q99_kmeans" ->
      """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         c0 AS (SELECT id AS cluster, v AS cv FROM e WHERE id < 4),
         s1 AS (SELECT e.id, c0.cluster,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> e.v[i] * c0.cv[i])) /
               (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
                sqrt(list_sum(list_transform(c0.cv, x -> x * x)))), 5) AS cos5
           FROM e, c0),
         a1 AS (SELECT id, cluster, cos5 FROM (SELECT *,
             row_number() OVER (PARTITION BY id
               ORDER BY cos5 DESC, cluster) AS rn FROM s1) WHERE rn = 1),
         m1 AS (SELECT a1.cluster, i - 1 AS pos,
             CAST(SUM(CAST(floor(e.v[i] * 1000000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS m
           FROM a1 JOIN e USING (id),
             unnest(range(1, len(e.v) + 1)) AS t(i)
           GROUP BY 1, 2),
         c1 AS (SELECT cluster, list(m ORDER BY pos) AS cv FROM m1
           GROUP BY cluster),
         s2 AS (SELECT e.id, c1.cluster,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> e.v[i] * c1.cv[i])) /
               (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
                sqrt(list_sum(list_transform(c1.cv, x -> x * x)))), 5) AS cos5
           FROM e, c1),
         a2 AS (SELECT id, cluster, cos5 FROM (SELECT *,
             row_number() OVER (PARTITION BY id
               ORDER BY cos5 DESC, cluster) AS rn FROM s2) WHERE rn = 1),
         m2 AS (SELECT a2.cluster, i - 1 AS pos,
             CAST(SUM(CAST(floor(e.v[i] * 1000000000.0 + 0.5) AS BIGINT))
               AS DOUBLE) / 1000000000.0 / CAST(COUNT(*) AS DOUBLE) AS m
           FROM a2 JOIN e USING (id),
             unnest(range(1, len(e.v) + 1)) AS t(i)
           GROUP BY 1, 2),
         c2 AS (SELECT cluster, list(m ORDER BY pos) AS cv FROM m2
           GROUP BY cluster),
         s3 AS (SELECT e.id, c2.cluster,
             round(list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> e.v[i] * c2.cv[i])) /
               (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
                sqrt(list_sum(list_transform(c2.cv, x -> x * x)))), 5) AS cos5
           FROM e, c2),
         a3 AS (SELECT id, cluster, cos5 FROM (SELECT *,
             row_number() OVER (PARTITION BY id
               ORDER BY cos5 DESC, cluster) AS rn FROM s3) WHERE rn = 1)
         SELECT id AS vec_id, cluster, cos5 FROM a3""",
    "q100_rerank_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         dims AS (SELECT i AS pos, min(v[i]) AS lo, max(v[i]) AS hi
           FROM e, unnest(range(1, len(v) + 1)) AS t(i) GROUP BY i),
         stats AS (SELECT list(lo ORDER BY pos) AS los,
             list(hi ORDER BY pos) AS his FROM dims),
         dq AS (SELECT vec_id,
             list_transform(range(1, len(v) + 1), i ->
               CASE WHEN his[i] = los[i] THEN los[i]
                 ELSE los[i]
                   + (CAST(least(255, floor((v[i] - los[i])
                        / (his[i] - los[i]) * 256)) AS DOUBLE) + 0.5)
                   * (his[i] - los[i]) / 256 END) AS dv
           FROM e CROSS JOIN stats),
         q AS (SELECT vec_id AS query_id, dv AS qv FROM dq
           WHERE vec_id < 10),
         sc AS (SELECT q.query_id, dq.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> q.qv[i] * dq.dv[i])) /
               (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(dq.dv, x -> x * x)))), 5)
               AS cos5q
           FROM q JOIN dq ON q.query_id <> dq.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5q DESC, neighbor_id) AS rnk FROM sc),
         short AS (SELECT query_id, neighbor_id,
             CAST(rnk AS BIGINT) AS coarse_rank FROM r WHERE rnk <= 20),
         sc2 AS (SELECT s.query_id, s.neighbor_id, s.coarse_rank,
             round(list_sum(list_transform(range(1, len(a.v) + 1),
                 i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM short s JOIN e a ON s.query_id = a.vec_id
                        JOIN e b ON s.neighbor_id = b.vec_id),
         r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5 DESC, neighbor_id) AS rnk2 FROM sc2)
         SELECT query_id, CAST(rnk2 AS BIGINT) AS rank, neighbor_id,
           cos5, coarse_rank
         FROM r2 WHERE rnk2 <= 5""",
    "q101_domain_cap" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
           FROM documents),
         q AS (SELECT doc_id, source,
             least(CAST(len(ws) AS DOUBLE) / 100.0, 1.0) * 0.4
             + (CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)) * 0.4
             + least(CAST(len(list_filter(ws, t -> t IN ('the','a')))
                 AS DOUBLE) / 5.0, 1.0) * 0.2 AS score
           FROM w),
         r AS (SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
               ORDER BY score DESC, doc_id) AS rnk FROM q)
         SELECT doc_id, source, CAST(rnk AS BIGINT) AS rnk,
           floor(score * 100000.0 + 0.5) / 100000.0 AS score5
         FROM r WHERE rnk <= 15""",
    "q102_ccnet_buckets" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY tok),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
         q AS (SELECT t.doc_id,
             CAST(floor(-ln(f.tf / n.total) * 1000000000.0 + 0.5)
               AS BIGINT) AS qln
           FROM toks t JOIN freq f ON t.tok = f.tok, n),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(qln) AS DOUBLE) / 1000000000.0 AS sq
           FROM q GROUP BY doc_id),
         x AS (SELECT doc_id,
             floor(sq / n_tokens * 100000.0 + 0.5) / 100000.0 AS xent5
           FROM agg),
         j AS (SELECT x.doc_id, d.lang, x.xent5
           FROM x JOIN documents d USING (doc_id)),
         t AS (SELECT *, CAST(ntile(3) OVER (PARTITION BY lang
             ORDER BY xent5 ASC, doc_id ASC) AS BIGINT) AS tercile FROM j)
         SELECT doc_id, lang, xent5, tercile,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
             ELSE 'tail' END AS ppl_bucket
         FROM t""",
    "q103_multi_distinct" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(DISTINCT CAST(year(o_orderdate) AS BIGINT)) AS n_years,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY o_orderpriority""",
    "q104_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             AVG(dl) AS avgdl FROM dl),
         tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks
           WHERE tok IN ('merge', 'stream', 'window') GROUP BY doc_id, tok),
         dfq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
         s AS (SELECT tf.doc_id,
             ln(1.0 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
           FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id)
           CROSS JOIN stats),
         sc AS (SELECT doc_id, round(SUM(s), 4) AS score4 FROM s
           GROUP BY doc_id),
         bm AS (SELECT doc_id, rank AS r_bm25 FROM (
           SELECT doc_id, CAST(row_number() OVER (
               ORDER BY score4 DESC, doc_id ASC) AS BIGINT) AS rank
           FROM sc) WHERE rank <= 20),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         qv AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
         sa AS (SELECT e.vec_id AS doc_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1),
                 i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM qv q JOIN e ON q.vec_id <> e.vec_id),
         ann AS (SELECT doc_id, rank AS r_ann FROM (
           SELECT doc_id, CAST(row_number() OVER (
               ORDER BY cos5 DESC, doc_id ASC) AS BIGINT) AS rank
           FROM sa) WHERE rank <= 20),
         f AS (SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id,
             bm.r_bm25, ann.r_ann,
             COALESCE(1.0 / (60.0 + bm.r_bm25), 0.0)
               + COALESCE(1.0 / (60.0 + ann.r_ann), 0.0) AS rrf
           FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id)
         SELECT doc_id, fused_rank, r_bm25, r_ann,
           floor(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf6
         FROM (SELECT *, CAST(row_number() OVER (
             ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS fused_rank FROM f)
         WHERE fused_rank <= 10""",
    "q105_stratified_sample" ->
      """SELECT doc_id, lang, smp_rank FROM (
           SELECT doc_id, lang, CAST(row_number() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
             AS smp_rank
           FROM documents)
         WHERE smp_rank <= 20""",
    "q106_temperature_mix" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source),
         t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c),
         q AS (SELECT source, n_docs,
             CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE))
               * 1000000000000.0 + 0.5) AS BIGINT) AS wq
           FROM c, t),
         ws AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_sum FROM q)
         SELECT source, n_docs,
           floor(p * 1000000.0 + 0.5) / 1000000.0 AS p6,
           floor(CAST(wq AS DOUBLE) / CAST(wq_sum AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS share6
         FROM q, ws""",
    "q107_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
         q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
         s AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             e.label AS neg_label,
             round(list_sum(list_transform(range(1, len(q.v) + 1),
                 i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.label <> e.label),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           neg_label, cos5
         FROM r WHERE rank <= 3""",
    "q108_cluster_histogram" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         sz AS (SELECT canonical, CAST(COUNT(*) AS BIGINT) AS cluster_size
           FROM comp GROUP BY canonical)
         SELECT cluster_size, COUNT(*) AS n_clusters
         FROM sz GROUP BY cluster_size""",
    "q109_bag_setops" ->
      """WITH ev AS (SELECT user_id, event_type, event_id % 10 >= 8 AS inc
           FROM events),
         pre AS (SELECT user_id, event_type FROM ev WHERE NOT inc),
         post AS (SELECT user_id, event_type FROM ev WHERE inc),
         ia AS (SELECT * FROM pre INTERSECT ALL SELECT * FROM post),
         ea AS (SELECT * FROM pre EXCEPT ALL SELECT * FROM post)
         SELECT event_type, COUNT(*) AS n, 'intersect_all' AS op
         FROM ia GROUP BY event_type
         UNION ALL
         SELECT event_type, COUNT(*) AS n, 'except_all' AS op
         FROM ea GROUP BY event_type""",
    "q110_scd2_history" ->
      """WITH f AS (SELECT user_id, event_type, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events
           UNION ALL
           SELECT DISTINCT user_id, CAST(NULL AS VARCHAR) AS event_type,
             CAST(-1 AS BIGINT) AS event_id,
             '1970-01-01 00:00:00' AS ts_s
           FROM events WHERE user_id % 10 = 0),
         m AS (SELECT *, lag(event_type) OVER w AS prev_attr,
             row_number() OVER w AS rn
           FROM f WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_s, event_id)),
         runs AS (SELECT * FROM m
           WHERE rn = 1 OR (prev_attr IS DISTINCT FROM event_type)),
         v AS (SELECT user_id, event_type, ts_s,
             CAST(row_number() OVER w2 AS BIGINT) AS version,
             lead(ts_s) OVER w2 AS next_from
           FROM runs WINDOW w2 AS (PARTITION BY user_id
             ORDER BY ts_s, event_id))
         SELECT user_id, version, event_type, ts_s AS valid_from,
           COALESCE(next_from, '9999-12-31 00:00:00') AS valid_to,
           next_from IS NULL AS is_current
         FROM v""",
    "q111_triangles" ->
      s"""WITH $knnEdgeCtes,
         und AS (SELECT DISTINCT least(src, dst) AS u,
             greatest(src, dst) AS v FROM e WHERE src <> dst),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM und e1 JOIN und e2 ON e1.v = e2.u
           JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
         corners AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n
           FROM (SELECT unnest([a, b, c]) AS node FROM tri)
           GROUP BY node)
         SELECT vec_id, COALESCE(n, 0) AS n_triangles
         FROM embeddings LEFT JOIN corners ON vec_id = node""",
    // the native heap aggregate must reproduce the rank-window rows
    // exactly — q61's oracle, verbatim
    "q112_native_topk" ->
      """WITH rev AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders GROUP BY o_custkey)
         SELECT nation, o_custkey, revenue, rnk FROM (
           SELECT n_name AS nation, o_custkey, revenue,
             CAST(row_number() OVER (PARTITION BY n_name
               ORDER BY revenue DESC, o_custkey ASC) AS BIGINT) AS rnk
           FROM rev JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey)
         WHERE rnk <= 3""",
    // reuses the q59/q108 CTE chain: `j` holds every LSH candidate
    // pair with its exact Jaccard (recursive members lazily unused)
    "q113_tau_sweep" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         t AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
             AS tau)
         SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM j, t WHERE jaccard >= tau GROUP BY tau""",
    "q114_sparse_cosine" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents),
         v AS (SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % 64 AS dim,
             CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY 1, 2),
         norms AS (SELECT doc_id, sqrt(CAST(SUM(tf * tf) AS DOUBLE)) AS nrm
           FROM v GROUP BY doc_id),
         q AS (SELECT doc_id AS query_id, dim, tf AS tfq FROM v
           WHERE doc_id <= 5),
         c AS (SELECT doc_id AS neighbor_id, dim, tf AS tfc FROM v),
         dots AS (SELECT query_id, neighbor_id,
             CAST(SUM(tfq * tfc) AS BIGINT) AS dot
           FROM q JOIN c USING (dim) WHERE query_id <> neighbor_id
           GROUP BY 1, 2),
         sc AS (SELECT d.query_id, d.neighbor_id,
             round(CAST(d.dot AS DOUBLE) / (nq.nrm * nc.nrm), 5) AS cos5
           FROM dots d JOIN norms nq ON d.query_id = nq.doc_id
                       JOIN norms nc ON d.neighbor_id = nc.doc_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5 DESC, neighbor_id) AS rank FROM sc)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3""",
    "q115_weighted_sample" ->
      """WITH k AS (SELECT doc_id, n_chars, lang,
             ln((CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                   AS BIGINT) AS DOUBLE) + 1.0)
                 / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS skey
           FROM documents),
         top AS (SELECT * FROM k ORDER BY skey DESC, doc_id LIMIT 50)
         SELECT doc_id, n_chars, lang,
           CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT)
             AS smp_rank
         FROM top""",
    "q116_zscores" ->
      """WITH st AS (SELECT o_orderpriority, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,4)))
               AS DOUBLE) AS sxx
           FROM orders GROUP BY 1),
         ms AS (SELECT o_orderpriority, sx / n AS mean,
             sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)) AS sd
           FROM st)
         SELECT o_orderkey, o.o_orderpriority, o_totalprice,
           floor((o_totalprice - mean) / sd * 100000.0 + 0.5) / 100000.0
             AS z5
         FROM orders o JOIN ms ON o.o_orderpriority = ms.o_orderpriority""",
    // DuckDB's max_by takes only scalar keys, so the oracle states the
    // same (bal DESC, key DESC)-argmax as a rank window — the Spark
    // side is the aggregate plan on purpose
    "q117_argmax" ->
      """WITH j AS (SELECT n_name, c_name, c_acctbal, c_custkey
           FROM customer JOIN nation ON c_nationkey = n_nationkey),
         r AS (SELECT *, row_number() OVER (PARTITION BY n_name
             ORDER BY c_acctbal DESC, c_custkey DESC) AS rn FROM j)
         SELECT n_name AS nation, c_name AS top_customer,
           c_acctbal AS top_bal
         FROM r WHERE rn = 1""",
    // Discounted revenue is quantized to a 1e-4-grain BIGINT on both
    // sides (floor(x*1e4+0.5)) so the SUM is exact and order-free —
    // the same pattern as q92's qln (see graft.queries.CoreQueries.revQ)
    "q118_promo_share" ->
      """WITH lp AS (SELECT strftime(l_shipdate, '%Y-%m') AS month,
             p_type,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) AS BIGINT) AS rq
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         agg AS (SELECT month,
             SUM(CASE WHEN p_type = 'PROMO' THEN rq ELSE 0 END) AS promo_q,
             SUM(rq) AS total_q
           FROM lp GROUP BY month)
         SELECT month,
           floor(CAST(promo_q AS DOUBLE) / CAST(total_q AS DOUBLE)
             * 100.0 * 100000.0 + 0.5) / 100000.0 AS promo_share5
         FROM agg""",
    "q119_returned_value" ->
      """WITH r AS (SELECT l_orderkey,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) AS BIGINT) AS rq
           FROM lineitem WHERE l_returnflag = 'R'),
         pc AS (SELECT o_custkey, SUM(rq) AS rqs
           FROM r JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_custkey)
         SELECT c_custkey, c_name, n_name AS nation,
           CAST(rqs AS DOUBLE) / 10000.0 AS revenue
         FROM pc JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q120_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
           FROM lineitem GROUP BY l_orderkey
           HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             > 280.0)
         SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date,
           o_totalprice, sum_qty
         FROM big JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey""",
    "q121_min_price_supplier" ->
      """WITH up AS (SELECT l_partkey, l_suppkey,
             floor(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                 AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               * 100000.0 + 0.5) / 100000.0 AS unit_price5
           FROM lineitem GROUP BY l_partkey, l_suppkey),
         best AS (SELECT l_partkey, l_suppkey AS s_suppkey, unit_price5,
             row_number() OVER (PARTITION BY l_partkey
               ORDER BY unit_price5, l_suppkey) AS rn
           FROM up)
         SELECT l_partkey, b.s_suppkey, s_name, unit_price5
         FROM best b JOIN supplier s ON b.s_suppkey = s.s_suppkey
         WHERE rn = 1""",
    "q122_supplier_types" ->
      """SELECT p_brand, p_type,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_suppkey NOT IN
           (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         GROUP BY p_brand, p_type""",
    "q123_market_share" ->
      """WITH lp AS (SELECT year(o_orderdate) AS o_year, n_name,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) AS BIGINT) AS rq
           FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey),
         agg AS (SELECT o_year,
             SUM(CASE WHEN n_name = 'NATION_9' THEN rq ELSE 0 END)
               AS nation_q,
             SUM(rq) AS total_q
           FROM lp GROUP BY o_year)
         SELECT CAST(o_year AS BIGINT) AS o_year,
           floor(CAST(nation_q AS DOUBLE) / CAST(total_q AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS share5
         FROM agg""",
    // identical semantics to q47 (the ASOF LEFT JOIN), evaluated by the
    // native AsofJoinExec instead of the union-window encoding
    "q129_asof_native" ->
      """WITH e AS (SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value FROM events),
         l AS (SELECT * FROM e WHERE event_id % 5 <> 0),
         r0 AS (SELECT user_id, ts_s, value, event_id,
             row_number() OVER (PARTITION BY user_id, ts_s
               ORDER BY event_id DESC) AS rn
           FROM e WHERE event_id % 5 = 0),
         r AS (SELECT user_id, ts_s, value, event_id FROM r0 WHERE rn = 1)
         SELECT l.event_id, l.user_id, l.ts_s, l.value,
           r.value AS asof_value, r.event_id AS asof_event_id,
           r.ts_s AS asof_ts
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts_s >= r.ts_s""",
    "q124_matryoshka_ann" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         p AS (SELECT vec_id, v[1:16] AS pv FROM e),
         q AS (SELECT vec_id AS query_id, pv AS qpv FROM p WHERE vec_id < 10),
         s AS (SELECT q.query_id, p.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, 17), i -> q.qpv[i] * p.pv[i])) /
               (sqrt(list_sum(list_transform(q.qpv, x -> x * x))) *
                sqrt(list_sum(list_transform(p.pv, x -> x * x)))), 5) AS cos5p
           FROM q JOIN p ON q.query_id <> p.vec_id),
         sl AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos5p DESC, neighbor_id) AS BIGINT) AS coarse_rank
           FROM s QUALIFY coarse_rank <= 20),
         ex AS (SELECT sl.query_id, sl.neighbor_id, sl.coarse_rank,
             round(list_sum(list_transform(range(1, len(qe.v) + 1), i -> qe.v[i] * ne.v[i])) /
               (sqrt(list_sum(list_transform(qe.v, x -> x * x))) *
                sqrt(list_sum(list_transform(ne.v, x -> x * x)))), 5) AS cos5
           FROM sl JOIN e qe ON sl.query_id = qe.vec_id
             JOIN e ne ON sl.neighbor_id = ne.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos5 DESC, neighbor_id) AS rank FROM ex)
         SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           cos5, coarse_rank
         FROM r WHERE rank <= 5""",
    "q125_ann_recall" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id, label, v FROM e WHERE vec_id < 10),
         sx AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.vec_id <> e.vec_id),
         exact AS (SELECT query_id, neighbor_id FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos5 DESC, neighbor_id) AS rank FROM sx)
           WHERE rank <= 3),
         si AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(q.v, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id),
         ivf AS (SELECT query_id, neighbor_id FROM (SELECT *,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos5 DESC, neighbor_id) AS rank FROM si)
           WHERE rank <= 3)
         SELECT x.query_id,
           CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS hits,
           floor(CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               AS DOUBLE) / 3.0 * 100000.0 + 0.5) / 100000.0 AS recall5
         FROM exact x LEFT JOIN ivf i
           ON x.query_id = i.query_id AND x.neighbor_id = i.neighbor_id
         GROUP BY x.query_id""",
    "q126_bigram_xent" ->
      """WITH bg AS (SELECT doc_id, unnest(
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
             ELSE [] END) AS bg
           FROM documents),
         f2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY bg),
         f1 AS (SELECT string_split(bg, ' ')[1] AS w1,
             CAST(COUNT(*) AS BIGINT) AS c1
           FROM bg GROUP BY 1),
         q AS (SELECT doc_id,
             CAST(floor(-ln(CAST(c2 AS DOUBLE) / c1) * 1000000000.0 + 0.5)
               AS BIGINT) AS qln
           FROM bg JOIN f2 USING (bg)
             JOIN f1 ON string_split(bg.bg, ' ')[1] = f1.w1),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(qln) AS DOUBLE) / 1000000000.0 AS sq
           FROM q GROUP BY doc_id)
         SELECT doc_id, n_bigrams,
           floor(sq / n_bigrams * 100000.0 + 0.5) / 100000.0 AS xent5
         FROM agg""",
    "q127_gram_novelty" ->
      """WITH sh AS (SELECT doc_id,
             CASE WHEN len(string_split(text, ' ')) >= 3 THEN
               list_distinct(list_transform(
                 list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])),
                 s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)))
             ELSE [] END AS grams
           FROM documents),
         shf AS (SELECT doc_id, grams FROM sh WHERE len(grams) > 0),
         g AS (SELECT doc_id, unnest(grams) AS gram FROM shf),
         uq AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) = 1),
         nv AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS novel
           FROM g JOIN uq USING (gram) GROUP BY doc_id)
         SELECT s.doc_id, CAST(len(s.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(nv.novel, 0) AS BIGINT) AS novel,
           floor(CAST(COALESCE(nv.novel, 0) AS DOUBLE) / len(s.grams)
             * 100000.0 + 0.5) / 100000.0 AS novel_share5
         FROM shf s LEFT JOIN nv USING (doc_id)""",
    "q128_source_gini" ->
      """WITH r AS (SELECT source, n_chars, doc_id,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS BIGINT) AS rn
           FROM documents),
         agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(n_chars) AS sx, SUM(rn * n_chars) AS srx
           FROM r GROUP BY source)
         SELECT source, n,
           floor(((2.0 * srx) / (n * sx) - (n + 1.0) / n)
             * 100000.0 + 0.5) / 100000.0 AS gini5
         FROM agg""",
    "q130_local_supplier" ->
      """SELECT n_name AS nation,
           CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON c_nationkey = n_nationkey
         WHERE c_nationkey = s_nationkey
         GROUP BY n_name""",
    "q131_volume_shipping" ->
      """WITH v AS (SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) AS BIGINT) AS rq
           FROM lineitem
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation sn ON s_nationkey = sn.n_nationkey
             JOIN nation cn ON c_nationkey = cn.n_nationkey
           WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
              OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
         SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rq) AS DOUBLE) / 10000.0 AS revenue
         FROM v GROUP BY supp_nation, cust_nation, l_year""",
    "q132_priority_counts" ->
      """SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
             THEN 1 ELSE 0 END) AS BIGINT) AS low_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE year(l_shipdate) = 1997
         GROUP BY l_linestatus""",
    "q133_disjunctive" ->
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
             AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
             AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
             AND l_quantity BETWEEN 20 AND 30)""",
    "q134_waiting_suppliers" ->
      """WITH l AS (SELECT l_orderkey, l_suppkey,
             l_shipdate > o_orderdate + INTERVAL 90 DAY AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         os AS (SELECT l_orderkey AS ok,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT CASE WHEN late THEN l_suppkey END)
               AS n_late_supp
           FROM l GROUP BY 1),
         w AS (SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE late),
         nw AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait
           FROM w JOIN os ON l_orderkey = ok
           WHERE n_supp > 1 AND n_late_supp = 1
           GROUP BY l_suppkey)
         SELECT s_name, numwait
         FROM nw JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY numwait DESC, s_name LIMIT 10""",
    "q135_simple_revenue" ->
      """SELECT CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount)
             * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
         WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
           AND year(l_shipdate) = 1997""",
    // reuses the q20/q59 MinHash chain; near-dup pairs rolled up to
    // unordered source-pair cells
    "q136_dup_matrix" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         m AS (SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
           FROM (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.8) p
             JOIN documents da ON p.doc_a = da.doc_id
             JOIN documents db ON p.doc_b = db.doc_id)
         SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
         FROM m GROUP BY source_a, source_b""",
    // the q45 KMV estimator, extended to set algebra: merge two
    // k-minima sketches by keeping the k smallest of the union, apply
    // the same (k-1)*2^60/kth estimate, intersect by
    // inclusion-exclusion; < k merged hashes => both inputs complete
    // => exact
    "q137_kmv_setops" ->
      """WITH tk AS (SELECT DISTINCT source,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                 FROM documents
                 WHERE source IN ('src0','src1','src2','src3','src4'))),
         sk AS (SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS nd
           FROM tk),
         est AS (SELECT source,
             CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976
                       / MAX(CASE WHEN rn = 64 THEN hv END) END AS est
           FROM sk GROUP BY source),
         sk64 AS (SELECT source, hv FROM sk WHERE rn <= 64),
         prs AS (SELECT a.source AS source_a, b.source AS source_b
           FROM (SELECT DISTINCT source FROM tk) a
             JOIN (SELECT DISTINCT source FROM tk) b
             ON a.source < b.source),
         mg AS (SELECT DISTINCT source_a, source_b, hv FROM (
             SELECT p.source_a, p.source_b, s.hv
               FROM prs p JOIN sk64 s ON s.source = p.source_a
             UNION ALL
             SELECT p.source_a, p.source_b, s.hv
               FROM prs p JOIN sk64 s ON s.source = p.source_b)),
         mr AS (SELECT source_a, source_b, hv,
             row_number() OVER (PARTITION BY source_a, source_b
               ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY source_a, source_b) AS m
           FROM mg),
         uest AS (SELECT source_a, source_b,
             CASE WHEN MAX(m) < 64 THEN CAST(MAX(m) AS DOUBLE)
                  ELSE 63.0 * 1152921504606846976
                       / MAX(CASE WHEN rn = 64 THEN hv END) END AS est_u
           FROM mr GROUP BY source_a, source_b)
         SELECT u.source_a, u.source_b,
           floor(ea.est * 10000.0 + 0.5) / 10000.0 AS est_a4,
           floor(eb.est * 10000.0 + 0.5) / 10000.0 AS est_b4,
           floor(u.est_u * 10000.0 + 0.5) / 10000.0 AS est_union4,
           floor(greatest(ea.est + eb.est - u.est_u, 0.0) * 10000.0 + 0.5)
             / 10000.0 AS est_inter4
         FROM uest u JOIN est ea ON u.source_a = ea.source
           JOIN est eb ON u.source_b = eb.source""",
    "q138_pmi_pairs" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
           FROM documents),
         uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
           FROM toks GROUP BY tok),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM toks),
         bg AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM
             (SELECT unnest(CASE WHEN len(string_split(text, ' ')) >= 2
               THEN list_transform(range(1, len(string_split(text, ' '))),
                 i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
               ELSE [] END) AS bg FROM documents)
           GROUP BY bg HAVING COUNT(*) >= 5),
         p AS (SELECT bg.bg, bg.c2,
             floor(ln(CAST(bg.c2 * n.total AS DOUBLE)
               / CAST(a.c1 * b.c1 AS DOUBLE)) * 100000.0 + 0.5)
               / 100000.0 AS pmi5
           FROM bg
             JOIN uni a ON string_split(bg.bg, ' ')[1] = a.tok
             JOIN uni b ON string_split(bg.bg, ' ')[2] = b.tok, n)
         SELECT bg, c2, pmi5 FROM p
         ORDER BY pmi5 DESC, bg LIMIT 20""",
    "q139_trimmed_mean" ->
      """WITH j AS (SELECT n_name AS nation, o_totalprice, o_orderkey
           FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey),
         r AS (SELECT nation, o_totalprice,
             CAST(row_number() OVER (PARTITION BY nation
               ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
             COUNT(*) OVER (PARTITION BY nation) AS n
           FROM j),
         t AS (SELECT nation, o_totalprice FROM r
           WHERE rn > floor(n / 10) AND rn <= n - floor(n / 10))
         SELECT nation, CAST(COUNT(*) AS BIGINT) AS kept,
           floor(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) * 100000.0 + 0.5) / 100000.0 AS trimmed_mean5
         FROM t GROUP BY nation""",
    "q140_price_histogram" ->
      """WITH b AS (SELECT CAST(least(floor(o_totalprice / 25000.0), 10.0)
             AS BIGINT) AS bucket
           FROM orders),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM orders)
         SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           floor(COUNT(*) / t * 100000.0 + 0.5) / 100000.0 AS share5
         FROM b, tot GROUP BY bucket, t""",
    "q141_profit_rollup" ->
      """WITH l AS (SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(floor((l_extendedprice * (1.0 - l_discount)
               - 0.6 * l_quantity * p_retailprice) * 10000.0 + 0.5)
               AS BIGINT) AS pq
           FROM lineitem
             JOIN part ON l_partkey = p_partkey
             JOIN orders ON l_orderkey = o_orderkey
             JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey)
         SELECT nation, o_year,
           CAST(SUM(pq) AS DOUBLE) / 10000.0 AS profit
         FROM l GROUP BY nation, o_year""",
    "q142_important_parts" ->
      """WITH base AS (SELECT l_partkey,
             CAST(floor(l_extendedprice * (1.0 - l_discount) * 10000.0
               + 0.5) AS BIGINT) AS rq
           FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
             JOIN nation ON s_nationkey = n_nationkey
           WHERE n_name = 'NATION_9'),
         pp AS (SELECT l_partkey, SUM(rq) AS vq FROM base GROUP BY 1),
         tot AS (SELECT SUM(vq) AS tq FROM pp)
         SELECT l_partkey,
           CAST(vq AS DOUBLE) / 10000.0 AS part_value
         FROM pp, tot
         WHERE CAST(vq AS DOUBLE) > 0.001 * CAST(tq AS DOUBLE)""",
    "q143_dominant_suppliers" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sq
           FROM lineitem GROUP BY 1, 2),
         p AS (SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS tq
           FROM lineitem GROUP BY 1),
         dom AS (SELECT DISTINCT l_suppkey FROM ps JOIN p
           ON l_partkey = pk WHERE sq > 0.15 * tq)
         SELECT s_suppkey, s_name, s_acctbal
         FROM supplier SEMI JOIN dom ON s_suppkey = l_suppkey""",
    // q45's estimator, est-only: the streamed merge of per-batch
    // k-minima must land on exactly this one-shot batch sketch
    "q144_stream_kmv" ->
      """WITH h AS (SELECT DISTINCT lang,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT lang, hv,
             row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS nd
           FROM h)
         SELECT lang,
           CASE WHEN MAX(nd) < 64 THEN round(CAST(MAX(nd) AS DOUBLE), 4)
                ELSE round(63.0 * 1152921504606846976
                           / MAX(CASE WHEN rn = 64 THEN hv END), 4)
           END AS est_distinct
         FROM r GROUP BY lang""",
    "q145_cohorts" ->
      """WITH um AS (SELECT DISTINCT user_id,
             strftime(ts, '%Y-%m-%d') AS day FROM events),
         c AS (SELECT user_id, MIN(day) AS cohort FROM um GROUP BY 1)
         SELECT cohort, day,
           CAST(COUNT(DISTINCT um.user_id) AS BIGINT) AS n_users
         FROM um JOIN c USING (user_id)
         GROUP BY cohort, day""",
    "q146_transitions" ->
      """WITH o AS (SELECT user_id, event_type, event_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s FROM events),
         l AS (SELECT event_type AS to_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_s, event_id) AS from_type
           FROM o)
         SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
         FROM l WHERE from_type IS NOT NULL
         GROUP BY from_type, to_type""",
    "q147_fill_rate" ->
      """WITH j AS (SELECT o_orderkey, o_orderpriority,
             MIN(CASE WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
               THEN 1 ELSE 0 END) AS all_fast
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY o_orderkey, o_orderpriority)
         SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(all_fast) AS BIGINT) AS n_fast,
           floor(CAST(SUM(all_fast) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) * 100000.0 + 0.5) / 100000.0
             AS fill_rate5
         FROM j GROUP BY o_orderpriority""",
    "q148_mom_revenue" ->
      """WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders GROUP BY 1),
         l AS (SELECT month, revenue,
             lag(revenue) OVER (ORDER BY month) AS prev FROM m)
         SELECT month, revenue,
           floor((revenue - prev) / prev * 100000.0 + 0.5) / 100000.0
             AS mom_change5
         FROM l WHERE prev IS NOT NULL""",
    "q149_changefeed_source" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ts
         FROM events WHERE user_id < 75
         GROUP BY event_type""",
    "q150_top_customer_list" ->
      """WITH r AS (SELECT n_name, c_name,
             row_number() OVER (PARTITION BY n_name
               ORDER BY c_acctbal DESC, c_custkey) AS rn
           FROM customer JOIN nation ON c_nationkey = n_nationkey)
         SELECT n_name AS nation,
           string_agg(c_name, ',' ORDER BY rn) AS top3
         FROM r WHERE rn <= 3 GROUP BY n_name""",
    "q151_rolling_actives" ->
      """WITH um AS (SELECT DISTINCT user_id,
             CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS day FROM events),
         days AS (SELECT DISTINCT day FROM um),
         cov AS (SELECT user_id,
             CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
               INTERVAL 1 DAY)) AS DATE) AS cday
           FROM um),
         f AS (SELECT c.user_id, c.cday FROM cov c
           SEMI JOIN days d ON c.cday = d.day)
         SELECT strftime(cday, '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_7d
         FROM f GROUP BY 1""",
    // moment sums in HUGEINT (exact), one double conversion at the end
    "q152_qty_price_corr" ->
      """WITH b AS (SELECT p_brand,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         m AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
           FROM b GROUP BY p_brand)
         SELECT p_brand, n,
           floor(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE))
             * 100000.0 + 0.5) / 100000.0 AS corr5
         FROM m""",
    "q153_benford" ->
      """WITH b AS (SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
             AS VARCHAR), 1, 1) AS digit
           FROM orders),
         tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM orders)
         SELECT digit, CAST(COUNT(*) AS BIGINT) AS n,
           floor(COUNT(*) / t * 100000.0 + 0.5) / 100000.0 AS share5
         FROM b, tot GROUP BY digit, t""",
    // reuses the q20/q59 MinHash chain up to `cand`; containment
    // instead of jaccard on the verified pairs
    "q154_containment" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
         ct AS (SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(a.shingles) AS ca,
             CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / len(b.shingles) AS cb
           FROM cand c JOIN shf a ON c.doc_a = a.doc_id
             JOIN shf b ON c.doc_b = b.doc_id)
         SELECT doc_a, doc_b,
           floor(ca * 100000.0 + 0.5) / 100000.0 AS cont_a5,
           floor(cb * 100000.0 + 0.5) / 100000.0 AS cont_b5
         FROM ct WHERE greatest(ca, cb) >= 0.7""",
    "q155_fertility" ->
      """WITH b AS (SELECT lang, n_chars,
             len(string_split(text, ' ')) AS n_ws,
             len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe
           FROM documents),
         m AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(n_chars) AS sc, SUM(n_ws) AS sw, SUM(n_bpe) AS sb
           FROM b GROUP BY lang)
         SELECT lang, n_docs,
           floor(CAST(sc AS DOUBLE) / CAST(sw AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS chars_per_ws5,
           floor(CAST(sc AS DOUBLE) / CAST(sb AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS chars_per_bpe5
         FROM m""",
    // q33's batch semantics — the streamed update-mode drain must land
    // on exactly this aggregate
    "q156_stream_windows" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",
    "q157_prefix_groups" ->
      """SELECT md5(substr(text, 1, 128)) AS prefix_md5,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper
         FROM documents GROUP BY 1 HAVING COUNT(*) > 1""",
    // both maintenance ops must be value-neutral: q01's aggregate
    "q158_compaction" ->
      """SELECT n_name AS country, COUNT(*) AS total_bookings,
         CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_booking_date
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q159_time_travel" ->
      """SELECT n_name AS country, COUNT(*) AS total_bookings,
         CAST(SUM(CAST(COALESCE(o_totalprice, 0) AS DECIMAL(18,2))) AS DOUBLE) AS total_amount,
         strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_booking_date
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q160_grouping_sets" ->
      """SELECT coalesce(n_name, '(all)') AS nation,
           coalesce(o_orderpriority, '(all)') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue,
           CAST(grouping(n_name) AS BIGINT) AS g_nation,
           CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority
         FROM orders JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
         GROUP BY GROUPING SETS ((n_name), (o_orderpriority))""",
    "q161_from_json" ->
      """WITH k AS (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
           FROM events)
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(k) AS min_k, MAX(k) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           floor(CAST(SUM(k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS avg_k5
         FROM k GROUP BY event_type""",
    "q162_share_of_region" ->
      """WITH nat AS (SELECT r_name AS region, n_name AS nation,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           GROUP BY r_name, n_name)
         SELECT region, nation, revenue,
           floor(revenue / SUM(revenue) OVER (PARTITION BY region)
             * 100000.0 + 0.5) / 100000.0 AS share5
         FROM nat""",
    "q163_running_total" ->
      """SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
         FROM orders""",
    "q164_yoy_by_nation" ->
      """WITH y AS (SELECT n_name AS nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
           FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name, year(o_orderdate)),
         l AS (SELECT nation, o_year, revenue,
             lag(revenue) OVER (PARTITION BY nation ORDER BY o_year)
               AS prev
           FROM y)
         SELECT nation, o_year, revenue,
           floor((revenue - prev) / prev * 100000.0 + 0.5) / 100000.0
             AS yoy_change5
         FROM l WHERE prev IS NOT NULL""",
    "q165_sentence_stats" ->
      """WITH s AS (SELECT doc_id, trim(sent) AS sent FROM
             (SELECT doc_id, unnest(string_split(text, '. ')) AS sent
              FROM documents)
           WHERE length(trim(sent)) > 0),
         w AS (SELECT doc_id,
             CAST(len(string_split(sent, ' ')) AS BIGINT) AS wc FROM s)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
           CAST(SUM(wc) AS BIGINT) AS n_words,
           floor(CAST(SUM(wc) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS words_per_sent5
         FROM w GROUP BY doc_id""",
    // one global sort-and-scan suffices in the oracle (the 2-phase
    // Spark plan prunes to the same frontier by dominance transitivity)
    "q166_pareto" ->
      """WITH per AS (SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_spent,
             CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM orders GROUP BY o_custkey),
         sc AS (SELECT o_custkey, total_spent, n_orders,
             MAX(n_orders) OVER (
               ORDER BY total_spent DESC, n_orders DESC, o_custkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_prior
           FROM per)
         SELECT o_custkey, total_spent, n_orders FROM sc
         WHERE best_prior IS NULL OR n_orders > best_prior""",
    "q167_histogram_2d" ->
      """SELECT CAST(least(floor(l_quantity / 10.0), 4.0) AS BIGINT)
             AS qty_band,
           CAST(least(floor(l_extendedprice / 20000.0), 5.0) AS BIGINT)
             AS price_band,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2""",
    "q168_vocab_growth" ->
      """WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
         first AS (SELECT tok, MIN(doc_id) AS first_doc FROM
             (SELECT doc_id, unnest(
                CASE WHEN len(string_split(text, ' ')) >= 2 THEN
                  list_transform(range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
                ELSE [] END) AS tok
              FROM documents)
           GROUP BY tok),
         dec AS (SELECT CAST(least(floor(first_doc * 10.0 / (m + 1.0)),
               9.0) AS BIGINT) AS decile
           FROM first, mx),
         cnt AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS new_tokens
           FROM dec GROUP BY decile)
         SELECT decile, new_tokens,
           CAST(SUM(new_tokens) OVER (ORDER BY decile
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
         FROM cnt""",
    "q169_burstiness" ->
      """WITH dc AS (SELECT event_type,
             strftime(ts, '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2),
         m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS scc
           FROM dc GROUP BY event_type)
         SELECT event_type, n_days,
           floor((CAST(scc AS DOUBLE) / n_days
             - (CAST(sc AS DOUBLE) / n_days)
               * (CAST(sc AS DOUBLE) / n_days))
             / (CAST(sc AS DOUBLE) / n_days) * 100000.0 + 0.5) / 100000.0
             AS vmr5
         FROM m""",
    // reuses the q88/q111 kNN edge chain verbatim
    "q170_knn_labels" ->
      s"""WITH $knnEdgeCtes,
         m AS (SELECT least(ea.label, eb.label) AS label_a,
             greatest(ea.label, eb.label) AS label_b
           FROM e JOIN embeddings ea ON e.src = ea.vec_id
             JOIN embeddings eb ON e.dst = eb.vec_id)
         SELECT CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b,
           CAST(COUNT(*) AS BIGINT) AS n_edges
         FROM m GROUP BY label_a, label_b""",
    "q171_error_streaks" ->
      """WITH seg AS (SELECT user_id, event_id,
             CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id
                 ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S'), event_id
                 ROWS UNBOUNDED PRECEDING) AS seg
           FROM events),
         runs AS (SELECT user_id, seg, CAST(COUNT(*) AS BIGINT)
               AS run_len
           FROM seg WHERE is_err = 0 GROUP BY user_id, seg),
         ls AS (SELECT user_id, MAX(seg) AS last_seg,
             CAST(SUM(is_err) AS BIGINT) AS n_errors
           FROM seg GROUP BY user_id),
         lg AS (SELECT user_id, MAX(run_len) AS longest_run
           FROM runs GROUP BY user_id)
         SELECT ls.user_id, ls.n_errors,
           COALESCE(lg.longest_run, 0) AS longest_run,
           COALESCE(cr.run_len, 0) AS current_run
         FROM ls LEFT JOIN lg ON ls.user_id = lg.user_id
           LEFT JOIN runs cr
             ON ls.user_id = cr.user_id AND ls.last_seg = cr.seg""",
    "q172_asof_tolerance" ->
      """WITH e AS (SELECT event_id, user_id,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value FROM events),
         l AS (SELECT * FROM e WHERE event_id % 5 <> 0),
         r0 AS (SELECT user_id, ts_s, value, event_id,
             row_number() OVER (PARTITION BY user_id, ts_s
               ORDER BY event_id DESC) AS rn
           FROM e WHERE event_id % 5 = 0),
         r AS (SELECT user_id, ts_s, value, event_id FROM r0 WHERE rn = 1),
         j AS (SELECT l.event_id, l.user_id, l.ts_s, l.value,
             r.value AS asof_value, r.event_id AS asof_event_id,
             r.ts_s AS asof_ts
           FROM l ASOF LEFT JOIN r
             ON l.user_id = r.user_id AND l.ts_s >= r.ts_s)
         SELECT event_id, user_id, ts_s, value,
           CASE WHEN asof_ts IS NULL OR epoch(CAST(ts_s AS TIMESTAMP))
               - epoch(CAST(asof_ts AS TIMESTAMP)) > 3600
             THEN NULL ELSE asof_value END AS asof_value,
           CASE WHEN asof_ts IS NULL OR epoch(CAST(ts_s AS TIMESTAMP))
               - epoch(CAST(asof_ts AS TIMESTAMP)) > 3600
             THEN NULL ELSE asof_event_id END AS asof_event_id,
           CASE WHEN asof_ts IS NULL OR epoch(CAST(ts_s AS TIMESTAMP))
               - epoch(CAST(asof_ts AS TIMESTAMP)) > 3600
             THEN NULL ELSE asof_ts END AS asof_ts
         FROM j""",
    // reuses the q20/q59 candidate chain; idf-weighted overlap instead
    // of set-count jaccard
    "q173_weighted_jaccard" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         shf AS (SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
         g AS (SELECT doc_id AS gid, unnest(shingles) AS gram FROM shf),
         nd AS (SELECT COUNT(*) AS n FROM documents),
         idf AS (SELECT gram,
             CAST(floor(ln((n + 1.0) / (df + 1.0)) * 1000000000.0 + 0.5)
               AS BIGINT) AS w
           FROM (SELECT gram, COUNT(*) AS df FROM g GROUP BY gram), nd),
         wa AS (SELECT c.doc_a, c.doc_b, SUM(w) AS wa
           FROM cand c JOIN g ON g.gid = c.doc_a
             JOIN idf ON idf.gram = g.gram
           GROUP BY c.doc_a, c.doc_b),
         wb AS (SELECT c.doc_a, c.doc_b, SUM(w) AS wb
           FROM cand c JOIN g ON g.gid = c.doc_b
             JOIN idf ON idf.gram = g.gram
           GROUP BY c.doc_a, c.doc_b),
         ws AS (SELECT c.doc_a, c.doc_b, SUM(w) AS ws
           FROM cand c JOIN g ga ON ga.gid = c.doc_a
             JOIN g gb ON gb.gid = c.doc_b AND gb.gram = ga.gram
             JOIN idf ON idf.gram = ga.gram
           GROUP BY c.doc_a, c.doc_b)
         SELECT wa.doc_a, wa.doc_b,
           floor(CAST(COALESCE(ws.ws, 0) AS DOUBLE)
             / CAST(wa.wa + wb.wb - COALESCE(ws.ws, 0) AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS wj5
         FROM wa JOIN wb ON wa.doc_a = wb.doc_a AND wa.doc_b = wb.doc_b
           LEFT JOIN ws ON wa.doc_a = ws.doc_a AND wa.doc_b = ws.doc_b
         WHERE floor(CAST(COALESCE(ws.ws, 0) AS DOUBLE)
             / CAST(wa.wa + wb.wb - COALESCE(ws.ws, 0) AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 >= 0.5""",
    "q174_source_overlap" ->
      """WITH tk AS (SELECT DISTINCT source,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
           FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
                 FROM documents
                 WHERE source IN ('src0','src1','src2','src3','src4'))),
         nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
           FROM tk GROUP BY source),
         inter AS (SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
           FROM tk a JOIN tk b
             ON a.hv = b.hv AND a.source < b.source
           GROUP BY a.source, b.source)
         SELECT i.source_a, i.source_b, i.n_inter,
           na.n + nb.n - i.n_inter AS n_union,
           floor(CAST(i.n_inter AS DOUBLE)
             / CAST(na.n + nb.n - i.n_inter AS DOUBLE)
             * 100000.0 + 0.5) / 100000.0 AS jaccard5
         FROM inter i JOIN nd na ON i.source_a = na.source
           JOIN nd nb ON i.source_b = nb.source""",
    "q175_final_select_literal" ->
      """WITH pre AS (SELECT user_id,
             row_number() OVER (PARTITION BY user_id
               ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC,
                 event_id DESC) AS rn
           FROM events WHERE event_id % 10 < 8),
         sink AS (SELECT p.user_id, n.n_name AS country,
             c.c_name || ', ' || n.n_name AS full_address
           FROM (SELECT user_id FROM pre WHERE rn = 1) p
           JOIN customer c ON p.user_id = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey),
         post AS (SELECT user_id, event_id, value,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
             row_number() OVER (PARTITION BY user_id
               ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC,
                 event_id DESC) AS rn
           FROM events WHERE event_id % 10 >= 8)
         SELECT p.user_id AS customer_id, p.event_id, p.value, p.ts_s,
           CASE WHEN s.full_address IS NULL
             THEN 'insert' ELSE 'update' END AS op,
           s.country, s.full_address
         FROM (SELECT * FROM post WHERE rn = 1) p
         LEFT JOIN sink s ON p.user_id = s.user_id""",
    "q176_zorder_box" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 50.0 AND 300.0
         GROUP BY event_type""",
    "q177_zorder_ranked" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 0 AND 5 AND value BETWEEN 0.0 AND 120.0
         GROUP BY event_type""",
    // reuses the q59/q108 cluster CTE chain; singletons (docs in no
    // near-dup pair) hash their own id — exactly q105's split rule
    "q178_leakage_safe_split" ->
      s"""WITH RECURSIVE $dedupGroupCtes,
         assign AS (SELECT d.doc_id,
             COALESCE(c.canonical, d.doc_id) AS canonical_id
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.id),
         bk AS (SELECT doc_id, canonical_id,
             CAST('0x' || substr(md5(CAST(canonical_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 100 AS bucket
           FROM assign)
         SELECT doc_id, canonical_id,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
         FROM bk""",
    "q179_phrase_search" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
         pos AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
           FROM t, unnest(range(1, len(tk) + 1)) AS r(i)),
         m0 AS (SELECT doc_id, pos FROM pos WHERE tok = 'the'),
         m1 AS (SELECT m0.doc_id, m0.pos FROM m0 JOIN pos p
           ON p.doc_id = m0.doc_id AND p.pos = m0.pos + 1
             AND p.tok = 'group'),
         m2 AS (SELECT m1.doc_id, m1.pos FROM m1 JOIN pos p
           ON p.doc_id = m1.doc_id AND p.pos = m1.pos + 2
             AND p.tok = 'line')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
         FROM m2 GROUP BY doc_id""",
    // value-neutrality of OPTIMIZE ZORDER: the clustered+pruned read
    // must equal the plain box filter on the raw table
    "q180_zorder_compact" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 2 AND 7 AND value BETWEEN 100.0 AND 400.0
         GROUP BY event_type""",
    // the persisted-index phrase search shares q179's oracle verbatim:
    // same phrase, same output contract, different read path
    "q181_phrase_indexed" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
         pos AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
           FROM t, unnest(range(1, len(tk) + 1)) AS r(i)),
         m0 AS (SELECT doc_id, pos FROM pos WHERE tok = 'the'),
         m1 AS (SELECT m0.doc_id, m0.pos FROM m0 JOIN pos p
           ON p.doc_id = m0.doc_id AND p.pos = m0.pos + 1
             AND p.tok = 'group'),
         m2 AS (SELECT m1.doc_id, m1.pos FROM m1 JOIN pos p
           ON p.doc_id = m1.doc_id AND p.pos = m1.pos + 2
             AND p.tok = 'line')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
         FROM m2 GROUP BY doc_id""",
    // 3-dim box pruning must be row-for-row invisible too
    "q182_zorder_3d" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 0 AND 6 AND value BETWEEN 0.0 AND 250.0
           AND event_id BETWEEN 0 AND 30000
         GROUP BY event_type""",
    // incremental index build (half built, half appended) must equal
    // the full-corpus phrase search — q179's oracle once more
    "q183_postings_append" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           FROM documents),
         pos AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok
           FROM t, unnest(range(1, len(tk) + 1)) AS r(i)),
         m0 AS (SELECT doc_id, pos FROM pos WHERE tok = 'the'),
         m1 AS (SELECT m0.doc_id, m0.pos FROM m0 JOIN pos p
           ON p.doc_id = m0.doc_id AND p.pos = m0.pos + 1
             AND p.tok = 'group'),
         m2 AS (SELECT m1.doc_id, m1.pos FROM m1 JOIN pos p
           ON p.doc_id = m1.doc_id AND p.pos = m1.pos + 2
             AND p.tok = 'line')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(pos) AS BIGINT) AS first_pos
         FROM m2 GROUP BY doc_id""",
    // bloom skipping must be semantically invisible: the pruned point
    // lookup equals the plain IN filter on the raw table
    "q184_bloom_point" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id IN (7, 42, 99)
         GROUP BY event_type""",
    // the persisted-index IVF search shares q36's oracle verbatim:
    // same routing math and corpus, different (pruned) read path
    "q185_ivf_indexed" -> ivfRoutedOracle,
    // q295: the SAME routing math over the POST-MUTATION corpus —
    // ids 7/13 deleted, ids 1/3/5 moved one cell over with doubled
    // vectors (float×2 is exact, so the double-cast sides agree);
    // queries are the tip's vec_id < 10 survivors
    "q295_ivf_refresh" ->
      """WITH e AS (SELECT vec_id,
             CASE WHEN vec_id IN (1, 3, 5) THEN (label + 1) % 10
               ELSE label END AS cell,
             CASE WHEN vec_id IN (1, 3, 5)
               THEN list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x * 2)
               ELSE CAST(embedding AS DOUBLE[]) END AS v
           FROM embeddings WHERE vec_id NOT IN (7, 13)),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < 10),
         reps AS (SELECT e.cell, e.v AS rv FROM e
           JOIN (SELECT cell, min(vec_id) AS rep_id FROM e GROUP BY cell) r
             ON e.vec_id = r.rep_id),
         routed AS (SELECT q.query_id, reps.cell, q.qv,
             round(list_sum(list_transform(range(1, len(q.qv) + 1),
                 i -> q.qv[i] * reps.rv[i])) /
               (sqrt(list_sum(list_transform(q.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(reps.rv, x -> x * x)))), 5) AS rcos
           FROM q CROSS JOIN reps),
         assigned AS (SELECT query_id, cell, qv FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rcos DESC, cell ASC) AS rr FROM routed)
           WHERE rr = 1),
         s AS (SELECT a.query_id, a.cell, e.vec_id AS neighbor_id,
             round(list_sum(list_transform(range(1, len(a.qv) + 1),
                 i -> a.qv[i] * e.v[i])) /
               (sqrt(list_sum(list_transform(a.qv, x -> x * x))) *
                sqrt(list_sum(list_transform(e.v, x -> x * x)))), 5) AS cos5
           FROM assigned a JOIN e ON a.cell = e.cell
             AND a.query_id <> e.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, neighbor_id) AS rank FROM s)
         SELECT query_id, cell, CAST(rank AS BIGINT) AS rank, neighbor_id, cos5
         FROM r WHERE rank <= 3""",
    // half-built + appended index must equal the full build — q36's
    // oracle once more
    "q186_ivf_append" -> ivfRoutedOracle,
    // HLL twin: same 60-bit md5-head hash, bucket = h % 64, rank =
    // 55 - bitlength(h // 64), integer register sum via bit shifts,
    // float steps spelled exactly as the kernel's eval
    "q187_hll_distinct" ->
      """WITH h AS (SELECT source,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
           FROM documents),
         b AS (SELECT source, hv % 64 AS bucket,
             CASE WHEN hv // 64 = 0 THEN 55
                  ELSE 55 - length(bin(hv // 64)) END AS rho
           FROM h),
         r AS (SELECT source, bucket, MAX(rho) AS mx
           FROM b GROUP BY source, bucket),
         agg AS (SELECT source,
             CAST(64 - COUNT(*) AS BIGINT) AS zeros_missing,
             SUM(CASE WHEN mx = 0 THEN CAST(1 AS BIGINT) << 55
                      ELSE CAST(1 AS BIGINT) << (55 - mx) END)
               + CAST(64 - COUNT(*) AS BIGINT) * (CAST(1 AS BIGINT) << 55)
               AS isum,
             SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END)
               + (64 - COUNT(*)) AS zeros
           FROM r GROUP BY source),
         est AS (SELECT source, zeros,
             (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
               * 36028797018963968.0 / CAST(isum AS DOUBLE) AS raw
           FROM agg),
         ex AS (SELECT source,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
           FROM documents GROUP BY source)
         SELECT est.source,
           round(CASE WHEN raw <= 2.5 * 64.0 AND zeros > 0
                 THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4)
             AS est_distinct,
           ex.exact_distinct
         FROM est JOIN ex ON est.source = ex.source""",
    // batch-appended layout must answer the box exactly like the
    // plain filter on the full table
    "q188_zorder_append" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 4 AND 11 AND value BETWEEN 80.0 AND 350.0
         GROUP BY event_type""",
    // q187's HLL math grouped by lang: the drained stream's max-merged
    // registers must estimate exactly like one pass over the corpus
    "q189_stream_hll" ->
      """WITH h AS (SELECT lang,
             CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS hv
           FROM documents),
         b AS (SELECT lang, hv % 64 AS bucket,
             CASE WHEN hv // 64 = 0 THEN 55
                  ELSE 55 - length(bin(hv // 64)) END AS rho
           FROM h),
         r AS (SELECT lang, bucket, MAX(rho) AS mx
           FROM b GROUP BY lang, bucket),
         agg AS (SELECT lang,
             SUM(CASE WHEN mx = 0 THEN CAST(1 AS BIGINT) << 55
                      ELSE CAST(1 AS BIGINT) << (55 - mx) END)
               + CAST(64 - COUNT(*) AS BIGINT) * (CAST(1 AS BIGINT) << 55)
               AS isum,
             SUM(CASE WHEN mx = 0 THEN 1 ELSE 0 END)
               + (64 - COUNT(*)) AS zeros
           FROM r GROUP BY lang),
         est AS (SELECT lang, zeros,
             (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0
               * 36028797018963968.0 / CAST(isum AS DOUBLE) AS raw
           FROM agg),
         ex AS (SELECT lang,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
           FROM documents GROUP BY lang)
         SELECT est.lang,
           round(CASE WHEN raw <= 2.5 * 64.0 AND zeros > 0
                 THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4)
             AS est_distinct,
           ex.exact_distinct
         FROM est JOIN ex ON est.lang = ex.lang""",
    // the secondary-index fetch must be semantically invisible: the
    // pruned primary-key lookup equals the plain IN filter
    "q190_bloom_secondary" ->
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id IN (11, 502, 1003, 4444, 7777)""",
    // composite pruning must be semantically invisible: the
    // intersected two-sidecar read equals the plain combined filter
    "q191_composite_skip" ->
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id IN (11, 502, 1003, 4444, 7777)
           AND user_id BETWEEN 0 AND 100
           AND value >= 0.0 AND value <= 250.0""",
    // the streamed-in indexed table must answer exactly like q191's
    // plain combined filter (drained batches reassemble the table)
    "q193_stream_indexed" ->
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE event_id IN (11, 502, 1003, 4444, 7777)
           AND user_id BETWEEN 0 AND 100
           AND value >= 0.0 AND value <= 250.0""",
    // the folded sidecar must answer exactly like q184's full-table
    // filter (even + odd halves reassemble the whole table)
    "q192_bloom_fold" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id IN (7, 42, 99)
         GROUP BY event_type""",
    // a deletion-vector DELETE must be exactly the complement filter:
    // tombstoned rows vanish, everything else is untouched
    "q194_dv_delete" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id NOT IN (7, 42, 99)
         GROUP BY event_type""",
    // compacting the deletes into the data files is value-neutral:
    // the plain post-apply read equals the same complement filter
    "q195_dv_apply" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id NOT IN (7, 42, 99)
         GROUP BY event_type""",
    // merge-on-read upsert = latest-wins per key: every 5th event
    // carries the re-priced value, everything else the original
    "q196_mor_upsert" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_id % 5 = 0
                              THEN value + 10000.0 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         GROUP BY event_type""",
    // the drained CDC state: odds inserted, …4-ids re-priced,
    // …8-ids deleted — batch boundaries must be invisible
    "q197_stream_mor" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_id % 10 = 4
                              THEN value + 10000.0 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 8
         GROUP BY event_type""",
    // pruned read through the tombstones: user 42 is deleted, so the
    // 3-key probe must surface only users 7 and 99
    "q198_dv_pruned_point" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id IN (7, 99)
         GROUP BY event_type""",
    // DV-backed UPDATE = the CASE projection: expensive clicks
    // doubled, every other row untouched
    "q199_mor_update" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_type = 'click' AND value > 100.0
                              THEN value * 2.0 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         GROUP BY event_type""",
    // q199's update composed with a prior %10==8 delete, both applied
    // through the per-file store
    "q247_mor_update_pf" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CASE WHEN event_type = 'click' AND value > 100.0
                              THEN value * 2.0 ELSE value END
                         AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE event_id % 10 <> 8
         GROUP BY event_type""",
    // manifest-pruned box scan through the deletion vectors: the box
    // filter with the tombstoned users complemented out — file
    // skipping must never resurrect a deleted row
    "q200_dv_box_scan" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id
         FROM events
         WHERE user_id BETWEEN 3 AND 9
           AND value BETWEEN 10.0 AND 300.0
           AND user_id NOT IN (5, 7)
         GROUP BY event_type""",
    // streaming MoR fact + incrementally folded gold must equal the
    // from-scratch batch gold (q30's oracle) over the same events —
    // batch boundaries, stale base images, and ghost deletes invisible
    "q201_stream_mor_gold" ->
      """WITH ok AS (SELECT * FROM events
                     WHERE NOT COALESCE(event_type = 'error', FALSE)),
         latest AS (
           SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM ok)
         SELECT n_name AS country, COUNT(*) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts_s) AS last_seen
         FROM latest JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1
         GROUP BY n_name""",
    // change feed between two derived snapshots: FULL OUTER of the two
    // version predicates reconstructs insert/update/delete with the
    // pre/post payloads; value-unchanged keys must not appear
    "q202_table_changes" ->
      """WITH base AS (
           SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events GROUP BY user_id),
         v1 AS (SELECT * FROM base WHERE user_id % 5 <> 4),
         v2 AS (SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN v + 100.0 ELSE v END AS v
                FROM base WHERE user_id % 5 <> 0)
         SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'insert'
                WHEN v2.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           v1.v AS old_v, v2.v AS new_v
         FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
         WHERE v1.user_id IS NULL OR v2.user_id IS NULL OR v1.v <> v2.v""",
    // composite box+id prune through the tombstones: event 502 is
    // DV-deleted, so the probe surfaces only the other ids
    "q203_composite_dv" ->
      """SELECT event_id, user_id, event_type, value
         FROM events
         WHERE user_id BETWEEN 0 AND 100 AND value BETWEEN 0.0 AND 250.0
           AND event_id IN (11, 1003, 4444, 7777)""",
    // cross-corpus best match + top1−top2 margin; margins are >= 0 by
    // ranking so the half-up floor grid is exact on both engines
    "q204_bitext_margin" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0 AND vec_id < 40),
         b AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
         s AS (SELECT a.vec_id AS query_id, b.vec_id AS match_id,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM a JOIN b ON TRUE),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, match_id) AS rank FROM s)
         SELECT query_id,
           MAX(CASE WHEN rank = 1 THEN match_id END) AS match_id,
           MAX(CASE WHEN rank = 1 THEN cos5 END) AS cos5,
           floor((MAX(CASE WHEN rank = 1 THEN cos5 END)
             - COALESCE(MAX(CASE WHEN rank = 2 THEN cos5 END), 0)) * 1e5 + 0.5) / 1e5 AS margin5
         FROM r WHERE rank <= 2 GROUP BY query_id""",
    // q204 within IVF cells: the join carries the cell equality, so a
    // query matches only candidates sharing its coarse label
    "q205_bitext_ivf" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id, label, v FROM e WHERE vec_id % 2 = 0 AND vec_id < 40),
         b AS (SELECT vec_id, label, v FROM e WHERE vec_id % 2 = 1),
         s AS (SELECT a.vec_id AS query_id, a.label AS cell, b.vec_id AS match_id,
             round(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
               (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
                sqrt(list_sum(list_transform(b.v, x -> x * x)))), 5) AS cos5
           FROM a JOIN b ON a.label = b.label),
         r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos5 DESC, match_id) AS rank FROM s)
         SELECT query_id,
           MAX(cell) AS cell,
           MAX(CASE WHEN rank = 1 THEN match_id END) AS match_id,
           MAX(CASE WHEN rank = 1 THEN cos5 END) AS cos5,
           floor((MAX(CASE WHEN rank = 1 THEN cos5 END)
             - COALESCE(MAX(CASE WHEN rank = 2 THEN cos5 END), 0)) * 1e5 + 0.5) / 1e5 AS margin5
         FROM r WHERE rank <= 2 GROUP BY query_id""",
    // exact-retraction gold: last_seen must equal the SURVIVING rows'
    // max after the %3==0 winners are deleted — the running-max fold
    // would keep the deleted rows' (higher) timestamps
    "q206_gold_exact_retract" ->
      """WITH ok AS (SELECT * FROM events
                     WHERE NOT COALESCE(event_type = 'error', FALSE)),
         latest AS (
           SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
                  row_number() OVER (PARTITION BY user_id
                    ORDER BY strftime(ts, '%Y-%m-%d %H:%M:%S') DESC, event_id DESC) AS rn
           FROM ok)
         SELECT n_name AS country, COUNT(*) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(ts_s) AS last_seen
         FROM latest JOIN customer ON user_id = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE rn = 1 AND user_id % 3 <> 0
         GROUP BY n_name""",
    // packed MoR table answers exactly like the never-packed one —
    // q197's oracle over the same final state
    "q207_mor_small_files" -> morDrainFoldOracle,
    // the drain that MIGRATED to per-file tombstones mid-stream (and
    // took a maintain pass) answers exactly the same — representation
    // and maintenance are value-invisible
    "q246_stream_mor_pf" -> morDrainFoldOracle,
    // indexed MoR drain: evens minus the deleted %1000==502, the
    // %1000==2 re-priced, plus the inserted odd %1000==1 rows
    "q208_stream_mor_indexed" -> indexedDrainOracle,
    // same final state AFTER a maintain() pass — maintenance must be
    // value-invisible
    "q215_mor_maintain" -> indexedDrainOracle,
    // same classification as q202 — the bucketed layout must change
    // the PLAN (zero Exchange, Round9Spec), never the rows
    "q209_bucketed_changes" ->
      """WITH base AS (
           SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events GROUP BY user_id),
         v1 AS (SELECT * FROM base WHERE user_id % 5 <> 4),
         v2 AS (SELECT user_id,
                  CASE WHEN user_id % 2 = 0 THEN v + 100.0 ELSE v END AS v
                FROM base WHERE user_id % 5 <> 0)
         SELECT COALESCE(v1.user_id, v2.user_id) AS user_id,
           CASE WHEN v1.user_id IS NULL THEN 'insert'
                WHEN v2.user_id IS NULL THEN 'delete'
                ELSE 'update' END AS change,
           v1.v AS old_v, v2.v AS new_v
         FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id
         WHERE v1.user_id IS NULL OR v2.user_id IS NULL OR v1.v <> v2.v""",
    // sliding 32-word chunks advancing by 16: starts 0,16,32,… while
    // < n_words, last chunk truncated — mirrored list-slice for
    // list-slice (both engines split on the literal single space)
    "q210_rag_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS arr
                    FROM documents),
         c AS (SELECT doc_id, arr,
                 unnest(range(0, (len(arr) - 1) // 16 + 1)) AS ci
               FROM w)
         SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           array_to_string(arr[ci*16+1 : least(ci*16+32, len(arr))], ' ')
             AS chunk_text,
           CAST(least(ci*16+32, len(arr)) - ci*16 AS BIGINT) AS n_words
         FROM c""",
    // contamination: training docs (doc_id % 20 != 0) sharing any
    // 8-word shingle with the benchmark partition (doc_id % 20 = 0)
    "q211_contamination" ->
      """WITH w AS (SELECT doc_id, doc_id % 20 = 0 AS bench,
                      string_split(text, ' ') AS arr
                    FROM documents
                    WHERE len(string_split(text, ' ')) >= 8),
         e AS (SELECT doc_id, bench, arr,
                 unnest(range(0, len(arr) - 7)) AS i
               FROM w),
         sh AS (SELECT doc_id, bench,
                  array_to_string(arr[i+1 : i+8], ' ') AS shingle
                FROM e),
         b AS (SELECT DISTINCT shingle FROM sh WHERE bench),
         t AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE NOT bench)
         SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared_shingles
         FROM t JOIN b USING (shingle)
         GROUP BY t.doc_id""",
    // SCD2 interval reconstruction: per key, keep only STATE CHANGES
    // (first row; delete after non-delete; value change or re-insert
    // after delete), then each change's valid_to is the NEXT change's
    // ts; delete markers close predecessors but emit no row
    "q212_scd2_fold" -> scd2IntervalOracle,
  )
}

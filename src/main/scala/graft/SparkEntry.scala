package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each entry is a pure (SparkSession, sfDir) => DataFrame; oracle SQL
  * lives in [[Oracles]] keyed by the same names.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * task_stats = the reference's GetTaskStats (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    TaskOps.taskStats(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1/2.2 scans, projections, filters
    "scan_tasks" -> (TaskOps.scanTasks _),
    "project_tasks" -> (TaskOps.projectTasks _),
    "filter_status" -> (TaskOps.filterStatus _),
    "task_by_id" -> (TaskOps.taskById _),
    "count_pending" -> (TaskOps.countPending _),
    // §2.4 aggregations
    "task_stats" -> (TaskOps.taskStats _),
    "status_pivot" -> (TaskOps.statusPivot _),
    // Hive-metastore catalog surface (north star: persistent catalog)
    "catalog_task_stats" -> (CatalogOps.catalogTaskStats _),
    "catalog_pending_tasks" -> (CatalogOps.catalogPendingTasks _),
    "catalog_topk_per_status" -> (CatalogOps.catalogTopkPerStatus _),
    "catalog_bucketed_join" -> (CatalogOps.catalogBucketedJoin _),
    "catalog_documents_quality" -> (CatalogOps.catalogDocumentsQuality _),
    "catalog_documents_daily" -> (CatalogOps.catalogDocumentsDaily _),
    "catalog_dt_rollup" -> (CatalogOps.catalogDtRollup _),
    "catalog_embeddings_stats" -> (CatalogOps.catalogEmbeddingsStats _),
    "worker_load" -> (WorkerOps.workerLoad _),
    "worker_metrics_long" -> (WorkerOps.workerMetricsLong _),
    "least_loaded_worker" -> (WorkerOps.leastLoadedWorker _),
    // §2.5 sorts / limits
    "priority_queue" -> (TaskOps.priorityQueue _),
    "list_all_tasks" -> (TaskOps.listAllTasks _),
    // §2.3 joins
    "worker_tasks_join" -> (WorkerOps.workerTasksJoin _),
    "worker_task_ids" -> (WorkerOps.workerTaskIds _),
    "orphaned_tasks" -> (WorkerOps.orphanedTasks _),
    // §2.8 scalar functions
    "status_decode" -> (TaskOps.statusDecode _),
    "key_split" -> (TaskOps.keySplit _),
    "result_json" -> (TaskOps.resultJson _),
    "payload_json" -> (TaskOps.payloadJson _),
    "retry_backoff" -> (TaskOps.retryBackoff _),
    "process_dispatch" -> (TaskOps.processDispatch _),
    "process_dispatch_udf" -> (TaskOps.processDispatchUdf _),
    "heartbeat_age" -> (WorkerOps.heartbeatAge _),
    // §2.2 worker predicates
    "active_workers" -> (WorkerOps.activeWorkers _),
    "available_workers" -> (WorkerOps.availableWorkers _),
    // §2.7 windows
    "topk_per_worker" -> (WindowOps.topkPerWorker _),
    "running_load" -> (WindowOps.runningLoad _),
    "task_event_lag" -> (WindowOps.taskEventLag _),
    "task_event_lead" -> (WindowOps.taskEventLead _),
    "worker_rank" -> (WindowOps.workerRank _),
    // §2.3/2.6 star-schema joins + set ops
    "join_orders_customer" -> (JoinOps.joinOrdersCustomer _),
    "semi_join_customers" -> (JoinOps.semiJoinCustomers _),
    "pending_gate" -> (JoinOps.pendingGate _),
    "customers_with_urgent" -> (JoinOps.customersWithUrgent _),
    "parts_below_avg" -> (JoinOps.partsBelowAvg _),
    "suppliers_waiting" -> (JoinOps.suppliersWaiting _),
    "idle_rich_customers" -> (JoinOps.idleRichCustomers _),
    "source_caps" -> (TextOps.sourceCaps _),
    "embedding_quantize" -> (SimilarityOps.embeddingQuantize _),
    "q8_covariance" -> (PcaOps.q8Covariance _),
    // rows-only: driver-side Jacobi eigensolve has no oracle analog;
    // PcaSpec pins basis + projection against a plain-Scala reference
    "embedding_pca_project" -> (PcaOps.embeddingPcaProject _),
    "ann_q8_topk" -> (SimilarityOps.annQ8Topk _),
    "ann_q8_lsh_topk" -> (SimilarityOps.annQ8LshTopk _),
    "ann_ivf_pq_topk" -> (SimilarityOps.annIvfPqTopk _),
    "ann_ivf_pq_probe" -> (SimilarityOps.annIvfPqProbeQuery _),
    "doc_pack" -> (TextOps.docPack _),
    "unigram_surprisal" -> (TextOps.unigramSurprisal _),
    "bigram_surprisal" -> (TextOps.bigramSurprisal _),
    "bigram_surprisal_topv" -> (TextOps.bigramSurprisalTopV _),
    "quality_lda" -> (TextOps.qualityLda _),
    "mix_sample" -> (RetrievalOps.mixSample _),
    "semantic_dedup_audit" -> (GraphOps.semanticDedupAudit _),
    "set_intersect" -> (JoinOps.setIntersect _),
    "set_except" -> (JoinOps.setExcept _),
    "stats_rollup" -> (JoinOps.statsRollup _),
    "lineitem_supplier_nation" -> (JoinOps.lineitemBySupplierNation _),
    "skew_join_salted" -> (JoinOps.skewJoinSalted _),
    "pricing_summary" -> (JoinOps.pricingSummary _),
    "top_customers" -> (JoinOps.topCustomers _),
    "shipping_priority" -> (JoinOps.shippingPriority _),
    // §2.9 event-time (batch forms)
    "events_tumbling" -> (EventOps.eventsTumbling _),
    "events_sliding" -> (EventOps.eventsSliding _),
    "events_session" -> (EventOps.eventsSession _),
    "events_props_json" -> (EventOps.eventsPropsJson _),
    "events_value_pct" -> (EventOps.eventsValuePct _),
    // rows-only: percentile_approx's sketch has no DuckDB equivalent;
    // TwinAgreementSpec bounds it against the hash-checked exact twin
    "events_value_pct_approx" -> (EventOps.eventsValuePctApprox _),
    "events_gap_fill" -> (EventOps.eventsGapFill _),
    // LLM-pipeline: text analysis + dedup
    "dedup_exact" -> (TextOps.dedupExact _),
    "token_count" -> (TextOps.tokenCount _),
    "token_count_bpe" -> (TextOps.tokenCountBpe _),
    "token_count_bpe_merge" -> (TextOps.tokenCountBpeMerge _),
    // tokenizer lifecycle: learned merge table + encode-with-it
    // (rows-only: the training loop is data-dependent; BpeSpec pins
    // both against a driver-Scala reference trainer)
    "bpe_train" -> (TextOps.bpeTrainQuery _),
    "token_count_bpe_trained" -> (TextOps.tokenCountBpeTrained _),
    "quality_score" -> (TextOps.qualityScore _),
    "gopher_quality" -> (TextOps.gopherQuality _),
    "gopher_repetition" -> (TextOps.gopherRepetition _),
    "corpus_report" -> (TextOps.corpusReport _),
    "substring_dedup_spans" -> (TextOps.substringDedupSpans _),
    "lang_id" -> (TextOps.langId _),
    "doc_fingerprint" -> (TextOps.docFingerprint _),
    "token_freq" -> (TextOps.tokenFreq _),
    "fingerprint_rolling" -> (TextOps.fingerprintRolling _),
    "ngram_jaccard" -> (TextOps.ngramJaccard _),
    "doc_contamination" -> (TextOps.docContamination _),
    "pipeline_curate" -> (TextOps.pipelineCurate _),
    "pipeline_ingest" -> (graft.streaming.IngestPipeline.pipelineIngest _),
    "curation_funnel" -> (TextOps.curationFunnel _),
    "repetition_ratio" -> (TextOps.repetitionRatio _),
    "shingle_df_stats" -> (TextOps.shingleDfStats _),
    "chunk_dedup" -> (TextOps.chunkDedup _),
    "boilerplate_strip" -> (TextOps.boilerplateStrip _),
    "boilerplate_strip_text" -> (TextOps.boilerplateStripText _),
    "boilerplate_incremental" -> (TextOps.boilerplateIncremental _),
    "stratified_sample" -> (TextOps.stratifiedSample _),
    "split_assign" -> (TextOps.splitAssign _),
    "split_leakage" -> (TextOps.splitLeakage _),
    "compression_ratio" -> (TextOps.compressionRatio _),
    "pii_redact" -> (TextOps.piiRedact _),
    "chars_histogram" -> (TextOps.charsHistogram _),
    // LLM-pipeline: retrieval scoring + corpus mixture planning
    "tfidf_terms" -> (RetrievalOps.tfidfTerms _),
    "bm25_search" -> (RetrievalOps.bm25Search _),
    "hybrid_search_rrf" -> (RetrievalOps.hybridSearchRrf _),
    "token_budget_mix" -> (RetrievalOps.tokenBudgetMix _),
    "token_budget_mix_bpe" -> (RetrievalOps.tokenBudgetMixBpe _),
    "token_budget_waterfill" -> (RetrievalOps.tokenBudgetWaterfill _),
    "doc_pack_bpe" -> (TextOps.docPackBpe _),
    // runtime bloom-filter join pruning (plan-level; output = plain join)
    "bloom_prune_join" -> (JoinOps.bloomPruneJoin _),
    // LLM-pipeline: CDC compaction + outlier filtering
    "cdc_latest" -> (EventOps.cdcLatest _),
    "value_outliers" -> (EventOps.valueOutliers _),
    // physical-layout planning (Z-order skipping stats, compaction bins)
    "zorder_layout" -> (LayoutOps.zorderLayout _),
    "compaction_plan" -> (LayoutOps.compactionPlan _),
    "shard_plan" -> (LayoutOps.shardPlan _),
    // as-of join (merge-scan form), rare terms, distribution windows,
    // cluster resolution (connected components, rows-only)
    "asof_join" -> (EventOps.asofJoin _),
    "range_join_binned" -> (EventOps.rangeJoinBinned _),
    "merge_upsert" -> (TaskOps.mergeUpsert _),
    "rare_terms" -> (TextOps.rareTerms _),
    "worker_pctile" -> (WindowOps.workerPctile _),
    "dedup_clusters" -> (GraphOps.dedupClusters _),
    "dedup_clusters_incremental" -> (GraphOps.dedupClustersIncremental _),
    "dedup_canonical" -> (GraphOps.dedupCanonical _),
    // LLM-pipeline: similarity + fuzzy dedup (minhash/simhash/LSH are
    // rows-only: xxhash64 has no DuckDB equivalent)
    "cosine_topk" -> (SimilarityOps.cosineTopk _),
    "ann_lsh_topk" -> (SimilarityOps.annLshTopk _),
    "ann_ivf_topk" -> (SimilarityOps.annIvfTopk _),
    "ann_ivf_q8_topk" -> (SimilarityOps.annIvfQ8Topk _),
    "ann_ivf_probe" -> (SimilarityOps.annIvfProbeQuery _),
    "minhash_dedup" -> (SimilarityOps.minhashDedup _),
    "embedding_centroids" -> (SimilarityOps.embeddingCentroids _),
    "embedding_coverage" -> (SimilarityOps.embeddingCoverage _),
    "simhash_dedup" -> (SimilarityOps.simhashDedup _),
    // oracle-checkable twins over the DuckDB-reproducible poly hash
    "minhash_dedup_poly" -> (SimilarityOps.minhashDedupPoly _),
    "simhash_dedup_poly" -> (SimilarityOps.simhashDedupPoly _),
    "simhash_dedup_wide" -> (SimilarityOps.simhashDedupWide _),
    "simhash_dedup_auto" -> (SimilarityOps.simhashDedupAuto _),
    "simhash_dedup_auto_sat" -> (SimilarityOps.simhashDedupAutoSat _),
    "simhash_bucket_stats" -> (SimilarityOps.simhashBucketStats _),
    "fuzzy_dedup_canonical" -> (GraphOps.fuzzyDedupCanonical _),
    "fuzzy_dedup_stats" -> (GraphOps.fuzzyDedupStats _),
    "fuzzy_dedup_audit" -> (GraphOps.fuzzyDedupAudit _),
    "fuzzy_clusters_incremental" -> (GraphOps.fuzzyClustersIncremental _),
    "dedup_all_verdict" -> (GraphOps.dedupAllVerdict _),
    "cross_source_dups" -> (SimilarityOps.crossSourceDups _),
    "dedup_incremental" -> (SimilarityOps.dedupIncremental _),
    // embedding-space (SemDeDup-style) dedup, integer-exact end to end
    "semantic_dedup" -> (SimilarityOps.semanticDedup _),
    "semantic_dedup_canonical" -> (GraphOps.semanticDedupCanonical _),
    "semantic_dedup_t95" -> (GraphOps.semanticDedupT95 _),
    "semantic_incremental" -> (SimilarityOps.semanticIncremental _),
    "semantic_clusters_incremental" -> (GraphOps.semanticClustersIncremental _),
    "semantic_dedup_wide" -> (SimilarityOps.semanticDedupWide _),
    "semantic_dedup_wide_stats" -> (SimilarityOps.semanticDedupWideStats _),
    "semantic_dedup_auto" -> (SimilarityOps.semanticDedupAuto _),
    "semantic_dedup_auto_sat" -> (SimilarityOps.semanticDedupAutoSat _),
    "q8_cell_stats" -> (SimilarityOps.q8CellStats _),
    "semantic_clusters_incremental_wide" ->
      (GraphOps.semanticClustersIncrementalWide _),
    "semantic_clusters_incremental_auto" ->
      (GraphOps.semanticClustersIncrementalAuto _),
    "semantic_dedup_stats" -> (GraphOps.semanticDedupStats _),
    // LLM-pipeline: multimodal plumbing
    "multimodal_meta" -> (MultimodalOps.multimodalMeta _),
    "multimodal_decode" -> (MultimodalOps.multimodalDecode _),
    "multimodal_resize" -> (MultimodalOps.multimodalResize _),
    "multimodal_framesample" -> (MultimodalOps.multimodalFrameSample _),
    "video_framesample" -> (MultimodalOps.videoFrameSample _),
    "image_decode" -> (MultimodalOps.imageDecode _),
    "audio_decode" -> (MultimodalOps.audioDecode _),
    "image_resize" -> (MultimodalOps.imageResize _),
    "audio_resample" -> (MultimodalOps.audioResample _),
    // §2.10 UDAF + SQL surface + LB strategies + native expression
    "source_token_stats" -> (AggOps.sourceTokenStats _),
    "profile_orders" -> (AggOps.profileOrders _),
    // rows-only: HLL++ sketches have no DuckDB equivalent;
    // TwinAgreementSpec ("profile_orders_approx tracks …") pins every
    // non-estimate column bit-identical to the hash-checked exact twin
    // and every distinct estimate within the published rsd envelope
    "profile_orders_approx" -> (AggOps.profileOrdersApprox _),
    "stats_cube" -> (AggOps.statsCube _),
    "stats_grouping_sets" -> (AggOps.statsGroupingSets _),
    "sql_task_stats" -> (AggOps.sqlTaskStats _),
    "round_robin_assign" -> (AggOps.roundRobinAssign _),
    "hash_assign" -> (AggOps.hashAssign _),
    "random_assign" -> (AggOps.randomAssign _),
    "priority_balanced_assign" -> (AggOps.priorityBalancedAssign _),
    "cosine_topk_native" -> (AggOps.cosineTopkNative _),
    // skew + distinct-agg surface
    "worker_load_salted" -> (WorkerOps.workerLoadSalted _),
    "embedding_dedup" -> (SimilarityOps.embeddingDedup _),
    "event_user_stats" -> (EventOps.eventUserStats _),
    "event_user_stats_approx" -> (EventOps.eventUserStatsApprox _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * dynamicSql adds entries generated from runtime-trained artifacts
    * (the learned BPE merge table) — a def, so Verify picks them up
    * after the query sweep has trained. */
  def oracleSql: Map[String, String] = Oracles.sql ++ Oracles.dynamicSql
}

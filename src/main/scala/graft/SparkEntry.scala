package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Curation, Dedup, Expectations, InferQueries, Packing, RangeJoin, Relational, RelationalExt, Sampling, Similarity, SourceSinkQueries, TextOps, TransformQueries}

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Each key in `queries` is an operator id from SURVEY.md §2; each has a
  * DuckDB-equivalent SQL twin in `oracleSql` (column names aliased
  * identically on both sides; deterministic ORDER BY everywhere; double
  * aggregates rounded on both sides so hash comparison is stable).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * CS1-shaped gold aggregation: filter + derive + broadcast lookup join +
    * multi-aggregate (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Relational.table(spark, dir, "lineitem")
    val o = Relational.table(spark, dir, "orders")
    val c = Relational.table(spark, dir, "customer")
    val n = Relational.table(spark, dir, "nation")
    li.filter(col("l_returnflag") =!= "R")
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> ((s, dir) => q1Agg(s, dir)),
    "filter_predicate" -> ((s, dir) => Relational.filterPredicate(s, dir)),
    "project_columns" -> ((s, dir) => Relational.projectColumns(s, dir)),
    "derive_column_arith" -> ((s, dir) => Relational.deriveColumnArith(s, dir)),
    "timestamp_diff" -> ((s, dir) => Relational.timestampDiff(s, dir)),
    "conditional_case" -> ((s, dir) => Relational.conditionalCase(s, dir)),
    "parse_timestamp" -> ((s, dir) => parseTimestampStr(s, dir)),
    "extract_time_part" -> ((s, dir) => Relational.extractTimePart(s, dir)),
    "string_match_filter" -> ((s, dir) => Relational.stringMatchFilter(s, dir)),
    "lookup_join" -> ((s, dir) => Relational.lookupJoin(s, dir)),
    "group_agg_multi" -> ((s, dir) => Relational.groupAggMulti(s, dir)),
    "agg_having" -> ((s, dir) => Relational.aggHaving(s, dir)),
    "window_topk" -> ((s, dir) => Relational.windowTopK(s, dir)),
    "type_cast" -> ((s, dir) => Relational.typeCast(s, dir)),
    "udf_enrichment" -> ((s, dir) => Relational.udfEnrichment(s, dir)),
    "scan_csv" -> ((s, dir) => SourceSinkQueries.scanCsv(s, dir)),
    "scan_json" -> ((s, dir) => SourceSinkQueries.scanJson(s, dir)),
    "scan_parquet" -> ((s, dir) => SourceSinkQueries.scanParquet(s, dir)),
    "source_file_scan_glob" -> ((s, dir) => SourceSinkQueries.fileScanGlob(s, dir)),
    "union_by_name" -> ((s, dir) => SourceSinkQueries.unionByName(s, dir)),
    "metadata_stamp" -> ((s, dir) => SourceSinkQueries.metadataStamp(s, dir)),
    "sink_csv_overwrite" -> ((s, dir) => SourceSinkQueries.sinkCsvOverwrite(s, dir)),
    "sink_parquet_append_partitioned" -> ((s, dir) => SourceSinkQueries.sinkParquetPartitioned(s, dir)),
    "scan_rest_api" -> ((s, dir) => SourceSinkQueries.scanRestApi(s, dir)),
    "scan_kafka_batch" -> ((s, dir) => SourceSinkQueries.scanMicroBatch(s, dir)),
    "sink_jdbc_postgres" -> ((s, dir) => SourceSinkQueries.jdbcRoundTrip(s, dir)),
    "scan_db" -> ((s, dir) => SourceSinkQueries.scanDb(s, dir)),
    "infer_types" -> ((s, dir) => InferQueries.inferTypes(s, dir)),
    "column_stats" -> ((s, dir) => InferQueries.columnStats(s, dir)),
    "schema_compat_check" -> ((s, dir) => InferQueries.compatCheck(s, dir)),
    "detect_confidence" -> ((s, dir) => InferQueries.detectConfidence(s, dir)),
    "field_override" -> ((s, dir) => InferQueries.fieldOverride(s, dir)),
    "sample_rows_synthesis" -> ((s, dir) => InferQueries.sampleRowsSynthesis(s, dir)),
    "transform_chain" -> ((s, dir) => TransformQueries.transformChain(s, dir)),
    "dry_run" -> ((s, dir) => TransformQueries.dryRun(s, dir)),
    "version_control" -> ((s, dir) => TransformQueries.versionControl(s, dir)),
    "code_validate" -> ((s, dir) => TransformQueries.codeValidate(s, dir)),
    "preview_limit" -> ((s, dir) => TransformQueries.previewLimit(s, dir)),
    "count_records" -> ((s, dir) => TransformQueries.countRecords(s, dir)),
    "pipeline_medallion" -> ((s, dir) => TransformQueries.pipelineMedallion(s, dir)),
    "pipeline_schema_evolution" -> ((s, dir) => TransformQueries.pipelineSchemaEvolution(s, dir)),
    "silver_schema_handoff" -> ((s, dir) => TransformQueries.silverSchemaHandoff(s, dir)),
    "dedup_exact" -> ((s, dir) => Dedup.exactDedupQuery(s, dir)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minHashLsh(s, dir)),
    "dedup_lsh_hotbucket" -> ((s, dir) => Dedup.lshHotBucketQuery(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir, 0.5)),
    "dedup_simhash" -> ((s, dir) => Dedup.simHashDedup(s, dir)),
    "dedup_embedding_cosine" -> ((s, dir) => Dedup.embeddingCosinePairs(s, dir)),
    "similarity_topk_cosine" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "similarity_ann_lsh" -> ((s, dir) => Similarity.annRecallQuery(s, dir, "lsh", bound = 0.70)),
    "text_token_count" -> ((s, dir) => TextOps.tokenCount(s, dir)),
    "text_quality_score" -> ((s, dir) => TextOps.qualityScore(s, dir)),
    "text_lang_id" -> ((s, dir) => TextOps.langId(s, dir)),
    "text_compression_ratio" -> ((s, dir) => TextOps.compressionRatioQuery(s, dir)),
    "text_chunk_windows" -> ((s, dir) => TextOps.chunkWindows(s, dir)),
    "text_tfidf_topk" -> ((s, dir) => TextOps.tfidfTopK(s, dir)),
    "text_inverted_index" -> ((s, dir) => TextOps.invertedIndexQuery(s, dir)),
    "doc_fingerprint" -> ((s, dir) => TextOps.fingerprint(s, dir)),
    "stream_windowed_agg" -> ((s, dir) => graft.streaming.Streaming.windowedAggQuery(s, dir)),
    "stream_stateful" -> ((s, dir) => graft.streaming.Streaming.statefulQuery(s, dir)),
    "stream_state_rocksdb" -> ((s, dir) => graft.streaming.Streaming.rocksDbStateQuery(s, dir)),
    "stream_transform_with_state" -> ((s, dir) => graft.streaming.Streaming.transformWithStateQuery(s, dir)),
    "stream_state_timers" -> ((s, dir) => graft.streaming.Streaming.timerExpiryQuery(s, dir)),
    "stream_state_ttl" -> ((s, dir) => graft.streaming.Streaming.ttlLapseQuery(s, dir)),
    "multimodal_features" -> ((s, dir) => graft.multimodal.Multimodal.featuresQuery(s, dir)),
    "multimodal_metadata" -> ((s, dir) => graft.multimodal.Multimodal.metadataQuery(s, dir)),
    "similarity_cosine_expr" -> ((s, dir) => graft.functions.CosineSimilarity.pairsQuery(s, dir)),
    "asof_join" -> ((s, dir) => AsOfJoin.asofQuery(s, dir)),
    "join_semi" -> ((s, dir) => RelationalExt.semiJoin(s, dir)),
    "join_anti" -> ((s, dir) => RelationalExt.antiJoin(s, dir)),
    "set_ops" -> ((s, dir) => RelationalExt.setOps(s, dir)),
    "rollup_agg" -> ((s, dir) => RelationalExt.rollupAgg(s, dir)),
    "topk_orderby_limit" -> ((s, dir) => RelationalExt.topKOrderByLimit(s, dir)),
    "distinct_rows" -> ((s, dir) => RelationalExt.distinctRows(s, dir)),
    "approx_distinct" -> ((s, dir) => RelationalExt.approxDistinct(s, dir)),
    "sketch_count_min" -> ((s, dir) => RelationalExt.countMinQuery(s, dir)),
    "similarity_ann_ivf" -> ((s, dir) => Similarity.annRecallQuery(s, dir, "ivf", bound = 0.95)),
    "similarity_matryoshka" -> ((s, dir) => Similarity.matryoshkaQuery(s, dir)),
    "similarity_ivf_partitioned" -> ((s, dir) => Similarity.ivfPartitionedQuery(s, dir)),
    "similarity_ann_pq" -> ((s, dir) => Similarity.pqQuery(s, dir)),
    "similarity_ivf_incremental" -> ((s, dir) => Similarity.ivfIncrementalQuery(s, dir)),
    "ivf_train_distributed" -> ((s, dir) => Similarity.ivfTrainDistributedQuery(s, dir)),
    "pq_train_distributed" -> ((s, dir) => Similarity.pqTrainDistributedQuery(s, dir)),
    "embedding_quantize" -> ((s, dir) => Similarity.quantizeInt8Query(s, dir)),
    "similarity_ivf_quantized" -> ((s, dir) => Similarity.ivfQuantizedQuery(s, dir)),
    "similarity_lsh_quantized" -> ((s, dir) => Similarity.lshQuantizedQuery(s, dir)),
    "pipeline_cs2_sensors" -> ((s, dir) => TransformQueries.pipelineCs2Sensors(s, dir)),
    "pipeline_cs3_editors" -> ((s, dir) => TransformQueries.pipelineCs3Editors(s, dir)),
    "dedup_cluster_collapse" -> ((s, dir) => Dedup.clusterCollapse(s, dir)),
    "split_train_holdout" -> ((s, dir) => Sampling.trainHoldout(s, dir)),
    "sample_weighted" -> ((s, dir) => Sampling.sampleWeighted(s, dir)),
    "column_quantiles" -> ((s, dir) => RelationalExt.columnQuantiles(s, dir)),
    "vocab_topk" -> ((s, dir) => TextOps.vocabTopK(s, dir)),
    "sketch_heavy_hitters" -> ((s, dir) => graft.functions.HeavyHittersSketch.heavyHittersQuery(s, dir)),
    "kafka_schema_sample" -> ((s, dir) => InferQueries.kafkaSchemaSample(s, dir)),
    "api_schema_sample" -> ((s, dir) => InferQueries.apiSchemaSample(s, dir)),
    "json_flatten" -> ((s, dir) => RelationalExt.jsonFlatten(s, dir)),
    "upsert_latest_by_key" -> ((s, dir) => RelationalExt.latestByKey(s, dir)),
    "stream_dedup" -> ((s, dir) => graft.streaming.Streaming.streamDedupQuery(s, dir)),
    "skew_salted_join" -> ((s, dir) => graft.operators.Skew.skewSaltedJoinQuery(s, dir)),
    "sessionize" -> ((s, dir) => RelationalExt.sessionize(s, dir)),
    "multimodal_frame_sample" -> ((s, dir) => graft.multimodal.Multimodal.frameSampleQuery(s, dir)),
    "multimodal_resize" -> ((s, dir) => graft.multimodal.Multimodal.resizeQuery(s, dir)),
    "multimodal_image_decode" -> ((s, dir) => graft.multimodal.Multimodal.imageDecodeQuery(s, dir)),
    "multimodal_jpeg_roundtrip" -> ((s, dir) => graft.multimodal.Multimodal.jpegRoundtripQuery(s, dir)),
    "multimodal_audio_decode" -> ((s, dir) => graft.multimodal.Multimodal.audioDecodeQuery(s, dir)),
    "multimodal_audio_resample" -> ((s, dir) => graft.multimodal.Multimodal.audioResampleQuery(s, dir)),
    "multimodal_decode_quarantine" -> ((s, dir) => graft.multimodal.Multimodal.decodeQuarantineQuery(s, dir)),
    "multimodal_video_frames" -> ((s, dir) => graft.multimodal.Multimodal.videoFramesQuery(s, dir)),
    "dedup_image_phash" -> ((s, dir) => graft.multimodal.Multimodal.imagePhashDedupQuery(s, dir)),
    "dedup_audio_fingerprint" -> ((s, dir) => graft.multimodal.Multimodal.audioFingerprintDedupQuery(s, dir)),
    "pipeline_media_release" -> ((s, dir) => graft.multimodal.Multimodal.mediaReleaseQuery(s, dir)),
    "pipeline_corpus_curation" -> ((s, dir) => Sampling.corpusCuration(s, dir)),
    "text_normalize" -> ((s, dir) => TextOps.normalize(s, dir)),
    "bucketed_join" -> ((s, dir) => graft.operators.Skew.bucketedJoinQuery(s, dir)),
    "asof_join_forward" -> ((s, dir) => AsOfJoin.asofForwardQuery(s, dir)),
    "text_decontaminate" -> ((s, dir) => Curation.decontaminateQuery(s, dir)),
    "text_repetition" -> ((s, dir) => Curation.repetitionQuery(s, dir)),
    "sample_stratified" -> ((s, dir) => Curation.stratifiedSampleQuery(s, dir)),
    "token_length_histogram" -> ((s, dir) => Curation.tokenLengthHistogram(s, dir)),
    "code_store" -> ((s, dir) => TransformQueries.codeStore(s, dir)),
    "range_join" -> ((s, dir) => RangeJoin.rangeJoinQuery(s, dir)),
    "pivot_table" -> ((s, dir) => RelationalExt.pivotTable(s, dir)),
    "stream_join" -> ((s, dir) => graft.streaming.Streaming.streamJoinQuery(s, dir)),
    "stream_join_dedup" -> ((s, dir) => graft.streaming.Streaming.streamJoinDedupQuery(s, dir)),
    "pipeline_pretrain_curation" -> ((s, dir) => Curation.pretrainCuration(s, dir)),
    "stream_resume" -> ((s, dir) => graft.streaming.Streaming.streamResumeQuery(s, dir)),
    "scan_parquet_evolving" -> ((s, dir) => SourceSinkQueries.scanParquetEvolving(s, dir)),
    "embedding_centroid" -> ((s, dir) => Similarity.centroidByLang(s, dir)),
    "sketch_bottomk" -> ((s, dir) => graft.functions.BottomKStrings.sketchQuery(s, dir)),
    "stream_upsert" -> ((s, dir) => graft.streaming.Streaming.streamUpsertQuery(s, dir)),
    "stream_cdc_apply" -> ((s, dir) => graft.streaming.Streaming.streamCdcApplyQuery(s, dir)),
    "stream_cdc_apply_mor" -> ((s, dir) => graft.streaming.Streaming.streamCdcApplyMorQuery(s, dir)),
    "stream_late_drop" -> ((s, dir) => graft.streaming.Streaming.streamLateDropQuery(s, dir)),
    "time_resample" -> ((s, dir) => RelationalExt.timeResample(s, dir)),
    "window_moving_agg" -> ((s, dir) => RelationalExt.windowMovingAgg(s, dir)),
    "window_ntile_deciles" -> ((s, dir) => RelationalExt.windowNtileDeciles(s, dir)),
    "sql_functions" -> ((s, dir) => graft.plans.GraftFunctions.sqlFunctionsQuery(s, dir)),
    "pipeline_sql_curation" -> ((s, dir) => graft.plans.GraftFunctions.sqlCurationQuery(s, dir)),
    "text_pii_redact" -> ((s, dir) => Curation.piiRedactQuery(s, dir)),
    "approx_quantile" -> ((s, dir) => RelationalExt.approxQuantile(s, dir)),
    "grouping_sets" -> ((s, dir) => RelationalExt.groupingSets(s, dir)),
    "stream_session_window" -> ((s, dir) => graft.streaming.Streaming.sessionWindowQuery(s, dir)),
    "scan_csv_malformed" -> ((s, dir) => SourceSinkQueries.scanCsvMalformed(s, dir)),
    "scan_json_malformed" -> ((s, dir) => SourceSinkQueries.scanJsonMalformed(s, dir)),
    "scan_xml" -> ((s, dir) => SourceSinkQueries.scanXml(s, dir)),
    "json_variant" -> ((s, dir) => SourceSinkQueries.jsonVariant(s, dir)),
    "unpivot_melt" -> ((s, dir) => RelationalExt.unpivotMelt(s, dir)),
    "dedup_edit_distance" -> ((s, dir) => Dedup.editDistanceDedup(s, dir)),
    "chain_failure_status" -> ((s, dir) => TransformQueries.chainFailureStatus(s, dir)),
    "stream_batched_cap" -> ((s, dir) => graft.streaming.Streaming.streamBatchedCapQuery(s, dir)),
    "stream_exactly_once" -> ((s, dir) => graft.streaming.Streaming.streamExactlyOnceQuery(s, dir)),
    "dedup_incremental" -> ((s, dir) => Curation.incrementalDedupQuery(s, dir)),
    "quality_funnel" -> ((s, dir) => Curation.qualityFunnelQuery(s, dir)),
    "token_budget_pack" -> ((s, dir) => Packing.tokenBudgetPack(s, dir)),
    "dedup_bloom_prefilter" -> ((s, dir) => Curation.bloomPrefilterQuery(s, dir)),
    "sample_domain_mix" -> ((s, dir) => Curation.domainMixQuery(s, dir)),
    "dedup_semantic" -> ((s, dir) => Similarity.semanticDedup(s, dir)),
    "text_unigram_logprob" -> ((s, dir) => TextOps.unigramLogprob(s, dir)),
    "dedup_span_exact" -> ((s, dir) => Dedup.spanDedup(s, dir)),
    "dedup_cdc_chunks" -> ((s, dir) => Dedup.cdcChunkDedup(s, dir)),
    "stream_curation" -> ((s, dir) => graft.streaming.Streaming.streamCurationQuery(s, dir)),
    "stream_incremental_dedup" -> ((s, dir) => graft.streaming.Streaming.streamIncrementalDedupQuery(s, dir)),
    "dedup_minhash_incremental" -> ((s, dir) => Dedup.minhashIndexIncrementalQuery(s, dir)),
    "dedup_index_compact" -> ((s, dir) => Dedup.lshIndexCompactQuery(s, dir)),
    "dedup_minhash_quantized" -> ((s, dir) => Dedup.minhashIndexQuantizedQuery(s, dir)),
    "sample_repeat_factor" -> ((s, dir) => Curation.repeatFactorQuery(s, dir)),
    "optimizer_cosine_rewrite" -> ((s, dir) => graft.plans.CosineBlockJoinQuery.rewriteQuery(s, dir)),
    "optimizer_cosine_rewrite_residual" -> ((s, dir) => graft.plans.CosineBlockJoinQuery.residualRewriteQuery(s, dir)),
    "pipeline_pack_release" -> ((s, dir) => Packing.packReleaseQuery(s, dir, budget = 5000L)),
    "pipeline_chunk_release" -> ((s, dir) => Packing.chunkReleaseQuery(s, dir)),
    "custom_topk_exec" -> ((s, dir) => graft.plans.TopKPerKey.topkQuery(s, dir)),
    "sketch_hll_store" -> ((s, dir) => Packing.hllStoreQuery(s, dir)),
    "sink_partition_backfill" -> ((s, dir) => SourceSinkQueries.sinkPartitionBackfill(s, dir)),
    "sink_compact_small_files" -> ((s, dir) => SourceSinkQueries.sinkCompactSmallFiles(s, dir)),
    "sink_merge_upsert" -> ((s, dir) => SourceSinkQueries.sinkMergeUpsert(s, dir)),
    "sink_vacuum_retention" -> ((s, dir) => SourceSinkQueries.sinkVacuumRetention(s, dir)),
    "pipeline_lakehouse" -> ((s, dir) => SourceSinkQueries.pipelineLakehouse(s, dir)),
    "sink_orc_roundtrip" -> ((s, dir) => SourceSinkQueries.sinkOrcRoundtrip(s, dir)),
    "sink_incremental_agg" -> ((s, dir) => SourceSinkQueries.sinkIncrementalAgg(s, dir)),
    "sink_incremental_agg_retract" -> ((s, dir) => SourceSinkQueries.sinkIncrementalAggRetract(s, dir)),
    "table_snapshot_read" -> ((s, dir) => SourceSinkQueries.tableSnapshotRead(s, dir)),
    "table_txn_log" -> ((s, dir) => SourceSinkQueries.tableTxnLogQuery(s, dir)),
    "table_concurrent_commit" -> ((s, dir) => SourceSinkQueries.tableConcurrentCommitQuery(s, dir)),
    "stream_cdc_maintain" -> ((s, dir) => graft.streaming.Streaming.streamCdcMaintainQuery(s, dir)),
    "table_schema_evolution" -> ((s, dir) => SourceSinkQueries.tableSchemaEvolutionQuery(s, dir)),
    "table_connector_read" -> ((s, dir) => SourceSinkQueries.tableConnectorReadQuery(s, dir)),
    "table_connector_skipping" -> ((s, dir) => SourceSinkQueries.tableConnectorSkippingQuery(s, dir)),
    "table_time_travel_sql" -> ((s, dir) => SourceSinkQueries.tableTimeTravelSqlQuery(s, dir)),
    "table_column_mapping" -> ((s, dir) => SourceSinkQueries.tableColumnMappingQuery(s, dir)),
    "table_commit_torture" -> ((s, dir) => SourceSinkQueries.tableCommitTortureQuery(s, dir)),
    "table_metadata_planning" -> ((s, dir) => SourceSinkQueries.tableMetadataPlanningQuery(s, dir)),
    "table_connector_write" -> ((s, dir) => SourceSinkQueries.tableConnectorWriteQuery(s, dir)),
    "table_incremental_read" -> ((s, dir) => SourceSinkQueries.tableIncrementalReadQuery(s, dir)),
    "stream_table_feed" -> ((s, dir) => SourceSinkQueries.streamTableFeedQuery(s, dir)),
    "stream_cdf_feed" -> ((s, dir) => SourceSinkQueries.streamCdfFeedQuery(s, dir)),
    "stream_table_sink" -> ((s, dir) => SourceSinkQueries.streamTableSinkQuery(s, dir)),
    "table_delete_where" -> ((s, dir) => SourceSinkQueries.tableDeleteWhereQuery(s, dir)),
    "table_update_sql" -> ((s, dir) => SourceSinkQueries.tableUpdateSqlQuery(s, dir)),
    "table_multicol_skipping" -> ((s, dir) => SourceSinkQueries.tableMulticolSkippingQuery(s, dir)),
    "table_merge_sql" -> ((s, dir) => SourceSinkQueries.tableMergeSqlQuery(s, dir)),
    "table_merge_nmbs" -> ((s, dir) => SourceSinkQueries.tableMergeNmbsQuery(s, dir)),
    "table_manifest_checkpoint" -> ((s, dir) => SourceSinkQueries.tableManifestCheckpointQuery(s, dir)),
    "table_restore" -> ((s, dir) => SourceSinkQueries.tableRestoreQuery(s, dir)),
    "table_clone_mor" -> ((s, dir) => SourceSinkQueries.tableCloneMorQuery(s, dir)),
    "table_restore_sql" -> ((s, dir) => SourceSinkQueries.tableRestoreSqlQuery(s, dir)),
    "table_optimize_sql" -> ((s, dir) => SourceSinkQueries.tableOptimizeSqlQuery(s, dir)),
    "table_cdf_read" -> ((s, dir) => SourceSinkQueries.tableCdfReadQuery(s, dir)),
    "table_cdf_mor" -> ((s, dir) => SourceSinkQueries.tableCdfMorQuery(s, dir)),
    "table_delete_mor" -> ((s, dir) => SourceSinkQueries.tableDeleteMorQuery(s, dir)),
    "table_mor_maintenance" -> ((s, dir) => SourceSinkQueries.tableMorMaintenanceQuery(s, dir)),
    "table_clone" -> ((s, dir) => SourceSinkQueries.tableCloneQuery(s, dir)),
    "table_constraints" -> ((s, dir) => SourceSinkQueries.tableConstraintsQuery(s, dir)),
    "table_schema_add_drop" -> ((s, dir) => SourceSinkQueries.tableSchemaAddDropQuery(s, dir)),
    "table_alter_sql" -> ((s, dir) => SourceSinkQueries.tableAlterSqlQuery(s, dir)),
    "table_delete_mor_sql" -> ((s, dir) => SourceSinkQueries.tableDeleteMorSqlQuery(s, dir)),
    "table_delete_mor_pos" -> ((s, dir) => SourceSinkQueries.tableDeleteMorPosQuery(s, dir)),
    "table_update_mor" -> ((s, dir) => SourceSinkQueries.tableUpdateMorQuery(s, dir)),
    "table_history" -> ((s, dir) => SourceSinkQueries.tableHistoryQuery(s, dir)),
    "table_update_mor_sql" -> ((s, dir) => SourceSinkQueries.tableUpdateMorSqlQuery(s, dir)),
    "table_merge_mor" -> ((s, dir) => SourceSinkQueries.tableMergeMorQuery(s, dir)),
    "table_optimize_small" -> ((s, dir) => SourceSinkQueries.tableOptimizeSmallQuery(s, dir)),
    "table_time_travel_ts" -> ((s, dir) => SourceSinkQueries.tableTimeTravelTsQuery(s, dir)),
    "split_leakage_check" -> ((s, dir) => Sampling.splitLeakageCheck(s, dir)),
    "split_group_aware" -> ((s, dir) => Sampling.splitGroupAware(s, dir)),
    "sink_zorder_layout" -> ((s, dir) => SourceSinkQueries.sinkZorderLayout(s, dir)),
    "sink_zorder_3d" -> ((s, dir) => SourceSinkQueries.sinkZorder3d(s, dir)),
    "source_file_stats_index" -> ((s, dir) => SourceSinkQueries.sourceFileStatsIndex(s, dir)),
    "source_file_bloom_index" -> ((s, dir) => SourceSinkQueries.sourceFileBloomIndex(s, dir)),
    "observe_quality_metrics" -> ((s, dir) => SourceSinkQueries.observeQualityMetrics(s, dir)),
    "quality_expectations" -> ((s, dir) => Expectations.qualityExpectations(s, dir)),
    "skew_aqe_join" -> ((s, dir) => graft.operators.Skew.aqeSkewJoinQuery(s, dir)),
  )

  /** TPC-H Q1-shaped pricing summary — the canonical groupBy/agg probe. */
  private def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Relational.table(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** parse_timestamp with a string-typed output so the oracle comparison
    * is immune to timestamp-encoding differences between engines. */
  private def parseTimestampStr(spark: SparkSession, dir: String): DataFrame =
    Relational.parseTimestamp(spark, dir)
      .select(
        col("o_orderkey"),
        date_format(col("o_parsed"), "yyyy-MM-dd HH:mm:ss").as("o_roundtrip"))
      .orderBy("o_orderkey")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "filter_predicate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_orderstatus <> 'F' AND o_totalprice > 1000.0
         ORDER BY o_orderkey""",
    "project_columns" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         ORDER BY c_custkey""",
    "derive_column_arith" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS revenue,
         l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "timestamp_diff" ->
      """SELECT l_orderkey, l_linenumber,
         CAST((epoch(l_shipdate) - epoch(o_orderdate)) / 86400 AS BIGINT)
           AS ship_delay_days
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber""",
    "conditional_case" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice < 150000 THEN 'medium'
                     WHEN o_totalprice < 300000 THEN 'large'
                     ELSE 'jumbo' END AS price_band,
         count(*) AS n_orders
         FROM orders GROUP BY 1 ORDER BY price_band""",
    "parse_timestamp" ->
      """SELECT o_orderkey,
         strftime(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                           '%Y-%m-%d %H:%M:%S'),
                  '%Y-%m-%d %H:%M:%S') AS o_roundtrip
         FROM orders ORDER BY o_orderkey""",
    "extract_time_part" ->
      """SELECT event_id,
         CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
         CAST(day(ts) AS INT) AS d, CAST(hour(ts) AS INT) AS h
         FROM events ORDER BY event_id""",
    "string_match_filter" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
         WHERE NOT (lower(c_name) LIKE '%0')
           AND lower(c_mktsegment) IN ('building', 'machinery')
         ORDER BY c_custkey""",
    "lookup_join" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "group_agg_multi" ->
      """SELECT event_type, CAST(hour(ts) AS INT) AS h,
         count(*) AS n_events,
         round(min(value), 2) AS min_value,
         round(max(value), 2) AS max_value,
         round(avg(value), 2) AS avg_value
         FROM events GROUP BY event_type, h ORDER BY event_type, h""",
    "agg_having" ->
      """SELECT CAST(hour(ts) AS INT) AS h,
         CAST(sum(CASE WHEN value > 180.0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_anomalies
         FROM events GROUP BY h HAVING n_anomalies > 3 ORDER BY h""",
    "window_topk" ->
      """SELECT h, user_id, n_events, rank FROM (
           SELECT h, user_id, n_events,
             CAST(row_number() OVER (PARTITION BY h
                  ORDER BY n_events DESC, user_id ASC) AS INT) AS rank
           FROM (SELECT CAST(hour(ts) AS INT) AS h, user_id,
                        count(*) AS n_events
                 FROM events GROUP BY h, user_id))
         WHERE rank <= 3 ORDER BY h, rank""",
    "type_cast" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS orderkey_str,
         CAST(l_quantity AS INT) AS quantity_int,
         CAST(l_linenumber AS BIGINT) AS linenumber_long,
         CAST(l_shipdate AS DATE) AS shipdate_date
         FROM lineitem ORDER BY orderkey_str, linenumber_long""",
    "udf_enrichment" ->
      """SELECT c_custkey, upper(substring(c_mktsegment, 1, 3)) AS seg_code
         FROM customer ORDER BY c_custkey""",
    "scan_csv" ->
      """SELECT * FROM region ORDER BY r_regionkey""",
    "scan_json" ->
      """SELECT * FROM nation ORDER BY n_nationkey""",
    "scan_parquet" ->
      """SELECT * FROM supplier ORDER BY s_suppkey""",
    "source_file_scan_glob" ->
      """SELECT * FROM nation ORDER BY n_nationkey""",
    "union_by_name" ->
      """SELECT c_custkey, c_name, c_nationkey,
                CAST(NULL AS DOUBLE) AS c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
         FROM customer WHERE c_custkey % 2 = 1
         ORDER BY c_custkey""",
    "metadata_stamp" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
                DATE '2026-01-01' AS _ingestion_date,
                '2026-01-01 00:00:00' AS _ingestion_timestamp,
                'pipeline_1' AS _pipeline_id,
                1 AS _schema_version
         FROM supplier ORDER BY s_suppkey""",
    "sink_csv_overwrite" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
         round(sum(c_acctbal), 2) AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "sink_parquet_append_partitioned" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
           AS _ingestion_date, count(*) AS n_orders
         FROM orders
         WHERE CAST(date_trunc('month', o_orderdate) AS DATE)
           >= DATE '2000-01-01'
         GROUP BY 1 ORDER BY 1""",
    "scan_rest_api" ->
      """SELECT * FROM nation ORDER BY n_nationkey""",
    "scan_kafka_batch" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sink_jdbc_postgres" ->
      """SELECT r_name, n_name, CAST(2 AS BIGINT) AS n_copies,
                count(*) AS n_customers,
                round(sum(c_acctbal), 2) AS sum_acctbal,
                true AS fail_mode_rejected
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name""",
    "scan_db" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         WHERE c_custkey <= 300 ORDER BY c_custkey""",
    "infer_types" ->
      """SELECT column_name, inferred_type,
                CAST(confidence AS DOUBLE) AS confidence
         FROM (VALUES
           ('o_custkey','long',1.0), ('o_orderdate','timestamp',1.0),
           ('o_orderkey','long',1.0), ('o_orderpriority','string',1.0),
           ('o_orderstatus','string',1.0), ('o_totalprice','double',1.0))
           t(column_name, inferred_type, confidence)
         ORDER BY column_name""",
    // Golden oracles: sampling + voting is deterministic and every
    // testdata column is clean, so confidence is exactly 1.0. `ts`
    // infers as string by design — JSON payloads render timestamps in
    // ISO-T form, which the voting set (reference regexes) does not
    // recognize as timestamps; the reference behaves identically on
    // Kafka JSON.
    "kafka_schema_sample" ->
      """SELECT column_name, inferred_type,
                CAST(confidence AS DOUBLE) AS confidence
         FROM (VALUES
           ('event_id','long',1.0), ('event_type','string',1.0),
           ('props','string',1.0), ('ts','string',1.0),
           ('user_id','long',1.0), ('value','double',1.0))
           t(column_name, inferred_type, confidence)
         ORDER BY column_name""",
    "api_schema_sample" ->
      """SELECT column_name, inferred_type,
                CAST(confidence AS DOUBLE) AS confidence
         FROM (VALUES
           ('n_name','string',1.0), ('n_nationkey','long',1.0),
           ('n_regionkey','long',1.0))
           t(column_name, inferred_type, confidence)
         ORDER BY column_name""",
    "column_stats" ->
      """SELECT 'c_acctbal' AS column_name,
           CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_count,
           CAST(count(DISTINCT c_acctbal) AS BIGINT) AS unique_count,
           CAST(min(c_acctbal) AS DOUBLE) AS min_val,
           CAST(max(c_acctbal) AS DOUBLE) AS max_val FROM customer
         UNION ALL
         SELECT 'c_custkey',
           CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_custkey) AS BIGINT),
           CAST(min(c_custkey) AS DOUBLE), CAST(max(c_custkey) AS DOUBLE)
         FROM customer
         UNION ALL
         SELECT 'c_mktsegment',
           CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM customer
         UNION ALL
         SELECT 'c_name',
           CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_name) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE) FROM customer
         UNION ALL
         SELECT 'c_nationkey',
           CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT c_nationkey) AS BIGINT),
           CAST(min(c_nationkey) AS DOUBLE), CAST(max(c_nationkey) AS DOUBLE)
         FROM customer
         ORDER BY column_name""",
    "schema_compat_check" ->
      """SELECT * FROM (VALUES
           (0, true, 0, 0), (1, false, 1, 0), (2, false, 0, 1))
           t(file_idx, compatible, n_missing, n_extra)
         ORDER BY file_idx""",
    "detect_confidence" ->
      """SELECT CAST(0.8 AS DOUBLE) AS overall_confidence""",
    "field_override" ->
      """SELECT c_custkey, c_name AS customer_name,
                CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment
         FROM customer ORDER BY c_custkey""",
    "sample_rows_synthesis" ->
      """SELECT CAST(row_id AS BIGINT) AS row_id, name,
                CAST(age AS BIGINT) AS age, active, joined,
                CAST(score AS DOUBLE) AS score
         FROM (VALUES
           (0,'alice',30,true,DATE '2024-01-15',NULL),
           (1,'bob',40,false,DATE '2024-01-15',NULL),
           (2,'carol',30,true,DATE '2024-01-15',NULL),
           (3,'alice',40,false,DATE '2024-01-15',NULL),
           (4,'bob',30,true,DATE '2024-01-15',NULL),
           (5,'carol',40,false,DATE '2024-01-15',NULL),
           (6,'alice',30,true,DATE '2024-01-15',NULL),
           (7,'bob',40,false,DATE '2024-01-15',NULL),
           (8,'carol',30,true,DATE '2024-01-15',NULL),
           (9,'alice',40,false,DATE '2024-01-15',NULL))
           t(row_id, name, age, active, joined, score)
         ORDER BY row_id""",
    "transform_chain" ->
      """SELECT CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
           AS band, count(*) AS n_orders
         FROM orders WHERE o_orderstatus = 'O'
         GROUP BY 1 ORDER BY band""",
    "dry_run" ->
      """SELECT check_idx AS row_id, name, CAST(doubled AS BIGINT) AS doubled
         FROM (VALUES
           (0,'alice',60),(1,'bob',80),(2,'carol',60),(3,'alice',80),
           (4,'bob',60),(5,'carol',80),(6,'alice',60),(7,'bob',80),
           (8,'carol',60),(9,'alice',80)) t(check_idx, name, doubled)
         ORDER BY row_id""",
    "version_control" ->
      """SELECT * FROM (VALUES
           ('f', 1, true), ('f', 2, false), ('g', 1, true))
           t(step_name, version, active)
         ORDER BY step_name, version""",
    "code_validate" ->
      """SELECT * FROM (VALUES
           (0, true), (1, false), (2, false), (3, false))
           t(check_idx, valid)
         ORDER BY check_idx""",
    "preview_limit" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
                CAST(5 AS BIGINT) AS n_preview_rows,
                CAST(5 AS BIGINT) AS n_cols
         FROM customer""",
    "count_records" ->
      """SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS input_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderstatus = 'O') AS output_rows""",
    "pipeline_medallion" ->
      """SELECT CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
           AS band, count(*) AS n_orders
         FROM orders WHERE o_orderstatus = 'O'
         GROUP BY 1 ORDER BY band""",
    "silver_schema_handoff" ->
      """SELECT * FROM (VALUES
           ('c_custkey', 'bigint'), ('c_name', 'string'),
           ('doubled_bal', 'double')) t(column_name, dtype)
         ORDER BY column_name""",
    // Write-path schema evolution: generation 1 lacks the priority
    // column (surfaces as the '<v1>' sentinel through the registry's
    // v2 silver step), generation 2 carries the renamed field; the
    // min/max generation stamps prove the groups separate cleanly.
    "pipeline_schema_evolution" ->
      """WITH m AS (
           SELECT o_totalprice, CAST(NULL AS VARCHAR) AS priority,
                  1 AS gen
           FROM orders WHERE o_orderkey % 2 = 0
           UNION ALL
           SELECT o_totalprice, o_orderpriority, 2
           FROM orders WHERE o_orderkey % 2 = 1)
         SELECT CASE WHEN o_totalprice < 150000 THEN 'low' ELSE 'high' END
                  AS band,
                coalesce(priority, '<v1>') AS priority,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                CAST(min(gen) AS INT) AS min_gen,
                CAST(max(gen) AS INT) AS max_gen
         FROM m GROUP BY 1, 2 ORDER BY band, priority""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT) AS n_copies
         FROM (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id + 100000000000, text FROM documents)
         GROUP BY text ORDER BY doc_id""",
    "dedup_minhash_lsh" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                CAST(i AS DOUBLE) / (sa.c + sb.c - i) AS jaccard
         FROM pr
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8
         ORDER BY doc_a, doc_b""",
    // Hot-bucket cap witness: the verified pair count must equal the
    // exact-Jaccard replay (the cap is a no-op on this corpus — its
    // bucket maximum sits under the cap), and the accounting columns
    // pin that nothing was capped or excluded; set equality with the
    // uncapped join is the engine's anti-join witness.
    "dedup_lsh_hotbucket" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                true AS matches_uncapped,
                true AS max_bucket_le_cap,
                CAST(0 AS BIGINT) AS n_buckets_capped,
                CAST(0 AS BIGINT) AS rows_excluded
         FROM pr
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8""",
    "dedup_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                CAST(i AS DOUBLE) / (sa.c + sb.c - i) AS jaccard
         FROM pr
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.5
         ORDER BY doc_a, doc_b""",
    "dedup_simhash" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
         SELECT doc_a, doc_b FROM pr
         JOIN sz sa ON sa.doc_id = doc_a
         JOIN sz sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8
         ORDER BY doc_a, doc_b""",
    "dedup_embedding_cosine" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM v a, v b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(a.e, b.e) >= 0.46
         ORDER BY id_a, id_b""",
    "similarity_topk_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 5),
         n AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS nv
               FROM embeddings),
         s AS (SELECT qid, nid, list_cosine_similarity(qv, nv) AS sim
               FROM q, n WHERE qid <> nid)
         SELECT qid AS query_id,
                CAST(row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, nid) AS INT) AS rank,
                nid AS neighbor_id
         FROM s QUALIFY rank <= 10
         ORDER BY query_id, rank""",
    // ANN recall vs exact brute-force, emitted as one deterministic row:
    // both plans are seeded, so recall is a fixed function of the data
    // and the bound is chosen below the measured floor per scale factor
    // (see SimilaritySpec). The oracle checks the assertion, not the
    // (engine-specific) neighbor lists.
    // ANN plans are seeded and deterministic, so the hit count is a
    // fixed function of the dataset; the oracle pins the measured value
    // per scale factor (keyed on lineitem's row count, which is unique
    // per SF — embeddings has 500 rows at both sf0.001 and sf0.01).
    // A recall regression is then a driver-visible hash mismatch even
    // when it still clears the bound.
    // Keyed on embeddings' row count like the IVF pin below (r20: the
    // flat 49 held at 500 AND 2000 rows by coincidence; the sf1 gate's
    // 20000-row fixture measures 50).
    // ELSE -1 (ADVICE r20): an embeddings fixture at an UNPINNED
    // cardinality must fail with a self-explanatory -1 vs engine-hits
    // diff, not an opaque NULL — measure the new scale's hit count
    // and add its arm.
    "similarity_ann_lsh" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
                CAST(CASE (SELECT count(*) FROM embeddings)
                     WHEN 500 THEN 49
                     WHEN 2000 THEN 49
                     WHEN 20000 THEN 50
                     ELSE -1 END AS BIGINT) AS n_hits,
                CAST(count(*) * 10 AS BIGINT) AS n_total,
                true AS recall_ge_bound
         FROM embeddings WHERE vec_id < 5""",
    // Matryoshka prefix retrieval: both rankings and the exact overlap
    // replay (the cosine tie-break discipline of similarity_topk_cosine).
    "similarity_matryoshka" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings),
         q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
         fs AS (SELECT qid, vec_id AS nid,
                       list_cosine_similarity(qv, v) AS sim
                FROM q, e WHERE vec_id <> qid),
         fk AS (SELECT qid, nid FROM fs
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, nid) <= 10),
         ts AS (SELECT qid, vec_id AS nid,
                       list_cosine_similarity(qv[1:16], v[1:16]) AS sim
                FROM q, e WHERE vec_id <> qid),
         tk AS (SELECT qid, nid FROM ts
                QUALIFY row_number() OVER (PARTITION BY qid
                  ORDER BY sim DESC, nid) <= 10)
         SELECT CAST((SELECT count(*) FROM q) AS BIGINT) AS n_queries,
                CAST(10 AS INT) AS k, CAST(16 AS INT) AS prefix_dim,
                CAST((SELECT count(*) FROM fk) AS BIGINT) AS n_total,
                CAST(count(*) AS BIGINT) AS n_overlap
         FROM fk JOIN tk ON fk.qid = tk.qid AND fk.nid = tk.nid""",
    // Keyed on EMBEDDINGS' own row count (500 at sf0.001/sf0.01 —
    // identical fixtures, identical hits — 2000 at sf0.1): the hit
    // count is a function of the embeddings table alone, and keying
    // on lineitem broke under the r19 lineitem-composited pin-stress
    // gate (6M rows matched no CASE arm -> NULL n_hits).
    // ELSE -1: see similarity_ann_lsh — unpinned scale must fail
    // self-explanatorily.
    "similarity_ann_ivf" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
                CAST(CASE (SELECT count(*) FROM embeddings)
                     WHEN 500 THEN 50
                     WHEN 2000 THEN 49
                     WHEN 20000 THEN 50
                     ELSE -1 END AS BIGINT) AS n_hits,
                CAST(count(*) * 10 AS BIGINT) AS n_total,
                true AS recall_ge_bound
         FROM embeddings WHERE vec_id < 5""",
    // The pruning/equivalence booleans are computed by the engine from
    // the executed plan (partition dirs selected vs on disk) and the
    // in-memory IVF result; the oracle pins them true.
    "similarity_ivf_partitioned" ->
      """SELECT CAST(count(*) * 5 AS BIGINT) AS n_results,
                true AS matches_in_memory_ivf,
                true AS scan_pruned
         FROM embeddings WHERE vec_id < 2""",
    // Incremental append into the cell-partitioned index: result parity
    // with the single-plan rebuild, pre-existing files untouched, and
    // probe-side partition pruning are all engine-asserted booleans the
    // oracle pins to true; n_results is k rows per query.
    "similarity_ivf_incremental" ->
      """SELECT CAST(count(*) * 5 AS BIGINT) AS n_results,
                true AS matches_full_index,
                true AS corpus_files_untouched,
                true AS scan_pruned
         FROM embeddings WHERE vec_id < 2""",
    // Full-corpus distributed Lloyd training: convergence (monotone,
    // improved-over-init inertia) and total assignment are engine-
    // asserted deterministic booleans (seeded init, fixed iterations);
    // the oracle computes the corpus count and dimension directly.
    "ivf_train_distributed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                CAST(max(len(embedding)) AS INT) AS dim,
                true AS assigned_eq_n,
                true AS cells_nonempty,
                true AS inertia_monotone,
                true AS inertia_improved
         FROM embeddings""",
    // Distributed PQ codebook training: same witness scheme as the
    // coarse quantizer above, per-subspace Lloyd sharing one corpus
    // pass per iteration.
    "pq_train_distributed" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
                CAST(8 AS INT) AS m,
                true AS assigned_eq_n,
                true AS inertia_monotone,
                true AS inertia_improved
         FROM embeddings""",
    // IVF-PQ: recall vs exact brute force, PQ-vs-int8 byte shrinkage,
    // and probe pruning are engine-asserted deterministic booleans the
    // oracle pins to true. (Both plans are seeded — codebooks, coarse
    // cells, and ADC shortlist are all deterministic functions of the
    // data.) Result completeness is the engine-side
    // `results_cover_collisions` check (n_results == Σ least(k,
    // candidates per query)) — counted from a separate pass over the
    // probed index, so no SF-dependent "every query collides with ≥ k
    // neighbors" assumption lives in this SQL.
    "similarity_ann_pq" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
                true AS results_cover_collisions,
                true AS recall_ge_bound,
                true AS pq_bytes_vs_int8,
                true AS scan_pruned
         FROM embeddings WHERE vec_id < 2""",
    // Quantized IVF index: recall vs the float index, byte shrinkage,
    // and probe-side pruning are engine-asserted deterministic booleans
    // the oracle pins to true. Result completeness is the engine-side
    // `results_cover_collisions` check (n_results == Σ least(k,
    // distinct collided candidates per query), counted distributed
    // over the probed index read) — this SQL carries NO data-dependent
    // "every query collides with ≥ k neighbors" assumption and stays
    // valid at arbitrarily sparse scale factors.
    "similarity_ivf_quantized" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
                true AS results_cover_collisions,
                true AS recall_ge_bound,
                true AS index_bytes_shrunk,
                true AS scan_pruned
         FROM embeddings WHERE vec_id < 2""",
    // Quantized LSH index: same witness shape (and the same robust
    // completeness contract — the old count(*)*5 n_results pin assumed
    // ≥ k collisions per query across its 8 tables, a data-dependent
    // property a sparser corpus would have broken; the least(k,
    // collisions) comparison now runs inside the engine and the oracle
    // pins only the boolean).
    "similarity_lsh_quantized" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
                true AS results_cover_collisions,
                true AS recall_ge_bound,
                true AS index_bytes_shrunk,
                true AS scan_pruned
         FROM embeddings WHERE vec_id < 2""",
    // Int8 scalar quantization: the oracle replays the exact IEEE
    // arithmetic (double, fixed ((x*127)/ma) association, round
    // half-away-from-zero in both engines on exact-integer doubles),
    // so the code vectors hash-match; the round-trip cosine check has
    // a ≥1.9% margin over int8's worst observed loss, making the
    // boolean engine-neutral.
    "embedding_quantize" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed
                    FROM embeddings WHERE vec_id < 100),
         m AS (SELECT vec_id, ed,
                      list_max(list_transform(ed, x -> abs(x))) AS ma
               FROM v),
         c AS (SELECT vec_id, ed, ma,
                      CASE WHEN ma = 0
                           THEN list_transform(ed, x -> CAST(0 AS TINYINT))
                           ELSE list_transform(ed,
                             x -> CAST(round(x * 127.0 / ma) AS TINYINT))
                      END AS codes
               FROM m),
         r AS (SELECT vec_id, ed, codes,
                      list_transform(codes,
                        q -> CAST(q AS DOUBLE) * ma / 127.0) AS recon
               FROM c)
         SELECT vec_id,
                array_to_string(list_transform(codes,
                  q -> CAST(q AS VARCHAR)), ',') AS codes_str,
                list_cosine_similarity(ed, recon) >= 0.98 AS well_preserved
         FROM r ORDER BY vec_id""",
    "text_normalize" ->
      """SELECT doc_id,
                CAST(length(text) AS INT) AS n_chars_raw,
                CAST(length(trim(regexp_replace(regexp_replace(
                  lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
                  AS INT) AS n_chars_norm,
                trim(regexp_replace(regexp_replace(
                  lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))
                  AS text_norm
         FROM documents ORDER BY doc_id""",
    "text_token_count" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(regexp_extract_all(lower(text),
                  '[a-z]{1,4}|[0-9]{1,4}|[^a-z0-9 ]')) AS INT)
                  AS n_subwords,
                CAST(length(text) AS INT) AS n_chars_measured,
                n_chars
         FROM documents ORDER BY doc_id""",
    "text_quality_score" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(list_filter(string_split(text, ' '),
                    w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
                  / len(string_split(text, ' ')) AS stop_ratio,
                CAST(length(text) - (len(string_split(text, ' ')) - 1)
                     AS DOUBLE)
                  / len(string_split(text, ' ')) AS avg_word_len
         FROM documents ORDER BY doc_id""",
    // TF-IDF replayed WHOLESALE: tf and df from the same token
    // relation, ln-based score quantized to integer micro-units so a
    // last-ulp libm difference cannot reorder ranks; ties by term.
    "text_tfidf_topk" ->
      """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf
                FROM tk GROUP BY doc_id, tok),
         dfr AS (SELECT tok, count(DISTINCT doc_id) AS df
                 FROM tf GROUP BY tok),
         sc AS (SELECT tf.doc_id, tf.tok, tf.tf,
                       CAST(floor(tf.tf * ln(
                         (SELECT CAST(count(*) AS DOUBLE) FROM documents)
                           / dfr.df) * 1e6) AS BIGINT) AS score_q
                FROM tf JOIN dfr ON tf.tok = dfr.tok),
         r AS (SELECT doc_id, tok, tf, score_q,
                      CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY score_q DESC, tok ASC) AS INT) AS rank
               FROM sc)
         SELECT doc_id, rank, tok, CAST(tf AS BIGINT) AS tf, score_q
         FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",
    // Inverted index: the oracle recomputes the deterministic rank-10
    // probe term and its document frequency; the posting-equality and
    // bucket-pruning witnesses are engine-measured and pinned.
    "text_inverted_index" ->
      """WITH p AS (SELECT doc_id,
                  unnest(list_distinct(string_split(text, ' '))) AS term
                FROM documents WHERE text IS NOT NULL),
         d AS (SELECT term, count(DISTINCT doc_id) AS df
               FROM p GROUP BY term),
         r AS (SELECT term, df, ROW_NUMBER() OVER
                 (ORDER BY df DESC, term ASC) AS rn FROM d)
         SELECT term AS probe_term, CAST(df AS BIGINT) AS df,
                true AS postings_match_scan, true AS index_pruned
         FROM r WHERE rn = 10""",
    // Overlapping-window chunking replayed WHOLESALE: split, stride
    // walk, slice, rejoin, md5 — full per-chunk fingerprint parity.
    "text_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE text IS NOT NULL),
            s AS (SELECT doc_id, ws,
                         unnest(range(0, len(ws), 96)) AS start FROM t)
         SELECT doc_id, CAST(start // 96 AS INT) AS chunk_id,
                CAST(len(list_slice(ws, start + 1, start + 128)) AS INT)
                  AS n_tokens,
                md5(array_to_string(
                  list_slice(ws, start + 1, start + 128), ' '))
                  AS chunk_md5
         FROM s ORDER BY doc_id, chunk_id""",
    // DEFLATE byte counts are zlib-build-specific, so the engine ships
    // ratio-derived booleans (validity, universal compression of >=200
    // char word-salad docs, repetitive-literal-ranks-lower) the oracle
    // pins true, plus the filter count it computes directly.
    "text_compression_ratio" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                true AS ratios_valid,
                true AS all_compress,
                true AS repetition_ranks_lower
         FROM documents WHERE length(text) >= 200""",
    // Cavnar–Trenkle replayed WHOLESALE: the oracle rebuilds the
    // language profiles from the same embedded training text
    // (interpolated below from LangProfile.TrainingText so the two
    // engines can never drift), re-ranks every document's 1–3-grams,
    // and recomputes the out-of-place argmin — no data-dependent pin,
    // no trusted engine assertion; prediction AND distance must match
    // integer-for-integer.
    "text_lang_id" -> {
      val trainValues = graft.functions.LangProfile.TrainingText
        .map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
      s"""WITH train(lang, ttext) AS (VALUES $trainValues),
         corpus AS (
           SELECT CAST(doc_id AS BIGINT) AS did,
                  CAST(NULL AS VARCHAR) AS lang, text FROM documents
           UNION ALL
           SELECT CAST(NULL AS BIGINT), lang, ttext FROM train),
         norm AS (SELECT did, lang,
                  ' ' || trim(lower(regexp_replace(text, '[^a-zA-Z]+',
                                                   ' ', 'g'))) || ' ' AS t
                  FROM corpus),
         pos AS (SELECT did, lang, t,
                        unnest(generate_series(1, length(t))) AS i
                 FROM norm),
         g0 AS (
           SELECT did, lang, substring(t, i, 1) AS g FROM pos
           UNION ALL SELECT did, lang, substring(t, i, 2) FROM pos
             WHERE i + 1 <= length(t)
           UNION ALL SELECT did, lang, substring(t, i, 3) FROM pos
             WHERE i + 2 <= length(t)),
         grams AS (SELECT did, lang, g, count(*) AS c FROM g0
                   WHERE regexp_matches(g, '[a-z]')
                   GROUP BY did, lang, g),
         ranked AS (SELECT did, lang, g,
                      row_number() OVER (PARTITION BY did, lang
                                         ORDER BY c DESC, g ASC) AS r
                    FROM grams QUALIFY r <= 80),
         docp AS (SELECT did, g, r FROM ranked WHERE did IS NOT NULL),
         langp AS (SELECT lang, g, r FROM ranked WHERE lang IS NOT NULL),
         dist AS (
           SELECT d.did, l.lang,
                  sum(CASE WHEN lp.r IS NULL THEN 80
                           ELSE abs(d.r - lp.r) END) AS dist
           FROM docp d
           CROSS JOIN (SELECT DISTINCT lang FROM langp) l
           LEFT JOIN langp lp ON lp.lang = l.lang AND lp.g = d.g
           GROUP BY d.did, l.lang),
         best AS (SELECT did, lang, dist,
                    row_number() OVER (PARTITION BY did
                                       ORDER BY dist ASC, lang ASC) AS rn
                  FROM dist)
         SELECT d.doc_id AS doc_id,
                -- A doc with no letter grams has distance 0 to every
                -- profile; the engine's strict-< argmin then keeps the
                -- first (alphabetically least) language. LEFT JOIN +
                -- COALESCE keeps one row per document either way,
                -- matching the engine's one-row-per-doc contract.
                COALESCE(b.lang,
                  (SELECT min(lang) FROM langp)) AS lang_pred,
                CAST(COALESCE(b.dist, 0) AS BIGINT) AS ct_dist,
                CAST(len(list_filter(string_split(d.text, ' '),
                    w -> w IN ('the','a','of','and','is'))) AS DOUBLE)
                  / len(string_split(d.text, ' ')) AS en_ratio
         FROM documents d
         LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
           ON b.did = d.doc_id
         ORDER BY doc_id"""
    },
    "doc_fingerprint" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         m AS (SELECT doc_id, min(md5(shingle)) AS fp_min_shingle
               FROM sh GROUP BY doc_id)
         SELECT d.doc_id,
                md5(lower(regexp_replace(d.text, '\s+', ' ', 'g'))) AS fp_doc,
                m.fp_min_shingle
         FROM documents d JOIN m USING (doc_id)
         ORDER BY doc_id""",
    "stream_windowed_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
           AS window_start,
         event_type, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
         FROM events GROUP BY 1, 2
         ORDER BY window_start, event_type""",
    "stream_stateful" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases
         FROM events GROUP BY user_id ORDER BY user_id""",
    // transformWithState (arbitrary-state V2): same per-user totals as
    // stream_stateful — two custom-state APIs, one batch replay.
    "stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases
         FROM events GROUP BY user_id ORDER BY user_id""",
    // Event-time timers (V2 state API): a user's session closes BY
    // TIMER iff its armed expiry (last event + 1h, in floor-ms) is <=
    // the final watermark (global max event time − 30min, floor-ms) —
    // Spark's `<=` fire rule and ms arithmetic replayed exactly.
    "stream_state_timers" ->
      """WITH g AS (SELECT epoch_ms(max(ts)) AS gmax FROM events)
         SELECT user_id, count(*) AS n_events,
                (epoch_ms(max(ts)) + 3600000 <= g.gmax - 1800000)
                  AS expired_by_timer
         FROM events, g GROUP BY user_id, g.gmax ORDER BY user_id""",
    // State TTL (V2 state API): two micro-batches by event_id parity;
    // the 1 ms-TTL slot lapses on every call (= batches the user
    // appears in), the durable control slot exactly once.
    "stream_state_ttl" ->
      """SELECT user_id, count(*) AS n_events,
         CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_calls,
         CAST(count(DISTINCT event_id % 2) AS BIGINT) AS ttl_lapses,
         CAST(1 AS BIGINT) AS durable_lapses
         FROM events GROUP BY user_id ORDER BY user_id""",
    // RocksDB-state windowed aggregate: results are provider-independent
    // (same batch replay as stream_windowed_agg, collapsed to totals);
    // the rocksdb_state_used boolean is the engine-asserted physical
    // witness that the checkpoint carries the RocksDB layout.
    "stream_state_rocksdb" ->
      """WITH w AS (SELECT date_trunc('hour', ts) AS ws, event_type,
                           count(*) AS n
                    FROM events GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_windows,
                CAST(sum(n) AS BIGINT) AS n_events,
                true AS rocksdb_state_used
         FROM w""",
    // Real-codec decode→feature dispatch: image/audio/video rows carry
    // REAL PNG/WAV/GIF payloads whose pixel/sample/frame laws the
    // oracle replays in closed form; the audio_mp3 rows are the ONE
    // labeled stub leg (no JDK codec) — byte count replayable,
    // feature_sum pinned to the −1 stub sentinel.
    "multimodal_features" ->
      """WITH ids AS (SELECT doc_id, n_chars FROM documents
                      WHERE doc_id < 48),
         img AS (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
                        8 + doc_id % 7 AS h, doc_id % 128 AS base
                 FROM ids WHERE doc_id % 3 = 0),
         imf AS (SELECT media_id, CAST(w * h AS BIGINT) AS n_units,
                        CAST((3*h*w*(w-1))//2 + (5*w*h*(h-1))//2
                             + w*h*base AS BIGINT) AS fsum
                 FROM img),
         aud AS (SELECT doc_id AS media_id, 4000 + doc_id % 997 AS n,
                        doc_id % 1999 AS base
                 FROM ids WHERE doc_id % 3 = 1),
         asm AS (SELECT media_id, n, base, unnest(range(0, n)) AS i
                 FROM aud),
         auf AS (SELECT media_id, CAST(max(n) AS BIGINT) AS n_units,
                        CAST(sum(abs((base + 7*i) % 2003 - 1001))
                             AS BIGINT) AS fsum
                 FROM asm GROUP BY media_id),
         vid AS (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
                        8 + doc_id % 7 AS h, doc_id % 128 AS base,
                        3 + doc_id % 4 AS nf
                 FROM ids WHERE doc_id % 3 = 2),
         vfr AS (SELECT *, unnest(range(0, nf)) AS f FROM vid),
         vx AS (SELECT *, unnest(range(0, w)) AS x FROM vfr),
         vxy AS (SELECT *, unnest(range(0, h)) AS y FROM vx),
         vf AS (SELECT media_id, CAST(max(nf) AS BIGINT) AS n_units,
                       CAST(sum((base + 11*f + 3*x + 5*y) % 256)
                            AS BIGINT) AS fsum
                FROM vxy GROUP BY media_id),
         stub AS (SELECT doc_id + 2000 AS media_id,
                         CAST(n_chars AS BIGINT) AS n_units,
                         CAST(-1 AS BIGINT) AS fsum
                  FROM ids WHERE doc_id < 12)
         SELECT media_id, media_type, n_units, fsum AS feature_sum
         FROM (SELECT media_id, 'image' AS media_type, n_units, fsum
                 FROM imf
               UNION ALL SELECT media_id, 'audio', n_units, fsum FROM auf
               UNION ALL SELECT media_id, 'video', n_units, fsum FROM vf
               UNION ALL SELECT media_id, 'audio_mp3', n_units, fsum
                 FROM stub)
         ORDER BY media_id""",
    "multimodal_metadata" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                     WHEN doc_id % 3 = 1 THEN 'audio'
                     ELSE 'video' END AS media_type,
         source, count(*) AS n_items,
         CAST(sum(length(text)) AS BIGINT) AS sum_bytes
         FROM documents WHERE n_chars = length(text)
         GROUP BY 1, 2 ORDER BY media_type, source""",
    // frame/resize stubs use pure integer arithmetic over the payload
    // length (ASCII text ⇒ n_chars = byte length), so the oracle
    // recomputes the exact chunk/stride math per row
    "multimodal_frame_sample" ->
      """WITH v AS (SELECT doc_id AS media_id, n_chars,
                CAST((n_chars + 255)//256 AS BIGINT) AS nc
              FROM documents WHERE doc_id % 3 = 2 AND n_chars > 0)
         SELECT media_id,
                CAST((nc + 3)//4 AS BIGINT) AS n_frames,
                CAST(CASE WHEN (nc - 1) % 4 = 0
                     THEN ((nc + 3)//4 - 1) * 256 + (n_chars - (nc - 1) * 256)
                     ELSE ((nc + 3)//4) * 256 END AS BIGINT) AS sampled_bytes
         FROM v ORDER BY media_id""",
    // Real-codec downscale dispatch: resized pixel law base + 6x + 10y
    // over ⌈w/2⌉ × ⌈h/2⌉ (PNG both ways), decimated waveform law at
    // even indices (WAV both ways), even frames of the GIF law; the
    // audio_mp3 stub leg keeps the stride-sampling size contract with
    // the −1 content sentinel.
    "multimodal_resize" ->
      """WITH ids AS (SELECT doc_id, n_chars FROM documents
                      WHERE doc_id < 48),
         img AS (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
                        8 + doc_id % 7 AS h, doc_id % 128 AS base,
                        (8 + doc_id % 9 + 1)//2 AS rw,
                        (8 + doc_id % 7 + 1)//2 AS rh
                 FROM ids WHERE doc_id % 3 = 0),
         imf AS (SELECT media_id, CAST(w * h AS BIGINT) AS o_units,
                        CAST(rw * rh AS BIGINT) AS r_units,
                        CAST(3*rh*rw*(rw-1) + 5*rw*rh*(rh-1)
                             + rw*rh*base AS BIGINT) AS rsum
                 FROM img),
         aud AS (SELECT doc_id AS media_id, 4000 + doc_id % 997 AS n,
                        doc_id % 1999 AS base
                 FROM ids WHERE doc_id % 3 = 1),
         asm AS (SELECT media_id, n, base,
                        unnest(range(0, (n + 1)//2)) AS j
                 FROM aud),
         auf AS (SELECT media_id, CAST(max(n) AS BIGINT) AS o_units,
                        CAST(max((n + 1)//2) AS BIGINT) AS r_units,
                        CAST(sum(abs((base + 14*j) % 2003 - 1001))
                             AS BIGINT) AS rsum
                 FROM asm GROUP BY media_id),
         vid AS (SELECT doc_id AS media_id, 8 + doc_id % 9 AS w,
                        8 + doc_id % 7 AS h, doc_id % 128 AS base,
                        3 + doc_id % 4 AS nf
                 FROM ids WHERE doc_id % 3 = 2),
         vfr AS (SELECT *, unnest(range(0, nf)) AS f FROM vid
                 ),
         vx AS (SELECT *, unnest(range(0, w)) AS x FROM vfr
                WHERE f % 2 = 0),
         vxy AS (SELECT *, unnest(range(0, h)) AS y FROM vx),
         vf AS (SELECT media_id, CAST(max(nf) AS BIGINT) AS o_units,
                       CAST(max((nf + 1)//2) AS BIGINT) AS r_units,
                       CAST(sum((base + 11*f + 3*x + 5*y) % 256)
                            AS BIGINT) AS rsum
                FROM vxy GROUP BY media_id),
         stub AS (SELECT doc_id + 2000 AS media_id,
                         CAST(n_chars AS BIGINT) AS o_units,
                         CAST((n_chars + greatest(1, (n_chars + 1023)//1024)
                               - 1) // greatest(1, (n_chars + 1023)//1024)
                              AS BIGINT) AS r_units,
                         CAST(-1 AS BIGINT) AS rsum
                  FROM ids WHERE doc_id < 12)
         SELECT media_id, media_type, o_units AS orig_units,
                r_units AS resized_units, rsum AS resized_sum
         FROM (SELECT media_id, 'image' AS media_type, o_units, r_units,
                      rsum FROM imf
               UNION ALL SELECT media_id, 'audio', o_units, r_units,
                      rsum FROM auf
               UNION ALL SELECT media_id, 'video', o_units, r_units,
                      rsum FROM vf
               UNION ALL SELECT media_id, 'audio_mp3', o_units, r_units,
                      rsum FROM stub)
         ORDER BY media_id""",
    // Real javax.imageio round trip: the engine encodes gradient PNGs
    // (gray(x,y) = base + 3x + 5y, base = doc_id % 128 — never
    // wraps), decodes them, stride-2 nearest-neighbor downscales,
    // re-encodes and decodes again; the oracle replays every decoded
    // width/height/pixel-sum with closed-form integer arithmetic
    // (resized pixel (x,y) = base + 6x + 10y over ⌈w/2⌉ × ⌈h/2⌉).
    "multimodal_image_decode" ->
      """WITH v AS (SELECT doc_id AS media_id,
                8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                doc_id % 128 AS base
              FROM documents WHERE doc_id < 48),
         r AS (SELECT media_id, w, h, base,
                      (w + 1)//2 AS rw, (h + 1)//2 AS rh
               FROM v)
         SELECT media_id,
                CAST(w AS INT) AS width, CAST(h AS INT) AS height,
                CAST((3*h*w*(w-1))//2 + (5*w*h*(h-1))//2 + w*h*base
                     AS BIGINT) AS pixel_sum,
                CAST(rw AS INT) AS r_width, CAST(rh AS INT) AS r_height,
                CAST(3*rh*rw*(rw-1) + 5*rw*rh*(rh-1) + rw*rh*base
                     AS BIGINT) AS r_pixel_sum
         FROM r ORDER BY media_id""",
    // The LOSSY codec leg: JPEG decode can't pin pixel sums, so the
    // oracle checks decoded dims against the generator's closed form
    // (true only if a real decode ran), the SOI container marker, and
    // the engine-computed gradient-error bound (measured max 2 at
    // quality 0.85; bound 16 — a non-decoding implementation is >= 100
    // off).
    "multimodal_jpeg_roundtrip" ->
      """SELECT doc_id AS media_id,
                CAST(8 + doc_id % 9 AS INT) AS width,
                CAST(8 + doc_id % 7 AS INT) AS height,
                true AS is_jpeg,
                true AS err_le_bound
         FROM documents WHERE doc_id < 48 ORDER BY media_id""",
    // Real WAV codec roundtrip: every statistic is a closed-form
    // integer function of media_id (waveform law replayed over a
    // generated series), reachable by the engine only through the
    // actual RIFF encode -> decode.
    "multimodal_audio_decode" -> {
      val s = "(base + 7 * i) % 2003 - 1001"
      s"""WITH ids AS (SELECT doc_id AS media_id,
                     4000 + doc_id % 997 AS n,
                     doc_id % 1999 AS base
              FROM documents WHERE doc_id < 48),
         sm AS (SELECT media_id, n, base, unnest(range(0, n)) AS i
                FROM ids)
         SELECT media_id,
                CAST(8000 AS INT) AS sample_rate,
                CAST(max(n) AS INT) AS n_samples,
                CAST(max(n) // 8 AS INT) AS duration_ms,
                CAST(sum($s) AS BIGINT) AS sum_samples,
                CAST(sum(abs($s)) AS BIGINT) AS sum_abs
         FROM sm GROUP BY media_id ORDER BY media_id"""
    },
    // Decimation-by-2 resample: the law at even indices, n' = ceil(n/2)
    // samples at 4 kHz — codec run twice each way to match.
    "multimodal_audio_resample" -> {
      val s = "(base + 14 * j) % 2003 - 1001"
      s"""WITH ids AS (SELECT doc_id AS media_id,
                     4000 + doc_id % 997 AS n,
                     doc_id % 1999 AS base
              FROM documents WHERE doc_id < 48),
         sm AS (SELECT media_id, n, base,
                       unnest(range(0, (n + 1) // 2)) AS j
                FROM ids)
         SELECT media_id,
                CAST(4000 AS INT) AS sample_rate,
                CAST(max((n + 1) // 2) AS INT) AS n_samples,
                CAST(sum($s) AS BIGINT) AS sum_samples,
                CAST(sum(abs($s)) AS BIGINT) AS sum_abs
         FROM sm GROUP BY media_id ORDER BY media_id"""
    },
    // Quarantine: every 7th payload is corrupted (header stripped);
    // good rows decode to their closed forms, bad rows carry the
    // codec's typed reason, and the row count is conserved.
    "multimodal_decode_quarantine" -> {
      val s = "(base + 7 * i) % 2003 - 1001"
      s"""WITH ids AS (SELECT doc_id AS media_id,
                     4000 + doc_id % 997 AS n,
                     doc_id % 1999 AS base
              FROM documents WHERE doc_id < 48),
         sm AS (SELECT media_id, n, base, unnest(range(0, n)) AS i
                FROM ids),
         good AS (SELECT media_id, CAST(max(n) AS INT) AS n_samples,
                         CAST(sum($s) AS BIGINT) AS sum_samples
                  FROM sm GROUP BY media_id)
         SELECT i.media_id,
                i.media_id % 7 <> 3 AS decoded,
                CASE WHEN i.media_id % 7 = 3 THEN -1
                     ELSE g.n_samples END AS n_samples,
                CASE WHEN i.media_id % 7 = 3 THEN CAST(-1 AS BIGINT)
                     ELSE g.sum_samples END AS sum_samples,
                CASE WHEN i.media_id % 7 = 3
                     THEN 'UnsupportedAudioFileException'
                     ELSE '' END AS reason
         FROM ids i JOIN good g ON i.media_id = g.media_id
         ORDER BY i.media_id"""
    },
    // Audio near-dup: every 63-bit energy fingerprint recomputed from
    // the modulated waveform law over a generated series; banded join
    // + exact Hamming verify replayed pairwise.
    "dedup_audio_fingerprint" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         img AS (SELECT CASE WHEN vvar = 1 THEN doc_id + 1000
                             ELSE doc_id END AS media_id,
                        vvar, 4000 + doc_id % 997 AS n,
                        doc_id % 1999 AS base
                 FROM ids, (SELECT unnest([0, 1]) AS vvar)),
         sm AS (SELECT media_id, vvar, n, base, unnest(range(0, n)) AS i
                FROM img),
         wn AS (SELECT media_id, (i * 63) // n AS w,
                       abs(((base + 7 * i) % 2003 - 1001)
                           * (1 + ((((i * 63) // n) + base)
                                   * (1 + base % 7)) % 5)
                           + CASE WHEN vvar = 1 AND i % 13 = 0
                                  THEN 1 ELSE 0 END) AS av
                FROM sm),
         ws AS (SELECT media_id, w, CAST(sum(av) AS BIGINT) AS e
                FROM wn GROUP BY media_id, w),
         m AS (SELECT media_id, sum(e) // 63 AS mean
               FROM ws GROUP BY media_id),
         hs AS (SELECT ws.media_id,
                       CAST(sum(CASE WHEN e > mean
                                THEN (CAST(1 AS BIGINT) << w)
                                ELSE 0 END) AS BIGINT) AS ph
                FROM ws JOIN m ON ws.media_id = m.media_id
                GROUP BY ws.media_id)
         SELECT x.media_id AS id_a, y.media_id AS id_b,
                CAST(bit_count(xor(x.ph, y.ph)) AS INT) AS hamming
         FROM hs x JOIN hs y ON x.media_id < y.media_id
         WHERE bit_count(xor(x.ph, y.ph)) <= 3
         ORDER BY id_a, id_b""",
    // The media-curation funnel replayed WHOLESALE from the waveform
    // law: corrupt rows quarantined by media_id, fingerprints
    // recomputed per surviving clip (noise included for twins), exact-
    // fingerprint collapse counted.
    "pipeline_media_release" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         img AS (SELECT CASE WHEN vvar = 1 THEN doc_id + 1000
                             ELSE doc_id END AS media_id,
                        vvar, 4000 + doc_id % 997 AS n,
                        doc_id % 1999 AS base
                 FROM ids, (SELECT unnest([0, 1]) AS vvar)),
         sm AS (SELECT media_id, vvar, n, base, unnest(range(0, n)) AS i
                FROM img),
         wn AS (SELECT media_id, (i * 63) // n AS w,
                       abs(((base + 7 * i) % 2003 - 1001)
                           * (1 + ((((i * 63) // n) + base)
                                   * (1 + base % 7)) % 5)
                           + CASE WHEN vvar = 1 AND i % 13 = 0
                                  THEN 1 ELSE 0 END) AS av
                FROM sm),
         ws AS (SELECT media_id, w, CAST(sum(av) AS BIGINT) AS e
                FROM wn GROUP BY media_id, w),
         m AS (SELECT media_id, sum(e) // 63 AS mean
               FROM ws GROUP BY media_id),
         hs AS (SELECT ws.media_id,
                       CAST(sum(CASE WHEN e > mean
                                THEN (CAST(1 AS BIGINT) << w)
                                ELSE 0 END) AS BIGINT) AS ph
                FROM ws JOIN m ON ws.media_id = m.media_id
                GROUP BY ws.media_id),
         dec AS (SELECT media_id, ph FROM hs WHERE media_id % 7 <> 3),
         g AS (SELECT ph, count(*) AS nc FROM dec GROUP BY ph)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM hs) AS n_input,
                (SELECT CAST(count(*) AS BIGINT) FROM hs
                 WHERE media_id % 7 = 3) AS n_quarantined,
                (SELECT CAST(count(*) AS BIGINT) FROM dec) AS n_decoded,
                (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_kept,
                (SELECT CAST(sum(nc) AS BIGINT) FROM g)
                  AS n_collapsed_from,
                (SELECT CAST(count(*) AS BIGINT) FROM g WHERE nc > 1)
                  AS n_dup_groups""",
    // Perceptual-hash image near-dup: the oracle recomputes every
    // 63-bit aHash FROM THE PIXEL LAW (grid sample, integer mean
    // threshold, sum of powers) and replays the pairwise Hamming <= 3
    // set; the engine only matches by decoding the real PNGs.
    "dedup_image_phash" ->
      """WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 48),
         img AS (SELECT CASE WHEN v = 1 THEN doc_id + 1000
                             ELSE doc_id END AS media_id,
                        v, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                        3 + doc_id % 29 AS a, 5 + doc_id % 23 AS b,
                        1 + doc_id % 19 AS c, doc_id % 128 AS d
                 FROM ids, (SELECT unnest([0, 1]) AS v)),
         pts AS (SELECT *, unnest(range(0, 7)) AS j FROM img),
         pts2 AS (SELECT *, unnest(range(0, 9)) AS k FROM pts),
         px AS (SELECT media_id, j * 9 + k AS idx,
                       (d + a * ((k * w) // 9) + b * ((j * h) // 7)
                        + c * ((k * w) // 9) * ((j * h) // 7)) % 251
                       + CASE WHEN v = 1
                              AND (((k * w) // 9) + 5 * ((j * h) // 7))
                                  % 11 = 0
                              THEN 2 ELSE 0 END AS val
                FROM pts2),
         m AS (SELECT media_id, sum(val) // 63 AS mean
               FROM px GROUP BY media_id),
         hs AS (SELECT px.media_id,
                       CAST(sum(CASE WHEN val > mean
                                THEN (CAST(1 AS BIGINT) << idx)
                                ELSE 0 END) AS BIGINT) AS ph
                FROM px JOIN m ON px.media_id = m.media_id
                GROUP BY px.media_id)
         SELECT x.media_id AS id_a, y.media_id AS id_b,
                CAST(bit_count(xor(x.ph, y.ph)) AS INT) AS hamming
         FROM hs x JOIN hs y ON x.media_id < y.media_id
         WHERE bit_count(xor(x.ph, y.ph)) <= 3
         ORDER BY id_a, id_b""",
    // Keyframe sampling over a real multi-frame container (animated
    // GIF): every kept frame's pixel sum is the indexed-gray law
    // replayed over an x x y grid — only a genuine container decode
    // matches.
    "multimodal_video_frames" ->
      """WITH ids AS (SELECT doc_id AS media_id,
                    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
                    doc_id % 128 AS base, 3 + doc_id % 4 AS nf
             FROM documents WHERE doc_id < 48),
         fr AS (SELECT media_id, w, h, base, unnest(range(0, nf)) AS f
                FROM ids),
         px AS (SELECT media_id, f, w, h, base, unnest(range(0, w)) AS x
                FROM fr WHERE f % 2 = 0),
         pxy AS (SELECT media_id, f, w, h, base, x,
                        unnest(range(0, h)) AS y FROM px)
         SELECT media_id, CAST(f AS INT) AS frame,
                CAST(max(w) AS INT) AS width,
                CAST(max(h) AS INT) AS height,
                CAST(sum((base + 11 * f + 3 * x + 5 * y) % 256) AS BIGINT)
                  AS pixel_sum
         FROM pxy GROUP BY media_id, f ORDER BY media_id, frame""",
    "similarity_cosine_expr" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM v a, v b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(a.e, b.e) >= 0.46
         ORDER BY id_a, id_b""",
    // Windowed formulation rather than DuckDB's native ASOF JOIN:
    // ASOF leaves right-side TIES unspecified, the engine pins them
    // (backward = MAX purchase id at the matched ts) — the oracle
    // must pin the identical tie-break to stay data-robust. LINEAR
    // shape (r19): the former inequality-join + row_number form
    // materialized a per-user candidate relation QUADRATIC in tie
    // multiplicity — at the 100x pin-stress composite (100-way
    // identical-timestamp ties) DuckDB spilled >79 GB and died while
    // the engine's one-shuffle as-of ran fine. This is the engine's
    // own shape: union purchases (kind 0, before same-ts errors —
    // the match is inclusive) and errors (kind 1), one per-user sort
    // by (ts, kind, id), carry the last purchase id forward; at
    // equal ts the MAX purchase id sorts last, so carry-forward pins
    // the identical tie-break.
    "asof_join" ->
      """WITH err AS (SELECT event_id, user_id,
                             CAST(ts AS TIMESTAMP) AS ts
                      FROM events WHERE event_type = 'error'),
              pur AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                             event_id
                      FROM events WHERE event_type = 'purchase'),
              u AS (SELECT user_id, ts, 0 AS kind,
                           event_id AS pid, NULL::BIGINT AS eid
                    FROM pur
                    UNION ALL
                    SELECT user_id, ts, 1 AS kind,
                           NULL::BIGINT AS pid, event_id AS eid
                    FROM err),
              w AS (SELECT eid, last_value(pid IGNORE NULLS) OVER (
                             PARTITION BY user_id
                             ORDER BY ts, kind, coalesce(pid, eid)
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS purchase_event_id
                    FROM u)
         SELECT a.event_id, a.user_id, w.purchase_event_id
         FROM err a JOIN w ON w.eid = a.event_id
         ORDER BY a.event_id""",
    // Mirror of asof_join: forward pins MIN id at the matched ts —
    // sort ts DESC with ids DESC so the smallest eligible purchase
    // id is the one carried forward.
    "asof_join_forward" ->
      """WITH err AS (SELECT event_id, user_id,
                             CAST(ts AS TIMESTAMP) AS ts
                      FROM events WHERE event_type = 'error'),
              pur AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                             event_id
                      FROM events WHERE event_type = 'purchase'),
              u AS (SELECT user_id, ts, 0 AS kind,
                           event_id AS pid, NULL::BIGINT AS eid
                    FROM pur
                    UNION ALL
                    SELECT user_id, ts, 1 AS kind,
                           NULL::BIGINT AS pid, event_id AS eid
                    FROM err),
              w AS (SELECT eid, last_value(pid IGNORE NULLS) OVER (
                             PARTITION BY user_id
                             ORDER BY ts DESC, kind,
                               coalesce(pid, eid) DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
                           AS next_purchase_event_id
                    FROM u)
         SELECT a.event_id, a.user_id, w.next_purchase_event_id
         FROM err a JOIN w ON w.eid = a.event_id
         ORDER BY a.event_id""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderstatus = 'O')
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",
    "set_ops" ->
      """SELECT nationkey, 'both' AS op FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            INTERSECT
            SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nationkey, 'customer_only' AS op FROM
           (SELECT DISTINCT c_nationkey AS nationkey FROM customer
            EXCEPT
            SELECT DISTINCT s_nationkey FROM supplier)
         ORDER BY op, nationkey""",
    "rollup_agg" ->
      """SELECT coalesce(r_name, '<all>') AS r_name,
                coalesce(n_name, '<all>') AS n_name,
                count(*) AS n_customers
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)
         ORDER BY r_name, n_name""",
    "topk_orderby_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "distinct_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
         ORDER BY l_returnflag, l_linestatus""",
    "approx_distinct" ->
      """SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
                true AS approx_within_5pct
         FROM lineitem""",
    // Count-Min point frequencies: exact counts oracle-computed per
    // probe key; the CM no-undercount / eps-N / exact-merge guarantees
    // are engine-asserted deterministic booleans (fixed seed).
    "sketch_count_min" ->
      """WITH p AS (SELECT CAST(unnest([1, 2, 3, 5, 8, 13, 21, 34])
                      AS BIGINT) AS l_partkey)
         SELECT p.l_partkey,
                (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
                 WHERE l.l_partkey = p.l_partkey) AS exact_cnt,
                true AS no_undercount,
                true AS within_eps_n,
                true AS merge_exact
         FROM p ORDER BY l_partkey""",
    "json_flatten" ->
      """SELECT event_id, event_type, CAST(props->>'k' AS INT) AS prop_k
         FROM events ORDER BY event_id""",
    // the stream carries every event TWICE (simulated at-least-once
    // redelivery); watermark-bounded dedup must restore the single copy
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "skew_salted_join" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS BIGINT) AS sum_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
                CAST(epoch_ns(ts)//1000 AS BIGINT) AS ts_us
              FROM events),
         m AS (SELECT user_id, event_id, ts_us,
                CASE WHEN ts_us - lag(ts_us) OVER w > 30*60*1000000
                       OR lag(ts_us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id
                                  ORDER BY ts_us ASC, event_id ASC)),
         s AS (SELECT user_id, ts_us,
                CAST(sum(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts_us ASC, event_id ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
              FROM m)
         SELECT user_id, session_idx, count(*) AS n_events,
                min(ts_us) AS start_us, max(ts_us) AS end_us
         FROM s GROUP BY user_id, session_idx
         ORDER BY user_id, session_idx""",
    "upsert_latest_by_key" ->
      """WITH r AS (SELECT user_id, event_id, event_type,
                CAST(epoch_ns(ts)//1000 AS BIGINT) AS ts_us,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC) AS rn
              FROM events)
         SELECT user_id, event_id AS last_event_id,
                event_type AS last_event_type, ts_us
         FROM r WHERE rn = 1 ORDER BY user_id""",
    "pipeline_cs2_sensors" ->
      """WITH silver AS (
           SELECT event_type, CAST(hour(ts) AS INT) AS h,
                  (value - 32.0) * 5.0 / 9.0 AS celsius,
                  CASE WHEN (value - 32.0) * 5.0 / 9.0 < -20.0
                         OR (value - 32.0) * 5.0 / 9.0 > 50.0
                       THEN 1 ELSE 0 END AS is_anomaly
           FROM events)
         SELECT event_type, h, count(*) AS n_events,
                min(celsius) AS min_c, max(celsius) AS max_c,
                round(avg(celsius), 2) AS avg_c,
                CAST(sum(is_anomaly) AS BIGINT) AS n_anomalies
         FROM silver GROUP BY event_type, h
         HAVING sum(is_anomaly) > 3
         ORDER BY event_type, h""",
    "dedup_cluster_collapse" ->
      """WITH RECURSIVE
         w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM pr
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
                WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
                   UNION SELECT doc_b, doc_a FROM jp),
         reach(u, v) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
         FROM (SELECT u, min(v) AS canonical_id FROM reach GROUP BY u)
         GROUP BY canonical_id ORDER BY canonical_id""",
    "split_train_holdout" ->
      """SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       < 'e6' THEN 'train' ELSE 'holdout' END AS split,
                count(*) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                  AS sum_tokens
         FROM documents GROUP BY 1 ORDER BY split""",
    // A-ES weighted sampling replayed WHOLESALE: the uniform is an
    // exact dyadic sum of md5 hex digits (bit-identical across
    // engines), and the ln-based key is quantized to integer
    // micro-units so a last-ulp libm difference cannot reorder the
    // top-k; ties resolve by doc_id.
    "sample_weighted" -> {
      val u = (1 to 8).map { j =>
        s"(instr('0123456789abcdef', substring(h, $j, 1)) - 1)" +
          s" / ${math.pow(16.0, j).toLong}.0"
      }.mkString(" + ") + " + 0.5 / 4294967296.0"
      s"""WITH d AS (SELECT doc_id, n_chars,
                 md5(CAST(doc_id AS VARCHAR)) AS h FROM documents)
         SELECT doc_id, n_chars AS weight,
                CAST(floor(ln($u) / n_chars * 1e6) AS BIGINT) AS key_q
         FROM d ORDER BY key_q DESC, doc_id ASC LIMIT 64"""
    },
    "pipeline_corpus_curation" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 100000000000, text FROM documents),
         q AS (SELECT doc_id, text,
                 len(string_split(text, ' ')) AS n_tok,
                 CAST(len(list_filter(string_split(text, ' '),
                     w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
               FROM u),
         f AS (SELECT doc_id, text, n_tok FROM q
               WHERE n_tok >= 15 AND stop_ratio >= 0.02),
         d AS (SELECT min(doc_id) AS doc_id, min(n_tok) AS n_tok
               FROM f GROUP BY text)
         SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       < 'e6' THEN 'train' ELSE 'holdout' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         FROM d GROUP BY 1 ORDER BY split""",
    "column_quantiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem)
         SELECT l_returnflag,
           min(CASE WHEN rn = ceil(0.25 * n) THEN l_extendedprice END) AS p25,
           min(CASE WHEN rn = ceil(0.5 * n) THEN l_extendedprice END) AS p50,
           min(CASE WHEN rn = ceil(0.75 * n) THEN l_extendedprice END) AS p75,
           min(CASE WHEN rn = ceil(0.95 * n) THEN l_extendedprice END) AS p95
         FROM r GROUP BY l_returnflag ORDER BY l_returnflag""",
    // Heavy hitters: the MG sketch only proposes candidates; the final
    // output is the exact count of every token STRICTLY above the
    // integer threshold count*k > n (strict because the MG guarantee
    // covers only count > n/k) — a pure function of the data the
    // replay computes with a plain GROUP BY/HAVING. A sketch that
    // dropped a true heavy hitter would show up as a missing row here.
    "sketch_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
                      FROM documents),
         tot AS (SELECT count(*) AS n FROM tok)
         SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
         FROM tok GROUP BY token
         HAVING count(*) * 64 > (SELECT n FROM tot)
         ORDER BY token""",
    "vocab_topk" ->
      """WITH tok AS (SELECT DISTINCT doc_id,
                        unnest(string_split(text, ' ')) AS token
                      FROM documents),
         dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token)
         SELECT CAST(row_number() OVER (ORDER BY df DESC, token ASC) AS INT)
                  AS rank,
                token, df
         FROM dfreq ORDER BY df DESC, token ASC LIMIT 20""",
    "pipeline_cs3_editors" ->
      """WITH silver AS (
           SELECT event_id, user_id, CAST(hour(ts) AS INT) AS h
           FROM events
           WHERE NOT (lower('user' || CAST(user_id AS VARCHAR)) LIKE '%0'))
         SELECT h, user_id, n_edits, rnk FROM (
           SELECT h, user_id, count(*) AS n_edits,
             CAST(row_number() OVER (PARTITION BY h
                  ORDER BY count(*) DESC, user_id ASC) AS INT) AS rnk
           FROM silver GROUP BY h, user_id)
         WHERE rnk <= 5 ORDER BY h, rnk""",
    "text_decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         FROM sh
         WHERE doc_id % 97 <> 0
           AND shingle IN (SELECT shingle FROM bench)
         GROUP BY doc_id ORDER BY doc_id""",
    "text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         bg AS (SELECT doc_id, ws[i] || '|' || ws[i+1] AS bg
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 1),
         cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
         top AS (SELECT doc_id, bg AS top_bigram, c,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY c DESC, bg ASC) AS rn
                 FROM cnt),
         st AS (SELECT doc_id, len(ws) AS n_tok,
                  len(list_distinct(ws)) AS n_dis FROM w)
         SELECT st.doc_id, CAST(st.n_tok AS INT) AS n_tokens,
                CAST(st.n_tok - st.n_dis AS DOUBLE) / st.n_tok
                  AS dup_token_ratio,
                top.top_bigram,
                CAST(top.c AS DOUBLE) / (st.n_tok - 1) AS top_bigram_frac
         FROM st JOIN top ON st.doc_id = top.doc_id AND top.rn = 1
         ORDER BY st.doc_id""",
    "sample_stratified" ->
      """WITH d AS (SELECT lang,
                  len(string_split(text, ' ')) AS n_tokens,
                  substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                    (CASE WHEN lang = 'en' THEN '66' ELSE 'g0' END) AS keep
                FROM documents)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT)
                  AS kept_tokens
         FROM d GROUP BY lang ORDER BY lang""",
    "token_length_histogram" ->
      """WITH d AS (SELECT len(string_split(text, ' ')) AS n
                    FROM documents)
         SELECT CAST(floor(n / 10.0) * 10 AS INT) AS bin_lo,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS sum_tokens
         FROM d GROUP BY 1 ORDER BY bin_lo""",
    // Deterministic by construction: the query runs the code-store
    // lifecycle with a FIXED clock, so the audit-trail listing is a
    // constant function of the scripted calls.
    "code_store" ->
      """SELECT * FROM (VALUES
           ('demo_project', 'gold',
            '2026-01-01_00-00-00__order_counts__confirmed_v1.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__add_a_discounted_price_column__ai_generated.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__discount__confirmed_v1.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__discount__confirmed_v2.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__discount__dry_run.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__discount__manual_edit.sql'),
           ('demo_project', 'silver',
            '2026-01-01_00-00-00__upload_to_silver__pipeline.sql'))
           t(project, layer, file_name)
         ORDER BY project, layer, file_name""",
    "range_join" ->
      """WITH w AS (SELECT i AS w_id,
                  make_timestamp(1704067200000000 + i * 43200000000)
                    AS w_start,
                  make_timestamp(1704067200000000 + i * 43200000000
                    + 28800000000) AS w_end
                FROM (SELECT unnest(generate_series(0, 59)) AS i))
         SELECT w_id, CAST(count(*) AS BIGINT) AS n_events
         FROM w JOIN events e
           ON e.ts >= w.w_start AND e.ts < w.w_end
         GROUP BY w_id ORDER BY w_id""",
    "pivot_table" ->
      """SELECT l_returnflag,
                round(sum(CASE WHEN l_linestatus = 'F'
                               THEN l_quantity ELSE 0 END), 2) AS qty_f,
                round(sum(CASE WHEN l_linestatus = 'O'
                               THEN l_quantity ELSE 0 END), 2) AS qty_o
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "stream_join" ->
      """WITH e AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'error'),
         p AS (SELECT user_id AS pu, ts AS pts FROM events
               WHERE event_type = 'purchase')
         SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_pairs
         FROM e JOIN p
           ON e.user_id = p.pu
          AND p.pts >= e.ts
          AND p.pts <= e.ts + INTERVAL 30 MINUTE
         GROUP BY e.user_id ORDER BY e.user_id""",
    // Distinct-pair attribution: exact duplicate events collapse per
    // side before the interval join (the hot-key guard), so the
    // oracle joins the DISTINCT (user, ts) sets.
    "stream_join_dedup" ->
      """WITH e AS (SELECT DISTINCT user_id, ts FROM events
                    WHERE event_type = 'error'),
         p AS (SELECT DISTINCT user_id AS pu, ts AS pts FROM events
               WHERE event_type = 'purchase')
         SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_pairs
         FROM e JOIN p
           ON e.user_id = p.pu
          AND p.pts >= e.ts
          AND p.pts <= e.ts + INTERVAL 30 MINUTE
         GROUP BY e.user_id ORDER BY e.user_id""",
    "pipeline_pretrain_curation" ->
      """WITH d0 AS (SELECT doc_id, text, lang FROM documents),
         u AS (SELECT * FROM d0
               UNION ALL SELECT doc_id + 100000000000, text, lang FROM d0),
         q AS (SELECT doc_id, text, lang,
                 len(string_split(text, ' ')) AS n_tok,
                 CAST(len(list_filter(string_split(text, ' '),
                     w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS stop_ratio
               FROM u),
         f AS (SELECT doc_id, text, lang, n_tok FROM q
               WHERE n_tok >= 15 AND stop_ratio >= 0.02),
         -- winner = the LOWEST-ID ROW per text: min(lang) per group can
         -- diverge from the kept row's lang once identical texts occur
         -- under different languages (seen at sf0.1), and the mixture
         -- stage is lang-sensitive.
         dd AS (SELECT doc_id, n_tok, lang, text FROM (
                  SELECT doc_id, n_tok, lang, text,
                    row_number() OVER (PARTITION BY text
                      ORDER BY doc_id) AS rn
                  FROM f) WHERE rn = 1),
         bw AS (SELECT string_split(text, ' ') AS ws FROM d0
                WHERE doc_id % 97 = 0),
         bg AS (SELECT DISTINCT ws[i] || '|' || ws[i+1] || '|' || ws[i+2]
                  AS g
                FROM bw, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM dd),
         dg AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS g
                FROM dw, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         cont AS (SELECT DISTINCT doc_id FROM dg
                  WHERE g IN (SELECT g FROM bg)),
         clean AS (SELECT * FROM dd
                   WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         samp AS (SELECT * FROM clean
                  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
                    (CASE WHEN lang = 'en' THEN '66' ELSE 'g0' END))
         SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       < 'e6' THEN 'train' ELSE 'holdout' END AS split,
                count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         FROM samp GROUP BY 1 ORDER BY split""",
    // Exactly-once across restart: final state must equal the batch
    // aggregate over the WHOLE table — double-counted rows on resume or
    // a missed second file both break this equality.
    "stream_resume" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events GROUP BY event_type ORDER BY event_type""",
    "scan_parquet_evolving" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_with_bal,
                round(sum(CASE WHEN c_custkey % 2 = 1 THEN c_acctbal
                              ELSE 0 END), 2) AS sum_bal
         FROM customer""",
    "embedding_centroid" ->
      """SELECT d.lang, CAST(i - 1 AS INT) AS dim,
                CAST(sum(CAST(floor(CAST(e.embedding[i] AS DOUBLE)
                                    * 1000000.0 + 0.5) AS BIGINT))
                     AS DOUBLE) / (count(*) * 1000000.0) AS avg_x,
                CAST(count(*) AS BIGINT) AS n_vecs
         FROM embeddings e
         JOIN documents d ON e.vec_id = d.doc_id,
              (SELECT unnest(generate_series(1, 64)) AS i)
         GROUP BY d.lang, i ORDER BY d.lang, dim""",
    "sketch_bottomk" ->
      """SELECT CAST(row_number() OVER (ORDER BY h) AS INT) AS rank, h
         FROM (SELECT DISTINCT md5(c_name) AS h FROM customer)
         ORDER BY h LIMIT 16""",
    // Final upserted state must equal the batch latest-per-key over the
    // whole feed (ts in explicit micros — engine-neutral encoding).
    "stream_upsert" ->
      """WITH r AS (SELECT user_id, event_id, event_type,
                CAST(epoch_ns(ts)//1000 AS BIGINT) AS ts_micros,
                row_number() OVER (PARTITION BY user_id
                  ORDER BY epoch_ns(ts)//1000 DESC, event_id DESC) AS rn
              FROM events)
         SELECT user_id, event_id AS last_event_id,
                event_type AS last_type, ts_micros
         FROM r WHERE rn = 1 ORDER BY user_id""",
    // Exact integer cents (the r16 sink discipline): per-row
    // round(value*100) is engine-stable on the 2-decimal source, and
    // the BIGINT sum replays exactly at any composite magnitude.
    "time_resample" ->
      """WITH b AS (SELECT date_trunc('hour', min(ts)) AS lo,
                           date_trunc('hour', max(ts)) AS hi FROM events),
         sp AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                  AS h FROM b),
         agg AS (SELECT date_trunc('hour', ts) AS h,
                        CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CAST(round(value * 100) AS BIGINT))
                             AS BIGINT) AS s
                 FROM events GROUP BY 1)
         SELECT strftime(sp.h, '%Y-%m-%d %H:%M:%S') AS hour,
                CAST(coalesce(n, 0) AS BIGINT) AS n_events,
                CAST(coalesce(s, 0) AS BIGINT) AS sum_cents
         FROM sp LEFT JOIN agg ON sp.h = agg.h
         ORDER BY hour""",
    // RANGE-frame rolling window: value-based 90-day bounds replay
    // exactly (both engines frame on the integer day offset), and the
    // rolling sum rides exact integer cents.
    "window_moving_agg" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  datediff('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS d
                FROM orders WHERE o_custkey % 50 = 0)
         SELECT o_orderkey, o_custkey, cents, CAST(d AS INT) AS d,
                CAST(sum(cents) OVER (PARTITION BY o_custkey
                  ORDER BY d RANGE BETWEEN 89 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS mov_sum_cents_90d,
                CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY d
                  RANGE BETWEEN 89 PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS n_in_window
         FROM o ORDER BY o_custkey, d, o_orderkey""",
    // Per-language decile banding with a total-order tie-break, so the
    // ntile assignment is a pure function of the data.
    "window_ntile_deciles" ->
      """WITH t AS (SELECT doc_id, lang, CAST(length(text) AS INT) AS len
                    FROM documents WHERE text IS NOT NULL),
         n AS (SELECT lang, len, CAST(NTILE(10) OVER (PARTITION BY lang
                 ORDER BY len, doc_id) AS INT) AS decile FROM t)
         SELECT lang, decile, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(min(len) AS INT) AS min_len,
                CAST(max(len) AS INT) AS max_len
         FROM n GROUP BY lang, decile ORDER BY lang, decile""",
    "sql_functions" ->
      """SELECT
           (SELECT CAST(count(*) AS BIGINT)
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 50 AND b.vec_id < 50
              AND list_cosine_similarity(
                    CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) >= 0.46) AS n_close,
           CAST(len(list_intersect(['a','b','c'], ['b','c','d'])) AS INT)
             AS isect,
           (SELECT min(md5(c_name)) FROM customer) AS min_hash""",
    // The SQL-expressed curation funnel: every count replays
    // relationally; the compression-ratio floor is the one
    // engine-asserted boolean (zlib byte counts are not cross-engine).
    "pipeline_sql_curation" ->
      """WITH tok AS (SELECT doc_id, text,
                  len(string_split(text, ' ')) AS n_tokens
                FROM documents),
         kept AS (SELECT * FROM tok WHERE n_tokens >= 5),
         exact AS (SELECT md5(text) AS fp, min(doc_id) AS doc_id
                   FROM kept GROUP BY 1),
         v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         dup AS (SELECT DISTINCT b.vec_id
                 FROM v a JOIN v b ON a.vec_id < b.vec_id
                 WHERE list_cosine_similarity(a.e, b.e) >= 0.46),
         final AS (SELECT e.doc_id FROM exact e
                   WHERE NOT EXISTS (SELECT 1 FROM dup d
                                     WHERE d.vec_id = e.doc_id))
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
           (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n_quality,
           (SELECT CAST(count(*) AS BIGINT) FROM exact)
             AS n_exact_unique,
           (SELECT CAST(count(*) AS BIGINT) FROM final) AS n_released,
           true AS ratio_floor_ok,
           (SELECT min(md5(text)) FROM kept) AS corpus_min_fp""",
    "text_pii_redact" ->
      """WITH d AS (SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com or +1-555-'
                       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    AS raw
                FROM documents),
         e AS (SELECT doc_id, raw,
                 regexp_replace(raw,
                   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}',
                   '<EMAIL>', 'g') AS no_email
               FROM d)
         SELECT doc_id,
                regexp_replace(no_email, '\+\d[\d-]{5,}', '<PHONE>', 'g')
                  AS text_redacted,
                CAST(len(regexp_extract_all(raw,
                  '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT)
                  AS n_emails,
                CAST(len(regexp_extract_all(no_email,
                  '\+\d[\d-]{5,}')) AS INT) AS n_phones
         FROM e ORDER BY doc_id""",
    // Sketch internals differ across engines: the oracle checks the
    // exact discrete median plus the engine's own error assertion.
    "approx_quantile" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
                row_number() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice) AS rn,
                count(*) OVER (PARTITION BY l_returnflag) AS n
              FROM lineitem)
         SELECT l_returnflag,
                min(CASE WHEN rn = ceil(0.5 * n) THEN l_extendedprice END)
                  AS exact_p50,
                true AS approx_within_1pct
         FROM r GROUP BY l_returnflag ORDER BY l_returnflag""",
    "grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
                CAST(count(*) AS BIGINT) AS n,
                round(sum(l_quantity), 2) AS sum_qty,
                CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid
         FROM lineitem
         GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    // Session semantics: a window extends to lastEvent + gap EXCLUSIVE,
    // so an event exactly gap after its predecessor starts a NEW
    // session -> the island break condition is >= gap.
    "stream_session_window" ->
      """WITH o AS (SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS brk
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM o)
         SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                user_id, CAST(count(*) AS BIGINT) AS n_events
         FROM s GROUP BY user_id, sid
         ORDER BY user_id, session_start""",
    // Deterministic fixture: 5 data rows, two malformed (unparseable
    // number, wrong arity) — quarantined, not dropped.
    "scan_csv_malformed" ->
      """SELECT CAST(5 AS BIGINT) AS n_rows,
                CAST(3 AS BIGINT) AS n_clean,
                CAST(2 AS BIGINT) AS n_corrupt,
                CAST(90 AS BIGINT) AS clean_qty,
                '2,beta,not_a_number|4,delta' AS corrupt_payloads""",
    // JSON malformed feed: the fixture is a literal, so the oracle
    // pins the permissive/quarantine/dropmalformed counts directly
    // (PERMISSIVE quarantines 2: truncated syntax + type mismatch;
    // DROPMALFORMED drops only the syntax break — the type-mismatch
    // row survives with the field nulled — and the missing-field row
    // is null, not corrupt, in both modes).
    "scan_json_malformed" ->
      """SELECT CAST(5 AS BIGINT) AS n_rows,
                CAST(3 AS BIGINT) AS n_clean,
                CAST(2 AS BIGINT) AS n_corrupt,
                CAST(60 AS BIGINT) AS clean_qty,
                true AS missing_field_is_null_not_corrupt,
                CAST(4 AS BIGINT) AS dropmalformed_count""",
    "scan_xml" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",
    // Variant round-trip: extraction and aggregation replay over the
    // typed columns directly.
    "json_variant" ->
      """SELECT o_orderstatus AS status,
                CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents
         FROM orders WHERE o_totalprice > 100000.0
         GROUP BY status ORDER BY status""",
    "unpivot_melt" ->
      """WITH w AS (SELECT l_orderkey,
                  round(sum(l_quantity), 2) AS sum_qty,
                  round(sum(l_extendedprice), 2) AS sum_price,
                  round(sum(l_discount), 2) AS sum_disc
               FROM lineitem GROUP BY l_orderkey
               HAVING l_orderkey % 100 = 0)
         SELECT l_orderkey, metric, value FROM
           (UNPIVOT w ON sum_qty, sum_price, sum_disc
            INTO NAME metric VALUE value)
         ORDER BY l_orderkey, metric""",
    // Blocked edit-distance entity resolution: blocks, candidates and
    // both distance bands replay exactly (both engines implement plain
    // Levenshtein).
    "dedup_edit_distance" ->
      """WITH p AS (SELECT p_partkey, p_name,
                  string_split(p_name, ' ')[1] AS blk,
                  length(p_name) AS ln
               FROM part),
         sz AS (SELECT p.*, count(*) OVER (PARTITION BY blk) AS bsz
                FROM p),
         keep AS (SELECT * FROM sz WHERE bsz <= 4096),
         pr AS (SELECT levenshtein(a.p_name, b.p_name) AS d
                FROM keep a JOIN keep b ON a.blk = b.blk
                  AND a.p_partkey < b.p_partkey
                  AND abs(a.ln - b.ln) <= 3)
         SELECT (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM p)
                  AS n_blocks,
                CAST(count(*) AS BIGINT) AS n_candidate_pairs,
                CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_exact_name_pairs,
                CAST(sum(CASE WHEN d BETWEEN 1 AND 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_near_name_pairs,
                (SELECT CAST(max(bsz) AS BIGINT) FROM sz)
                  AS max_block_size,
                (SELECT CAST(count(DISTINCT blk) AS BIGINT) FROM sz
                  WHERE bsz > 4096) AS n_blocks_capped,
                (SELECT CAST(count(*) AS BIGINT) FROM sz
                  WHERE bsz > 4096) AS n_rows_excluded
         FROM pr""",
    "chain_failure_status" ->
      """SELECT * FROM (VALUES
           ('ok_filter', 0, 'success', false),
           ('boom_missing_col', 1, 'failed', true),
           ('never_runs', 2, 'skipped', false))
           t(step_name, ord, status, has_error)
         ORDER BY ord""",
    // Exactly-once proof under an INJECTED sink failure: batch 0's
    // replay under its original batchId is engine-observed, the
    // idempotent leg's totals equal the direct aggregate over events,
    // and the naive append leg measurably duplicates the replayed
    // batch. The oracle computes the true totals and pins the
    // mechanism booleans.
    "stream_exactly_once" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                true AS replay_occurred,
                true AS idempotent_exactly_once,
                true AS append_at_least_once
         FROM events""",
    // Cap proof: 3 files with maxFilesPerTrigger=1 -> exactly 3
    // micro-batches; row total proves nothing was dropped between them.
    "stream_batched_cap" ->
      """SELECT CAST(3 AS BIGINT) AS n_batches,
                (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_rows""",
    "dedup_incremental" ->
      """WITH ex AS (SELECT DISTINCT md5(text) AS fp FROM documents
                     WHERE doc_id % 2 = 0),
         inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
                 UNION ALL
                 SELECT doc_id + 100000000000, text FROM documents
                 WHERE doc_id % 2 = 0 AND doc_id < 100)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_incoming,
                (SELECT CAST(count(*) AS BIGINT) FROM inc
                 WHERE md5(text) NOT IN (SELECT fp FROM ex)) AS n_new,
                (SELECT CAST(count(*) AS BIGINT) FROM inc)
                  - (SELECT CAST(count(*) AS BIGINT) FROM inc
                     WHERE md5(text) NOT IN (SELECT fp FROM ex))
                  AS n_already_known""",
    "quality_funnel" ->
      """WITH q AS (SELECT
             len(string_split(text, ' ')) AS n_tok,
             CAST(len(list_filter(string_split(text, ' '),
                 w -> w IN ('the','a','of','and','to','in'))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(len(string_split(text, ' '))
                  - len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS dup_ratio
           FROM documents),
         f AS (SELECT count(*) AS n0,
                 sum(CASE WHEN n_tok >= 20 THEN 1 ELSE 0 END) AS n1,
                 sum(CASE WHEN n_tok >= 20 AND stop_ratio >= 0.02
                          THEN 1 ELSE 0 END) AS n2,
                 sum(CASE WHEN n_tok >= 20 AND stop_ratio >= 0.02
                            AND dup_ratio <= 0.8
                          THEN 1 ELSE 0 END) AS n3
               FROM q)
         SELECT stage,
                CAST(n_removed AS BIGINT) AS n_removed,
                CAST(n_remaining AS BIGINT) AS n_remaining
         FROM (SELECT '1_min_length' AS stage, n0 - n1 AS n_removed,
                      n1 AS n_remaining FROM f
               UNION ALL
               SELECT '2_stopword_ratio', n1 - n2, n2 FROM f
               UNION ALL
               SELECT '3_repetition', n2 - n3, n3 FROM f)
         ORDER BY stage""",
    // The two-level distributed prefix sum must equal the single
    // global running-total window (which IS the oracle's form).
    // Chunk-level release cut replayed WHOLESALE: gate, disjoint
    // 128-token chunking, min-gid dedup per chunk hash, exclusive
    // running sum in gid order, budget sharding — all integer
    // arithmetic, window-function replay.
    "pipeline_chunk_release" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents
                    WHERE text IS NOT NULL AND length(text) >= 200),
         c AS (SELECT doc_id, ws, unnest(range(0, len(ws), 128)) AS start
               FROM d),
         ch AS (SELECT doc_id * 1024 + start // 128 AS gid,
                       len(list_slice(ws, start + 1, start + 128)) AS n_tok,
                       md5(array_to_string(
                         list_slice(ws, start + 1, start + 128), ' ')) AS h
                FROM c),
         k AS (SELECT gid, n_tok,
                      row_number() OVER (PARTITION BY h ORDER BY gid) AS rn
               FROM ch),
         p AS (SELECT gid, n_tok,
                      CAST(COALESCE(sum(n_tok) OVER (ORDER BY gid
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS prior
               FROM k WHERE rn = 1)
         SELECT CAST(prior // 1000 AS BIGINT) AS shard,
                count(*) AS n_chunks,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                min(gid) AS first_gid,
                max(gid) AS last_gid
         FROM p GROUP BY 1 ORDER BY shard""",
    "token_budget_pack" ->
      """WITH t AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                FROM documents),
         c AS (SELECT doc_id, n_tok,
                  COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS prior
               FROM t)
         SELECT CAST(floor(prior / 20000.0) AS BIGINT) AS shard,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                min(doc_id) AS first_doc,
                max(doc_id) AS last_doc
         FROM c GROUP BY shard ORDER BY shard""",
    // The bloom prefilter must be output-invisible: the oracle is the
    // PLAIN exact anti-join, with no bloom anywhere.
    "dedup_bloom_prefilter" ->
      """WITH ex AS (SELECT DISTINCT md5(text) AS fp FROM documents
                     WHERE doc_id % 2 = 0),
         inc AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
                 UNION ALL
                 SELECT doc_id + 100000000000, text FROM documents
                 WHERE doc_id % 2 = 0 AND doc_id < 100),
         nw AS (SELECT doc_id FROM inc
                WHERE md5(text) NOT IN (SELECT fp FROM ex))
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM inc) AS n_incoming,
                (SELECT CAST(count(*) AS BIGINT) FROM nw) AS n_new,
                (SELECT CAST(count(*) AS BIGINT) FROM inc)
                  - (SELECT CAST(count(*) AS BIGINT) FROM nw)
                  AS n_already_known,
                (SELECT min(doc_id) FROM nw) AS min_new_id,
                (SELECT max(doc_id) FROM nw) AS max_new_id""",
    // Keep rate = min_lang_count/lang_count quantized to 1/256, applied
    // through the same md5-prefix predicate as sample_stratified.
    "sample_domain_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY lang),
         b AS (SELECT lang, n_docs,
                  CAST(floor((SELECT min(n_docs) FROM c) * 256
                             / n_docs) AS INT) AS boundary256
               FROM c),
         k AS (SELECT d.lang,
                  substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) <
                    (CASE WHEN b.boundary256 >= 256 THEN 'g0'
                          ELSE printf('%02x', b.boundary256) END) AS keep
               FROM documents d JOIN b ON d.lang = b.lang)
         SELECT b.lang, b.n_docs AS n_total, b.boundary256,
                (SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                             AS BIGINT)
                 FROM k WHERE k.lang = b.lang) AS n_kept
         FROM b ORDER BY lang""",
    // Drop-if-any-earlier-neighbor SemDeDup on precomputed cells: a
    // vector is dropped iff ANY earlier vector (kept or dropped) in
    // the SAME cell sits at cosine>=t — more aggressive than greedy
    // keep-first, and order-free, hence SQL-replayable.
    "dedup_semantic" ->
      """WITH v AS (SELECT vec_id, label,
                  CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         d AS (SELECT DISTINCT b.vec_id
               FROM v a JOIN v b
                 ON a.label = b.label AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.e, b.e) >= 0.46)
         SELECT v.label, CAST(count(*) AS BIGINT) AS n_vecs,
                CAST(sum(CASE WHEN v.vec_id IN (SELECT vec_id FROM d)
                              THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
                CAST(sum(CASE WHEN v.vec_id IN (SELECT vec_id FROM d)
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
         FROM v GROUP BY v.label ORDER BY v.label""",
    // Per-token log-probs quantized to integer millinats BEFORE the
    // per-doc sum, so accumulation order cannot change the hash.
    "text_unigram_logprob" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' '))
                         AS tok FROM documents),
         cnts AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                  FROM toks GROUP BY tok),
         voc AS (SELECT tok, cnt FROM cnts
                 ORDER BY cnt DESC, tok ASC LIMIT 256),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnts),
         s AS (SELECT t.doc_id,
                  CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov,
                  CAST(floor(ln(CAST(COALESCE(v.cnt, 1) AS DOUBLE)
                                / (SELECT n_total FROM tot)) * 1000)
                       AS BIGINT) AS q
               FROM toks t LEFT JOIN voc v ON t.tok = v.tok)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(oov) AS BIGINT) AS n_oov,
                CAST(sum(q) AS BIGINT) AS q_logprob_sum
         FROM s GROUP BY doc_id ORDER BY doc_id""",
    // First occurrence in (doc_id, span_index) order wins; trailing
    // partial spans are not candidates. 1-based list slicing on the
    // DuckDB side mirrors Spark's 1-based slice().
    "dedup_span_exact" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         ft AS (SELECT doc_id, ws, len(ws) AS n FROM t WHERE len(ws) >= 10),
         ch AS (SELECT doc_id, i AS ci,
                  array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS span
                FROM ft, (SELECT unnest(generate_series(0, 4000)) AS i)
                WHERE i <= CAST(floor(n / 10.0) AS INT) - 1),
         f AS (SELECT span, min(doc_id * 1000000 + ci) AS first_key
               FROM ch GROUP BY span)
         SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(CASE WHEN ch.doc_id * 1000000 + ch.ci
                                   = f.first_key
                              THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept_spans,
                CAST(sum(CASE WHEN ch.doc_id * 1000000 + ch.ci
                                   = f.first_key
                              THEN 0 ELSE 1 END) AS BIGINT)
                  AS n_dup_spans
         FROM ch JOIN f ON ch.span = f.span
         GROUP BY ch.doc_id ORDER BY ch.doc_id""",
    // Content-defined chunking: cut after tokens whose first md5
    // nibble is 0, running-sum the cuts into chunk ids, rebuild each
    // chunk in token order, rank occurrences of each chunk fingerprint
    // by (doc_id, chunk_id).
    "dedup_cdc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT doc_id, ws,
                        unnest(range(1, len(ws) + 1)) AS i FROM t),
         tk AS (SELECT doc_id, i, ws[i] AS tok,
                       CASE WHEN substr(md5(ws[i]), 1, 1) = '0'
                            THEN 1 ELSE 0 END AS cut
                FROM tok),
         asg AS (SELECT doc_id, i, tok,
                        COALESCE(SUM(cut) OVER (PARTITION BY doc_id
                          ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS chunk_id
                 FROM tk),
         ch AS (SELECT doc_id, chunk_id, COUNT(*) AS n_tok,
                       md5(string_agg(tok, ' ' ORDER BY i)) AS chunk_md5
                FROM asg GROUP BY doc_id, chunk_id),
         rk AS (SELECT doc_id, n_tok,
                       ROW_NUMBER() OVER (PARTITION BY chunk_md5
                         ORDER BY doc_id, chunk_id) AS rn
                FROM ch)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
                CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
                CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_dup_chunks
         FROM rk GROUP BY doc_id ORDER BY doc_id""",
    // The streamed quality-filter + (lang, digest) dedup must collapse
    // the doubled feed back to the batch distinct-text answer.
    "stream_curation" ->
      """WITH q AS (SELECT lang, text,
                  len(string_split(text, ' ')) AS n_tok,
                  CAST(len(list_filter(string_split(text, ' '),
                      w -> w IN ('the','a','of','and','to','in')))
                    AS DOUBLE)
                    / len(string_split(text, ' ')) AS stop_ratio
               FROM documents),
         d AS (SELECT DISTINCT lang, text, n_tok FROM q
               WHERE n_tok >= 15 AND stop_ratio >= 0.02)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         FROM d GROUP BY lang ORDER BY lang""",
    // Streamed ingest probing the persisted digest index: run 1 lands
    // the even-id half (first-per-text wins by min doc_id), run 2
    // restarts on the same checkpoint with a re-keyed full copy —
    // survivors are exactly the texts absent from the even half.
    "stream_incremental_dedup" ->
      """WITH even AS (SELECT min(doc_id) AS doc_id, text
                       FROM documents WHERE doc_id % 2 = 0
                       GROUP BY text),
         fresh AS (SELECT min(doc_id) + 100000000000 AS doc_id
                   FROM documents d
                   WHERE NOT EXISTS
                     (SELECT 1 FROM even e WHERE e.text = d.text)
                   GROUP BY text)
         SELECT doc_id FROM even
         UNION ALL
         SELECT doc_id FROM fresh
         ORDER BY doc_id""",
    // Cross-set exact Jaccard (corpus side × batch side) — the LSH
    // index probe must recover every pair at j >= 0.8.
    "dedup_minhash_incremental" ->
      """WITH co AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents WHERE doc_id % 2 = 0),
         ba AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 2 = 1
                UNION ALL
                SELECT doc_id + 100000000000, string_split(text, ' ')
                FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
         shc AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM co, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         shb AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM ba, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         szc AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY doc_id),
         szb AS (SELECT doc_id, count(*) AS c FROM shb GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS i
                FROM shc a JOIN shb b ON a.shingle = b.shingle
                GROUP BY 1, 2)
         SELECT doc_a, doc_b,
                CAST(i AS DOUBLE) / (sa.c + sb.c - i) AS jaccard
         FROM pr
         JOIN szc sa ON sa.doc_id = doc_a
         JOIN szb sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8
         ORDER BY doc_a, doc_b""",
    // Index compaction: the verified pair count over the compacted
    // index must equal the exact cross-set Jaccard replay (identical
    // fixture to dedup_minhash_incremental); candidate-set invariance
    // across the rewrite, row conservation, and file shrinkage are
    // engine-asserted booleans.
    "dedup_index_compact" ->
      """WITH co AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents WHERE doc_id % 2 = 0),
         ba AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 2 = 1
                UNION ALL
                SELECT doc_id + 100000000000, string_split(text, ' ')
                FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
         shc AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM co, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         shb AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM ba, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         szc AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY doc_id),
         szb AS (SELECT doc_id, count(*) AS c FROM shb GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS i
                FROM shc a JOIN shb b ON a.shingle = b.shingle
                GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                true AS probe_invariant,
                true AS rows_conserved,
                true AS files_shrunk
         FROM pr
         JOIN szc sa ON sa.doc_id = doc_a
         JOIN szb sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8""",
    // Quantized (32-bit-key) persisted LSH dedup index: truncation can
    // only merge buckets, so quantized candidates are a superset of the
    // full-key candidates and exact verify makes the final pair sets
    // identical — the oracle replays the exact Jaccard over the same
    // corpus/batch fixture and pins the verified pair COUNT; the
    // equality/superset/bytes witnesses are engine-asserted booleans.
    "dedup_minhash_quantized" ->
      """WITH co AS (SELECT doc_id, string_split(text, ' ') AS ws
                     FROM documents WHERE doc_id % 2 = 0),
         ba AS (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 2 = 1
                UNION ALL
                SELECT doc_id + 100000000000, string_split(text, ' ')
                FROM documents WHERE doc_id % 2 = 0 AND doc_id < 100),
         shc AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM co, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         shb AS (SELECT DISTINCT doc_id,
                   ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                 FROM ba, (SELECT unnest(generate_series(1, 2000)) AS i)
                 WHERE i <= len(ws) - 2),
         szc AS (SELECT doc_id, count(*) AS c FROM shc GROUP BY doc_id),
         szb AS (SELECT doc_id, count(*) AS c FROM shb GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  count(*) AS i
                FROM shc a JOIN shb b ON a.shingle = b.shingle
                GROUP BY 1, 2)
         SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                true AS matches_full_index,
                true AS candidates_superset,
                true AS index_bytes_shrunk
         FROM pr
         JOIN szc sa ON sa.doc_id = doc_a
         JOIN szb sb ON sb.doc_id = doc_b
         WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8""",
    // Upsampling factors r = min(4, ceil(max_count / count)); one row
    // per (lang, epoch<=r) with the stratum's doc count.
    "sample_repeat_factor" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
                    FROM documents GROUP BY lang),
         f AS (SELECT lang, n,
                  least(4, CAST(ceil(CAST((SELECT max(n) FROM c)
                                          AS DOUBLE) / n) AS INT)) AS r
               FROM c)
         SELECT lang, CAST(e.epoch AS INT) AS epoch,
                CAST(r AS INT) AS repeat_factor, n AS n_docs
         FROM f, (SELECT unnest(generate_series(1, 64)) AS epoch) e
         WHERE e.epoch <= r
         ORDER BY lang, epoch""",
    // The rewritten naive join must still produce the exact all-pairs
    // threshold result; `rewritten` is the engine's own plan assertion.
    "optimizer_cosine_rewrite" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, TRUE AS rewritten
         FROM v a, v b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(a.e, b.e) >= 0.46
         ORDER BY id_a, id_b""",
    // Same rewrite with residual conjuncts (label equality + id gap):
    // results must equal the all-pairs answer under ALL conjuncts, and
    // `rewritten` asserts the residuals kept the non-quadratic plan.
    "optimizer_cosine_rewrite_residual" ->
      """WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
                TRUE AS rewritten
         FROM v a, v b
         WHERE a.vec_id < b.vec_id
           AND list_cosine_similarity(a.e, b.e) >= 0.2
           AND a.label = b.label
           AND b.vec_id - a.vec_id > 3
         ORDER BY id_a, id_b""",
    // Release cut: quality -> exact dedup (min id per text) -> balanced
    // mixture downsample (computed rates) -> budget-shard manifest.
    "pipeline_pack_release" ->
      """WITH q AS (SELECT doc_id, lang, text,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                  CAST(len(list_filter(string_split(text, ' '),
                      w -> w IN ('the','a','of','and','to','in')))
                    AS DOUBLE)
                    / len(string_split(text, ' ')) AS stop_ratio
               FROM documents),
         f AS (SELECT doc_id, lang, text, n_tok FROM q
               WHERE n_tok >= 15 AND stop_ratio >= 0.02),
         -- winner = the LOWEST-ID ROW per text (its lang, not min(lang):
         -- identical texts can occur under different languages, and the
         -- mixture stage is lang-sensitive)
         dd AS (SELECT doc_id, lang, n_tok FROM (
                  SELECT doc_id, lang, n_tok,
                    row_number() OVER (PARTITION BY text
                      ORDER BY doc_id) AS rn
                  FROM f) WHERE rn = 1),
         c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
               FROM dd GROUP BY lang),
         b AS (SELECT lang,
                  CAST(floor((SELECT min(n_docs) FROM c) * 256
                             / n_docs) AS INT) AS boundary256
               FROM c),
         k AS (SELECT dd.doc_id, dd.n_tok
               FROM dd JOIN b ON dd.lang = b.lang
               WHERE substr(md5(CAST(dd.doc_id AS VARCHAR)), 1, 2) <
                 (CASE WHEN b.boundary256 >= 256 THEN 'g0'
                       ELSE printf('%02x', b.boundary256) END)),
         c2 AS (SELECT doc_id, n_tok,
                  COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS prior
                FROM k)
         SELECT CAST(floor(prior / 5000.0) AS BIGINT) AS shard,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
                min(doc_id) AS first_doc,
                max(doc_id) AS last_doc
         FROM c2 GROUP BY shard ORDER BY shard""",
    // The custom bounded-heap physical operator must emit exactly the
    // window-form top-3 row set (total tie-break ⇒ deterministic).
    "custom_topk_exec" ->
      """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
                l_extendedprice
         FROM (SELECT l_returnflag, l_linestatus, l_orderkey,
                 l_linenumber, l_extendedprice,
                 row_number() OVER (
                   PARTITION BY l_returnflag, l_linestatus
                   ORDER BY l_extendedprice DESC, l_orderkey ASC,
                            l_linenumber ASC) AS rn
               FROM lineitem)
         WHERE rn <= 3
         ORDER BY l_returnflag, l_linestatus, l_extendedprice,
                  l_orderkey, l_linenumber""",
    // Sketch bytes are engine-specific; the checked contract is the
    // exact distinct count plus the engine's own 5% estimate assertion.
    "sketch_hll_store" ->
      """SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS n_exact,
                TRUE AS approx_within_5pct
         FROM documents GROUP BY lang
         UNION ALL
         SELECT '__all__', CAST(count(DISTINCT text) AS BIGINT),
                TRUE
         FROM documents
         ORDER BY lang""",
    // Dynamic overwrite replaces ONLY the backfilled partition: the
    // earliest year carries doubled prices, every other year original.
    // Exact integer cents (r17: the 100x composite caught the 2dp
    // double sum flipping half-cent boundaries at ~1e12).
    "sink_partition_backfill" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CAST(date_trunc('year', o_orderdate) AS DATE) AS _p
                FROM orders),
         t AS (SELECT min(_p) AS p FROM o)
         SELECT _p, CAST(count(*) AS BIGINT) AS n_orders,
                CAST(sum(CASE WHEN _p = (SELECT p FROM t)
                              THEN cents * 2
                              ELSE cents END) AS BIGINT) AS sum_cents
         FROM o GROUP BY _p ORDER BY _p""",
    // Time travel: both snapshots' aggregates replay in exact integer
    // cents (the slice bounds are integer arithmetic); the stats-scoped
    // rewrite and snapshot-isolation witnesses are engine-measured.
    "table_snapshot_read" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 45 // 100 AS lo,
                      mn + (mx - mn) * 55 // 100 AS hi FROM k)
         SELECT 'v1' AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                true AS rewrite_scoped, true AS v1_stable_after_commit
         FROM o
         UNION ALL
         SELECT 'v2', CAST(count(*) AS BIGINT),
                CAST(sum(CASE WHEN o_orderkey BETWEEN lo AND hi
                              THEN cents * 2 ELSE cents END) AS BIGINT),
                true, true
         FROM o, r
         ORDER BY version""",
    // Txn log: every snapshot's contents are pure functions of the
    // base table and the deterministic batches; the protocol booleans
    // (contiguity, parent chain, isolation, scoping, compaction) are
    // engine-witnessed and pinned true.
    "table_txn_log" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 45 // 100 AS lo,
                      mn + (mx - mn) * 55 // 100 AS hi FROM k),
         app AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                        CAST(12345 AS BIGINT) AS cents
                 FROM o WHERE o_orderkey % 7 = 0),
         v1 AS (SELECT * FROM o UNION ALL SELECT * FROM app),
         v2 AS (SELECT o_orderkey,
                       CASE WHEN o_orderkey BETWEEN (SELECT lo FROM r)
                                              AND (SELECT hi FROM r)
                            THEN cents * 2 ELSE cents END AS cents
                FROM v1),
         aggs AS (
           SELECT 0 AS version, 'create' AS action,
                  (SELECT count(*) FROM o) AS n_rows,
                  (SELECT sum(cents) FROM o) AS sum_cents
           UNION ALL
           SELECT 1, 'append', (SELECT count(*) FROM v1),
                  (SELECT sum(cents) FROM v1)
           UNION ALL
           SELECT 2, 'merge', (SELECT count(*) FROM v2),
                  (SELECT sum(cents) FROM v2)
           UNION ALL
           SELECT 3, 'compact', (SELECT count(*) FROM v2),
                  (SELECT sum(cents) FROM v2))
         SELECT CAST(version AS INT) AS version, action,
                CAST(n_rows AS BIGINT) AS n_rows,
                CAST(sum_cents AS BIGINT) AS sum_cents,
                true AS log_contiguous, true AS parent_chain_ok,
                true AS snapshot_isolated, true AS rewrite_scoped,
                true AS compact_shrank_files
         FROM aggs ORDER BY version""",
    // Concurrent commit: appends are commutative under rebase, so the
    // tip's aggregate is order-independent; the race outcome (one
    // conflict, both landed, contiguous log) is engine-witnessed.
    "table_concurrent_commit" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         u AS (SELECT cents FROM o
               UNION ALL SELECT cents FROM o WHERE o_orderkey % 3 = 0
               UNION ALL SELECT cents FROM o WHERE o_orderkey % 3 = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(3 AS BIGINT) AS n_versions,
                true AS one_conflict_detected,
                true AS both_writers_committed,
                true AS log_contiguous,
                true AS tip_carries_both_batches
         FROM u""",
    // CDC + maintenance: the four disjoint-key batches make the final
    // state order-independent and exactly replayable; every protocol
    // counter is structural (4 batches, 2 compactions, 5 of 7 versions
    // expired) and the invariance/GC witnesses are engine-measured.
    "stream_cdc_maintain" ->
      """WITH o AS (SELECT o_orderkey AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b AS (SELECT min(k) AS mn, max(k) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) // 10 AS hi FROM b),
         kept AS (SELECT k,
                  CASE WHEN k <= (SELECT hi FROM r) AND k % 2 = 0
                       THEN cents * 2
                       WHEN k <= (SELECT hi FROM r) AND k % 10 = 7
                       THEN cents * 3
                       ELSE cents END AS cents
                  FROM o
                  WHERE NOT (k <= (SELECT hi FROM r) AND k % 10 = 3)),
         ins AS (SELECT k + 100000000000 AS k, CAST(777 AS BIGINT) AS cents
                 FROM o WHERE k <= (SELECT hi FROM r) AND k % 5 = 0),
         f AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(4 AS BIGINT) AS batches_applied,
                CAST(2 AS BIGINT) AS compactions_run,
                true AS compaction_invariant,
                CAST(5 AS BIGINT) AS versions_expired,
                true AS vacuum_reclaimed_expired_files,
                true AS fresh_orphan_kept,
                true AS expired_version_unreadable,
                true AS tip_stable_after_vacuum
         FROM f""",
    // Schema evolution: both versions' row/status counts are pure
    // functions of the base table; the column counts pin the
    // narrow-pinned-v0 / unified-tip schema contract.
    "table_schema_evolution" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS na FROM orders
                    WHERE o_orderkey % 7 = 0),
         n0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
         SELECT CAST(0 AS INT) AS version,
                (SELECT n FROM n0) AS n_rows,
                CAST(0 AS BIGINT) AS n_with_status,
                CAST(2 AS INT) AS n_cols
         UNION ALL
         SELECT 1, (SELECT n FROM n0) + (SELECT na FROM a),
                (SELECT na FROM a), 3
         ORDER BY version""",
    // DataSourceV2 connector reads: both snapshots replay relationally
    // (v0 = base table, tip = base ∪ the %7 append batch); the 2-column
    // schema width is structural.
    "table_connector_read" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         app AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                        CAST(12345 AS BIGINT) AS cents
                 FROM o WHERE o_orderkey % 7 = 0),
         tip AS (SELECT * FROM o UNION ALL SELECT * FROM app)
         SELECT 'tip' AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(2 AS INT) AS n_cols
         FROM tip
         UNION ALL
         SELECT 'v0', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT), 2
         FROM o
         ORDER BY version""",
    // Manifest-metadata pruning: the in-range aggregate replays with
    // the same exact integer bounds; the files-opened counts are
    // engine-measured from the EXECUTED plans and pinned (1 of 4 for
    // the stats-pruned range, 1 of 4 for the partition-pruned bucket,
    // 0 for a key beyond every range).
    "table_connector_skipping" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_rows_in_range,
                CAST(sum(cents) AS BIGINT) AS sum_cents_in_range,
                CAST(4 AS INT) AS n_files_total,
                CAST(1 AS INT) AS n_files_opened_range,
                CAST(1 AS INT) AS n_files_opened_bucket,
                CAST(0 AS INT) AS n_files_opened_beyond
         FROM o, r WHERE o_orderkey BETWEEN lo AND hi""",
    // SQL DELETE: the surviving aggregate replays with exact integer
    // bounds; the rewrite-scope and no-op witnesses are engine-measured
    // from the manifests.
    "table_delete_where" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows_v0,
                true AS rewrite_scoped,
                true AS noop_beyond_range
         FROM o, r WHERE o_orderkey NOT BETWEEN lo AND hi""",
    // SQL UPDATE as a group-based copy-on-write rewrite: the oracle
    // replays the assignment as a CASE projection; scoping/stats/
    // time-travel witnesses are engine-checked booleans.
    "table_update_sql" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN o_orderkey BETWEEN lo AND hi
                              THEN cents * 2 + 1 ELSE cents END)
                     AS BIGINT) AS sum_cents,
                CAST(sum(cents) AS BIGINT) AS sum_cents_v0,
                true AS rewrite_scoped,
                true AS stats_covered
         FROM o, r""",
    // TIMESTAMP AS OF with deterministic commit stamps: the oracle
    // replays the v0 aggregate (o) and the v1 aggregate (o with the
    // %7 slice's cents restated as an appended batch).
    "table_time_travel_ts" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b1 AS (SELECT CAST(12345 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 7 = 0)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows_v0ts,
                (SELECT CAST(sum(cents) AS BIGINT) FROM o) AS sum_cents_v0ts,
                (SELECT CAST(count(*) AS BIGINT) FROM o) +
                  (SELECT CAST(count(*) AS BIGINT) FROM b1) AS n_rows_v1ts,
                (SELECT CAST(sum(cents) AS BIGINT) FROM o) +
                  (SELECT CAST(sum(cents) AS BIGINT) FROM b1)
                  AS sum_cents_v1ts,
                true AS before_create_refused,
                true AS pinned_write_refused""",
    // Multi-column manifest bounds: the oracle replays the h-range
    // aggregate; the opened-file counts are plan-witnessed pins.
    "table_multicol_skipping" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  (o_orderkey * 48271) % 1000003 AS h
               FROM orders),
         k AS (SELECT min(h) AS mn, max(h) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_rows_in_hrange,
                CAST(sum(cents) AS BIGINT) AS sum_cents_in_hrange,
                4 AS n_files_total,
                1 AS n_files_opened_h,
                4 AS n_files_opened_key,
                0 AS n_files_opened_joint_beyond
         FROM o, r WHERE h BETWEEN lo AND hi""",
    // SQL MERGE INTO (delete + update + insert in one statement): the
    // oracle replays it as a full-outer reconciliation.
    "table_merge_sql" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         changes AS (
           SELECT o_orderkey, CAST(111 AS BIGINT) AS cents, 'upd' AS op
             FROM o WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT o_orderkey, CAST(NULL AS BIGINT), 'del'
             FROM o WHERE o_orderkey % 10 = 7
           UNION ALL
           SELECT o_orderkey + 100000000000, CAST(777 AS BIGINT), 'ins'
             FROM o WHERE o_orderkey % 5 = 0),
         merged AS (
           SELECT CASE WHEN c.op IS NULL THEN t.cents
                       ELSE c.cents END AS cents, c.op
           FROM o t FULL OUTER JOIN changes c
             ON t.o_orderkey = c.o_orderkey
           WHERE c.op IS NULL OR c.op <> 'del')
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows_v0,
                true AS single_atomic_commit
         FROM merged""",
    // MERGE with NOT MATCHED BY SOURCE arms: the oracle replays the
    // full reconciliation — matched keys restated, source-only keys
    // inserted, target-only keys deleted (%10==9) or bumped (+5).
    "table_merge_nmbs" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         changes AS (
           SELECT o_orderkey, CAST(111 AS BIGINT) AS cents
             FROM o WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT o_orderkey + 100000000000, CAST(777 AS BIGINT)
             FROM o WHERE o_orderkey % 5 = 0),
         merged AS (
           SELECT CASE
               WHEN t.o_orderkey IS NOT NULL AND c.o_orderkey IS NOT NULL
                 THEN c.cents
               WHEN t.o_orderkey IS NULL THEN c.cents
               ELSE t.cents + 5 END AS cents
           FROM o t FULL OUTER JOIN changes c
             ON t.o_orderkey = c.o_orderkey
           WHERE NOT (c.o_orderkey IS NULL AND t.o_orderkey % 10 = 9))
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows_v0,
                true AS single_atomic_commit
         FROM merged""",
    // Delta-manifest log: 13 commits (create + 12 appends) store as
    // full snapshots at v0/v10 and deltas between; witnesses (storage
    // form census, delta size bound, carried stats) engine-checked.
    "table_manifest_checkpoint" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                CAST(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rows_v0,
                CAST(2 AS BIGINT) AS full_manifests,
                CAST(11 AS BIGINT) AS delta_manifests,
                true AS delta_bytes_bounded,
                true AS stats_carried
         FROM orders""",
    // RESTORE to v1 after a mistaken delete: tip = slices %3 in (0,1);
    // pinned v2 = slice 1 only; manifest witnesses engine-checked.
    // Clone across pending MoR deletes: the clone reads the source's
    // visible set, then locally deletes %10==5 and appends %10==3 at
    // 777 — final = %10==6 (c) + re-inserted %10==0 (c+1) + %10==3.
    "table_clone_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders)
         SELECT CAST((SELECT count(*) FROM o WHERE k % 10 IN (6, 0, 3))
                     AS BIGINT) AS n_rows,
                CAST((SELECT sum(c) FROM o WHERE k % 10 = 6)
                   + (SELECT sum(c + 1) FROM o WHERE k % 10 = 0)
                   + 777 * (SELECT count(*) FROM o WHERE k % 10 = 3)
                     AS BIGINT) AS sum_cents,
                true AS deletes_carried_translated,
                true AS clone_reads_source,
                true AS src_unchanged""",
    // CALL graft.restore via the procedure catalog: same fixture as
    // table_restore, so the oracle is the two surviving key classes.
    "table_restore_sql" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 3 IN (0, 1))
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS call_ok
         FROM o""",
    // CALL graft.optimize packs the six %3==0 crumbs; big (%3!=0)
    // survives — the table is the full orders relation throughout.
    "table_optimize_sql" ->
      """WITH o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS call_ok,
                true AS second_call_noop
         FROM o""",
    "table_restore" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rows_v2,
                CAST(3 AS BIGINT) AS restored_version,
                true AS restore_is_delta,
                true AS restore_commit_ok,
                true AS stats_covered
         FROM orders WHERE o_orderkey % 3 IN (0, 1)""",
    // CDF from file diffs: v1 append inserts %4==1; v2 CoW merge
    // updates %8==0 (cents+11) and inserts %4==2; v3 CoW-deletes
    // %8==1. Carried rows cancel, so the oracle is the key classes.
    "table_cdf_read" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders)
         SELECT CAST(1 AS BIGINT) AS commit_version,
                'insert' AS change_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents
         FROM o WHERE k % 4 = 1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'insert',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
         FROM o WHERE k % 4 = 2
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'update_preimage',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
         FROM o WHERE k % 8 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'update_postimage',
                CAST(count(*) AS BIGINT), CAST(sum(c + 11) AS BIGINT)
         FROM o WHERE k % 8 = 0
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'delete',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
         FROM o WHERE k % 8 = 1""",
    // CDF across merge-on-read: v1 append inserts %4==1; v2 delete-mor
    // surfaces %8==0 as deletes AT ITS OWN commit (no file change);
    // v3 materialize rewrites files but nets zero feed rows; v4
    // re-inserts %8==0 at +1 cent.
    "table_cdf_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders)
         SELECT CAST(1 AS BIGINT) AS commit_version,
                'insert' AS change_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents
         FROM o WHERE k % 4 = 1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'delete',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT)
         FROM o WHERE k % 8 = 0
         UNION ALL
         SELECT CAST(4 AS BIGINT), 'insert',
                CAST(count(*) AS BIGINT), CAST(sum(c + 1) AS BIGINT)
         FROM o WHERE k % 8 = 0""",
    // Merge-on-read delete: %10==0 of the create slice MoR-deleted
    // (zero rewrites), then re-inserted at +1 cent (sequence scoping);
    // the connector scan applies the delete; v1 pinned is complete.
    "table_delete_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 5 IN (0, 1))
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) + sum(CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS sum_cents,
                CAST(count(*) AS BIGINT) AS n_rows_v1,
                true AS zero_rewrite,
                true AS sql_matches
         FROM o""",
    // MoR maintenance: delete pends on the low range-file, a CoW merge
    // (+5 on %10==3 of the high range) stays scoped to the high file,
    // a SQL UPDATE (+9 on %10==6 of the low range) rewrites the low
    // file WITH the pending delete applied, then materializeDeletes
    // finds pure metadata debt and clears in place.
    "table_mor_maintenance" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders),
              m AS (SELECT CAST(floor(max(k) / 2.0) AS BIGINT) AS mid
                    FROM o)
         SELECT CAST((SELECT count(*) FROM o, m
                      WHERE (k <= mid AND k % 10 <> 0) OR k > mid)
                     AS BIGINT) AS n_rows,
                CAST((SELECT sum(c) FROM o, m
                      WHERE (k <= mid AND k % 10 <> 0) OR k > mid)
                     + (SELECT 9 * count(*) FROM o, m
                        WHERE k <= mid AND k % 10 = 6)
                     + (SELECT 5 * count(*) FROM o, m
                        WHERE k > mid AND k % 10 = 3)
                     AS BIGINT) AS sum_cents,
                true AS merge_scoped,
                true AS update_over_mor,
                true AS materialized""",
    // Shallow clone: zero-copy metadata commit; clone merged (+7 on
    // %10==1 of the high range) while the source stays bit-stable.
    "table_clone" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders),
              m AS (SELECT CAST(floor(max(k) / 2.0) AS BIGINT) AS mid
                    FROM o)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) + (SELECT 7 * count(*) FROM o, m
                               WHERE k > mid AND k % 10 = 1)
                     AS BIGINT) AS sum_cents,
                true AS zero_copy,
                true AS clone_scoped,
                true AS src_unchanged
         FROM o""",
    // Incremental OPTIMIZE: six small appends bin-packed into one
    // file, the big create surviving by name; content bit-stable.
    "table_optimize_small" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents,
                true AS optimized,
                true AS second_call_noop
         FROM orders""",
    // SQL DELETE routed to an equality-delete commit under mor mode:
    // the 5 smallest even keys vanish, zero data files rewritten.
    "table_delete_mor_sql" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 2 = 0),
              del AS (SELECT k FROM o ORDER BY k LIMIT 5)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS mor_routed
         FROM o WHERE k NOT IN (SELECT k FROM del)""",
    // Position-delete MoR on a keyless table: predicate delete (cents
    // > 3e7) lands as (file, ordinal) positions, then an equality
    // delete (keys ending in 9) composes; one scan applies both.
    "table_delete_mor_pos" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 2 = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS pos_routed,
                true AS both_forms_pending,
                true AS delete_bytes_small
         FROM o WHERE NOT (c > 30000000) AND NOT (k % 10 = 9)""",
    // MoR UPDATE via CALL: u1 subtracts 3e7 where cents > 3e7, u2
    // (chained, hits rows u1 appended) adds 5 where key % 100 = 2.
    "table_update_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 2 = 0),
              u1 AS (SELECT k, CASE WHEN c > 30000000
                                    THEN c - 30000000 ELSE c END AS c
                     FROM o),
              u2 AS (SELECT k, CASE WHEN k % 100 = 2
                                    THEN c + 5 ELSE c END AS c
                     FROM u1)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS mor_update,
                true AS appended_only,
                true AS pos_pending
         FROM u2""",
    // DESCRIBE HISTORY: the literal expected chain, newest first
    // (create 1 file, append -> 2, delete-mor pends 1 delete, restore
    // re-points to v0's single file and clears the pending set).
    "table_history" ->
      """SELECT * FROM (VALUES
           (CAST(3 AS BIGINT), CAST(2 AS BIGINT), 'restore',
            CAST(1 AS BIGINT), CAST(0 AS BIGINT), true),
           (CAST(2 AS BIGINT), CAST(1 AS BIGINT), 'delete-mor',
            CAST(2 AS BIGINT), CAST(1 AS BIGINT), true),
           (CAST(1 AS BIGINT), CAST(0 AS BIGINT), 'append',
            CAST(2 AS BIGINT), CAST(0 AS BIGINT), true),
           (CAST(0 AS BIGINT), CAST(-1 AS BIGINT), 'create',
            CAST(1 AS BIGINT), CAST(0 AS BIGINT), true))
         t(version, parent, action, n_files, n_pending_deletes,
           ts_stamped)""",
    // Delta-mode SQL UPDATE: +7 where cents % 10 = 3, over %4==1 keys.
    "table_update_mor_sql" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 4 = 1)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN c % 10 = 3 THEN c + 7 ELSE c END)
                     AS BIGINT) AS sum_cents,
                true AS delta_update
         FROM o""",
    // Delta-mode MERGE: %20==3 keys restated (cents*2) + the same
    // keys shifted 1e11 inserted (cents+1), over the %4==3 table.
    "table_merge_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 4 = 3),
              merged AS (
                SELECT k, CASE WHEN k % 20 = 3 THEN c * 2 ELSE c END AS c
                FROM o
                UNION ALL
                SELECT k + 100000000000, c + 1 FROM o WHERE k % 20 = 3)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS delta_merge,
                true AS cdf_exact
         FROM merged""",
    // MoR CDC apply: batch A doubles even keys' cents and tombstones
    // ≡3 (mod 30); batch B inserts the %15 keys shifted 1e11 (+9).
    "stream_cdc_apply_mor" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 3 = 0),
              after_a AS (
                SELECT k, CASE WHEN k % 2 = 0 THEN c * 2 ELSE c END AS c
                FROM o WHERE NOT (k % 30 = 3)),
              final AS (
                SELECT k, c FROM after_a
                UNION ALL
                SELECT k + 100000000000, c + 9 FROM o WHERE k % 15 = 0)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS append_only,
                true AS all_mor,
                CAST(2 AS BIGINT) AS batches_applied
         FROM final""",
    // SQL ALTER TABLE chain: add note (+%4==1 append with k%5),
    // rename cents->cents_total (pinned v3 types it int), widen to
    // bigint, drop note (pinned v4 still sums it).
    "table_alter_sql" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders WHERE o_orderkey % 4 IN (0, 1))
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                'bigint' AS tip_type,
                'int' AS v3_type,
                CAST((SELECT sum(k % 5) FROM o WHERE k % 4 = 1)
                     AS BIGINT) AS sum_note_pinned,
                true AS note_dropped
         FROM o""",
    // ADD/DROP COLUMN manifest-only: note added (old rows NULL, %2==1
    // appended with k%7), cents dropped then re-added (NULL — the old
    // bytes never resurrect); pinned pre-drop still reads cents.
    "table_schema_add_drop" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN k % 2 = 1 THEN k % 7 END)
                     AS BIGINT) AS sum_note,
                CAST(sum(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_note_null,
                CAST(0 AS BIGINT) AS n_cents_after_readd,
                true AS schema_evolved
         FROM o""",
    // CHECK constraints: cents_pos refuses the %3==2 batch while set
    // (rows frozen at %3 in (0,1)); after the drop it lands negated.
    "table_constraints" ->
      """WITH o AS (SELECT o_orderkey AS k,
                           CAST(round(o_totalprice * 100) AS BIGINT) AS c
                    FROM orders)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN k % 3 = 2 THEN -c ELSE c END)
                     AS BIGINT) AS sum_cents,
                CAST(sum(CASE WHEN k % 3 < 2 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_rows_refused,
                true AS carried,
                true AS refused
         FROM o""",
    // Streaming INTO the log: table B accumulates o then the %7 batch
    // (each moved exactly once; replay no-op engine-witnessed).
    "stream_table_sink" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b1 AS (SELECT CAST(12345 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 7 = 0),
         allr AS (SELECT cents FROM o UNION ALL SELECT cents FROM b1)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM allr) AS n_rows,
                (SELECT CAST(sum(cents) AS BIGINT) FROM allr) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_initial,
                true AS created_with_declared_columns,
                true AS txn_stamped,
                true AS idle_pump_no_commit,
                true AS replay_is_noop""",
    // Streaming the log: the accumulated sink is o ∪ b1 ∪ b2 (each
    // batch moved exactly once — the increment pins are the witness);
    // counts and sum replay relationally.
    "stream_table_feed" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b1 AS (SELECT CAST(12345 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 7 = 0),
         b2 AS (SELECT CAST(999 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 11 = 0),
         allr AS (SELECT cents FROM o
                  UNION ALL SELECT cents FROM b1
                  UNION ALL SELECT cents FROM b2)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM allr) AS n_rows,
                (SELECT CAST(sum(cents) AS BIGINT) FROM allr) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_initial,
                CAST(0 AS BIGINT) AS n_idle_drain,
                (SELECT CAST(count(*) AS BIGINT) FROM b1) +
                  (SELECT CAST(count(*) AS BIGINT) FROM b2)
                  AS n_resumed_increment,
                (SELECT CAST(count(*) AS BIGINT) FROM b2) AS n_from_v2""",
    // CDF stream: v0 snapshot-as-inserts (%4==0), v1 append inserts
    // (%4==1), v2 CoW UPDATE pre/post-images (+7 on %8==0, carried
    // rows cancel), v3 MoR-delete of %8==4 at its own version; the
    // drain increments pin exactly-once movement.
    "stream_cdf_feed" ->
      """WITH o AS (SELECT o_orderkey AS k,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS c
               FROM orders)
         SELECT CAST(0 AS BIGINT) AS commit_version,
                'insert' AS change_type,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                (SELECT CAST(count(*) AS BIGINT) FROM o
                 WHERE k % 4 = 0) AS n_initial,
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 1)
                  + 2 * (SELECT CAST(count(*) AS BIGINT) FROM o
                         WHERE k % 8 = 0)
                  + (SELECT CAST(count(*) AS BIGINT) FROM o
                     WHERE k % 8 = 4) AS n_resumed,
                CAST(0 AS BIGINT) AS n_idle
         FROM o WHERE k % 4 = 0
         UNION ALL
         SELECT CAST(1 AS BIGINT), 'insert',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 0),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 1)
                  + 2 * (SELECT CAST(count(*) AS BIGINT) FROM o
                         WHERE k % 8 = 0)
                  + (SELECT CAST(count(*) AS BIGINT) FROM o
                     WHERE k % 8 = 4),
                CAST(0 AS BIGINT)
         FROM o WHERE k % 4 = 1
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'update_preimage',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 0),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 1)
                  + 2 * (SELECT CAST(count(*) AS BIGINT) FROM o
                         WHERE k % 8 = 0)
                  + (SELECT CAST(count(*) AS BIGINT) FROM o
                     WHERE k % 8 = 4),
                CAST(0 AS BIGINT)
         FROM o WHERE k % 8 = 0
         UNION ALL
         SELECT CAST(2 AS BIGINT), 'update_postimage',
                CAST(count(*) AS BIGINT), CAST(sum(c + 7) AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 0),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 1)
                  + 2 * (SELECT CAST(count(*) AS BIGINT) FROM o
                         WHERE k % 8 = 0)
                  + (SELECT CAST(count(*) AS BIGINT) FROM o
                     WHERE k % 8 = 4),
                CAST(0 AS BIGINT)
         FROM o WHERE k % 8 = 0
         UNION ALL
         SELECT CAST(3 AS BIGINT), 'delete',
                CAST(count(*) AS BIGINT), CAST(sum(c) AS BIGINT),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 0),
                (SELECT CAST(count(*) AS BIGINT) FROM o WHERE k % 4 = 1)
                  + 2 * (SELECT CAST(count(*) AS BIGINT) FROM o
                         WHERE k % 8 = 0)
                  + (SELECT CAST(count(*) AS BIGINT) FROM o
                     WHERE k % 8 = 4),
                CAST(0 AS BIGINT)
         FROM o WHERE k % 8 = 4""",
    // Incremental reads: each window is a pure function of the two
    // deterministic append batches; the refusal/stability booleans are
    // engine-witnessed.
    "table_incremental_read" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b1 AS (SELECT CAST(12345 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 7 = 0),
         b2 AS (SELECT CAST(999 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 11 = 0),
         w AS (
           SELECT 'since_v0' AS "window", count(*) AS n, sum(cents) AS s
           FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
           UNION ALL
           SELECT 'since_v1', count(*), sum(cents) FROM b2
           UNION ALL
           SELECT 'window_0_1', count(*), sum(cents) FROM b1)
         SELECT "window", CAST(n AS BIGINT) AS n_rows,
                CAST(s AS BIGINT) AS sum_cents,
                true AS refused_across_replace,
                true AS pre_replace_window_ok
         FROM w ORDER BY "window"""",
    // Connector writes: every snapshot is a pure function of the base
    // table and the two deterministic batches (the INSERT's source is
    // the pinned v0, so b2 derives from o alone); the protocol
    // booleans are engine-witnessed.
    "table_connector_write" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         b1 AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                       CAST(12345 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 7 = 0),
         b2 AS (SELECT o_orderkey + 200000000 AS o_orderkey,
                       CAST(999 AS BIGINT) AS cents
                FROM o WHERE o_orderkey % 11 = 0),
         aggs AS (
           SELECT 'v0' AS version, count(*) AS n, sum(cents) AS s FROM o
           UNION ALL
           SELECT 'v1', count(*), sum(cents)
           FROM (SELECT * FROM o UNION ALL SELECT * FROM b1)
           UNION ALL
           SELECT 'v2', count(*), sum(cents)
           FROM (SELECT * FROM o UNION ALL SELECT * FROM b1
                 UNION ALL SELECT * FROM b2)
           UNION ALL
           SELECT 'v3', count(*), sum(cents) FROM b1)
         SELECT version, CAST(n AS BIGINT) AS n_rows,
                CAST(s AS BIGINT) AS sum_cents,
                true AS actions_ok, true AS append_additive,
                true AS v0_stable_under_writes
         FROM aggs ORDER BY version""",
    // Metadata-only planning: the range aggregate replays with exact
    // integer bounds (measured while the data existed); the
    // planned-after-deletion witnesses are engine-measured from a plan
    // built over a table whose files are gone.
    "table_metadata_planning" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT CAST(count(*) AS BIGINT) AS n_rows_in_range,
                CAST(sum(cents) AS BIGINT) AS sum_cents_in_range,
                true AS manifest_sizes_complete,
                CAST(1 AS INT) AS n_files_planned_after_delete,
                CAST(2 AS INT) AS n_cols
         FROM o, r WHERE o_orderkey BETWEEN lo AND hi""",
    // Commit torture: the four writers' key sets are disjoint, so the
    // serializable outcome equals a sequential replay in any order —
    // pure relational algebra for the oracle. The staged barrier makes
    // the conflict count exact (4 writers: 3+2+1 = 6) and the protocol
    // booleans are engine-witnessed.
    "table_commit_torture" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         fin AS (
           SELECT o_orderkey,
                  CASE WHEN o_orderkey % 10 = 1 THEN cents * 2
                       WHEN o_orderkey % 10 = 3 THEN cents * 3
                       ELSE cents END AS cents
           FROM o WHERE o_orderkey % 10 <> 7
           UNION ALL
           SELECT o_orderkey + 100000000000, CAST(777 AS BIGINT)
           FROM o WHERE o_orderkey % 5 = 0)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                CAST(5 AS INT) AS n_versions,
                CAST(6 AS INT) AS total_conflicts,
                true AS log_chain_ok,
                true AS all_writers_landed,
                true AS keys_unique
         FROM fin""",
    // Column mapping: both versions read the SAME bytes (sum replays
    // once from orders, in cents); names/types per version and the
    // 1-of-4 files-opened pruning witness are engine-measured.
    "table_column_mapping" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS INT) AS cents
               FROM orders)
         SELECT 'tip' AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_value,
                'cents_total' AS value_col, 'bigint' AS value_type,
                'order_id' AS key_col,
                CAST(1 AS INT) AS n_files_opened_range
         FROM o
         UNION ALL
         SELECT 'v0', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT),
                'cents', 'int', 'o_orderkey', 1
         FROM o
         ORDER BY version""",
    // SQL time travel through the catalog: same snapshots as
    // table_connector_read plus a stats-skipping WHERE at v0, all
    // replayed with exact integer bounds.
    "table_time_travel_sql" ->
      """WITH o AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         app AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                        CAST(12345 AS BIGINT) AS cents
                 FROM o WHERE o_orderkey % 7 = 0),
         tip AS (SELECT * FROM o UNION ALL SELECT * FROM app),
         k AS (SELECT min(o_orderkey) AS mn, max(o_orderkey) AS mx FROM o),
         r AS (SELECT mn + (mx - mn) * 30 // 100 AS lo,
                      mn + (mx - mn) * 40 // 100 AS hi FROM k)
         SELECT 'tip' AS version, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents FROM tip
         UNION ALL
         SELECT 'v0', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT) FROM o
         UNION ALL
         SELECT 'v0_range', CAST(count(*) AS BIGINT),
                CAST(sum(cents) AS BIGINT)
         FROM o, r WHERE o_orderkey BETWEEN lo AND hi
         ORDER BY version""",
    // Split leakage: the exact threshold-Jaccard pair set (the
    // dedup_ngram_jaccard construction at t=0.8) joined against the
    // per-doc md5 split; every count replays relationally.
    "split_leakage_check" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM pr
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
                WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8),
         s AS (SELECT doc_id,
                 CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                      < 'e6' THEN 'train' ELSE 'holdout' END AS split
               FROM documents)
         SELECT (SELECT CAST(count(*) AS BIGINT) FROM s
                 WHERE split = 'train') AS n_train,
                (SELECT CAST(count(*) AS BIGINT) FROM s
                 WHERE split = 'holdout') AS n_holdout,
                (SELECT CAST(count(*) AS BIGINT) FROM jp) AS n_near_pairs,
                (SELECT CAST(count(*) AS BIGINT) FROM jp
                 JOIN s a ON a.doc_id = jp.doc_a
                 JOIN s b ON b.doc_id = jp.doc_b
                 WHERE a.split <> b.split) AS n_leaking_pairs""",
    // Group-aware split: recursive-CTE components over the same pair
    // graph, clusters keyed by canonical id; zero leaking pairs is
    // REPLAYED (count over the pair join), not just pinned.
    // CANONICAL-TEXT formulation (r19): the former replay shingled
    // and paired EVERY doc, so under the documents-composited gate
    // (every text duplicated m-fold) its pair relation and transitive
    // closure grew ~m² and DuckDB spilled past the machine's disk at
    // m=10. Identical texts are Jaccard-1.0 neighbors, so components
    // are determined by DISTINCT texts: pair/close over one canonical
    // doc per text, then expand — each doc inherits its text's
    // canonical component, and the group label is min(doc_id) over
    // the component's FULL membership, exactly the engine's min-label
    // semantics. Equal to the old form at every SF; 44 s at the 10x
    // composite where the old form died.
    "split_group_aware" ->
      """WITH RECURSIVE
         canon AS (SELECT text, min(doc_id) AS cid
                   FROM documents GROUP BY text),
         d2c AS (SELECT d.doc_id, c.cid
                 FROM documents d JOIN canon c ON d.text = c.text),
         w AS (SELECT cid AS doc_id, string_split(text, ' ') AS ws
               FROM canon),
         sh AS (SELECT DISTINCT doc_id,
                  ws[i] || '|' || ws[i+1] || '|' || ws[i+2] AS shingle
                FROM w, (SELECT unnest(generate_series(1, 2000)) AS i)
                WHERE i <= len(ws) - 2),
         sz AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
         pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM pr
                JOIN sz sa ON sa.doc_id = doc_a
                JOIN sz sb ON sb.doc_id = doc_b
                WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.8),
         edges AS (SELECT doc_a AS u, doc_b AS v FROM jp
                   UNION SELECT doc_b, doc_a FROM jp),
         reach(u, v) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM edges)
           UNION
           SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         clbl AS (SELECT u AS cid, min(v) AS comp FROM reach GROUP BY u),
         casg AS (SELECT c.cid, coalesce(l.comp, c.cid) AS comp
                  FROM canon c LEFT JOIN clbl l ON l.cid = c.cid),
         gmin AS (SELECT a.comp, min(d.doc_id) AS grp
                  FROM casg a JOIN d2c d ON d.cid = a.cid
                  GROUP BY a.comp),
         asg AS (SELECT d.doc_id, g.grp FROM d2c d
                 JOIN casg a ON a.cid = d.cid
                 JOIN gmin g ON g.comp = a.comp),
         s AS (SELECT doc_id,
                 CASE WHEN substring(md5(CAST(grp AS VARCHAR)), 1, 2)
                      < 'e6' THEN 'train' ELSE 'holdout' END AS split
               FROM asg),
         leak AS (SELECT CAST(count(*) AS BIGINT) AS n FROM jp
                  JOIN s a ON a.doc_id = jp.doc_a
                  JOIN s b ON b.doc_id = jp.doc_b
                  WHERE a.split <> b.split)
         SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                (SELECT n FROM leak) AS n_leaking_pairs,
                (SELECT n FROM leak) = 0 AS leak_free
         FROM s GROUP BY split ORDER BY split""",
    // Expectations: every rule's checked/failed counts replay
    // relationally (failed = checked - pred-true, so nulls fail).
    "quality_expectations" ->
      """WITH onn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders),
         lnn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem)
         SELECT rule, n_checked, n_failed, n_failed = 0 AS passed FROM (
           SELECT 'orderkey_not_null' AS rule, (SELECT n FROM onn)
                    AS n_checked,
                  (SELECT n FROM onn) - (SELECT CAST(count(*) AS BIGINT)
                    FROM orders WHERE o_orderkey IS NOT NULL) AS n_failed
           UNION ALL
           SELECT 'totalprice_positive', (SELECT n FROM onn),
                  (SELECT n FROM onn) - (SELECT CAST(count(*) AS BIGINT)
                    FROM orders WHERE o_totalprice > 0.0)
           UNION ALL
           SELECT 'status_in_domain', (SELECT n FROM onn),
                  (SELECT n FROM onn) - (SELECT CAST(count(*) AS BIGINT)
                    FROM orders WHERE o_orderstatus IN ('F','O','P'))
           UNION ALL
           SELECT 'date_in_epoch_range', (SELECT n FROM onn),
                  (SELECT n FROM onn) - (SELECT CAST(count(*) AS BIGINT)
                    FROM orders
                    WHERE year(o_orderdate) BETWEEN 1990 AND 2100)
           UNION ALL
           SELECT 'orderkey_unique', (SELECT n FROM onn),
                  (SELECT CAST(count(o_orderkey) AS BIGINT) FROM orders) -
                  (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
                   FROM orders)
           UNION ALL
           SELECT 'lineitem_fk_orders', (SELECT n FROM lnn),
                  (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                   WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
                     (SELECT o_orderkey FROM orders
                      WHERE o_orderkey IS NOT NULL)))
         ORDER BY rule""",
    // Incremental aggregate refresh: the oracle recomputes the final
    // gold state from base + batch directly; the IVM-equality and COW
    // witnesses are engine-measured and pinned.
    "sink_incremental_agg" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
                  CAST(year(o_orderdate) AS INT) AS p,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         tgt AS (SELECT min(p) AS tp FROM o),
         b AS (SELECT * FROM o, tgt WHERE p = tp AND o_orderkey % 3 = 0),
         u AS (SELECT o_orderkey, o_orderstatus, p, cents FROM o
               UNION ALL
               SELECT o_orderkey, o_orderstatus, p, cents FROM b),
         g AS (SELECT p, o_orderstatus,
                      CAST(count(*) AS BIGINT) AS n_orders,
                      CAST(sum(cents) AS BIGINT) AS sum_cents
               FROM u GROUP BY p, o_orderstatus)
         SELECT p AS _p, CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(n_orders) AS BIGINT) AS n_orders,
                CAST(sum(sum_cents) AS BIGINT) AS sum_cents,
                true AS equals_full_recompute,
                true AS untouched_intact,
                true AS affected_rewritten
         FROM g GROUP BY p ORDER BY p""",
    // Lakehouse capstone: every stage count replays from the base
    // table + the deterministic batch; the merge/IVM-agreement/gate/
    // vacuum witnesses are engine-measured and pinned.
    "pipeline_lakehouse" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
                  CAST(year(o_orderdate) AS INT) AS p,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         tgt AS (SELECT min(p) AS tp FROM o),
         m AS (SELECT o_orderkey, o_orderstatus, p,
                      CASE WHEN p = (SELECT tp FROM tgt)
                                AND o_orderkey % 2 = 0
                           THEN cents * 2 ELSE cents END AS cents
               FROM o WHERE NOT (p = (SELECT tp FROM tgt)
                                 AND o_orderkey % 10 = 3)
               UNION ALL
               SELECT o_orderkey + 10000000, o_orderstatus, p,
                      CAST(10000 AS BIGINT)
               FROM o, tgt WHERE p = tp AND o_orderkey % 5 = 0),
         g AS (SELECT p, o_orderstatus, count(*) AS n
               FROM m GROUP BY p, o_orderstatus)
         SELECT * FROM (
           SELECT 0 AS ord, 'bronze_snapshot' AS stage,
                  (SELECT CAST(count(*) AS BIGINT) FROM o) AS n_rows,
                  (SELECT CAST(count(DISTINCT p) AS BIGINT) FROM o)
                    AS detail,
                  true AS ok
           UNION ALL
           SELECT 1, 'cow_merge',
                  (SELECT CAST(count(*) AS BIGINT) FROM m),
                  CAST(1 AS BIGINT), true
           UNION ALL
           SELECT 2, 'gold_ivm_refresh',
                  (SELECT CAST(count(*) AS BIGINT) FROM g),
                  (SELECT CAST(count(*) AS BIGINT) FROM m), true
           UNION ALL
           SELECT 3, 'expectations_gate', CAST(4 AS BIGINT),
                  CAST(4 AS BIGINT), true
           UNION ALL
           SELECT 4, 'vacuum', CAST(1 AS BIGINT), CAST(1 AS BIGINT),
                  true)
         ORDER BY ord""",
    // Retraction IVM: the oracle applies the same general change feed
    // (insert/update/delete) row-wise and re-aggregates; the equality
    // and COW witnesses are engine-measured and pinned.
    "sink_incremental_agg_retract" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus,
                  CAST(year(o_orderdate) AS INT) AS p,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders),
         tgt AS (SELECT min(p) AS tp FROM o),
         pc AS (SELECT o_orderkey, o_orderstatus, p,
                       CASE WHEN p = (SELECT tp FROM tgt)
                                 AND o_orderkey % 2 = 0
                            THEN cents * 2 ELSE cents END AS cents
                FROM o
                WHERE NOT (p = (SELECT tp FROM tgt)
                           AND o_orderkey % 10 = 3)
                UNION ALL
                SELECT o_orderkey + 10000000, o_orderstatus, p,
                       CAST(10000 AS BIGINT)
                FROM o, tgt WHERE p = tp AND o_orderkey % 5 = 0),
         g AS (SELECT p, o_orderstatus,
                      CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(cents) AS BIGINT) AS c
               FROM pc GROUP BY p, o_orderstatus)
         SELECT p AS _p, CAST(count(*) AS BIGINT) AS n_groups,
                CAST(sum(n) AS BIGINT) AS n_orders,
                CAST(sum(c) AS BIGINT) AS sum_cents,
                true AS equals_full_recompute,
                true AS untouched_intact,
                true AS affected_rewritten
         FROM g GROUP BY p ORDER BY p""",
    // ORC round-trip: values replay over the parquet original; the
    // pushdown boolean is read from the executed plan and pinned.
    "sink_orc_roundtrip" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                true AS filter_pushed_to_orc
         FROM orders WHERE o_totalprice > 150000.0""",
    // Vacuum: deletion set and retention guard are engine-observed;
    // the oracle proves the live data survived untouched (4 files from
    // repartition(4), 3 planted orphans, 2 past the horizon).
    "sink_vacuum_retention" ->
      """SELECT CAST(4 AS BIGINT) AS n_live_files,
                CAST(3 AS BIGINT) AS n_orphans_planted,
                CAST(2 AS BIGINT) AS n_deleted,
                true AS stale_orphans_gone,
                true AS fresh_orphan_kept,
                true AS live_files_kept,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents
         FROM lineitem""",
    // Late-data drop: the final windows equal the on-time half's batch
    // aggregate; the dropped count is the engine's own state metric,
    // pinned equal to the late half's distinct (window, type) group
    // count (the watermark filter sits behind partial aggregation).
    "stream_late_drop" ->
      """WITH a AS (SELECT * FROM events WHERE event_id % 2 = 0)
         SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                  AS window_start,
                event_type, CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                CAST((SELECT count(*) FROM
                        (SELECT DISTINCT date_trunc('hour', ts), event_type
                         FROM events WHERE event_id % 2 = 1))
                  AS BIGINT) AS n_late_groups,
                true AS drops_in_band
         FROM a GROUP BY window_start, event_type
         ORDER BY window_start, event_type""",
    // CDC apply: the final table state is a pure function of the base
    // snapshot and the two deterministic change batches; the per-batch
    // copy-on-write witnesses and batch count are engine-observed and
    // pinned.
    "stream_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CAST(year(o_orderdate) AS INT) AS p FROM orders),
         tgt AS (SELECT min(p) AS tp FROM base),
         after_a AS (SELECT o_orderkey,
                            CASE WHEN p = (SELECT tp FROM tgt)
                                      AND o_orderkey % 2 = 0
                                 THEN cents * 2
                                 ELSE cents END AS cents,
                            p
                     FROM base
                     WHERE NOT (p = (SELECT tp FROM tgt)
                                AND o_orderkey % 10 = 3)),
         ins AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                        CAST(10000 AS BIGINT) AS cents, p
                 FROM base, tgt WHERE p = tp AND o_orderkey % 5 = 0),
         fin AS (SELECT * FROM after_a UNION ALL SELECT * FROM ins)
         SELECT p AS _p, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                true AS untouched_intact, true AS affected_rewritten,
                CAST(2 AS BIGINT) AS batches_applied
         FROM fin GROUP BY p ORDER BY p""",
    // MERGE semantics replayed as a full-outer join over the same
    // deterministic change batch; the copy-on-write file witnesses are
    // engine-observed and pinned true.
    "sink_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  CAST(year(o_orderdate) AS INT) AS p FROM orders),
         tgt AS (SELECT min(p) AS tp FROM base),
         upd AS (SELECT o_orderkey, cents * 2 AS cents, p
                 FROM base, tgt WHERE p = tp AND o_orderkey % 2 = 0),
         ins AS (SELECT o_orderkey + 100000000000 AS o_orderkey,
                        CAST(10000 AS BIGINT) AS cents, p
                 FROM base, tgt WHERE p = tp AND o_orderkey % 5 = 0),
         del AS (SELECT o_orderkey, CAST(NULL AS BIGINT) AS cents,
                        p
                 FROM base, tgt WHERE p = tp AND o_orderkey % 10 = 3),
         src AS (SELECT *, 'upsert' AS op FROM upd
                 UNION ALL SELECT *, 'upsert' AS op FROM ins
                 UNION ALL SELECT *, 'delete' AS op FROM del),
         merged AS (SELECT COALESCE(s.o_orderkey, t.o_orderkey)
                             AS o_orderkey,
                           COALESCE(s.cents, t.cents) AS cents,
                           COALESCE(s.p, t.p) AS p
                    FROM base t FULL OUTER JOIN src s
                      ON t.o_orderkey = s.o_orderkey AND t.p = s.p
                    WHERE s.op IS NULL OR s.op <> 'delete')
         SELECT p AS _p, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents,
                true AS untouched_intact, true AS affected_rewritten
         FROM merged GROUP BY p ORDER BY p""",
    // Compaction preserves rows and values; the engine-observed file
    // counts are pinned (64 residue files -> 2).
    "sink_compact_small_files" ->
      """SELECT CAST(64 AS BIGINT) AS files_before,
                CAST(2 AS BIGINT) AS files_after,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents
         FROM lineitem""",
    // Manifest-style skipping index: the pruned read (stats-selected
    // files + residual filter) must equal the full-table filter; the
    // oracle recomputes the data-derived window and the true
    // aggregates, and pins the engine-measured pruning booleans.
    "source_file_stats_index" ->
      """WITH o AS (SELECT
                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                  datediff('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE)) AS d
                FROM orders),
         b AS (SELECT min(d) AS d0, max(d) AS d1 FROM o),
         w AS (SELECT d0 + greatest(d1 - d0, 1) // 2 AS lo,
                      d0 + greatest(d1 - d0, 1) // 2
                         + greatest(d1 - d0, 1) // 10 AS hi FROM b)
         SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(COALESCE(sum(cents), 0) AS BIGINT) AS sum_cents,
                true AS pruned_equals_full,
                true AS files_skipped,
                true AS stats_complete
         FROM o, w WHERE d >= lo AND d <= hi""",
    // Per-file bloom index: the oracle recomputes the deterministic
    // mid-range probe-key set and the true lookup aggregates; the
    // bloom/stats pruning booleans and row-identity witness are
    // engine-measured and pinned.
    "source_file_bloom_index" ->
      """WITH d AS (SELECT DISTINCT l_orderkey FROM lineitem),
         r AS (SELECT l_orderkey,
                      ROW_NUMBER() OVER (ORDER BY l_orderkey) AS rn
               FROM d),
         k AS (SELECT l_orderkey FROM r
               WHERE rn > (SELECT count(*) // 2 FROM d)
                 AND rn <= (SELECT count(*) // 2 FROM d) + 5)
         SELECT CAST((SELECT count(*) FROM k) AS BIGINT) AS n_keys,
                CAST(count(*) AS BIGINT) AS n_rows,
                round(sum(l_extendedprice), 2) AS sum_price,
                CAST(16 AS BIGINT) AS files_total,
                true AS bloom_pruned,
                true AS stats_prune_zero,
                true AS pruned_equals_full
         FROM lineitem
         WHERE l_orderkey IN (SELECT l_orderkey FROM k)""",
    // Z-order layout: file-range pruning under a date slice is a
    // deterministic function of the data and the seeded layout — the
    // engine measures per-file min/max from the written files and
    // asserts the booleans; the oracle proves the rewrite conserved
    // rows and values.
    "sink_zorder_layout" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                true AS layouts_nonempty,
                true AS zorder_prunes,
                true AS zorder_beats_linear
         FROM orders""",
    // 3-D Z-order: the two-predicate (day × price) slice prunes the
    // 3-ary layout harder than the 2-ary one — booleans are the
    // engine's measured per-file range checks; the oracle proves the
    // rewrite conserved rows and values.
    "sink_zorder_3d" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                true AS layouts_nonempty,
                true AS zorder3d_prunes,
                true AS zorder3d_beats_2d
         FROM orders""",
    // The observed in-flight metrics must equal a direct aggregate —
    // validation counters piggybacked on the write scan, no re-read.
    "observe_quality_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CASE WHEN o_totalprice IS NULL
                              OR o_totalprice <= 0
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_price,
                CAST(sum(CASE WHEN o_orderdate IS NULL
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_null_date,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
         FROM orders""",
    // AQE's runtime skew split must not change results; the flag is the
    // engine's own executed-plan assertion that it actually fired.
    "skew_aqe_join" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 10 <> 0 THEN 0
                               ELSE l_orderkey % 25 END AS hot_key,
                  l_extendedprice
               FROM lineitem),
         d AS (SELECT n_nationkey AS hot_key, n_name AS status
               FROM nation)
         SELECT d.status, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(f.l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS sum_cents,
                TRUE AS skew_split_applied
         FROM f JOIN d ON f.hot_key = d.hot_key
         GROUP BY d.status ORDER BY d.status""",
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver contract (SURVEY.md §7): the board of queries the driver
  * runs, each one operator from SURVEY.md §2 expressed as a pure
  * `(SparkSession, sfDir) => DataFrame`, and the DuckDB-equivalent ANSI
  * SQL the driver hash-compares its result against. Column names and
  * types are aligned on both sides (decimals for money, BIGINT counts,
  * floor-scaled ratios) so hashes match exactly.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    dws.ProvinceStats(spark, "/root/testdata/sf0.001")

  private type Op = (SparkSession, String) => DataFrame
  private[graft] final case class Entry(name: String, op: Op, oracle: Option[() => String])
  // the oracle is by-name, so listing the board initializes no module
  private def q(name: String, op: Op, oracle: => String) = Entry(name, op, Some(() => oracle))
  private def noOracle(name: String, op: Op) = Entry(name, op, None)

  // table binders: every operator is a frame transform, and the board
  // is the one place that binds it to the table it runs over
  private def docs(f: DataFrame => DataFrame): Op = (s, d) => f(Tables.documents(s, d))
  private def events(f: DataFrame => DataFrame): Op = (s, d) => f(Tables.events(s, d))
  private def orders(f: DataFrame => DataFrame): Op = (s, d) => f(Tables.orders(s, d))
  private def collapsed(f: DataFrame => DataFrame): Op = docs(t => f(llm.Dedup.collapsedDocs(t)))

  /** The board. Pairing rule: each query is declared here once, with its
    * operator and either its oracle SQL (`q`) or an explicit `noOracle`
    * when no SQL reproduces its answer (a rows-only check); `queries`
    * and `oracleSql` are both derived from this list. */
  private[graft] def board: Seq[Entry] = Seq(
    // DWD — log split / flag repair / CDC routing (§2.3, §2.5)
    q("q_dwd_log_split", dwd.LogSplit.demux(_, _), dwd.LogSplit.demuxOracle),
    q("q_dwd_is_new_repair", dwd.LogSplit.isNewRepair(_, _), dwd.LogSplit.isNewRepairOracle),
    q("q_dwd_db_route", dwd.DbRouter(_, _), dwd.DbRouter.oracle),
    q("q_dwd_dim_autocreate", dwd.DbRouter.dimAutoCreate(_, _), dwd.DbRouter.dimAutoCreateOracle),
    q("q_dwd_dim_upsert", dwd.DbRouter.dimUpsert(_, _), dwd.DbRouter.dimUpsertOracle),
    q("q_dwd_start_split", dwd.LogNested.startSplit(_, _), dwd.LogNested.startSplitOracle),
    q("q_dwd_display_explode", dwd.LogNested.displayExplode(_, _),
      dwd.LogNested.displayExplodeOracle),
    q("q_dwd_action_explode", dwd.LogNested.actionExplode(_, _), dwd.LogNested.actionExplodeOracle),
    q("q_dws_province_stats_sql", dws.ProvinceStats.sqlForm(_, _), dws.ProvinceStats.oracle),
    q("q_dws_display_stats", dwd.LogNested.displayStats(_, _), dwd.LogNested.displayStatsOracle),
    q("q_dwd_cdc_route", dwd.CdcEnvelope(_, _), dwd.CdcEnvelope.oracle),
    // SCD2 family: interval build, point-in-time lookup, snapshot diff
    q("q_dwd_scd2", events(dwd.Scd2.scd2Of), dwd.Scd2.scd2Oracle),
    q("q_dwm_scd2_pit", events(dwd.Scd2.pitOf), dwd.Scd2.pitOracle),
    q("q_dwd_snapshot_diff", orders(dwd.Scd2.snapshotDiffOf), dwd.Scd2.snapshotDiffOracle),
    // DWM — dedup / CEP-bounce / interval + dim joins (§2.4, §2.5)
    q("q_dwm_unique_visit", dwm.UniqueVisit(_, _), dwm.UniqueVisit.oracle),
    q("q_dwm_jump_detect", dwm.JumpDetect(_, _), dwm.JumpDetect.oracle),
    q("q_dwm_order_wide", dwm.OrderWide(_, _), dwm.OrderWide.oracle),
    q("q_dwm_order_wide_dims", dwm.OrderWide.withDims(_, _), dwm.OrderWide.withDimsOracle),
    q("q_dwm_payment_wide", dwm.OrderWide.paymentWide(_, _), dwm.OrderWide.paymentWideOracle),
    // As-of join (point-in-time lookup; J1/J2's unbounded-lower limit)
    q("q_asof_latest_order", operators.AsOf.latestOrderQuery(_, _),
      operators.AsOf.latestOrderOracle),
    q("q_asof_next_order", operators.AsOf.nextOrderQuery(_, _), operators.AsOf.nextOrderOracle),
    q("q_asof_nearest_order", operators.AsOf.nearestOrderQuery(_, _),
      operators.AsOf.nearestOrderOracle),
    // same operator on the custom-plan tier (AsOfJoinPlan/Exec +
    // pushdown/pruning rule) — identical contract, shared oracle
    q("q_asof_latest_order_native", plans.NativeAsOf.latestOrderQuery(_, _),
      operators.AsOf.latestOrderOracle),
    // Keyless value-range join via the bucket device (no BNLJ/cartesian)
    q("q_range_price_band", operators.RangeJoin.priceBandQuery(_, _),
      operators.RangeJoin.priceBandOracle),
    q("q_range_band_overlap", operators.RangeJoin.bandOverlapQuery(_, _),
      operators.RangeJoin.bandOverlapOracle),
    q("q_range_band_overlap_auto", operators.RangeJoin.bandOverlapAutoQuery(_, _),
      operators.RangeJoin.bandOverlapOracle),
    q("q_range_price_band_auto", operators.RangeJoin.priceBandAutoQuery(_, _),
      operators.RangeJoin.priceBandOracle),
    // Skew mitigation: salted fact×dim join, result-invisible salt
    q("q_skew_salted_agg", func.Skew.saltedJoinQuery(_, _), func.Skew.saltedJoinOracle),
    // DWS — windowed stats (§2.6)
    q("q_dws_visitor_stats", dws.VisitorStats(_, _), dws.VisitorStats.oracle),
    q("q_dws_visitor_stats_hop", dws.VisitorStats.hopping(_, _), dws.VisitorStats.hoppingOracle),
    q("q_dws_product_stats", dws.ProductStats(_, _), dws.ProductStats.oracle),
    q("q_dws_keyword_stats", dws.KeywordStats(_, _), dws.KeywordStats.oracle),
    // dictionary-shaped segmenter (FMM + bigram fallback); its oracle
    // replays the full algorithm incl. the CJK path (r13)
    q("q_dws_keyword_stats_dict", dws.KeywordStats.dictForm(_, _), dws.KeywordStats.dictOracle),
    q("q_dws_keyword_c2r", dws.KeywordStats.productC2R(_, _), dws.KeywordStats.productC2ROracle),
    q("q_dws_province_stats", dws.ProvinceStats(_, _), dws.ProvinceStats.oracle),
    // approximate-distinct bench variant (rows-only check; HLL estimates
    // are not oracle-comparable)
    noOracle("q_dws_product_stats_approx", dws.ProductStats.approx(_, _)),
    // ADS — the dashboard query surface (§2.7)
    q("q_ads_gmv_day", ads.Queries.gmvDay(_, _), ads.Queries.gmvDayOracle),
    q("q_ads_top_trademark", ads.Queries.topTrademark(_, _), ads.Queries.topTrademarkOracle),
    q("q_ads_top_category", ads.Queries.topCategory(_, _), ads.Queries.topCategoryOracle),
    q("q_ads_top_spu", ads.Queries.topSpu(_, _), ads.Queries.topSpuOracle),
    q("q_ads_visitor_newflag", ads.Queries.visitorByNewFlag(_, _),
      ads.Queries.visitorByNewFlagOracle),
    q("q_ads_hourly_curve", ads.Queries.hourlyCurve(_, _), ads.Queries.hourlyCurveOracle),
    q("q_ads_keyword_ranking", ads.Queries.keywordRanking(_, _), ads.Queries.keywordRankingOracle),
    q("q_ads_province_map", ads.Queries.provinceMap(_, _), ads.Queries.provinceMapOracle),
    q("q_ads_visitor_ratios", ads.Queries.visitorRatios(_, _), ads.Queries.visitorRatiosOracle),
    q("q_ads_hour_backfill", ads.Queries.hourBackfill(_, _), ads.Queries.hourBackfillOracle),
    // event-sequence analytics: ordered conversion funnel + cohort
    // retention (both integer epoch-ms/epoch-day arithmetic)
    q("q_ads_funnel", events(ads.EventFlows.funnelOf), ads.EventFlows.funnelOracle),
    q("q_ads_retention", events(ads.EventFlows.retentionOf), ads.EventFlows.retentionOracle),
    q("q_ads_sessionize", events(ads.EventFlows.sessionizeOf), ads.EventFlows.sessionizeOracle),
    q("q_ads_active_users", events(ads.EventFlows.activeUsersOf), ads.EventFlows.activeUsersOracle),
    // day-over-day GMV growth + RFM quintile segmentation + per-group top-N
    q("q_ads_gmv_growth", ads.Queries.gmvGrowth(_, _), ads.Queries.gmvGrowthOracle),
    q("q_ads_rfm", ads.Queries.rfm(_, _), ads.Queries.rfmOracle),
    q("q_ads_top_brand_region", ads.Queries.topBrandRegion(_, _), ads.Queries.topBrandRegionOracle),
    // market-basket co-purchase pair mining
    q("q_ads_copurchase", ads.Queries.copurchase(_, _), ads.Queries.copurchaseOracle),
    // path analytics: Markov transition matrix + conversion-latency
    // histogram (r8)
    q("q_ads_transitions", events(ads.EventPaths.transitionsOf), ads.EventPaths.transitionsOracle),
    q("q_ads_time_to_convert", events(ads.EventPaths.timeToConvertOf),
      ads.EventPaths.timeToConvertOracle),
    // cross-source rare-shingle overlap (data-card mirror detection)
    q("q_llm_source_overlap", docs(llm.Dedup.sourceOverlapOf), llm.Dedup.sourceOverlapOracle),
    // Sink layer (K2–K5): real write → read-back through each sink path
    q("q_sink_dedup_latest", sinks.Sinks.dedupLatestQuery(_, _), sinks.Sinks.dedupLatestOracle),
    q("q_sink_route", sinks.Sinks.routeQuery(_, _), sinks.Sinks.routeOracle),
    q("q_sink_republish", sinks.Sinks.republishQuery(_, _), sinks.Sinks.republishOracle),
    q("q_sink_bucketed_join", sinks.Sinks.bucketedJoinQuery(_, _), sinks.Sinks.bucketedJoinOracle),
    // LLM-data-pipeline operators (brief north star): dedup,
    // similarity search, text analysis, multimodal plumbing
    q("q_llm_exact_dedup", llm.Dedup.exact(_, _), llm.Dedup.exactOracle),
    q("q_llm_minhash_sig", llm.Dedup.minhashSignatures(_, _), llm.Dedup.minhashOracle),
    q("q_llm_lsh_dups", docs(llm.Dedup.lshDuplicatesOf(_)), llm.Dedup.lshOracle),
    q("q_llm_lsh_dups_collapsed", collapsed(llm.Dedup.lshDuplicatesOf(_)),
      llm.Dedup.lshCollapsedOracle),
    q("q_llm_dedup_keeplist", llm.Dedup.keepList(_, _), llm.Dedup.keepListOracle),
    q("q_llm_dedup_closure", llm.Dedup.dedupClosure(_, _), llm.Dedup.dedupClosureOracle),
    q("q_llm_ngram_jaccard", docs(llm.Dedup.ngramJaccardOf), llm.Dedup.ngramJaccardOracle),
    q("q_llm_simhash", docs(llm.Dedup.simhashOf), llm.Dedup.simhashOracle),
    q("q_llm_simhash_dups", docs(llm.Dedup.simhashDuplicatesOf), llm.Dedup.simhashDupOracle),
    // mass-duplication guards for the other pair-emitting families —
    // same exact-collapse device as lsh_dups_collapsed (r14)
    q("q_llm_simhash_dups_collapsed", collapsed(llm.Dedup.simhashDuplicatesOf),
      llm.Dedup.simhashDupCollapsedOracle),
    q("q_llm_ngram_jaccard_collapsed", collapsed(llm.Dedup.ngramJaccardOf),
      llm.Dedup.ngramJaccardCollapsedOracle),
    q("q_llm_ngram_jaccard_prefix", llm.Dedup.ngramJaccardPrefix(_, _),
      llm.Dedup.ngramJaccardPrefixOracle),
    q("q_llm_ngram_jaccard_prefix_collapsed", collapsed(llm.Dedup.ngramJaccardPrefixOf),
      llm.Dedup.ngramJaccardPrefixCollapsedOracle),
    q("q_llm_containment_collapsed", collapsed(llm.Dedup.containmentOf),
      llm.Dedup.containmentCollapsedOracle),
    // exact-substring family: per-doc coverage by cross-doc repeated spans
    q("q_llm_span_coverage", docs(llm.Dedup.spanCoverageOf), llm.Dedup.spanCoverageOracle),
    // steady-state ingest: new batch deduped against the corpus snapshot
    q("q_llm_incremental_dedup", docs(llm.Dedup.incrementalDedupOf),
      llm.Dedup.incrementalDedupOracle),
    q("q_llm_ann_topk", llm.Similarity.bruteTopK(_, _), llm.Similarity.bruteTopKOracle),
    // no oracle: centroid means are an unordered float sum, not SQL-
    // reproducible; q_llm_ann_recall makes the IVF path driver-decidable
    // anyway (its oracle pins per-query recall-floor flags the quantizer
    // must hit), and aggregate recall vs q_llm_ann_topk is in the suite.
    noOracle("q_llm_ann_ivf", llm.Similarity.ivfTopK(_, _)),
    q("q_llm_ann_recall", llm.Similarity.ivfRecall(_, _), llm.Similarity.ivfRecallOracle),
    // full-probe identity: IVF at nprobe=KCells must equal bruteTopK
    // bit-for-bit — shares the brute oracle (hash check)
    q("q_llm_ann_fullprobe", llm.Similarity.ivfTopK(_, _, nprobe = llm.Similarity.KCells),
      llm.Similarity.bruteTopKOracle),
    q("q_llm_embed_neardup", llm.Similarity.lshNearDup(_, _), llm.Similarity.lshNearDupOracle),
    // PQ-ADC + exact rescore (rows-only: float scores; quality is
    // adjudicated by the hash-green recall query below)
    noOracle("q_llm_ann_pq", llm.Similarity.pqTopK(_, _)),
    q("q_llm_ann_pq_recall", llm.Similarity.pqRecall(_, _), llm.Similarity.pqRecallOracle),
    // IVFADC: coarse cells x PQ codes x exact rescore (rows-only) +
    // its hash-green recall adjudicator
    noOracle("q_llm_ann_ivfpq", llm.Similarity.ivfPqTopK(_, _)),
    q("q_llm_ann_ivfpq_recall", llm.Similarity.ivfPqRecall(_, _), llm.Similarity.ivfPqRecallOracle),
    // semantic dedup: sign-LSH pairs -> connected components -> keepers
    q("q_llm_embed_keeplist", llm.Similarity.embedKeepList(_, _),
      llm.Similarity.embedKeepListOracle),
    // production regime (cos >= 0.9, SemDeDup threshold — above the
    // dim-64 noise floor at any corpus size). The sf corpora hold no
    // cos >= 0.9 pair, so the pair query is hash-green at 0 rows here
    // (the oracle lock is the banding + threshold arithmetic);
    // row-level evidence for the 0.9 path is SimilaritySpec's
    // planted-twin corpus, where it must find exactly the plants
    q("q_llm_embed_neardup_prod",
      llm.Similarity.lshNearDup(_, _, thresholdPpm = llm.Similarity.NearDupProdPpm),
      llm.Similarity.lshNearDupProdOracle),
    q("q_llm_embed_keeplist_prod",
      llm.Similarity.embedKeepList(_, _, thresholdPpm = llm.Similarity.NearDupProdPpm),
      llm.Similarity.embedKeepListProdOracle),
    // scale-aware banding: band width derived from corpus cardinality
    // (the measured-linear configuration; oracle re-derives the width
    // from count(*) so lockstep holds at any scale)
    q("q_llm_embed_keeplist_scaled", llm.Similarity.embedKeepListScaled(_, _),
      llm.Similarity.embedKeepListScaledOracle),
    q("q_llm_lang_id", llm.TextAnalysis.langId(_, _), llm.TextAnalysis.langIdOracle),
    q("q_llm_quality", llm.TextAnalysis.qualityScore(_, _), llm.TextAnalysis.qualityOracle),
    q("q_llm_token_stats", docs(llm.TextAnalysis.tokenStatsOf), llm.TextAnalysis.tokenStatsOracle),
    q("q_llm_fingerprint", docs(llm.TextAnalysis.fingerprintOf),
      llm.TextAnalysis.fingerprintOracle),
    // integer TF-DF ranking: top-k keywords per doc, WindowGroupLimit
    q("q_llm_doc_keywords", docs(llm.TextAnalysis.docKeywordsOf),
      llm.TextAnalysis.docKeywordsOracle),
    // lexical index structures: token->postings + exact-rational IDF
    q("q_llm_inverted_index", docs(llm.Index.invertedIndexOf), llm.Index.invertedIndexOracle),
    q("q_llm_idf_rarity", docs(llm.Index.idfRarityOf), llm.Index.idfRarityOracle),
    q("q_llm_bm25", docs(llm.Index.bm25Of), llm.Index.bm25Oracle),
    // real BPE merge loop: corpus-weighted pair argmax x3, then the
    // induced symbol vocabulary (oracle re-derives the merges in SQL)
    q("q_llm_bpe_merges", llm.Bpe.merges(_, _), llm.Bpe.mergesOracle),
    q("q_llm_bpe_vocab", llm.Bpe.vocab(_, _), llm.Bpe.vocabOracle),
    q("q_llm_bpe_tokenize", llm.Bpe.tokenize(_, _), llm.Bpe.tokenizeOracle),
    q("q_llm_bpe_fertility", llm.Bpe.fertility(_, _), llm.Bpe.fertilityOracle),
    // integer bigram-MLE fluency (the KenLM-perplexity filter family)
    q("q_llm_bigram_lm", docs(llm.LangModel.bigramScoreOf), llm.LangModel.bigramScoreOracle),
    q("q_llm_multimodal_meta", llm.Multimodal.metaQuery(_, _), llm.Multimodal.metaOracle),
    q("q_llm_mm_resize", llm.Multimodal.resizeQuery(_, _), llm.Multimodal.resizeOracle),
    q("q_llm_mm_frames", llm.Multimodal.frameSample(_, _), llm.Multimodal.frameSampleOracle),
    q("q_llm_mm_features", llm.Multimodal.features(_, _), llm.Multimodal.featuresOracle),
    // Corpus curation: Gopher-style repetition signals, deterministic
    // hash splits, per-language quantile calibration
    q("q_llm_repetition", docs(llm.CorpusOps.repetitionOf), llm.CorpusOps.repetitionOracle),
    q("q_llm_hash_split", llm.CorpusOps.hashSplit(_, _), llm.CorpusOps.hashSplitOracle),
    q("q_llm_quality_quantiles", docs(llm.CorpusOps.qualityQuantilesOf),
      llm.CorpusOps.qualityQuantilesOracle),
    // (exact, from per-(lang, score) counts; the hq sketch pair below
    // is the add-mergeable estimate of the same quantiles)
    q("q_llm_packing", docs(llm.CorpusOps.packingOf), llm.CorpusOps.packingOracle),
    q("q_llm_packing_sharded", docs(llm.CorpusOps.packingShardedOf),
      llm.CorpusOps.packingShardedOracle),
    // corpus layout: deterministic training shuffle, length data card,
    // pack-utilization report; PMI collocation mining
    q("q_llm_corpus_shuffle", docs(llm.CorpusLayout.corpusShuffleOf),
      llm.CorpusLayout.corpusShuffleOracle),
    q("q_llm_length_hist", docs(llm.CorpusLayout.lengthHistOf), llm.CorpusLayout.lengthHistOracle),
    q("q_llm_pack_util", llm.CorpusLayout.packUtil(_, _), llm.CorpusLayout.packUtilOracle),
    q("q_llm_pmi", docs(llm.Colloc.pmiOf), llm.Colloc.pmiOracle),
    // per-language bigram heavy hitters (the common-pair data card)
    q("q_llm_top_ngrams", docs(llm.Colloc.topNgramsOf), llm.Colloc.topNgramsOracle),
    // largest-remainder exact token-budget allocation across languages
    q("q_llm_split_alloc", docs(llm.CorpusLayout.splitAllocOf), llm.CorpusLayout.splitAllocOracle),
    q("q_llm_pack_payload", docs(llm.CorpusOps.packPayloadOf), llm.CorpusOps.packPayloadOracle),
    // payloads written as a (lang, shard)-partitioned directory and
    // read back — the durable training-shard layout, manifest-checked
    q("q_llm_shard_export", llm.CorpusOps.shardExport(_, _), llm.CorpusOps.shardExportOracle),
    q("q_llm_contamination", llm.CorpusOps.contamination(_, _), llm.CorpusOps.contaminationOracle),
    // bloom-semijoin scale form — bit-identical output (no false
    // negatives + exact verify), so it shares the exact form's oracle
    q("q_llm_contamination_bloom", llm.CorpusOps.contaminationBloom(_, _),
      llm.CorpusOps.contaminationOracle),
    // per-bucket bloom shards (the ≫10⁹-shingle form) — also
    // bit-identical, also shares the exact oracle
    q("q_llm_contamination_bloom_sharded", llm.CorpusOps.contaminationBloomSharded(_, _),
      llm.CorpusOps.contaminationOracle),
    q("q_llm_mixture_sample", docs(llm.CorpusOps.mixtureSampleOf),
      llm.CorpusOps.mixtureSampleOracle),
    q("q_llm_mixture_sample_strat", docs(llm.CorpusOps.mixtureSampleStratifiedOf),
      llm.CorpusOps.mixtureSampleStratifiedOracle),
    // data-driven rates: temperature sampling over per-lang token mass
    q("q_llm_mixture_temperature", docs(llm.CorpusOps.mixtureTemperatureOf),
      llm.CorpusOps.mixtureTemperatureOracle),
    // per-rule rejection counts + survivors, one typed pass
    q("q_llm_filter_funnel", docs(llm.CorpusOps.filterFunnelOf), llm.CorpusOps.filterFunnelOracle),
    q("q_llm_corpus_report", llm.CorpusOps.corpusReport(_, _), llm.CorpusOps.corpusReportOracle),
    q("q_llm_vocab_report", llm.CorpusOps.vocabReport(_, _), llm.CorpusOps.vocabReportOracle),
    q("q_llm_chunking", docs(llm.CorpusOps.chunkOf(_)), llm.CorpusOps.chunkOracle),
    // composed pipeline: chunk long docs, pack the chunks — the whole
    // two-stage layout restated in one oracle (hash-checked end to end)
    q("q_llm_chunk_pack", llm.CorpusOps.chunkThenPack(_, _), llm.CorpusOps.chunkThenPackOracle),
    // master pipeline: dedup keep-list → mixture → split → volume
    // report, all four stages restated in one oracle
    q("q_llm_curation_pipeline", llm.CorpusOps.curationPipeline(_, _),
      llm.CorpusOps.curationPipelineOracle),
    q("q_llm_quantize_int8", llm.Similarity.quantizeInt8(_, _), llm.Similarity.quantizeInt8Oracle),
    q("q_llm_top_quality", llm.CorpusOps.topQuality(_, _), llm.CorpusOps.topQualityOracle),
    // curation extensions (r8): model-based quality scoring, corpus-
    // common block removal, fractional-epoch upsampling
    q("q_llm_quality_model", docs(llm.QualityModel.scoreOf), llm.QualityModel.scoreOracle),
    q("q_llm_boilerplate", docs(llm.Boilerplate.boilerplateOf), llm.Boilerplate.boilerplateOracle),
    q("q_llm_upsample", docs(llm.Upsample.upsampleOf), llm.Upsample.upsampleOracle),
    q("q_llm_packing_upsampled", docs(llm.Upsample.packingUpsampledOf),
      llm.Upsample.packingUpsampledOracle),
    // vocabulary data cards + n-gram novelty + curriculum bands (r8)
    q("q_llm_vocab_coverage", docs(llm.VocabCoverage.vocabCoverageOf),
      llm.VocabCoverage.vocabCoverageOracle),
    q("q_llm_oov_rate", docs(llm.VocabCoverage.oovRateOf), llm.VocabCoverage.oovRateOracle),
    q("q_llm_novelty", docs(llm.Novelty.noveltyOf), llm.Novelty.noveltyOracle),
    q("q_llm_curriculum", docs(llm.CorpusLayout.curriculumOf), llm.CorpusLayout.curriculumOracle),
    // near-dup clusters survive their best-quality member (r8)
    q("q_llm_quality_keeplist", llm.Dedup.qualityKeepList(_, _), llm.Dedup.qualityKeepListOracle),
    // PII compliance pass + CCNet perplexity terciles + source drift (r9)
    q("q_llm_pii_scan", llm.Pii.piiScan(_, _), llm.Pii.piiScanOracle),
    q("q_llm_pii_redact", llm.Pii.piiRedact(_, _), llm.Pii.piiRedactOracle),
    q("q_llm_ppl_filter", docs(llm.LangModel.pplFilterOf), llm.LangModel.pplFilterOracle),
    q("q_llm_source_divergence", docs(llm.Divergence.sourceDivergenceOf),
      llm.Divergence.sourceDivergenceOracle),
    // JSON-lines file source: schema-on-read + corrupt accounting (r9)
    q("q_src_json_roundtrip", sources.JsonLines.jsonRoundtrip(_, _),
      sources.JsonLines.jsonRoundtripOracle),
    // co-purchase graph centrality: integer PageRank, bounded rounds (r9)
    q("q_ads_item_rank", ads.ItemRank.itemRank(_, _), ads.ItemRank.itemRankOracle),
    // hourly volume anomaly flags + last-touch attribution (r9)
    q("q_ads_hourly_anomaly", events(ads.EventFlows.hourlyAnomalyOf),
      ads.EventFlows.hourlyAnomalyOracle),
    q("q_ads_attribution", events(ads.EventFlows.attributionOf), ads.EventFlows.attributionOracle),
    // per-dimension embedding data card over int8 codes (r9)
    q("q_llm_embed_dimstats", llm.Similarity.embedDimStats(_, _),
      llm.Similarity.embedDimStatsOracle),
    // token-budget data selection + leakage-safe splits (r9)
    q("q_llm_budget_select", docs(llm.CorpusLayout.budgetSelectOf),
      llm.CorpusLayout.budgetSelectOracle),
    q("q_llm_leakage_split", llm.CorpusOps.leakageSplit(_, _), llm.CorpusOps.leakageSplitOracle),
    // BI shapes over the marts: pivot / rollup / RANGE frame / exact
    // distributed median (r9)
    q("q_ads_pivot_segment", ads.Rollups.pivotSegment(_, _), ads.Rollups.pivotSegmentOracle),
    // pivot's inverse: melt daily metrics to long form (r16)
    q("q_ads_metrics_melt", ads.Rollups.metricsMelt(_, _), ads.Rollups.metricsMeltOracle),
    q("q_ads_gmv_rollup", ads.Rollups.gmvRollup(_, _), ads.Rollups.gmvRollupOracle),
    q("q_ads_gmv_ma7", ads.Rollups.gmvMa7(_, _), ads.Rollups.gmvMa7Oracle),
    q("q_ads_price_median", ads.Rollups.priceMedian(_, _), ads.Rollups.priceMedianOracle),
    // mergeable integer sketches: HLL registers + estimate, Count-Min
    // matrix + heavy-hitter point query (r9)
    q("q_llm_hll_sketch", docs(llm.Sketches.hllSketchOf), llm.Sketches.hllSketchOracle),
    q("q_llm_hll_estimate", docs(llm.Sketches.hllEstimateOf), llm.Sketches.hllEstimateOracle),
    q("q_llm_cms_sketch", docs(llm.Sketches.cmsSketchOf), llm.Sketches.cmsSketchOracle),
    q("q_llm_cms_topk", docs(llm.Sketches.cmsTopKOf), llm.Sketches.cmsTopKOracle),
    // KMV: the mergeable distinct sketch with SET OPERATIONS — union
    // and intersection estimates from the k-min lists alone (r14)
    q("q_llm_kmv_sketch", docs(llm.Sketches.kmvSketchOf), llm.Sketches.kmvSketchOracle),
    q("q_llm_hq_sketch", docs(llm.Sketches.hqSketchOf), llm.Sketches.hqSketchOracle),
    q("q_llm_hq_estimate", llm.Sketches.hqEstimate(_, _), llm.Sketches.hqEstimateOracle),
    q("q_llm_kmv_estimate", docs(llm.Sketches.kmvEstimateOf), llm.Sketches.kmvEstimateOracle),
    q("q_llm_kmv_overlap", docs(llm.Sketches.kmvOverlapOf), llm.Sketches.kmvOverlapOracle),
    // DSIR importance scores over hashed unigram features (r9)
    q("q_llm_dsir_score", docs(llm.Dsir.dsirScoreOf), llm.Dsir.dsirScoreOracle),
    // positional phrase search via the anchor device (r9)
    q("q_llm_phrase_search", docs(llm.Index.phraseSearchOf), llm.Index.phraseSearchOracle),
    // deterministic weighted sampling + dedup cluster histogram (r9)
    q("q_llm_weighted_sample", docs(llm.Sampling.weightedSampleOf),
      llm.Sampling.weightedSampleOracle),
    q("q_llm_cluster_hist", llm.Dedup.clusterHist(_, _), llm.Dedup.clusterHistOracle),
    // per-group HLL UV estimate — the sketch form of the reference's
    // per-window HashSet distinct counts (r9)
    q("q_ads_uv_sketch", events(llm.Sketches.uvSketchOf), llm.Sketches.uvSketchOracle),
    // triangle count via degree-ordered orientation (r9)
    q("q_ads_triangles", ads.ItemRank.triangles(_, _), ads.ItemRank.trianglesOracle),
    // dup-rate-vs-threshold sweep over verified near-dup pairs (r9)
    q("q_llm_dedup_sweep", llm.Similarity.dedupSweep(_, _), llm.Similarity.dedupSweepOracle),
    // MMR diversified selection over the ANN candidate pool (r9)
    q("q_llm_mmr_select", llm.Similarity.mmrSelect(_, _), llm.Similarity.mmrSelectOracle),
    // CSV file source: same corrupt-column contract via Univocity (r9)
    q("q_src_csv_roundtrip", sources.CsvLines.csvRoundtrip(_, _),
      sources.CsvLines.csvRoundtripOracle),
    q("q_src_orc_roundtrip", sources.OrcEvents.orcRoundtrip(_, _),
      sources.OrcEvents.orcRoundtripOracle),
    // date-partitioned lake: directory-level partition pruning (r16)
    q("q_src_lake_prune", sources.PartitionedLake.pruneQuery(_, _, "parquet"),
      sources.PartitionedLake.pruneOracle),
    q("q_src_lake_prune_orc", sources.PartitionedLake.pruneQuery(_, _, "orc"),
      sources.PartitionedLake.pruneOracle),
    // join-derived (DYNAMIC) partition pruning through a dim (r17)
    q("q_src_lake_dpp", sources.PartitionedLake.dppParquet(_, _),
      sources.PartitionedLake.dppOracle),
    q("q_src_lake_dpp_orc", sources.PartitionedLake.dppQuery(_, _, "orc"),
      sources.PartitionedLake.dppOracle),
    q("q_src_lake_star", sources.PartitionedLake.starQuery(_, _),
      sources.PartitionedLake.starOracle),
    // full corpus since r19 (file-sink drain) — the SAME oracle as
    // the batch overlap leg: streaming path, identical answer
    q("q_range_band_overlap_stream", operators.RangeJoin.bandOverlapStreamQuery(_, _),
      operators.RangeJoin.bandOverlapOracle),
    // the 2-D salt-grid streaming path under the SAME oracle: engine-
    // AND grid-independence in one cross-engine hash (r20)
    q("q_range_band_overlap_stream_salted",
      operators.RangeJoin.bandOverlapStreamQuery(_, _, salt = 2),
      operators.RangeJoin.bandOverlapOracle),
    q("q_range_price_band_salted", operators.RangeJoin.priceBandSaltedQuery(_, _),
      operators.RangeJoin.priceBandOracle),
    q("q_range_band_overlap_salted", operators.RangeJoin.bandOverlapSaltedQuery(_, _),
      operators.RangeJoin.bandOverlapOracle),
    // Heaps-law vocabulary growth curve (r9)
    q("q_llm_vocab_growth", docs(llm.VocabCoverage.vocabGrowthOf),
      llm.VocabCoverage.vocabGrowthOracle),
    // word-break DP (typed partition loop; HOF form is interpreted) (r9)
    q("q_llm_word_break", docs(llm.Segmentation.wordBreakOf), llm.Segmentation.wordBreakOracle),
    // asymmetric containment (near-subsumption) pairs (r9)
    q("q_llm_containment", docs(llm.Dedup.containmentOf), llm.Dedup.containmentOracle),
    // schema-evolution read: mergeSchema + generation partition (r9)
    q("q_src_schema_evolution", sources.SchemaEvolution.schemaEvolution(_, _),
      sources.SchemaEvolution.schemaEvolutionOracle),
    // content-defined chunking: rolling-hash boundaries + chunk dedup (r9)
    q("q_llm_cdc_chunks", docs(llm.Segmentation.cdcChunksOf), llm.Segmentation.cdcChunksOracle),
    q("q_llm_cdc_dedup", docs(llm.Segmentation.cdcDedupOf), llm.Segmentation.cdcDedupOracle),
    // sorted-neighborhood blocking (third candidate family) (r9)
    q("q_llm_sorted_neighbor", docs(llm.Dedup.sortedNeighborDupsOf),
      llm.Dedup.sortedNeighborDupsOracle),
    // join-key skew diagnostic feeding the salting decision (r9)
    q("q_ads_skew_report", func.Skew.skewReport(_, _), func.Skew.skewReportOracle),
    // Z-order layout stats: multi-column data-skipping envelopes (r9)
    q("q_ads_zorder_stats", func.ZOrder.zorderStats(_, _), func.ZOrder.zorderStatsOracle),
    // perceptual-hash near-dup over binary payloads (r9)
    q("q_llm_media_phash", llm.Multimodal.phashDups(_, _), llm.Multimodal.phashDupsOracle),
    // language-ID confusion matrix: the classifier eval harness (r9)
    q("q_llm_langid_eval", docs(llm.TextAnalysis.langIdEvalOf), llm.TextAnalysis.langIdEvalOracle),
    // model-vs-heuristic quality agreement (filter-swap diagnostic) (r9)
    q("q_llm_quality_agreement", docs(llm.QualityModel.qualityAgreementOf),
      llm.QualityModel.qualityAgreementOracle),
    // CUBE grouping sets: the column-marginal rollup cannot express (r9)
    q("q_ads_gmv_cube", ads.Rollups.gmvCube(_, _), ads.Rollups.gmvCubeOracle),
    // arbitrary grouping sets: just the two marginals (r16)
    q("q_ads_gmv_gsets", ads.Rollups.gmvGroupingSets(_, _), ads.Rollups.gmvGroupingSetsOracle)
  )

  /** Every board query by name. An immutable HashMap: its iteration
    * order is the run order of Bench and Verify. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    collection.immutable.HashMap.from(board.map(e => e.name -> e.op))

  /** The oracle SQL of every board query that has one, by name. */
  def oracleSql: Map[String, String] =
    collection.immutable.HashMap.from(board.flatMap(e => e.oracle.map(sql => e.name -> sql())))

  /** The board query named `name`; an unknown name fails with the list
    * of valid names. */
  def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; valid: ${queries.keys.toSeq.sorted.mkString(", ")}"))
}

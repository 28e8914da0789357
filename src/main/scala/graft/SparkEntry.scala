package graft

import graft.operators.{AsOfJoin, Dedup, PipelineOps, Relational, Similarity, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2.5's inventory is exposed as a named
  * query over `/root/testdata/<sf>` plus (where SQL-expressible) a
  * DuckDB oracle with byte-matched column names/types. Aggregates over
  * doubles accumulate in DECIMAL on both sides so results are exact and
  * order-independent — bit-identical across engines and across any
  * cluster partitioning.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // core relational (SURVEY §2.5)
    "q01_pricing_summary"    -> ((s, d) => Relational.pricingSummary(Tables(s, d))),
    "q02_revenue_filter"     -> ((s, d) => Relational.revenueFilter(Tables(s, d))),
    "q03_top_orders"         -> ((s, d) => Relational.topOrders(Tables(s, d))),
    "q04_order_priority"     -> ((s, d) => Relational.orderPriority(Tables(s, d))),
    "q05_customers_no_orders"-> ((s, d) => Relational.customersWithoutOrders(Tables(s, d))),
    "q06_nation_revenue"     -> ((s, d) => Relational.nationRevenue(Tables(s, d))),
    "q07_market_segments"    -> ((s, d) => Relational.marketSegments(Tables(s, d))),
    "q08_top_per_customer"   -> ((s, d) => Relational.topOrdersPerCustomer(Tables(s, d))),
    "q09_running_total"      -> ((s, d) => Relational.runningTotal(Tables(s, d))),
    "q10_order_gaps"         -> ((s, d) => Relational.orderGaps(Tables(s, d))),
    "q11_rollup"             -> ((s, d) => Relational.rollupRegionNation(Tables(s, d))),
    "q12_cube"               -> ((s, d) => Relational.cubeFlagStatus(Tables(s, d))),
    "q13_distinct_counts"    -> ((s, d) => Relational.distinctParts(Tables(s, d))),
    "q14_setop_intersect"    -> ((s, d) => Relational.setOpCustomers(Tables(s, d))),
    "q15_conditional_agg"    -> ((s, d) => Relational.priorityShipping(Tables(s, d))),
    "q16_having"             -> ((s, d) => Relational.bigSuppliers(Tables(s, d))),
    "q17_string_funcs"       -> ((s, d) => Relational.partStrings(Tables(s, d))),
    "q18_date_parts"         -> ((s, d) => Relational.ordersByMonth(Tables(s, d))),
    "q19_json_extract"       -> ((s, d) => Relational.eventProps(Tables(s, d))),
    "q20_event_windows"      -> ((s, d) => Relational.eventDailyWindows(Tables(s, d))),
    // text analysis + dedup (north star)
    "q21_fingerprints"       -> ((s, d) => TextOps.fingerprints(Tables(s, d))),
    "q22_exact_dedup"        -> ((s, d) => TextOps.exactDedup(Tables(s, d))),
    "q23_token_stats"        -> ((s, d) => TextOps.tokenStats(Tables(s, d))),
    "q24_lang_profile"       -> ((s, d) => TextOps.langProfile(Tables(s, d))),
    "q25_quality_scores"     -> ((s, d) => TextOps.qualityScores(Tables(s, d))),
    "q26_jaccard_pairs"      -> ((s, d) => TextOps.jaccardPairs(Tables(s, d))),
    "q27_simhash"            -> ((s, d) => TextOps.simhashes(Tables(s, d))),
    // similarity search (north star)
    "q28_cosine_pairs"       -> ((s, d) => Similarity.cosinePairs(Tables(s, d))),
    "q29_knn_bruteforce"     -> ((s, d) => Similarity.knnBruteForce(Tables(s, d))),
    "q30_label_centroids"    -> ((s, d) => Similarity.labelCentroids(Tables(s, d))),
    // scale-path near-dedup (rows-only: LSH banding has no SQL oracle)
    "q31_minhash_pairs"      -> ((s, d) => Dedup.minhashPairs(Tables(s, d))),
    "q32_simhash_pairs"      -> ((s, d) => Dedup.simhashPairs(Tables(s, d))),
    // multimodal binary columns (deterministic stub codec — both
    // oracle-checked: the fake decode is float32 arithmetic DuckDB
    // reproduces bit-exactly)
    "q33_media_profile"      -> ((s, d) => graft.sources.Multimodal.mediaProfile(Tables(s, d))),
    "q34_media_knn"          -> ((s, d) => graft.sources.Multimodal.mediaKnn(Tables(s, d))),
    // additional relational coverage
    "q35_union_except"       -> ((s, d) => Relational.unionExceptCustomers(Tables(s, d))),
    "q36_weighted_avg"       -> ((s, d) => Relational.weightedAvgPrice(Tables(s, d))),
    "q37_grouping_sets"      -> ((s, d) => Relational.groupingSets(Tables(s, d))),
    "q38_bigram_counts"      -> ((s, d) => TextOps.bigramCounts(Tables(s, d))),
    "q39_approx_distinct"    -> ((s, d) => Relational.approxDistinct(Tables(s, d))),
    "q40_asof_join"          -> ((s, d) => AsOfJoin.errorsAfterClicks(Tables(s, d))),
    "q41_tfidf"              -> ((s, d) => TextOps.tfidfProfile(Tables(s, d))),
    "q42_salted_agg"         -> ((s, d) => graft.operators.Skew.saltedRevenue(Tables(s, d))),
    "q43_ann_lsh"            -> ((s, d) => Similarity.annLsh(Tables(s, d))),
    "q44_lang_id"            -> ((s, d) => TextOps.languageId(Tables(s, d))),
    "q45_scalar_subquery"    -> ((s, d) => Relational.scalarSubquery(Tables(s, d))),
    "q46_pivot"              -> ((s, d) => Relational.pivotQuantities(Tables(s, d))),
    "q47_typed_api"          -> ((s, d) => Relational.typedOrderStats(Tables(s, d))),
    "q48_range_window"       -> ((s, d) => Relational.rangeWindowSpend(Tables(s, d))),
    "q49_median_rank"        -> ((s, d) => Relational.medianAcctbal(Tables(s, d))),
    "q50_embedding_neardup"  -> ((s, d) => Dedup.embeddingNearDups(Tables(s, d))),
    "q51_minhash_fast"       -> ((s, d) => Dedup.minhashPairsFast(Tables(s, d))),
    "q52_ann_ivf"            -> ((s, d) => Similarity.annIvf(Tables(s, d))),
    "q53_winnow_fp"          -> ((s, d) => TextOps.winnowedFingerprints(Tables(s, d))),
    "q54_bpeish_tokens"      -> ((s, d) => TextOps.bpeishTokenStats(Tables(s, d))),
    "q55_rank_family"        -> ((s, d) => Relational.rankFamily(Tables(s, d))),
    "q56_percentiles"        -> ((s, d) => Relational.quantityPercentiles(Tables(s, d))),
    "q57_dedup_clusters"     -> ((s, d) => Dedup.dedupClusters(Tables(s, d))),
    "q58_dispersion"         -> ((s, d) => Relational.quantityDispersion(Tables(s, d))),
    "q59_vocab_topk"         -> ((s, d) => TextOps.topVocabulary(Tables(s, d))),
    "q60_top_suppliers"      -> ((s, d) => Relational.topSuppliers(Tables(s, d))),
    // training-data pipeline stages (north star; PipelineOps)
    "q61_tfidf_exact"        -> ((s, d) => PipelineOps.tfidfExact(Tables(s, d))),
    "q62_pack_windows"       -> ((s, d) => PipelineOps.packWindows(Tables(s, d))),
    "q63_chunking"           -> ((s, d) => PipelineOps.chunkDocuments(Tables(s, d))),
    "q64_hash_split"         -> ((s, d) => PipelineOps.hashSplit(Tables(s, d))),
    "q65_repetition"         -> ((s, d) => PipelineOps.repetitionSignals(Tables(s, d))),
    "q66_sessionize"         -> ((s, d) => PipelineOps.sessionize(Tables(s, d))),
    "q67_contamination"      -> ((s, d) => PipelineOps.contamination(Tables(s, d))),
    "q68_mixture_sample"     -> ((s, d) => PipelineOps.mixtureSample(Tables(s, d))),
    "q69_funnel"             -> ((s, d) => graft.operators.EventOps.funnel(Tables(s, d))),
    "q70_ewma"               -> ((s, d) => graft.operators.EventOps.ewmaPerUser(Tables(s, d))),
    // portable SimHash: engine-neutral polynomial hashes → the
    // fingerprints AND the complete banded pair set are exact-oracle-
    // checked (the xxhash64 variants q27/q32 stay as the scale path)
    "q71_simhash_portable"   -> ((s, d) => {
      val t = Tables(s, d)
      import s.implicits._
      t.documents.select($"doc_id",
        graft.functions.TextFunctions.simhashPortable($"text").as("simhash60"))
        .orderBy($"doc_id")
    }),
    "q72_portable_pairs"     -> ((s, d) => Dedup.simhashPolyPairs(Tables(s, d))),
    "q73_cross_dedup"        -> ((s, d) => Dedup.crossDedup(Tables(s, d))),
    // corpus scrubbing + curation (ScrubOps; fixture text is
    // deterministically augmented inside the query so the masking /
    // stripping has real matches — the oracle rebuilds the same bytes)
    "q74_pii_redact"         -> ((s, d) => graft.operators.ScrubOps.redactPii(Tables(s, d))),
    "q75_strat_sample"       -> ((s, d) => graft.operators.ScrubOps.stratifiedSample(Tables(s, d))),
    "q76_url_domains"        -> ((s, d) => graft.operators.ScrubOps.urlDomains(Tables(s, d))),
    "q77_markup_strip"       -> ((s, d) => graft.operators.ScrubOps.stripMarkup(Tables(s, d))),
    "q78_interval_join"      -> ((s, d) => graft.operators.EventOps.purchaseWindowEvents(Tables(s, d))),
    // corpus statistics + multi-dim layout
    "q79_unigram_nll"        -> ((s, d) => TextOps.unigramNll(Tables(s, d))),
    "q80_pmi_collocations"   -> ((s, d) => TextOps.pmiCollocations(Tables(s, d))),
    "q81_zorder"             -> ((s, d) => {
      val t = Tables(s, d)
      import s.implicits._
      t.lineitem.filter($"l_partkey" % 50 === 0)
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          graft.operators.Bucketing.zvalue($"l_partkey", $"l_suppkey", 16).as("zval"))
        .orderBy($"l_orderkey", $"l_linenumber")
    }),
    // relational surface completion: full-outer, unpivot, edit-distance
    "q82_full_outer"         -> ((s, d) => Relational.fullOuterBalances(Tables(s, d))),
    "q83_unpivot"            -> ((s, d) => Relational.regionMetricsLong(Tables(s, d))),
    "q84_fuzzy_match"        -> ((s, d) => Relational.fuzzyPartNames(Tables(s, d))),
    "q85_pagerank"           -> ((s, d) => graft.operators.Graph.pageRankCustSupp(Tables(s, d))),
    // graph structure metrics + retrieval scoring + asymmetric dedup
    "q86_triangles"          -> ((s, d) => graft.operators.Graph.triangleCounts(Tables(s, d))),
    "q87_degree_dist"        -> ((s, d) => graft.operators.Graph.degreeDistribution(Tables(s, d))),
    "q88_bm25"               -> ((s, d) => PipelineOps.bm25Exact(Tables(s, d))),
    "q89_containment"        -> ((s, d) => TextOps.containmentPairs(Tables(s, d))),
    "q90_dedup_survivors"    -> ((s, d) => Dedup.dedupSurvivors(Tables(s, d))),
    "q91_assortativity"      -> ((s, d) => graft.operators.Graph.assortativity(Tables(s, d))),
    "q92_copurchase_top"     -> ((s, d) => graft.operators.Graph.topCoPurchasePartner(Tables(s, d))),
    "q93_inverted_index"     -> ((s, d) => PipelineOps.invertedIndex(Tables(s, d))),
    "q95_column_profile"     -> ((s, d) => Relational.columnProfile(Tables(s, d))),
    "q96_locf_resample"      -> ((s, d) => graft.operators.EventOps.locfResample(Tables(s, d))),
    // product analytics: markov transitions, histograms, cohorts, funnels
    "q97_transitions"        -> ((s, d) => graft.operators.EventOps.transitionMatrix(Tables(s, d))),
    "q98_value_histogram"    -> ((s, d) => graft.operators.EventOps.valueHistogram(Tables(s, d))),
    "q99_cohort_retention"   -> ((s, d) => graft.operators.EventOps.cohortRetention(Tables(s, d))),
    "q100_conversion"        -> ((s, d) => graft.operators.EventOps.conversionLatency(Tables(s, d))),
    // the SQL entry point: the same engine surface through spark.sql
    // text (TPC-H Q5 shape — 6-way join, selective region + date band)
    "q94_sql_tpch5"          -> ((s, d) => {
      graft.api.Graft.registerViews(s, d)
      s.sql(
        """SELECT n_name,
          | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          | COUNT(*) AS n_items
          |FROM customer
          | JOIN orders ON c_custkey = o_custkey
          | JOIN lineitem ON l_orderkey = o_orderkey
          | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          | JOIN nation ON s_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          |GROUP BY n_name
          |ORDER BY revenue DESC, n_name""".stripMargin)
    }),
    // driver-visible ANN regression gates: recall@10 of each ANN path
    // vs the oracle-checked exact top-10 — the hash flips if recall
    // drops below the floor (q43/q52 themselves stay rows-only since
    // their bucket layouts are engine-specific)
    "q101_ann_lsh_gate"      -> ((s, d) => Similarity.annRecallGate(Tables(s, d), lsh = true)),
    "q102_ann_ivf_gate"      -> ((s, d) => Similarity.annRecallGate(Tables(s, d), lsh = false)),
    // the linear-path clustering twin of q57: banding-mined edges → CC
    "q103_clusters_fast"     -> ((s, d) => Dedup.dedupClustersFast(Tables(s, d))),
    // gate for the banded (production-regime) embedding near-dup
    // path: planted cos≈0.9 twins must be recovered at ≥ 0.8 recall
    "q104_embed_banded_gate" -> ((s, d) => Dedup.embeddingBandedGate(Tables(s, d))),
    // SemDeDup-style semantic dedup; survivors of planted-twin corpus
    // == the original corpus exactly (see Dedup.semanticDedup)
    "q105_semantic_dedup"    -> ((s, d) => Dedup.semanticDedup(Tables(s, d))),
    // exact heavy hitters via a two-pass Misra-Gries sketch: O(k)
    // task memory, candidates-only second pass, provably exact output
    "q106_heavy_hitters"     -> ((s, d) => TextOps.heavyHittersExact(Tables(s, d))),
    // approx-quantile sketch, gated on its rank-error guarantee
    "q107_approx_quantiles"  -> ((s, d) => Relational.approxQuantileGate(Tables(s, d))),
    // bigram Stupid-Backoff NLL, counted on the doc_id%2==0 half
    "q108_bigram_nll"        -> ((s, d) => TextOps.bigramBackoffNll(Tables(s, d))),
    // HLL approx-distinct gated on its relative-error contract
    "q109_approx_distinct_gate" -> ((s, d) => Relational.approxDistinctGate(Tables(s, d))),
    // exact covariance/correlation from decimal moments (q58 recipe)
    "q110_correlation"       -> ((s, d) => Relational.quantityPriceCorrelation(Tables(s, d))),
    // streaming family, driver-visible: deterministic micro-batch
    // replay of fixture slices through the production streaming
    // operators (watermark, windowed state, append finalization),
    // hash-checked against batch SQL — the stream ≡ batch property
    // the streaming specs assert (graft.streaming.StreamReplay)
    "q111_stream_windows"    -> ((s, d) => graft.streaming.StreamReplay.eventWindows(s, d)),
    "q112_stream_heavy_hitters" -> ((s, d) => graft.streaming.StreamReplay.heavyHitters(s, d)),
    "q113_stream_quantile_gate" -> ((s, d) => graft.streaming.StreamReplay.quantileGate(s, d)),
    "q114_stream_dedup"      -> ((s, d) => graft.streaming.StreamReplay.contentDedup(s, d)),
    "q115_stream_embed_gate" -> ((s, d) => graft.streaming.StreamReplay.embedDedupGate(s, d)),
    // the storage-layout path: fact-fact join through tables bucketed
    // on the join key — zero exchanges at query time (plan-asserted by
    // BucketedJoinQuerySpec); the bucket write is the one-time ingest
    // cost, memoized per fixture here
    "q116_bucketed_join"     -> ((s, d) => graft.operators.Bucketing.bucketedRevenueByPriority(Tables(s, d))),
    // stream-stream interval join (buffered state bounded by the
    // horizon on both watermarked sides) and stateful gap
    // sessionization (flatMapGroupsWithState + event-time timeout) —
    // the two remaining §2.4 stateful operators, now hash-checked
    // under replay like q111-q115
    "q117_stream_interval_join" -> ((s, d) => graft.streaming.StreamReplay.streamIntervalJoin(s, d)),
    "q118_stream_sessions"   -> ((s, d) => graft.streaming.StreamReplay.streamSessions(s, d)),
    // streaming EWMA: the unbounded-stream twin q70's Scaladoc
    // promised — O(1) state per user, event-time-timeout flush
    "q119_stream_ewma"       -> ((s, d) => graft.streaming.StreamReplay.streamEwma(s, d)),
    // LEFT OUTER stream-stream join: null-side rows may emit only
    // after the watermark proves no future match — the timing
    // semantics q117's inner join cannot exercise
    "q120_stream_outer_join" -> ((s, d) => graft.streaming.StreamReplay.streamOuterJoin(s, d)),
    // the video container path end-to-end: Y4M header parse + FRAME
    // walk + ~1 fps sampling + sampled-payload checksum, hash-checked
    "q121_video_decode"      -> ((s, d) => graft.sources.Multimodal.videoDecode(Tables(s, d))),
    // cross-document duplicated spans: the ExactSubstr dedup pass
    // (k-gram seeding + gaps-and-islands maximal-span merge)
    "q122_dup_spans"         -> ((s, d) => operators.PipelineOps.dupSpans(Tables(s, d))),
    // Count–Min sketch point-frequency estimates, gated against exact
    // counts for the top-20 tokens (CMS one-sidedness + ε=3/w bound)
    "q123_cms_freq_gate"     -> ((s, d) => operators.TextOps.cmsFrequencyGate(Tables(s, d))),
    // streaming CMS over user_id: O(d·w) state per window regardless
    // of user cardinality; per-window top-5 users gated q123-style
    "q124_stream_cms_gate"   -> ((s, d) => graft.streaming.StreamReplay.streamCmsGate(s, d)),
    "q125_skew_join"         -> ((s, d) => graft.operators.Skew.skewJoinAgg(Tables(s, d))),
    "q126_weighted_sample"   -> ((s, d) => PipelineOps.weightedSample(Tables(s, d))),
    "q127_quantized_knn"     -> ((s, d) => Similarity.quantizedKnnGate(Tables(s, d))),
    "q128_bm25_topk"         -> ((s, d) => PipelineOps.bm25TopK(Tables(s, d))),
    "q129_overlap_join"      -> ((s, d) => graft.operators.EventOps.purchaseClickOverlaps(Tables(s, d))),
    "q130_image_resize"      -> ((s, d) => graft.sources.Multimodal.imageResize(Tables(s, d))),
    "q131_audio_features"    -> ((s, d) => graft.sources.Multimodal.audioFeatures(Tables(s, d))),
    "q132_stream_asof_join"  -> ((s, d) => graft.streaming.StreamReplay.streamAsOfJoin(s, d)),
    "q133_bpe_merges"        -> ((s, d) => PipelineOps.bpeMerges(Tables(s, d))),
    "q134_bpe_vocab"         -> ((s, d) => PipelineOps.bpeVocab(Tables(s, d))),
    "q135_ann_pq_gate"       -> ((s, d) => Similarity.pqRecallGate(Tables(s, d))),
    "q136_chunk_dedup"       -> ((s, d) => PipelineOps.chunkDedup(Tables(s, d))),
    "q137_jl_project"        -> ((s, d) => Similarity.jlProject(Tables(s, d))),
    "q138_mixture_alloc"     -> ((s, d) => PipelineOps.mixtureAlloc(Tables(s, d))),
    "q139_kmeans"            -> ((s, d) => Similarity.kmeansAssign(Tables(s, d))),
    "q140_contrastive"       -> ((s, d) => Similarity.contrastivePairs(Tables(s, d))),
    "q141_split_leakage"     -> ((s, d) => PipelineOps.splitLeakage(Tables(s, d))),
    "q142_survival"          -> ((s, d) => graft.operators.EventOps.kaplanMeier(Tables(s, d))),
    "q143_skyline"           -> ((s, d) => Relational.partSkyline(Tables(s, d))),
    "q144_ppr"               -> ((s, d) => graft.operators.Graph.pprCustSupp(Tables(s, d))),
    "q145_label_prop"        -> ((s, d) => graft.operators.Graph.labelPropCommunities(Tables(s, d))),
    "q146_anomaly"           -> ((s, d) => graft.operators.EventOps.rollingAnomalies(Tables(s, d))),
    "q147_chisq"             -> ((s, d) => Relational.segmentPriorityChiSquare(Tables(s, d))),
    "q148_attribution"       -> ((s, d) => graft.operators.EventOps.purchaseAttribution(Tables(s, d))),
    "q149_dim_stats"         -> ((s, d) => graft.operators.Similarity.embeddingDimStats(Tables(s, d))),
    "q150_stream_anomaly"    -> ((s, d) => graft.streaming.StreamReplay.streamAnomalies(s, d)),
    "q151_hits"              -> ((s, d) => graft.operators.Graph.hitsCustSupp(Tables(s, d))),
    "q152_path_trigrams"     -> ((s, d) => graft.operators.EventOps.pathTrigrams(Tables(s, d))),
    "q153_rank_normalize"    -> ((s, d) => Relational.partPriceRanks(Tables(s, d))),
    "q154_gopher_rules"      -> ((s, d) => TextOps.gopherRules(Tables(s, d))),
    "q155_exact_quantiles"   -> ((s, d) => Relational.priceQuantiles(Tables(s, d))),
    "q156_column_drift"      -> ((s, d) => Relational.eventDrift(Tables(s, d))),
    "q157_golden_record"     -> ((s, d) => Relational.partGoldenRecords(Tables(s, d))),
    "q158_cdc_merge"         -> ((s, d) => graft.operators.Cdc.cdcMergeSnapshot(Tables(s, d))),
    "q159_scd2"              -> ((s, d) => graft.operators.Cdc.scd2History(Tables(s, d))),
    "q160_rrf_fusion"        -> ((s, d) => PipelineOps.rrfHybrid(Tables(s, d))),
    "q161_rrf_ann_gate"      -> ((s, d) => PipelineOps.rrfAnnGate(Tables(s, d))),
    "q162_incr_dedup"        -> ((s, d) => Dedup.incrementalDedupClusters(Tables(s, d))),
    "q163_sssp"              -> ((s, d) => graft.operators.Graph.ssspCustSupp(Tables(s, d))),
    "q164_image_dup_cohorts" -> ((s, d) => graft.sources.Multimodal.imageDupCohorts(Tables(s, d))),
    "q165_image_neardup"     -> ((s, d) => graft.sources.Multimodal.imageNearDups(Tables(s, d))),
    "q166_snapshot_diff"     -> ((s, d) => graft.operators.Cdc.snapshotDiff(Tables(s, d))),
    "q167_ivm_rollup"        -> ((s, d) => graft.operators.Ivm.incrementalOrderRollup(Tables(s, d))),
    "q168_target_encode"     -> ((s, d) => PipelineOps.orderTargetEncoding(Tables(s, d))),
    "q169_interp_resample"   -> ((s, d) => graft.operators.EventOps.interpolateResample(Tables(s, d))),
    "q170_kcore"             -> ((s, d) => graft.operators.Graph.kCoreCustSupp(Tables(s, d))),
    "q171_damerau_match"     -> ((s, d) => Relational.damerauPartNames(Tables(s, d))),
    "q172_stream_cdc"        -> ((s, d) => graft.streaming.StreamCdc.cdcUpsert(s, d)),
    "q173_fk_audit"          -> ((s, d) => Relational.fkAudit(Tables(s, d))),
    "q174_asof_staleness"    -> ((s, d) => AsOfJoin.errorsAfterFreshClicks(Tables(s, d))),
    "q175_robust_outliers"   -> ((s, d) => Relational.eventRobustOutliers(Tables(s, d))),
    "q176_twap"              -> ((s, d) => graft.operators.EventOps.userTwap(Tables(s, d))),
    "q177_stream_ivm"        -> ((s, d) => graft.streaming.StreamIvm.orderRollup(s, d)),
    "q178_benford"           -> ((s, d) => Relational.orderBenford(Tables(s, d))),
    "q179_key_skew"          -> ((s, d) => graft.operators.Skew.joinKeySkewProfile(Tables(s, d))),
    "q180_ivm_retract"       -> ((s, d) => graft.operators.Ivm.retractableOrderRollup(Tables(s, d))),
    "q181_scc"               -> ((s, d) => graft.operators.Graph.sccSupplierTrade(Tables(s, d))),
    "q182_ann_index_gate"    -> ((s, d) => Similarity.annIndexGate(Tables(s, d))),
    "q183_audio_dup_cohorts" -> ((s, d) => graft.sources.Multimodal.audioDupCohorts(Tables(s, d))),
    "q184_audio_neardup"     -> ((s, d) => graft.sources.Multimodal.audioNearDups(Tables(s, d))),
    "q185_adaptive_skew"     -> ((s, d) => graft.operators.Skew.adaptiveSkewSuite(Tables(s, d))),
    "q186_scd2_pit"          -> ((s, d) => graft.operators.Cdc.purchaseProfileAsOf(Tables(s, d))),
    "q187_stream_ivm_retract"-> ((s, d) => graft.streaming.StreamIvm.orderRollupRetract(s, d)),
    "q188_ann_filtered_gate" -> ((s, d) => Similarity.annFilteredGate(Tables(s, d))),
    "q189_ann_delete_gate"   -> ((s, d) => Similarity.annDeleteGate(Tables(s, d))),
    "q190_video_dup_cohorts" -> ((s, d) => graft.sources.Multimodal.videoDupCohorts(Tables(s, d))),
    "q191_video_neardup"     -> ((s, d) => graft.sources.Multimodal.videoNearDups(Tables(s, d))),
    "q192_grouped_ols"       -> ((s, d) => Relational.nationSpendTrend(Tables(s, d))),
    "q193_scd2_increment"    -> ((s, d) => graft.operators.Cdc.scd2HistoryIncremental(Tables(s, d))),
    "q194_stream_scd2"       -> ((s, d) => graft.streaming.StreamCdc.scd2Stream(s, d)),
    "q195_ivm_dim_move"      -> ((s, d) => graft.operators.Ivm.nationRevenueDimMove(Tables(s, d))),
    "q196_lag_autocorr"      -> ((s, d) => Relational.userValueAutocorr(Tables(s, d))),
    "q197_psi_drift"         -> ((s, d) => Relational.eventValuePsi(Tables(s, d))),
    "q198_incr_golden"       -> ((s, d) => Relational.partGoldenRecordsIncremental(Tables(s, d))),
    "q199_stream_dim_move"   -> ((s, d) => graft.streaming.StreamIvm.nationRevenueDimMoveStream(s, d)),
    "q200_multi_ivm"         -> ((s, d) => graft.operators.MultiIvm.multiMeasureRollup(Tables(s, d))),
    "q201_dim_move_minmax"   -> ((s, d) => graft.operators.Ivm.nationRevenueDimMoveFull(Tables(s, d))),
    "q202_incr_cc"           -> ((s, d) => graft.operators.Graph.ccCoPurchaseIncremental(Tables(s, d))),
    "q203_pagerank_warm"     -> ((s, d) => graft.operators.Graph.pageRankWarmTrade(Tables(s, d))),
    "q204_ann_drift_gate"    -> ((s, d) => Similarity.annDriftGate(Tables(s, d))),
    "q205_stream_ann_gate"   -> ((s, d) => graft.streaming.StreamAnn.annIngestGate(s, d)),
    "q206_multi_dim_move"    -> ((s, d) => graft.operators.MultiIvm.multiMeasureDimMove(Tables(s, d))),
    "q207_stream_multi_ivm"  -> ((s, d) => graft.streaming.StreamIvm.multiMeasureStream(s, d)),
    "q208_cc_retract"        -> ((s, d) => graft.operators.Graph.ccCoPurchaseRetract(Tables(s, d))),
    "q209_multi_ivm_minmax"  -> ((s, d) => graft.operators.MultiIvm.multiMeasureRollupFull(Tables(s, d))),
    "q210_stream_cc"         -> ((s, d) => graft.streaming.StreamGraph.ccStream(s, d)),
    "q211_stream_multi_move" -> ((s, d) => graft.streaming.StreamIvm.multiMeasureDimMoveStream(s, d)),
    "q212_multi_move_minmax" -> ((s, d) => graft.operators.MultiIvm.multiMeasureDimMoveFull(Tables(s, d))),
    "q213_stream_cc_retract" -> ((s, d) => graft.streaming.StreamGraph.ccRetractStream(s, d)),
    "q214_stream_move_minmax" -> ((s, d) => graft.streaming.StreamIvm.multiMeasureDimMoveFullStream(s, d)),
    "q215_dedup_delete"      -> ((s, d) => Dedup.dedupDeleteClusters(Tables(s, d))),
    "q216_er_delete"         -> ((s, d) => Relational.partGoldenRecordsDelete(Tables(s, d))),
    "q217_topk_ivm"          -> ((s, d) => graft.operators.MultiIvm.topkRollup(Tables(s, d))),
    "q218_hll_ivm_gate"      -> ((s, d) => graft.operators.MultiIvm.hllRollupGate(Tables(s, d))),
    "q219_topk_move"         -> ((s, d) => graft.operators.MultiIvm.topkDimMove(Tables(s, d))),
    // q220: the maintenance family's SQL front door — the SCD2
    // assembly reached through `CALL graft.scd2_assemble(...)` (the
    // GraftSqlParser extension) instead of the Scala facade; the
    // session must be built with spark.sql.extensions =
    // graft.expr.GraftExtensions (Verify/Bench are). Same fold, same
    // oracle as q159 — the statement is the thing under test.
    "q220_sql_call_scd2"     -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.operators.Cdc.eventChangeLog(Tables(s, d))
        .createOrReplaceTempView("graft_sql_changes_q220")
      s.sql("CALL graft.scd2_assemble('graft_sql_changes_q220')")
        .select(col("key").as("user_id"), col("value"), col("etype"),
          timestamp_micros(col("valid_from_us")).as("valid_from"),
          timestamp_micros(col("valid_to_us")).as("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    }),
  )

  // Shared SQL fragments for the oracle (DuckDB dialect).
  private val dot = "list_reduce(list_transform(list_zip(%s, %s), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)), (a,b) -> a+b)"
  private def dotOf(a: String, b: String): String = dot.format(a, b)
  private val cosPairsSql =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5)
       |SELECT q_id, vec_id,
       | ${dotOf("q_emb", "embedding")} / (sqrt(${dotOf("q_emb", "q_emb")}) * sqrt(${dotOf("embedding", "embedding")})) AS cos_sim
       |FROM embeddings, q WHERE vec_id <> q_id""".stripMargin

  private val stopList = "('the','a','of','and','to','in')"

  // q133: k chained BPE rounds — each round re-derives pair counts on
  // the previous round's word-symbol table, picks the (count desc,
  // pair lexicographic) top pair, and replays the identical
  // position-local merge CASE (l ≠ r pairs cannot self-overlap, so
  // the simultaneous CASE equals greedy left-to-right). Generated:
  // one (pair-count, top-1, merge) CTE trio per round. Each w{r-1}
  // is referenced twice (p_r and w_r), so the w/t CTEs are AS
  // MATERIALIZED — without it DuckDB's inliner re-evaluates the
  // chain up to 2^k times (the q151 CTE-inlining blowup).
  private def bpeCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""p$r AS (
         | SELECT u.l AS l, u.r AS r, CAST(SUM(n) AS BIGINT) AS cnt FROM (
         |  SELECT n, unnest(list_filter(list_transform(range(1, len(syms)), i ->
         |    CASE WHEN syms[i] <> syms[i+1] THEN struct_pack(l := syms[i], r := syms[i+1]) END),
         |    p -> p IS NOT NULL)) AS u
         |  FROM w${r - 1}) GROUP BY u.l, u.r),
         |t$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |w$r AS MATERIALIZED (SELECT n, list_filter(list_transform(range(1, len(syms)+1), i ->
         |    CASE WHEN i < len(syms) AND syms[i] = t.l AND syms[i+1] = t.r THEN syms[i] || syms[i+1]
         |         WHEN i > 1 AND syms[i-1] = t.l AND syms[i] = t.r THEN NULL
         |         ELSE syms[i] END), x -> x IS NOT NULL) AS syms
         | FROM w${r - 1}, t$r t)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       | SELECT list_filter(string_split(word, ''), c -> c <> '') AS syms,
       |  CAST(COUNT(*) AS BIGINT) AS n
       | FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       | WHERE strlen(word) >= 2 GROUP BY word),
       |$rounds""".stripMargin
  }

  // q163: k unrolled Bellman–Ford rounds over the weighted
  // customer↔supplier graph — all-integer relaxation, so the chain is
  // exact by construction; each d{r-1} is referenced twice per round
  // (carry + relax), hence AS MATERIALIZED throughout (the q151/q133
  // CTE-inlining lesson). The engine runs until convergence and
  // REQUIRES the improving-round count to fit the unroll.
  private def ssspCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      s"""d$r AS MATERIALIZED (
         | SELECT p.id,
         |  CASE WHEN p.dist IS NULL THEN r.nd
         |       WHEN r.nd IS NULL THEN p.dist
         |       WHEN r.nd < p.dist THEN r.nd ELSE p.dist END AS dist
         | FROM d${r - 1} p LEFT JOIN (
         |  SELECT e.dst AS id, MIN(p2.dist + e.w) AS nd
         |  FROM d${r - 1} p2 JOIN e ON p2.id = e.src
         |  WHERE p2.dist IS NOT NULL GROUP BY e.dst) r USING (id))""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (
       | SELECT o_custkey*2 AS c, l_suppkey*2+1 AS s,
       |  MIN(CAST(l_quantity AS INT)) AS w
       | FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1, 2),
       |e AS MATERIALIZED (
       | SELECT c AS src, s AS dst, w FROM e0
       | UNION ALL SELECT s AS src, c AS dst, w FROM e0),
       |d0 AS MATERIALIZED (
       | SELECT DISTINCT src AS id,
       |  CASE WHEN src % 40 = 0 THEN CAST(0 AS BIGINT) END AS dist FROM e),
       |$rounds""".stripMargin
  }

  // q170: k unrolled peel rounds over the unweighted customer↔supplier
  // graph, threshold = the data-derived floor-mean customer degree
  // (exact integer division both engines). Peeling is monotone, so
  // any unroll ≥ the improving-round count is the fixpoint — the
  // engine requires that bound. AS MATERIALIZED throughout: each
  // e{r-1} is referenced three times per round (degree + two
  // semi-join legs), the q151/q133 inlining lesson.
  private def kCoreCtes(rounds: Int): String = {
    val r = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT src, COUNT(*) AS n FROM e${i - 1} GROUP BY src),
         |s$i AS MATERIALIZED (SELECT src AS id FROM d$i, kv WHERE n >= kv.k),
         |e$i AS MATERIALIZED (SELECT t.src, t.dst FROM e${i - 1} t
         |  JOIN s$i a ON t.src = a.id JOIN s$i b ON t.dst = b.id)""".stripMargin
    }.mkString(",\n")
    s"""e00 AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
       | FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e0 AS MATERIALIZED (
       | SELECT c AS src, s AS dst FROM e00 UNION ALL SELECT s, c FROM e00),
       |kv AS MATERIALIZED (SELECT CAST(SUM(n) // COUNT(*) AS BIGINT) AS k FROM
       |  (SELECT src, COUNT(*) AS n FROM e0 WHERE src % 2 = 0 GROUP BY src)),
       |$r""".stripMargin
  }

  // q164/q165: shared dHash chain — base images, +1-perturbed twins,
  // and the synthetic Hamming-gadget quads (512-byte 32..95 ramp at
  // w=64 ⇒ h=8; variant j zeroes (r<j, x=28), the byte cell (r,4)
  // samples, flipping exactly bit (r,3))
  private val imageHashCtes: String =
    """imgs AS MATERIALIZED (
      | SELECT doc_id AS media_id, text, strlen(text) AS len,
      |  64 + (doc_id % 16) * 16 AS w, FALSE AS pert
      | FROM documents WHERE doc_id % 3 = 0
      | UNION ALL
      | SELECT doc_id + 10000000, text, strlen(text),
      |  64 + (doc_id % 16) * 16, TRUE
      | FROM documents WHERE doc_id % 30 = 0),
      |g AS MATERIALIZED (SELECT media_id, text, len, w, pert,
      |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / w) AS BIGINT)) AS h
      | FROM imgs),
      |px AS MATERIALIZED (
      | SELECT media_id, r, c,
      |  CASE WHEN idx < len THEN unicode(text[CAST(idx + 1 AS INTEGER)])
      |    + CASE WHEN pert AND idx = 4 * w // 9 + 1 THEN 1 ELSE 0 END
      |   ELSE 0 END AS v
      | FROM (SELECT *, (r * h // 8) * w + (c * w // 9) AS idx
      |   FROM g, range(0, 8) t1(r), range(0, 9) t2(c))
      | UNION ALL
      | SELECT 20000000 + 4 * doc_id + j AS media_id, r, c,
      |  CASE WHEN c = 4 AND r < j THEN 0 ELSE 32 + (c * 64 // 9) END AS v
      | FROM documents, range(0, 4) tj(j), range(0, 8) t1(r), range(0, 9) t2(c)
      | WHERE doc_id % 60 = 0),
      |hsh AS MATERIALIZED (
      | SELECT l.media_id, CAST(SUM(CASE WHEN l.v < r2.v THEN
      |    CASE WHEN l.r * 8 + l.c = 63 THEN (-9223372036854775808)::BIGINT
      |         ELSE 1::BIGINT << CAST(l.r * 8 + l.c AS INTEGER) END
      |   ELSE 0 END) AS BIGINT) AS dh
      | FROM px l JOIN px r2 ON l.media_id = r2.media_id
      |   AND l.r = r2.r AND r2.c = l.c + 1
      | WHERE l.c < 8
      | GROUP BY 1)""".stripMargin

  // q183/q184: shared audio-fingerprint chain — base clips (length
  // within the [65, 4096] contract), the +1/−1 same-slice twins
  // (pert fires only at len ≥ 66, matching the engine's guard), and
  // the synthetic envelope-gadget quads (520 samples, slice p//8 at
  // 32+k, variant j lowering odd slices 1..2j−1); slice of position
  // p is p·65//len (identical integer map both engines), bit 63 as
  // the signed literal (the q164 lesson)
  private val audioFpCtes: String =
    """auds AS MATERIALIZED (
      | SELECT doc_id AS media_id, text, strlen(text) AS len, FALSE AS pert
      | FROM documents
      | WHERE doc_id % 3 = 1 AND strlen(text) BETWEEN 65 AND 4096
      | UNION ALL
      | SELECT doc_id + 10000000, text, strlen(text), strlen(text) >= 66
      | FROM documents
      | WHERE doc_id % 30 = 1 AND strlen(text) BETWEEN 65 AND 4096),
      |apos AS MATERIALIZED (
      | SELECT media_id, CAST(p * 65 // len AS INTEGER) AS i,
      |  unicode(text[CAST(p + 1 AS INTEGER)])
      |   + CASE WHEN pert AND p = 0 THEN 1
      |          WHEN pert AND p = 1 THEN -1 ELSE 0 END AS v
      | FROM auds, range(0, 4096) t(p) WHERE p < len
      | UNION ALL
      | SELECT 20000000 + 4 * doc_id + j, CAST(p // 8 AS INTEGER),
      |  32 + p // 8 - CASE WHEN (p // 8) % 2 = 1 AND p // 8 <= 2 * j - 1
      |    THEN 1 ELSE 0 END
      | FROM documents, range(0, 4) tj(j), range(0, 520) tp(p)
      | WHERE doc_id % 60 = 1),
      |sl AS MATERIALIZED (
      | SELECT media_id, i, CAST(SUM(v) AS BIGINT) AS sv
      | FROM apos GROUP BY 1, 2),
      |afp AS MATERIALIZED (
      | SELECT a.media_id, CAST(SUM(CASE WHEN a.sv < b.sv THEN
      |    CASE WHEN a.i = 63 THEN (-9223372036854775808)::BIGINT
      |         ELSE 1::BIGINT << CAST(a.i AS INTEGER) END
      |   ELSE 0 END) AS BIGINT) AS fp
      | FROM sl a JOIN sl b ON a.media_id = b.media_id AND b.i = a.i + 1
      | WHERE a.i < 64
      | GROUP BY 1)""".stripMargin

  // q190/q191: shared video-fingerprint chain — base clips encoded at
  // the manifest geometry (w = 32+(id%8)·16, h = 16+(id%4)·16, fps =
  // 1+(id%5); frames = text bytes in w·h chunks, zero-padded), frames
  // sampled at 1 fps (every fps-th index), per-frame dHash cells at
  // global idx = f·w·h + (r·h//8)·w + (c·w//9), then the strict-
  // majority pool per bit (2·cnt > nk); the twin's +1 at global
  // position 1 (never sampled: column steps are multiples of w//9 ≥ 3,
  // later frames start ≥ w·h) is expressed but provably dead; the
  // gadget is the image ramp as a single 64×8 frame; bit 63 as the
  // signed literal (the q164 lesson)
  private val videoFpCtes: String =
    """vds AS MATERIALIZED (
      | SELECT doc_id AS media_id, text, strlen(text) AS len,
      |  32 + (doc_id % 8) * 16 AS w, 16 + (doc_id % 4) * 16 AS h,
      |  1 + (doc_id % 5) AS fps, FALSE AS pert
      | FROM documents
      | WHERE doc_id % 3 = 2 AND strlen(text) BETWEEN 65 AND 4096
      | UNION ALL
      | SELECT doc_id + 10000000, text, strlen(text),
      |  32 + (doc_id % 8) * 16, 16 + (doc_id % 4) * 16,
      |  1 + (doc_id % 5), TRUE
      | FROM documents
      | WHERE doc_id % 30 = 2 AND strlen(text) BETWEEN 65 AND 4096),
      |vg AS MATERIALIZED (SELECT *,
      |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / (w * h)) AS BIGINT)) AS nf
      | FROM vds),
      |vpx AS MATERIALIZED (
      | SELECT media_id, k, r, c,
      |  CASE WHEN idx < len THEN unicode(text[CAST(idx + 1 AS INTEGER)])
      |    + CASE WHEN pert AND idx = 1 THEN 1 ELSE 0 END
      |   ELSE 0 END AS v
      | FROM (SELECT *, (k * fps) * (w * h) + (r * h // 8) * w + (c * w // 9) AS idx
      |   FROM vg, range(0, 8) tk(k), range(0, 8) t1(r), range(0, 9) t2(c)
      |   WHERE k * fps < nf)
      | UNION ALL
      | SELECT 20000000 + 4 * doc_id + j, 0, r, c,
      |  CASE WHEN c = 4 AND r < j THEN 0 ELSE 32 + (c * 64 // 9) END
      | FROM documents, range(0, 4) tj(j), range(0, 8) t1(r), range(0, 9) t2(c)
      | WHERE doc_id % 60 = 2),
      |vbits AS MATERIALIZED (
      | SELECT l.media_id, l.r * 8 + l.c AS bit,
      |  SUM(CASE WHEN l.v < r2.v THEN 1 ELSE 0 END) AS cnt,
      |  COUNT(*) AS nk
      | FROM vpx l JOIN vpx r2 ON l.media_id = r2.media_id AND l.k = r2.k
      |   AND l.r = r2.r AND r2.c = l.c + 1
      | WHERE l.c < 8
      | GROUP BY 1, 2),
      |vfp AS MATERIALIZED (
      | SELECT media_id, CAST(SUM(CASE WHEN 2 * cnt > nk THEN
      |    CASE WHEN bit = 63 THEN (-9223372036854775808)::BIGINT
      |         ELSE 1::BIGINT << CAST(bit AS INTEGER) END
      |   ELSE 0 END) AS BIGINT) AS fp
      | FROM vbits GROUP BY 1)""".stripMargin

  // q137: replay the JL projection with the SAME md5-derived ±1 sign
  // matrix inlined as list literals; each component folds its
  // multiply-adds in ascending j via list_reduce (left fold ≡ Spark's
  // left-associated chain), so every double is bit-identical
  private def jlOracleSql(dim: Int, k: Int): String = {
    val signs = graft.operators.Similarity.jlSigns(k, dim)
    def lst(i: Int): String =
      signs(i).map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    def fold(term: String): String =
      s"list_reduce(list_transform(range(1, ${dim + 1}), j -> $term), (a, b) -> a + b)"
    val yCols = (0 until k).map { i =>
      fold(s"CAST(embedding[j] AS DOUBLE) * ((${lst(i)})[j])") +
        f" AS y$i%02d"
    }.mkString(",\n ")
    val xn = fold("CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)")
    val yn = (0 until k).map(i => f"(y$i%02d * y$i%02d)")
      .reduceLeft((a, b) => s"($a + $b)")
    s"""WITH p AS (SELECT vec_id, $xn AS xnorm2,
       | $yCols
       |FROM embeddings)
       |SELECT vec_id, xnorm2, ${(0 until k).map(i => f"y$i%02d").mkString(", ")},
       | $yn AS ynorm2, $yn / ($k.0 * xnorm2) AS distortion
       |FROM p""".stripMargin
  }

  // q139: replay every Lloyd iteration — assignment = argmin of the
  // same 64-term (v[j]−c[j])² left fold with (d, cluster) tie-break,
  // update = exact integer sums of the 2²⁰-quantized components then
  // one division; one (assign, sums, centroids) CTE trio per round
  private def kmeansOracleSql(dim: Int, k: Int, iters: Int): String = {
    val q = "1048576.0"
    def fold(term: String): String =
      s"list_reduce(list_transform(range(1, ${dim + 1}), j -> $term), (a, b) -> a + b)"
    val dist = fold("(q.v[j] - cc.c[j]) * (q.v[j] - cc.c[j])")
    def assign(src: String): String =
      s"""(SELECT vec_id, cluster, d FROM (
         |  SELECT q.vec_id, cc.cluster, $dist AS d FROM q, $src cc)
         | QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""a$t AS ${assign(s"c${t - 1}")},
         |s$t AS (SELECT a.cluster, CAST(j AS INTEGER) AS j,
         |  CAST(SUM(q.qv[CAST(j AS INTEGER)]) AS BIGINT) AS s, COUNT(*) AS n
         | FROM a$t a JOIN q USING (vec_id), range(1, ${dim + 1}) r$t(j) GROUP BY 1, 2),
         |c$t AS (SELECT cluster, list(CAST(s AS DOUBLE) / ($q * n) ORDER BY j) AS c
         | FROM s$t GROUP BY cluster)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id,
       |  list_transform(range(1, ${dim + 1}), j -> CAST(embedding[j] AS DOUBLE)) AS v,
       |  list_transform(range(1, ${dim + 1}), j -> CAST(round(CAST(embedding[j] AS DOUBLE) * $q, 0) AS BIGINT)) AS qv
       | FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster,
       |  list_transform(qv, x -> CAST(x AS DOUBLE) / $q) AS c FROM q WHERE vec_id < $k),
       |$rounds
       |SELECT vec_id, cluster, d AS dist2 FROM (
       | SELECT q.vec_id, cc.cluster, $dist AS d FROM q, c$iters cc)
       |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster) = 1""".stripMargin
  }

  private def bpeOracleSql(k: Int): String = {
    val out = (1 to k).map(r =>
      s"SELECT $r AS merge_rank, l, r, l || r AS merged, cnt AS pair_count FROM t$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(k)}
       |$out
       |ORDER BY merge_rank""".stripMargin
  }

  // q134: the apply side — the tokenized corpus IS the final
  // word-symbol table re-weighted by word frequency
  private def bpeVocabOracleSql(k: Int, topN: Int): String =
    s"""WITH ${bpeCtes(k)}
       |SELECT token, CAST(SUM(n) AS BIGINT) AS n_occurrences
       |FROM (SELECT unnest(syms) AS token, n FROM w$k)
       |GROUP BY token ORDER BY n_occurrences DESC, token LIMIT $topN""".stripMargin

  // Shared oracle CTE: recompute the portable 60-bit SimHash with the
  // identical polynomial folds (unicode() ↔ codePointAt; exact int64).
  private val simhashPolySql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |h AS (SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(w)+1), i -> CAST(unicode(w[CAST(i AS INTEGER)]) AS BIGINT))),
      |    (a,c) -> (a*257+c) % 1000000007) AS h1,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(w)+1), i -> CAST(unicode(w[CAST(i AS INTEGER)]) AS BIGINT))),
      |    (a,c) -> (a*131+c) % 998244353) AS h2
      | FROM tok),
      |bits AS (SELECT doc_id, CAST(b AS INTEGER) AS b,
      |  SUM(CASE WHEN b < 30 THEN (h1 >> CAST(b AS INTEGER)) & 1
      |           ELSE (h2 >> CAST(b - 30 AS INTEGER)) & 1 END) AS sv,
      |  COUNT(*) AS n
      | FROM h, range(0, 60) t(b) GROUP BY doc_id, b),
      |sh AS (SELECT doc_id,
      |  CAST(SUM(CASE WHEN sv * 2 > n THEN (CAST(1 AS BIGINT) << b)
      |           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash60
      | FROM bits GROUP BY doc_id)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/COUNT(l_extendedprice) AS avg_price,
        | CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)/COUNT(l_discount) AS avg_disc,
        | COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_filter" ->
      """SELECT CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin,
    "q03_top_orders" ->
      """SELECT l_orderkey, o_orderdate,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '2020-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority""".stripMargin,
    "q05_customers_no_orders" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')""".stripMargin,
    "q06_nation_revenue" ->
      """SELECT r_name, n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin,
    "q07_market_segments" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)/COUNT(c_acctbal) AS avg_acctbal,
        | MIN(c_acctbal) AS min_acctbal, MAX(c_acctbal) AS max_acctbal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q08_top_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        | FROM orders) t WHERE rn <= 3""".stripMargin,
    "q09_running_total" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders""".stripMargin,
    "q10_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        | COALESCE(LAG(o_totalprice) OVER w, -1.0) AS prev_price,
        | CAST(COALESCE(date_diff('day', CAST(LAG(o_orderdate) OVER w AS DATE), CAST(o_orderdate AS DATE)), -1) AS INTEGER) AS gap_days
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,
    "q11_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,
    "q12_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "q13_distinct_counts" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        | COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q14_setop_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "q15_conditional_agg" ->
      """SELECT l_linestatus,
        | CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_linestatus""".stripMargin,
    "q16_having" ->
      """SELECT l_suppkey,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
        | COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey
        |HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 1000.0""".stripMargin,
    "q17_string_funcs" ->
      """SELECT UPPER(p_brand) AS brand, SUBSTRING(p_type, 1, 6) AS type_prefix,
        | COUNT(*) AS n_parts, MIN(p_retailprice) AS min_price, MAX(p_retailprice) AS max_price
        |FROM part WHERE p_size >= 1 AND p_size <= 15
        |GROUP BY 1, 2""".stripMargin,
    "q18_date_parts" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
        | CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS o_month,
        | COUNT(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q19_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
        |   / COUNT(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS avg_k,
        | MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
        | MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q20_event_windows" ->
      """SELECT date_trunc('day', ts) AS day_start, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q21_fingerprints" ->
      """SELECT doc_id, md5(text) AS fp, CAST(LENGTH(text) AS INTEGER) AS n_chars
        |FROM documents""".stripMargin,
    "q22_exact_dedup" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q23_token_stats" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
        | CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) / len(string_split(text, ' ')) AS ttr
        |FROM documents""".stripMargin,
    "q24_lang_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
        | CAST(SUM(LENGTH(text)) AS DOUBLE)/COUNT(*) AS avg_chars,
        | CAST(SUM(len(string_split(text, ' '))) AS DOUBLE)/COUNT(*) AS avg_tokens
        |FROM documents GROUP BY lang""".stripMargin,
    "q25_quality_scores" ->
      s"""SELECT doc_id, lang,
         | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
         | CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS DOUBLE)/len(string_split(text, ' ')) AS stop_ratio,
         | LEAST(CAST(len(string_split(text, ' ')) AS DOUBLE)/100.0, 1.0)*0.4
         |  + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)/len(string_split(text, ' ')))*0.3
         |  + (CAST(len(list_filter(string_split(text, ' '), w -> w IN $stopList)) AS DOUBLE)/len(string_split(text, ' ')))*0.3 AS quality
         |FROM documents""".stripMargin,
    "q26_jaccard_pairs" ->
      """WITH d AS (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS words FROM documents)
        |SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |  / (len(a.words) + len(b.words) - CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)) AS jaccard_sim
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        | AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |  / (len(a.words) + len(b.words) - CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)) >= 0.3""".stripMargin,
    "q35_union_except" ->
      """SELECT o_custkey FROM (
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        | UNION
        | SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |) u
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin,
    "q36_weighted_avg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_extendedprice*l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |  / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS w_avg_price,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q37_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,
    "q38_bigram_counts" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        | SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS bigram
        | FROM documents) b
        |GROUP BY bigram HAVING COUNT(*) >= 10""".stripMargin,
    "q40_asof_join" ->
      """SELECT e.user_id, e.event_id AS error_id,
        | COALESCE(c.event_id, -1) AS click_id,
        | COALESCE(CAST(c.ts AS TIMESTAMP), TIMESTAMP '1970-01-01') AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    "q42_salted_agg" ->
      """SELECT l_returnflag,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q45_scalar_subquery" ->
      """SELECT c_custkey, c_mktsegment,
        | COALESCE((SELECT MAX(o_totalprice) FROM orders
        |           WHERE o_custkey = c_custkey), -1.0) AS max_order
        |FROM customer""".stripMargin,
    "q46_pivot" ->
      """SELECT l_returnflag,
        | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'F'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), -1.0) AS qty_f,
        | COALESCE(CAST(SUM(CASE WHEN l_linestatus = 'O'
        |   THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), -1.0) AS qty_o
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q47_typed_api" ->
      """SELECT o_orderstatus, COUNT(o_orderkey) AS n_orders,
        | MAX(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 0.0
        |GROUP BY o_orderstatus""".stripMargin,
    "q48_range_window" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |   PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
        |   RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders""".stripMargin,
    "q49_median_rank" ->
      """SELECT c_mktsegment, c_acctbal AS median_acctbal FROM (
        | SELECT c_mktsegment, c_acctbal,
        |  ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey) AS rn,
        |  COUNT(*) OVER (PARTITION BY c_mktsegment) AS cnt
        | FROM customer) x
        |WHERE rn = CAST(CEIL(cnt / 2.0) AS INTEGER)""".stripMargin,
    "q50_embedding_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         | ${dotOf("a.embedding", "b.embedding")} / (sqrt(${dotOf("a.embedding", "a.embedding")}) * sqrt(${dotOf("b.embedding", "b.embedding")})) AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${dotOf("a.embedding", "b.embedding")} / (sqrt(${dotOf("a.embedding", "a.embedding")}) * sqrt(${dotOf("b.embedding", "b.embedding")})) >= 0.4""".stripMargin,
    "q28_cosine_pairs" -> cosPairsSql,
    "q30_label_centroids" ->
      s"""WITH ev AS (
         |  SELECT label, vec_id, i AS pos, CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS v
         |  FROM embeddings, range(1, 65) t(i)),
         |cent AS (
         |  SELECT label, pos,
         |    list_reduce(list_prepend(0.0, list(v ORDER BY vec_id)), (a,b) -> a+b) / COUNT(*) AS c
         |  FROM ev GROUP BY label, pos),
         |carr AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label),
         |base AS (SELECT centroid AS bc FROM carr WHERE label = 0)
         |SELECT label,
         | ${dotOf("centroid", "bc")} / (sqrt(${dotOf("centroid", "centroid")}) * sqrt(${dotOf("bc", "bc")})) AS cos_to_label0
         |FROM carr, base""".stripMargin,
    "q53_winnow_fp" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text)-8+2),
        |      i -> list_reduce(
        |        list_transform(range(0, 8), j -> CAST(unicode(text[CAST(i+j AS INTEGER)]) AS BIGINT)),
        |        (a,c) -> (a*257+c) % 1000000007)) AS hs
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_transform(
        |      range(1, greatest(len(hs)-3, 1)+1),
        |      i -> list_min(list_slice(hs, CAST(i AS INTEGER), CAST(i+3 AS INTEGER)))))) AS fps
        |  FROM h WHERE len(hs) >= 1)
        |SELECT doc_id, unnest(fps) AS fp FROM w""".stripMargin,
    "q54_bpeish_tokens" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]{1,4}|[A-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9\s]')) AS INTEGER) AS n_bpe,
        | CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws,
        | CAST(LENGTH(text) AS DOUBLE)
        |   / nullif(len(regexp_extract_all(text, '[a-z]{1,4}|[A-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9\s]')), 0) AS chars_per_bpe
        |FROM documents""".stripMargin,
    "q55_rank_family" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(DENSE_RANK() OVER w AS INTEGER) AS drank,
        | CAST(NTILE(4) OVER w AS INTEGER) AS tile,
        | COALESCE(LEAD(o_totalprice) OVER w, -1.0) AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""".stripMargin,
    "q56_percentiles" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS p25,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.75) AS p75,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // q57: the Spark side computes connected components by iterative
    // min-label propagation; the oracle recomputes the SAME pair set
    // (q26's definition) and takes the transitive closure with a
    // recursive CTE. Both converge to the component-minimum label —
    // a unique fixpoint, so the distributed graph computation is
    // exact-hash-checked.
    "q57_dedup_clusters" ->
      """WITH RECURSIVE d AS (
        |  SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS words FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
        |    / (len(a.words) + len(b.words) - CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)) >= 0.3),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT doc_id, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.s AS doc_id, w.label FROM walk w JOIN e ON w.doc_id = e.t)
        |SELECT doc_id, MIN(label) AS cluster_id, doc_id = MIN(label) AS is_keeper
        |FROM walk GROUP BY doc_id""".stripMargin,
    // q103: clusters over the q51 (shingle-jaccard ≤ 0.4, unblocked)
    // pair predicate — the oracle is banding-free brute force + a
    // recursive-CTE transitive closure, so hash equality certifies the
    // ENTIRE linear pipeline (banding recall AND the distributed CC)
    "q103_clusters_fast" ->
      """WITH RECURSIVE d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM documents WHERE len(string_split(text,' ')) >= 3),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT doc_id, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.s AS doc_id, w.label FROM walk w JOIN e ON w.doc_id = e.t)
        |SELECT doc_id, MIN(label) AS cluster_id, doc_id = MIN(label) AS is_keeper
        |FROM walk GROUP BY doc_id""".stripMargin,
    // q215: delete-capable incremental dedup — the oracle is q103's
    // from-scratch closure over exactly the SURVIVING corpus
    // (doc_id % 13 <> 5), blind to the engine's persisted-state /
    // delete split; hash equality certifies the touched-cluster
    // re-solve (splits included) and the untouched rows' byte-identity
    "q215_dedup_delete" ->
      """WITH RECURSIVE surv AS MATERIALIZED (
        | SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 5),
        |d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM surv WHERE len(string_split(text,' ')) >= 3),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT doc_id, doc_id AS label FROM surv
        |  UNION
        |  SELECT e.s AS doc_id, w.label FROM walk w JOIN e ON w.doc_id = e.t)
        |SELECT doc_id, MIN(label) AS cluster_id, doc_id = MIN(label) AS is_keeper
        |FROM walk GROUP BY doc_id""".stripMargin,
    // q216: delete-capable incremental ER — the oracle is q157's
    // from-scratch resolution over exactly the SURVIVING corpus
    // (p_partkey % 17 <> 3), blind to the engine's persisted-state /
    // delete split; hash equality certifies the touched-cluster
    // re-solve (weld-inverse splits included) and the untouched golden
    // rows' byte-identity
    "q216_er_delete" ->
      """WITH RECURSIVE surv AS MATERIALIZED (
        |  SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey % 17 <> 3),
        |p AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM surv a JOIN surv b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT p_partkey AS id, p_partkey AS label FROM surv
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t),
        |cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
        |SELECT cluster_id,
        | arg_max(n.p_partkey, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_id,
        | arg_max(n.p_name, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_name,
        | COUNT(*) AS n_members
        |FROM cc JOIN surv n ON cc.id = n.p_partkey
        |GROUP BY 1""".stripMargin,
    // q104: like q101/q102 the oracle is the gate CONTRACT — the
    // banded path must recover the planted high-cosine twins, and a
    // recall regression flips meets_floor on every row
    "q104_embed_banded_gate" ->
      """SELECT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 50 ORDER BY q_id""".stripMargin,
    // q105: exact — the planted twins (and ONLY they) must be deduped
    // away, so the survivor set is the original corpus verbatim
    "q105_semantic_dedup" ->
      "SELECT vec_id FROM embeddings ORDER BY vec_id",
    // q106: the sketch-then-verify output is EXACT (Misra-Gries
    // guarantees no word above N/k escapes the candidate set), so the
    // oracle is the plain above-threshold count — integer threshold
    // comparison, no division
    "q106_heavy_hitters" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |SELECT word, COUNT(*) AS n FROM w GROUP BY word
        |HAVING COUNT(*) * 100 > (SELECT COUNT(*) FROM w)
        |ORDER BY word""".stripMargin,
    // q107: gate contract like q101/q102 — the sketch values are
    // engine-specific, the rank-error bound is not
    "q107_approx_quantiles" ->
      """SELECT CAST(q AS DOUBLE) AS quantile, TRUE AS meets_bound
        |FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(q) ORDER BY q""".stripMargin,
    // q110: exact integer moments (floor-recovered units/cents — the
    // portable double→int path), DECIMAL(38,0) sums, one fixed double
    // expression per statistic — the q58 dispersion recipe one moment up
    "q110_correlation" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y*y AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x*y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
        |    CAST(COUNT(*) AS DOUBLE) AS n
        |  FROM b GROUP BY 1)
        |SELECT l_returnflag,
        | (((sxy - sx * sy / n) / (n - 1.0)) / 100.0) AS cov_qty_price,
        | ((sxy - sx * sy / n)
        |   / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n))) AS corr_qty_price,
        | CAST(n AS BIGINT) AS n_rows
        |FROM m ORDER BY 1""".stripMargin,
    // q192: grouped OLS from the same exact-moment machinery — second
    // moments SPLIT at 2^30 before the DECIMAL(38,0) sums (a sum past
    // 2^63 takes DuckDB's two-part hugeint->double cast, 1 ULP off —
    // the dimStats split keeps every cast on the exact int64 path of
    // BOTH engines, recombined hi*2^30 + lo in the same double ops),
    // then slope / intercept / R² as the identical fixed double
    // chains, NULL (not Inf/NaN) on zero-variance groups
    "q192_grouped_ols" ->
      """WITH b AS (
        |  SELECT n_name,
        |    epoch_us(o_orderdate) // 86400000000 AS x,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS y
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |p AS (
        |  SELECT n_name, x, y, x*x AS pxx, y*y AS pyy, x*y AS pxy FROM b),
        |sp AS (
        |  SELECT *, ((pxx % 1073741824) + 1073741824) % 1073741824 AS pxx_lo,
        |    ((pyy % 1073741824) + 1073741824) % 1073741824 AS pyy_lo,
        |    ((pxy % 1073741824) + 1073741824) % 1073741824 AS pxy_lo
        |  FROM p),
        |m AS (
        |  SELECT n_name,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST((pxx - pxx_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pxx_lo AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST((pyy - pyy_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pyy_lo AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST((pxy - pxy_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pxy_lo AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM sp GROUP BY 1),
        |d AS (SELECT *, (sxy - sx * sy / n) AS dxy, (sxx - sx * sx / n) AS dxx,
        |    (syy - sy * sy / n) AS dyy FROM m),
        |s AS (SELECT *, CASE WHEN dxx > 0 THEN dxy / dxx END AS slope_f FROM d)
        |SELECT n_name, CAST(n AS BIGINT) AS n_rows,
        | slope_f / 100.0 AS slope,
        | (CASE WHEN slope_f IS NOT NULL THEN (sy - slope_f * sx) / n END)
        |   / 100.0 AS intercept,
        | CASE WHEN dxx > 0 AND dyy > 0 THEN (dxy * dxy) / (dxx * dyy) END AS r2
        |FROM s""".stripMargin,
    // q196: lag pairs via the same window, then the q192 split-moment
    // replay; Pearson as the q110 fixed chain over the recombined
    // moments — NULL on constant / too-short series
    "q196_lag_autocorr" ->
      """WITH s AS (
        |  SELECT user_id AS key,
        |    CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y,
        |    lag(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT), 1) OVER
        |      (PARTITION BY user_id
        |       ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id) AS x
        |  FROM events),
        |p AS (SELECT key, x, y, x*x AS pxx, y*y AS pyy, x*y AS pxy
        |  FROM s WHERE x IS NOT NULL),
        |sp AS (
        |  SELECT *, ((pxx % 1073741824) + 1073741824) % 1073741824 AS pxx_lo,
        |    ((pyy % 1073741824) + 1073741824) % 1073741824 AS pyy_lo,
        |    ((pxy % 1073741824) + 1073741824) % 1073741824 AS pxy_lo
        |  FROM p),
        |m AS (
        |  SELECT key,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST((pxx - pxx_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pxx_lo AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST((pyy - pyy_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pyy_lo AS DECIMAL(38,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST((pxy - pxy_lo) // 1073741824 AS DECIMAL(38,0))) AS DOUBLE) * 1073741824.0
        |      + CAST(SUM(CAST(pxy_lo AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM sp GROUP BY 1),
        |d AS (SELECT *, (sxy - sx * sy / n) AS dxy, (sxx - sx * sx / n) AS dxx,
        |    (syy - sy * sy / n) AS dyy FROM m)
        |SELECT key AS user_id, CAST(n AS BIGINT) AS n_pairs,
        | CASE WHEN dxx > 0 AND dyy > 0
        |   THEN dxy / (sqrt(dxx) * sqrt(dyy)) END AS autocorr
        |FROM d""".stripMargin,
    // q197: PSI replayed with the identical Laplace smoothing, ln
    // through DuckDB's own glibc-backed ln, per-term 2^-40
    // quantization and exact integer sum (the q179 fold)
    "q197_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type AS g,
        |    CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-15 00:00:00' AS b,
        |    CAST(least(floor(value / 60.0), 9.0) AS INTEGER) AS k
        |  FROM events),
        |c AS (SELECT g, b, k, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM e GROUP BY 1, 2, 3),
        |t AS (SELECT g, b, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY 1, 2),
        |grid AS (SELECT DISTINCT g, CAST(t2.k AS INTEGER) AS k
        |  FROM c, range(0, 10) t2(k)),
        |f AS (
        |  SELECT grid.g, grid.k,
        |    COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
        |    na.n AS na, nb.n AS nb
        |  FROM grid
        |  LEFT JOIN c ca ON ca.g = grid.g AND ca.k = grid.k AND NOT ca.b
        |  LEFT JOIN c cb ON cb.g = grid.g AND cb.k = grid.k AND cb.b
        |  JOIN t na ON na.g = grid.g AND NOT na.b
        |  JOIN t nb ON nb.g = grid.g AND nb.b),
        |q AS (
        |  SELECT g, na, nb,
        |    CAST(floor(
        |      (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE)
        |        - CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
        |      * ln((CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
        |           / (CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)))
        |      * 1099511627776.0 + 0.5) AS BIGINT) AS qt
        |  FROM f)
        |SELECT g AS event_type, na AS n_base, nb AS n_current,
        |  CAST(SUM(qt) AS DOUBLE) / 1099511627776.0 AS psi
        |FROM q GROUP BY 1, 2, 3""".stripMargin,
    // q109: gate contract like q107 — the HLL estimate is
    // engine-specific, its error bound is not
    "q109_approx_distinct_gate" ->
      """SELECT l_returnflag, TRUE AS meets_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // q111: the streamed day windows must equal the batch aggregation
    // over the same slice — q20's recipe behind a watermark
    "q111_stream_windows" ->
      """SELECT date_trunc('day', ts) AS day_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |GROUP BY 1, 2""".stripMargin,
    // q112: the stream's Misra-Gries candidates + batch exact second
    // pass (the q106 recipe per window) = the plain above-threshold
    // per-day counts; k = 5
    "q112_stream_heavy_hitters" ->
      """WITH e AS (
        |  SELECT date_trunc('day', ts) AS day_start, event_type
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
        |c AS (SELECT day_start, event_type, COUNT(*) AS n_events
        |  FROM e GROUP BY 1, 2),
        |t AS (SELECT day_start, COUNT(*) AS n_window FROM e GROUP BY 1)
        |SELECT c.day_start, c.event_type, c.n_events, t.n_window
        |FROM c JOIN t ON c.day_start = t.day_start
        |WHERE c.n_events * 5 > t.n_window""".stripMargin,
    // q113: gate contract like q107 — the streamed sketch's values are
    // engine-specific, the per-window rank bound is not
    "q113_stream_quantile_gate" ->
      """SELECT DISTINCT date_trunc('day', ts) AS day_start,
        | CAST(q AS DOUBLE) AS quantile, TRUE AS meets_bound
        |FROM events, (VALUES (0.25), (0.5), (0.75), (0.95)) t(q)
        |WHERE ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin,
    // q114: one survivor per distinct content fingerprint, and every
    // survivor is an original (planted copies replayed a day later
    // must all be dropped by the watermark-bounded dedup state).
    // doc_id < 4096 = StreamReplay.MaxDedupDocs: the replayed corpus
    // is the first-N slice so the harness's driver-side collect is
    // constant in SF (bound inactive at sf <= 0.01)
    "q114_stream_dedup" ->
      """SELECT DISTINCT md5(text) AS fp, TRUE AS is_original
        |FROM documents WHERE doc_id < 4096""".stripMargin,
    // q115: gate contract like q104, ingest-side — the stream must
    // recover the planted cos≈0.9 twins at ≥ 0.8 recall
    "q115_stream_embed_gate" ->
      """SELECT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 50 ORDER BY q_id""".stripMargin,
    // q116: values are independent of the bucketed layout (that's the
    // point) — plain join SQL; the ZERO-exchange plan property is
    // spec-asserted
    "q116_bucketed_join" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    // q117: append-mode inner stream-stream join emits each matched
    // pair exactly once whatever the batching — the oracle is the
    // plain batch interval self-join over the replayed slice
    "q117_stream_interval_join" ->
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        | c.event_id AS click_id, e.ts AS err_ts, c.ts AS click_ts
        |FROM events e JOIN events c
        |  ON c.user_id = e.user_id
        | AND c.ts >= e.ts - INTERVAL 6 HOUR AND c.ts <= e.ts
        |WHERE e.event_type = 'error' AND c.event_type = 'click'
        |  AND e.ts < TIMESTAMP '2024-01-08 00:00:00'
        |  AND c.ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin,
    // q132: the streamed as-of matches must equal DuckDB's native
    // ASOF LEFT JOIN over the slice (q40's oracle + the slice
    // predicate) — same inclusive e.ts >= c.ts semantics, same
    // -1/epoch no-match convention
    "q132_stream_asof_join" ->
      """SELECT e.user_id, e.event_id AS error_id,
        | COALESCE(c.event_id, -1) AS click_id,
        | COALESCE(CAST(c.ts AS TIMESTAMP), TIMESTAMP '1970-01-01') AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'error'
        |      AND ts < TIMESTAMP '2024-01-08 00:00:00') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click'
        |      AND ts < TIMESTAMP '2024-01-08 00:00:00') c
        | ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    // q118: the streamed gap sessions must equal the batch lag+cumsum
    // sessionization (q66's recipe, grouped to session rows);
    // total_value folds doubles in (ts, event_id) order on both
    // engines — list_reduce mirrors the stream's sequential fold
    "q118_stream_sessions" ->
      """WITH o AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, event_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id), (a,b) -> a + b) AS total_value
        |FROM s GROUP BY user_id, sid""".stripMargin,
    // q119: the streamed per-user EWMA must equal the batch fold
    // (q70's list_reduce recipe) over the replayed slice — same
    // (ts, event_id) fold order, bit-exact doubles
    "q119_stream_ewma" ->
      """SELECT user_id, CAST(len(vs) AS BIGINT) AS n_events,
        | list_reduce(vs, (a, b) -> a * 0.5 + b * 0.5) AS ewma_value
        |FROM (SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vs
        |      FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
        |      GROUP BY user_id) t""".stripMargin,
    // q120: the streamed left-outer interval join must equal the
    // batch LEFT JOIN — matched rows exactly once, null-side rows
    // exactly once after the watermark closes their horizon
    "q120_stream_outer_join" ->
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        | c.event_id AS click_id, e.ts AS err_ts, c.ts AS click_ts
        |FROM (SELECT * FROM events
        |      WHERE event_type = 'error'
        |        AND ts < TIMESTAMP '2024-01-08 00:00:00') e
        |LEFT JOIN (SELECT * FROM events
        |      WHERE event_type = 'click'
        |        AND ts < TIMESTAMP '2024-01-08 00:00:00') c
        |  ON c.user_id = e.user_id
        | AND c.ts >= e.ts - INTERVAL 6 HOUR AND c.ts <= e.ts""".stripMargin,
    // q108: same exactness recipe as q79 (exact int counts, identical
    // IEEE expression shapes, ln ≡ math_ln, sorted-order fold seeded
    // with the first-token term); model counted on doc_id%2==0 half
    "q108_bigram_nll" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |train AS (SELECT * FROM toks WHERE doc_id % 2 = 0),
        |tb AS (
        |  SELECT bigram, COUNT(*) AS cb FROM (
        |    SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM train)
        |  GROUP BY 1),
        |cp AS (SELECT string_split(bigram, ' ')[1] AS prev, SUM(cb) AS cp
        |  FROM tb GROUP BY 1),
        |cw AS (SELECT w, COUNT(*) AS cw FROM (
        |    SELECT unnest(tk) AS w FROM train) GROUP BY 1),
        |tot AS (SELECT SUM(cw) AS t FROM cw),
        |bt AS (
        |  SELECT doc_id, bigram, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM toks)
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_id, bigram,
        |    CAST(tf AS DOUBLE) * -ln(CASE
        |      WHEN cb IS NOT NULL THEN CAST(cb AS DOUBLE) / CAST(cp AS DOUBLE)
        |      WHEN cw IS NOT NULL
        |        THEN 0.4 * (CAST(cw AS DOUBLE) / CAST(t AS DOUBLE))
        |      ELSE 0.4 * (1.0 / CAST(t AS DOUBLE)) END) AS term
        |  FROM bt
        |  LEFT JOIN tb USING (bigram)
        |  LEFT JOIN cp ON string_split(bt.bigram, ' ')[1] = cp.prev
        |  LEFT JOIN cw ON string_split(bt.bigram, ' ')[2] = cw.w
        |  CROSS JOIN tot),
        |agg AS (SELECT doc_id, list(term ORDER BY bigram) AS terms
        |  FROM scored GROUP BY 1),
        |first AS (
        |  SELECT doc_id, len(tk) AS n_tokens,
        |    -ln(CASE WHEN cw IS NOT NULL
        |      THEN CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)
        |      ELSE 1.0 / CAST(t AS DOUBLE) END) AS term1
        |  FROM toks LEFT JOIN cw ON toks.tk[1] = cw.w CROSS JOIN tot)
        |SELECT f.doc_id, CAST(f.n_tokens AS INTEGER) AS n_tokens,
        |  list_reduce(list_prepend(f.term1, COALESCE(a.terms, [])),
        |    (x, y) -> x + y) / f.n_tokens AS avg_nll
        |FROM first f LEFT JOIN agg a USING (doc_id)""".stripMargin,
    "q58_dispersion" ->
      """SELECT l_returnflag,
        | (CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     / CAST(COUNT(*) AS DOUBLE))
        |   / (CAST(COUNT(*) AS DOUBLE) - 1.0) AS var_qty,
        | sqrt((CAST(SUM(CAST(l_quantity*l_quantity AS DECIMAL(28,4))) AS DOUBLE)
        |   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |     / CAST(COUNT(*) AS DOUBLE))
        |   / (CAST(COUNT(*) AS DOUBLE) - 1.0)) AS stddev_qty,
        | COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // q31/q51: both LSH paths verify every candidate with an EXACT
    // jaccard, so their outputs are subsets of the true pair set; the
    // deterministic seeded pipelines find every true pair on the
    // fixtures (per-pair miss prob ≤ 8e-8 for q51's 16 bands, ≤ 1e-4
    // for q31's 4 tables at the observed J ≥ 0.9; MinHashRecallSpec
    // pins recall). The oracle is the banding-free brute-force truth —
    // hash equality IS the recall claim. (q31's distances are computed
    // over HashingTF bucket sets; 2^18 buckets keep the shingle→bucket
    // map collision-free on the fixture vocabulary, verified bit-equal.)
    "q31_minhash_pairs" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM documents WHERE len(string_split(text,' ')) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) AS jaccard_dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4""".stripMargin,
    "q51_minhash_fast" ->
      """WITH d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM documents WHERE len(string_split(text,' ')) >= 3)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) AS jaccard_dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4""".stripMargin,
    "q59_vocab_topk" ->
      """SELECT word, n, rank FROM (
        | SELECT word, COUNT(*) AS n,
        |  CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) AS INTEGER) AS rank
        | FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
        | GROUP BY word) r
        |WHERE rank <= 50""".stripMargin,
    "q60_top_suppliers" ->
      """SELECT s_suppkey, s_name, n_name,
        | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY s_suppkey, s_name, n_name
        |ORDER BY revenue DESC, s_suppkey LIMIT 5""".stripMargin,
    // q33: the oracle models the REAL container math — BMP file size =
    // 1078-byte headers+palette plus width·height pixel rows (widths
    // are multiples of 4, so 8bpp rows carry no padding; the last row
    // zero-fills), WAV = 44-byte RIFF/fmt/data headers plus the sample
    // bytes (+1 even-boundary pad on odd sizes), with duration parsed
    // back from the data chunk at the 16 kHz rate. Video is Y4M
    // (Cmono): file size = the ASCII header "YUV4MPEG2 W.. H.. F..:1
    // Ip A1:1 Cmono\n" (32 bytes + the W/H/fps digit counts) plus
    // n_frames × ("FRAME\n" + w·h luma bytes); frames_sampled is the
    // real ~1 fps sample, every fps-th frame = ceil(n_frames / fps).
    // trunc() before the int cast: DuckDB CAST rounds where Spark's
    // cast truncates.
    "q33_media_profile" ->
      """WITH m AS (
        | SELECT doc_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  strlen(text) AS len,
        |  64 + (doc_id % 16) * 16 AS w,
        |  32 + (doc_id % 8) * 16 AS vw,
        |  16 + (doc_id % 4) * 16 AS vh,
        |  1 + (doc_id % 5) AS fps
        | FROM documents),
        |g AS (
        | SELECT doc_id, kind, len, w, vw, vh, fps,
        |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / w) AS BIGINT)) AS h,
        |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / (vw * vh)) AS BIGINT)) AS nf
        | FROM m),
        |f AS (
        | SELECT kind,
        |  CASE kind WHEN 'image' THEN 1078 + w * h
        |            WHEN 'audio' THEN 44 + len + (len % 2)
        |            ELSE 32 + strlen(CAST(vw AS VARCHAR)) + strlen(CAST(vh AS VARCHAR))
        |                 + strlen(CAST(fps AS VARCHAR)) + nf * (6 + vw * vh) END AS n_bytes,
        |  CASE kind WHEN 'image' THEN w WHEN 'video' THEN vw ELSE 0 END AS width,
        |  CASE kind WHEN 'image' THEN h WHEN 'video' THEN vh ELSE 0 END AS height,
        |  CASE kind WHEN 'audio' THEN 16000 ELSE 0 END AS sample_rate,
        |  CASE kind WHEN 'video' THEN (nf + fps - 1) // fps
        |            WHEN 'audio' THEN greatest(1, (len // 16) // 5000) ELSE 1 END AS frames_sampled
        | FROM g),
        |r AS (
        | SELECT kind, n_bytes, sample_rate, frames_sampled,
        |  CASE WHEN greatest(width, height) > 0
        |   THEN CAST(trunc(width * least(1.0, 256 / greatest(width, height))) AS INTEGER)
        |   ELSE 0 END AS out_width
        | FROM f)
        |SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        | CAST(SUM(frames_sampled) AS BIGINT) AS total_frames,
        | MIN(out_width) AS min_w, MAX(out_width) AS max_w,
        | MAX(sample_rate) AS max_rate
        |FROM r GROUP BY kind""".stripMargin,
    // q121: the oracle re-derives the whole Y4M video path from the
    // manifest formulas — geometry/fps per doc_id, frame count from
    // the text length, ~1 fps sampling stride, and the sampled
    // frames' byte sum with decoded position i mapping to source byte
    // (i div fsize)·fps·fsize + (i mod fsize), zero past the text
    // length (the last frame's encoder zero fill). Same ASCII
    // precondition as q34 (unicode(ch) == UTF-8 byte).
    // q130: the resized thumbnail's byte sum replayed over the source
    // text — resized position i maps to source pixel
    // (⌊(i div 32)·h/16⌋·w + ⌊(i mod 32)·w/32⌋), zero past the text
    // length (encoder zero fill). Same ASCII precondition as q34.
    "q130_image_resize" ->
      """WITH m AS (
        | SELECT doc_id, text, strlen(text) AS len,
        |  64 + (doc_id % 16) * 16 AS w
        | FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        | SELECT doc_id, text, len, w,
        |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / w) AS BIGINT)) AS h
        | FROM m),
        |r AS (SELECT doc_id, text, len, w, h,
        |   unnest(range(0, 512)) AS i FROM g),
        |b AS (SELECT doc_id, text, len,
        |   ((i // 32) * h // 16) * w + ((i % 32) * w // 32) AS idx
        |  FROM r),
        |c AS (SELECT doc_id,
        |   CAST(SUM(CASE WHEN idx < len
        |     THEN unicode(text[CAST(idx + 1 AS INTEGER)]) ELSE 0 END) AS BIGINT)
        |    AS resized_byte_sum
        |  FROM b GROUP BY doc_id)
        |SELECT g.doc_id AS media_id, CAST(g.w AS INTEGER) AS width,
        | CAST(g.h AS INTEGER) AS height,
        | CAST(32 AS INTEGER) AS new_w, CAST(16 AS INTEGER) AS new_h,
        | c.resized_byte_sum
        |FROM g JOIN c USING (doc_id) ORDER BY media_id""".stripMargin,
    "q121_video_decode" ->
      """WITH m AS (
        | SELECT doc_id, text, strlen(text) AS len,
        |  32 + (doc_id % 8) * 16 AS vw,
        |  16 + (doc_id % 4) * 16 AS vh,
        |  1 + (doc_id % 5) AS fps
        | FROM documents WHERE doc_id % 3 = 2),
        |g AS (
        | SELECT doc_id, text, len, vw, vh, fps, vw * vh AS fsize,
        |  greatest(1, CAST(ceil(CAST(len AS DOUBLE) / (vw * vh)) AS BIGINT)) AS nf
        | FROM m),
        |k AS (SELECT *, (nf + fps - 1) // fps AS ks FROM g),
        |b AS (SELECT doc_id, text, len, fsize, fps,
        |   unnest(range(0, ks * fsize)) AS i FROM k),
        |s AS (SELECT doc_id,
        |   CASE WHEN (i // fsize) * fps * fsize + (i % fsize) < len
        |    THEN unicode(text[CAST((i // fsize) * fps * fsize + (i % fsize) + 1 AS INTEGER)])
        |    ELSE 0 END AS byte
        |  FROM b),
        |c AS (SELECT doc_id, CAST(SUM(byte) AS BIGINT) AS sampled_byte_sum
        |  FROM s GROUP BY doc_id)
        |SELECT k.doc_id AS media_id, CAST(vw AS INTEGER) AS width,
        | CAST(vh AS INTEGER) AS height, CAST(fps AS INTEGER) AS fps,
        | CAST(nf AS INTEGER) AS n_frames, CAST(ks AS INTEGER) AS frames_sampled,
        | c.sampled_byte_sum
        |FROM k JOIN c ON k.doc_id = c.doc_id ORDER BY media_id""".stripMargin,
    // q131: the audio feature pass replayed over the source text —
    // WAV data-chunk bytes ARE the text bytes, deviations scaled by n
    // (dev_i = n·s_i − Σs) stay exact integers, frames are 64-sample
    // windows (i // 64), crossings compare consecutive deviation
    // signs, loudest frame is energy-desc/frame-asc rank 1. Same
    // ASCII precondition as q34.
    "q131_audio_features" ->
      """WITH m AS (SELECT doc_id, text, strlen(text) AS len
        |  FROM documents WHERE doc_id % 3 = 1),
        |b AS (SELECT doc_id, len, i,
        |   CAST(unicode(text[CAST(i + 1 AS INTEGER)]) AS BIGINT) AS v
        |  FROM m, unnest(range(0, len)) AS u(i)),
        |t AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS total FROM b GROUP BY doc_id),
        |d AS (SELECT b.doc_id, b.len, b.i, b.i // 64 AS frame,
        |   b.len * b.v - t.total AS dev
        |  FROM b JOIN t USING (doc_id)),
        |x AS (SELECT doc_id, dev,
        |   lag(dev) OVER (PARTITION BY doc_id ORDER BY i) AS pdev
        |  FROM d),
        |f AS (SELECT doc_id, frame, CAST(SUM(dev * dev) AS BIGINT) AS fe
        |  FROM d GROUP BY doc_id, frame),
        |l AS (SELECT doc_id, frame, fe,
        |   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fe DESC, frame) AS rn
        |  FROM f),
        |a AS (SELECT doc_id,
        |   CAST(SUM(dev * dev) AS BIGINT) AS total_energy,
        |   CAST(MAX(abs(dev)) AS BIGINT) AS peak_dev
        |  FROM d GROUP BY doc_id),
        |c AS (SELECT doc_id,
        |   CAST(SUM(CASE WHEN pdev IS NOT NULL
        |     AND ((dev > 0 AND pdev < 0) OR (dev < 0 AND pdev > 0))
        |     THEN 1 ELSE 0 END) AS BIGINT) AS mean_crossings
        |  FROM x GROUP BY doc_id)
        |SELECT m.doc_id AS media_id, CAST(16000 AS INTEGER) AS sample_rate,
        | CAST(m.len AS BIGINT) AS n_samples,
        | CAST((m.len + 63) // 64 AS BIGINT) AS n_frames,
        | a.total_energy, c.mean_crossings, a.peak_dev,
        | CAST(l.frame AS BIGINT) AS loudest_frame,
        | l.fe AS loudest_energy
        |FROM m JOIN a USING (doc_id) JOIN c USING (doc_id)
        | JOIN l ON m.doc_id = l.doc_id AND l.rn = 1
        |ORDER BY media_id""".stripMargin,
    "q133_bpe_merges" -> bpeOracleSql(6),
    "q134_bpe_vocab" -> bpeVocabOracleSql(6, 20),
    // q122: same k-gram seeding + islands construction over the
    // literal gram strings — positions 0-based in both engines, span
    // end exclusive (pos + 8)
    "q122_dup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |   array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
        |  FROM t, unnest(range(1, len(toks) - 6)) AS u(i)),
        |d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.doc_id, g.pos, g.pos + 8 AS e FROM g JOIN d USING (gram)),
        |i AS (SELECT doc_id, pos, e,
        |   MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
        |  FROM h),
        |s AS (SELECT doc_id, pos, e,
        |   SUM(CASE WHEN pme IS NULL OR pos > pme THEN 1 ELSE 0 END)
        |     OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |  FROM i),
        |m AS (SELECT doc_id, span_id, MIN(pos) AS s0, MAX(e) AS e0
        |  FROM s GROUP BY doc_id, span_id)
        |SELECT doc_id, COUNT(*) AS n_spans,
        | CAST(SUM(e0 - s0) AS BIGINT) AS dup_tokens,
        | CAST(MAX(e0 - s0) AS INTEGER) AS longest_span
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q123: gate contract like q104/q107 — the sketch cells are
    // engine-buildable but pointless to replicate (DuckDB lacks
    // Spark's xxhash64); n_exact and the tracked top-20 set ARE
    // engine-neutral (deterministic count-desc/word tie-break), so
    // the oracle hash-checks them and the bound emits TRUE
    "q123_cms_freq_gate" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT word, COUNT(*) AS n_exact FROM w GROUP BY word),
        |t AS (SELECT word, n_exact FROM c ORDER BY n_exact DESC, word LIMIT 20)
        |SELECT word, n_exact, TRUE AS meets_bound FROM t ORDER BY word""".stripMargin,
    // q124: per-window twin of q123's contract — exact per-day top-5
    // user counts are engine-neutral, the CMS bound emits TRUE
    "q124_stream_cms_gate" ->
      """WITH e AS (
        |  SELECT date_trunc('day', ts) AS day_start, user_id
        |  FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
        |c AS (SELECT day_start, user_id, COUNT(*) AS n_exact
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT c.day_start, c.user_id, c.n_exact,
        |   ROW_NUMBER() OVER (PARTITION BY c.day_start
        |     ORDER BY c.n_exact DESC, c.user_id) AS rk
        |  FROM c)
        |SELECT day_start, user_id, n_exact, TRUE AS meets_bound
        |FROM r WHERE rk <= 5 ORDER BY day_start, user_id""".stripMargin,
    // q125: the AQE skew-split join — the oracle is the plain
    // aggregate-then-join in SQL; the split must change nothing
    // (exact integer counts/sums both sides)
    "q125_skew_join" ->
      """WITH l AS (
        |  SELECT CASE WHEN event_id % 10 <> 0 THEN CAST(0 AS BIGINT)
        |              ELSE event_id END AS k,
        |         user_id AS lu
        |  FROM events),
        |r AS (SELECT event_id AS k, user_id AS ru FROM events)
        |SELECT l.k % 7 AS kb, COUNT(*) AS n_rows,
        |       CAST(SUM(l.lu) AS BIGINT) AS sum_lu,
        |       CAST(SUM(r.ru) AS BIGINT) AS sum_ru
        |FROM l JOIN r USING (k)
        |GROUP BY 1 ORDER BY kb""".stripMargin,
    // q126: the race keys are bit-portable by construction (md5-derived
    // exact-int u, one division, glibc-exact ln — see weightedSampleOver)
    "q126_weighted_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS weight,
        |    ('0x' || substring(md5(text), 1, 12))::BIGINT AS h
        |  FROM documents)
        |SELECT doc_id, weight,
        |  -ln((h + 1) / 281474976710657.0) / weight AS race_key
        |FROM s WHERE weight >= 1
        |ORDER BY race_key, doc_id LIMIT 100""".stripMargin,
    // q127: BOTH rankings (exact float cosine and int8-quantized
    // cosine) replayed in portable arithmetic — full hash check of the
    // per-query overlap, recall, and gate
    "q127_quantized_knn" ->
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |q8 AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(round(x /
         |      (list_max(list_transform(v, y -> abs(y))) / 127.0), 0) AS BIGINT)) AS qv
         |  FROM e),
         |qn AS (
         |  SELECT vec_id, qv,
         |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip(qv, qv), p -> p[1]*p[2])), (a,b) -> a+b) AS DOUBLE)) AS nrm
         |  FROM q8),
         |ex AS (
         |  SELECT q.vec_id AS q_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      ${dotOf("q.v", "c.v")} / (sqrt(${dotOf("q.v", "q.v")}) * sqrt(${dotOf("c.v", "c.v")})) DESC,
         |      c.vec_id) AS rk
         |  FROM e q, e c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |qx AS (
         |  SELECT q.vec_id AS q_id, c.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(list_zip(q.qv, c.qv), p -> p[1]*p[2])), (a,b) -> a+b) AS DOUBLE)
         |        / (q.nrm * c.nrm) DESC,
         |      c.vec_id) AS rk
         |  FROM qn q, qn c WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
         |SELECT q_id, COUNT(*) AS n_hits,
         |       CAST(COUNT(*) AS DOUBLE) / CAST(10 AS DOUBLE) AS recall,
         |       COUNT(*) >= 8 AS meets_bound
         |FROM ex JOIN qx USING (q_id, vec_id)
         |WHERE ex.rk <= 10 AND qx.rk <= 10
         |GROUP BY q_id ORDER BY q_id""".stripMargin,
    // q44: the language-ID heuristic is an argmax over exact rational
    // marker-hit scores; ties resolve to the lexicographically LAST
    // language in both engines (array_max struct ordering ↔ ORDER BY
    // score DESC, lang DESC).
    "q44_lang_id" ->
      """WITH m(mlang, markers) AS (VALUES
        |  ('de', ['der','die','und','ist','nicht','das']),
        |  ('en', ['the','and','is','of','to','in']),
        |  ('es', ['el','la','que','de','los','es']),
        |  ('fr', ['le','la','et','les','des','est']),
        |  ('zh', ['的','是','了','在','我','有'])),
        |s AS (
        | SELECT d.doc_id, d.lang AS labeled_lang, m.mlang,
        |  CAST(len(list_filter(list_distinct(string_split(d.text, ' ')),
        |    w -> list_contains(m.markers, w))) AS DOUBLE) / 6 AS score
        | FROM documents d CROSS JOIN m),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, mlang DESC) AS rn FROM s)
        |SELECT doc_id, labeled_lang, mlang AS predicted_lang, score AS confidence
        |FROM r WHERE rn = 1""".stripMargin,
    "q61_tfidf_exact" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents)
        |SELECT tf.doc_id, tf.word, tf.tf, df.df,
        | CAST(tf.tf AS DOUBLE) * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
        |FROM tf JOIN df USING (word), n""".stripMargin,
    "q62_pack_windows" ->
      """SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, CAST(start_pos AS BIGINT) AS start_pos,
        | CAST(floor(start_pos / 512) AS INTEGER) AS window_start,
        | CAST(floor((start_pos + n_tokens - 1) / 512) AS INTEGER) AS window_end
        |FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |  SUM(len(string_split(text, ' '))) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
        |    - len(string_split(text, ' ')) AS start_pos
        | FROM documents) t""".stripMargin,
    // range(1, 1000) caps the oracle at 999 chunks/doc (~32k tokens);
    // PipelineOpsSpec pins the fixture far below the cap so Spark and
    // oracle can never silently diverge on it
    "q63_chunking" ->
      """SELECT doc_id, CAST(c AS INTEGER) AS chunk_idx,
        | array_to_string(list_slice(string_split(text, ' '), CAST((c-1)*32+1 AS INTEGER), CAST(c*32 AS INTEGER)), ' ') AS chunk_text,
        | CAST(len(list_slice(string_split(text, ' '), CAST((c-1)*32+1 AS INTEGER), CAST(c*32 AS INTEGER))) AS INTEGER) AS chunk_tokens
        |FROM documents, range(1, 1000) t(c)
        |WHERE c <= CAST(ceil(len(string_split(text, ' ')) / 32.0) AS BIGINT)""".stripMargin,
    "q64_hash_split" ->
      """SELECT doc_id, bucket,
        | CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substring(md5(text), 1, 12))::BIGINT % 100 AS INTEGER) AS bucket
        | FROM documents) t""".stripMargin,
    "q65_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM toks WHERE len(tk) >= 2),
        |bc AS (SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        |bt AS (SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_bigram_frac FROM bc GROUP BY doc_id),
        |tg AS (SELECT doc_id,
        |  CASE WHEN len(tk) < 3 THEN NULL
        |   ELSE 1.0 - CAST(len(list_distinct(list_transform(range(1, len(tk) - 1),
        |     i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS DOUBLE) / (len(tk) - 2)
        |  END AS dup_trigram_frac
        | FROM toks)
        |SELECT tg.doc_id,
        | COALESCE(bt.top_bigram_frac, -1.0) AS top_bigram_frac,
        | COALESCE(tg.dup_trigram_frac, -1.0) AS dup_trigram_frac
        |FROM tg LEFT JOIN bt USING (doc_id)""".stripMargin,
    "q66_sessionize" ->
      """SELECT user_id, event_id,
        | CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |   ROWS UNBOUNDED PRECEDING) AS INTEGER) AS session_id
        |FROM (
        | SELECT user_id, event_id, ts_us,
        |  CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000 THEN 1 ELSE 0 END AS is_new
        | FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |   LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
        |  FROM events) a) b""".stripMargin,
    "q67_contamination" ->
      """WITH d AS (SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
        |   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) AS sh
        | FROM documents WHERE len(string_split(text, ' ')) >= 3),
        |b AS (SELECT DISTINCT unnest(sh) AS s, 1 AS hit FROM d WHERE source = 'src0'),
        |c AS (SELECT doc_id, unnest(sh) AS s FROM d WHERE source <> 'src0')
        |SELECT doc_id, COUNT(*) AS n_shingles,
        | CAST(SUM(COALESCE(hit, 0)) AS BIGINT) AS n_hits,
        | CAST(SUM(COALESCE(hit, 0)) AS DOUBLE) / COUNT(*) AS contamination
        |FROM c LEFT JOIN b USING (s) GROUP BY doc_id""".stripMargin,
    "q68_mixture_sample" ->
      """SELECT doc_id, source, bucket,
        | bucket < CAST(CASE WHEN idx < 5 THEN 1000.0 WHEN idx < 10 THEN 500.0
        |   WHEN idx < 15 THEN 250.0 ELSE 100.0 END AS INTEGER) AS kept
        |FROM (SELECT doc_id, source,
        |  CAST(substring(source, 4) AS INTEGER) AS idx,
        |  CAST(('0x' || substring(md5(text), 1, 12))::BIGINT % 1000 AS INTEGER) AS bucket
        | FROM documents) t""".stripMargin,
    "q69_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s AS (SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts_us END) AS signup_us
        |      FROM ev GROUP BY user_id),
        |c AS (SELECT ev.user_id, MIN(s.signup_us) AS signup_us,
        |       MIN(CASE WHEN event_type = 'click' AND ts_us > s.signup_us THEN ts_us END) AS click_us
        |      FROM ev JOIN s ON ev.user_id = s.user_id GROUP BY ev.user_id),
        |p AS (SELECT ev.user_id, MIN(c.signup_us) AS signup_us, MIN(c.click_us) AS click_us,
        |       MIN(CASE WHEN event_type = 'purchase' AND ts_us > c.click_us THEN ts_us END) AS purchase_us
        |      FROM ev JOIN c ON ev.user_id = c.user_id GROUP BY ev.user_id)
        |SELECT user_id, COALESCE(signup_us, -1) AS signup_us,
        | COALESCE(click_us, -1) AS click_us, COALESCE(purchase_us, -1) AS purchase_us,
        | (CASE WHEN signup_us IS NOT NULL THEN 1 ELSE 0 END +
        |  CASE WHEN click_us IS NOT NULL THEN 1 ELSE 0 END +
        |  CASE WHEN purchase_us IS NOT NULL THEN 1 ELSE 0 END) AS steps
        |FROM p""".stripMargin,
    "q70_ewma" ->
      """SELECT user_id, CAST(len(vs) AS INTEGER) AS n_events,
        | list_reduce(vs, (a, b) -> a * 0.5 + b * 0.5) AS ewma_value
        |FROM (SELECT user_id, list(value ORDER BY epoch_us(ts), event_id) AS vs
        |      FROM events GROUP BY user_id) t""".stripMargin,
    "q71_simhash_portable" ->
      s"""$simhashPolySql
         |SELECT doc_id, simhash60 FROM sh""".stripMargin,
    "q72_portable_pairs" ->
      s"""$simhashPolySql
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.simhash60, b.simhash60)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash60, b.simhash60)) <= 3""".stripMargin,
    // q73: cross-dataset dedup — every LSH candidate is verified with
    // the exact shingle jaccard, so survivors can only differ from the
    // brute-force truth by banding recall; as with q51, the seeded
    // pipeline is deterministic and at the fixtures' observed pair
    // similarities (J >= 0.8) the 8-band per-pair miss probability is
    // <= 5e-5 — hash equality against the brute-force NOT-EXISTS
    // formulation below IS the recall claim.
    "q73_cross_dedup" ->
      """WITH ref AS (
        | SELECT md5(text) AS fp,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh
        | FROM documents WHERE source = 'src0'),
        |c AS (
        | SELECT doc_id, source, md5(text) AS fp,
        |  list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2])) AS sh,
        |  len(string_split(text,' ')) AS n_tok
        | FROM documents WHERE source <> 'src0')
        |SELECT doc_id, source FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM ref WHERE ref.fp = c.fp)
        | AND NOT (c.n_tok >= 3 AND EXISTS (
        |  SELECT 1 FROM ref
        |  WHERE len(ref.sh) > 0 AND
        |   CAST(len(list_intersect(c.sh, ref.sh)) AS DOUBLE)
        |    / (len(c.sh) + len(ref.sh) - CAST(len(list_intersect(c.sh, ref.sh)) AS DOUBLE)) >= 0.6))""".stripMargin,
    "q29_knn_bruteforce" ->
      s"""SELECT q_id, vec_id, cos_sim, rank FROM (
         | SELECT q_id, vec_id, cos_sim,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rank
         | FROM ($cosPairsSql) p) r WHERE rank <= 10""".stripMargin,
    // ANN gates: the oracle is the CONTRACT (mean recall@10 across
    // the probes meets the floor), not the bucket layout — a recall
    // regression on the Spark side makes meets_floor=false on every
    // emitted row and the hash mismatches
    "q101_ann_lsh_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q102_ann_ivf_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q135_ann_pq_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // q182: same gate contract, tighter floor (0.9) — the probe runs
    // against the PERSISTED index extended by a frozen-quantizer delta
    // append, so a regression in the persist/load/append lifecycle
    // (not just the quantizers) flips every row's meets_floor
    "q182_ann_index_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // q205: the streamed-ingest index under the identical recall
    // contract — a stream that dropped, duplicated, or mis-encoded a
    // batch fails the gate (row-set equality vs the one-shot append
    // is StreamAnnSpec's stronger pin)
    "q205_stream_ann_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // q188/q189: the same contract with the eligible corpus narrowed —
    // filtered search must hit 0.9 recall against the exact top-10
    // over the PREDICATE-ELIGIBLE vectors and return only eligible
    // ids; the delete gate the same against the SURVIVORS and must
    // never surface a tombstoned id
    "q188_ann_filtered_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor,
        | TRUE AS all_eligible
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    "q189_ann_delete_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor,
        | TRUE AS no_deleted
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // q136: same 16-token chunking as q63's recipe; global keep-first
    // via row_number over (doc_id, chunk_idx); the cleaned doc is the
    // ordered concat of surviving chunks, compared by md5
    "q136_chunk_dedup" ->
      """WITH u AS (
        | SELECT doc_id, CAST(c AS INTEGER) AS chunk_idx,
        |  array_to_string(list_slice(string_split(text, ' '), CAST((c-1)*16+1 AS INTEGER), CAST(c*16 AS INTEGER)), ' ') AS chunk_text,
        |  CAST(len(list_slice(string_split(text, ' '), CAST((c-1)*16+1 AS INTEGER), CAST(c*16 AS INTEGER))) AS BIGINT) AS chunk_tokens
        | FROM documents, range(1, 1000) t(c)
        | WHERE c <= CAST(ceil(len(string_split(text, ' ')) / 16.0) AS BIGINT)),
        |k AS (SELECT *, row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_idx) AS rn FROM u),
        |c2 AS (SELECT doc_id, COUNT(*) AS n_kept, CAST(SUM(chunk_tokens) AS BIGINT) AS clean_tokens,
        |  md5(string_agg(chunk_text, ' ' ORDER BY chunk_idx)) AS clean_md5
        | FROM k WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM u GROUP BY doc_id)
        |SELECT t.doc_id, t.n_chunks, COALESCE(c2.n_kept, 0) AS n_kept,
        | COALESCE(c2.clean_tokens, 0) AS clean_tokens, c2.clean_md5
        |FROM tot t LEFT JOIN c2 USING (doc_id)""".stripMargin,
    "q137_jl_project" -> jlOracleSql(64, 16),
    "q139_kmeans" -> kmeansOracleSql(64, 4, 2),
    // q140: argmax/argmin ride lexicographic struct min/max with the
    // tie-break inside the key (−vec_id for the max side) — both
    // engines compare structs field-by-field, so this is full-value
    "q140_contrastive" ->
      s"""WITH a AS (SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label FROM embeddings WHERE vec_id < 20),
         |p AS (SELECT a_id, a_label, vec_id, label,
         |  ${dotOf("a_emb", "embedding")} / (sqrt(${dotOf("a_emb", "a_emb")}) * sqrt(${dotOf("embedding", "embedding")})) AS c
         | FROM embeddings, a WHERE vec_id <> a_id)
         |SELECT a_id,
         | -struct_extract(max(CASE WHEN label <> a_label THEN {'c': c, 'nid': -vec_id} END), 'nid') AS hard_neg_id,
         | struct_extract(max(CASE WHEN label <> a_label THEN {'c': c, 'nid': -vec_id} END), 'c') AS hard_neg_cos,
         | struct_extract(min(CASE WHEN label = a_label THEN {'c': c, 'pid': vec_id} END), 'pid') AS hard_pos_id,
         | struct_extract(min(CASE WHEN label = a_label THEN {'c': c, 'pid': vec_id} END), 'c') AS hard_pos_cos
         |FROM p GROUP BY a_id""".stripMargin,
    // q141: chunk-granular cross-split duplication under both split
    // keys — the id-keyed AND content-keyed schemes leak shared
    // chunks (near-dup/boilerplate text), which is why corpus dedup
    // runs before splitting; zeros are emitted, not omitted
    "q141_split_leakage" ->
      """WITH u AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 100 < 80 THEN 'train' WHEN doc_id % 100 < 90 THEN 'valid' ELSE 'test' END AS id_split,
        |  CASE WHEN ('0x' || substring(md5(text), 1, 12))::BIGINT % 100 < 80 THEN 'train'
        |       WHEN ('0x' || substring(md5(text), 1, 12))::BIGINT % 100 < 90 THEN 'valid' ELSE 'test' END AS content_split,
        |  md5(array_to_string(list_slice(string_split(text, ' '), CAST((c-1)*16+1 AS INTEGER), CAST(c*16 AS INTEGER)), ' ')) AS h
        | FROM documents, range(1, 1000) t(c)
        | WHERE c <= CAST(ceil(len(string_split(text, ' ')) / 16.0) AS BIGINT)),
        |m AS (
        | SELECT DISTINCT 'id' AS scheme, h, id_split AS split FROM u
        | UNION ALL
        | SELECT DISTINCT 'content' AS scheme, h, content_split AS split FROM u),
        |l AS (SELECT a.scheme, a.split AS split_a, b.split AS split_b, COUNT(*) AS n_shared
        | FROM m a JOIN m b ON a.scheme = b.scheme AND a.h = b.h AND a.split < b.split
        | GROUP BY 1, 2, 3),
        |g AS (SELECT s.scheme, p.split_a, p.split_b
        | FROM (VALUES ('id'), ('content')) s(scheme),
        |      (VALUES ('test', 'train'), ('test', 'valid'), ('train', 'valid')) p(split_a, split_b))
        |SELECT g.scheme, g.split_a, g.split_b, COALESCE(l.n_shared, 0) AS n_shared
        |FROM g LEFT JOIN l ON g.scheme = l.scheme AND g.split_a = l.split_a AND g.split_b = l.split_b""".stripMargin,
    // q142: K-M replay — integer lifetimes/buckets ('//' floors =
    // Spark 'div' truncates on the positive operands), Ŝ as an
    // init-prepended ordered product fold (1.0·x = x exactly)
    "q142_survival" ->
      """WITH pu AS (SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id),
        |g AS (SELECT max(last_us) AS m_us, min(first_us) AS lo_us FROM pu),
        |u AS (SELECT user_id, (last_us - first_us) AS life_us,
        |  (last_us <= m_us - (m_us - lo_us) // 5) AS death,
        |  CAST((last_us - first_us) * 64 // ((m_us - lo_us) + 1) AS INTEGER) AS bucket
        | FROM pu, g),
        |bk AS (SELECT bucket, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN death THEN 1 ELSE 0 END) AS BIGINT) AS n_deaths
        | FROM u GROUP BY bucket),
        |t AS (SELECT COUNT(*) AS n_total FROM u),
        |wr AS (SELECT bucket, n_users, n_deaths,
        |  CAST(n_total - COALESCE(SUM(n_users) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk
        | FROM bk, t),
        |a AS (SELECT list({'bucket': bucket, 'n_deaths': n_deaths, 'n_at_risk': n_at_risk} ORDER BY bucket) AS km FROM wr)
        |SELECT bucket, n_users, n_deaths, n_at_risk,
        | list_reduce(list_prepend(1.0, list_transform(list_filter(km, x -> x.bucket <= wr.bucket),
        |   x -> 1.0 - CAST(x.n_deaths AS DOUBLE) / CAST(x.n_at_risk AS DOUBLE))), (p, q) -> p * q) AS s_hat
        |FROM wr, a""".stripMargin,
    // q143: the O(n²) NOT-EXISTS dominance definition IS the oracle;
    // the engine's windowed formulation must reproduce it exactly
    "q143_skyline" ->
      """SELECT p_partkey, p_brand, p_size, p_retailprice FROM part a
        |WHERE NOT EXISTS (SELECT 1 FROM part b WHERE b.p_brand = a.p_brand
        | AND b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
        | AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size))""".stripMargin,
    // q144: q85's unrolled quantized iterations with the personalized
    // base term — restart mass (1-d)/|S| lands only on seed nodes
    // (custkey % 20 = 0 ⇒ id % 40 = 0), recomputed from the id so no
    // extra join; every node has in-degree ≥ 1 (symmetrized edges),
    // so the inner contribution group covers the node set like q85's
    "q144_ppr" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |ns AS (SELECT SUM(CASE WHEN src % 40 = 0 THEN 1 ELSE 0 END) AS ns FROM deg),
        |p0 AS (SELECT src AS id, CASE WHEN src % 40 = 0 THEN 1.0e0/ns ELSE 0.0e0 END AS pr FROM deg CROSS JOIN ns),
        |p1 AS (SELECT t.id, (CASE WHEN t.id % 40 = 0 THEN (1.0e0-0.85e0)/ns.ns ELSE 0.0e0 END) + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p0.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p0 ON e.src = p0.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN ns),
        |p2 AS (SELECT t.id, (CASE WHEN t.id % 40 = 0 THEN (1.0e0-0.85e0)/ns.ns ELSE 0.0e0 END) + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p1.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p1 ON e.src = p1.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN ns),
        |p3 AS (SELECT t.id, (CASE WHEN t.id % 40 = 0 THEN (1.0e0-0.85e0)/ns.ns ELSE 0.0e0 END) + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p2.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p2 ON e.src = p2.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN ns)
        |SELECT id, (id % 40 = 0) AS seed, pr FROM p3""".stripMargin,
    // q145: 3 unrolled synchronous label-propagation rounds over the
    // co-purchase graph — plurality label per node with smallest-label
    // tie-break, packed into one arg_max key cnt·2³² − lab (labels and
    // counts both < 2³¹, so the key is collision-free); all-integer,
    // hash-exact by construction
    "q145_label_prop" ->
      """WITH lo AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |eu AS (SELECT DISTINCT a.ck AS u, b.ck AS v
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |e AS (SELECT u AS src, v AS dst FROM eu UNION ALL SELECT v, u FROM eu),
        |l0 AS (SELECT DISTINCT src AS id, src AS lab FROM e),
        |l1 AS (SELECT dst AS id, arg_max(lab, cnt*4294967296 - lab) AS lab FROM (
        |  SELECT e.dst AS dst, l0.lab AS lab, COUNT(*) AS cnt
        |  FROM e JOIN l0 ON e.src = l0.id GROUP BY 1, 2) t GROUP BY 1),
        |l2 AS (SELECT dst AS id, arg_max(lab, cnt*4294967296 - lab) AS lab FROM (
        |  SELECT e.dst AS dst, l1.lab AS lab, COUNT(*) AS cnt
        |  FROM e JOIN l1 ON e.src = l1.id GROUP BY 1, 2) t GROUP BY 1),
        |l3 AS (SELECT dst AS id, arg_max(lab, cnt*4294967296 - lab) AS lab FROM (
        |  SELECT e.dst AS dst, l2.lab AS lab, COUNT(*) AS cnt
        |  FROM e JOIN l2 ON e.src = l2.id GROUP BY 1, 2) t GROUP BY 1)
        |SELECT id AS cust, lab AS community FROM l3""".stripMargin,
    // q151: 2 unrolled HITS rounds — per phase, quantized per-edge
    // contributions (2⁻⁴⁰ quanta, exact integer sums) and ONE double
    // division by the exact L1 total; bipartite by id parity (even =
    // customer hubs, odd = supplier authorities). Every CTE is
    // MATERIALIZED: the qa/sa double-reference per phase otherwise
    // lets DuckDB's inlining re-evaluate the chain exponentially
    // (measured >37 GB of temp spill at generated sf1; materialized:
    // 2.9 s) — the oracle-side mirror of the Spark eager checkpoint
    "q151_hits" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |nh AS MATERIALIZED (SELECT COUNT(DISTINCT src) AS nh FROM e),
        |qa1 AS MATERIALIZED (SELECT dst, SUM(CAST(floor((1.0/nh)*1099511627776.0 + 0.5) AS BIGINT)) AS qs
        |  FROM e CROSS JOIN nh GROUP BY dst),
        |sa1 AS MATERIALIZED (SELECT SUM(qs) AS s FROM qa1),
        |a1 AS MATERIALIZED (SELECT dst AS id, CAST(qs AS DOUBLE)/CAST(s AS DOUBLE) AS score FROM qa1 CROSS JOIN sa1),
        |qh1 AS MATERIALIZED (SELECT src, SUM(CAST(floor(a1.score*1099511627776.0 + 0.5) AS BIGINT)) AS qs
        |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY src),
        |sh1 AS MATERIALIZED (SELECT SUM(qs) AS s FROM qh1),
        |h1 AS MATERIALIZED (SELECT src AS id, CAST(qs AS DOUBLE)/CAST(s AS DOUBLE) AS score FROM qh1 CROSS JOIN sh1),
        |qa2 AS MATERIALIZED (SELECT dst, SUM(CAST(floor(h1.score*1099511627776.0 + 0.5) AS BIGINT)) AS qs
        |  FROM e JOIN h1 ON e.src = h1.id GROUP BY dst),
        |sa2 AS MATERIALIZED (SELECT SUM(qs) AS s FROM qa2),
        |a2 AS MATERIALIZED (SELECT dst AS id, CAST(qs AS DOUBLE)/CAST(s AS DOUBLE) AS score FROM qa2 CROSS JOIN sa2),
        |qh2 AS MATERIALIZED (SELECT src, SUM(CAST(floor(a2.score*1099511627776.0 + 0.5) AS BIGINT)) AS qs
        |  FROM e JOIN a2 ON e.dst = a2.id GROUP BY src),
        |sh2 AS MATERIALIZED (SELECT SUM(qs) AS s FROM qh2),
        |h2 AS MATERIALIZED (SELECT src AS id, CAST(qs AS DOUBLE)/CAST(s AS DOUBLE) AS score FROM qh2 CROSS JOIN sh2)
        |SELECT id, 'auth' AS kind, score FROM a2
        |UNION ALL SELECT id, 'hub' AS kind, score FROM h2""".stripMargin,
    // q160: both rankings replayed (BM25 = q128's chain, cosine =
    // q28's fold) then the fusion itself: each RRF term is one
    // division of exact ints, the two terms add left-to-right —
    // the identical IEEE shape as the engine's fixed chain
    "q160_rrf_fusion" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY 1),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
        |bm AS (SELECT tf.doc_id, tf.word,
        |  ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |   * (CAST(tf.tf AS DOUBLE) * 2.2)
        |   / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |       (CAST(dl.dl AS DOUBLE) / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))) AS bm25
        | FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN st),
        |q AS (SELECT doc_id AS q_id,
        |   unnest(list_distinct(string_split(text, ' ')[1:4])) AS word
        |  FROM documents WHERE doc_id < 5),
        |sc AS (SELECT q.q_id, bm.doc_id,
        |  list_reduce(list_prepend(0.0, list(bm.bm25 ORDER BY bm.word)),
        |    (a, b) -> a + b) AS score
        | FROM bm JOIN q USING (word) GROUP BY 1, 2),
        |bmr AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM sc QUALIFY rank <= 10),
        |cq AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5),
        |cp AS (SELECT q_id, vec_id AS doc_id,
        |  ${dotOf("q_emb", "embedding")} / (sqrt(${dotOf("q_emb", "q_emb")}) * sqrt(${dotOf("embedding", "embedding")})) AS cos
        | FROM embeddings, cq WHERE vec_id <> q_id),
        |cr AS (SELECT q_id, doc_id, CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY cos DESC, doc_id) AS INTEGER) AS rank
        |  FROM cp QUALIFY rank <= 10),
        |u AS (SELECT COALESCE(b.q_id, c.q_id) AS q_id,
        |  COALESCE(b.doc_id, c.doc_id) AS doc_id,
        |  b.rank AS rank_bm25, c.rank AS rank_cos
        | FROM bmr b FULL JOIN cr c ON b.q_id = c.q_id AND b.doc_id = c.doc_id),
        |f AS (SELECT q_id, doc_id, rank_bm25, rank_cos,
        |  (CASE WHEN rank_bm25 IS NOT NULL THEN 1.0/(60 + rank_bm25) ELSE 0.0 END)
        |  + (CASE WHEN rank_cos IS NOT NULL THEN 1.0/(60 + rank_cos) ELSE 0.0 END) AS rrf
        | FROM u)
        |SELECT q_id, doc_id, rank_bm25, rank_cos, rrf,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY rrf DESC, doc_id) AS INTEGER) AS rank
        |FROM f QUALIFY rank <= 10""".stripMargin,
    // q161: the ANN-fused list's overlap contract vs the exact fusion
    // (gate shape of q101/q102/q135 — the engine recomputes both
    // fusions, the oracle asserts the floor holds)
    "q161_rrf_ann_gate" ->
      """SELECT DISTINCT vec_id AS q_id, TRUE AS meets_floor
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // q164/q165: the dHash replayed over the source text bytes (q130's
    // index arithmetic: thumbnail cell (r,c) samples (r·h/8)·w +
    // (c·w/9), zero past len, the planted twin's +1 at the unsampled
    // 4·w/9+1, the synthetic gadget's closed-form ramp), then the
    // cohort agg / distinct-hash pair join the engine must reproduce;
    // bit 63 enters the hash as the signed literal (DuckDB rejects
    // 1<<63)
    "q164_image_dup_cohorts" ->
      s"""WITH $imageHashCtes
        |SELECT rep_id, n_members, n_planted FROM (
        | SELECT dh, MIN(media_id) AS rep_id, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN media_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_planted
        | FROM hsh GROUP BY dh)
        |WHERE n_members >= 2""".stripMargin,
    "q165_image_neardup" ->
      s"""WITH $imageHashCtes,
        |d AS MATERIALIZED (
        | SELECT dh, MIN(media_id) AS rep, COUNT(*) AS n FROM hsh GROUP BY dh)
        |SELECT
        | CASE WHEN a.rep < b.rep THEN a.rep ELSE b.rep END AS id_lo,
        | CASE WHEN a.rep < b.rep THEN b.rep ELSE a.rep END AS id_hi,
        | CASE WHEN a.rep < b.rep THEN a.n ELSE b.n END AS n_lo,
        | CASE WHEN a.rep < b.rep THEN b.n ELSE a.n END AS n_hi,
        | CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.dh < b.dh
        |WHERE bit_count(xor(a.dh, b.dh)) BETWEEN 1 AND 3""".stripMargin,
    // q183/q184: the audio fingerprint replayed over the source text
    // bytes, then the same cohort agg / distinct-fingerprint pair
    // join as q164/q165
    "q183_audio_dup_cohorts" ->
      s"""WITH $audioFpCtes
        |SELECT rep_id, n_members, n_planted FROM (
        | SELECT fp, MIN(media_id) AS rep_id, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN media_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_planted
        | FROM afp GROUP BY fp)
        |WHERE n_members >= 2""".stripMargin,
    "q184_audio_neardup" ->
      s"""WITH $audioFpCtes,
        |d AS MATERIALIZED (
        | SELECT fp, MIN(media_id) AS rep, COUNT(*) AS n FROM afp GROUP BY fp)
        |SELECT
        | CASE WHEN a.rep < b.rep THEN a.rep ELSE b.rep END AS id_lo,
        | CASE WHEN a.rep < b.rep THEN b.rep ELSE a.rep END AS id_hi,
        | CASE WHEN a.rep < b.rep THEN a.n ELSE b.n END AS n_lo,
        | CASE WHEN a.rep < b.rep THEN b.n ELSE a.n END AS n_hi,
        | CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.fp < b.fp
        |WHERE bit_count(xor(a.fp, b.fp)) BETWEEN 1 AND 3""".stripMargin,
    // q190/q191: the video fingerprint replayed over the source text
    // bytes, then the same cohort agg / distinct-fingerprint pair
    // join as q164/q165 and q183/q184
    "q190_video_dup_cohorts" ->
      s"""WITH $videoFpCtes
        |SELECT rep_id, n_members, n_planted FROM (
        | SELECT fp, MIN(media_id) AS rep_id, COUNT(*) AS n_members,
        |  CAST(SUM(CASE WHEN media_id >= 10000000 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_planted
        | FROM vfp GROUP BY fp)
        |WHERE n_members >= 2""".stripMargin,
    "q191_video_neardup" ->
      s"""WITH $videoFpCtes,
        |d AS MATERIALIZED (
        | SELECT fp, MIN(media_id) AS rep, COUNT(*) AS n FROM vfp GROUP BY fp)
        |SELECT
        | CASE WHEN a.rep < b.rep THEN a.rep ELSE b.rep END AS id_lo,
        | CASE WHEN a.rep < b.rep THEN b.rep ELSE a.rep END AS id_hi,
        | CASE WHEN a.rep < b.rep THEN a.n ELSE b.n END AS n_lo,
        | CASE WHEN a.rep < b.rep THEN b.n ELSE a.n END AS n_hi,
        | CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
        |FROM d a JOIN d b ON a.fp < b.fp
        |WHERE bit_count(xor(a.fp, b.fp)) BETWEEN 1 AND 3""".stripMargin,
    // q179: per-key counts, then the same quantized-entropy fold —
    // p·ln(p) in 2⁻⁴⁰ quanta (exact division, glibc-identical ln,
    // identical floor pair) summed as exact integers; top-share and
    // balance are single divisions of identical operands
    "q179_key_skew" -> {
      def prof(name: String, tbl: String, key: String): String =
        s"""SELECT '$name' AS column_name, MAX(n) AS n_rows,
           | CAST(COUNT(*) AS BIGINT) AS n_keys,
           | MAX(c) AS top1_cnt,
           | CAST(MAX(c) AS DOUBLE) / CAST(MAX(n) AS DOUBLE) AS top1_share,
           | -(CAST(SUM(CAST(floor(
           |     (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           |     * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           |     * 1099511627776.0 + 0.5) AS BIGINT)) AS DOUBLE))
           |   / 1099511627776.0 AS entropy,
           | CASE WHEN COUNT(*) > 1 THEN
           |   (-(CAST(SUM(CAST(floor(
           |       (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           |       * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
           |       * 1099511627776.0 + 0.5) AS BIGINT)) AS DOUBLE))
           |     / 1099511627776.0)
           |   / ln(CAST(COUNT(*) AS DOUBLE))
           | END AS balance
           |FROM (SELECT $key AS k, CAST(COUNT(*) AS BIGINT) AS c
           |      FROM $tbl GROUP BY 1),
           |     (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM $tbl)""".stripMargin
      Seq(
        prof("lineitem.l_partkey", "lineitem", "l_partkey"),
        prof("orders.o_custkey", "orders", "o_custkey"),
        prof("lineitem.l_returnflag", "lineitem", "l_returnflag")
      ).mkString("\nUNION ALL\n")
    },
    // q185: decisions AND results replayed — the strategy CASE is the
    // identical integer rule (n_keys ≤ 64 → salted; 10·top1 ≥ 3·n →
    // aqe_split; else plain) over each regime's exact key profile,
    // and every regime's aggregate is exact-integer/DECIMAL before
    // one double cast, so salting/splitting must change NOTHING
    "q185_adaptive_skew" -> {
      def strat(keyed: String): String =
        s"""(SELECT CASE WHEN COUNT(*) <= 64 THEN 'salted'
           |  WHEN 10 * MAX(c) >= 3 * SUM(c) THEN 'aqe_split'
           |  ELSE 'plain' END
           | FROM (SELECT k, CAST(COUNT(*) AS BIGINT) AS c
           |       FROM ($keyed) GROUP BY k))""".stripMargin
      val uniK = "SELECT event_id AS k FROM events"
      val hubK = """SELECT CASE WHEN event_id % 10 <> 0 THEN CAST(0 AS BIGINT)
                   | ELSE event_id END AS k FROM events""".stripMargin
      val lcK = "SELECT l_returnflag AS k FROM lineitem"
      val uaK = "SELECT o_custkey AS k FROM orders"
      s"""SELECT 'uniform_join' AS regime, ${strat(uniK)} AS strategy,
         | CAST(l.k % 7 AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(l.lu) AS DOUBLE) AS s1, CAST(SUM(r.ru) AS DOUBLE) AS s2
         |FROM (SELECT event_id AS k, user_id AS lu FROM events) l
         |JOIN (SELECT event_id AS k, user_id AS ru FROM events) r USING (k)
         |GROUP BY l.k % 7
         |UNION ALL
         |SELECT 'hub_join', ${strat(hubK)},
         | CAST(l.k % 7 AS VARCHAR), CAST(COUNT(*) AS BIGINT),
         | CAST(SUM(l.lu) AS DOUBLE), CAST(SUM(r.ru) AS DOUBLE)
         |FROM (SELECT CASE WHEN event_id % 10 <> 0 THEN CAST(0 AS BIGINT)
         |       ELSE event_id END AS k, user_id AS lu FROM events) l
         |JOIN (SELECT event_id AS k, user_id AS ru FROM events) r USING (k)
         |GROUP BY l.k % 7
         |UNION ALL
         |SELECT 'lowcard_agg', ${strat(lcK)}, l_returnflag,
         | CAST(COUNT(*) AS BIGINT),
         | CAST(SUM(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE),
         | NULL
         |FROM lineitem GROUP BY l_returnflag
         |UNION ALL
         |SELECT 'uniform_agg', ${strat(uaK)}, CAST(o_custkey AS VARCHAR),
         | CAST(COUNT(*) AS BIGINT),
         | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
         | NULL
         |FROM orders GROUP BY o_custkey""".stripMargin
    },
    // q177: the streamed foreachBatch view fold must equal the
    // from-scratch aggregate (monoid associativity, the q167
    // contract) — q167's oracle over the bounded replay slice
    // (o_orderkey < 2^20, the harness's fixed driver-memory bound —
    // inactive at every driver SF), blind to the chunking
    "q177_stream_ivm" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total_price,
        | CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS min_price,
        | CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS max_price
        |FROM orders WHERE o_orderkey < 1048576 GROUP BY o_custkey""".stripMargin,
    // q178: digit from the integer's canonical string form, one
    // division of exact longs. The Benford expectations are NOT
    // inlined literals — DuckDB's decimal-literal → double path
    // rounds a 17-digit literal differently than IEEE strtod, losing
    // the last ULP — they are RECOMPUTED with DuckDB's own ln, which
    // is bit-identical to graft's GlibcLog (the q79/q108 contract),
    // from exact small-integer ratios
    "q178_benford" -> {
      val expCase = (1 to 9)
        .map(d => s"WHEN digit = $d THEN " +
          s"ln(1.0 + 1.0 / CAST($d AS DOUBLE)) / ln(10.0)")
        .mkString("CASE ", " ", " END")
      s"""WITH d AS (
         |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
         |      AS VARCHAR), 1, 1) AS INTEGER) AS digit
         |  FROM orders WHERE floor(o_totalprice * 100 + 0.5) > 0),
         |c0 AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_rows FROM d GROUP BY digit),
         |c AS (SELECT CAST(g.digit AS INTEGER) AS digit,
         |  COALESCE(c0.n_rows, 0) AS n_rows
         | FROM range(1, 10) g(digit) LEFT JOIN c0 ON g.digit = c0.digit),
         |t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS tot FROM c)
         |SELECT digit, n_rows,
         | CASE WHEN tot > 0 THEN CAST(n_rows AS DOUBLE) / CAST(tot AS DOUBLE) END AS freq,
         | $expCase AS expected,
         | ABS(CASE WHEN tot > 0 THEN CAST(n_rows AS DOUBLE) / CAST(tot AS DOUBLE) END
         |   - ($expCase)) AS abs_dev
         |FROM c CROSS JOIN t""".stripMargin
    },
    // q175: both medians replayed as the q155 selection (value at
    // sorted position ⌈n/2⌉ — well-defined under ties), the outlier
    // test in multiplication form (one IEEE multiply per side, no
    // division) exactly as the engine computes it
    "q175_robust_outliers" ->
      """WITH w AS (SELECT event_type AS g, value AS v,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n
        | FROM events WHERE value IS NOT NULL),
        |m AS (SELECT g, MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT)
        |    THEN v END) AS med
        |  FROM w GROUP BY g),
        |d AS (SELECT w.g, ABS(w.v - m.med) AS dev, m.med
        |  FROM w JOIN m USING (g)),
        |d2 AS (SELECT g, dev,
        |  ROW_NUMBER() OVER (PARTITION BY g ORDER BY dev) AS rn,
        |  COUNT(*) OVER (PARTITION BY g) AS nn FROM d),
        |md AS (SELECT g, MAX(CASE WHEN rn = CAST(ceil(0.5*nn) AS BIGINT)
        |    THEN dev END) AS mad
        |  FROM d2 GROUP BY g)
        |SELECT d.g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | MAX(d.med) AS med, MAX(md.mad) AS mad,
        | CAST(SUM(CASE WHEN d.dev * 0.6745 > 3.5 * md.mad
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM d JOIN md USING (g) GROUP BY d.g""".stripMargin,
    // q176: the same lead-window segments; both sums are exact
    // integers (HUGEINT ↔ DECIMAL(38,0)) so the one final division
    // sees identical operands; zero-weight tie segments included
    "q176_twap" ->
      """WITH o AS (SELECT user_id AS k, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc, event_id AS tie
        | FROM events),
        |s AS (SELECT k, vc,
        |  lead(us) OVER (PARTITION BY k ORDER BY us, tie) - us AS dt FROM o)
        |SELECT k AS user_id, CAST(COUNT(*) AS BIGINT) AS n_segments,
        | CAST(SUM(dt) AS BIGINT) AS held_us,
        | CASE WHEN SUM(dt) > 0 THEN
        |   CAST(SUM(vc * dt) AS DOUBLE) / CAST(SUM(dt) AS DOUBLE) / 100.0
        | END AS twap
        |FROM s WHERE dt IS NOT NULL GROUP BY k""".stripMargin,
    // q173: each FK edge re-audited as a LEFT JOIN + filtered counts
    // (pk uniqueness keeps the join multiplicity 1); the planted edge
    // re-points every 1000th order key past the domain so the
    // detector provably fires; all-integer outputs
    "q173_fk_audit" -> {
      def edge(rel: String, child: String, fk: String, parent: String,
          pk: String, fkExpr: String = ""): String = {
        val f = if (fkExpr.isEmpty) fk else fkExpr
        s"""SELECT '$rel' AS relation,
           | CAST(COUNT(*) AS BIGINT) AS n_rows,
           | CAST(COUNT(*) FILTER (p.$pk IS NULL) AS BIGINT) AS n_orphan_rows,
           | CAST(COUNT(DISTINCT c.__fk) FILTER (p.$pk IS NULL) AS BIGINT)
           |   AS n_orphan_keys
           |FROM (SELECT $f AS __fk FROM $child) c
           |LEFT JOIN $parent p ON c.__fk = p.$pk
           |WHERE c.__fk IS NOT NULL""".stripMargin
      }
      Seq(
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey",
          "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
          "supplier", "s_suppkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey",
          "customer", "c_custkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey",
          "nation", "n_nationkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey",
          "nation", "n_nationkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey",
          "region", "r_regionkey"),
        edge("planted.l_orderkey->orders", "lineitem", "l_orderkey",
          "orders", "o_orderkey",
          "CASE WHEN l_orderkey % 1000 = 0 THEN l_orderkey + 2147483648 " +
            "ELSE l_orderkey END")
      ).mkString("\nUNION ALL\n")
    },
    // q174: DuckDB's native ASOF (the q40 oracle) + the staleness
    // guard as one integer-µs CASE — matches older than 6 h fall back
    // to the unmatched sentinels
    "q174_asof_staleness" ->
      """SELECT e.user_id, e.event_id AS error_id,
        | COALESCE(CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
        |     - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 21600000000
        |   THEN c.event_id END, -1) AS click_id,
        | COALESCE(CASE WHEN epoch_us(CAST(e.ts AS TIMESTAMP))
        |     - epoch_us(CAST(c.ts AS TIMESTAMP)) <= 21600000000
        |   THEN CAST(c.ts AS TIMESTAMP) END,
        |  TIMESTAMP '1970-01-01') AS click_ts
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        | ON e.user_id = c.user_id AND e.ts >= c.ts""".stripMargin,
    // q172: the streamed foreachBatch upsert folds micro-batches with
    // mergeApply, whose associativity (CdcSpec) makes any chunking
    // equal the one-shot fold — so the oracle is the plain full-slice
    // latest-wins window (the q158 shape, week-bounded), blind to the
    // micro-batch structure
    "q172_stream_cdc" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY key ORDER BY us DESC, seq DESC) AS rn FROM log)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS updated_ts
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin,
    // q171: variants replanted identically (chars 4,5 swapped on every
    // 40th part), both distances replayed with DuckDB's built-ins —
    // its damerau_levenshtein is the UNRESTRICTED variant, the same
    // one graft.expr.DamerauLevenshtein implements, so hash parity
    // pins the algorithm end-to-end
    "q171_damerau_match" ->
      """WITH p AS MATERIALIZED (
        |  SELECT p_partkey AS id, p_brand AS block, p_name AS nm FROM part
        |  UNION ALL
        |  SELECT p_partkey + 10000000, p_brand,
        |    substr(p_name, 1, 3) || substr(p_name, 5, 1)
        |      || substr(p_name, 4, 1) || substr(p_name, 6)
        |  FROM part WHERE p_partkey % 40 = 0)
        |SELECT a.id AS id_a, b.id AS id_b, a.block AS p_brand,
        | CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS lev,
        | CAST(damerau_levenshtein(a.nm, b.nm) AS INTEGER) AS dl
        |FROM p a JOIN p b ON a.block = b.block AND a.id < b.id
        |WHERE damerau_levenshtein(a.nm, b.nm) <= 1""".stripMargin,
    // q170: converged peel ≡ any unroll ≥ the improving-round count
    // (the engine requires that bound); in-core degrees from the
    // fixpoint edge set
    "q170_kcore" ->
      s"""WITH ${kCoreCtes(graft.operators.Graph.KCoreOracleRounds)}
        |SELECT src AS id,
        | CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        | CAST(COUNT(*) AS BIGINT) AS deg
        |FROM e${graft.operators.Graph.KCoreOracleRounds} GROUP BY src""".stripMargin,
    // q163: converged Bellman–Ford ≡ any unroll ≥ the improving-round
    // count (the engine requires that bound); all-integer distances
    "q163_sssp" ->
      s"""WITH ${ssspCtes(graft.operators.Graph.SsspOracleRounds)}
        |SELECT id,
        | CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        | dist
        |FROM d${graft.operators.Graph.SsspOracleRounds}""".stripMargin,
    // q162: the engine splits the corpus 90/10, persists a bucketed
    // band index over the 90%, and dedups the 10% delta against it —
    // the oracle is q103's FROM-SCRATCH closure over the whole table,
    // so the incremental composition must reproduce the one-shot
    // clustering exactly (banding is a per-doc function; verified
    // pair sets coincide)
    "q162_incr_dedup" ->
      """WITH RECURSIVE d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM documents WHERE len(string_split(text,' ')) >= 3),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT doc_id, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.s AS doc_id, w.label FROM walk w JOIN e ON w.doc_id = e.t)
        |SELECT doc_id, MIN(label) AS cluster_id, doc_id = MIN(label) AS is_keeper
        |FROM walk GROUP BY doc_id""".stripMargin,
    // q158: the engine applies early changes as a base snapshot then
    // merges the delta; by mergeApply's associativity the result must
    // equal THIS full-log latest-wins snapshot (latest (us, seq) per
    // key, latest-'D' keys absent) — the oracle never sees the split,
    // so it checks the merge algebra, not just the window arithmetic
    "q158_cdc_merge" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY key ORDER BY us DESC, seq DESC) AS rn FROM log)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS updated_ts
        |FROM r WHERE rn = 1 AND op = 'U'""".stripMargin,
    // q169: the same union+window bracket computation (obs rows tag 0
    // sort before grid rows tag 1 at equal µs), then the identical
    // fixed-order IEEE interpolation chain — one division, one
    // multiply, one add over integer-µs differences; NULL outside the
    // observed span, the t0 = us leg catches a grid point sitting ON
    // the last observation
    "q169_interp_resample" ->
      """WITH ev AS (SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  value, event_id FROM events),
        |o AS (SELECT key, us, 0 AS tag, arg_min(value, event_id) AS v
        |  FROM ev GROUP BY 1, 2),
        |span AS (SELECT epoch_us(date_trunc('hour', MIN(CAST(ts AS TIMESTAMP)))) AS mn,
        |  epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS mx FROM events),
        |grid AS (SELECT key, unnest(generate_series(mn, mx, 21600000000)) AS us,
        |  1 AS tag, CAST(NULL AS DOUBLE) AS v
        | FROM (SELECT DISTINCT user_id AS key FROM events), span),
        |u AS (SELECT key, us, tag, v FROM o
        | UNION ALL SELECT key, us, tag, v FROM grid),
        |b AS (SELECT *,
        |  last_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER wp AS t0,
        |  last_value(CASE WHEN tag = 0 THEN v END IGNORE NULLS) OVER wp AS v0,
        |  first_value(CASE WHEN tag = 0 THEN us END IGNORE NULLS) OVER wf AS t1,
        |  first_value(CASE WHEN tag = 0 THEN v END IGNORE NULLS) OVER wf AS v1
        | FROM u WINDOW
        |  wp AS (PARTITION BY key ORDER BY us, tag
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY key ORDER BY us, tag
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT key AS user_id, make_timestamp(us) AS grid_ts,
        | CASE WHEN t0 = us THEN v0
        |      WHEN t0 IS NOT NULL AND t1 IS NOT NULL THEN
        |        v0 + (v1 - v0) * (CAST(us - t0 AS DOUBLE) / CAST(t1 - t0 AS DOUBLE))
        | END AS v_interp
        |FROM b WHERE tag = 1""".stripMargin,
    // q167: the oracle aggregates ALL orders from scratch — the
    // engine's incrementally-maintained view (pre-1997 partials
    // persisted bucketed, 1997+ delta folded in monoid-wise) must
    // reproduce it exactly; cents-quantized sums keep every measure
    // integer until the final display division
    "q167_ivm_rollup" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total_price,
        | CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS min_price,
        | CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS max_price
        |FROM orders GROUP BY o_custkey""".stripMargin,
    // q180: the oracle aggregates the SURVIVING facts from scratch —
    // the delta (D / reprice-U / move-U / I per o_orderkey % 97)
    // replayed in identical integer arithmetic, so the maintained view
    // (count/sum retracted, min/max re-aggregated on touched groups)
    // must hash-equal a world that never had the deleted rows
    "q180_ivm_retract" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q FROM orders),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55 FROM f WHERE fkey % 97 = 3)
        |SELECT key AS o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(q) AS DOUBLE) / 100.0 AS total_price,
        | CAST(MIN(q) AS DOUBLE) / 100.0 AS min_price,
        | CAST(MAX(q) AS DOUBLE) / 100.0 AS max_price
        |FROM surv GROUP BY key""".stripMargin,
    // q187: the streaming retractable fold's oracle is q180's scratch
    // aggregate restricted to the replayed fact slice — surviving
    // facts only, blind to the micro-batch structure (the fold's
    // composability IS the claim; the chunk-count is pinned by
    // StreamIvmSpec's stream ≡ one-shot-batch equality)
    "q187_stream_ivm_retract" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q FROM orders
        |  WHERE o_orderkey < 1048576),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55 FROM f WHERE fkey % 97 = 3)
        |SELECT key AS o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(q) AS DOUBLE) / 100.0 AS total_price,
        | CAST(MIN(q) AS DOUBLE) / 100.0 AS min_price,
        | CAST(MAX(q) AS DOUBLE) / 100.0 AS max_price
        |FROM surv GROUP BY key""".stripMargin,
    // q195: the oracle aggregates the POST-MOVE world from scratch —
    // the engine's two-level transfer (per-customer partials moved
    // between nations, facts never read) must land on the identical
    // rollup
    "q195_ivm_dim_move" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total_price
        |FROM orders JOIN c2 ON o_custkey = c_custkey
        |JOIN nation ON nk = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // q199: the streaming fold of q195 — same post-move scratch oracle,
    // blind to the micro-batch chunking (signed transfers are
    // associative; the per-key index is static under moves)
    "q199_stream_dim_move" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total_price
        |FROM orders JOIN c2 ON o_custkey = c_custkey
        |JOIN nation ON nk = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // q204: like q101/q102/q182 the oracle is the lifecycle CONTRACT —
    // the drifted delta must trip the PSI detector (psi_exceeded),
    // the branch taken must be the retrain (retrained), and the
    // retrained index must clear the recall floor for drifted-cohort
    // probes (meets_floor); any silent-decay regression flips a flag
    "q204_ann_drift_gate" ->
      """SELECT vec_id AS q_id, TRUE AS meets_floor,
        | TRUE AS psi_exceeded, TRUE AS retrained
        |FROM embeddings WHERE vec_id % 3 = 0 AND vec_id < 15
        |ORDER BY q_id""".stripMargin,
    // q202: the incremental CC's oracle is the from-scratch
    // transitive closure over ALL co-purchase edges (the q103 walk
    // pattern) — blind to the engine's base/delta split, so hash
    // equality certifies the condensation argument end to end
    "q202_incr_cc" ->
      """WITH RECURSIVE lo AS MATERIALIZED (
        | SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS MATERIALIZED (
        | SELECT DISTINCT a.ck AS id_a, b.ck AS id_b
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |e AS MATERIALIZED (
        | SELECT id_a AS s, id_b AS t FROM p
        | UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT c_custkey AS id, c_custkey AS label FROM customer
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t)
        |SELECT id AS c_custkey, MIN(label) AS component
        |FROM walk GROUP BY id""".stripMargin,
    // q203: the warm-start fold replayed whole — 3 quantized rounds
    // on the base graph (o_orderkey % 11 <> 0) from uniform, then 2
    // rounds on the full graph seeded from those ranks (new nodes at
    // 1/N_full), every contribution floor-quantized at 2^40 exactly
    // as q85
    "q203_pagerank_warm" ->
      """WITH bpairs AS (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_orderkey % 11 <> 0),
        |be AS (SELECT c AS src, s AS dst FROM bpairs UNION ALL SELECT s, c FROM bpairs),
        |bnodes AS (SELECT DISTINCT src AS id FROM be),
        |bn AS (SELECT COUNT(*) AS n FROM bnodes),
        |bdeg AS (SELECT src, COUNT(*) AS deg FROM be GROUP BY 1),
        |b0 AS (SELECT id, 1.0e0/n AS pr FROM bnodes CROSS JOIN bn),
        |b1 AS (SELECT t.id, (1.0e0-0.85e0)/bn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT be.dst AS id,
        |   SUM(CAST(floor(b0.pr/bdeg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM be JOIN b0 ON be.src = b0.id JOIN bdeg ON be.src = bdeg.src
        |  GROUP BY be.dst) t CROSS JOIN bn),
        |b2 AS (SELECT t.id, (1.0e0-0.85e0)/bn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT be.dst AS id,
        |   SUM(CAST(floor(b1.pr/bdeg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM be JOIN b1 ON be.src = b1.id JOIN bdeg ON be.src = bdeg.src
        |  GROUP BY be.dst) t CROSS JOIN bn),
        |b3 AS (SELECT t.id, (1.0e0-0.85e0)/bn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT be.dst AS id,
        |   SUM(CAST(floor(b2.pr/bdeg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM be JOIN b2 ON be.src = b2.id JOIN bdeg ON be.src = bdeg.src
        |  GROUP BY be.dst) t CROSS JOIN bn),
        |fpairs AS (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |fe AS (SELECT c AS src, s AS dst FROM fpairs UNION ALL SELECT s, c FROM fpairs),
        |fnodes AS (SELECT DISTINCT src AS id FROM fe),
        |fn AS (SELECT COUNT(*) AS n FROM fnodes),
        |fdeg AS (SELECT src, COUNT(*) AS deg FROM fe GROUP BY 1),
        |f0 AS (SELECT fnodes.id, COALESCE(b3.pr, 1.0e0/fn.n) AS pr
        |  FROM fnodes CROSS JOIN fn LEFT JOIN b3 ON fnodes.id = b3.id),
        |f1 AS (SELECT t.id, (1.0e0-0.85e0)/fn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT fe.dst AS id,
        |   SUM(CAST(floor(f0.pr/fdeg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM fe JOIN f0 ON fe.src = f0.id JOIN fdeg ON fe.src = fdeg.src
        |  GROUP BY fe.dst) t CROSS JOIN fn),
        |f2 AS (SELECT t.id, (1.0e0-0.85e0)/fn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT fe.dst AS id,
        |   SUM(CAST(floor(f1.pr/fdeg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM fe JOIN f1 ON fe.src = f1.id JOIN fdeg ON fe.src = fdeg.src
        |  GROUP BY fe.dst) t CROSS JOIN fn)
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind, pr
        |FROM f2""".stripMargin,
    // q206: multi-measure dim-move — the oracle aggregates the
    // post-move world from scratch, count-distinct included; the
    // engine's wholesale multiplicity-vector transfer must land on
    // the identical rollup (same floor-split and double chains as
    // q200)
    "q206_multi_dim_move" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer),
        |f AS (SELECT n_name,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p
        | FROM orders JOIN c2 ON o_custkey = c_custkey
        | JOIN nation ON nk = n_nationkey),
        |agg AS (
        | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(SUM(u) AS BIGINT) AS su,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM f GROUP BY n_name)
        |SELECT n_name, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | su AS sum_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q207: the streaming multi-measure fold's oracle is q200's
    // scratch aggregate restricted to the replayed fact slice —
    // surviving facts only, blind to the micro-batch chunking (the
    // fold's composability IS the claim; stream ≡ one-shot is
    // StreamIvmSpec's pin)
    "q207_stream_multi_ivm" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p FROM orders WHERE o_orderkey < 1048576),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q,
        |  u,
        |  CASE WHEN fkey % 97 = 1 THEN '9-REPRICED' ELSE p END AS p
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55, u + 3, '0-NEW' FROM f WHERE fkey % 97 = 3),
        |agg AS (
        | SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(SUM(u) AS BIGINT) AS su,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM surv GROUP BY key)
        |SELECT key AS o_custkey, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | su AS sum_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q208: delete-capable incremental CC — the oracle is the
    // from-scratch closure over exactly the surviving edge set
    // ((a+b) mod 7 ≠ 0, which is (base \ deletes) ∪ inserts by the
    // fixture's construction), blind to the engine's three-way split;
    // hash equality certifies both the touched-component re-solve and
    // the insert condensation end to end
    "q208_cc_retract" ->
      """WITH RECURSIVE lo AS MATERIALIZED (
        | SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS MATERIALIZED (
        | SELECT DISTINCT a.ck AS id_a, b.ck AS id_b
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |pk AS MATERIALIZED (
        | SELECT id_a, id_b FROM p WHERE (id_a + id_b) % 7 <> 0),
        |e AS MATERIALIZED (
        | SELECT id_a AS s, id_b AS t FROM pk
        | UNION ALL SELECT id_b AS s, id_a AS t FROM pk),
        |walk AS (
        |  SELECT c_custkey AS id, c_custkey AS label FROM customer
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t)
        |SELECT id AS c_custkey, MIN(label) AS component
        |FROM walk GROUP BY id""".stripMargin,
    // q213: the streaming I/D fold's oracle is q208's from-scratch
    // closure restricted to the bounded replay subgraph (customers
    // < 4096 — StreamGraph.MaxStreamNode, the q177 fixed-slice
    // recipe) — blind to chunking (stream ≡ one-shot is
    // StreamGraphSpec's pin)
    "q213_stream_cc_retract" ->
      """WITH RECURSIVE lo AS MATERIALIZED (
        | SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey < 4096),
        |p AS MATERIALIZED (
        | SELECT DISTINCT a.ck AS id_a, b.ck AS id_b
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |pk AS MATERIALIZED (
        | SELECT id_a, id_b FROM p WHERE (id_a + id_b) % 7 <> 0),
        |e AS MATERIALIZED (
        | SELECT id_a AS s, id_b AS t FROM pk
        | UNION ALL SELECT id_b AS s, id_a AS t FROM pk),
        |walk AS (
        |  SELECT c_custkey AS id, c_custkey AS label FROM customer
        |   WHERE c_custkey < 4096
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t)
        |SELECT id AS c_custkey, MIN(label) AS component
        |FROM walk GROUP BY id""".stripMargin,
    // q210: the streaming CC fold's oracle is q202's from-scratch
    // closure verbatim — the streamed chunking must land on the same
    // labeling (stream ≡ one-shot is StreamGraphSpec's pin)
    "q210_stream_cc" ->
      """WITH RECURSIVE lo AS MATERIALIZED (
        | SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |p AS MATERIALIZED (
        | SELECT DISTINCT a.ck AS id_a, b.ck AS id_b
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |e AS MATERIALIZED (
        | SELECT id_a AS s, id_b AS t FROM p
        | UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT c_custkey AS id, c_custkey AS label FROM customer
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t)
        |SELECT id AS c_custkey, MIN(label) AS component
        |FROM walk GROUP BY id""".stripMargin,
    // q209: q200's oracle carrying min/max too — the engine's
    // retraction path re-derives them off the bucketed fact sidecar,
    // the oracle just aggregates the survivors
    "q209_multi_ivm_minmax" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p FROM orders),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q,
        |  u,
        |  CASE WHEN fkey % 97 = 1 THEN '9-REPRICED' ELSE p END AS p
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55, u + 3, '0-NEW' FROM f WHERE fkey % 97 = 3),
        |agg AS (
        | SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(MIN(q) AS BIGINT) AS mnq, CAST(MAX(q) AS BIGINT) AS mxq,
        |  CAST(SUM(u) AS BIGINT) AS su, CAST(MAX(u) AS BIGINT) AS mxu,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM surv GROUP BY key)
        |SELECT key AS o_custkey, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | CAST(mnq AS DOUBLE) / 100.0 AS min_price,
        | CAST(mxq AS DOUBLE) / 100.0 AS max_price,
        | su AS sum_units, mxu AS max_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q217: the maintained per-customer leaderboard — the oracle is
    // the from-scratch row_number-filtered top-3 by (price desc,
    // orderkey asc) over the SURVIVING facts after q209's I/D/U+move
    // replay, blind to the engine's persisted-state / delta split
    "q217_topk_ivm" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q
        | FROM orders),
        |surv AS (
        | SELECT fkey,
        |  CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT fkey + 2147483648, key, q + 55 FROM f WHERE fkey % 97 = 3),
        |r AS (SELECT key, fkey, q,
        |  row_number() OVER (PARTITION BY key ORDER BY q DESC, fkey) AS rk
        | FROM surv)
        |SELECT key AS o_custkey, rk, fkey AS o_orderkey,
        | CAST(q AS DOUBLE) / 100.0 AS price
        |FROM r WHERE rk <= 3""".stripMargin,
    // q218: the maintained HLL view measure — the estimate is
    // engine-specific, so the oracle checks the maintained EXACT
    // count (replayed from scratch over the survivors) and the
    // relative-error contract flag, q109's gate shape
    "q218_hll_ivm_gate" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey % 25 AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q
        | FROM orders),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55 FROM f WHERE fkey % 97 = 3)
        |SELECT key, COUNT(DISTINCT q // 100) AS n_pvals,
        | TRUE AS meets_bound
        |FROM surv GROUP BY key ORDER BY key""".stripMargin,
    // q219: the per-nation leaderboard under q212's customer moves —
    // the oracle is the post-move scratch top-3 per nation
    "q219_topk_move" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer),
        |f AS (SELECT o_orderkey AS fkey, n_name,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q
        | FROM orders JOIN c2 ON o_custkey = c_custkey
        | JOIN nation ON nk = n_nationkey),
        |r AS (SELECT n_name, fkey, q,
        |  row_number() OVER (PARTITION BY n_name ORDER BY q DESC, fkey) AS rk
        | FROM f)
        |SELECT n_name, rk, fkey AS o_orderkey,
        | CAST(q AS DOUBLE) / 100.0 AS price
        |FROM r WHERE rk <= 3""".stripMargin,
    // q211: the streaming multi-measure dim-move fold's oracle is
    // q206's post-move scratch rollup verbatim — blind to the
    // chunking (stream ≡ one-shot is StreamIvmSpec's pin)
    "q211_stream_multi_move" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer),
        |f AS (SELECT n_name,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p
        | FROM orders JOIN c2 ON o_custkey = c_custkey
        | JOIN nation ON nk = n_nationkey),
        |agg AS (
        | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(SUM(u) AS BIGINT) AS su,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM f GROUP BY n_name)
        |SELECT n_name, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | su AS sum_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q212: q206's oracle carrying min/max too — the engine re-derives
    // them for touched nations over member-customer partials; the
    // oracle aggregates the post-move world from scratch
    "q212_multi_move_minmax" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer),
        |f AS (SELECT n_name,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p
        | FROM orders JOIN c2 ON o_custkey = c_custkey
        | JOIN nation ON nk = n_nationkey),
        |agg AS (
        | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(MIN(q) AS BIGINT) AS mnq, CAST(MAX(q) AS BIGINT) AS mxq,
        |  CAST(SUM(u) AS BIGINT) AS su, CAST(MAX(u) AS BIGINT) AS mxu,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM f GROUP BY n_name)
        |SELECT n_name, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | CAST(mnq AS DOUBLE) / 100.0 AS min_price,
        | CAST(mxq AS DOUBLE) / 100.0 AS max_price,
        | su AS sum_units, mxu AS max_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q214: the streaming FULL dim-move fold's oracle is q212's
    // post-move scratch rollup incl. min/max, verbatim — blind to
    // chunking (stream ≡ one-shot is StreamIvmSpec's pin)
    "q214_stream_move_minmax" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer),
        |f AS (SELECT n_name,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p
        | FROM orders JOIN c2 ON o_custkey = c_custkey
        | JOIN nation ON nk = n_nationkey),
        |agg AS (
        | SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(MIN(q) AS BIGINT) AS mnq, CAST(MAX(q) AS BIGINT) AS mxq,
        |  CAST(SUM(u) AS BIGINT) AS su, CAST(MAX(u) AS BIGINT) AS mxu,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM f GROUP BY n_name)
        |SELECT n_name, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | CAST(mnq AS DOUBLE) / 100.0 AS min_price,
        | CAST(mxq AS DOUBLE) / 100.0 AS max_price,
        | su AS sum_units, mxu AS max_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q201: the full dim-move view (q195 + min/max) — the oracle
    // aggregates the post-move world from scratch; the engine's
    // count/sum transfer plus touched-group min/max re-derivation
    // over per-customer partials must land on the identical rollup
    "q201_dim_move_minmax" ->
      """WITH c2 AS (SELECT c_custkey,
        |  CASE WHEN c_custkey % 89 = 0 THEN (c_nationkey + 7) % 25
        |       ELSE c_nationkey END AS nk
        | FROM customer)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS total_price,
        | CAST(MIN(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS min_price,
        | CAST(MAX(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
        |   / 100.0 AS max_price
        |FROM orders JOIN c2 ON o_custkey = c_custkey
        |JOIN nation ON nk = n_nationkey
        |GROUP BY n_name""".stripMargin,
    // q200: the multi-measure view's oracle aggregates the surviving
    // post-delta facts from scratch — count, sum, avg, variance (via
    // the 2³⁰-split exact square sums, recombined with the identical
    // double op pair), a second sum, and a count-distinct the engine
    // maintains off the multiplicity sidecar. q*q // 2³⁰ with // on
    // non-negative squares is DuckDB's exact floor split, matching the
    // engine's shiftright/bitmask pair bit for bit.
    "q200_multi_ivm" ->
      """WITH f AS (SELECT o_orderkey AS fkey, o_custkey AS key,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS q,
        |  CAST(o_orderkey % 1000 AS BIGINT) AS u,
        |  o_orderpriority AS p FROM orders),
        |surv AS (
        | SELECT CASE WHEN fkey % 97 = 2 THEN key + 1 ELSE key END AS key,
        |  q + CASE WHEN fkey % 97 = 1 THEN 12345 ELSE 0 END AS q,
        |  u,
        |  CASE WHEN fkey % 97 = 1 THEN '9-REPRICED' ELSE p END AS p
        | FROM f WHERE fkey % 97 <> 0
        | UNION ALL
        | SELECT key, q + 55, u + 3, '0-NEW' FROM f WHERE fkey % 97 = 3),
        |agg AS (
        | SELECT key, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(q) AS BIGINT) AS s,
        |  CAST(SUM((q*q) // 1073741824) AS BIGINT) AS ssh,
        |  CAST(SUM((q*q) % 1073741824) AS BIGINT) AS ssl,
        |  CAST(SUM(u) AS BIGINT) AS su,
        |  CAST(COUNT(DISTINCT p) AS BIGINT) AS cd
        | FROM surv GROUP BY key)
        |SELECT key AS o_custkey, n AS n_orders,
        | CAST(s AS DOUBLE) / 100.0 AS total_price,
        | (CAST(s AS DOUBLE) / 100.0) / CAST(n AS DOUBLE) AS avg_price,
        | (((CAST(ssh AS DOUBLE) * 1073741824.0 + CAST(ssl AS DOUBLE))
        |    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |   / CAST(n AS DOUBLE)) / 10000.0 AS var_price,
        | su AS sum_units, cd AS n_priorities
        |FROM agg""".stripMargin,
    // q181: SCC checked against the DEFINITION, not a replay of the
    // engine's rounds — a recursive-CTE transitive closure (seeded
    // with the reflexive pairs) and scc(v) = min{u : u→*v ∧ v→*u};
    // edge construction replayed identically (direction by order
    // parity over same-order supplier pairs)
    "q181_scc" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        | SELECT DISTINCT
        |  CASE WHEN a.l_orderkey % 2 = 0 THEN a.l_suppkey ELSE b.l_suppkey END AS src,
        |  CASE WHEN a.l_orderkey % 2 = 0 THEN b.l_suppkey ELSE a.l_suppkey END AS dst
        | FROM lineitem a JOIN lineitem b
        |   ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
        |n AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |rr(a, b) AS (
        | SELECT id, id FROM n
        | UNION
        | SELECT rr.a, e.dst FROM rr JOIN e ON rr.b = e.src),
        |lab AS MATERIALIZED (
        | SELECT r1.b AS id, MIN(r1.a) AS scc
        | FROM rr r1 JOIN rr r2 ON r2.a = r1.b AND r2.b = r1.a
        | GROUP BY r1.b),
        |sz AS (SELECT scc, CAST(COUNT(*) AS BIGINT) AS scc_size
        |       FROM lab GROUP BY scc)
        |SELECT lab.id AS s_suppkey, lab.scc, sz.scc_size
        |FROM lab JOIN sz USING (scc)""".stripMargin,
    // q168: leave-fold-out target encoding replayed on exact integer
    // cents — two nested GROUP BYs and ONE division per output row
    // (left-to-right: diff-cast, divide, divide by the unit), the
    // identical IEEE shape as the engine's chain; single-fold
    // categories encode NULL
    "q168_target_encode" ->
      """WITH f AS (
        |  SELECT o_orderpriority || '|' || o_orderstatus AS category,
        |    o_orderkey % 5 AS fold,
        |    CAST(COUNT(*) AS BIGINT) AS n_fold,
        |    SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS sum_fold
        |  FROM orders GROUP BY 1, 2),
        |c AS (SELECT category, SUM(n_fold) AS n_cat, SUM(sum_fold) AS sum_cat
        |  FROM f GROUP BY 1)
        |SELECT f.category, f.fold, f.n_fold,
        |  CASE WHEN c.n_cat > f.n_fold THEN
        |    CAST(c.sum_cat - f.sum_fold AS DOUBLE)
        |      / CAST(c.n_cat - f.n_fold AS DOUBLE) / 100.0
        |  END AS enc
        |FROM f JOIN c USING (category)""".stripMargin,
    // q166: the two latest-wins snapshots assembled directly (the
    // q158 window shape), full-outer joined, classified I/D/U on
    // null-safe payload comparison — payload-identical keys emit
    // nothing (metadata is not compared), so the oracle checks the
    // MINIMALITY of the diff, not just its coverage
    "q166_snapshot_diff" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |snap_old AS (
        |  SELECT key, value, etype FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY key ORDER BY us DESC, seq DESC) AS rn
        |    FROM log WHERE us < epoch_us(TIMESTAMP '2024-01-15 00:00:00'))
        |  WHERE rn = 1 AND op = 'U'),
        |snap_new AS (
        |  SELECT key, value, etype FROM (
        |    SELECT *, row_number() OVER
        |      (PARTITION BY key ORDER BY us DESC, seq DESC) AS rn FROM log)
        |  WHERE rn = 1 AND op = 'U')
        |SELECT COALESCE(o.key, n.key) AS user_id,
        |  CASE WHEN o.key IS NULL THEN 'I'
        |       WHEN n.key IS NULL THEN 'D'
        |       ELSE 'U' END AS change,
        |  o.value AS value_old, o.etype AS etype_old,
        |  n.value AS value_new, n.etype AS etype_new
        |FROM snap_old o FULL JOIN snap_new n ON o.key = n.key
        |WHERE o.key IS NULL OR n.key IS NULL
        |  OR o.value IS DISTINCT FROM n.value
        |  OR o.etype IS DISTINCT FROM n.etype""".stripMargin,
    // q159: SCD2 replayed with the same two windows — suppression
    // against the immediate predecessor (exact by induction: a
    // suppressed upsert's payload equals the live state), then
    // lead(us) closes each retained version; deletes only close
    "q159_scd2" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |o AS (SELECT *, lag(op) OVER w AS pop, lag(value) OVER w AS pval,
        |    lag(etype) OVER w AS pet
        |  FROM log WINDOW w AS (PARTITION BY key ORDER BY us, seq)),
        |r AS (SELECT * FROM o WHERE
        |  CASE WHEN op = 'D' THEN pop = 'U'
        |       ELSE pop IS NULL OR pop = 'D'
        |         OR value IS DISTINCT FROM pval OR etype IS DISTINCT FROM pet
        |  END),
        |v AS (SELECT *, lead(us) OVER
        |  (PARTITION BY key ORDER BY us, seq) AS to_us FROM r)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS valid_from,
        | make_timestamp(to_us) AS valid_to, to_us IS NULL AS is_current
        |FROM v WHERE op = 'U'""".stripMargin,
    // q220: the SQL CALL front door runs the SAME assembly as q159 —
    // its oracle is q159's verbatim; the parity certifies the
    // statement resolves to the identical fold
    "q220_sql_call_scd2" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |o AS (SELECT *, lag(op) OVER w AS pop, lag(value) OVER w AS pval,
        |    lag(etype) OVER w AS pet
        |  FROM log WINDOW w AS (PARTITION BY key ORDER BY us, seq)),
        |r AS (SELECT * FROM o WHERE
        |  CASE WHEN op = 'D' THEN pop = 'U'
        |       ELSE pop IS NULL OR pop = 'D'
        |         OR value IS DISTINCT FROM pval OR etype IS DISTINCT FROM pet
        |  END),
        |v AS (SELECT *, lead(us) OVER
        |  (PARTITION BY key ORDER BY us, seq) AS to_us FROM r)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS valid_from,
        | make_timestamp(to_us) AS valid_to, to_us IS NULL AS is_current
        |FROM v WHERE op = 'U'""".stripMargin,
    // q186: the SCD2 dimension replayed exactly as q159, then the
    // point-in-time lookup checked against the interval DEFINITION —
    // a literal range join (valid_from < us ≤ valid_to) the engine's
    // union+window carry must reproduce row-for-row, including the
    // strict-prior exclusion of a purchase's own version and NULLs in
    // delete gaps
    "q186_scd2_pit" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |o AS (SELECT *, lag(op) OVER w AS pop, lag(value) OVER w AS pval,
        |    lag(etype) OVER w AS pet
        |  FROM log WINDOW w AS (PARTITION BY key ORDER BY us, seq)),
        |r AS (SELECT * FROM o WHERE
        |  CASE WHEN op = 'D' THEN pop = 'U'
        |       ELSE pop IS NULL OR pop = 'D'
        |         OR value IS DISTINCT FROM pval OR etype IS DISTINCT FROM pet
        |  END),
        |v AS (SELECT *, lead(us) OVER
        |  (PARTITION BY key ORDER BY us, seq) AS to_us FROM r),
        |d AS (SELECT key, value, etype, us AS from_us, to_us
        |  FROM v WHERE op = 'U'),
        |p AS (SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS purchase_id
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.key AS user_id, p.purchase_id,
        |  make_timestamp(p.us) AS purchase_ts,
        |  d.value AS prior_value, d.etype AS prior_etype,
        |  make_timestamp(d.from_us) AS valid_from
        |FROM p LEFT JOIN d ON d.key = p.key AND d.from_us < p.us
        |  AND (d.to_us IS NULL OR p.us <= d.to_us)""".stripMargin,
    // q193: the increment identity — scd2Increment(scd2(log<t), log≥t)
    // ≡ scd2(log) — makes the full-log q159 oracle the truth verbatim;
    // the engine side actually runs the two-step merge
    "q193_scd2_increment" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events),
        |o AS (SELECT *, lag(op) OVER w AS pop, lag(value) OVER w AS pval,
        |    lag(etype) OVER w AS pet
        |  FROM log WINDOW w AS (PARTITION BY key ORDER BY us, seq)),
        |r AS (SELECT * FROM o WHERE
        |  CASE WHEN op = 'D' THEN pop = 'U'
        |       ELSE pop IS NULL OR pop = 'D'
        |         OR value IS DISTINCT FROM pval OR etype IS DISTINCT FROM pet
        |  END),
        |v AS (SELECT *, lead(us) OVER
        |  (PARTITION BY key ORDER BY us, seq) AS to_us FROM r)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS valid_from,
        | make_timestamp(to_us) AS valid_to, to_us IS NULL AS is_current
        |FROM v WHERE op = 'U'""".stripMargin,
    // q194: the streaming fold of q193 over the replayed first-week
    // slice — same oracle as q159 restricted to the slice, blind to
    // the micro-batch chunking
    "q194_stream_scd2" ->
      """WITH log AS (
        |  SELECT user_id AS key, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    value, event_type AS etype
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'),
        |o AS (SELECT *, lag(op) OVER w AS pop, lag(value) OVER w AS pval,
        |    lag(etype) OVER w AS pet
        |  FROM log WINDOW w AS (PARTITION BY key ORDER BY us, seq)),
        |r AS (SELECT * FROM o WHERE
        |  CASE WHEN op = 'D' THEN pop = 'U'
        |       ELSE pop IS NULL OR pop = 'D'
        |         OR value IS DISTINCT FROM pval OR etype IS DISTINCT FROM pet
        |  END),
        |v AS (SELECT *, lead(us) OVER
        |  (PARTITION BY key ORDER BY us, seq) AS to_us FROM r)
        |SELECT key AS user_id, value, etype, make_timestamp(us) AS valid_from,
        | make_timestamp(to_us) AS valid_to, to_us IS NULL AS is_current
        |FROM v WHERE op = 'U'""".stripMargin,
    // q157: q84's pair set closed transitively (the q103 recursive
    // walk) + arg_max survivorship on the collision-free len·2³²−id
    // key — golden_id AND golden_name ride the same key
    "q157_golden_record" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT p_partkey AS id, p_partkey AS label FROM part
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t),
        |cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
        |SELECT cluster_id,
        | arg_max(n.p_partkey, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_id,
        | arg_max(n.p_name, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_name,
        | COUNT(*) AS n_members
        |FROM cc JOIN part n ON cc.id = n.p_partkey
        |GROUP BY 1""".stripMargin,
    // q198: the incremental resolution's truth IS q157's full-corpus
    // oracle — the engine runs the two-step (persisted state + batch
    // match-in), the oracle never sees the split
    "q198_incr_golden" ->
      """WITH RECURSIVE p AS (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b
        |  FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT p_partkey AS id, p_partkey AS label FROM part
        |  UNION
        |  SELECT e.s AS id, w.label FROM walk w JOIN e ON w.id = e.t),
        |cc AS (SELECT id, MIN(label) AS cluster_id FROM walk GROUP BY id)
        |SELECT cluster_id,
        | arg_max(n.p_partkey, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_id,
        | arg_max(n.p_name, CAST(strlen(n.p_name) AS BIGINT)*4294967296 - n.p_partkey) AS golden_name,
        | COUNT(*) AS n_members
        |FROM cc JOIN part n ON cc.id = n.p_partkey
        |GROUP BY 1""".stripMargin,
    // q156: drift = two q95-shaped single-scan profiles joined per
    // column; the relative mean shift clears its zero denominator and
    // every statistic is exact-derived, so the flags hash-match
    "q156_column_drift" -> {
      def prof(pred: String): String =
        Seq("value", "user_id").map { c =>
          s"""SELECT '$c' AS column_name, COUNT($c) AS n,
             | COUNT(DISTINCT $c) AS n_distinct,
             | CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
             | CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c) AS avg_v
             |FROM events WHERE $pred""".stripMargin
        }.mkString("\nUNION ALL\n")
      s"""WITH a AS (${prof("event_type = 'click'")}),
         |b AS (${prof("event_type = 'purchase'")})
         |SELECT a.column_name,
         | a.n AS n_a, a.n_distinct AS nd_a, a.min_v AS min_a, a.max_v AS max_a, a.avg_v AS avg_a,
         | b.n AS n_b, b.n_distinct AS nd_b, b.min_v AS min_b, b.max_v AS max_b, b.avg_v AS avg_b,
         | CASE WHEN greatest(abs(a.avg_v), abs(b.avg_v)) > 0
         |   THEN abs(a.avg_v - b.avg_v) / greatest(abs(a.avg_v), abs(b.avg_v))
         |   ELSE 0.0 END AS avg_shift,
         | (a.min_v <> b.min_v OR a.max_v <> b.max_v) AS range_changed,
         | (CASE WHEN greatest(abs(a.avg_v), abs(b.avg_v)) > 0
         |   THEN abs(a.avg_v - b.avg_v) / greatest(abs(a.avg_v), abs(b.avg_v))
         |   ELSE 0.0 END > 0.05
         |  OR a.min_v <> b.min_v OR a.max_v <> b.max_v) AS drifted
         |FROM a JOIN b USING (column_name)""".stripMargin
    },
    // q155: type-1 quantiles — the value at sorted position ⌈p·n⌉, a
    // SELECTION (no interpolation arithmetic), engine-exact; ⌈p·n⌉ is
    // the same double-multiply + ceil both engines
    "q155_exact_quantiles" ->
      """WITH w AS (SELECT l_returnflag AS g, l_extendedprice AS v,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |  COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        | FROM lineitem)
        |SELECT g AS l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
        | MAX(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN v END) AS p25,
        | MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN v END) AS p50,
        | MAX(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN v END) AS p75,
        | MAX(CASE WHEN rn = CAST(ceil(0.95*n) AS BIGINT) THEN v END) AS p95
        |FROM w GROUP BY g""".stripMargin,
    // q154: the Gopher rule set (Rae et al. 2021 §A1.1) — per-doc
    // exact-integer stats + one division each; ASCII text keeps
    // length ↔ strlen aligned
    "q154_gopher_rules" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |  len(toks) AS n_words,
        |  CAST(list_reduce(list_transform(toks, w -> CAST(strlen(w) AS BIGINT)), (a, b) -> a + b) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS mean_word_len,
        |  CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS alpha_ratio,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['the','a','of','and','to','in'])) AS BIGINT) AS stop_hits,
        |  CAST(len(list_filter(toks, w -> contains(w, '#') OR contains(w, '...'))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS symbol_ratio
        | FROM t)
        |SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits, symbol_ratio,
        | (n_words >= 20 AND n_words <= 100000 AND mean_word_len >= 3.0
        |  AND mean_word_len <= 10.0 AND alpha_ratio >= 0.8 AND stop_hits >= 2
        |  AND symbol_ratio < 0.1) AS keep
        |FROM s""".stripMargin,
    // q152: consecutive event-type triples per user in (ts, event_id)
    // order, global counts + one-division shares
    "q152_path_trigrams" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  event_type FROM events),
        |seq AS (SELECT
        |  LAG(event_type, 2) OVER w AS t0,
        |  LAG(event_type, 1) OVER w AS t1,
        |  event_type AS t2
        | FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |tri AS (SELECT t0, t1, t2, COUNT(*) AS n FROM seq
        |  WHERE t0 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t0, t1, t2, n, CAST(n AS DOUBLE) / SUM(n) OVER () AS share
        |FROM tri""".stripMargin,
    // q153: rank-based (tie-deterministic) normalization — percent_rank
    // and cume_dist share one definition in both engines
    "q153_rank_normalize" ->
      """SELECT p_partkey, p_brand, p_retailprice,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume_dist
        |FROM part
        |WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice)""".stripMargin,
    // q146: the anomaly flag clears denominators — (W·q−Σq)² >
    // z²·(W·Σq²−(Σq)²) in exact 128-bit integers (HUGEINT here,
    // DECIMAL(38,0) in Spark) over 10⁻⁶-quantized values, so the flag
    // has no float rounding at all; the reported z is one fixed double
    // expression over the same exact integers (NULL on σ = 0 windows)
    "q146_anomaly" ->
      """WITH b AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  CAST(floor(value*1000000.0 + 0.5) AS BIGINT) AS q FROM events),
        |w AS (SELECT event_id, user_id, value, q,
        |  COUNT(q) OVER win AS cnt,
        |  SUM(CAST(q AS HUGEINT)) OVER win AS sq,
        |  SUM(CAST(q*q AS HUGEINT)) OVER win AS sqq
        | FROM b WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value,
        | CASE WHEN 5*sqq - sq*sq > 0
        |  THEN CAST(5*q - sq AS DOUBLE) / sqrt(CAST(5*sqq - sq*sq AS DOUBLE)) END AS z
        |FROM w
        |WHERE cnt = 5 AND (5*q - sq)*(5*q - sq) > 9*(5*sqq - sq*sq)""".stripMargin,
    // q150: stream ≡ batch — q146's denominator-cleared integer recipe
    // restricted to the replayed first-week slice
    "q150_stream_anomaly" ->
      """WITH b AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  CAST(floor(value*1000000.0 + 0.5) AS BIGINT) AS q FROM events
        |  WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
        |w AS (SELECT event_id, user_id, value, q,
        |  COUNT(q) OVER win AS cnt,
        |  SUM(CAST(q AS HUGEINT)) OVER win AS sq,
        |  SUM(CAST(q*q AS HUGEINT)) OVER win AS sqq
        | FROM b WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, value,
        | CASE WHEN 5*sqq - sq*sq > 0
        |  THEN CAST(5*q - sq AS DOUBLE) / sqrt(CAST(5*sqq - sq*sq AS DOUBLE)) END AS z
        |FROM w
        |WHERE cnt = 5 AND (5*q - sq)*(5*q - sq) > 9*(5*sqq - sq*sq)""".stripMargin,
    // q147: χ² with ABSENT cells completed at o=0 (they still carry
    // expected mass), terms folded in (r,c) sorted order with the
    // identical left-associated double chain (q138's init-free
    // list_reduce ≡ Spark's 0.0-init fold since 0.0+t₁ = t₁ exactly)
    "q147_chisq" ->
      """WITH obs AS (SELECT c_mktsegment AS r, o_orderpriority AS c, COUNT(*) AS o
        |  FROM customer JOIN orders ON c_custkey = o_custkey GROUP BY 1, 2),
        |grid AS (SELECT r, c FROM (SELECT DISTINCT r FROM obs), (SELECT DISTINCT c FROM obs)),
        |cells AS (SELECT g.r, g.c, COALESCE(obs.o, 0) AS o
        |  FROM grid g LEFT JOIN obs ON g.r = obs.r AND g.c = obs.c),
        |rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
        |ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
        |f AS (SELECT cells.r, cells.c, o, rt, ct FROM cells JOIN rt USING (r) JOIN ct USING (c)),
        |pk AS (SELECT list(struct_pack(r := r, c := c, o := o, rt := rt, ct := ct) ORDER BY r, c) AS cells,
        |  CAST(SUM(o) AS BIGINT) AS tot, COUNT(DISTINCT r) AS nr, COUNT(DISTINCT c) AS nc FROM f)
        |SELECT list_reduce(list_transform(cells, x ->
        |   (CAST(x.o AS DOUBLE) - CAST(x.rt*x.ct AS DOUBLE)/CAST(tot AS DOUBLE))
        |   * (CAST(x.o AS DOUBLE) - CAST(x.rt*x.ct AS DOUBLE)/CAST(tot AS DOUBLE))
        |   / (CAST(x.rt*x.ct AS DOUBLE)/CAST(tot AS DOUBLE))), (a, b) -> a + b) AS chi2,
        | (nr-1)*(nc-1) AS dof, tot AS n, nr*nc AS n_cells FROM pk""".stripMargin,
    // q148: linear multi-touch attribution — credit = n_ch/n_touches,
    // one double division over exact integer counts per row
    "q148_attribution" ->
      """WITH ev AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |p AS (SELECT event_id AS purchase_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
        |t AS (SELECT p.purchase_id, e.event_type AS channel
        |  FROM p JOIN ev e ON e.user_id = p.user_id
        |   AND e.event_type IN ('click', 'view')
        |   AND e.ts >= p.ts - INTERVAL 30 MINUTE AND e.ts < p.ts),
        |c AS (SELECT purchase_id, channel, COUNT(*) AS n_ch FROM t GROUP BY 1, 2)
        |SELECT purchase_id, channel, n_ch,
        | CAST(SUM(n_ch) OVER (PARTITION BY purchase_id) AS BIGINT) AS n_touches,
        | CAST(n_ch AS DOUBLE) / CAST(SUM(n_ch) OVER (PARTITION BY purchase_id) AS BIGINT) AS credit
        |FROM c""".stripMargin,
    // q149: per-dimension standardization stats — components quantized
    // by the exact power-of-two shift 2³⁰ (no multiply rounding for
    // float32 inputs), 128-bit integer moments; Σq² is carried as two
    // <2⁵³ exact sums (hi = div 2³⁰, lo = mod 2³⁰) and reconstructed
    // hiD·2³⁰ + loD so the single rounding is the same IEEE add on
    // both engines (a raw 128-bit→double cast diverged by 1 ulp)
    "q149_dim_stats" ->
      """WITH x AS (SELECT CAST(floor(CAST(v AS DOUBLE) * 1073741824.0 + 0.5) AS BIGINT) AS q, dim
        |  FROM (SELECT unnest(embedding) AS v,
        |          unnest(range(1, len(embedding) + 1)) AS dim FROM embeddings)),
        |m AS (SELECT dim, COUNT(*) AS n,
        |  SUM(CAST(q AS HUGEINT)) AS sq,
        |  SUM(CAST((q*q) // 1073741824 AS HUGEINT)) AS sqq_hi,
        |  SUM(CAST((q*q) % 1073741824 AS HUGEINT)) AS sqq_lo,
        |  MIN(q) AS qmin, MAX(q) AS qmax FROM x GROUP BY 1)
        |SELECT dim, n,
        | CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1073741824.0 AS mean,
        | CASE WHEN n > 1 THEN
        |  sqrt(((CAST(sqq_hi AS DOUBLE) * 1073741824.0 + CAST(sqq_lo AS DOUBLE))
        |     - CAST(sq AS DOUBLE)*CAST(sq AS DOUBLE)/CAST(n AS DOUBLE))
        |   / (CAST(n AS DOUBLE) - 1.0)) / 1073741824.0 END AS std,
        | CAST(qmin AS DOUBLE) / 1073741824.0 AS vmin,
        | CAST(qmax AS DOUBLE) / 1073741824.0 AS vmax
        |FROM m""".stripMargin,
    // q138: α = 0.5 temperature mixture — √c is correctly-rounded
    // IEEE, Σ√c folds in source order (list_reduce has no init but
    // 0.0 + w₁ = w₁ exactly, so it matches Spark's aggregate fold)
    "q138_mixture_alloc" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c_tokens
        | FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs, c_tokens, sqrt(CAST(c_tokens AS DOUBLE)) AS w FROM s),
        |n AS (SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS sum_w FROM w)
        |SELECT source, n_docs, c_tokens, w / sum_w AS p,
        | 1000000.0 * (w / sum_w) AS alloc_tokens,
        | (1000000.0 * (w / sum_w)) / CAST(c_tokens AS DOUBLE) AS epochs
        |FROM w, n""".stripMargin,
    // q34: the oracle replays the stub codec's float32 arithmetic —
    // per byte, h = b*2654435761 + pos*40503 (int64), bucket =
    // (h>>16)%16, contribution = float((h>>32)&255)/255f − 0.5f,
    // accumulated per bucket IN BYTE ORDER as float32 adds (DuckDB
    // FLOAT ↔ JVM float are both IEEE binary32 with correctly-rounded
    // ops, so the fold is bit-identical) — then brute-force cosine
    // top-5 per probe in double, exactly like q29's oracle.
    // PRECONDITION: the oracle iterates CODE POINTS (unicode(text[i]))
    // while the codec hashes UTF-8 BYTES — equivalent only because the
    // documents fixture is pure printable ASCII (verified 0 non-ASCII
    // docs at every SF); a non-ASCII corpus would need the oracle
    // rewritten over encode(text) BLOB bytes.
    // q34: embeddings hash the DECODED body — for images that is the
    // BMP pixel array (text bytes plus the last row's zero fill), for
    // audio the exact sample bytes, for video the ~1 fps SAMPLED Y4M
    // frames' concatenated luma bytes: decoded position i maps to
    // source byte (i div fsize)·fps·fsize + (i mod fsize) — sampled
    // frame t is original frame t·fps — zero past the text length
    // (the last frame's encoder zero fill). The byte stream below
    // models that layout.
    "q34_media_knn" ->
      s"""WITH m AS (
         |  SELECT doc_id, text, strlen(text) AS len,
         |   CASE WHEN doc_id % 3 = 2
         |    THEN (32 + (doc_id % 8) * 16) * (16 + (doc_id % 4) * 16)
         |    ELSE 0 END AS fsize,
         |   1 + (doc_id % 5) AS fps
         |  FROM documents),
         |m2 AS (
         |  SELECT doc_id, text, len, fsize, fps,
         |   CASE WHEN doc_id % 3 = 0
         |    THEN (64 + (doc_id % 16) * 16) *
         |     greatest(1, CAST(ceil(CAST(len AS DOUBLE)
         |       / (64 + (doc_id % 16) * 16)) AS BIGINT))
         |    WHEN doc_id % 3 = 2
         |    THEN ((greatest(1, CAST(ceil(CAST(len AS DOUBLE) / fsize) AS BIGINT))
         |           + fps - 1) // fps) * fsize
         |    ELSE len END AS blen
         |  FROM m),
         |b AS (
         |  SELECT doc_id, unnest(range(1, blen+1)) AS i, text, len, fsize, fps FROM m2),
         |s AS (
         |  SELECT doc_id, i, text, len,
         |   CASE WHEN fsize > 0
         |    THEN ((i-1) // fsize) * fps * fsize + ((i-1) % fsize) + 1
         |    ELSE i END AS src
         |  FROM b),
         |h AS (SELECT doc_id, i - 1 AS pos,
         |   CAST(CASE WHEN src <= len THEN unicode(text[CAST(src AS INTEGER)]) ELSE 0 END
         |     AS BIGINT)*2654435761 + (i-1)*40503 AS h
         | FROM s),
         |c AS (SELECT doc_id, CAST(((h >> 16) % 16) AS INTEGER) AS bucket,
         |   CAST((h >> 32) & 255 AS FLOAT)/CAST(255 AS FLOAT) - CAST(0.5 AS FLOAT) AS v, pos
         | FROM h),
         |bs AS (SELECT doc_id, bucket,
         |   list_reduce(list_prepend(CAST(0 AS FLOAT), list(v ORDER BY pos)), (a,x) -> a+x) AS s
         | FROM c GROUP BY doc_id, bucket),
         |grid AS (SELECT d.doc_id, CAST(g.b AS INTEGER) AS bucket
         | FROM documents d, range(0,16) g(b)),
         |emb AS (SELECT grid.doc_id AS media_id,
         |   list(COALESCE(bs.s, CAST(0 AS FLOAT)) ORDER BY grid.bucket) AS e
         | FROM grid LEFT JOIN bs ON grid.doc_id = bs.doc_id AND grid.bucket = bs.bucket
         | GROUP BY grid.doc_id),
         |probes AS (SELECT media_id AS probe_id, e AS pe FROM emb WHERE media_id < 3),
         |pairs AS (SELECT probe_id, media_id,
         |   ${dotOf("pe", "e")} / (sqrt(${dotOf("pe", "pe")}) * sqrt(${dotOf("e", "e")})) AS cos_sim
         | FROM emb, probes WHERE media_id <> probe_id)
         |SELECT probe_id, media_id, cos_sim, rank FROM (
         | SELECT probe_id, media_id, cos_sim,
         |  CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, media_id) AS INTEGER) AS rank
         | FROM pairs) r WHERE rank <= 5""".stripMargin,
    // ScrubOps: the oracle rebuilds the identical augmented bytes,
    // then applies the identical RE2⊂Java regex chain (DuckDB
    // regexp_replace needs the explicit 'g' flag Spark implies;
    // backreference spelling differs: Spark `$1` ↔ RE2 `\1`).
    "q74_pii_redact" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |  || CASE WHEN doc_id % 3 <> 0 THEN ' or 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |  || CASE WHEN doc_id % 2 = 0 THEN ' from 10.' || CAST(doc_id % 250 AS VARCHAR) || '.0.1' ELSE '' END AS t
        | FROM documents)
        |, masked AS (SELECT doc_id, t,
        |  regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g') AS after_phone
        | FROM aug)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        | CAST(len(regexp_extract_all(after_email, '\b\d{3}-\d{3}-\d{4}\b')) AS INTEGER) AS n_phones,
        | CAST(len(regexp_extract_all(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
        | regexp_replace(after_phone, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean_text
        |FROM masked""".stripMargin,
    "q75_strat_sample" ->
      """SELECT lang, doc_id FROM (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5('smp:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        | FROM documents) t
        |WHERE rn <= 30""".stripMargin,
    "q76_url_domains" ->
      """WITH aug AS (SELECT doc_id,
        |  text || ' see https://docs-' || source || '.example.org/p/' || CAST(doc_id % 50 AS VARCHAR)
        |  || CASE WHEN doc_id % 4 = 0 THEN ' and http://cdn.example.net/a?id=' || CAST(doc_id AS VARCHAR) ELSE '' END AS t
        | FROM documents),
        |u AS (SELECT doc_id,
        |  unnest(regexp_extract_all(t, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain FROM aug)
        |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
        |FROM u GROUP BY domain""".stripMargin,
    "q77_markup_strip" ->
      """WITH aug AS (SELECT doc_id,
        |  '<h1>' || source || '</h1> **' || text || '** [more](https://ex.org/' || CAST(doc_id AS VARCHAR) || ') <br/>' AS t
        | FROM documents),
        |c AS (SELECT doc_id, t,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '\[([^\]]*)\]\([^)]*\)', '\1', 'g'),
        |    '\*\*', '', 'g'),
        |    '<[^>]+>', '', 'g') AS clean_text
        | FROM aug)
        |SELECT doc_id, clean_text,
        | CAST(len(t) - len(clean_text) AS INTEGER) AS removed_chars
        |FROM c""".stripMargin,
    "q78_interval_join" ->
      """SELECT w.event_id AS win_id, e.event_id AS pt_id, w.user_id,
        | (epoch_us(e.ts) - epoch_us(w.ts)) AS delta_us
        |FROM events w JOIN events e ON w.user_id = e.user_id
        | AND epoch_us(e.ts) >= epoch_us(w.ts)
        | AND epoch_us(e.ts) < epoch_us(w.ts) + 1800000000
        |WHERE w.event_type = 'purchase' AND e.event_id <> w.event_id""".stripMargin,
    // q129: exact-integer overlap predicate + length — the oracle is
    // the plain range join the bucketed plan de-quadratizes
    "q129_overlap_join" ->
      """SELECT p.event_id AS l_id, c.event_id AS r_id, p.user_id,
        | (LEAST(epoch_us(p.ts) + 1800000000, epoch_us(c.ts) + 600000000)
        |  - GREATEST(epoch_us(p.ts), epoch_us(c.ts))) AS overlap_us
        |FROM events p JOIN events c ON p.user_id = c.user_id
        | AND epoch_us(p.ts) < epoch_us(c.ts) + 600000000
        | AND epoch_us(c.ts) < epoch_us(p.ts) + 1800000000
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY l_id, r_id""".stripMargin,
    // p(w) = c(w)/T is one double division of exact integers; ln is
    // libm on both engines (math_ln ↔ DuckDB ln); the per-doc sum
    // folds tf·(-ln p) in word order on both sides.
    "q79_unigram_nll" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |cw AS (SELECT word, SUM(tf) AS cw FROM tf GROUP BY 1),
        |tot AS (SELECT SUM(cw) AS t FROM cw),
        |terms AS (SELECT doc_id, word, tf,
        |  CAST(tf AS DOUBLE) * -ln(CAST(cw AS DOUBLE) / CAST(t AS DOUBLE)) AS term
        | FROM tf JOIN cw USING (word) CROSS JOIN tot)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        | list_reduce(list_prepend(0.0, list(term ORDER BY word)), (a, b) -> a + b)
        |   / CAST(SUM(tf) AS BIGINT) AS avg_nll
        |FROM terms GROUP BY doc_id""".stripMargin,
    "q80_pmi_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |bi AS (SELECT unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bigram FROM toks WHERE len(tk) >= 2),
        |bc AS (SELECT bigram, COUNT(*) AS c_ab FROM bi GROUP BY 1 HAVING COUNT(*) >= 5),
        |uni AS (SELECT unnest(tk) AS word FROM toks),
        |uc AS (SELECT word, COUNT(*) AS c_w FROM uni GROUP BY 1),
        |tot AS (SELECT SUM(CASE WHEN len(tk) >= 1 THEN len(tk) - 1 ELSE 0 END) AS n FROM toks),
        |p AS (SELECT bigram, c_ab,
        |  ln((CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)) /
        |     (CAST(a.c_w AS DOUBLE) * CAST(b.c_w AS DOUBLE))) AS pmi
        | FROM bc CROSS JOIN tot
        |  JOIN uc a ON a.word = string_split(bigram, ' ')[1]
        |  JOIN uc b ON b.word = string_split(bigram, ' ')[2])
        |SELECT bigram, c_ab, pmi,
        | CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bigram) AS INTEGER) AS rank
        |FROM p ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,
    "q81_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        | list_reduce(list_transform(range(0, 16), i ->
        |   (((l_partkey >> i) & 1) << (2*i)) | (((l_suppkey >> i) & 1) << (2*i+1))),
        |  (a, b) -> a | b) AS zval
        |FROM lineitem WHERE l_partkey % 50 = 0""".stripMargin,
    "q82_full_outer" ->
      """WITH c AS (SELECT c_nationkey, COUNT(*) AS neg_customers
        |  FROM customer WHERE c_acctbal < 0 GROUP BY 1),
        |s AS (SELECT s_nationkey, COUNT(*) AS neg_suppliers
        |  FROM supplier WHERE s_acctbal < 0 GROUP BY 1)
        |SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
        | neg_customers, neg_suppliers
        |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey""".stripMargin,
    "q83_unpivot" ->
      """WITH wide AS (
        | SELECT r_name, COUNT(DISTINCT n_nationkey) AS n_nations,
        |  COUNT(c_custkey) AS n_customers,
        |  COUNT(DISTINCT c_mktsegment) AS n_segments
        | FROM region JOIN nation ON r_regionkey = n_regionkey
        |  LEFT JOIN customer ON n_nationkey = c_nationkey
        | GROUP BY r_name)
        |SELECT r_name, 'n_nations' AS metric, n_nations AS value FROM wide
        |UNION ALL SELECT r_name, 'n_customers', n_customers FROM wide
        |UNION ALL SELECT r_name, 'n_segments', n_segments FROM wide""".stripMargin,
    "q84_fuzzy_match" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b, a.p_brand,
        | CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
        |FROM part a JOIN part b
        | ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,
    // PageRank, 3 unrolled power iterations. Bit-exact ranks: each
    // contribution pr/deg is quantized to int64 2^-40 quanta with
    // exactly-reproducible IEEE ops (floor(pr/deg*2^40 + 0.5) — the
    // power-of-two multiply is an exponent shift), the per-destination
    // reduction is an exact integer SUM (order-independent, mirroring
    // Graph.pageRankOver's hub-safe aggregation), and every oracle
    // constant is an e0 DOUBLE literal — DuckDB parses bare 1.0/0.85
    // as DECIMAL, making (1.0-0.85) decimal-exact 0.15 instead of the
    // computed double 1.0-0.85 (= 0.15000000000000002) that Spark's
    // lit(1.0-d) produces.
    "q85_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT o_custkey*2 AS c, l_suppkey*2+1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT c AS src, s AS dst FROM pairs UNION ALL SELECT s, c FROM pairs),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY 1),
        |p0 AS (SELECT id, 1.0e0/n AS pr FROM nodes CROSS JOIN nn),
        |p1 AS (SELECT t.id, (1.0e0-0.85e0)/nn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p0.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p0 ON e.src = p0.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN nn),
        |p2 AS (SELECT t.id, (1.0e0-0.85e0)/nn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p1.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p1 ON e.src = p1.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN nn),
        |p3 AS (SELECT t.id, (1.0e0-0.85e0)/nn.n + 0.85e0*(CAST(t.qs AS DOUBLE)/1099511627776.0e0) AS pr FROM (
        |  SELECT e.dst AS id,
        |   SUM(CAST(floor(p2.pr/deg.deg*1099511627776.0e0 + 0.5e0) AS BIGINT)) AS qs
        |  FROM e JOIN p2 ON e.src = p2.id JOIN deg ON e.src = deg.src
        |  GROUP BY e.dst) t CROSS JOIN nn)
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind, pr
        |FROM p3""".stripMargin,
    // q86: any consistent total order counts each triangle once, so the
    // oracle's plain id-orientation reproduces the engine's
    // degree-oriented count exactly
    "q86_triangles" ->
      """WITH lo AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT DISTINCT a.ck AS u, b.ck AS v
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
        |  FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT x AS cust FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |SELECT cust, COUNT(*) AS n_triangles FROM n GROUP BY 1""".stripMargin,
    "q87_degree_dist" ->
      """WITH lo AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT DISTINCT a.ck AS u, b.ck AS v
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |d AS (SELECT cust, COUNT(*) AS deg FROM
        |  (SELECT u AS cust FROM e UNION ALL SELECT v AS cust FROM e) x GROUP BY 1)
        |SELECT deg, COUNT(*) AS n_customers FROM d GROUP BY 1""".stripMargin,
    // q88: identical IEEE expression tree as bm25Over (k1=1.2, b=0.75;
    // 2.2 == double(1.2)+1.0 bit-exactly, 0.25 == 1.0-0.75 exactly)
    "q88_bm25" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY 1),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl)
        |SELECT tf.doc_id, tf.word, tf.tf,
        | ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |  * (CAST(tf.tf AS DOUBLE) * 2.2)
        |  / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |      (CAST(dl.dl AS DOUBLE) / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))) AS bm25
        |FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN st""".stripMargin,
    // q128: q88's matrix + broadcast query terms; the per-(q, d) score
    // folds in word order (the q79 recipe) so the double sum is
    // cross-engine exact; rank ties break on doc_id
    "q128_bm25_topk" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM w GROUP BY 1),
        |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM dl),
        |bm AS (SELECT tf.doc_id, tf.word,
        |  ln(1.0 + (st.n_docs - df.df + 0.5) / (df.df + 0.5))
        |   * (CAST(tf.tf AS DOUBLE) * 2.2)
        |   / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
        |       (CAST(dl.dl AS DOUBLE) / (CAST(st.total_dl AS DOUBLE) / st.n_docs)))) AS bm25
        | FROM tf JOIN dl USING (doc_id) JOIN df USING (word) CROSS JOIN st),
        |q AS (SELECT doc_id AS q_id,
        |   unnest(list_distinct(string_split(text, ' ')[1:4])) AS word
        |  FROM documents WHERE doc_id < 5),
        |sc AS (SELECT q.q_id, bm.doc_id, COUNT(*) AS n_terms,
        |  list_reduce(list_prepend(0.0, list(bm.bm25 ORDER BY bm.word)),
        |    (a, b) -> a + b) AS score
        | FROM bm JOIN q USING (word) GROUP BY 1, 2)
        |SELECT q_id, doc_id, n_terms, score,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |    ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |FROM sc QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q89_containment" ->
      """WITH d AS (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS words FROM documents)
        |SELECT a.lang, a.source, a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) / len(a.words) AS containment
        |FROM d a JOIN d b ON a.lang = b.lang AND a.source = b.source
        | AND a.doc_id <> b.doc_id
        |WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE) / len(a.words) >= 0.8""".stripMargin,
    // q90: q103's recursive-CTE clustering (3-gram shingle jaccard,
    // unblocked — the linear path's predicate) + a keep-longest window
    "q90_dedup_survivors" ->
      """WITH RECURSIVE d AS (
        | SELECT doc_id,
        |  list_sort(list_distinct(list_transform(range(1, len(string_split(text,' '))-1),
        |   i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] || ' ' || string_split(text,' ')[i+2]))) AS sh
        | FROM documents WHERE len(string_split(text,' ')) >= 3),
        |p AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM d a JOIN d b ON a.doc_id < b.doc_id
        | WHERE 1.0 - CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)
        |   / (len(a.sh)+len(b.sh)-CAST(len(list_intersect(a.sh,b.sh)) AS DOUBLE)) <= 0.4),
        |e AS (SELECT id_a AS s, id_b AS t FROM p UNION ALL SELECT id_b AS s, id_a AS t FROM p),
        |walk AS (
        |  SELECT doc_id, doc_id AS label FROM documents
        |  UNION
        |  SELECT e.s AS doc_id, w.label FROM walk w JOIN e ON w.doc_id = e.t),
        |c AS (SELECT doc_id, MIN(label) AS cluster_id FROM walk GROUP BY doc_id),
        |r AS (SELECT c.cluster_id, c.doc_id, docs.n_chars,
        |   ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY docs.n_chars DESC, c.doc_id) AS rn,
        |   COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        |  FROM c JOIN documents docs USING (doc_id))
        |SELECT cluster_id, doc_id AS survivor_id, n_chars, n_members FROM r WHERE rn = 1""".stripMargin,
    // q91: moments exact in integer aggregation (HUGEINT vs Spark
    // DECIMAL(38,0) — both exact, identical once cast to double),
    // then one shared IEEE expression; regular graph -> NULL on both
    "q91_assortativity" ->
      """WITH lo AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e AS (SELECT DISTINCT a.ck AS u, b.ck AS v
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck < b.ck),
        |sym AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
        |deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY 1),
        |j AS (SELECT d1.deg AS du, d2.deg AS dv FROM sym
        |  JOIN deg d1 ON sym.u = d1.u JOIN deg d2 ON sym.v = d2.u),
        |m AS (SELECT COUNT(*) AS n, SUM(du) AS sx, SUM(du*dv) AS sxy, SUM(du*du) AS sxx FROM j)
        |SELECT n AS n_endpoints,
        | (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |  / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
        |  AS assortativity
        |FROM m""".stripMargin,
    "q92_copurchase_top" ->
      """WITH lo AS (SELECT DISTINCT o_custkey AS ck, l_partkey AS pk,
        |    date_trunc('month', o_orderdate) AS m
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |shared AS (SELECT a.ck AS cust, b.ck AS partner, COUNT(*) AS n_shared
        |  FROM lo a JOIN lo b ON a.pk = b.pk AND a.m = b.m AND a.ck <> b.ck
        |  GROUP BY 1, 2),
        |r AS (SELECT cust, partner, n_shared,
        |   ROW_NUMBER() OVER (PARTITION BY cust ORDER BY n_shared DESC, partner) AS rn
        |  FROM shared)
        |SELECT cust, partner, n_shared FROM r WHERE rn = 1""".stripMargin,
    "q93_inverted_index" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT word, doc_id, COUNT(*) AS tf FROM w GROUP BY 1, 2)
        |SELECT word, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        | array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM tf GROUP BY word""".stripMargin,
    "q94_sql_tpch5" ->
      """SELECT n_name,
        | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_items
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q95_column_profile" ->
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS column_name, COUNT($c) AS n,
           | COUNT(DISTINCT $c) AS n_distinct,
           | CAST(MIN($c) AS DOUBLE) AS min_v, CAST(MAX($c) AS DOUBLE) AS max_v,
           | CAST(SUM(CAST($c AS DECIMAL(18,4))) AS DOUBLE) / COUNT($c) AS avg_v
           |FROM lineitem""".stripMargin
      }.mkString("\n UNION ALL \n"),
    // q96: DuckDB's native ASOF JOIN is the oracle for the composed
    // grid + carry-forward (same inclusive semantics as q40)
    "q96_locf_resample" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        |span AS (SELECT date_trunc('hour', MIN(ts)) AS mn, MAX(ts) AS mx FROM ev),
        |grid AS (SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 360 MINUTE)) AS grid_ts
        |  FROM (SELECT DISTINCT user_id FROM ev), span)
        |SELECT g.user_id, g.grid_ts,
        | COALESCE(e.value, -1.0) AS last_value,
        | COALESCE(e.ts, TIMESTAMP '1970-01-01') AS last_ts
        |FROM grid g ASOF LEFT JOIN ev e
        | ON g.user_id = e.user_id AND g.grid_ts >= e.ts""".stripMargin,
    // q97: ts cast to TIMESTAMP (µs) so ordering ties break on
    // event_id identically in both engines (ns-precision ordering
    // could differ within one microsecond)
    "q97_transitions" ->
      """WITH ev AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |seq AS (SELECT user_id, event_type AS next_type,
        |  LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM ev),
        |pairs AS (SELECT prev_type, next_type, COUNT(*) AS n FROM seq
        |  WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, SUM(n) AS n_prev FROM pairs GROUP BY 1)
        |SELECT pr.prev_type, pr.next_type, pr.n,
        |  CAST(pr.n AS DOUBLE) / t.n_prev AS p
        |FROM pairs pr JOIN tot t USING (prev_type)""".stripMargin,
    "q98_value_histogram" ->
      """SELECT bin, COUNT(*) AS n_events, bin * 25.0 AS bin_lo
        |FROM (SELECT CAST(floor(value / 25.0) AS INT) AS bin FROM events) x
        |GROUP BY bin""".stripMargin,
    // q99: weeks as integer day-offsets // 7 — engine-neutral, no
    // week-start conventions
    "q99_cohort_retention" ->
      """WITH weeks AS (SELECT DISTINCT user_id,
        |  CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS INT) AS week FROM events),
        |coh AS (SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY 1)
        |SELECT c.cohort_week, w.week, COUNT(DISTINCT w.user_id) AS n_active
        |FROM weeks w JOIN coh c USING (user_id) GROUP BY 1, 2""".stripMargin,
    // q100: funnel semantics — first purchase STRICTLY AFTER the
    // first signup (a user whose earliest purchase predates signup
    // still converts on a later purchase)
    "q100_conversion" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
        |  WHERE event_type IN ('signup', 'purchase')),
        |s AS (SELECT user_id, MIN(us) FILTER (WHERE event_type = 'signup') AS signup_us
        |  FROM ev GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.us) AS purchase_us
        |  FROM ev e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s.signup_us
        |  GROUP BY 1)
        |SELECT s.user_id, make_timestamp(signup_us) AS signup_ts,
        | make_timestamp(purchase_us) AS purchase_ts,
        | (purchase_us - signup_us) // 1000000 AS latency_s
        |FROM s JOIN p USING (user_id) WHERE signup_us IS NOT NULL""".stripMargin,
  )

  /** Why each `no_oracle` (rows-only) query is still covered: its
    * engine-specific output is pinned by a hash-checked exact twin or
    * contract gate elsewhere in the inventory. Written by [[Verify]]
    * as a `twins.json` sidecar next to `oracle_sql.json`, so the
    * driver's correctness artifact carries the coverage story instead
    * of README prose. Invariant (spec-pinned): keys are exactly the
    * queries with no [[oracleSql]] entry; every value's `twin` has
    * one. */
  def twins: Map[String, (String, String)] = Map(
    "q27_simhash" -> ("q71_simhash_portable",
      "xxhash64-based SimHash bits are engine-specific; q71 pins the identical pipeline over a portable 64-bit polynomial hash, hash-checked"),
    "q32_simhash_pairs" -> ("q72_portable_pairs",
      "near-dup pairs over the xxhash64 SimHash; q72 is the same band-join over the portable hash, hash-checked"),
    "q39_approx_distinct" -> ("q109_approx_distinct_gate",
      "HLL++ estimates are engine-specific; q109 oracle-checks the relative-error contract |approx-exact|/exact <= 0.05 per group"),
    "q41_tfidf" -> ("q61_tfidf_exact",
      "hashingTF bucket ids are engine-specific; q61 pins the exact (word,doc) TF-IDF with glibc-exact ln, hash-checked"),
    "q43_ann_lsh" -> ("q101_ann_lsh_gate",
      "LSH bucketing is engine-specific; q101 oracle-checks recall >= 0.9 of the ANN result against brute-force truth"),
    "q52_ann_ivf" -> ("q102_ann_ivf_gate",
      "IVF centroid assignment is engine-specific; q102 oracle-checks recall >= 0.9 against brute-force truth"))

  /** Why certain hash-checked queries' DuckDB oracles stop at the
    * driver SFs, and what covers them beyond: the recursive-closure /
    * O(n²)-pair oracles are DuckDB-intractable past sf0.1, so the
    * generated-SF evidence is an ENGINE-SIDE equality run live by the
    * named [[tools.ScaleEvidence]] check (delete path ≡ from-scratch
    * over survivors, diff 0).
    * Written by [[Verify]] as a `scale_evidence.json` sidecar next to
    * `twins.json`, so the correctness artifact — not BASELINE prose —
    * carries the sf1+ coverage story. */
  def scaleEvidence: Map[String, (String, String)] = Map(
    "q208_cc_retract" -> ("tools.ScaleEvidence cc_retract",
      "recursive CC-closure oracle is DuckDB-intractable past sf0.1; ccApplyChanges over the persisted state equals the from-scratch distributed closure at sf1 and sf10, diff 0"),
    "q210_stream_cc" -> ("tools.ScaleEvidence cc_retract",
      "same closure oracle class as q208 (q202's); the per-batch fold is ccIncrementFrames, whose increment ≡ from-scratch equality GraphIncrementSpec pins engine-side and whose delete-capable superset the check runs live at sf1/sf10"),
    "q215_dedup_delete" -> ("tools.ScaleEvidence dedup_delete",
      "shingle-jaccard pair oracle is O(n^2) in DuckDB; dedupApplyDeletes over the persisted full index equals the engine's from-scratch clustering of the survivors at generated SFs, diff 0"),
    "q216_er_delete" -> ("tools.ScaleEvidence er_delete",
      "within-block levenshtein pair oracle is O(n^2) in DuckDB; erApplyDeletes over the persisted full state equals the engine's from-scratch resolution of the survivors at generated SFs, diff 0"))
}

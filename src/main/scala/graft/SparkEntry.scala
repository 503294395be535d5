package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract (SURVEY §7): one entry per implemented operator from
  * SURVEY §2, each paired with equivalent ANSI SQL the driver runs in
  * DuckDB over the same parquet tables. Naming: `oNN_*` = reference-parity
  * operators (SURVEY §2.1), `xNN_*` = extended surface (SURVEY §2.4).
  *
  * Determinism contract with the oracle: every query has an explicit
  * total ORDER BY (unique tiebreaker), aliases match the SQL exactly, and
  * all float aggregates go through [[graft.functions.Exact]] decimal
  * helpers so values are bit-identical across engines and partitionings.
  */
object SparkEntry {

  /** Flagship query on sf=0.001 (the reference's DbToHdfs ETL shape);
    * driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Etl.extract(spark, "/root/testdata/sf0.001")

  /** Venue-level derived shuffle width for the full-corpus-aggregate
    * SQL shapes (VERDICT r10 #5 — the streaming state-width discipline
    * applied to batch shuffles): Q18/Q21 shuffle the whole lineitem
    * relation through sort buffers, so their width must track the
    * estimated spill mass ([[operators.Layout.shuffleWidthFor]]),
    * never a fixed constant. Runners (Bench, ExplainRun) scope
    * `spark.sql.shuffle.partitions` to this around the ACTION — the
    * conf binds at exchange-planning time, not builder time. None =
    * run at the deployment default. */
  def shuffleWidthHint(name: String, spark: SparkSession,
                       sfDir: String): Option[Int] =
    if (WideShuffleFamilies(name))
      Some(Layout.derivedShuffleWidth(spark, sfDir,
        Seq("lineitem", "orders")))
    else None

  private val WideShuffleFamilies = Set("x15e_sql_q18", "x15t_sql_q21")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference parity (SURVEY §2.1) ----
    "o02_etl_extract"     -> (Etl.extract(_, _)),
    "o05_sink_roundtrip"  -> (Etl.sinkRoundtrip(_, _)),
    "o07_pruned_avg"      -> (Etl.prunedAvg(_, _)),
    "o12_partition_cache" -> (PartitionCache.protocolTrace(_, _)),
    "o13_block_locations" -> (graft.sources.StorageMeta.blocksPerHost(_, _)),
    "o14_explode_count"   -> (Etl.explodeCount(_, _)),
    "of1_format_roundtrip" -> (graft.sources.Formats.roundtrip(_, _)),
    "of2_incremental_append" -> (Etl.incrementalAppend(_, _)),
    "of3_jdbc_roundtrip"  -> (graft.sources.JdbcSource.jdbcRoundtrip(_, _)),
    "of4_upsert_merge"    -> (Etl.upsertMerge(_, _)),
    "of5_cdc_apply"       -> (Etl.cdcApply(_, _)),
    // manifest min/max data skipping through the snapshot read path
    "of6_snapshot_prune"  -> (Etl.snapshotPrune(_, _)),
    // file-granular keyed MERGE through the stats manifest
    "of22_pruned_merge"   -> (Etl.prunedMerge(_, _)),
    // merge-on-read scattered delete through per-file deletion vectors
    "of23_mor_delete"     -> (Etl.morDelete(_, _)),
    "x16c_scd2_history"   -> (Relational.scd2History(_, _)),
    "o16_row_count"       -> (Etl.rowCount(_, _)),
    // ---- relational breadth (SURVEY §2.4 X1-X8) ----
    "x01_grouped_agg"     -> (Relational.groupedAgg(_, _)),
    "x02a_broadcast_join" -> (Relational.broadcastJoin(_, _)),
    "x02b_semi_join"      -> (Relational.semiJoin(_, _)),
    "x02c_anti_join"      -> (Relational.antiJoin(_, _)),
    "x02d_star_join"      -> (Relational.starJoin(_, _)),
    "x02e_correlated"     -> (SqlApi.correlatedSubquery(_, _)),
    "x03_topk"            -> (Relational.topK(_, _)),
    "x04a_window_rank"    -> (Relational.windowRank(_, _)),
    "x04b_window_moving"  -> (Relational.windowMoving(_, _)),
    "x04c_window_range"   -> (Relational.windowRangeFrame(_, _)),
    "x04d_window_distribution" -> (Relational.windowDistribution(_, _)),
    "x02f_outer_join"     -> (Relational.outerJoin(_, _)),
    "x05_distinct"        -> (Relational.distinctAgg(_, _)),
    "x05b_approx_distinct" -> (Relational.approxDistinct(_, _)),
    "x05c_median"         -> (Relational.medianAgg(_, _)),
    "x05d_approx_quantiles" -> (Relational.approxPercentiles(_, _)),
    "x05e_exact_quantiles" -> (Relational.exactQuantiles(_, _)),
    "x06a_rollup"         -> (Relational.rollupAgg(_, _)),
    "x06b_cube"           -> (Relational.cubeAgg(_, _)),
    "x06c_pivot"          -> (Relational.pivotAgg(_, _)),
    "x06e_grouping_sets"  -> (SqlApi.groupingSets(_, _)),
    "x06d_unpivot"        -> (Relational.unpivotMeasures(_, _)),
    "x07_setops"          -> (Relational.setOps(_, _)),
    "x08a_string_fns"     -> (Relational.stringFns(_, _)),
    "x08b_date_fns"       -> (Relational.dateFns(_, _)),
    "x08c_math_fns"       -> (Relational.mathFns(_, _)),
    "x08d_json_fns"       -> (Relational.jsonFns(_, _)),
    "x08e_array_fns"      -> (Relational.arrayFns(_, _)),
    "x08f_map_fns"        -> (Relational.mapFns(_, _)),
    "x08g_regexp_fns"     -> (Relational.regexpFns(_, _)),
    "x08h_higher_order"   -> (Relational.higherOrderFns(_, _)),
    // ---- LLM-pipeline ops (SURVEY §2.4 X9-X11) ----
    "x09a_exact_dedup"    -> (Dedup.exactDedup(_, _)),
    "x09b_minhash_lsh"    -> (Dedup.minhashLsh(_, _)),
    "x09c_simhash"        -> (Dedup.simhash(_, _)),
    "x09d_simhash_pairs"  -> (Dedup.simhashPairs(_, _)),
    // data-driven physical-strategy selection (the rare-gram-mass probe
    // resolves to CountJoin on this closed-vocab fixture) — Auto is the
    // certified default, not just a spec-pinned option
    "x09e_ngram_jaccard"  -> ((s, d) =>
      Dedup.ngramJaccardTop(s, d, strategy = Dedup.Auto)),
    // same logical op, the open-vocabulary PrefixFilter plan, certified
    // ON an open-vocabulary venue: width-4 shingles open the fixture's
    // 31-token gram space to ~924k possible grams (rare-gram mass 0.93),
    // so the prefix prune actually pays — this measures the 100 TB plan
    // where it wins, instead of on its pessimal closed-vocab input
    "x09e2_jaccard_prefix" -> ((s, d) =>
      Dedup.ngramJaccardTop(s, d, strategy = Dedup.PrefixFilter, width = 4)),
    "x09f_embedding_dedup" -> ((s, d) => Similarity.embeddingNearDup(s, d)),
    // SemDeDup: cluster-scoped exact semantic dedup over the learned
    // k-means cells (x10g's codebook via the session memo)
    "x09l_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(s, d)),
    "x09g_dedup_clusters" -> (Dedup.dedupClusters(_, _)),
    "x10a_cosine_topk"    -> ((s, d) => Similarity.cosineTopK(s, d)),
    "x10b_ann_lsh"        -> ((s, d) => Similarity.annLsh(s, d)),
    "x11a_lang_id"        -> (TextAnalysis.langId(_, _)),
    "x11b_quality_score"  -> (TextAnalysis.qualityScore(_, _)),
    "x11c_token_stats"    -> (TextAnalysis.tokenStats(_, _)),
    "x11d_fingerprint"    -> (TextAnalysis.fingerprint(_, _)),
    "x11e_tfidf"          -> ((s, d) => TextAnalysis.tfidfTop(s, d)),
    "x11f_clean_text"     -> (TextAnalysis.cleanText(_, _)),
    "x11g_chunking"       -> ((s, d) => TextAnalysis.chunkDocs(s, d)),
    "x09h_contamination"  -> (Dedup.contamination(_, _)),
    // eval-set scrub: train docs sharing any width-8 shingle with the
    // held-out split; benchmark gram set broadcasts, corpus never shuffles
    "x09m_benchmark_decontam" -> (Dedup.benchmarkDecontam(_, _)),
    "x09i_chunk_dedup"    -> ((s, d) => Dedup.chunkDedup(s, d)),
    "x09j_edit_distance"  -> (Dedup.editDistancePairs(_, _)),
    "x11h_repetition"     -> (TextAnalysis.repetition(_, _)),
    "x11l_bm25"           -> ((s, d) => TextAnalysis.bm25Top(s, d)),
    // tokenizer-prep: smallest vocab prefix covering p% of occurrences
    "x11m_vocab_coverage" -> ((s, d) => TextAnalysis.vocabCoverage(s, d)),
    // Lee-et-al exact repeated-substring spans: stride-1 gram
    // fingerprints, cross-doc repeats, per-doc interval merge
    "x09n_repeated_spans" -> (Dedup.repeatedSpans(_, _)),
    // ...and the scrub APPLICATION: cut the spans, reassemble the
    // survivors, report before/after counts + rewritten-content hash
    "x09o_span_scrub"     -> ((s, d) => Dedup.spanScrub(s, d)),
    // asymmetric containment (inter/n_a, inter/n_b) over rare-gram
    // candidates: catches short-in-long quoting Jaccard cannot see
    "x09p_containment"    -> ((s, d) => Dedup.containmentPairs(s, d)),
    // incremental dedup of a delta batch against a persisted signature
    // index — corpus text never re-read; novel docs carry NULL partner
    "x09q_incremental_dedup" -> (Dedup.incrementalMinhash(_, _)),
    // domain-level curation: integer-gated per-source flags, O(domains)
    "x26_domain_curation"  -> (TextAnalysis.domainCuration(_, _)),
    // lexical ∪ semantic near-dup pairs with the agreement recorded
    "x09r_ensemble_dedup"  -> (Dedup.ensembleDedup(_, _)),
    // which sources copy from which: near-dup pairs → source×source
    "x09s_cross_source"    -> (Dedup.crossSourceMatrix(_, _)),
    // what did the filter DO to the distribution? per-bin drift audit
    "x18d_filter_drift"    -> (TextAnalysis.filterDrift(_, _)),
    // split by near-dup CLUSTER, not doc: zero cross-split pairs, with
    // the doc-split counter-factual's leak count measured beside it
    "x17e_leakage_safe_split" -> (TextAnalysis.leakageSafeSplit(_, _)),
    // WET extraction: manufactured markup stripped, losslessness pinned
    "x11s_markup_strip"    -> (TextAnalysis.markupStrip(_, _)),
    // CCNet-style corpus-trained bigram-LM fluency scoring: exact
    // ratio-of-sums surprisal, head/middle/tail perplexity buckets
    "x11n_lm_score"       -> (TextAnalysis.lmScore(_, _)),
    // tokenizer TRAINING: character-BPE merge-rule learning — corpus
    // touched once (word-frequency aggregate), merge rounds run on the
    // vocab-sized symbol relation with a one-row broadcast pair/round
    "x11o_bpe_merges"     -> ((s, d) => TextAnalysis.bpeMerges(s, d)),
    // ...and tokenizer APPLICATION: encode the corpus with the learned
    // merges (each distinct word encoded once, docs join by token);
    // per-doc fertility + sha256 of the full encoded sequence
    "x11q_bpe_encode"     -> ((s, d) => TextAnalysis.bpeEncode(s, d)),
    // exact heavy hitters via Misra-Gries sketch + exact re-count of
    // the ≤capacity candidates: no vocabulary-sized shuffle anywhere
    "x11p_heavy_hitters"  -> ((s, d) => TextAnalysis.heavyHitters(s, d)),
    // Unicode NFC canonicalization via the native graft_nfc expression;
    // Normalizer vs utf8proc certified byte-for-byte on composed rows
    "x11r_unicode_canon"  -> (TextAnalysis.unicodeCanon(_, _)),
    // the composed corpus-build pipeline as ONE query: lang → quality
    // → exact dedup → near-dedup survivor → split, per-stage yields
    "x20_corpus_funnel"   -> (TextAnalysis.corpusFunnel(_, _)),
    // padding-efficiency audit: arrival vs length-sorted batching waste
    "x19b_padding_audit"  -> (TextAnalysis.paddingAudit(_, _)),
    // why was each doc dropped? first-failing-stage histogram by source
    "x20b_funnel_attribution" -> (TextAnalysis.funnelAttribution(_, _)),
    // which copy survives dedup: per-cluster canonical representative
    "x09k_canonical"      -> (Dedup.canonicalDocs(_, _)),
    "x11i_pii_redaction"  -> (TextAnalysis.piiRedaction(_, _)),
    "x11k_regex_tokens"   -> (TextAnalysis.regexTokens(_, _)),
    "x10c_label_centroids" -> (Similarity.labelCentroids(_, _)),
    "x10d_nearest_centroid" -> (Similarity.nearestCentroid(_, _)),
    "x10e_ivf_topk"       -> ((s, d) => Similarity.ivfTopK(s, d)),
    // the production quantizer as the measured path: IVF probing over
    // the LEARNED k-means codebook, probe-only against the staged
    // on-disk index (codebook trained on a bounded sample, corpus
    // assignment committed once as a snapshot)
    "x10e2_ivf_learned"   -> ((s, d) => Similarity.ivfTopKLearned(s, d)),
    "x10f_class_separation" -> ((s, d) => Similarity.classSeparation(s, d)),
    // PQ-compressed ANN: asymmetric distance over 4x16-dim codebooks
    "x10h_pq_adc"         -> ((s, d) => Similarity.pqAdcTopK(s, d)),
    // IVF-PQ: learned coarse cells prune, PQ codes score (billion-scale
    // ANN layout — the composition of x10e2's and x10h's halves)
    "x10i_ivfpq"          -> ((s, d) => Similarity.ivfPqTopK(s, d)),
    "x10g_kmeans_cells"   -> ((s, d) => Similarity.kmeansCells(s, d)),
    // recall@3 of every ANN index vs the brute-force ground truth
    "x10j_ann_recall"     -> ((s, d) => Similarity.annRecall(s, d)),
    // per-vector symmetric int8 export + exact reconstruction-error
    // certificate (max |q·127 − code·maxabs| bounded by maxabs/2)
    "x10l_int8_export"    -> (Similarity.int8Export(_, _)),
    // CDC batch -> snapshot merge: delta-only assignment against the
    // frozen codebook, certified equal to a full reassignment
    "x10k_incremental_ivf" -> ((s, d) => Similarity.incrementalIvfAssign(s, d)),
    // k-NN GRAPH over the whole corpus: per-vector top-3 among LSH
    // bucket-mates — bucket-bounded candidate join, windowed rank
    "x10l_knn_join"        -> ((s, d) => Similarity.knnJoin(s, d)),
    // JL projection-distortion audit at D=8/32: the measured reason
    // ANN candidates are generated coarsely but scored at full precision
    "x10m_jl_distortion"   -> ((s, d) => Similarity.jlDistortion(s, d)),
    "x17b_stratified_sample" -> (TextAnalysis.stratifiedSample(_, _)),
    "x17c_source_quota"   -> ((s, d) => TextAnalysis.sourceQuota(s, d)),
    // temperature-weighted (α=1/2) training-mix sampling over skewed
    // source tiers — all-integer thresholds, shuffle-free membership
    "x17d_mixture_sample" -> ((s, d) => TextAnalysis.mixtureSample(s, d)),
    // exact-integer Poisson sampling ∝ weight: one scan, no sort/RNG
    "x17f_weighted_sample" -> (TextAnalysis.weightedSample(_, _)),
    "x19_seq_packing"     -> ((s, d) => TextAnalysis.seqPacking(s, d)),
    // ---- streaming (SURVEY §2.4 X12-X13), typed UDAF (X14), multimodal ----
    "x12a_stream_tumbling" -> (graft.streaming.Streaming.tumbling(_, _)),
    "x12b_stream_sliding"  -> (graft.streaming.Streaming.sliding(_, _)),
    "x12c_stream_static"   -> (graft.streaming.Streaming.streamStaticJoin(_, _)),
    "x12d_stream_stream"   -> (graft.streaming.Streaming.streamStreamJoin(_, _)),
    // stream-stream LEFT OUTER with watermark-eviction emission of
    // unmatched rows; the oracle replays the eviction bound exactly
    "x12e_stream_outer"    -> (graft.streaming.Streaming.streamStreamOuterJoin(_, _)),
    // chained stateful operators: stream-stream join -> tumbling agg in
    // ONE streaming query (two state stores); append windows close at
    // the same eviction bound the outer join uses
    "x12f_chained_stateful" -> (graft.streaming.Streaming.attributedRate(_, _)),
    "x13a_stream_dedup"    -> (graft.streaming.Streaming.streamDedup(_, _)),
    "x13b_sessionize"      -> (graft.streaming.Streaming.sessionize(_, _)),
    "x13c_stateful_stats"  -> (graft.streaming.Streaming.statefulUserStats(_, _)),
    "x13d_active_hours"    -> (graft.streaming.Streaming.userActiveHours(_, _)),
    "x13e_value_state"     -> (graft.streaming.Streaming.valueStateStats(_, _)),
    "x13f_sessionize_append" -> (graft.streaming.Streaming.sessionizeAppend(_, _)),
    "x14_typed_udaf"       -> (graft.functions.TypedAggs.l2Query(_, _)),
    "xm1_multimodal_meta"  -> (Multimodal.binaryMeta(_, _)),
    // real PPM/BMP/WAV encode -> pure-JVM header decode round-trip
    "xm2_media_decode"     -> (Multimodal.decodedMeta(_, _)),
    // nearest-neighbor thumbnail over decoded pixels, exactly replayed
    "xm3_image_resize"     -> ((s, d) => Multimodal.resizedImages(s, d)),
    // PCM frame split + abs-amplitude sums (the RMS/VAD featurizer core)
    "xm4_audio_frames"     -> ((s, d) => Multimodal.audioFrames(s, d)),
    // image near-dup: aHash fingerprints + pigeonhole band join
    "xm5_image_phash"      -> (Multimodal.imagePhashDedup(_, _)),
    // hot-key (Zipf 80/20) salted join certified vs the unsalted oracle
    "x21_salted_join"      -> ((s, d) => Layout.skewedEventsJoin(s, d)),
    // bloom semi-join reduction certified vs the un-reduced join oracle
    "x25_bloom_join"       -> (Layout.bloomPrunedJoin(_, _)),
    "x15_sql_api"          -> (SqlApi.tpchQ3(_, _)),
    "x15b_sql_q6"          -> (SqlApi.tpchQ6(_, _)),
    "x15c_sql_q10"         -> (SqlApi.tpchQ10(_, _)),
    "x15d_sql_q1"          -> (SqlApi.tpchQ1(_, _)),
    "x15e_sql_q18"         -> (SqlApi.tpchQ18(_, _)),
    "x15f_sql_q5"          -> (SqlApi.tpchQ5(_, _)),
    "x15g_sql_q4"          -> (SqlApi.tpchQ4(_, _)),
    "x15h_sql_q7"          -> (SqlApi.tpchQ7(_, _)),
    "x15i_sql_q8"          -> (SqlApi.tpchQ8(_, _)),
    "x15j_sql_q9"          -> (SqlApi.tpchQ9(_, _)),
    "x15k_sql_q11"         -> (SqlApi.tpchQ11(_, _)),
    "x15l_sql_q12"         -> (SqlApi.tpchQ12(_, _)),
    "x15m_sql_q13"         -> (SqlApi.tpchQ13(_, _)),
    "x15n_sql_q14"         -> (SqlApi.tpchQ14(_, _)),
    "x15o_sql_q15"         -> (SqlApi.tpchQ15(_, _)),
    "x15p_sql_q16"         -> (SqlApi.tpchQ16(_, _)),
    "x15q_sql_q17"         -> (SqlApi.tpchQ17(_, _)),
    "x15r_sql_q19"         -> (SqlApi.tpchQ19(_, _)),
    "x15s_sql_q20"         -> (SqlApi.tpchQ20(_, _)),
    "x15t_sql_q21"         -> (SqlApi.tpchQ21(_, _)),
    "x15u_sql_q22"         -> (SqlApi.tpchQ22(_, _)),
    "x15v_sql_q2"          -> (SqlApi.tpchQ2(_, _)),
    "x15w_sql_recursive"   -> (SqlApi.recursiveReach(_, _)),
    "x16_asof_join"        -> (Relational.asofAttribution(_, _)),
    "x16b_interval_join"   -> (Relational.intervalJoin(_, _)),
    "x17_train_test_split" -> (TextAnalysis.trainTestSplit(_, _)),
    "x18_profile"          -> (Relational.profileMeasures(_, _)),
    "x18b_histogram"       -> (Relational.histogram(_, _)),
    // per-group |x−μ| > 3σ outlier flagging with the z-test squared out
    // to exact integers (no sqrt, no float stats)
    "x18c_outlier_events"  -> ((s, d) => Relational.outlierEvents(s, d)),
    // snapshot change feed (CDF) over two deterministic versions
    "of7_change_feed"      -> (operators.Snapshot.changeFeedDemo(_, _)),
    // file-granular DELETE: rewrite overlapping files, reference the rest
    "of8_delete_where"     -> (operators.Snapshot.deleteDemo(_, _)),
    // metadata-only rollback to a retained version (history moves forward)
    "of9_restore"          -> (operators.Snapshot.restoreDemo(_, _)),
    // per-file bloom index: point-lookup file skipping where min/max can't
    "of10_point_lookup"    -> (operators.Snapshot.pointLookupDemo(_, _)),
    // O(batch) manifest appends + the file-stream tail over them
    "of11_append_tail"     -> (graft.streaming.Streaming.appendTail(_, _)),
    // add-column evolution: append a new column, old files read as NULL
    "of12_schema_evolution" -> (operators.Snapshot.schemaEvolutionDemo(_, _)),
    // MERGE whose change batch carries a NEW column: one commit both
    // reprices matched keys and evolves the schema (kept rows → NULL)
    "of16_merge_evolution" -> (operators.Snapshot.mergeEvolutionDemo(_, _)),
    // zero-copy SHALLOW CLONE + file-granular delete on the clone:
    // clone shows the delete, source stays fixture-identical
    "of17_shallow_clone"   -> (operators.Snapshot.cloneDemo(_, _)),
    // Z-order clustered commit + 2-D box read (OPTIMIZE ZORDER shape)
    "of13_zorder_commit"   -> (operators.Snapshot.clusteredDemo(_, _)),
    // commit-time CHECK constraints: bad batch rejected atomically with
    // the exact violation count; bad constraint refused on existing data
    "of19_check_constraint" -> (operators.Snapshot.checkConstraintDemo(_, _)),
    // metadata-only DROP COLUMN: zero data I/O, tombstoned physical
    // name, time travel keeps the column, append-reintroduction refused
    "of20_drop_column"     -> (operators.Snapshot.dropDemo(_, _)),
    // generated-column pruning: base-key range queries prune files via
    // the derived bucket column's stats (Delta GENERATED ALWAYS AS)
    "of21_generated_column" -> (operators.Snapshot.generatedDemo(_, _)),
    // metadata-only column rename (column mapping): physical files
    // frozen; old versions read under old names, skipping survives
    "of18_rename_column"   -> (operators.Snapshot.renameDemo(_, _)),
    // retention GC after a delete→compact chain; post-GC read certified
    "of14_vacuum"          -> (operators.Snapshot.vacuumDemo(_, _)),
    // TIMESTAMP AS OF reads on both sides of a delete
    "of15_time_travel"     -> (operators.Snapshot.timeTravelDemo(_, _)),
    // time-series: daily resample + forward-fill, and batch sessionization
    "x22_resample_ffill"   -> (Relational.resampleFfill(_, _)),
    // incremental grid refresh: must equal the full recompute (same oracle)
    "x22b_incr_resample"   -> (Relational.resampleIncremental(_, _)),
    "x23_batch_sessions"   -> ((s, d) => Relational.batchSessions(s, d)),
    // incremental session refresh: must equal the full recompute
    "x23b_incr_sessions"   -> ((s, d) => Relational.sessionsIncremental(s, d)),
    // snapshot-MAINTAINED session table: CDC batch merge-commits only
    // touched users' rows (file-granular through user_id stats); the
    // table read must equal the full recompute
    "x23c_session_table"   -> ((s, d) => Relational.sessionsMaintained(s, d)),
    // mergeable per-day HLL sketches; rows-only (no DuckDB HLL) —
    // error bound + merge consistency are spec-pinned
    "x24_sketch_rollup"    -> (Relational.sketchRollup(_, _)),
    // iterative graph centrality (domain-authority curation): 3 exact
    // integer PageRank rounds over the customer↔supplier trade graph
    "x27_pagerank"         -> (Graph.pageRank(_, _)),
    // seeded PageRank (TrustRank): teleport mass only to the whitelist
    "x27b_trustrank"       -> (Graph.trustRank(_, _)),
    // budgeted data selection: histogram-threshold plan certified
    // equal to the oracle's corpus-wide cumulative window
    "x28_token_budget"     -> (Curation.tokenBudgetSelect(_, _)),
    // deterministic global shuffle + shard assignment (LCG permutation,
    // bucketed two-phase ranking, order-sensitive fingerprint)
    "x29_corpus_shuffle"   -> (Curation.corpusShuffle(_, _)),
  )

  // 30-minute-gap batch sessions (mirrors Relational.batchSessions /
  // sessionsIncremental): exact BIGINT microsecond gap arithmetic
  // (epoch_us ≡ unix_micros); >= is the session_window convention
  // (exclusive window end).
  private val sessionsOracleSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
      |              THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM flagged)
      |SELECT user_id, sess_id, COUNT(*) AS n_events,
      |       MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
      |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // DuckDB decimal-exact fragments mirrored from graft.functions.Exact.
  private val discounted =
    "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"
  private def dsum(c: String) =
    s"CAST(SUM(CAST($c AS DECIMAL(12,2))) AS DOUBLE)"
  private def davg(c: String) = s"${dsum(c)} / COUNT($c)"
  private def avgFloorLong(c: String) =
    s"CAST(FLOOR(${davg(c)}) AS BIGINT)"

  def oracleSql: Map[String, String] = OraclesLlm.sql ++ Map(
    "x27_pagerank" -> Graph.pageRankOracle,
    "x27b_trustrank" -> Graph.trustRankOracle,
    "x28_token_budget" -> Curation.tokenBudgetOracle,
    "x29_corpus_shuffle" -> Curation.corpusShuffleOracle,
    "o02_etl_extract" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       l_extendedprice, l_discount, l_returnflag,
        |       o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_extendedprice > 30000 AND l_extendedprice < 80000
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_extendedprice""".stripMargin,
    "o05_sink_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_extendedprice > 30000 AND l_extendedprice < 80000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "o07_pruned_avg" ->
      s"""SELECT ${avgFloorLong("l_extendedprice")} AS avg_price
         |FROM lineitem WHERE l_returnflag = 'R'""".stripMargin,
    "o12_partition_cache" ->
      s"""SELECT l_returnflag AS key, p.pass,
         |       ${avgFloorLong("l_extendedprice")} AS avg_price,
         |       CASE WHEN p.pass = 1 THEN 'create' ELSE 'reuse' END AS source
         |FROM lineitem, (VALUES (1), (2)) p(pass)
         |GROUP BY l_returnflag, p.pass
         |ORDER BY key, p.pass""".stripMargin,
    // o13_block_locations: filesystem metadata — no SQL oracle
    // (rows-only check), mirrors the reference's BlockLocations RPC.
    "of1_format_roundtrip" ->
      s"""WITH base AS (
         |  SELECT l_returnflag, l_extendedprice
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_extendedprice > 30000 AND l_extendedprice < 80000),
         |agg AS (
         |  SELECT l_returnflag, COUNT(*) AS n,
         |         ${dsum("l_extendedprice")} AS sum_price
         |  FROM base GROUP BY l_returnflag)
         |SELECT f.format, a.l_returnflag, a.n, a.sum_price
         |FROM agg a, (VALUES ('csv'), ('json'), ('orc'), ('xml')) f(format)
         |ORDER BY f.format, a.l_returnflag""".stripMargin,
    // The roundtrip through the embedded RDBMS must preserve values
    // exactly — so the oracle is the same aggregate over the parquet
    // table the RDBMS was loaded from.
    "of3_jdbc_roundtrip" ->
      """SELECT n_regionkey, COUNT(*) AS n, MIN(n_nationkey) AS min_key,
        |       MIN(n_name) AS first_name
        |FROM nation WHERE n_regionkey <= 2
        |GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,
    // The merged sink equals "base with every 10th key repriced" —
    // expressible as one CASE over the clean table.
    "of4_upsert_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN o_orderkey % 10 = 0
        |                THEN CAST(o_totalprice AS DECIMAL(12,2)) + 1000
        |                ELSE CAST(o_totalprice AS DECIMAL(12,2)) END)
        |            AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The file-granular merge must equal "base with the band repriced"
    // — which files were rewritten vs carried is invisible to the
    // values (granularity itself is pinned in SnapshotSpec).
    "of22_pruned_merge" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CASE WHEN o_orderkey BETWEEN 1000 AND 2000
        |                THEN CAST(o_totalprice AS DECIMAL(12,2)) + 500
        |                ELSE CAST(o_totalprice AS DECIMAL(12,2)) END)
        |            AS DOUBLE) AS sum_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The merge-on-read delete must equal the plain filtered source —
    // the deletion vectors are a storage mechanism, invisible to the
    // values (zero-rewrite granularity itself is pinned in SnapshotSpec).
    "of23_mor_delete" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders WHERE NOT (o_orderkey % 97 = 0)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The pruned snapshot read must equal a plain filtered aggregate
    // over the source table — file skipping is a scan optimization,
    // never a semantic one.
    "of6_snapshot_prune" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The CDC-applied snapshot equals a CASE/UNION over the clean table.
    "of5_cdc_apply" ->
      """WITH applied AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |                   + CAST(500 AS DECIMAL(12,2)) AS DOUBLE)
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 17 <> 0
        |  UNION ALL
        |  SELECT 'N' AS o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 23 = 0)
        |SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM applied GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Full-outer diff replay of Snapshot.changeFeedDemo's two versions
    // (v1 drops keys ≡3 mod 10; v2 drops ≡7, doubles price on ≡0).
    "of7_change_feed" ->
      """WITH a AS (SELECT o_orderkey, o_orderstatus, o_totalprice
        |           FROM orders WHERE o_orderkey % 10 <> 3),
        |b AS (SELECT o_orderkey, o_orderstatus,
        |        CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |             ELSE o_totalprice END AS o_totalprice
        |      FROM orders WHERE o_orderkey % 10 <> 7)
        |SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       CASE WHEN a.o_orderkey IS NULL THEN 'insert'
        |            WHEN b.o_orderkey IS NULL THEN 'delete'
        |            ELSE 'update' END AS _change,
        |       CASE WHEN b.o_orderkey IS NULL THEN a.o_orderstatus
        |            ELSE b.o_orderstatus END AS o_orderstatus,
        |       CASE WHEN b.o_orderkey IS NULL THEN a.o_totalprice
        |            ELSE b.o_totalprice END AS o_totalprice
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
        |   OR a.o_orderstatus <> b.o_orderstatus
        |   OR a.o_totalprice <> b.o_totalprice
        |ORDER BY 1""".stripMargin,
    // of8: the oracle replays the surviving rows directly off the
    // fixture — certifying the file-granular delete (rewrite the
    // stats-overlapping files, carry the rest by manifest reference)
    // is observationally a plain row filter.
    "of8_delete_where" ->
      """SELECT l_orderkey % 7 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_qty,
        |       MIN(l_orderkey) AS min_key,
        |       MAX(l_orderkey) AS max_key
        |FROM lineitem
        |WHERE NOT (l_orderkey BETWEEN 1 AND
        |  (SELECT CAST(FLOOR(MAX(l_orderkey) / 5) AS BIGINT)
        |   FROM lineitem))
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // of11: the streaming tail over commit + two appends must recover
    // exactly the three slices' union — the plain orders aggregate.
    "of11_append_tail" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // of10: the oracle replays the point lookup straight off the
    // fixture — a bloom that dropped a file holding the key (false
    // negative) or a wrong residual filter cannot hash-match.
    "of10_point_lookup" ->
      """SELECT l_partkey,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_qty,
        |       MIN(l_orderkey) AS min_okey,
        |       MAX(l_orderkey) AS max_okey
        |FROM lineitem
        |WHERE l_partkey = (SELECT MIN(l_partkey) FROM lineitem)
        |GROUP BY l_partkey
        |ORDER BY l_partkey""".stripMargin,
    // of12: the oracle replays the evolved table as the union of the
    // two deterministic slices — old rows carry NULL o_flag. A read
    // that dropped carried rows, phantom-flagged an old row, or lost
    // the appended batch cannot hash-match.
    "of12_schema_evolution" ->
      """WITH v1 AS (SELECT o_orderkey, o_totalprice,
        |              CAST(NULL AS BIGINT) AS o_flag
        |            FROM orders WHERE o_orderkey % 10 <> 3),
        |     v2 AS (SELECT o_orderkey, o_totalprice,
        |              o_orderkey % 2 AS o_flag
        |            FROM orders WHERE o_orderkey % 10 = 3)
        |SELECT o_flag,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |GROUP BY o_flag
        |ORDER BY o_flag NULLS FIRST""".stripMargin,
    // of16: merge + schema evolution replayed as a CASE/anti-join —
    // matched keys take the change batch's price AND its new column,
    // kept rows read NULL there (the add-column contract).
    "of16_merge_evolution" ->
      """WITH chg AS (SELECT o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |              + CAST(250 AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice,
        |         'merge-' || (o_orderkey % 3) AS o_audit_src
        |       FROM orders WHERE o_orderkey % 7 = 0),
        |     merged AS (
        |       SELECT o_orderkey, o_totalprice, o_audit_src FROM chg
        |       UNION ALL
        |       SELECT b.o_orderkey, b.o_totalprice,
        |              CAST(NULL AS VARCHAR) AS o_audit_src
        |       FROM orders b
        |       WHERE b.o_orderkey % 7 <> 0)
        |SELECT o_audit_src,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM merged
        |GROUP BY o_audit_src
        |ORDER BY o_audit_src NULLS FIRST""".stripMargin,
    // of17: both sides of the clone in one result — the source replays
    // as a plain aggregate (proof the clone-side delete never reached
    // it), the clone as a NOT-BETWEEN aggregate.
    "of17_shallow_clone" ->
      """WITH cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 6) AS BIGINT) AS c
        |            FROM orders),
        |     src AS (SELECT 'source' AS side, o_orderstatus,
        |               COUNT(*) AS n_rows,
        |               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                 AS DOUBLE) AS sum_price
        |             FROM orders GROUP BY o_orderstatus),
        |     cln AS (SELECT 'clone' AS side, o_orderstatus,
        |               COUNT(*) AS n_rows,
        |               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                 AS DOUBLE) AS sum_price
        |             FROM orders
        |             WHERE NOT (o_orderkey BETWEEN 1 AND (SELECT c FROM cut))
        |             GROUP BY o_orderstatus)
        |SELECT side, o_orderstatus, n_rows, sum_price
        |FROM (SELECT * FROM src UNION ALL SELECT * FROM cln)
        |ORDER BY side, o_orderstatus""".stripMargin,
    // of18: all three read paths replayed from the fixture — current
    // under the new name, v1 under the old, and the pruned range; a
    // rename that rewrote, dropped, or mis-aliased data cannot match.
    "of18_rename_column" ->
      """WITH cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 5) AS BIGINT)
        |            AS c FROM orders),
        |     cur AS (SELECT 'current' AS part, o_orderstatus,
        |               COUNT(*) AS n_rows,
        |               CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                 AS DOUBLE) AS sum_price
        |             FROM orders GROUP BY o_orderstatus),
        |     v1 AS (SELECT 'v1_oldname' AS part, o_orderstatus,
        |              COUNT(*) AS n_rows,
        |              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                AS DOUBLE) AS sum_price
        |            FROM orders WHERE o_orderkey % 10 <> 3
        |            GROUP BY o_orderstatus),
        |     pr AS (SELECT 'pruned' AS part, o_orderstatus,
        |              COUNT(*) AS n_rows,
        |              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                AS DOUBLE) AS sum_price
        |            FROM orders
        |            WHERE o_orderkey BETWEEN 1 AND (SELECT c FROM cut)
        |            GROUP BY o_orderstatus)
        |SELECT part, o_orderstatus, n_rows, sum_price
        |FROM (SELECT * FROM cur UNION ALL SELECT * FROM v1
        |      UNION ALL SELECT * FROM pr)
        |ORDER BY part, o_orderstatus""".stripMargin,
    // of19: every step count and the surviving sum replayed from the
    // fixture slices — a rejected batch that leaked into the table (or
    // a wrong violation count) cannot hash-match.
    "of19_check_constraint" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber, l_quantity
        |            FROM lineitem),
        |     base AS (SELECT * FROM li WHERE l_orderkey % 7 = 0),
        |     good AS (SELECT * FROM li WHERE l_orderkey % 7 = 1),
        |     bad AS (SELECT l_orderkey, l_linenumber,
        |               CASE WHEN l_linenumber % 3 = 0 THEN -l_quantity
        |                    ELSE l_quantity END AS l_quantity
        |             FROM li WHERE l_orderkey % 7 = 2),
        |     fin AS (SELECT * FROM base UNION ALL SELECT * FROM good)
        |SELECT 's1_base_commit' AS step, 'committed' AS outcome,
        |       (SELECT COUNT(*) FROM base) AS n
        |UNION ALL SELECT 's2_add_qty_check', 'active_constraints', 1
        |UNION ALL SELECT 's3_good_append', 'committed',
        |       (SELECT COUNT(*) FROM fin)
        |UNION ALL SELECT 's4_bad_append', 'rejected_rows',
        |       (SELECT COUNT(*) FROM bad
        |        WHERE NOT (l_quantity BETWEEN 1 AND 50))
        |UNION ALL SELECT 's5_bad_append_held', 'pointer_unmoved', 1
        |UNION ALL SELECT 's6_bad_constraint', 'refused_rows',
        |       (SELECT COUNT(*) FROM fin)
        |UNION ALL SELECT 's7_final', 'sum_qty',
        |       (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
        |               AS BIGINT) FROM fin)
        |ORDER BY step""".stripMargin,
    // of20: all three read paths + the refusal replayed from the
    // fixture — a drop that leaked the column into current reads, ate
    // it from time travel, rewrote data (v1 sum), or let the retired
    // name back in (refused count) cannot hash-match.
    "of20_drop_column" ->
      """WITH cut AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 5) AS BIGINT)
        |            AS c FROM orders),
        |     cur AS (SELECT 'current' AS part, o_orderstatus,
        |               COUNT(*) AS n_rows, 2 AS n_cols,
        |               CAST(NULL AS DOUBLE) AS sum_price
        |             FROM orders GROUP BY o_orderstatus),
        |     v1 AS (SELECT 'v1_predrop' AS part, o_orderstatus,
        |              COUNT(*) AS n_rows, 3 AS n_cols,
        |              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |                AS DOUBLE) AS sum_price
        |            FROM orders WHERE o_orderkey % 10 <> 3
        |            GROUP BY o_orderstatus),
        |     pr AS (SELECT 'pruned' AS part, o_orderstatus,
        |              COUNT(*) AS n_rows, 2 AS n_cols,
        |              CAST(NULL AS DOUBLE) AS sum_price
        |            FROM orders
        |            WHERE o_orderkey BETWEEN 1 AND (SELECT c FROM cut)
        |            GROUP BY o_orderstatus),
        |     rf AS (SELECT 'refused' AS part,
        |              CAST(NULL AS VARCHAR) AS o_orderstatus,
        |              CAST(1 AS BIGINT) AS n_rows, 2 AS n_cols,
        |              CAST(NULL AS DOUBLE) AS sum_price)
        |SELECT part, o_orderstatus, n_rows, n_cols, sum_price
        |FROM (SELECT * FROM cur UNION ALL SELECT * FROM v1
        |      UNION ALL SELECT * FROM pr UNION ALL SELECT * FROM rf)
        |ORDER BY part, o_orderstatus NULLS FIRST""".stripMargin,
    // of21: the oracle recomputes the generated bucket and replays the
    // base-range filter — a prune that dropped an overlapping file or
    // a mistranslated bucket bound cannot hash-match.
    "of21_generated_column" ->
      """WITH b AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 4) AS BIGINT) AS lo,
        |            CAST(FLOOR(MAX(o_orderkey) / 2) AS BIGINT) AS hi
        |          FROM orders)
        |SELECT o_orderstatus, COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
        |       CAST(COUNT(DISTINCT o_orderkey // 1000) AS BIGINT)
        |         AS n_buckets
        |FROM orders
        |WHERE o_orderkey BETWEEN (SELECT lo FROM b) AND (SELECT hi FROM b)
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // of13: the oracle replays the 2-D box read as a plain double-range
    // filter — a box prune that dropped an overlapping file (rows
    // missing) or a leaked residual cannot hash-match.
    "of13_zorder_commit" ->
      """SELECT l_suppkey % 5 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_qty,
        |       MIN(l_partkey) AS min_part,
        |       MAX(l_partkey) AS max_part
        |FROM lineitem
        |WHERE l_partkey BETWEEN
        |        (SELECT CAST(FLOOR(MAX(l_partkey) / 4) AS BIGINT)
        |         FROM lineitem)
        |    AND (SELECT CAST(FLOOR(MAX(l_partkey) / 2) AS BIGINT)
        |         FROM lineitem)
        |  AND l_suppkey BETWEEN
        |        (SELECT CAST(FLOOR(MAX(l_suppkey) / 4) AS BIGINT)
        |         FROM lineitem)
        |    AND (SELECT CAST(FLOOR(MAX(l_suppkey) / 2) AS BIGINT)
        |         FROM lineitem)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // of14: after delete → compact → vacuum, the table must still read
    // exactly the delete's survivors — GC that touched a live file
    // (rows missing) or resurrected a deleted one cannot hash-match.
    "of14_vacuum" ->
      """SELECT l_orderkey % 9 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(l_orderkey) AS min_key,
        |       MAX(l_orderkey) AS max_key
        |FROM lineitem
        |WHERE NOT (l_orderkey BETWEEN 1 AND
        |  (SELECT CAST(FLOOR(MAX(l_orderkey) / 5) AS BIGINT)
        |   FROM lineitem))
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // of15: 'before' replays the pre-delete fixture, 'current' the
    // delete's survivors — an as-of read resolving to the wrong side
    // of the boundary cannot hash-match.
    "of15_time_travel" ->
      """WITH hi AS (SELECT CAST(FLOOR(MAX(o_orderkey) / 3) AS BIGINT) AS v
        |            FROM orders)
        |SELECT 'before' AS snap, o_orderkey % 11 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY 1, 2
        |UNION ALL
        |SELECT 'current' AS snap, o_orderkey % 11 AS bucket,
        |       COUNT(*) AS n_rows,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey BETWEEN 1 AND (SELECT v FROM hi))
        |GROUP BY 1, 2
        |ORDER BY snap, bucket""".stripMargin,
    // of9: after damage + restore, the table must be indistinguishable
    // from the fixture — the oracle reads orders directly.
    "of9_restore" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_price,
        |       MIN(o_orderkey) AS min_key,
        |       MAX(o_orderkey) AS max_key
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "x16c_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, ts, event_id,
        |             LAG(event_type) OVER (PARTITION BY user_id
        |               ORDER BY ts, event_id) AS prev_type
        |           FROM events),
        |ch AS (SELECT user_id, event_type, ts, event_id FROM e
        |       WHERE prev_type IS NULL OR prev_type <> event_type)
        |SELECT user_id, event_type AS state,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS eff_from,
        |       strftime(LEAD(ts) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id), '%Y-%m-%d %H:%M:%S.%f') AS eff_to
        |FROM ch ORDER BY user_id, eff_from, state, eff_to""".stripMargin,
    // Per-year counts survive the overlap-append iff ingestion was
    // exactly-once by key — so the oracle is just the clean totals.
    "of2_incremental_append" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin,
    "o14_explode_count" ->
      """SELECT token, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token ASC""".stripMargin,
    "o16_row_count" ->
      """SELECT COUNT(*) AS n_rows
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_extendedprice > 30000 AND l_extendedprice < 80000""".stripMargin,
    "x01_grouped_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsum("l_quantity")} AS sum_qty,
         |  ${dsum("l_extendedprice")} AS sum_base_price,
         |  CAST(SUM($discounted) AS DOUBLE) AS sum_disc_price,
         |  CAST(SUM($discounted * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
         |  ${davg("l_quantity")} AS avg_qty,
         |  ${davg("l_extendedprice")} AS avg_price,
         |  ${davg("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "x02a_broadcast_join" ->
      s"""SELECT p_brand, CAST(SUM($discounted) AS DOUBLE) AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size <= 20
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "x02b_semi_join" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
        |ORDER BY o_orderkey""".stripMargin,
    "x02c_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "x02d_star_join" ->
      s"""SELECT n_name, CAST(SUM($discounted) AS DOUBLE) AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    // Same ANSI text runs on both engines.
    "x02e_correlated" -> graft.operators.SqlApi.correlatedSql,
    "x03_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "x04a_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "x04b_window_moving" ->
      """SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey,
        |  l_extendedprice,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
        |  LAG(l_extendedprice, 1) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |  ) AS prev_price
        |FROM lineitem WHERE l_suppkey <= 5
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_partkey,
        |  l_extendedprice""".stripMargin,
    "x04c_window_range" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_returnflag, l_quantity,
        |       COUNT(*) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
        |         RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS n_near_qty
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_returnflag""".stripMargin,
    "x04d_window_distribution" ->
      """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber, l_partkey,
        |       CAST(NTILE(4) OVER w AS INT) AS qtile,
        |       PERCENT_RANK() OVER w AS pct_rank,
        |       CUME_DIST() OVER w AS cume
        |FROM lineitem WHERE l_suppkey <= 3
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_quantity, l_orderkey, l_linenumber, l_partkey)
        |ORDER BY l_returnflag, l_quantity, l_orderkey, l_linenumber,
        |  l_partkey""".stripMargin,
    "x02f_outer_join" ->
      s"""WITH rich AS (SELECT c_custkey, c_name FROM customer
         |              WHERE c_acctbal > 7000),
         |big AS (SELECT o_custkey, COUNT(*) AS n_big_orders,
         |          ${dsum("o_totalprice")} AS sum_big_price
         |        FROM orders WHERE o_totalprice > 250000 GROUP BY o_custkey)
         |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_name,
         |       n_big_orders, sum_big_price,
         |       CASE WHEN c_custkey IS NULL THEN 'orders_only'
         |            WHEN o_custkey IS NULL THEN 'customer_only'
         |            ELSE 'both' END AS match_class
         |FROM rich FULL OUTER JOIN big ON c_custkey = o_custkey
         |ORDER BY custkey""".stripMargin,
    "x05_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // x05b_approx_distinct: HLL++ sketch values are engine-specific — no
    // SQL oracle (driver records a rows-only check).
    "x05c_median" ->
      """WITH r AS (SELECT l_returnflag, l_quantity,
        |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_quantity) AS rn,
        |             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |           FROM lineitem)
        |SELECT l_returnflag,
        |       (MAX(CASE WHEN rn = (n+1)//2 THEN l_quantity END)
        |        + MAX(CASE WHEN rn = n//2 + 1 THEN l_quantity END)) / 2.0
        |         AS median_qty
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // x05d_approx_quantiles: GK-sketch values are engine-specific — no
    // SQL oracle (rows-only check).
    "x05e_exact_quantiles" ->
      """WITH r AS (SELECT l_returnflag, l_extendedprice,
        |             ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |           FROM lineitem)
        |SELECT l_returnflag,
        |       MAX(CASE WHEN rn = (1*n+3)//4 THEN l_extendedprice END) AS q25,
        |       MAX(CASE WHEN rn = (2*n+3)//4 THEN l_extendedprice END) AS q50,
        |       MAX(CASE WHEN rn = (3*n+3)//4 THEN l_extendedprice END) AS q75
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x16b_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,
    "x06c_pivot" ->
      """SELECT l_returnflag,
        |       COUNT(*) FILTER (WHERE l_linestatus = 'F') AS F,
        |       COUNT(*) FILTER (WHERE l_linestatus = 'O') AS O
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x06d_unpivot" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       'l_quantity' AS measure, l_quantity AS val
        |FROM lineitem WHERE l_suppkey <= 2
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_partkey,
        |       'l_extendedprice' AS measure, l_extendedprice AS val
        |FROM lineitem WHERE l_suppkey <= 2
        |ORDER BY l_orderkey, l_linenumber, l_partkey, measure, val""".stripMargin,
    // Identical ANSI text runs on both engines (SqlApi.groupingSetsSql).
    "x06e_grouping_sets" -> graft.operators.SqlApi.groupingSetsSql,
    "x06a_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         |       COALESCE(l_linestatus, 'ALL') AS linestatus,
         |       COUNT(*) AS n, ${dsum("l_quantity")} AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY returnflag, linestatus""".stripMargin,
    "x06b_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
         |       COALESCE(o_orderpriority, 'ALL') AS priority,
         |       COUNT(*) AS n, ${dsum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY status, priority""".stripMargin,
    "x07_setops" ->
      """WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
        |big AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
        |        WHERE o_totalprice > 300000)
        |SELECT 'union' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM rich UNION SELECT c_custkey FROM big) u
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM big) i
        |UNION ALL
        |SELECT 'except' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM big) e
        |UNION ALL
        |SELECT 'intersect_all' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM rich INTERSECT ALL SELECT c_custkey FROM big) ia
        |UNION ALL
        |SELECT 'except_all' AS op, c_custkey
        |  FROM (SELECT c_custkey FROM rich EXCEPT ALL SELECT c_custkey FROM big) ea
        |ORDER BY op, c_custkey""".stripMargin,
    "x08a_string_fns" ->
      """SELECT p_partkey, UPPER(p_name) AS name_upper,
        |       CAST(LENGTH(p_name) AS INT) AS name_len,
        |       SUBSTRING(p_type, 1, 5) AS type_prefix,
        |       CONCAT_WS('#', p_brand, p_type) AS brand_type,
        |       REPLACE(p_name, ' ', '_') AS name_snake
        |FROM part WHERE p_name LIKE '%a%' ORDER BY p_partkey""".stripMargin,
    "x08b_date_fns" ->
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT) AS order_year,
        |       CAST(month(o_orderdate) AS INT) AS order_month,
        |       CAST(day(o_orderdate) AS INT) AS order_day,
        |       CAST(isodow(o_orderdate) AS INT) AS order_isodow,
        |       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "x08c_math_fns" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |       ABS(l_quantity - 25) AS qty_dev,
        |       SQRT(l_quantity) AS qty_sqrt,
        |       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
        |       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
        |       CAST(ROUND(l_discount * 100) AS BIGINT) AS disc_pct,
        |       l_orderkey % 7 AS key_mod7
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_orderkey, l_linenumber, l_partkey, price_floor, disc_pct""".stripMargin,
    "x08d_json_fns" ->
      """SELECT event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
        |       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x08e_array_fns" ->
      """SELECT vec_id, CAST(len(embedding) AS INT) AS n_dims,
        |       embedding[1] AS first_dim,
        |       list_max(embedding) AS max_dim,
        |       list_min(embedding) AS min_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x08f_map_fns" ->
      """SELECT event_id, event_type AS type_val,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        |       2 AS m_size, 'type,k' AS keys
        |FROM events ORDER BY event_id""".stripMargin,
    "x08g_regexp_fns" ->
      """SELECT p_partkey,
        |       regexp_extract(p_name, '[a-z]+') AS first_word,
        |       regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled,
        |       CAST(regexp_matches(p_brand, '[0-9]$') AS INT) AS brand_ends_digit
        |FROM part ORDER BY p_partkey""".stripMargin,
    "x08h_higher_order" ->
      """SELECT vec_id,
        |       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
        |       CAST(list_sum(list_transform(embedding,
        |         x -> ABS(CAST(ROUND(CAST(x AS DOUBLE)*1000000) AS BIGINT)))) AS BIGINT) AS l1_q,
        |       CAST(len(list_filter(embedding,
        |         x -> ABS(x) > CAST(0.1 AS FLOAT))) AS INT) AS n_large
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x12c_stream_static" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       CASE event_type
        |         WHEN 'click' THEN 'engagement' WHEN 'view' THEN 'engagement'
        |         WHEN 'purchase' THEN 'revenue' WHEN 'signup' THEN 'growth'
        |         ELSE 'ops' END AS category,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, category""".stripMargin,
    // Streaming batch-equivalence oracles (one batch → no late data, so
    // the event-time windows replay as plain GROUP BYs; SURVEY §5).
    "x12a_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "x12b_stream_sliding" ->
      """WITH b AS (SELECT unnest([time_bucket(INTERVAL 5 MINUTE, ts),
        |                          time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS ws
        |           FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n
        |FROM b GROUP BY ws ORDER BY window_start""".stripMargin,
    "x12d_stream_stream" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |       p.user_id
        |FROM events p JOIN events c
        |  ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND p.user_id = c.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |ORDER BY purchase_id, click_id""".stripMargin,
    // Left-outer twin of x12d: matched pairs plus null-extended
    // purchases whose state the watermark evicted before the query
    // stopped — exactly those with purchase_ts below
    // min(max click_ts, max purchase_ts) − 2h (the global watermark;
    // purchases above it are still in state at stop in BOTH engines'
    // view of the semantics, so they are absent here by design).
    "x12e_stream_outer" ->
      """WITH c AS (SELECT user_id, ts AS click_ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts, event_id AS purchase_id
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT p.purchase_id, c.click_id, p.user_id
        |      FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.click_ts <= p.purchase_ts
        |       AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR),
        |wm AS (SELECT LEAST((SELECT MAX(click_ts) FROM c),
        |                    (SELECT MAX(purchase_ts) FROM p))
        |         - INTERVAL 2 HOUR AS w)
        |SELECT purchase_id, click_id, user_id FROM m
        |UNION ALL
        |SELECT p.purchase_id, CAST(NULL AS BIGINT) AS click_id, p.user_id
        |FROM p, wm
        |WHERE p.purchase_ts < wm.w
        |  AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
        |ORDER BY purchase_id, click_id""".stripMargin,
    // Chained stateful: the joined pairs grouped by purchase hour, cut
    // at the PROPAGATED watermark — the downstream aggregate sees the
    // join's OUTPUT watermark, which lags the global one by the join's
    // 1h interval span (clicks are held in state 1h past their event
    // time, so join output event times can trail the input watermark by
    // up to 1h; Spark's multi-stateful watermark propagation models
    // exactly this). Windows close at end <= wm − 1h, verified against
    // the engine at all three scales.
    "x12f_chained_stateful" ->
      """WITH c AS (SELECT user_id, ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS purchase_ts
        |      FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT p.purchase_ts FROM p JOIN c ON p.user_id = c.user_id
        |       AND c.click_ts <= p.purchase_ts
        |       AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR),
        |wm AS (SELECT LEAST((SELECT MAX(click_ts) FROM c),
        |                    (SELECT MAX(purchase_ts) FROM p))
        |         - INTERVAL 2 HOUR AS w)
        |SELECT strftime(date_trunc('hour', purchase_ts),
        |         '%Y-%m-%d %H:%M:%S') AS window_start,
        |       COUNT(*) AS n_attributed
        |FROM m, wm
        |WHERE date_trunc('hour', purchase_ts) + INTERVAL 1 HOUR
        |        <= wm.w - INTERVAL 1 HOUR
        |GROUP BY 1 ORDER BY window_start""".stripMargin,
    "x13a_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute
        |FROM events ORDER BY user_id, event_type, minute""".stripMargin,
    "x13b_sessionize" ->
      """WITH l AS (SELECT user_id, ts,
        |             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS news FROM l),
        |s AS (SELECT user_id, ts,
        |        SUM(news) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS sess FROM f)
        |SELECT user_id,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start""".stripMargin,
    "x13c_stateful_stats" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_ts,
        |       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "x13d_active_hours" ->
      """SELECT DISTINCT user_id,
        |       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS active_hour
        |FROM events ORDER BY user_id, active_hour""".stripMargin,
    "x13e_value_state" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // x13b's session table restricted to WATERMARK-CLOSED sessions:
    // append mode emits a session only once the (ms-truncated — Spark
    // accumulates event-time max in ms) watermark passes its end, so
    // the cut is end_us + gap <= (max_us // 1000 - delay_ms) * 1000.
    // Boundary semantics spec-pinned with ±1 µs/ms crafted events
    // (StreamingSpec "append sessionize boundary").
    "x13f_sessionize_append" ->
      """WITH l AS (SELECT user_id, ts,
        |             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |           FROM events),
        |f AS (SELECT user_id, ts,
        |        CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE
        |             THEN 1 ELSE 0 END AS news FROM l),
        |s AS (SELECT user_id, ts,
        |        SUM(news) OVER (PARTITION BY user_id ORDER BY ts
        |          ROWS UNBOUNDED PRECEDING) AS sess FROM f),
        |wm AS (SELECT (epoch_us(MAX(ts)) // 1000 - 3600000) * 1000 AS w
        |       FROM events)
        |SELECT user_id,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       COUNT(*) AS n_events
        |FROM s, wm
        |GROUP BY user_id, sess, wm.w
        |HAVING epoch_us(MAX(ts)) + 1800000000 <= wm.w
        |ORDER BY user_id, session_start""".stripMargin,
    "x14_typed_udaf" ->
      """SELECT l_returnflag, SQRT(SUM(l_quantity*l_quantity)) AS qty_l2norm,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // Identical ANSI text runs on both engines (SqlApi.q3Sql etc).
    "x15_sql_api" -> graft.operators.SqlApi.q3Sql,
    "x15b_sql_q6" -> graft.operators.SqlApi.q6Sql,
    "x15c_sql_q10" -> graft.operators.SqlApi.q10Sql,
    "x15d_sql_q1" -> graft.operators.SqlApi.q1Sql,
    "x15e_sql_q18" -> graft.operators.SqlApi.q18Sql,
    "x15f_sql_q5" -> graft.operators.SqlApi.q5Sql,
    "x15g_sql_q4" -> graft.operators.SqlApi.q4Sql,
    "x15h_sql_q7" -> graft.operators.SqlApi.q7Sql,
    "x15i_sql_q8" -> graft.operators.SqlApi.q8Sql,
    "x15j_sql_q9" -> graft.operators.SqlApi.q9Sql,
    "x15k_sql_q11" -> graft.operators.SqlApi.q11Sql,
    "x15l_sql_q12" -> graft.operators.SqlApi.q12Sql,
    "x15m_sql_q13" -> graft.operators.SqlApi.q13Sql,
    "x15n_sql_q14" -> graft.operators.SqlApi.q14Sql,
    "x15o_sql_q15" -> graft.operators.SqlApi.q15Sql,
    "x15p_sql_q16" -> graft.operators.SqlApi.q16Sql,
    "x15q_sql_q17" -> graft.operators.SqlApi.q17Sql,
    "x15r_sql_q19" -> graft.operators.SqlApi.q19Sql,
    "x15s_sql_q20" -> graft.operators.SqlApi.q20Sql,
    "x15t_sql_q21" -> graft.operators.SqlApi.q21Sql,
    "x15u_sql_q22" -> graft.operators.SqlApi.q22Sql,
    "x15v_sql_q2" -> graft.operators.SqlApi.q2Sql,
    "x15w_sql_recursive" -> graft.operators.SqlApi.recursiveReachSql,
    "x17_train_test_split" ->
      """SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        |FROM (SELECT doc_id, n_chars,
        |        ((doc_id * 2654435761) % 2147483647) % 10 AS b
        |      FROM documents) s
        |GROUP BY 1 ORDER BY split""".stripMargin,
    "x18_profile" ->
      s"""WITH m AS (
         |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
         |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
         |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
         |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
         |SELECT measure, COUNT(*) AS n, COUNT(DISTINCT val) AS n_distinct,
         |       MIN(val) AS min_val, MAX(val) AS max_val,
         |       ${davg("val")} AS mean_val
         |FROM m GROUP BY measure ORDER BY measure""".stripMargin,
    "x18b_histogram" ->
      """SELECT CAST(FLOOR(l_extendedprice / 5000) AS INT) AS bucket,
        |       COUNT(*) AS n, MIN(l_extendedprice) AS lo,
        |       MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,
    // Integer z²-test (mirrors Relational.outlierEvents): HUGEINT casts
    // keep the squared sides exact where BIGINT would overflow.
    "x18c_outlier_events" ->
      """WITH q AS (SELECT event_id, event_type, value,
        |             CAST(ROUND(value*100) AS BIGINT) AS q FROM events),
        |s AS (SELECT event_type, COUNT(*) AS n,
        |        CAST(SUM(q) AS BIGINT) AS sq,
        |        SUM(CAST(q AS HUGEINT)*q) AS sq2
        |      FROM q GROUP BY 1)
        |SELECT q.event_id, q.event_type, q.value
        |FROM q JOIN s USING (event_type)
        |WHERE CAST(q.q*s.n - s.sq AS HUGEINT)
        |      * CAST(q.q*s.n - s.sq AS HUGEINT)
        |      > 9 * (CAST(s.n AS HUGEINT)*s.sq2
        |             - CAST(s.sq AS HUGEINT)*s.sq)
        |ORDER BY q.event_id""".stripMargin,
    // Daily resample + LOCF gap-fill (mirrors Relational.resampleFfill):
    // generate_series is DuckDB's sequence(); fill via IGNORE NULLS.
    "x22_resample_ffill" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
        |  FROM obs GROUP BY user_id)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |       last_value(o.day_value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |       CAST(CASE WHEN o.day_value IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    // The incremental refresh must be INDISTINGUISHABLE from the full
    // recompute — same oracle text as x22 (that equality IS the test).
    "x22b_incr_resample" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS day_value
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT user_id,
        |         unnest(generate_series(MIN(day), MAX(day), INTERVAL 1 DAY)) AS day
        |  FROM obs GROUP BY user_id)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
        |       last_value(o.day_value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |       CAST(CASE WHEN o.day_value IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    "x23_batch_sessions" -> sessionsOracleSql,
    // the incremental session refresh must be indistinguishable from
    // the full recompute — same oracle text (that equality IS the test)
    "x23b_incr_sessions" -> sessionsOracleSql,
    // ...and so must the snapshot-maintained session table's read
    "x23c_session_table" -> sessionsOracleSql,
    "x16_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type, ts FROM events
        |            WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT *,
        |        LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_type, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS last_click_ts
        |      FROM ev)
        |SELECT event_id, user_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
        |       strftime(last_click_ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts
        |FROM w WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_ts, event_id""".stripMargin,
    "xm1_multimodal_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       sha256(text) AS sha256_hex,
        |       CAST(octet_length(encode(text)) % 640 AS INT) AS fake_width,
        |       CAST((octet_length(encode(text)) * 7) % 480 AS INT) AS fake_height,
        |       CAST(octet_length(encode(text)) % 16 + 1 AS INT) AS fake_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    // xm2: the oracle recomputes every decoded field from documents
    // arithmetic alone (format geometry + cycled-payload prefix sums),
    // so the Spark side's BYTE-PARSED metadata can only hash-match if
    // the encoder wrote spec-conformant files AND the decoder read the
    // right header fields and the exact payload extent.
    "xm2_media_decode" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS nc FROM documents),
        |p AS (SELECT doc_id, text, nc,
        |        doc_id % 3 AS m,
        |        CAST(nc % 64 + 1 AS INT) AS w,
        |        CAST((nc*7) % 48 + 1 AS INT) AS h,
        |        CAST(8000 + (nc % 8)*1000 AS INT) AS sr,
        |        CAST(nc % 256 + 16 AS INT) AS ns
        |      FROM d),
        |p2 AS (SELECT *,
        |         CAST(CASE WHEN m = 2 THEN 2*ns ELSE w*h*3 END AS BIGINT) AS plen
        |       FROM p),
        |sums AS (SELECT doc_id,
        |           list_reduce(list_transform(string_split(text,''),
        |             ch -> CAST(ascii(ch) AS BIGINT)), (a,b) -> a+b) AS tsum
        |         FROM d)
        |SELECT p2.doc_id,
        |       CASE m WHEN 0 THEN 'image/ppm' WHEN 1 THEN 'image/bmp'
        |              ELSE 'audio/wav' END AS media_type,
        |       CAST(CASE WHEN m = 2 THEN 0 ELSE w END AS INT) AS width,
        |       CAST(CASE WHEN m = 2 THEN 0 ELSE h END AS INT) AS height,
        |       CAST(CASE WHEN m = 2 THEN sr ELSE 0 END AS INT) AS sample_rate,
        |       CAST(CASE WHEN m = 2 THEN ns ELSE 0 END AS INT) AS n_samples,
        |       CAST(CASE m
        |         WHEN 0 THEN 3 + length(CAST(w AS VARCHAR)) + 1
        |                    + length(CAST(h AS VARCHAR)) + 1 + 4 + plen
        |         WHEN 1 THEN 54 + (w*3 + (4 - (w*3) % 4) % 4) * h
        |         ELSE 44 + plen END AS BIGINT) AS n_bytes,
        |       CAST((plen // nc) * s.tsum
        |         + CASE WHEN plen % nc = 0 THEN 0 ELSE
        |             list_reduce(list_transform(
        |               string_split(substr(p2.text, 1, CAST(plen % nc AS INT)),''),
        |               ch -> CAST(ascii(ch) AS BIGINT)), (a,b) -> a+b)
        |           END AS BIGINT) AS payload_byte_sum
        |FROM p2 JOIN sums s ON p2.doc_id = s.doc_id
        |ORDER BY p2.doc_id""".stripMargin,
    // xm3: the oracle recomputes every SAMPLED pixel byte from the
    // cycled-payload arithmetic — a wrong stride, header offset, BMP
    // row padding, or nearest-neighbor index cannot hash-match.
    "xm3_image_resize" ->
      """WITH d AS (SELECT doc_id, text,
        |             CAST(length(text) AS BIGINT) AS nc,
        |             CAST(length(text) % 64 + 1 AS INT) AS w,
        |             CAST((length(text)*7) % 48 + 1 AS INT) AS h
        |           FROM documents WHERE doc_id % 3 < 2),
        |g AS (SELECT y2.g AS y2, x2.g AS x2, c.g AS c
        |      FROM generate_series(0,7) AS y2(g),
        |           generate_series(0,7) AS x2(g),
        |           generate_series(0,2) AS c(g)),
        |px AS (SELECT d.doc_id, d.w, d.h,
        |         ascii(substr(d.text,
        |           CAST((((CAST(g.y2 * d.h AS BIGINT) // 8) * d.w
        |                  + CAST(g.x2 * d.w AS BIGINT) // 8) * 3 + g.c)
        |                % d.nc AS INT) + 1, 1)) AS byte
        |       FROM d CROSS JOIN g)
        |SELECT doc_id,
        |       CASE WHEN doc_id % 3 = 0 THEN 'image/ppm'
        |            ELSE 'image/bmp' END AS media_type,
        |       CAST(MIN(w) AS INT) AS width,
        |       CAST(MIN(h) AS INT) AS height,
        |       CAST(8 AS INT) AS resized_w,
        |       CAST(8 AS INT) AS resized_h,
        |       CAST(SUM(byte) AS BIGINT) AS resized_sum
        |FROM px GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // xm5: every fingerprint BIT replayed from the cycled-payload
    // arithmetic (cell sums → integer mean threshold), then the same
    // banded pigeonhole + hamming verify as the engine — a wrong
    // sample index, threshold tie, or band split cannot hash-match.
    "xm5_image_phash" ->
      """WITH d AS (SELECT doc_id, text,
        |             CAST(length(text) AS BIGINT) AS nc,
        |             CAST(length(text) % 64 + 1 AS INT) AS w,
        |             CAST((length(text)*7) % 48 + 1 AS INT) AS h
        |           FROM documents WHERE doc_id % 3 < 2),
        |g AS (SELECT y2.g AS y2, x2.g AS x2, c.g AS c
        |      FROM generate_series(0,7) AS y2(g),
        |           generate_series(0,7) AS x2(g),
        |           generate_series(0,2) AS c(g)),
        |px AS (SELECT d.doc_id, g.y2, g.x2,
        |         ascii(substr(d.text,
        |           CAST((((CAST(g.y2 * d.h AS BIGINT) // 8) * d.w
        |                  + CAST(g.x2 * d.w AS BIGINT) // 8) * 3 + g.c)
        |                % d.nc AS INT) + 1, 1)) AS byte
        |       FROM d CROSS JOIN g),
        |cells AS (SELECT doc_id, y2, x2, CAST(SUM(byte) AS BIGINT) AS cell
        |          FROM px GROUP BY 1, 2, 3),
        |tot AS (SELECT doc_id, CAST(SUM(cell) AS BIGINT) AS total
        |        FROM cells GROUP BY 1),
        |hash AS (SELECT c.doc_id,
        |           CAST(SUM(CASE WHEN c.cell*64 > t.total
        |                          AND (c.y2*8+c.x2) < 32
        |             THEN (CAST(1 AS BIGINT) << CAST(c.y2*8+c.x2 AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash_lo,
        |           CAST(SUM(CASE WHEN c.cell*64 > t.total
        |                          AND (c.y2*8+c.x2) >= 32
        |             THEN (CAST(1 AS BIGINT) << CAST(c.y2*8+c.x2-32 AS INT))
        |             ELSE 0 END) AS BIGINT) AS phash_hi
        |         FROM cells c JOIN tot t ON c.doc_id = t.doc_id
        |         GROUP BY c.doc_id),
        |bnd AS (SELECT doc_id, b.band,
        |          CASE WHEN b.band < 8
        |               THEN (phash_lo >> (4*b.band)) & 15
        |               ELSE (phash_hi >> (4*(b.band-8))) & 15
        |          END AS bandkey
        |        FROM hash, (SELECT UNNEST(range(0,16)) AS band) b),
        |cand AS (SELECT DISTINCT x.doc_id, y.doc_id AS partner
        |         FROM bnd x JOIN bnd y
        |           ON x.band = y.band AND x.bandkey = y.bandkey
        |          AND x.doc_id <> y.doc_id),
        |hm AS (SELECT c.doc_id, c.partner,
        |         CAST(bit_count(xor(a.phash_lo, b.phash_lo))
        |            + bit_count(xor(a.phash_hi, b.phash_hi)) AS INT)
        |           AS hamming
        |       FROM cand c JOIN hash a ON a.doc_id = c.doc_id
        |                   JOIN hash b ON b.doc_id = c.partner
        |       WHERE bit_count(xor(a.phash_lo, b.phash_lo))
        |           + bit_count(xor(a.phash_hi, b.phash_hi)) <= 12),
        |best AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |           MAX(CASE WHEN rn = 1 THEN partner END) AS best_partner,
        |           MAX(CASE WHEN rn = 1 THEN hamming END) AS best_hamming
        |         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY hamming, partner) AS rn FROM hm)
        |         GROUP BY doc_id)
        |SELECT h.doc_id,
        |       CASE WHEN h.doc_id % 3 = 0 THEN 'image/ppm'
        |            ELSE 'image/bmp' END AS media_type,
        |       h.phash_lo, h.phash_hi,
        |       COALESCE(b.n_matches, 0) AS n_matches,
        |       b.best_partner, b.best_hamming
        |FROM hash h LEFT JOIN best b ON h.doc_id = b.doc_id
        |ORDER BY h.doc_id""".stripMargin,
    // xm4: per-frame abs-amplitude sums replayed sample-by-sample from
    // the cycled little-endian PCM bytes (16-bit signed reconstruction
    // included), with the exact integer frame bounds.
    "xm4_audio_frames" ->
      """WITH d AS (SELECT doc_id, text,
        |             CAST(length(text) AS BIGINT) AS nc,
        |             CAST(length(text) % 256 + 16 AS INT) AS ns
        |           FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT g AS frame FROM generate_series(0,3) AS t(g)),
        |idx AS (SELECT g AS i FROM generate_series(0,271) AS t(g)),
        |s AS (SELECT d.doc_id, fr.frame, d.nc, d.text, idx.i
        |      FROM d CROSS JOIN fr CROSS JOIN idx
        |      WHERE idx.i >= fr.frame * d.ns // 4
        |        AND idx.i < (fr.frame + 1) * d.ns // 4),
        |v AS (SELECT doc_id, frame,
        |        ascii(substr(text, CAST((2*i) % nc AS INT) + 1, 1))
        |        + 256 * ascii(substr(text, CAST((2*i+1) % nc AS INT) + 1, 1))
        |          AS raw
        |      FROM s)
        |SELECT doc_id, CAST(frame AS INT) AS frame,
        |       CAST(COUNT(*) AS INT) AS n_frame_samples,
        |       CAST(SUM(CASE WHEN raw >= 32768 THEN 65536 - raw
        |                     ELSE raw END) AS BIGINT) AS frame_abs_sum
        |FROM v GROUP BY doc_id, frame
        |ORDER BY doc_id, frame""".stripMargin,
    // x21: the oracle is the UNSALTED join — certifying that salting is
    // invisible in results (it only reshapes the shuffle).
    "x21_salted_join" ->
      """WITH big AS (SELECT user_id, value,
        |        CASE WHEN user_id % 100 < 80 THEN 0
        |             ELSE CAST(user_id % 20 AS INT) + 1 END AS skew_key
        |      FROM events)
        |SELECT b.skew_key, n.n_name, COUNT(*) AS n_events,
        |       COUNT(DISTINCT b.user_id) AS n_users,
        |       MIN(b.value) AS min_value, MAX(b.value) AS max_value
        |FROM big b JOIN nation n ON b.skew_key = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY skew_key""".stripMargin,
    // x25: the oracle is the PLAIN join — certifying the bloom
    // reduction is result-transparent (no lost rows: blooms have no
    // false negatives; no phantom rows: the join re-verifies false
    // positives).
    "x25_bloom_join" ->
      """SELECT l_returnflag,
        |       COUNT(*) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |         AS sum_qty,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
  )
}

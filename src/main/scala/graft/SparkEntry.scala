package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._
import graft.streaming.{JoinOps, StreamPipeline}
import graft.ml.ScoringPipeline

/** Driver contract — see /root/repo/SURVEY.md §2.4 for the query
  * inventory and the determinism rules every entry follows:
  * total ORDER BY over the output key, double aggregates made
  * order-independent via DECIMAL(18,4) addends (graft.out.Canonical),
  * derived ratios rounded to 4 dp at the output edge, times emitted as
  * epoch-second BIGINTs, integral outputs as BIGINT.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q12PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_scan_filter" -> (Relational.q01ScanFilter _),
    "q02_cast_projection" -> (Relational.q02CastProjection _),
    "q03_class_share" -> (Relational.q03ClassShare _),
    "q04_weighted_share" -> (Relational.q04WeightedShare _),
    "q05_topk_other" -> (Relational.q05TopkOther _),
    "q06_two_dim_pct" -> (Relational.q06TwoDimPct _),
    "q07_tumbling_window" -> (Windowed.q07Tumbling _),
    "q08_sliding_window" -> (Windowed.q08Sliding _),
    "q09_session_window" -> (Windowed.q09Sessions _),
    "q10_dedup_events" -> (Windowed.q10Dedup _),
    "q11_join_3way" -> (Relational.q11Join3Way _),
    "q12_pricing_summary" -> (Relational.q12PricingSummary _),
    "q13_semi_anti" -> (Relational.q13SemiAnti _),
    "q14_rank_in_group" -> (Relational.q14RankInGroup _),
    "q15_running_agg" -> (Relational.q15RunningAgg _),
    "q16_rollup" -> (Relational.q16Rollup _),
    "q17_distinct_exact" -> (Relational.q17DistinctExact _),
    "q18_set_ops" -> (Relational.q18SetOps _),
    "q19_scalar_suite" -> (Relational.q19ScalarSuite _),
    "q20_text_dedup" -> (TextOps.q20TextDedup _),
    "q21_token_stats" -> (TextOps.q21TokenStats _),
    "q22_knn_cosine" -> (SimilarityOps.q22KnnCosine _),
    "q23_json_props" -> (Relational.q23JsonProps _),
    "q25_asof_join" -> (Relational.q25AsofJoin _),
    "q26_range_join" -> (Relational.q26RangeJoin _),
    "q27_cube" -> (Relational.q27Cube _),
    "q28_pivot" -> (Relational.q28Pivot _),
    "q29_moment_stats" -> (Relational.q29MomentStats _),
    "q30_collect_types" -> (Relational.q30CollectTypes _),
    "q31_lag_lead" -> (Relational.q31LagLead _),
    "q24_stream_score" -> (StreamPipeline.q24StreamScore _),
    "q32_percentiles" -> (Relational.q32Percentiles _),
    "q33_grouping_sets" -> (Relational.q33GroupingSets _),
    "q34_rank_family" -> (Relational.q34RankFamily _),
    "q35_salted_join" -> (Relational.q35SaltedJoin _),
    "q36_regional_revenue" -> (Relational.q36RegionalRevenue _),
    "q37_stream_join" -> (JoinOps.q37StreamJoin _),
    "q38_static_enrich" -> (JoinOps.q38StaticEnrich _),
    "q39_hof_battery" -> (Relational.q39HofBattery _),
    "q40_sample_split" -> (Relational.q40SampleSplit _),
    "q41_multiset_ops" -> (Relational.q41MultisetOps _),
    "q42_date_battery" -> (Relational.q42DateBattery _),
    "q43_scalar_subquery" -> (Relational.q43ScalarSubquery _),
    "q44_window_frames" -> (Relational.q44WindowFrames _),
    "d7_edit_distance" -> (DedupOps.d7EditDistance _),
    "d1_dedup_exact" -> (DedupOps.d1Exact _),
    "d2_dedup_ngram_jaccard" -> (DedupOps.d2NgramJaccard _),
    "d3_dedup_minhash_lsh" -> (DedupOps.d3MinhashLsh _),
    "d4_simhash" -> (DedupOps.d4Simhash _),
    "d8_decontamination" -> (DedupOps.d8Decontamination _),
    "d9_simhash_near_dup" -> (DedupOps.d9SimhashNearDup _),
    "d10_dup_clusters" -> (DedupOps.d10DupClusters _),
    "d11_dedup_impact" -> (DedupOps.d11DedupImpact _),
    "d12_stream_minhash" -> (graft.streaming.IncrementalDedup.d12StreamMinhash(_, _)),
    "d19_band_compact" -> (graft.streaming.IncrementalDedup.d19BandCompact _),
    "d20_stream_semdedup" -> (graft.streaming.StreamSemDedup.d20StreamSemDedup(_, _)),
    "d21_sem_compact" -> (graft.streaming.StreamSemDedup.d21SemCompact _),
    "d13_consensus_near_dup" -> (DedupOps.d13ConsensusNearDup _),
    "d14_bloom_decontam" -> (DedupOps.d14BloomDecontamination _),
    "d5_embed_near_dup" -> (SimilarityOps.d5EmbedNearDup _),
    "d15_semdedup" -> (SimilarityOps.d15SemDedup _),
    "d18_semdedup_hier" -> (SimilarityOps.d18SemDedupHier _),
    "d16_sem_clusters" -> (SimilarityOps.d16SemClusters _),
    "d17_proto_prune" -> (SimilarityOps.d17ProtoPrune _),
    "d6_quantize" -> (SimilarityOps.d6Quantize _),
    "s2_ann_bucket" -> (SimilarityOps.s2AnnBucket _),
    "s3_ann_ivf" -> (SimilarityOps.s3AnnIvf _),
    "s11_stream_ann_ingest" -> (graft.streaming.StreamAnnIngest.s11StreamAnnIngest(_, _)),
    "s23_stream_hier_ingest" -> (graft.streaming.StreamAnnIngest.s23StreamHierIngest _),
    "s24_stream_hier_multiprobe" -> (graft.streaming.StreamAnnIngest.s24StreamHierMultiprobe _),
    "s12_stream_ann_delete" -> (graft.streaming.StreamAnnIngest.s12StreamAnnDelete _),
    "s13_ann_compact" -> (graft.streaming.StreamAnnIngest.s13AnnCompact _),
    "s14_ann_partial_compact" -> (graft.streaming.StreamAnnIngest.s14AnnPartialCompact _),
    "s15_stream_ann_multiprobe" -> (graft.streaming.StreamAnnIngest.s15StreamAnnMultiprobe _),
    "s16_stream_ann_upsert" -> (graft.streaming.StreamAnnIngest.s16StreamAnnUpsert _),
    "s17_ivf_retrain" -> (SimilarityOps.s17IvfRetrain _),
    "s18_ann_filtered" -> (SimilarityOps.s18AnnFiltered _),
    "s19_ann_radius" -> (SimilarityOps.s19AnnRadius _),
    "s21_ann_bulk_probe" -> (SimilarityOps.s21AnnBulkProbe _),
    "s21_bulk_topk" -> (SimilarityOps.s21AnnBulkTopK _),
    "s22_ann_hier" -> (SimilarityOps.s22AnnHier _),
    "s28_hier_filtered" -> (SimilarityOps.s28HierFiltered _),
    "s29_hier_radius" -> (SimilarityOps.s29HierRadius _),
    "s30_hier_radius_alert" ->
      (graft.streaming.StreamAnnIngest.s30HierRadiusAlert _),
    "s25_hier_delete_compact" ->
      (graft.streaming.StreamAnnIngest.s25HierDeleteCompact _),
    "s26_hier_retrain" -> (SimilarityOps.s26HierRetrain _),
    "s27_hier_upsert" -> (graft.streaming.StreamAnnIngest.s27HierUpsert _),
    "s20_stream_radius_alert" ->
      (graft.streaming.StreamAnnIngest.s20StreamRadiusAlert _),
    "s4_ann_recall" -> (SimilarityOps.s4AnnRecall _),
    "s5_ann_pq" -> (SimilarityOps.s5AnnPq _),
    "s6_ann_ivfpq" -> (SimilarityOps.s6AnnIvfPq _),
    "s7_ann_recall_clustered" -> (SimilarityOps.s7AnnRecallClustered _),
    "s10_ann_recall_structured" -> (SimilarityOps.s10AnnRecallStructured _),
    "s8_ann_ivfpq_res" -> (SimilarityOps.s8AnnIvfPqRes _),
    "s9_ann_rerank" -> (SimilarityOps.s9AnnRerank _),
    "t1_lang_id" -> (TextOps.t1LangId _),
    "t2_text_quality" -> (TextOps.t2Quality _),
    "t3_token_count" -> (TextOps.t3TokenCount _),
    "t4_fingerprint" -> (TextOps.t4Fingerprint _),
    "t5_redact" -> (TextOps.t5Redact _),
    "t6_cms_heavy_hitters" -> (TextOps.t6CmsHeavyHitters _),
    "t7_bigrams" -> (TextOps.t7Bigrams _),
    "t8_repetition" -> (TextOps.t8Repetition _),
    "t9_top_terms" -> (TextOps.t9TopTerms _),
    "t10_gopher_rules" -> (TextOps.t10GopherRules _),
    "t11_dup_spans" -> (TextOps.t11DupSpans _),
    "t12_chunking" -> (TextOps.t12Chunking _),
    "t13_seq_packing" -> (TextOps.t13SeqPacking _),
    "t14_mix_sample" -> (TextOps.t14MixSample _),
    "t15_source_overlap" -> (TextOps.t15SourceOverlap _),
    "t16_char_lm_score" -> (TextOps.t16CharLmScore _),
    "t17_span_scrub" -> (TextOps.t17SpanScrub _),
    "m1_multimodal_meta" -> (MultimodalOps.m1MultimodalMeta _),
    "m2_decode_histogram" -> (MultimodalOps.m2DecodeHistogram _),
    "m3_frame_sample" -> (MultimodalOps.m3FrameSample _),
    "m4_wav_meta" -> (MultimodalOps.m4WavMeta _),
    "m5_bmp_meta" -> (MultimodalOps.m5BmpMeta _),
    "m6_bmp_row_sample" -> (MultimodalOps.m6BmpRowSample _),
    "m7_wav_window_energy" -> (MultimodalOps.m7WavWindowEnergy _),
    "m8_bmp_thumbnail" -> (MultimodalOps.m8BmpThumbnail _),
    "m9_video_frame_sample" -> (MultimodalOps.m9VideoFrameSample _),
    "m10_wav_thumbnail" -> (MultimodalOps.m10WavThumbnail _),
    "m11_wav_audit" -> (MultimodalOps.m11WavAudit _),
    "m12_bmp_audit" -> (MultimodalOps.m12BmpAudit _),
    "m13_bmp_near_dup" -> (MultimodalOps.m13BmpNearDup _),
    "m14_wav_near_dup" -> (MultimodalOps.m14WavNearDup _),
    "m15_stream_near_dup" -> (graft.streaming.StreamMediaDedup.m15StreamNearDup(_, _)),
    "m16_near_dup_delta" -> (graft.streaming.StreamMediaDedup.m16NearDupDelta(_, _)),
    "m17_consensus_near_dup" -> (MultimodalOps.m17ConsensusNearDup _),
    "m18_stream_wav_near_dup" ->
      (graft.streaming.StreamMediaDedup.m18StreamWavNearDup(_, _)),
    "m19_media_compact" ->
      (graft.streaming.StreamMediaDedup.m19MediaCompact _),
    "m20_stream_consensus" ->
      (graft.streaming.StreamMediaDedup.m20StreamConsensus(_, _)),
    "m21_consensus_delta" ->
      (graft.streaming.StreamMediaDedup.m21ConsensusDelta _),
    "p1_pipeline" -> (PipelineOps.p1PipelineLedger _),
    "p2_stream_funnel" -> (graft.streaming.StreamFunnel.p2StreamFunnel _),
    "p3_full_funnel" -> (graft.streaming.FullFunnel.p3StreamFunnel _),
    "p4_curate_pack" -> (PipelineOps.p4CuratePack _),
    "p5_shuffle_shard" -> (PipelineOps.p5ShuffleShard _),
    "p6_incremental_export" ->
      (graft.streaming.IncrementalExport.p6IncrementalExport(_, _)),
    "p8_mixture_sample" -> (graft.ops.PipelineOps.p8MixtureSample _),
    "p9_weighted_mixture" -> (graft.ops.PipelineOps.p9WeightedMixture _),
    "p10_sampled_export" -> (graft.ops.PipelineOps.p10SampledExport _),
    "p11_stream_blend" -> (graft.streaming.BlendMonitor.p11StreamBlend(_, _)),
    "p12_blend_compact" -> (graft.streaming.BlendMonitor.p12BlendCompact _),
    "p13_stream_sample" -> (graft.streaming.StreamSampler.p13StreamSample(_, _)),
    "p14_sample_delta" -> (graft.streaming.StreamSampler.p14SampleDelta _),
    "p15_sampled_shuffle" -> (graft.ops.PipelineOps.p15SampledShuffle _),
    "p7_export_compact" ->
      (graft.streaming.IncrementalExport.p7ExportCompact _),
    "x2_ml_score" -> (ScoringPipeline.x2MlScore _),
    "x3_ml_eval" -> (ScoringPipeline.x3MlEval _),
    "x4_ivf_kmeans" -> (SimilarityOps.x4IvfKmeans _),
    "x6_pq_trained" -> (SimilarityOps.x6PqTrained _),
    "x7_res_trained" -> (SimilarityOps.x7ResTrained _),
    "x5_sketch_agg" -> (Relational.x5SketchAgg _),
    "x8_stream_sketch" -> (graft.streaming.StreamSketch.x8StreamSketch(_, _)),
    "x9_stream_quantile" -> (graft.streaming.StreamSketch.x9StreamQuantile(_, _)),
    "x10_stream_cms" -> (graft.streaming.StreamSketch.x10StreamCms(_, _)),
    "x11_stream_window_quantile" ->
      (graft.streaming.StreamSketch.x11StreamWindowQuantile(_, _)),
    "x12_stream_window_distinct" ->
      (graft.streaming.StreamSketch.x12StreamWindowDistinct(_, _)),
    "x13_stream_window_cms" ->
      (graft.streaming.StreamSketch.x13StreamWindowCms(_, _)),
    "x14_sketch_overlap" -> (TextOps.x14SketchOverlap _),
    "x15_stream_drift" -> (graft.streaming.StreamSketch.x15StreamDrift _),
    "x16_stream_topk" -> (graft.streaming.StreamSketch.x16StreamTopk _),
    "x17_stream_growth" -> (graft.streaming.StreamSketch.x17StreamGrowth(_, _)),
    "x18_retention_vacuum" ->
      (graft.streaming.StreamSketch.x18RetentionVacuum _),
    "x19_late_ledger" -> (graft.streaming.LateLedger.x19LateLedger(_, _)),
    "x20_stats_compact" -> (graft.streaming.LateLedger.x20StatsCompact _),
    "x21_fmgws_sessions" -> (graft.streaming.StatefulOps.x21FmgwsSessions _),
    "x22_tws_sessions" -> (graft.streaming.StatefulOps.x22TwsSessions _)
  )

  // ---- oracle SQL (DuckDB dialect) ----------------------------------

  /** Shared CTE prefix: tokenized documents → distinct word-3-gram
    * shingles per doc (mirror of DedupOps.shingles). */
  private val shingleCte =
    """tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(len(ts) - 2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3])) AS s FROM tok WHERE len(ts) >= 3),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  /** Mirror of DedupOps.signatures + banding up through the candidate
    * pairs — the shared prefix of the d3 and d7 oracles. Minhash via
    * per-slot linear permutations h_j = min((A_j·x + B_j) mod P) over the
    * 48-bit md5 prefix x of each shingle; exact 64-bit integer arithmetic
    * in both engines (constants shared from DedupOps so they can't drift). */
  private def lshCandCte: String = {
    val k = DedupOps.MinhashK; val bands = DedupOps.Bands; val rows = k / bands
    val sigCols = (0 until k).map(j =>
      s"min((x * ${DedupOps.MinhashA(j)} + ${DedupOps.MinhashB(j)}) % ${DedupOps.MinhashP}) AS h$j").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val h = (b * rows until (b + 1) * rows).map(j => s"CAST(h$j AS VARCHAR)").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS bi, md5($h) AS bv FROM sig"
    }.mkString(" UNION ALL ")
    s"""$shingleCte,
       |hsh AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 12))::UBIGINT AS x FROM sh),
       |sig AS (SELECT doc_id, $sigCols FROM hsh GROUP BY doc_id),
       |band AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM band x JOIN band y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** Mirror of DedupOps.d3MinhashLsh, generated to stay in sync. */
  private def minhashSql: String =
    s"""WITH $lshCandCte,
       |pr AS (SELECT c.a_id, c.b_id, count(*) AS i FROM cand c JOIN sh s1 ON s1.doc_id = c.a_id JOIN sh s2 ON s2.doc_id = c.b_id AND s2.s = s1.s GROUP BY 1, 2)
       |SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
       |FROM pr JOIN sz x ON x.doc_id = a_id JOIN sz y ON y.doc_id = b_id
       |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.7 ORDER BY a_id, b_id""".stripMargin

  /** Mirror of DedupOps.d7EditDistance (same candidate CTE, levenshtein
    * verify over normalized text, 20%-of-longer integer threshold). */
  private def editDistSql: String =
    s"""WITH $lshCandCte,
       |nrm AS (SELECT doc_id, trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS t FROM documents)
       |SELECT c.a_id, c.b_id, CAST(levenshtein(x.t, y.t) AS BIGINT) AS dist
       |FROM cand c JOIN nrm x ON x.doc_id = c.a_id JOIN nrm y ON y.doc_id = c.b_id
       |WHERE levenshtein(x.t, y.t) * 5 <= greatest(length(x.t), length(y.t))
       |ORDER BY a_id, b_id""".stripMargin

  /** Shared CTE prefix of the d4/d9 oracles: per-doc SimHash bit votes
    * s_0..s_31 (mirror of DedupOps.simhashSums). */
  private def simhashSumsCte: String = {
    val n = DedupOps.SimhashBits
    val bitCols = (0 until n).map { i =>
      s"sum((((strpos('0123456789abcdef', substr(h, ${1 + i / 4}, 1)) - 1) >> ${3 - i % 4}) & 1) * 2 - 1) AS s$i"
    }.mkString(", ")
    s"""tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t FROM documents),
       |hh AS (SELECT doc_id, md5(t) AS h FROM tok),
       |s AS (SELECT doc_id, $bitCols FROM hh GROUP BY doc_id)""".stripMargin
  }

  /** Mirror of DedupOps.d4Simhash (md5-nibble bit extraction). */
  private def simhashSql: String = {
    val fp = (0 until DedupOps.SimhashBits)
      .map(i => s"CASE WHEN s$i >= 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH $simhashSumsCte
       |SELECT doc_id, $fp AS simhash FROM s ORDER BY doc_id""".stripMargin
  }

  /** Mirror of DedupOps.d8Decontamination — and, verbatim, the d14
    * oracle: the bloom prefilter is a pure work-discarder (exact verify
    * behind it), so both entries must hash-match this one derivation. */
  private def decontaminationSql: String =
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
       |ev AS (SELECT doc_id AS eval_id, g FROM g WHERE doc_id % ${DedupOps.EvalMod} = 0),
       |tr AS (SELECT doc_id, g FROM g WHERE doc_id % ${DedupOps.EvalMod} <> 0)
       |SELECT tr.doc_id, CAST(count(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs, CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_grams
       |FROM tr JOIN ev ON ev.g = tr.g GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin

  /** Mirror of DedupOps.d9SimhashNearDup (integer fingerprint, byte
    * bands, bit_count(xor) verify). */
  private def simhashNearDupSql: String = {
    val fpExpr = (0 until DedupOps.SimhashBits)
      .map(i => s"CASE WHEN s$i >= 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    val nBands = DedupOps.SimhashBits / 8
    val bis = (0 until nBands).mkString(", ")
    s"""WITH $simhashSumsCte,
       |fp AS (SELECT doc_id, $fpExpr AS fp FROM s),
       |band AS (SELECT doc_id, fp, bi, (fp >> (8 * bi)) & 255 AS bv FROM fp CROSS JOIN (SELECT unnest([$bis]) AS bi)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, x.fp AS fa, y.doc_id AS b_id, y.fp AS fb FROM band x JOIN band y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(fa, fb)) <= ${DedupOps.SimhashMaxDist} ORDER BY a_id, b_id""".stripMargin
  }

  /** Mirror of DedupOps.d10DupClusters: the d3-verified pair list as an
    * edge set, min-reachable-label per node via a recursive CTE (DuckDB's
    * transitive closure ≡ the engine's propagation fixpoint), component
    * sizes by window count. */
  /** Funnel-head CTEs shared by the p1/p2 oracles (require `tok` and
    * `documents` in scope): per-doc gopher verdict (`qd`), flags (`fl`:
    * eval holdout + normalized digest + quality), and the eligible set
    * with its per-digest min doc_id (`elig`). */
  private def funnelHeadCtes: String = {
    val stops = TextOps.StopList.map(s => s"'$s'").mkString(", ")
    s"""mq AS (SELECT doc_id, len(ts) AS wc, ts,
       |  list_sum(list_transform(ts, x -> length(x))) AS sum_len,
       |  len(list_filter(ts, x -> x IN ($stops))) AS n_stop FROM tok WHERE len(ts) > 0),
       |oc2 AS (SELECT doc_id, t, count(*) AS c FROM (SELECT doc_id, unnest(ts) AS t FROM mq) GROUP BY doc_id, t),
       |mr2 AS (SELECT doc_id, max(c) AS max_run FROM oc2 GROUP BY doc_id),
       |qd AS (SELECT mq.doc_id, wc, (wc >= ${TextOps.MinWords} AND sum_len * 10 >= wc * 42 AND sum_len * 10 <= wc * 52 AND n_stop >= ${TextOps.MinStops} AND mr2.max_run * 8 <= wc) AS q FROM mq JOIN mr2 USING (doc_id)),
       |fl AS (SELECT d.doc_id, d.lang, d.source, md5(trim(lower(regexp_replace(d.text, '\\s+', ' ', 'g')))) AS norm_key, d.doc_id % ${DedupOps.EvalMod} = 0 AS is_eval, coalesce(qd.q, false) AS q, coalesce(qd.wc, 0) AS wc FROM documents d LEFT JOIN qd ON qd.doc_id = d.doc_id),
       |elig AS (SELECT fl.*, min(doc_id) OVER (PARTITION BY norm_key) AS min_id FROM fl WHERE NOT is_eval AND q)""".stripMargin
  }

  private def dupClusterCte: String =
    s"""$lshCandCte,
       |pr AS (SELECT c.a_id, c.b_id, count(*) AS i FROM cand c JOIN sh s1 ON s1.doc_id = c.a_id JOIN sh s2 ON s2.doc_id = c.b_id AND s2.s = s1.s GROUP BY 1, 2),
       |vp AS (SELECT a_id, b_id FROM pr JOIN sz x ON x.doc_id = a_id JOIN sz y ON y.doc_id = b_id WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.7),
       |nodes AS (SELECT a_id AS id FROM vp UNION SELECT b_id FROM vp),
       |edges AS (SELECT a_id AS s, b_id AS d FROM vp UNION SELECT b_id, a_id FROM vp),
       |reach(id, lbl) AS (SELECT id, id FROM nodes UNION SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
       |lab AS (SELECT id AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  private def dupClustersSql: String =
    s"""WITH RECURSIVE $dupClusterCte
       |SELECT doc_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
       |FROM lab ORDER BY doc_id""".stripMargin

  /** Mirror of DedupOps.d11DedupImpact (d10's clusters left-joined onto
    * the corpus, keep-one-per-cluster accounting per lang × source). */
  private def dedupImpactSql: String =
    s"""WITH RECURSIVE $dupClusterCte,
       |j AS (SELECT d.lang, d.source, d.doc_id, lab.cluster_id FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id)
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_clustered,
       |CAST(sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |CAST(count(*) - sum(CASE WHEN cluster_id IS NOT NULL AND cluster_id <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM j GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Mirror of TextOps.t10GopherRules (integer-exact rule thresholds;
    * max_run recomputed by explicit token counting — same integer). */
  private def gopherRulesSql: String = {
    val stops = TextOps.StopList.map(s => s"'$s'").mkString(", ")
    val p = (c: String) => s"CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS BIGINT)"
    s"""WITH tok AS (SELECT doc_id, lang, source, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
       |m AS (SELECT doc_id, lang, source, len(ts) AS wc, ts,
       |  list_sum(list_transform(ts, x -> length(x))) AS sum_len,
       |  len(list_filter(ts, x -> x IN ($stops))) AS n_stop
       |  FROM tok WHERE len(ts) > 0),
       |occ AS (SELECT doc_id, t, count(*) AS c FROM (SELECT doc_id, unnest(ts) AS t FROM m) GROUP BY doc_id, t),
       |mr AS (SELECT doc_id, max(c) AS max_run FROM occ GROUP BY doc_id),
       |r AS (SELECT m.lang, m.source,
       |  wc >= ${TextOps.MinWords} AS r_wc,
       |  sum_len * 10 >= wc * 42 AND sum_len * 10 <= wc * 52 AS r_mean,
       |  n_stop >= ${TextOps.MinStops} AS r_stop,
       |  mr.max_run * 8 <= wc AS r_top
       |  FROM m JOIN mr USING (doc_id))
       |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       |${p("r_wc")} AS p_wc, ${p("r_mean")} AS p_mean, ${p("r_stop")} AS p_stop,
       |${p("r_top")} AS p_top, ${p("r_wc AND r_mean AND r_stop AND r_top")} AS p_all
       |FROM r GROUP BY lang, source ORDER BY lang, source""".stripMargin
  }

  /** Mirror of TextOps.t11DupSpans. */
  private def dupSpansSql: String = {
    val k = TextOps.SpanWords
    val span = (1 to k).map(j => s"ts[i+$j]").mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
       |sp AS (SELECT doc_id, unnest(list_transform(range(len(ts) - ${k - 1}), i -> $span)) AS span FROM tok WHERE len(ts) >= $k),
       |d AS (SELECT doc_id, span, count(*) AS occ FROM sp GROUP BY 1, 2),
       |a AS (SELECT span, count(*) AS n_docs, sum(occ) AS n_occ FROM d GROUP BY span)
       |SELECT span, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_occ AS BIGINT) AS n_occ
       |FROM a WHERE n_docs >= 2 ORDER BY n_docs DESC, n_occ DESC, span LIMIT ${TextOps.TopSpans}""".stripMargin
  }

  /** Mirror of TextOps.t17SpanScrub: rn > 1 over (doc_id, start) order
    * marks the non-first occurrences of duplicated spans, their
    * [[TextOps.SpanWords]]-token ranges become the removed position set,
    * and the surviving token stream digests per doc. The span key is the
    * raw concatenation where the engine groups on its md5 — the same
    * partition of occurrences, and the span never reaches the output. */
  private def spanScrubSql: String = {
    val k = TextOps.SpanWords
    val span = (1 to k).map(j => s"ts[st+$j]").mkString(" || ' ' || ")
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
       |o1 AS (SELECT doc_id, ts, unnest(range(len(ts) - ${k - 1})) AS st FROM tok WHERE len(ts) >= $k),
       |occ AS (SELECT doc_id, st, $span AS span FROM o1),
       |d AS (SELECT doc_id, st, row_number() OVER (PARTITION BY span ORDER BY doc_id, st) AS rn FROM occ),
       |dup AS (SELECT doc_id, st FROM d WHERE rn > 1),
       |r1 AS (SELECT doc_id, st, unnest(range($k)) AS off FROM dup),
       |rem AS (SELECT DISTINCT doc_id, st + off AS p FROM r1),
       |pos AS (SELECT doc_id, ts, unnest(range(len(ts))) AS p FROM tok WHERE len(ts) > 0),
       |keep AS (SELECT pos.doc_id, pos.p, pos.ts[pos.p + 1] AS t FROM pos LEFT JOIN rem ON rem.doc_id = pos.doc_id AND rem.p = pos.p WHERE rem.p IS NULL),
       |ka AS (SELECT doc_id, count(*) AS n_kept, md5(string_agg(t, ' ' ORDER BY p)) AS cmd5 FROM keep GROUP BY doc_id),
       |nd AS (SELECT doc_id, count(*) AS n_dup_occ FROM dup GROUP BY doc_id)
       |SELECT tok.doc_id AS doc_id, CAST(len(tok.ts) AS BIGINT) AS n_tok,
       |CAST(coalesce(nd.n_dup_occ, 0) AS BIGINT) AS n_dup_occ,
       |CAST(len(tok.ts) - coalesce(ka.n_kept, 0) AS BIGINT) AS n_removed,
       |coalesce(ka.cmd5, md5('')) AS clean_md5
       |FROM tok LEFT JOIN ka ON ka.doc_id = tok.doc_id LEFT JOIN nd ON nd.doc_id = tok.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Mirror of SimilarityOps.s6AnnIvfPq: s3's cell assignment composed
    * with s5's codes — probe the query's cell, score by ADC. */
  /** Shared CTE prefix of the s6/s9 oracles: IVF assignment + PQ encode
    * + per-cell ADC ranking (`r` = the ranked candidate stream, the
    * mirror of SimilarityOps.ivfPqAdcRanked). */
  private def ivfPqCtes: String =
    s"""$embCte,
       |$pqCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |f AS (SELECT a.vec_id, a.label, a.cell, e.codes, e.rnrm FROM asn a JOIN enc e USING (vec_id)),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, f.vec_id AS n_id, ${adcSql("q.qv", "f.codes")} / (q.qn * f.rnrm) AS c
       |  FROM q JOIN f USING (cell) CROSS JOIN cbn WHERE f.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)""".stripMargin

  private def ivfPqSql: String =
    s"""WITH $ivfPqCtes
       |SELECT q_id, n_id, round(c, 4) AS adc_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Mirror of SimilarityOps.s9From: ADC shortlist → exact-cosine
    * re-rank of the shortlist only. */
  private def ivfPqRerankSql: String =
    s"""WITH $ivfPqCtes,
       |short AS (SELECT q_id, n_id, rnk AS adc_rnk FROM r WHERE rnk <= ${SimilarityOps.RerankR}),
       |ex AS (SELECT s.q_id, s.n_id, s.adc_rnk, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c
       |  FROM short s JOIN q ON q.q_id = s.q_id JOIN asn a ON a.vec_id = s.n_id),
       |rr3 AS (SELECT q_id, n_id, adc_rnk, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM ex)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk, CAST(adc_rnk AS BIGINT) AS adc_rnk
       |FROM rr3 WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Mirror of SimilarityOps.signBucket. */
  private val bucketSql: String =
    (0 until 8).map(i => s"(CASE WHEN v[${i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  /** Mirror of SimilarityOps.bandValue for band b. */
  private def bandSql(b: Int): String =
    (0 until SimilarityOps.BandBits).map(i =>
      s"(CASE WHEN v[${b * SimilarityOps.BandBits + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)"
    ).mkString(" + ")

  private val embCte =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |n AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin

  /** d15/d16/d17's shared quantizer-assignment CTE chain: every vector
    * with its argmax cell and the cosine to its own-cell centroid. */
  private def semAsnCte: String =
    s"""$embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, c_id AS cell, ccos, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, cell, ccos FROM ar WHERE arn = 1)""".stripMargin

  /** d15/d16's shared CTE chain: the assignment plus within-cell
    * exact-cosine pairs and the thresholded pair set with its victim. */
  private def semPairCte: String =
    s"""$semAsnCte,
       |p AS (SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id, a.ccos AS acc, b.ccos AS bcc,
       |  list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
       |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pp AS (SELECT cell, a_id, b_id,
       |  CASE WHEN acc > bcc THEN a_id WHEN acc < bcc THEN b_id ELSE greatest(a_id, b_id) END AS victim
       |  FROM p WHERE cs >= ${SimilarityOps.SemThreshold})""".stripMargin

  /** s3's oracle, parameterized by a corpus-survivor predicate: seeds
    * (the quantizer) always come from the FULL vector set — deletes
    * never retrain a production coarse quantizer — while assignment and
    * probing run over the filtered corpus. Empty filter = s3 itself;
    * s12 passes the tombstone rule. */
  private def s3IvfSqlWhere(corpusFilter: String): String =
    s"""WITH $embCte,
       |nf AS (SELECT * FROM n $corpusFilter),
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT nf.vec_id, nf.v, nf.nrm, nf.label, s.c_id, list_inner_product(nf.v, s.cv) / (nf.nrm * s.cn) AS ccos FROM nf CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** s3's oracle, shared verbatim by s11 (stream-built index ≡ batch). */
  private def s3IvfSql: String = s3IvfSqlWhere("")

  /** s19's oracle: s3's chain verbatim through the probed-pair CTE, with
    * the radius predicate in place of the rank window — the engine and
    * the oracle share every upstream cosine bit-for-bit, so the τ
    * comparison lands identically on both sides. */
  private def radiusIvfSql: String =
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim FROM p WHERE c >= ${SimilarityOps.RadiusTau} ORDER BY q_id, n_id""".stripMargin

  /** x11's windowed-histogram oracle: x9's deterministic histogram SQL
    * over the window slice the mod-Replay.Waves membership rule names.
    * Shared verbatim by x18 (the retention vacuum serves the identical
    * answer from the shrunken store). */
  private def x11WindowQuantileSql: String = {
    val m = graft.streaming.Replay.Waves
    val lo = m - graft.streaming.StreamSketch.WindowBatches
    s"""WITH h AS (
       |  SELECT event_type,
       |         least(greatest(CAST(floor(value * 256.0 / 1000.0) AS BIGINT) + 1, 1), 256) AS b,
       |         count(*) AS cnt
       |  FROM events WHERE event_id % $m >= $lo GROUP BY 1, 2),
       |c AS (
       |  SELECT event_type, b, cnt,
       |         sum(cnt) OVER (PARTITION BY event_type ORDER BY b) AS cum,
       |         sum(cnt) OVER (PARTITION BY event_type) AS total
       |  FROM h)
       |SELECT event_type,
       |       CAST(max(total) AS BIGINT) AS n_events,
       |       round((CAST(min(CASE WHEN cum * 2 >= total THEN b END) AS DOUBLE) - 0.5) * 3.90625, 4) AS p50_est,
       |       round((CAST(min(CASE WHEN cum * 10 >= total * 9 THEN b END) AS DOUBLE) - 0.5) * 3.90625, 4) AS p90_est
       |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** s12/s13's shared oracle: s3 over the surviving corpus (the delete
    * rule mirrors StreamAnnIngest.deleteRequests) with the ORIGINAL
    * full-set quantizer — deletion semantics, not a retrained index. */
  private def survivorIvfSql: String =
    s3IvfSqlWhere("WHERE NOT (vec_id % 10 = 7 AND label = 0)")

  /** s16's oracle: s3 over the UPDATED corpus — vectors under the update
    * rule (vec_id ≡ 3 mod 10, corpus side) carry their new version
    * (vec_id ≡ 3 mod 20: scaled by the binary-exact 1.25; ≡ 13 mod 20:
    * dims rotated left by one — norms recomputed over the new fold
    * order, mirroring StreamAnnIngest.updatedVersions term-for-term) —
    * with the ORIGINAL full-set quantizer: update semantics, not a
    * rebuilt index. */
  private def upsertIvfSql: String =
    s"""WITH $embCte,
       |u AS (SELECT vec_id, CASE WHEN vec_id % 20 = 3 AND label = 0 THEN list_transform(v, x -> x * 1.25) WHEN vec_id % 20 = 13 AND label = 0 THEN list_slice(v, 2, 64) || list_slice(v, 1, 1) ELSE v END AS v, label FROM n),
       |nf AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM u),
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT nf.vec_id, nf.v, nf.nrm, nf.label, s.c_id, list_inner_product(nf.v, s.cv) / (nf.nrm * s.cn) AS ccos FROM nf CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** s17's oracle: one Lloyd refinement of the seed quantizer replayed
    * in closed form. `cm` is the M-step — per-(cell, dim) means over the
    * gen-0 assignment, published at [[SimilarityOps.CentroidScale]]
    * decimals so both engines' ~1-ulp-apart means round to the same
    * codebook — `seeds1` rebuilds the centroid rows (cells that lost
    * every member retire with the GROUP BY), and the rest is s3's
    * assignment + probe verbatim under the new quantizer. */
  private def s17RetrainSql: String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac0 AS (SELECT n.vec_id, n.v, n.nrm, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar0 AS (SELECT vec_id, v, nrm, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac0),
       |asn0 AS (SELECT vec_id, v, nrm, cell FROM ar0 WHERE arn = 1),
       |cm AS (SELECT cell, i, round(avg(v[i]), ${SimilarityOps.CentroidScale}) AS cval
       |  FROM asn0 CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY cell, i),
       |seeds1 AS (SELECT c_id, cv, sqrt(list_inner_product(cv, cv)) AS cn
       |  FROM (SELECT cell AS c_id, list(cval ORDER BY i) AS cv FROM cm GROUP BY cell)),
       |ac1 AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds1 s),
       |ar1 AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac1),
       |asn1 AS (SELECT vec_id, v, nrm, label, cell FROM ar1 WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn1 WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn1 a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  /** s22/s23's shared oracle, parameterized by a corpus-survivor
    * predicate (the [[s3IvfSqlWhere]] move lifted to the two-level
    * quantizer): the codebook — group means at CentroidScale decimals
    * (s17's fixed-precision parity), built from the FULL vector set
    * (deletes never retrain the quantizer) — then level-1 argmax over
    * the G super-centroids, level-2 argmax within the chosen group, and
    * s3's probe chain verbatim, all over the filtered corpus. Empty
    * filter = s22 itself (shared verbatim by s23 — the s11 ≡ s3 move);
    * s25 passes the tombstone rule. */
  private def hierIvfSqlWhere(corpusFilter: String): String =
    hierIvfSqlFromNf(s"nf AS (SELECT * FROM n $corpusFilter)")

  /** The hier chain's CTE prefix through `asn` (the per-vector cell
    * assignment) over an arbitrary corpus CTE `nf` — the codebook
    * always derives from the original full set `n`. `extra` columns
    * present on `nf` ride through every CTE untouched (s28's tenant),
    * mirroring the engine's `extra` seam on hierAssignWithCodebook. */
  private def hierAsnCtes(nfCte: String, extra: Seq[String] = Nil): String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    val sub = SimilarityOps.HierSub
    val xNf = extra.map(c => s", nf.$c").mkString
    val xG1 = extra.map(c => s", g1.$c").mkString
    val x = extra.map(c => s", $c").mkString
    s"""WITH $embCte,
       |$nfCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |gseed AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds),
       |sm AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM gseed CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |sup AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM sm GROUP BY g)),
       |a1 AS (SELECT nf.vec_id, nf.v, nf.nrm, nf.label$xNf, s.g, list_inner_product(nf.v, s.sv) / (nf.nrm * s.sn) AS gcos FROM nf CROSS JOIN sup s),
       |r1 AS (SELECT vec_id, v, nrm, label$x, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM a1),
       |g1 AS (SELECT vec_id, v, nrm, label$x, g FROM r1 WHERE grn = 1),
       |a2 AS (SELECT g1.vec_id, g1.v, g1.nrm, g1.label$xG1, s.c_id, list_inner_product(g1.v, s.cv) / (g1.nrm * s.cn) AS ccos FROM g1 JOIN gseed s ON s.g = g1.g),
       |r2 AS (SELECT vec_id, v, nrm, label$x, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM a2),
       |asn AS (SELECT vec_id, v, nrm, label$x, cell FROM r2 WHERE arn = 1)""".stripMargin
  }

  /** The hier chain over an arbitrary corpus CTE `nf` (filtered for the
    * survivor gates, REWRITTEN for the upsert gate) with s3's top-3
    * probe tail. */
  private def hierIvfSqlFromNf(nfCte: String): String =
    s"""${hierAsnCtes(nfCte)},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** s28's oracle: the hier chain with s18's tenant threaded through
    * the assignment and into the probe's join key. */
  private def s28HierFilteredSql: String =
    s"""${hierAsnCtes(
        s"nf AS (SELECT n.*, vec_id % ${SimilarityOps.TenantMod} AS tenant FROM n)",
        Seq("tenant"))},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell, tenant FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, q.tenant, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a ON a.cell = q.cell AND a.tenant = q.tenant WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, tenant, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk, CAST(tenant AS BIGINT) AS tenant
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** s29's oracle: the hier chain with s19's radius tail. */
  private def s29HierRadiusSql: String =
    s"""${hierAsnCtes("nf AS (SELECT * FROM n)")},
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim FROM p WHERE c >= ${SimilarityOps.RadiusTau} ORDER BY q_id, n_id""".stripMargin

  private val s22HierSql: String = hierIvfSqlWhere("")

  /** The hier SemDeDup pair chain through `pp` (the two-level codebook,
    * both argmax levels, within-cell exact-cosine pairs at
    * [[SimilarityOps.SemThreshold]] with the pairwise victim) — shared
    * by d18's per-cell ledger tail and d20's pair-level tail, so the
    * STREAM gate's oracle is the batch gate's chain verbatim (the
    * stream ≡ batch claim as a shared string, the d12 ≡ d3 move lifted
    * to the semantic family). */
  private lazy val hierSemPairCtes: String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    val sub = SimilarityOps.HierSub
    s"""$embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |gseed AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds),
       |sm AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM gseed CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |sup AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM sm GROUP BY g)),
       |a1 AS (SELECT n.vec_id, n.v, n.nrm, s.g, list_inner_product(n.v, s.sv) / (n.nrm * s.sn) AS gcos FROM n CROSS JOIN sup s),
       |r1 AS (SELECT vec_id, v, nrm, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM a1),
       |g1 AS (SELECT vec_id, v, nrm, g FROM r1 WHERE grn = 1),
       |a2 AS (SELECT g1.vec_id, g1.v, g1.nrm, s.c_id, list_inner_product(g1.v, s.cv) / (g1.nrm * s.cn) AS ccos FROM g1 JOIN gseed s ON s.g = g1.g),
       |r2 AS (SELECT vec_id, v, nrm, c_id AS cell, ccos, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM a2),
       |asn AS (SELECT vec_id, v, nrm, cell, ccos FROM r2 WHERE arn = 1),
       |p AS (SELECT a.cell, a.vec_id AS a_id, b.vec_id AS b_id, a.ccos AS acc, b.ccos AS bcc,
       |  list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
       |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |pp AS (SELECT cell, a_id, b_id, cs,
       |  CASE WHEN acc > bcc THEN a_id WHEN acc < bcc THEN b_id ELSE greatest(a_id, b_id) END AS victim
       |  FROM p WHERE cs >= ${SimilarityOps.SemThreshold})""".stripMargin
  }

  /** s25's oracle: the hier chain over the surviving corpus with the
    * ORIGINAL full-set codebook — s12/s13's [[survivorIvfSql]] move on
    * the two-level quantizer (same tombstone rule, and compaction must
    * be query-invisible, so delete + compact share this one string). */
  private def hierSurvivorSql: String =
    hierIvfSqlWhere("WHERE NOT (vec_id % 10 = 7 AND label = 0)")

  /** s27's oracle: the hier chain over the UPDATED corpus
    * ([[upsertIvfSql]]'s rewrite CTEs — the two update classes with
    * norms recomputed over the new fold order) with the ORIGINAL
    * full-set codebook: update semantics, never a rebuilt index. */
  private def hierUpsertSql: String =
    hierIvfSqlFromNf(
      """u AS (SELECT vec_id, CASE WHEN vec_id % 20 = 3 AND label = 0 THEN list_transform(v, x -> x * 1.25) WHEN vec_id % 20 = 13 AND label = 0 THEN list_slice(v, 2, 64) || list_slice(v, 1, 1) ELSE v END AS v, label FROM n),
        |nf AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM u)""".stripMargin)

  /** s26's oracle: ONE Lloyd refinement of the two-level codebook
    * replayed in closed form — s17RetrainSql's M-step composed with
    * s22HierSql's assignment chain. The gen-0 half is s22's chain
    * verbatim (supers `sup`, two-level assignment `asn0`); `cm`/`seeds1`
    * are s17's fixed-precision per-cell means over the HIER assignment
    * (memberless cells retire with the GROUP BY); `gseed1`/`sup1`
    * rebuild the two-level structure from the SURVIVORS (groups keep
    * ⌊c_id / sub⌋ — ids are preserved by the M-step — and a group whose
    * every cell retired vanishes); the gen-1 half re-runs the identical
    * two-level assignment under the rebuilt codebook, then s3's probe. */
  private def s26HierRetrainSql: String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    val sub = SimilarityOps.HierSub
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |gseed AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds),
       |sm AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM gseed CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |sup AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM sm GROUP BY g)),
       |a1 AS (SELECT n.vec_id, n.v, n.nrm, s.g, list_inner_product(n.v, s.sv) / (n.nrm * s.sn) AS gcos FROM n CROSS JOIN sup s),
       |r1 AS (SELECT vec_id, v, nrm, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM a1),
       |g1 AS (SELECT vec_id, v, nrm, g FROM r1 WHERE grn = 1),
       |a2 AS (SELECT g1.vec_id, g1.v, g1.nrm, s.c_id, list_inner_product(g1.v, s.cv) / (g1.nrm * s.cn) AS ccos FROM g1 JOIN gseed s ON s.g = g1.g),
       |r2 AS (SELECT vec_id, v, nrm, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM a2),
       |asn0 AS (SELECT vec_id, v, nrm, cell FROM r2 WHERE arn = 1),
       |cm AS (SELECT cell, i, round(avg(v[i]), ${SimilarityOps.CentroidScale}) AS cval
       |  FROM asn0 CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY cell, i),
       |seeds1 AS (SELECT c_id, cv, sqrt(list_inner_product(cv, cv)) AS cn
       |  FROM (SELECT cell AS c_id, list(cval ORDER BY i) AS cv FROM cm GROUP BY cell)),
       |gseed1 AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds1),
       |sm1 AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM gseed1 CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |sup1 AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM sm1 GROUP BY g)),
       |b1 AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.g, list_inner_product(n.v, s.sv) / (n.nrm * s.sn) AS gcos FROM n CROSS JOIN sup1 s),
       |rb1 AS (SELECT vec_id, v, nrm, label, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM b1),
       |gb1 AS (SELECT vec_id, v, nrm, label, g FROM rb1 WHERE grn = 1),
       |b2 AS (SELECT gb1.vec_id, gb1.v, gb1.nrm, gb1.label, s.c_id, list_inner_product(gb1.v, s.cv) / (gb1.nrm * s.cn) AS ccos FROM gb1 JOIN gseed1 s ON s.g = gb1.g),
       |rb2 AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM b2),
       |asn1 AS (SELECT vec_id, v, nrm, label, cell FROM rb2 WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn1 WHERE label = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn1 a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  /** p6's oracle — also p7's verbatim (the compaction gate's whole
    * claim is that the manifest is unchanged by the mid-stream swap). */
  // p11's closed-form blend-monitor replay, shared verbatim by p12 (the
  // mid-stream stats compaction must be ledger-invisible): batch
  // membership is the wave rule, so the arrived corpus after batch b is
  // {wave <= b}; per (batch, source): totals, t14's weight, the binding
  // source by (tot/w, source), the integer largest-feasible budget
  private lazy val p11BlendSql: String = {
    val m = graft.streaming.Replay.Waves
    s"""WITH tok AS (SELECT doc_id, source, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tok FROM documents),
       |t AS (SELECT doc_id % $m AS wave, source, n_tok FROM tok WHERE n_tok > 0),
       |b AS (SELECT unnest(range($m)) AS batch_id),
       |ct AS (SELECT b.batch_id, t.source, sum(n_tok) AS tot FROM b JOIN t ON t.wave <= b.batch_id GROUP BY 1, 2),
       |wt AS (SELECT batch_id, source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w, tot FROM ct),
       |mr AS (SELECT batch_id, tot AS tot_m, w AS w_m FROM (SELECT wt.*, row_number() OVER (PARTITION BY batch_id ORDER BY tot * 1.0 / w, source) AS rn FROM wt) WHERE rn = 1)
       |SELECT CAST(wt.batch_id AS BIGINT) AS batch_id, wt.source,
       |CAST(w AS BIGINT) AS w,
       |CAST(tot AS BIGINT) AS tot,
       |CAST((w * tot_m) // w_m AS BIGINT) AS budget
       |FROM wt JOIN mr ON mr.batch_id = wt.batch_id
       |ORDER BY batch_id, source""".stripMargin
  }

  /** The streaming sampler's closed-form keep chain through `s` (every
    * doc's keep verdict per batch): p9's full derivation — weight
    * table, binding source, integer budgets, u-ordered prefix keep —
    * re-derived PER BATCH over the wave rule's arrived corpus
    * (`doc_id mod Replay.Waves ≤ b`, p11's membership CTE). Shared by
    * p13's ledger tail and p14's delta tail, so the two streaming
    * sampler oracles cannot drift on the keep rule. */
  private lazy val streamSampleKeepCtes: String = {
    val m = graft.streaming.Replay.Waves
    val (mod, mul) = (TextOps.MixHashMod, TextOps.MixHashMul)
    val width = TextOps.MixHashMod / PipelineOps.MixBuckets
    s"""tok AS (SELECT doc_id, source, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tok FROM documents),
       |t AS (SELECT doc_id, source, n_tok, doc_id % $mod * $mul % $mod AS u, doc_id % $m AS wave FROM tok WHERE n_tok > 0),
       |b AS (SELECT unnest(range($m)) AS batch_id),
       |tb AS (SELECT b.batch_id, t.doc_id, t.source, t.n_tok, t.u, t.u // $width AS bucket FROM b JOIN t ON t.wave <= b.batch_id),
       |wt AS (SELECT batch_id, source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w, sum(n_tok) AS tot FROM tb GROUP BY 1, 2),
       |mr AS (SELECT batch_id, tot AS tot_m, w AS w_m FROM (SELECT wt.*, row_number() OVER (PARTITION BY batch_id ORDER BY tot * 1.0 / w, source) AS rn FROM wt) WHERE rn = 1),
       |bdg AS (SELECT wt.batch_id, wt.source, wt.w, (wt.w * mr.tot_m) // mr.w_m AS budget FROM wt JOIN mr ON mr.batch_id = wt.batch_id),
       |c AS (SELECT tb.*, sum(n_tok) OVER (PARTITION BY batch_id, source ORDER BY u, doc_id) AS cum FROM tb),
       |s AS (SELECT c.*, g.w, g.budget, CASE WHEN cum - n_tok < g.budget THEN 1 ELSE 0 END AS keep FROM c JOIN bdg g ON g.batch_id = c.batch_id AND g.source = c.source)""".stripMargin
  }

  /** p13's oracle: the shared keep chain + the per-(batch, source)
    * ledger with the bucket-folded kept-id digest. Every ledger row,
    * digest included, is replayed exactly; the final batch's rows are
    * p9's by construction. */
  private lazy val p13StreamSampleSql: String =
    s"""WITH $streamSampleKeepCtes,
       |sb AS (SELECT batch_id, source, bucket, min(w) AS w, min(budget) AS budget,
       |  count(*) AS b_docs, sum(n_tok) AS b_tok,
       |  sum(keep) AS b_docs_sampled,
       |  sum(CASE WHEN keep = 1 THEN n_tok ELSE 0 END) AS b_tok_sampled,
       |  md5(string_agg(CASE WHEN keep = 1 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY u, doc_id)) AS sub_md5
       |  FROM s GROUP BY 1, 2, 3)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
       |CAST(min(w) AS BIGINT) AS w,
       |CAST(min(budget) AS BIGINT) AS budget,
       |CAST(sum(b_docs) AS BIGINT) AS n_docs,
       |CAST(sum(b_tok) AS BIGINT) AS n_tok,
       |CAST(sum(b_docs_sampled) AS BIGINT) AS n_docs_sampled,
       |CAST(sum(b_tok_sampled) AS BIGINT) AS n_tok_sampled,
       |md5(string_agg(CASE WHEN b_docs_sampled > 0 THEN sub_md5 END, ',' ORDER BY bucket)) AS sample_md5
       |FROM sb GROUP BY 1, 2 ORDER BY batch_id, source""".stripMargin

  /** p14's oracle: the shared keep chain, a one-batch-shifted self-join
    * of the kept sets on (batch, doc), and the identical two-level
    * digest fold over each difference set — every (batch, source) delta
    * row, both digests included, replayed in closed form. Batch 0
    * joins against the empty blend (kp is shifted OUT of range), so its
    * rows are all-additions exactly as the engine's. */
  private lazy val p14SampleDeltaSql: String = {
    val m = graft.streaming.Replay.Waves
    s"""WITH $streamSampleKeepCtes,
       |k AS (SELECT batch_id, doc_id, source, u, bucket FROM s WHERE keep = 1),
       |kp AS (SELECT batch_id + 1 AS batch_id, doc_id, source, u, bucket FROM k WHERE batch_id + 1 < $m),
       |fo AS (SELECT coalesce(kb.batch_id, kp.batch_id) AS batch_id,
       |  coalesce(kb.doc_id, kp.doc_id) AS doc_id,
       |  coalesce(kb.source, kp.source) AS source,
       |  coalesce(kb.u, kp.u) AS u, coalesce(kb.bucket, kp.bucket) AS bucket,
       |  kb.doc_id IS NOT NULL AS now_in, kp.doc_id IS NOT NULL AS was_in
       |  FROM k kb FULL OUTER JOIN kp ON kb.batch_id = kp.batch_id AND kb.doc_id = kp.doc_id),
       |sb AS (SELECT batch_id, source, bucket,
       |  sum(CASE WHEN now_in THEN 1 ELSE 0 END) AS b_kept,
       |  sum(CASE WHEN now_in AND NOT was_in THEN 1 ELSE 0 END) AS b_added,
       |  sum(CASE WHEN was_in AND NOT now_in THEN 1 ELSE 0 END) AS b_evicted,
       |  md5(string_agg(CASE WHEN now_in AND NOT was_in THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY u, doc_id)) AS add_sub,
       |  md5(string_agg(CASE WHEN was_in AND NOT now_in THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY u, doc_id)) AS ev_sub
       |  FROM fo GROUP BY 1, 2, 3)
       |SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
       |CAST(sum(b_kept) AS BIGINT) AS n_kept,
       |CAST(sum(b_added) AS BIGINT) AS n_added,
       |CAST(sum(b_evicted) AS BIGINT) AS n_evicted,
       |CASE WHEN sum(b_added) > 0 THEN md5(string_agg(CASE WHEN b_added > 0 THEN add_sub END, ',' ORDER BY bucket)) END AS added_md5,
       |CASE WHEN sum(b_evicted) > 0 THEN md5(string_agg(CASE WHEN b_evicted > 0 THEN ev_sub END, ',' ORDER BY bucket)) END AS evicted_md5
       |FROM sb GROUP BY 1, 2 ORDER BY batch_id, source""".stripMargin
  }

  private lazy val p6ExportSql: String = {
    val m = graft.streaming.Replay.Waves
    s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
       |$funnelHeadCtes,
       |e6 AS (SELECT fl.*, doc_id % $m AS bid FROM fl WHERE NOT is_eval AND q),
       |k6 AS (SELECT e6.*, row_number() OVER (PARTITION BY norm_key ORDER BY bid, doc_id) AS arn FROM e6),
       |kept AS (SELECT doc_id, source, bid FROM k6 WHERE arn = 1),
       |kt AS (SELECT kept.bid, kept.source, kept.doc_id // ${TextOps.ShardDocs} AS shard, kept.doc_id, array_to_string(t.ts, ' ') AS s, len(t.ts) AS n_tok
       |  FROM kept JOIN tok t ON t.doc_id = kept.doc_id WHERE len(t.ts) > 0)
       |SELECT CAST(bid AS BIGINT) AS batch_id, source, CAST(shard AS BIGINT) AS shard,
       |CAST(count(*) AS BIGINT) AS n_docs,
       |CAST(sum(n_tok) AS BIGINT) AS n_tok,
       |CAST((sum(n_tok) + ${TextOps.SeqTokens - 1}) // ${TextOps.SeqTokens} AS BIGINT) AS n_seqs,
       |md5(string_agg(s, ' ' ORDER BY doc_id)) AS pack_md5
       |FROM kt GROUP BY 1, 2, 3 ORDER BY batch_id, source, shard""".stripMargin
  }

  /** q09's oracle — also x21's verbatim: the built-in `session_window`
    * aggregate and the hand-rolled `flatMapGroupsWithState` sessionizer
    * are two independent implementations of one session semantics
    * (t joins iff t < last + gap; end = last + gap; emit once at
    * watermark), both pinned to this closed-form gaps-and-islands SQL. */
  private lazy val q09SessionSql: String =
    """WITH x AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM events),
      |y AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM x)
      |SELECT user_id, CAST(FLOOR(epoch(min(ts))) AS BIGINT) AS s_start, CAST(FLOOR(epoch(max(ts))) AS BIGINT) + 600 AS s_end, CAST(count(*) AS BIGINT) AS cnt FROM y GROUP BY user_id, sess ORDER BY user_id, s_start""".stripMargin

  /** x19's oracle — also x20's verbatim (the running-max fold must be
    * invisible to every watermark the ledger derives). */
  private lazy val x19LedgerSql: String = {
    val m = graft.streaming.Replay.Waves
    val d = graft.streaming.LateLedger.LateDelayMicros
    s"""WITH e AS (SELECT event_id % $m AS bid, event_type, value, epoch_us(ts) AS tsu FROM events),
       |bm AS (SELECT bid, max(tsu) AS mt FROM e GROUP BY bid),
       |wm AS (SELECT b.bid, max(p.mt) - $d AS wmv FROM bm b JOIN bm p ON p.bid < b.bid GROUP BY b.bid),
       |c AS (SELECT e.bid, e.event_type, e.value,
       |  CASE WHEN w.wmv IS NOT NULL AND e.tsu < w.wmv THEN 1 ELSE 0 END AS late
       |  FROM e LEFT JOIN wm w ON w.bid = e.bid)
       |SELECT CAST(bid AS BIGINT) AS batch_id, event_type,
       |CAST(sum(late) AS BIGINT) AS n_late,
       |CAST(sum(1 - late) AS BIGINT) AS n_ontime,
       |CAST(sum(CASE WHEN late = 0 THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS ontime_value
       |FROM c GROUP BY 1, 2 ORDER BY batch_id, event_type""".stripMargin
  }

  /** The sampled-blend CTE chain (funnel → kept tokens `kt` with both
    * p4's shard and t14's u → weights → largest-feasible budgets →
    * prefix keep → `smp`), shared VERBATIM by p10 (packs smp in the
    * (source, shard) geometry) and p15 (reshuffles smp into training
    * order) — the same drift guard as [[ahashBandsCtes]]: an edit to
    * the budget or prefix rule cannot reach one composed oracle and
    * miss the other. Callers prepend `WITH RECURSIVE` and append their
    * aggregation tail. */
  private lazy val sampledBlendCtes: String = {
    val (mod, mul) = (TextOps.MixHashMod, TextOps.MixHashMul)
    s"""$dupClusterCte,
       |$funnelHeadCtes,
       |gg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
       |ctd AS (SELECT DISTINCT t2.doc_id FROM gg t2 JOIN (SELECT DISTINCT g FROM gg WHERE doc_id % ${DedupOps.EvalMod} = 0) e2 ON e2.g = t2.g WHERE t2.doc_id % ${DedupOps.EvalMod} <> 0),
       |kd AS (SELECT e.doc_id, e.source FROM elig e LEFT JOIN lab ON lab.doc_id = e.doc_id LEFT JOIN ctd ON ctd.doc_id = e.doc_id
       |  WHERE e.doc_id = e.min_id AND (lab.cluster_id IS NULL OR lab.cluster_id = e.doc_id) AND ctd.doc_id IS NULL),
       |kt AS (SELECT kd.doc_id, kd.source, kd.doc_id // ${TextOps.ShardDocs} AS shard, array_to_string(t.ts, ' ') AS s, len(t.ts) AS n_tok,
       |  kd.doc_id % $mod * $mul % $mod AS u
       |  FROM kd JOIN tok t ON t.doc_id = kd.doc_id WHERE len(t.ts) > 0),
       |wt AS (SELECT source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w, sum(n_tok) AS tot FROM kt GROUP BY source),
       |mrow AS (SELECT tot AS tot_m, w AS w_m FROM wt ORDER BY tot * 1.0 / w, source LIMIT 1),
       |bdg AS (SELECT source, (w * tot_m) // w_m AS budget FROM wt, mrow),
       |c AS (SELECT kt.*, sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id) AS cum FROM kt),
       |smp AS (SELECT c.* FROM c JOIN bdg b ON b.source = c.source WHERE cum - n_tok < b.budget)""".stripMargin
  }

  /** m13's thumbnail → aHash-band CTE prefix (`g` … `bands`): m8's
    * pixel math, the integer mean, the bit rule, and the band packing.
    * One string shared by the batch near-dup oracle ([[m13NearDupSql]],
    * also m15's verbatim) and m16's per-wave replay — the fingerprint
    * math cannot drift between the batch and streaming oracles. */
  private lazy val ahashBandsCtes: String = {
    val tw = MultimodalOps.ThumbW; val th = MultimodalOps.ThumbH
    val nb = MultimodalOps.AHashBands; val bb = MultimodalOps.AHashBandBits
    s"""g AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h FROM documents),
       |d AS (SELECT doc_id, w, n, h, greatest((n + w - 1) // w, 1) AS hgt FROM g),
       |b AS (SELECT doc_id, list_transform(range(0, ${tw * th}),
       |        p -> ((p // $tw) * hgt // $th) * w + ((p % $tw) * w // $tw)) AS idxs, n, h FROM d),
       |px AS (SELECT doc_id, list_transform(idxs, i -> CASE WHEN i < n THEN (strpos('0123456789abcdef', substr(h, CAST(2*i+1 AS INT), 1)) - 1) * 16 + strpos('0123456789abcdef', substr(h, CAST(2*i+2 AS INT), 1)) - 1 ELSE 0 END) AS pxs FROM b),
       |ah AS (SELECT doc_id, pxs, list_sum(pxs) // ${tw * th} AS mean FROM px),
       |bits AS (SELECT doc_id, list_transform(range(0, ${tw * th}), p -> CASE WHEN pxs[CAST(p+1 AS INT)] > mean THEN 1 ELSE 0 END) AS bs FROM ah),
       |bands AS (SELECT doc_id, k AS bi, CAST(list_sum(list_transform(range(0, $bb), j -> bs[CAST($bb*k + j + 1 AS INT)] * (1 << CAST(j AS INT)))) AS BIGINT) AS bv
       |  FROM bits CROSS JOIN (SELECT unnest(range($nb)) AS k))""".stripMargin
  }

  /** m13's oracle (m15's verbatim — the stream's final materialized
    * set must equal batch m13): [[ahashBandsCtes]] + df cap, banded
    * candidates, Hamming verify. */
  private lazy val m13NearDupSql: String = {
    val nb = MultimodalOps.AHashBands
    s"""WITH $ahashBandsCtes,
       |okb AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING count(*) <= ${MultimodalOps.AHashDfMax}),
       |cb AS (SELECT bands.* FROM bands JOIN okb USING (bi, bv)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM cb x JOIN cb y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |bw AS (SELECT doc_id, list(bv ORDER BY bi) AS bvs FROM bands GROUP BY doc_id),
       |ver AS (SELECT a_id, b_id,
       |  CAST(list_sum(list_transform(range($nb), k -> bit_count(xor(x.bvs[CAST(k+1 AS INT)], y.bvs[CAST(k+1 AS INT)])))) AS BIGINT) AS hamming
       |  FROM cand JOIN bw x ON x.doc_id = a_id JOIN bw y ON y.doc_id = b_id)
       |SELECT a_id, b_id, hamming FROM ver WHERE hamming <= ${MultimodalOps.AHashHamMax} ORDER BY a_id, b_id""".stripMargin
  }

  /** m14's oracle (the audio chain: m10's slot seek math, signed-sample
    * recovery, TRUNCATING integer mean, then m13's banding/df/Hamming
    * tail) — shared verbatim by the m17 consensus join. */
  /** The audio fingerprint's `bands` CTE chain (m10's slot seek math,
    * signed-sample recovery, TRUNCATING integer mean, m13's band
    * packing) — the audio twin of [[ahashBandsCtes]], shared by
    * [[m14NearDupSql]] and m21's per-wave consensus replay. */
  private lazy val whashBandsCtes: String = {
    val t = MultimodalOps.WavHashSamples
    val nb = MultimodalOps.AHashBands; val bb = MultimodalOps.AHashBandBits
    s"""g AS (SELECT doc_id, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h, (1 + doc_id % 2) AS ch FROM documents),
       |d AS (SELECT doc_id, n, h, ch, 2 * ch AS ba, n // (2 * ch) AS nf FROM g),
       |s AS (SELECT doc_id, h, ba, nf, unnest(range($t)) AS k FROM d WHERE nf >= 1),
       |v AS (SELECT doc_id, k,
       |  (strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba)+1 AS INT), 1)) - 1) * 16
       |  + strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba)+2 AS INT), 1)) - 1
       |  + 256 * ((strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba+1)+1 AS INT), 1)) - 1) * 16
       |           + strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba+1)+2 AS INT), 1)) - 1) AS u
       |  FROM s),
       |sv AS (SELECT doc_id, k, CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS BIGINT) AS smp FROM v),
       |lst AS (SELECT doc_id, list(smp ORDER BY k) AS ss FROM sv GROUP BY doc_id),
       |mh AS (SELECT doc_id, ss, CAST(list_sum(ss) AS BIGINT) // $t AS mean FROM lst),
       |bits AS (SELECT doc_id, list_transform(range(0, $t), p -> CASE WHEN ss[CAST(p+1 AS INT)] > mean THEN 1 ELSE 0 END) AS bs FROM mh),
       |bands AS (SELECT doc_id, k AS bi, CAST(list_sum(list_transform(range(0, $bb), j -> bs[CAST($bb*k + j + 1 AS INT)] * (1 << CAST(j AS INT)))) AS BIGINT) AS bv
       |  FROM bits CROSS JOIN (SELECT unnest(range($nb)) AS k))""".stripMargin
  }

  private lazy val m14NearDupSql: String = {
    val nb = MultimodalOps.AHashBands
    s"""WITH $whashBandsCtes,
       |okb AS (SELECT bi, bv FROM bands GROUP BY bi, bv HAVING count(*) <= ${MultimodalOps.AHashDfMax}),
       |cb AS (SELECT bands.* FROM bands JOIN okb USING (bi, bv)),
       |cand AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id FROM cb x JOIN cb y ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |bw AS (SELECT doc_id, list(bv ORDER BY bi) AS bvs FROM bands GROUP BY doc_id),
       |ver AS (SELECT a_id, b_id,
       |  CAST(list_sum(list_transform(range($nb), k -> bit_count(xor(x.bvs[CAST(k+1 AS INT)], y.bvs[CAST(k+1 AS INT)])))) AS BIGINT) AS hamming
       |  FROM cand JOIN bw x ON x.doc_id = a_id JOIN bw y ON y.doc_id = b_id)
       |SELECT a_id, b_id, hamming FROM ver WHERE hamming <= ${MultimodalOps.AHashHamMax} ORDER BY a_id, b_id""".stripMargin
  }

  /** m17's oracle (m20's verbatim — the streaming consensus's final
    * set must equal batch m17): m13's chain ⋈full m14's chain with the
    * channel CASE — the d13 nested-WITH move on the media family. */
  private lazy val m17ConsensusSql: String =
    s"""WITH pi AS ($m13NearDupSql), pa AS ($m14NearDupSql)
       |SELECT coalesce(pi.a_id, pa.a_id) AS a_id, coalesce(pi.b_id, pa.b_id) AS b_id,
       |CASE WHEN pi.a_id IS NOT NULL AND pa.a_id IS NOT NULL THEN 'both'
       |     WHEN pi.a_id IS NOT NULL THEN 'image' ELSE 'audio' END AS channel,
       |coalesce(pi.hamming, -1) AS img_hamming, coalesce(pa.hamming, -1) AS aud_hamming
       |FROM pi FULL JOIN pa ON pi.a_id = pa.a_id AND pi.b_id = pa.b_id
       |ORDER BY a_id, b_id""".stripMargin

  /** The per-wave banded chain over whatever `bands` CTE is in scope —
    * m16's wave machinery factored so m21 can run it on BOTH codec
    * chains: arrived membership `doc_id mod Replay.Waves ≤ wb`, df cap
    * re-evaluated per wave (band document-frequency is a property of
    * the ARRIVED corpus — the non-monotone rule), banded candidates,
    * Hamming verify. Yields (wb, a_id, b_id). */
  private lazy val perWaveChainSql: String = {
    val nb = MultimodalOps.AHashBands
    val m = graft.streaming.Replay.Waves
    s"""waves AS (SELECT unnest(range($m)) AS wb),
       |ab AS (SELECT w.wb AS wb, bands.doc_id, bi, bv FROM bands CROSS JOIN waves w WHERE bands.doc_id % $m <= w.wb),
       |okb AS (SELECT wb, bi, bv FROM ab GROUP BY wb, bi, bv HAVING count(*) <= ${MultimodalOps.AHashDfMax}),
       |cb AS (SELECT ab.* FROM ab JOIN okb USING (wb, bi, bv)),
       |cand AS (SELECT DISTINCT x.wb, x.doc_id AS a_id, y.doc_id AS b_id FROM cb x JOIN cb y ON x.wb = y.wb AND x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |bw AS (SELECT doc_id, list(bv ORDER BY bi) AS bvs FROM bands GROUP BY doc_id)
       |SELECT wb, a_id, b_id FROM (SELECT cand.wb, a_id, b_id,
       |    CAST(list_sum(list_transform(range($nb), k -> bit_count(xor(x.bvs[CAST(k+1 AS INT)], y.bvs[CAST(k+1 AS INT)])))) AS BIGINT) AS hamming
       |    FROM cand JOIN bw x ON x.doc_id = a_id JOIN bw y ON y.doc_id = b_id)
       |  WHERE hamming <= ${MultimodalOps.AHashHamMax}""".stripMargin
  }

  /** m21's oracle: the whole consensus CHANGE FEED replayed closed-form
    * — both codec chains per wave (image = [[ahashBandsCtes]], audio =
    * [[whashBandsCtes]], each through [[perWaveChainSql]] with the df
    * cap re-evaluated per arrived corpus), the channel CASE per wave,
    * then per-(wave, channel) enter/leave counts from a one-wave-
    * shifted self-join: n_added = pairs entering the channel (new pair
    * or flip landing in it), n_retracted = pairs leaving it (gone or
    * flipped away) — so per-channel conservation and the flip's paired
    * leave+enter are oracle-checked, not just spec-pinned. */
  private lazy val m21ConsensusDeltaSql: String = {
    val m = graft.streaming.Replay.Waves
    s"""WITH ci AS (WITH $ahashBandsCtes,
       |$perWaveChainSql),
       |ca AS (WITH $whashBandsCtes,
       |$perWaveChainSql),
       |cons AS (SELECT coalesce(ci.wb, ca.wb) AS wb,
       |  coalesce(ci.a_id, ca.a_id) AS a_id, coalesce(ci.b_id, ca.b_id) AS b_id,
       |  CASE WHEN ci.a_id IS NOT NULL AND ca.a_id IS NOT NULL THEN 'both'
       |       WHEN ci.a_id IS NOT NULL THEN 'image' ELSE 'audio' END AS channel
       |  FROM ci FULL JOIN ca ON ci.wb = ca.wb AND ci.a_id = ca.a_id AND ci.b_id = ca.b_id),
       |ent AS (SELECT c.wb, c.channel, count(*) AS n_pairs,
       |    sum(CASE WHEN p.a_id IS NULL OR p.channel <> c.channel THEN 1 ELSE 0 END) AS n_added
       |  FROM cons c LEFT JOIN cons p ON p.wb = c.wb - 1 AND p.a_id = c.a_id AND p.b_id = c.b_id
       |  GROUP BY c.wb, c.channel),
       |lv AS (SELECT p.wb + 1 AS wb, p.channel, count(*) AS n_retracted
       |  FROM cons p LEFT JOIN cons c ON c.wb = p.wb + 1 AND c.a_id = p.a_id AND c.b_id = p.b_id
       |  WHERE p.wb + 1 < $m AND (c.a_id IS NULL OR c.channel <> p.channel)
       |  GROUP BY p.wb + 1, p.channel)
       |SELECT CAST(coalesce(e.wb, l.wb) AS BIGINT) AS batch_id,
       |coalesce(e.channel, l.channel) AS channel,
       |CAST(coalesce(e.n_pairs, 0) AS BIGINT) AS n_pairs,
       |CAST(coalesce(e.n_added, 0) AS BIGINT) AS n_added,
       |CAST(coalesce(l.n_retracted, 0) AS BIGINT) AS n_retracted
       |FROM ent e FULL JOIN lv l ON e.wb = l.wb AND e.channel = l.channel
       |ORDER BY batch_id, channel""".stripMargin
  }

  /** m16's oracle: the m13 chain re-run per wave `wb` over the arrived
    * corpus (`doc_id mod Replay.Waves ≤ wb` — [[graft.streaming
    * .Replay.ByMod]]'s membership rule), with the df cap
    * re-evaluated per wave (band document-frequency is a property of
    * the ARRIVED corpus — the non-monotone rule m15 re-derives for),
    * then per-direction deltas from a one-batch-shifted self-join and
    * the engine's exact two-level digest fold (sub-bucket = a_id mod
    * DigestBuckets, 'a:b' pair strings, ',' separators, null on
    * empty). */
  private lazy val m16NearDupDeltaSql: String = {
    val nb = MultimodalOps.AHashBands
    val m = graft.streaming.Replay.Waves
    val dbk = graft.streaming.StreamMediaDedup.DigestBuckets
    s"""WITH $ahashBandsCtes,
       |waves AS (SELECT unnest(range($m)) AS wb),
       |ab AS (SELECT w.wb AS wb, bands.doc_id, bi, bv FROM bands CROSS JOIN waves w WHERE bands.doc_id % $m <= w.wb),
       |okb AS (SELECT wb, bi, bv FROM ab GROUP BY wb, bi, bv HAVING count(*) <= ${MultimodalOps.AHashDfMax}),
       |cb AS (SELECT ab.* FROM ab JOIN okb USING (wb, bi, bv)),
       |cand AS (SELECT DISTINCT x.wb, x.doc_id AS a_id, y.doc_id AS b_id FROM cb x JOIN cb y ON x.wb = y.wb AND x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id),
       |bw AS (SELECT doc_id, list(bv ORDER BY bi) AS bvs FROM bands GROUP BY doc_id),
       |cur AS (SELECT wb, a_id, b_id FROM (SELECT cand.wb, a_id, b_id,
       |    CAST(list_sum(list_transform(range($nb), k -> bit_count(xor(x.bvs[CAST(k+1 AS INT)], y.bvs[CAST(k+1 AS INT)])))) AS BIGINT) AS hamming
       |    FROM cand JOIN bw x ON x.doc_id = a_id JOIN bw y ON y.doc_id = b_id)
       |  WHERE hamming <= ${MultimodalOps.AHashHamMax}),
       |adds AS (SELECT c.wb, c.a_id, c.b_id FROM cur c LEFT JOIN cur p ON p.wb = c.wb - 1 AND p.a_id = c.a_id AND p.b_id = c.b_id WHERE p.a_id IS NULL),
       |rms AS (SELECT p.wb + 1 AS wb, p.a_id, p.b_id FROM cur p LEFT JOIN cur c ON c.wb = p.wb + 1 AND c.a_id = p.a_id AND c.b_id = p.b_id WHERE c.a_id IS NULL AND p.wb + 1 < $m),
       |asub AS (SELECT wb, a_id % $dbk AS sb, md5(string_agg(a_id || ':' || b_id, ',' ORDER BY a_id, b_id)) AS sub FROM adds GROUP BY wb, a_id % $dbk),
       |adg AS (SELECT wb, md5(string_agg(sub, ',' ORDER BY sb)) AS add_md5 FROM asub GROUP BY wb),
       |rsub AS (SELECT wb, a_id % $dbk AS sb, md5(string_agg(a_id || ':' || b_id, ',' ORDER BY a_id, b_id)) AS sub FROM rms GROUP BY wb, a_id % $dbk),
       |rdg AS (SELECT wb, md5(string_agg(sub, ',' ORDER BY sb)) AS rm_md5 FROM rsub GROUP BY wb),
       |np AS (SELECT wb, count(*) AS n_pairs FROM cur GROUP BY wb),
       |na AS (SELECT wb, count(*) AS n_added FROM adds GROUP BY wb),
       |nr AS (SELECT wb, count(*) AS n_retracted FROM rms GROUP BY wb)
       |SELECT CAST(w.wb AS BIGINT) AS batch_id,
       |CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |CAST(coalesce(na.n_added, 0) AS BIGINT) AS n_added,
       |CAST(coalesce(nr.n_retracted, 0) AS BIGINT) AS n_retracted,
       |adg.add_md5, rdg.rm_md5
       |FROM waves w LEFT JOIN np USING (wb) LEFT JOIN na USING (wb) LEFT JOIN nr USING (wb)
       |LEFT JOIN adg USING (wb) LEFT JOIN rdg USING (wb) ORDER BY batch_id""".stripMargin
  }

  /** s24's oracle: the hier chain ([[s22HierSql]]'s CTEs) with the QUERY
    * side widened to its top-gprobe GROUPS — `gq` keeps grn ≤ gprobe
    * for label=1 rows, each probed group contributes its level-2 argmax
    * cell (rank within (vec_id, g)), and the corpus assignment is the
    * unchanged grn=1 chain. Distinct groups yield distinct cells, so
    * probed pairs stay unique — mirrors hierQueryCells exactly. */
  private def s24HierMultiprobeSql(gprobe: Int): String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    val sub = SimilarityOps.HierSub
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |gseed AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds),
       |sm AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM gseed CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |sup AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM sm GROUP BY g)),
       |a1 AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.g, list_inner_product(n.v, s.sv) / (n.nrm * s.sn) AS gcos FROM n CROSS JOIN sup s),
       |r1 AS (SELECT vec_id, v, nrm, label, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM a1),
       |g1 AS (SELECT vec_id, v, nrm, label, g FROM r1 WHERE grn = 1),
       |a2 AS (SELECT g1.vec_id, g1.v, g1.nrm, g1.label, s.c_id, list_inner_product(g1.v, s.cv) / (g1.nrm * s.cn) AS ccos FROM g1 JOIN gseed s ON s.g = g1.g),
       |r2 AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM a2),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM r2 WHERE arn = 1),
       |gq AS (SELECT vec_id, v, nrm, g FROM r1 WHERE label = 1 AND grn <= $gprobe),
       |aq AS (SELECT gq.vec_id, gq.v, gq.nrm, gq.g, s.c_id, list_inner_product(gq.v, s.cv) / (gq.nrm * s.cn) AS ccos FROM gq JOIN gseed s ON s.g = gq.g),
       |rq AS (SELECT vec_id, v, nrm, c_id AS cell, row_number() OVER (PARTITION BY vec_id, g ORDER BY ccos DESC, c_id) AS arn FROM aq),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM rq WHERE arn = 1),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
  }

  /** s15's oracle: s3's probe with the query side fanned out to its
    * top-`nprobe` cells (q reads `ar WHERE arn <= nprobe`, the s4
    * battery's np2/np4 CTE move) — corpus rows stay single-cell, so
    * probed pairs are unique by construction, exactly as the engine. */
  private def s3IvfMultiprobeSql(nprobe: Int): String =
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM ar WHERE label = 1 AND arn <= $nprobe),
       |p AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Mirror of SimilarityOps.pqCodebook/pqCodes (+ reconstructed norm):
    * appended after [[embCte]], yields `cbn(cbs)` (the [m][k] nested
    * codebook) and `enc` (corpus with PQ codes + rnrm). L2 argmin ties
    * break to the lowest k via list_position's first-match, exactly as
    * the engine's array_position does. */
  private def pqCte: String = {
    val (m, d, k) = (SimilarityOps.PqM, SimilarityOps.PqSubDim, SimilarityOps.PqK)
    s"""cbsub AS (SELECT vec_id AS k, m, list_slice(v, m*$d+1, m*$d+$d) AS sub FROM n CROSS JOIN (SELECT unnest(range($m)) AS m) WHERE vec_id < $k),
       |cbm AS (SELECT m, list(sub ORDER BY k) AS cbm FROM cbsub GROUP BY m),
       |cbn AS (SELECT list(cbm ORDER BY m) AS cbs FROM cbm),
       |pqsub AS (SELECT vec_id, m, list_slice(v, m*$d+1, m*$d+$d) AS sv FROM n CROSS JOIN (SELECT unnest(range($m)) AS m)),
       |pqdist AS (SELECT vec_id, m, list_transform(cbs[m+1], c -> list_sum(list_transform(range($d), i -> (sv[i+1]-c[i+1])*(sv[i+1]-c[i+1])))) AS dl FROM pqsub CROSS JOIN cbn),
       |pqcode AS (SELECT vec_id, m, CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS cd FROM pqdist),
       |pqcodes AS (SELECT vec_id, list(cd ORDER BY m) AS codes FROM pqcode GROUP BY vec_id),
       |enc AS (SELECT n.vec_id, n.label, n.nrm, pqcodes.codes,
       |  sqrt(list_sum(list_transform(range($m), m -> list_inner_product(cbs[m+1][codes[m+1]+1], cbs[m+1][codes[m+1]+1])))) AS rnrm
       |  FROM n JOIN pqcodes USING (vec_id) CROSS JOIN cbn)""".stripMargin
  }

  /** The ADC score of query subvectors against a coded row (DuckDB
    * fragment; same m-order fold as the engine). `cbs` names the
    * codebook CTE column — the raw-vector book for s5/s6, the residual
    * book for s8. */
  private def adcSql(qv: String, codes: String, cbs: String = "cbs"): String = {
    val (m, d) = (SimilarityOps.PqM, SimilarityOps.PqSubDim)
    s"list_sum(list_transform(range($m), m -> list_inner_product(list_slice($qv, m*$d+1, m*$d+$d), $cbs[m+1][$codes[m+1]+1])))"
  }

  /** Mirror of SimilarityOps.s8From's residual encode + IVFADC scan.
    * Assumes `seeds` and `asn` (the IVF assignment) are in scope; yields
    * `renc` (codes + encode-time reconstructed norm), `rq` (queries with
    * their ⟨q,c⟩ constant) and `rr2` (ranked ADC candidates). */
  private def residualPqCtes: String = {
    val (m, d, k) = (SimilarityOps.PqM, SimilarityOps.PqSubDim, SimilarityOps.PqK)
    s"""rbase AS (SELECT a.vec_id, a.v, a.nrm, a.label, a.cell, s.cv FROM asn a JOIN seeds s ON s.c_id = a.cell),
       |rres AS (SELECT vec_id, v, nrm, label, cell, cv, list_transform(range(len(v)), i -> v[i+1] - cv[i+1]) AS r FROM rbase),
       |rcbsub AS (SELECT vec_id AS rk, m, list_slice(r, m*$d+1, m*$d+$d) AS sub FROM rres CROSS JOIN (SELECT unnest(range($m)) AS m) WHERE vec_id >= ${SimilarityOps.IvfCells} AND vec_id < ${SimilarityOps.IvfCells + k}),
       |rcbm AS (SELECT m, list(sub ORDER BY rk) AS cbm FROM rcbsub GROUP BY m),
       |rcbn AS (SELECT list(cbm ORDER BY m) AS rcbs FROM rcbm),
       |rsub AS (SELECT vec_id, m, list_slice(r, m*$d+1, m*$d+$d) AS sv FROM rres CROSS JOIN (SELECT unnest(range($m)) AS m)),
       |rdist AS (SELECT vec_id, m, list_transform(rcbs[m+1], c -> list_sum(list_transform(range($d), i -> (sv[i+1]-c[i+1])*(sv[i+1]-c[i+1])))) AS dl FROM rsub CROSS JOIN rcbn),
       |rcode AS (SELECT vec_id, m, CAST(list_position(dl, list_min(dl)) - 1 AS INT) AS cd FROM rdist),
       |rcodes AS (SELECT vec_id, list(cd ORDER BY m) AS codes FROM rcode GROUP BY vec_id),
       |renc AS (SELECT rr.vec_id, rr.label, rr.cell, rr.v, rr.nrm, rr.cv, rcodes.codes,
       |  sqrt(list_inner_product(rr.cv, rr.cv) + list_sum(list_transform(range($m), m -> 2.0*list_inner_product(list_slice(rr.cv, m*$d+1, m*$d+$d), rcbs[m+1][codes[m+1]+1]) + list_inner_product(rcbs[m+1][codes[m+1]+1], rcbs[m+1][codes[m+1]+1])))) AS encnorm
       |  FROM rres rr JOIN rcodes USING (vec_id) CROSS JOIN rcbn),
       |rq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell, list_inner_product(v, cv) AS qc FROM renc WHERE label = 1),
       |rp AS (SELECT q.q_id, e.vec_id AS n_id, (q.qc + ${adcSql("q.qv", "e.codes", "rcbs")}) / (q.qn * e.encnorm) AS c FROM rq q JOIN renc e USING (cell) CROSS JOIN rcbn WHERE e.vec_id <> q.q_id),
       |rr2 AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM rp)""".stripMargin
  }

  /** Mirror of SimilarityOps.s5AnnPq. */
  private def pqAnnSql: String =
    s"""WITH $embCte,
       |$pqCte,
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE label = 1),
       |p AS (SELECT q.q_id, e.vec_id AS n_id, ${adcSql("q.qv", "e.codes")} / (q.qn * e.rnrm) AS c
       |  FROM q JOIN enc e ON e.vec_id <> q.q_id CROSS JOIN cbn),
       |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
       |SELECT q_id, n_id, round(c, 4) AS adc_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Mirror of SimilarityOps.s8AnnIvfPqRes: IVF assignment, then the
    * residual-encoded ADC scan. */
  private def ivfPqResSql: String =
    s"""WITH $embCte,
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |$residualPqCtes
       |SELECT q_id, n_id, round(c, 4) AS adc_sim, CAST(rnk AS BIGINT) AS rnk
       |FROM rr2 WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin

  /** Mirror of SimilarityOps.d5EmbedNearDup (shared by the d13 oracle). */
  private def embedNearDupSql: String = {
    val bandSelects = (0 until SimilarityOps.SignBands)
      .map(b => s"SELECT vec_id, $b AS bi, ${bandSql(b)} AS bv FROM n")
      .mkString(" UNION ALL ")
    s"""WITH $embCte,
       |band AS ($bandSelects),
       |cand AS (SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id FROM band x JOIN band y ON x.bi = y.bi AND x.bv = y.bv AND x.vec_id < y.vec_id)
       |SELECT c.a_id, c.b_id, round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cos_sim
       |FROM cand c JOIN n a ON a.vec_id = c.a_id JOIN n b ON b.vec_id = c.b_id
       |WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4 ORDER BY a_id, b_id""".stripMargin
  }

  /** Mirror of SimilarityOps.clusteredNormed: the planted-cluster
    * derivation of the embeddings table (s7). Same CTE names as
    * [[embCte]] so the whole ANN-recall chain is reusable verbatim. */
  private val clusteredEmbCte =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0, label, CAST(vec_id % ${SimilarityOps.ClusterK} AS INT) AS cl FROM embeddings),
       |e AS (SELECT vec_id, list_transform(range(len(v0)), i -> v0[i+1] + CASE WHEN i % ${SimilarityOps.ClusterK} = cl THEN ${SimilarityOps.ClusterAmp} ELSE 0.0 END) AS v, label FROM e0),
       |n AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin

  /** Mirror of SimilarityOps.structuredNormed (s10): shrunk noise +
    * cluster centers + per-subspace quantized displacement, term-for-term
    * in the engine's evaluation order. */
  private val structuredEmbCte = {
    val muls = SimilarityOps.DispMul.mkString("[", ", ", "]")
    val (k, amp) = (SimilarityOps.ClusterK, SimilarityOps.ClusterAmp)
    val (d, ns, st) = (SimilarityOps.PqSubDim, SimilarityOps.StructNoise, SimilarityOps.StructDispStep)
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0, label, CAST(vec_id % $k AS INT) AS cl FROM embeddings),
       |e AS (SELECT vec_id, list_transform(range(len(v0)), i -> v0[i+1] * $ns
       | + CASE WHEN i % $k = cl THEN $amp ELSE 0.0 END
       | + CASE WHEN i % $d = ${d - 1} THEN $st * CAST(((vec_id * ($muls)[i // $d + 1]) % 256) // 64 AS DOUBLE) ELSE 0.0 END) AS v, label FROM e0),
       |n AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM e)""".stripMargin
  }

  /** The hierarchical-quantizer rows of the recall battery: corpus
    * assignment replays s22's two-level chain (group means at
    * CentroidScale decimals off the battery's shared `seeds` CTE,
    * level-1 then level-2 argmax); queries fan out to their top-np
    * GROUPS (np = 1 is s22's probe, np = 2 the recovery lever) and take
    * the level-2 argmax cell within each probed group — mirror of
    * SimilarityOps.hierQueryCells, ties to the lower id at both levels. */
  private def hierRecallCtes: String = {
    val dim = SimilarityOps.SignBands * SimilarityOps.BandBits
    val sub = SimilarityOps.HierSub
    val perNp = Seq(1, 2).map(np =>
      s"""hqa$np AS (SELECT r.vec_id, r.v, r.nrm, s.c_id, r.g, list_inner_product(r.v, s.cv) / (r.nrm * s.cn) AS ccos FROM hr1 r JOIN hgseed s ON s.g = r.g WHERE r.label = 1 AND r.grn <= $np),
         |hqr$np AS (SELECT vec_id, g, c_id AS cell, row_number() OVER (PARTITION BY vec_id, g ORDER BY ccos DESC, c_id) AS arn FROM hqa$np),
         |hq$np AS (SELECT r.vec_id AS q_id, n.v AS qv, n.nrm AS qn, r.cell FROM hqr$np r JOIN n ON n.vec_id = r.vec_id WHERE r.arn = 1),
         |hp$np AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM hq$np q JOIN hasn a USING (cell) WHERE a.vec_id <> q.q_id),
         |hrr$np AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM hp$np),
         |htop$np AS (SELECT q_id, n_id FROM hrr$np WHERE rnk <= 3)""".stripMargin)
      .mkString(",\n")
    s"""hgseed AS (SELECT c_id, cv, cn, c_id // $sub AS g FROM seeds),
       |hsm AS (SELECT g, i, round(avg(cv[i]), ${SimilarityOps.CentroidScale}) AS sval
       |  FROM hgseed CROSS JOIN (SELECT unnest(range(1, ${dim + 1})) AS i) GROUP BY g, i),
       |hsup AS (SELECT g, sv, sqrt(list_inner_product(sv, sv)) AS sn
       |  FROM (SELECT g, list(sval ORDER BY i) AS sv FROM hsm GROUP BY g)),
       |ha1 AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.g, list_inner_product(n.v, s.sv) / (n.nrm * s.sn) AS gcos FROM n CROSS JOIN hsup s),
       |hr1 AS (SELECT vec_id, v, nrm, label, g, row_number() OVER (PARTITION BY vec_id ORDER BY gcos DESC, g) AS grn FROM ha1),
       |hg1 AS (SELECT vec_id, v, nrm, label, g FROM hr1 WHERE grn = 1),
       |ha2 AS (SELECT hg1.vec_id, hg1.v, hg1.nrm, hg1.label, s.c_id, list_inner_product(hg1.v, s.cv) / (hg1.nrm * s.cn) AS ccos FROM hg1 JOIN hgseed s ON s.g = hg1.g),
       |hr2 AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ha2),
       |hasn AS (SELECT vec_id, v, nrm, label, cell FROM hr2 WHERE arn = 1),
       |$perNp""".stripMargin
  }

  /** The full ANN-recall CTE chain (exact top-3 + all six approximate
    * paths + per-(query, method) hit counts), parameterized on the
    * embedding CTE so s4 (raw vectors) and s7 (planted clusters) share
    * one SQL body. Ends with `qs` / `mth` / `h` ready for a final
    * SELECT. */
  private def annRecallCtes(cte: String): String =
    s"""WITH $cte,
       |$pqCte,
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE label = 1),
       |xp AS (SELECT q_id, vec_id AS n_id, list_inner_product(qv, v) / (qn * nrm) AS c FROM q JOIN n ON vec_id <> q_id),
       |xr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM xp),
       |exact AS (SELECT q_id, n_id FROM xr WHERE rnk <= 3),
       |bkt AS (SELECT vec_id, v, nrm, label, $bucketSql AS bucket FROM n),
       |bq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM bkt WHERE label = 1),
       |bp AS (SELECT q_id, b.vec_id AS n_id, list_inner_product(qv, b.v) / (qn * b.nrm) AS c FROM bq q JOIN bkt b USING (bucket) WHERE b.vec_id <> q_id),
       |br AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM bp),
       |btop AS (SELECT q_id, n_id FROM br WHERE rnk <= 3),
       |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
       |ac AS (SELECT n.vec_id, n.v, n.nrm, n.label, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
       |ar AS (SELECT vec_id, v, nrm, label, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
       |asn AS (SELECT vec_id, v, nrm, label, cell FROM ar WHERE arn = 1),
       |iq AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM asn WHERE label = 1),
       |ip AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM iq q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
       |ir AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM ip),
       |itop AS (SELECT q_id, n_id FROM ir WHERE rnk <= 3),
       |${Seq(2, 4).map(np =>
          s"""iq$np AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell FROM ar WHERE label = 1 AND arn <= $np),
             |ip$np AS (SELECT q.q_id, a.vec_id AS n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM iq$np q JOIN asn a USING (cell) WHERE a.vec_id <> q.q_id),
             |ir$np AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM ip$np),
             |itop$np AS (SELECT q_id, n_id FROM ir$np WHERE rnk <= 3)""".stripMargin).mkString("", ",\n", ",")}
       |pqp AS (SELECT q.q_id, e.vec_id AS n_id, ${adcSql("q.qv", "e.codes")} / (q.qn * e.rnrm) AS c FROM q JOIN enc e ON e.vec_id <> q.q_id CROSS JOIN cbn),
       |pqr AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM pqp),
       |pqtop AS (SELECT q_id, n_id FROM pqr WHERE rnk <= 3),
       |fpq AS (SELECT a.vec_id, a.label, a.cell, e.codes, e.rnrm FROM asn a JOIN enc e USING (vec_id)),
       |fp AS (SELECT q.q_id, f.vec_id AS n_id, ${adcSql("q.qv", "f.codes")} / (q.qn * f.rnrm) AS c FROM iq q JOIN fpq f USING (cell) CROSS JOIN cbn WHERE f.vec_id <> q.q_id),
       |fr AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM fp),
       |ftop AS (SELECT q_id, n_id FROM fr WHERE rnk <= 3),
       |rrs AS (SELECT q_id, n_id FROM fr WHERE rnk <= ${SimilarityOps.RerankR}),
       |rrx AS (SELECT s.q_id, s.n_id, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM rrs s JOIN iq q ON q.q_id = s.q_id JOIN asn a ON a.vec_id = s.n_id),
       |rrr AS (SELECT q_id, n_id, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM rrx),
       |rrtop AS (SELECT q_id, n_id FROM rrr WHERE rnk <= 3),
       |$residualPqCtes,
       |rtop AS (SELECT q_id, n_id FROM rr2 WHERE rnk <= 3),
       |$hierRecallCtes,
       |appr AS (SELECT q_id, n_id, 'bucket' AS method FROM btop UNION ALL SELECT q_id, n_id, 'ivf' AS method FROM itop UNION ALL SELECT q_id, n_id, 'ivf_np2' AS method FROM itop2 UNION ALL SELECT q_id, n_id, 'ivf_np4' AS method FROM itop4 UNION ALL SELECT q_id, n_id, 'pq' AS method FROM pqtop UNION ALL SELECT q_id, n_id, 'ivfpq' AS method FROM ftop UNION ALL SELECT q_id, n_id, 'ivfpq_res' AS method FROM rtop UNION ALL SELECT q_id, n_id, 'ivfpq_rr' AS method FROM rrtop UNION ALL SELECT q_id, n_id, 'hier' AS method FROM htop1 UNION ALL SELECT q_id, n_id, 'hier_np2' AS method FROM htop2),
       |qs AS (SELECT DISTINCT q_id FROM exact),
       |mth AS (SELECT unnest(['bucket', 'hier', 'hier_np2', 'ivf', 'ivf_np2', 'ivf_np4', 'pq', 'ivfpq', 'ivfpq_res', 'ivfpq_rr']) AS method),
       |h AS (SELECT a.q_id, a.method, count(*) AS hits FROM appr a JOIN exact x ON x.q_id = a.q_id AND x.n_id = a.n_id GROUP BY 1, 2)""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for x2_ml_score (model training is
    * not SQL-expressible → rows-only check). */
  def oracleSql: Map[String, String] = Map(
    "q01_scan_filter" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'click' AND value > 10 ORDER BY event_id",
    "q02_cast_projection" ->
      "SELECT event_id, CAST(FLOOR(value) AS BIGINT) AS v, UPPER(event_type) AS t FROM events ORDER BY event_id",
    "q03_class_share" ->
      "SELECT event_type, CAST(count(*) AS BIGINT) AS cnt, round(CAST(count(*) AS DOUBLE) / CAST(sum(count(*)) OVER () AS DOUBLE), 4) AS share FROM events GROUP BY event_type ORDER BY event_type",
    "q04_weighted_share" ->
      """WITH s AS (SELECT event_type, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value FROM events GROUP BY event_type)
        |SELECT event_type, total_value, round(total_value / sum(total_value) OVER (), 4) AS share FROM s ORDER BY event_type""".stripMargin,
    "q05_topk_other" ->
      """WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
        |r AS (SELECT event_type, n, row_number() OVER (ORDER BY n DESC, event_type) AS rn FROM c)
        |SELECT CASE WHEN rn <= 3 THEN event_type ELSE 'Other' END AS bucket, CAST(sum(n) AS BIGINT) AS cnt FROM r GROUP BY 1 ORDER BY cnt DESC, bucket""".stripMargin,
    "q06_two_dim_pct" ->
      """WITH c AS (SELECT event_type, CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS vclass, count(*) AS n FROM events GROUP BY 1, 2)
        |SELECT event_type, vclass, CAST(n AS BIGINT) AS cnt, round(CAST(n AS DOUBLE) * 100.0 / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 4) AS pct FROM c ORDER BY event_type, vclass""".stripMargin,
    "q07_tumbling_window" ->
      "SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS w_start, CAST(count(*) AS BIGINT) AS cnt, CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value FROM events GROUP BY 1 ORDER BY 1",
    "q08_sliding_window" ->
      """WITH e AS (SELECT CAST(FLOOR(epoch(ts)/300)*300 AS BIGINT) AS s0, event_type FROM events),
        |u AS (SELECT s0 AS w_start, event_type FROM e UNION ALL SELECT s0 - 300, event_type FROM e)
        |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q09_session_window" -> q09SessionSql,
    "q10_dedup_events" ->
      """WITH r AS (SELECT user_id, event_type, event_id, row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn FROM events)
        |SELECT user_id, event_type, event_id FROM r WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    "q11_join_3way" ->
      "SELECT n_name, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue, CAST(count(*) AS BIGINT) AS n_orders FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name",
    "q12_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        |CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00' GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q13_semi_anti" ->
      """SELECT * FROM (
        |SELECT 'with_orders' AS k, CAST(count(*) AS BIGINT) AS cnt FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'without_orders' AS k, CAST(count(*) AS BIGINT) AS cnt FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        |) ORDER BY k""".stripMargin,
    "q14_rank_in_group" ->
      """WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM orders)
        |SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q15_running_agg" ->
      "SELECT o_custkey, o_orderkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum FROM orders ORDER BY o_custkey, o_orderkey",
    "q16_rollup" ->
      """SELECT CASE WHEN GROUPING(r_name) = 1 THEN 'ALL' ELSE r_name END AS region_name,
        |CASE WHEN GROUPING(n_name) = 1 THEN 'ALL' ELSE n_name END AS nation_name,
        |CAST(count(*) AS BIGINT) AS cnt,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name) ORDER BY region_name, nation_name""".stripMargin,
    "q17_distinct_exact" ->
      "SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS dusers FROM events GROUP BY event_type ORDER BY event_type",
    "q18_set_ops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT * FROM (
        |SELECT 'except' AS op, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        |UNION ALL SELECT 'intersect' AS op, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)
        |UNION ALL SELECT 'union' AS op, CAST(count(*) AS BIGINT) AS cnt FROM (SELECT user_id FROM c UNION SELECT user_id FROM p)
        |) ORDER BY op""".stripMargin,
    "q19_scalar_suite" ->
      """SELECT o_orderkey, substr(o_orderpriority, 1, 3) AS pri3, strftime(o_orderdate, '%Y-%m') AS order_month,
        |CAST(year(o_orderdate) AS BIGINT) AS order_year, CAST(length(o_orderstatus) AS BIGINT) AS status_len,
        |CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor, concat_ws('-', o_orderstatus, o_orderpriority) AS status_pri,
        |coalesce(o_orderstatus, '?') AS status_nn FROM orders ORDER BY o_orderkey""".stripMargin,
    "q20_text_dedup" ->
      "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, CAST(count(DISTINCT trim(lower(regexp_replace(text, '\\s+', ' ', 'g')))) AS BIGINT) AS n_uniq FROM documents GROUP BY lang, source ORDER BY lang, source",
    "q21_token_stats" ->
      """WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM t GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q22_knn_cosine" ->
      s"""WITH $embCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE label = 1),
         |p AS (SELECT q_id, vec_id AS n_id, list_inner_product(qv, v) / (qn * nrm) AS c FROM q JOIN n ON vec_id <> q_id),
         |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
         |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "q23_json_props" ->
      "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY k ORDER BY k",
    "q24_stream_score" ->
      "SELECT CASE WHEN value > 100 THEN 'flagged' ELSE 'normal' END AS label, event_type, CAST(count(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2 ORDER BY label, event_type",
    "q25_asof_join" ->
      """WITH e AS (SELECT user_id, ts, event_id, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag FROM events WHERE event_type IN ('click', 'purchase')),
        |w AS (SELECT user_id, ts, event_id, tag,
        |last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER win AS click_id,
        |last_value(CASE WHEN tag = 0 THEN ts END IGNORE NULLS) OVER win AS click_ts
        |FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, tag, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT event_id AS purchase_id, user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_p, click_id,
        |CAST(FLOOR(epoch(click_ts)) AS BIGINT) AS ts_c,
        |CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(click_ts)) AS BIGINT) AS lag_sec
        |FROM w WHERE tag = 1 ORDER BY purchase_id""".stripMargin,
    "q26_range_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q27_cube" ->
      """WITH e AS (SELECT event_type, CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS vclass, value FROM events)
        |SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS etype,
        |CASE WHEN GROUPING(vclass) = 1 THEN 'ALL' ELSE vclass END AS vclass,
        |CAST(count(*) AS BIGINT) AS cnt,
        |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY CUBE(event_type, vclass) ORDER BY etype, vclass""".stripMargin,
    "q28_pivot" ->
      """SELECT event_type,
        |CAST(count(*) FILTER (WHERE value >= 100) AS BIGINT) AS n_high,
        |CAST(count(*) FILTER (WHERE value < 100) AS BIGINT) AS n_low
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q29_moment_stats" ->
      """WITH b AS (SELECT event_type, value, CAST(hour(ts) AS DOUBLE) AS h FROM events),
        |m AS (SELECT event_type, count(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE) AS sx,
        |CAST(SUM(CAST(value * value AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
        |CAST(SUM(CAST(h AS DECIMAL(28,8))) AS DOUBLE) AS sh,
        |CAST(SUM(CAST(h * h AS DECIMAL(28,8))) AS DOUBLE) AS shh,
        |CAST(SUM(CAST(value * h AS DECIMAL(28,8))) AS DOUBLE) AS sxh
        |FROM b GROUP BY event_type),
        |v AS (SELECT event_type, n, greatest(sxx - sx*sx/n, 0.0) AS vx, greatest(shh - sh*sh/n, 0.0) AS vh, sxh - sx*sh/n AS cov FROM m)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |CASE WHEN n = 1 THEN NULL ELSE round(sqrt(vx / (n - 1)), 4) END AS value_stddev,
        |CASE WHEN vx = 0.0 OR vh = 0.0 THEN NULL ELSE round(cov / (sqrt(vx) * sqrt(vh)), 4) END AS value_hour_corr
        |FROM v ORDER BY event_type""".stripMargin,
    "q30_collect_types" ->
      """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types,
        |CAST(count(*) AS BIGINT) AS n_events
        |FROM events WHERE event_type IS NOT NULL GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q31_lag_lead" ->
      """SELECT event_id, user_id,
        |CAST(FLOOR(epoch(ts)) AS BIGINT) - CAST(FLOOR(epoch(lag(ts, 1) OVER w)) AS BIGINT) AS gap_sec,
        |lead(event_type, 1) OVER w AS next_type
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) ORDER BY event_id""".stripMargin,
    "q32_percentiles" ->
      """SELECT event_type,
        |round(quantile_cont(value, 0.5), 4) AS p50,
        |round(quantile_cont(value, 0.9), 4) AS p90,
        |round(quantile_cont(value, 0.99), 4) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q33_grouping_sets" ->
      """WITH e AS (SELECT event_type, CASE WHEN value >= 100 THEN 'high' ELSE 'low' END AS vclass, value FROM events)
        |SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS etype,
        |CASE WHEN GROUPING(vclass) = 1 THEN 'ALL' ELSE vclass END AS vclass,
        |CAST(count(*) AS BIGINT) AS cnt,
        |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM e GROUP BY GROUPING SETS ((event_type), (vclass), ()) ORDER BY etype, vclass""".stripMargin,
    "q34_rank_family" ->
      """SELECT event_id, event_type,
        |round(percent_rank() OVER w, 4) AS prank,
        |round(cume_dist() OVER w, 4) AS cdist,
        |CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id) ORDER BY event_id""".stripMargin,
    "q35_salted_join" ->
      """WITH m AS (SELECT event_type, CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS DOUBLE) AS mean_value
        |FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, round(e.value - m.mean_value, 4) AS dev
        |FROM events e JOIN m USING (event_type) ORDER BY e.event_id""".stripMargin,
    "q36_regional_revenue" ->
      """SELECT n_name,
        |CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |AND r_name = 'ASIA'
        |AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q37_stream_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id
        |FROM events c JOIN events p
        |ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
        |AND c.ts >= p.ts - INTERVAL 10 MINUTE AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin,
    "q38_static_enrich" ->
      """SELECT c_mktsegment, event_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment, event_type ORDER BY c_mktsegment, event_type""".stripMargin,
    "q39_hof_battery" ->
      """WITH e AS (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings)
        |SELECT vec_id,
        |CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |round(list_aggregate(list_transform(dv, x -> abs(x)), 'sum'), 4) AS l1,
        |round(list_inner_product(dv, list_reverse(dv)), 4) AS revdot,
        |round(list_aggregate(dv[1:8], 'sum'), 4) AS head8_sum,
        |CAST(list_sort(embedding)[32] AS DOUBLE) AS sorted32
        |FROM e ORDER BY vec_id""".stripMargin,
    "q40_sample_split" ->
      """WITH t AS (SELECT event_type,
        |CASE WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::UBIGINT % 10 <= 6 THEN 'train'
        |     WHEN ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))::UBIGINT % 10 <= 8 THEN 'val'
        |     ELSE 'test' END AS split,
        |CASE WHEN ('0x' || substr(md5('s|' || CAST(event_id AS VARCHAR)), 1, 4))::UBIGINT % 5 = 0 THEN 1 ELSE 0 END AS in_sample
        |FROM events)
        |SELECT event_type, split, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(in_sample) AS BIGINT) AS n_sampled
        |FROM t GROUP BY event_type, split ORDER BY event_type, split""".stripMargin,
    "q41_multiset_ops" ->
      """WITH a AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b)
        |SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS cnt, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM e
        |UNION ALL SELECT 'intersect_all', count(*), count(DISTINCT user_id) FROM i
        |UNION ALL SELECT 'union_all', count(*), count(DISTINCT user_id) FROM u
        |ORDER BY op""".stripMargin,
    "q42_date_battery" ->
      """SELECT o_orderkey,
        |strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
        |CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow,
        |CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week,
        |strftime(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH, '%Y-%m-%d') AS next_month,
        |CAST(datediff('day', date_trunc('month', o_orderdate), o_orderdate) AS BIGINT) AS day_in_month
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q43_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 2 * (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q44_window_frames" ->
      """SELECT event_id, user_id,
        |round(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER wr AS DOUBLE) / (COUNT(*) OVER wr), 4) AS mavg4,
        |CAST(COUNT(*) OVER wv AS BIGINT) AS n_within_100
        |FROM events
        |WINDOW wr AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
        |wv AS (PARTITION BY user_id ORDER BY value RANGE BETWEEN 100 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "d7_edit_distance" -> editDistSql,
    "d1_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS dup_cnt FROM documents GROUP BY trim(lower(regexp_replace(text, '\\s+', ' ', 'g'))) ORDER BY keep_id",
    "d2_dedup_ngram_jaccard" ->
      s"""WITH $shingleCte,
         |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= ${DedupOps.MaxShingleDf}),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id FROM rare f JOIN sh a ON a.s = f.s JOIN sh b ON b.s = f.s AND a.doc_id < b.doc_id),
         |pr AS (SELECT c.a_id, c.b_id, count(*) AS i FROM cand c JOIN sh s1 ON s1.doc_id = c.a_id JOIN sh s2 ON s2.doc_id = c.b_id AND s2.s = s1.s GROUP BY 1, 2)
         |SELECT a_id, b_id, round(CAST(i AS DOUBLE) / (x.n + y.n - i), 4) AS jaccard
         |FROM pr JOIN sz x ON x.doc_id = a_id JOIN sz y ON y.doc_id = b_id
         |WHERE CAST(i AS DOUBLE) / (x.n + y.n - i) >= 0.5 ORDER BY a_id, b_id""".stripMargin,
    "d3_dedup_minhash_lsh" -> minhashSql,
    // d12 is d3 run incrementally over a replayed stream; stream ≡ batch
    // means the SAME oracle must match, and checking it against d3's SQL
    // is exactly the equivalence claim.
    "d12_stream_minhash" -> minhashSql,
    // d19 compacts d12's band/shingle stores MID-STREAM and keeps
    // emitting — compaction must be invisible to the first-arrival
    // joins, so the oracle is d3/d12's SQL verbatim (shared string)
    "d19_band_compact" -> minhashSql,
    "d10_dup_clusters" -> dupClustersSql,
    "d11_dedup_impact" -> dedupImpactSql,
    "t12_chunking" -> {
      val (c, st) = (TextOps.ChunkTokens, TextOps.ChunkStride)
      s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
         |s AS (SELECT doc_id, ts, unnest(range(0, len(ts), $st)) AS st FROM tok WHERE len(ts) > 0)
         |SELECT doc_id, CAST(st / $st AS BIGINT) AS chunk_no, CAST(st AS BIGINT) AS start_tok,
         |CAST(least(len(ts) - st, $c) AS BIGINT) AS n_tok,
         |md5(array_to_string(list_slice(ts, st + 1, st + $c), ' ')) AS chunk_md5
         |FROM s ORDER BY doc_id, chunk_no""".stripMargin
    },
    "t13_seq_packing" -> {
      val (b, sd) = (TextOps.SeqTokens, TextOps.ShardDocs)
      s"""WITH tok AS (SELECT source, doc_id, CAST(doc_id // $sd AS BIGINT) AS shard,
         |CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tok FROM documents),
         |p AS (SELECT source, doc_id, shard, n_tok,
         |CAST(coalesce(sum(n_tok) OVER (PARTITION BY source, shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
         |FROM tok WHERE n_tok > 0)
         |SELECT source, shard, doc_id, n_tok, start_tok,
         |CAST(start_tok // $b AS BIGINT) AS first_seq,
         |CAST((start_tok + n_tok - 1) // $b AS BIGINT) AS last_seq,
         |CAST((start_tok + n_tok - 1) // $b - start_tok // $b + 1 AS BIGINT) AS n_seqs
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "t14_mix_sample" -> {
      val (m, mul) = (TextOps.MixHashMod, TextOps.MixHashMul)
      s"""WITH d AS (SELECT source, doc_id, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w FROM documents),
         |cnt AS (SELECT source, min(w) AS w, count(*) AS n_docs FROM d GROUP BY source),
         |c AS (SELECT min(n_docs / w) AS c FROM cnt),
         |r AS (SELECT source, w, n_docs, least(1.0, w * c.c / n_docs) AS rate FROM cnt, c)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(CASE WHEN CAST(d.doc_id % $m * $mul % $m AS DOUBLE) < r.rate * $m THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |round(min(r.rate), 6) AS rate
         |FROM d JOIN r ON r.source = d.source GROUP BY d.source ORDER BY d.source""".stripMargin
    },
    "t15_source_overlap" ->
      """WITH tk AS (SELECT source, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
        |gs AS (SELECT DISTINCT source, unnest(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5]))) AS g FROM tk WHERE len(ts) >= 5),
        |sz AS (SELECT source, count(*) AS n FROM gs GROUP BY source),
        |pr AS (SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_shared FROM gs a JOIN gs b ON a.g = b.g AND a.source < b.source GROUP BY 1, 2)
        |SELECT x.source AS source_a, y.source AS source_b, x.n AS n_grams_a, y.n AS n_grams_b,
        |CAST(coalesce(pr.n_shared, 0) AS BIGINT) AS n_shared,
        |round(CAST(coalesce(pr.n_shared, 0) AS DOUBLE) / (x.n + y.n - coalesce(pr.n_shared, 0)), 6) AS jaccard
        |FROM sz x JOIN sz y ON x.source < y.source LEFT JOIN pr ON pr.source_a = x.source AND pr.source_b = y.source
        |ORDER BY source_a, source_b""".stripMargin,
    // integer familiarity keeps the corpus-trained model hash-exact: no
    // float log whose libm could differ between the JVM and DuckDB
    "t16_char_lm_score" ->
      """WITH nd AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z ]', '', 'g') AS norm FROM documents),
        |nd2 AS (SELECT doc_id, norm FROM nd WHERE len(norm) >= 2),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(norm)), i -> norm[i:i+1])) AS g FROM nd2),
        |model AS (SELECT g, count(*) AS cnt FROM bg GROUP BY g),
        |sc AS (SELECT bg.doc_id, count(*) AS n_bigrams, sum(model.cnt) AS familiarity FROM bg JOIN model USING (g) GROUP BY bg.doc_id)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, CAST(familiarity AS BIGINT) AS familiarity,
        |round(CAST(familiarity AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 4) AS mean_fam
        |FROM sc ORDER BY doc_id""".stripMargin,
    // the composed funnel: every stage's CTE is the SAME derivation its
    // standalone oracle uses (tok/sh/cand/lab from the d3→d10 chain, the
    // gopher metrics from t10's mirror, the gram overlap from d8's), so
    // a drift in any stage shows up here too
    "p1_pipeline" -> {
      s"""WITH RECURSIVE $dupClusterCte,
         |$funnelHeadCtes,
         |gg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
         |ctd AS (SELECT DISTINCT t2.doc_id FROM gg t2 JOIN (SELECT DISTINCT g FROM gg WHERE doc_id % ${DedupOps.EvalMod} = 0) e2 ON e2.g = t2.g WHERE t2.doc_id % ${DedupOps.EvalMod} <> 0),
         |st AS (SELECT e.lang, e.source, e.wc, CASE WHEN e.doc_id <> e.min_id THEN 'exact' WHEN lab.cluster_id IS NOT NULL AND lab.cluster_id <> e.doc_id THEN 'near' WHEN ctd.doc_id IS NOT NULL THEN 'contam' ELSE 'kept' END AS stage FROM elig e LEFT JOIN lab ON lab.doc_id = e.doc_id LEFT JOIN ctd ON ctd.doc_id = e.doc_id),
         |hd AS (SELECT lang, source, count(*) AS n_docs, sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS n_eval, sum(CASE WHEN NOT is_eval AND NOT q THEN 1 ELSE 0 END) AS n_fail_quality FROM fl GROUP BY 1, 2),
         |tl AS (SELECT lang, source, sum(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS n_exact_dup, sum(CASE WHEN stage = 'near' THEN 1 ELSE 0 END) AS n_near_dup, sum(CASE WHEN stage = 'contam' THEN 1 ELSE 0 END) AS n_contam, sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS n_kept, sum(CASE WHEN stage = 'kept' THEN wc ELSE 0 END) AS tok_kept FROM st GROUP BY 1, 2)
         |SELECT hd.lang, hd.source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_eval AS BIGINT) AS n_eval, CAST(n_fail_quality AS BIGINT) AS n_fail_quality,
         |CAST(coalesce(n_exact_dup, 0) AS BIGINT) AS n_exact_dup, CAST(coalesce(n_near_dup, 0) AS BIGINT) AS n_near_dup,
         |CAST(coalesce(n_contam, 0) AS BIGINT) AS n_contam, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, CAST(coalesce(tok_kept, 0) AS BIGINT) AS tok_kept
         |FROM hd LEFT JOIN tl ON tl.lang = hd.lang AND tl.source = hd.source ORDER BY hd.lang, hd.source""".stripMargin
    },
    // p4 replays p1's whole funnel (same CTEs verbatim), keeps the
    // survivors, and packs them in t13's geometry — with the shard's
    // packed token stream DIGESTED (string_agg in doc_id order), so the
    // oracle checks content, not just arithmetic
    "p4_curate_pack" ->
      s"""WITH RECURSIVE $dupClusterCte,
         |$funnelHeadCtes,
         |gg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
         |ctd AS (SELECT DISTINCT t2.doc_id FROM gg t2 JOIN (SELECT DISTINCT g FROM gg WHERE doc_id % ${DedupOps.EvalMod} = 0) e2 ON e2.g = t2.g WHERE t2.doc_id % ${DedupOps.EvalMod} <> 0),
         |kd AS (SELECT e.doc_id, e.source FROM elig e LEFT JOIN lab ON lab.doc_id = e.doc_id LEFT JOIN ctd ON ctd.doc_id = e.doc_id
         |  WHERE e.doc_id = e.min_id AND (lab.cluster_id IS NULL OR lab.cluster_id = e.doc_id) AND ctd.doc_id IS NULL),
         |kt AS (SELECT kd.doc_id, kd.source, kd.doc_id // ${TextOps.ShardDocs} AS shard, array_to_string(t.ts, ' ') AS s, len(t.ts) AS n_tok
         |  FROM kd JOIN tok t ON t.doc_id = kd.doc_id WHERE len(t.ts) > 0)
         |SELECT source, CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |CAST((sum(n_tok) + ${TextOps.SeqTokens - 1}) // ${TextOps.SeqTokens} AS BIGINT) AS n_seqs,
         |md5(string_agg(s, ' ' ORDER BY doc_id)) AS pack_md5
         |FROM kt GROUP BY source, shard ORDER BY source, shard""".stripMargin,
    // p10 composes the full export chain in one closed-form statement:
    // p4's funnel CTEs produce the kept set (kt), p9's weight/budget/
    // prefix CTEs pick the sampled blend over it (the oracle may pay
    // the single per-source window; the engine's two-level prefix sum
    // is exact-equivalent), and p4's pack aggregation digests the
    // survivors in the same (source, shard) geometry
    "p10_sampled_export" ->
      s"""WITH RECURSIVE $sampledBlendCtes
         |SELECT source, CAST(shard AS BIGINT) AS shard, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(n_tok) AS BIGINT) AS n_tok,
         |CAST((sum(n_tok) + ${TextOps.SeqTokens - 1}) // ${TextOps.SeqTokens} AS BIGINT) AS n_seqs,
         |md5(string_agg(s, ' ' ORDER BY doc_id)) AS pack_md5
         |FROM smp GROUP BY source, shard ORDER BY source, shard""".stripMargin,
    // p15 composes the chain a trainer actually consumes: p10's funnel
    // + weight/budget/prefix CTEs (the sampled blend, `smp`, u already
    // derived) feeding p5's shard/fold tail — the same u-range
    // sub-bucket digest fold, over the blend instead of the kept corpus
    "p15_sampled_shuffle" ->
      s"""WITH RECURSIVE $sampledBlendCtes,
         |sb AS (SELECT u % ${PipelineOps.OutShards} AS oshard,
         |  u // ${TextOps.MixHashMod / PipelineOps.MixBuckets} AS sbucket,
         |  count(*) AS b_docs, sum(n_tok) AS b_tok,
         |  md5(string_agg(s, ' ' ORDER BY u, doc_id)) AS sub_md5
         |  FROM smp GROUP BY 1, 2),
         |shg AS (SELECT oshard, sum(b_docs) AS n_docs, sum(b_tok) AS n_tok,
         |  md5(string_agg(sub_md5, ' ' ORDER BY sbucket)) AS pack_md5
         |  FROM sb GROUP BY 1),
         |src AS (SELECT u % ${PipelineOps.OutShards} AS oshard,
         |  count(DISTINCT source) AS n_sources FROM smp GROUP BY 1)
         |SELECT CAST(shg.oshard AS BIGINT) AS oshard,
         |CAST(n_docs AS BIGINT) AS n_docs,
         |CAST(n_sources AS BIGINT) AS n_sources,
         |CAST(n_tok AS BIGINT) AS n_tok,
         |CAST((n_tok + ${TextOps.SeqTokens - 1}) // ${TextOps.SeqTokens} AS BIGINT) AS n_seqs,
         |pack_md5
         |FROM shg JOIN src ON src.oshard = shg.oshard ORDER BY oshard""".stripMargin,
    // p11 replays the streaming blend monitor closed-form: batch
    // membership is the wave rule (doc_id mod Replay.Waves), so the
    // arrived corpus after batch b is {wave <= b}; per (batch, source):
    // totals, t14's weight, the binding source by (tot/w, source), and
    // the integer largest-feasible budget — every ledger row re-derived
    "p11_stream_blend" -> p11BlendSql,
    "p13_stream_sample" -> p13StreamSampleSql,
    // p14 is the keep chain's one-batch-shifted self-diff: adds and
    // evictions per (batch, source) with bucket-folded set digests
    "p14_sample_delta" -> p14SampleDeltaSql,
    // p12 is p11 with the stats store compacted MID-STREAM (x20's fold
    // move with sum for max): the ledger must be byte-identical, so the
    // oracle is p11's SQL verbatim — the fold itself is spec-pinned
    // (StreamEquivSpec asserts the partition-count bounds and ledger
    // equality row-for-row)
    "p12_blend_compact" -> p11BlendSql,
    // p5 replays the same funnel, then the training-order reshuffle:
    // t14's deterministic multiplicative hash orders and shards the kept
    // docs, and each output shard's packed stream is digested in hash
    // order through the same u-range sub-buckets the engine folds —
    // per-(oshard, sbucket) sub-md5s in (u, doc_id) order, then one md5
    // over the bucket-ordered sub-digest list — the integer hash and
    // the fold are both closed-form, so the oracle re-derives the exact
    // permutation AND the exact two-level digest
    "p5_shuffle_shard" ->
      s"""WITH RECURSIVE $dupClusterCte,
         |$funnelHeadCtes,
         |gg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
         |ctd AS (SELECT DISTINCT t2.doc_id FROM gg t2 JOIN (SELECT DISTINCT g FROM gg WHERE doc_id % ${DedupOps.EvalMod} = 0) e2 ON e2.g = t2.g WHERE t2.doc_id % ${DedupOps.EvalMod} <> 0),
         |kd AS (SELECT e.doc_id, e.source FROM elig e LEFT JOIN lab ON lab.doc_id = e.doc_id LEFT JOIN ctd ON ctd.doc_id = e.doc_id
         |  WHERE e.doc_id = e.min_id AND (lab.cluster_id IS NULL OR lab.cluster_id = e.doc_id) AND ctd.doc_id IS NULL),
         |kt AS (SELECT kd.doc_id, kd.source,
         |  kd.doc_id % ${TextOps.MixHashMod} * ${TextOps.MixHashMul} % ${TextOps.MixHashMod} AS u,
         |  array_to_string(t.ts, ' ') AS s, len(t.ts) AS n_tok
         |  FROM kd JOIN tok t ON t.doc_id = kd.doc_id WHERE len(t.ts) > 0),
         |sb AS (SELECT u % ${PipelineOps.OutShards} AS oshard,
         |  u // ${TextOps.MixHashMod / PipelineOps.MixBuckets} AS sbucket,
         |  count(*) AS b_docs, sum(n_tok) AS b_tok,
         |  md5(string_agg(s, ' ' ORDER BY u, doc_id)) AS sub_md5
         |  FROM kt GROUP BY 1, 2),
         |shg AS (SELECT oshard, sum(b_docs) AS n_docs, sum(b_tok) AS n_tok,
         |  md5(string_agg(sub_md5, ' ' ORDER BY sbucket)) AS pack_md5
         |  FROM sb GROUP BY 1),
         |src AS (SELECT u % ${PipelineOps.OutShards} AS oshard,
         |  count(DISTINCT source) AS n_sources FROM kt GROUP BY 1)
         |SELECT CAST(shg.oshard AS BIGINT) AS oshard,
         |CAST(n_docs AS BIGINT) AS n_docs,
         |CAST(n_sources AS BIGINT) AS n_sources,
         |CAST(n_tok AS BIGINT) AS n_tok,
         |CAST((n_tok + ${TextOps.SeqTokens - 1}) // ${TextOps.SeqTokens} AS BIGINT) AS n_seqs,
         |pack_md5
         |FROM shg JOIN src ON src.oshard = shg.oshard ORDER BY oshard""".stripMargin,
    // p6's incremental manifest from the membership rule's closed form:
    // first arrival = lexicographically smallest (batch, doc_id) per
    // digest among eligible docs (ORDER BY bid, doc_id — no packed-key
    // width assumption), packed per (batch, source, shard) with p4's
    // ShardDocs bound — re-deriving every manifest row from scratch IS
    // the incremental ≡ from-scratch claim, digests included
    "p6_incremental_export" -> p6ExportSql,
    // p7 is p6 with the digest store compacted MID-STREAM (d19's move
    // on the export family): the manifest must be byte-identical, so
    // the oracle is p6's SQL verbatim (the swap itself is spec-pinned:
    // StreamEquivSpec asserts the partition-count bound and that
    // cross-phase duplicates were really adjudicated from the
    // consolidated partition)
    "p7_export_compact" -> p6ExportSql,
    // p8 replays the balanced-mixture sample in closed form: t14's
    // multiplicative hash as the preference order, one cumsum window
    // per source (the oracle may pay the skewed window; the engine's
    // two-level prefix sum is exact-equivalent because bucket = a
    // RANGE of u refines the u order), budget = min source token total.
    // The ledger digest folds through the same buckets the engine does:
    // per-(source, bucket) kept-id sub-md5s in (u, doc_id) order, then
    // one md5 over the bucket-ordered sub-digest list — the closed-form
    // replay of the engine's bounded-buffer two-level digest
    "p8_mixture_sample" -> {
      val (mod, mul) = (TextOps.MixHashMod, TextOps.MixHashMul)
      val width = TextOps.MixHashMod / PipelineOps.MixBuckets
      s"""WITH tok AS (SELECT doc_id, source, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tok FROM documents),
         |t AS (SELECT doc_id, source, n_tok, doc_id % $mod * $mul % $mod AS u FROM tok WHERE n_tok > 0),
         |tb AS (SELECT t.*, u // $width AS bucket FROM t),
         |bdg AS (SELECT min(tot) AS budget FROM (SELECT source, sum(n_tok) AS tot FROM t GROUP BY source)),
         |c AS (SELECT tb.*, sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id) AS cum FROM tb),
         |s AS (SELECT c.*, CASE WHEN cum - n_tok < (SELECT budget FROM bdg) THEN 1 ELSE 0 END AS keep FROM c),
         |sb AS (SELECT source, bucket, count(*) AS b_docs, sum(n_tok) AS b_tok,
         |  sum(keep) AS b_docs_sampled,
         |  sum(CASE WHEN keep = 1 THEN n_tok ELSE 0 END) AS b_tok_sampled,
         |  md5(string_agg(CASE WHEN keep = 1 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY u, doc_id)) AS sub_md5
         |  FROM s GROUP BY source, bucket)
         |SELECT source,
         |CAST(sum(b_docs) AS BIGINT) AS n_docs,
         |CAST(sum(b_tok) AS BIGINT) AS n_tok,
         |CAST(sum(b_docs_sampled) AS BIGINT) AS n_docs_sampled,
         |CAST(sum(b_tok_sampled) AS BIGINT) AS n_tok_sampled,
         |md5(string_agg(CASE WHEN b_docs_sampled > 0 THEN sub_md5 END, ',' ORDER BY bucket)) AS sample_md5
         |FROM sb GROUP BY source ORDER BY source""".stripMargin
    },
    // p9 is p8's closed-form replay with t14's weight table attached:
    // the binding source minimizes tot/w (ties to the smallest source
    // name), budget_s = ⌊w_s · tot_m / w_m⌋ in integer arithmetic, the
    // same prefix keep rule and the same bucket-folded digest
    "p9_weighted_mixture" -> {
      val (mod, mul) = (TextOps.MixHashMod, TextOps.MixHashMul)
      val width = TextOps.MixHashMod / PipelineOps.MixBuckets
      s"""WITH tok AS (SELECT doc_id, source, len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tok FROM documents),
         |t AS (SELECT doc_id, source, n_tok, doc_id % $mod * $mul % $mod AS u FROM tok WHERE n_tok > 0),
         |tb AS (SELECT t.*, u // $width AS bucket FROM t),
         |wt AS (SELECT source, CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w, sum(n_tok) AS tot FROM t GROUP BY source),
         |mrow AS (SELECT tot AS tot_m, w AS w_m FROM wt ORDER BY tot * 1.0 / w, source LIMIT 1),
         |bdg AS (SELECT source, w, (w * tot_m) // w_m AS budget FROM wt, mrow),
         |c AS (SELECT tb.*, sum(n_tok) OVER (PARTITION BY source ORDER BY u, doc_id) AS cum FROM tb),
         |s AS (SELECT c.*, b.w, b.budget, CASE WHEN cum - n_tok < b.budget THEN 1 ELSE 0 END AS keep FROM c JOIN bdg b ON b.source = c.source),
         |sb AS (SELECT source, bucket, min(w) AS w, min(budget) AS budget,
         |  count(*) AS b_docs, sum(n_tok) AS b_tok,
         |  sum(keep) AS b_docs_sampled,
         |  sum(CASE WHEN keep = 1 THEN n_tok ELSE 0 END) AS b_tok_sampled,
         |  md5(string_agg(CASE WHEN keep = 1 THEN CAST(doc_id AS VARCHAR) END, ',' ORDER BY u, doc_id)) AS sub_md5
         |  FROM s GROUP BY source, bucket)
         |SELECT source,
         |CAST(min(w) AS BIGINT) AS w,
         |CAST(min(budget) AS BIGINT) AS budget,
         |CAST(sum(b_docs) AS BIGINT) AS n_docs,
         |CAST(sum(b_tok) AS BIGINT) AS n_tok,
         |CAST(sum(b_docs_sampled) AS BIGINT) AS n_docs_sampled,
         |CAST(sum(b_tok_sampled) AS BIGINT) AS n_tok_sampled,
         |md5(string_agg(CASE WHEN b_docs_sampled > 0 THEN sub_md5 END, ',' ORDER BY bucket)) AS sample_md5
         |FROM sb GROUP BY source ORDER BY source""".stripMargin
    },
    // the stream ledger must equal the BATCH derivation of its stages —
    // same funnel-head CTEs as p1, minus the near-dup/contam tail
    "p2_stream_funnel" ->
      s"""WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
         |$funnelHeadCtes,
         |st AS (SELECT lang, source, wc, CASE WHEN doc_id <> min_id THEN 'exact' ELSE 'kept' END AS stage FROM elig),
         |hd AS (SELECT lang, source, count(*) AS n_docs, sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS n_eval, sum(CASE WHEN NOT is_eval AND NOT q THEN 1 ELSE 0 END) AS n_fail_quality FROM fl GROUP BY 1, 2),
         |tl AS (SELECT lang, source, sum(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS n_exact_dup, sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS n_kept, sum(CASE WHEN stage = 'kept' THEN wc ELSE 0 END) AS tok_kept FROM st GROUP BY 1, 2)
         |SELECT hd.lang, hd.source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_eval AS BIGINT) AS n_eval, CAST(n_fail_quality AS BIGINT) AS n_fail_quality,
         |CAST(coalesce(n_exact_dup, 0) AS BIGINT) AS n_exact_dup, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, CAST(coalesce(tok_kept, 0) AS BIGINT) AS tok_kept
         |FROM hd LEFT JOIN tl ON tl.lang = hd.lang AND tl.source = hd.source ORDER BY hd.lang, hd.source""".stripMargin,
    // p3 is the funnel with BOTH tail stages online under first-arrival
    // semantics: near-dup = "a verified pair with a smaller partner
    // exists" (nr = d3's b_ids, the nested prs CTE reusing minhashSql
    // verbatim), contamination = d8's eval-gram overlap — the stream's
    // exact batch replay, stage CASE order matching the per-batch labeler
    "p3_full_funnel" ->
      s"""WITH prs AS ($minhashSql),
         |tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
         |$funnelHeadCtes,
         |gg AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))) AS g FROM tok WHERE len(ts) >= 5),
         |ctd AS (SELECT DISTINCT t2.doc_id FROM gg t2 JOIN (SELECT DISTINCT g FROM gg WHERE doc_id % ${DedupOps.EvalMod} = 0) e2 ON e2.g = t2.g WHERE t2.doc_id % ${DedupOps.EvalMod} <> 0),
         |nr AS (SELECT DISTINCT b_id AS doc_id FROM prs),
         |st AS (SELECT e.lang, e.source, e.wc, CASE WHEN e.doc_id <> e.min_id THEN 'exact' WHEN nr.doc_id IS NOT NULL THEN 'near' WHEN ctd.doc_id IS NOT NULL THEN 'contam' ELSE 'kept' END AS stage FROM elig e LEFT JOIN nr ON nr.doc_id = e.doc_id LEFT JOIN ctd ON ctd.doc_id = e.doc_id),
         |hd AS (SELECT lang, source, count(*) AS n_docs, sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS n_eval, sum(CASE WHEN NOT is_eval AND NOT q THEN 1 ELSE 0 END) AS n_fail_quality FROM fl GROUP BY 1, 2),
         |tl AS (SELECT lang, source, sum(CASE WHEN stage = 'exact' THEN 1 ELSE 0 END) AS n_exact_dup, sum(CASE WHEN stage = 'near' THEN 1 ELSE 0 END) AS n_near_dup, sum(CASE WHEN stage = 'contam' THEN 1 ELSE 0 END) AS n_contam, sum(CASE WHEN stage = 'kept' THEN 1 ELSE 0 END) AS n_kept, sum(CASE WHEN stage = 'kept' THEN wc ELSE 0 END) AS tok_kept FROM st GROUP BY 1, 2)
         |SELECT hd.lang, hd.source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_eval AS BIGINT) AS n_eval, CAST(n_fail_quality AS BIGINT) AS n_fail_quality,
         |CAST(coalesce(n_exact_dup, 0) AS BIGINT) AS n_exact_dup, CAST(coalesce(n_near_dup, 0) AS BIGINT) AS n_near_dup,
         |CAST(coalesce(n_contam, 0) AS BIGINT) AS n_contam, CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept, CAST(coalesce(tok_kept, 0) AS BIGINT) AS tok_kept
         |FROM hd LEFT JOIN tl ON tl.lang = hd.lang AND tl.source = hd.source ORDER BY hd.lang, hd.source""".stripMargin,
    "t10_gopher_rules" -> gopherRulesSql,
    "t11_dup_spans" -> dupSpansSql,
    // t17 is t11's APPLY step — the scrub verdict is integer position
    // arithmetic plus a digest of the surviving stream, all replayable
    "t17_span_scrub" -> spanScrubSql,
    "d6_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
        |SELECT vec_id, round(mn, 4) AS v_min, round(mx, 4) AS v_max,
        |CAST(list_sum(list_transform(v, x -> CASE WHEN mx = mn THEN 0 ELSE CAST(floor((x - mn) * 255.0 / (mx - mn)) AS BIGINT) END)) AS BIGINT) AS code_sum
        |FROM m ORDER BY vec_id""".stripMargin,
    "d4_simhash" -> simhashSql,
    "d9_simhash_near_dup" -> simhashNearDupSql,
    "d8_decontamination" -> decontaminationSql,
    // d14 is d8's answer via a bloom prefilter + exact verify — the
    // sketch can only discard work, never change the result, so the
    // oracle is IDENTICAL by design (shared SQL, not a lookalike copy)
    "d14_bloom_decontam" -> decontaminationSql,
    "d5_embed_near_dup" -> embedNearDupSql,
    // SemDeDup: s3's deterministic quantizer assigns cells, exact cosine
    // within a cell flags pairs, the nearer-to-centroid member drops
    "d15_semdedup" ->
      s"""WITH $semPairCte,
         |vict AS (SELECT cell, victim FROM pp GROUP BY cell, victim),
         |nd AS (SELECT cell, count(*) AS n_dropped FROM vict GROUP BY cell),
         |np AS (SELECT cell, count(*) AS n_pairs FROM pp GROUP BY cell),
         |nv AS (SELECT cell, count(*) AS n_vecs FROM asn GROUP BY cell)
         |SELECT nv.cell AS cell, CAST(nv.n_vecs AS BIGINT) AS n_vecs,
         |CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |CAST(coalesce(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
         |CAST(nv.n_vecs - coalesce(nd.n_dropped, 0) AS BIGINT) AS n_kept
         |FROM nv LEFT JOIN np ON np.cell = nv.cell LEFT JOIN nd ON nd.cell = nv.cell
         |ORDER BY cell""".stripMargin,
    // d18 = d15's pair + ledger tail over s22's two-level assignment:
    // the hierarchical codebook (group means at fixed precision), both
    // argmax levels, then the identical SemDeDup accounting — the cells
    // are the two-level quantizer's own, replayed exactly
    "d18_semdedup_hier" -> {
      s"""WITH $hierSemPairCtes,
         |vict AS (SELECT cell, victim FROM pp GROUP BY cell, victim),
         |nd AS (SELECT cell, count(*) AS n_dropped FROM vict GROUP BY cell),
         |np AS (SELECT cell, count(*) AS n_pairs FROM pp GROUP BY cell),
         |nv AS (SELECT cell, count(*) AS n_vecs FROM asn GROUP BY cell)
         |SELECT nv.cell AS cell, CAST(nv.n_vecs AS BIGINT) AS n_vecs,
         |CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |CAST(coalesce(nd.n_dropped, 0) AS BIGINT) AS n_dropped,
         |CAST(nv.n_vecs - coalesce(nd.n_dropped, 0) AS BIGINT) AS n_kept
         |FROM nv LEFT JOIN np ON np.cell = nv.cell LEFT JOIN nd ON nd.cell = nv.cell
         |ORDER BY cell""".stripMargin
    },
    // d20 = the SAME chain at pair granularity: the stream's per-batch
    // pair union must equal the batch hier SemDeDup pair set exactly
    // (stream ≡ batch, the d12 ≡ d3 move on the semantic family)
    "d20_stream_semdedup" ->
      s"""WITH $hierSemPairCtes
         |SELECT a_id, b_id, round(cs, 4) AS cos_sim, victim
         |FROM pp ORDER BY a_id, b_id""".stripMargin,
    // d21 is d20 with the assigned store compacted MID-STREAM — the
    // ledger must be byte-identical (compaction is query-invisible, the
    // d19/p7/x20/p12 shared-string convention)
    "d21_sem_compact" ->
      s"""WITH $hierSemPairCtes
         |SELECT a_id, b_id, round(cs, 4) AS cos_sim, victim
         |FROM pp ORDER BY a_id, b_id""".stripMargin,
    // d16 = d10's transitive-closure recursion over d15's pair CTEs; the
    // component keeps its min-(ccos, vec_id) member — SemDeDup's rule at
    // group granularity
    "d16_sem_clusters" ->
      s"""WITH RECURSIVE $semPairCte,
         |nodes AS (SELECT a_id AS id FROM pp UNION SELECT b_id FROM pp),
         |edges AS (SELECT a_id AS s, b_id AS d FROM pp UNION SELECT b_id, a_id FROM pp),
         |reach(id, lbl) AS (SELECT id, id FROM nodes UNION SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.id),
         |lab AS (SELECT id AS vec_id, min(lbl) AS cluster_id FROM reach GROUP BY id),
         |k AS (SELECT lab.vec_id, lab.cluster_id, asn.ccos FROM lab JOIN asn ON asn.vec_id = lab.vec_id),
         |r AS (SELECT vec_id, cluster_id, ccos,
         |  row_number() OVER (PARTITION BY cluster_id ORDER BY ccos ASC, vec_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size FROM k)
         |SELECT vec_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size, rn = 1 AS kept
         |FROM r ORDER BY vec_id""".stripMargin,
    // d17 is the SSL-prototypes/D4 pruning rule over the shared
    // assignment chain: rank by centroid-cosine within the cell, cut the
    // top ⌊n/den⌋ — integer arithmetic, so the verdict replays exactly
    "d17_proto_prune" ->
      s"""WITH $semAsnCte,
         |r AS (SELECT vec_id, cell, ccos,
         |  row_number() OVER (PARTITION BY cell ORDER BY ccos DESC, vec_id) AS proto_rank,
         |  count(*) OVER (PARTITION BY cell) AS n FROM asn)
         |SELECT vec_id, cell, round(ccos, 4) AS ccos,
         |CAST(proto_rank AS BIGINT) AS proto_rank,
         |proto_rank > n // ${SimilarityOps.ProtoPruneDen} AS kept
         |FROM r ORDER BY vec_id""".stripMargin,
    // pairs flagged by either modality, with provenance: nested-WITH
    // subqueries reuse the two pair chains verbatim, so d13's oracle IS
    // "d3's oracle ⋈full d5's oracle" by construction
    "d13_consensus_near_dup" ->
      s"""WITH p3 AS ($minhashSql), p5 AS ($embedNearDupSql)
         |SELECT coalesce(p3.a_id, p5.a_id) AS a_id, coalesce(p3.b_id, p5.b_id) AS b_id,
         |CASE WHEN p3.a_id IS NOT NULL AND p5.a_id IS NOT NULL THEN 'both'
         |     WHEN p3.a_id IS NOT NULL THEN 'text' ELSE 'embedding' END AS modality,
         |coalesce(p3.jaccard, -1.0) AS jaccard, coalesce(p5.cos_sim, -1.0) AS cos_sim
         |FROM p3 FULL JOIN p5 ON p3.a_id = p5.a_id AND p3.b_id = p5.b_id
         |ORDER BY a_id, b_id""".stripMargin,
    "s5_ann_pq" -> pqAnnSql,
    "s6_ann_ivfpq" -> ivfPqSql,
    "s8_ann_ivfpq_res" -> ivfPqResSql,
    "s9_ann_rerank" -> ivfPqRerankSql,
    "s2_ann_bucket" ->
      s"""WITH $embCte,
         |bkt AS (SELECT vec_id, v, nrm, label, $bucketSql AS bucket FROM n),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, bucket FROM bkt WHERE label = 1),
         |p AS (SELECT q_id, b.vec_id AS n_id, list_inner_product(qv, b.v) / (qn * b.nrm) AS c FROM q JOIN bkt b USING (bucket) WHERE b.vec_id <> q_id),
         |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
         |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin,
    "s3_ann_ivf" -> s3IvfSql,
    // s19 shares s3's candidate chain; only the final read differs
    // (radius predicate instead of the rank window)
    "s19_ann_radius" -> radiusIvfSql,
    // s21: s3's assignment chain with EVERY vector as a query — the
    // within-cell pair join is two-sided (no broadcast side exists),
    // top-1 read as rank 1 under (c DESC, n_id ASC), matching the
    // engine's (cosine, -n_id) struct max tie-break
    "s21_ann_bulk_probe" ->
      s"""WITH $embCte,
         |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
         |ar AS (SELECT vec_id, v, nrm, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
         |asn AS (SELECT vec_id, v, nrm, cell FROM ar WHERE arn = 1),
         |p AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS c
         |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
         |SELECT q_id, n_id, round(c, 4) AS cos_sim FROM r WHERE rnk = 1 ORDER BY q_id""".stripMargin,
    // s21-topk: the same bulk chain read at depth BulkK — the oracle is
    // s21's SQL with the rank bound widened from 1 to 3 and the rank
    // emitted, the s3 probe family's exact read shape (rnk <= 3 under
    // (c DESC, n_id ASC)); the engine's k-slot fold must reproduce the
    // rank window's answer row for row
    "s21_bulk_topk" ->
      s"""WITH $embCte,
         |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
         |ac AS (SELECT n.vec_id, n.v, n.nrm, s.c_id, list_inner_product(n.v, s.cv) / (n.nrm * s.cn) AS ccos FROM n CROSS JOIN seeds s),
         |ar AS (SELECT vec_id, v, nrm, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
         |asn AS (SELECT vec_id, v, nrm, cell FROM ar WHERE arn = 1),
         |p AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id, list_inner_product(a.v, b.v) / (a.nrm * b.nrm) AS c
         |  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
         |r AS (SELECT q_id, n_id, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
         |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= ${SimilarityOps.BulkK} ORDER BY q_id, rnk""".stripMargin,
    // s22: the two-level quantizer replayed in closed form — group
    // means at CentroidScale decimals (s17's fixed-precision parity),
    // level-1 argmax over the G super-centroids, level-2 argmax within
    // the chosen group, then s3's probe chain verbatim
    "s22_ann_hier" -> s22HierSql,
    "s28_hier_filtered" -> s28HierFilteredSql,
    "s29_hier_radius" -> s29HierRadiusSql,
    // s30 must union to batch s29 exactly — the shared-string move s20
    // makes with s19, lifted to the hier chain
    "s30_hier_radius_alert" -> s29HierRadiusSql,
    // s23 serves batch s22's answer from a STREAM-BUILT hier index
    // store, so the oracle is s22's SQL verbatim (shared string):
    // stream-built ≡ batch-built under the two-level quantizer, the
    // s11 ≡ s3 move
    "s23_stream_hier_ingest" -> s22HierSql,
    "s24_stream_hier_multiprobe" ->
      s24HierMultiprobeSql(graft.streaming.StreamAnnIngest.HierGprobe),
    // s20 is s19 raised incrementally at arrival time — the union of the
    // per-batch alert ledgers must BE the batch radius answer, so the
    // oracle is s19's shared string (the s11 ≡ s3 move for the radius)
    "s20_stream_radius_alert" -> radiusIvfSql,
    // s11 serves s3's answer from a STREAM-BUILT index store, so the
    // oracle is s3's SQL verbatim (shared string): stream-built ≡
    // batch-built is the claim, same pattern as d12 vs d3
    "s11_stream_ann_ingest" -> s3IvfSql,
    // s12 completes the index lifecycle with DELETES: the oracle is s3
    // over the SURVIVING corpus with the ORIGINAL full-set quantizer —
    // deletion semantics (tombstone merge at probe), not a smaller
    // corpus's retrained index. The delete rule mirrors
    // StreamAnnIngest.deleteRequests exactly.
    "s12_stream_ann_delete" -> survivorIvfSql,
    // s13 compacts s12's store (tombstones retired, cells rewritten) —
    // compaction must be query-invisible, so the oracle is s12's SQL
    // verbatim (shared string), same pattern as s11 vs s3
    "s13_ann_compact" -> survivorIvfSql,
    // s14 compacts only a SUBSET of cells and serves from the mixed
    // state (compacted branch anti-join-free, uncompacted branch paying
    // s12's merge); every intermediate compaction state must be
    // query-invisible too, so the oracle is again s12's SQL verbatim
    "s14_ann_partial_compact" -> survivorIvfSql,
    // s15 serves batch s3's nprobe=2 answer from the stream-built store
    // (query-side fan-out only) — the oracle is s3's probe SQL with the
    // query CTE widened to arn <= 2, the s4 battery's np2 move
    "s15_stream_ann_multiprobe" ->
      s3IvfMultiprobeSql(graft.streaming.StreamAnnIngest.MultiNprobe),
    // s16 serves the UPDATED corpus (new versions tombstone their prior
    // physical entry) against the original quantizer — the oracle is s3
    // over the update-rule-rewritten vectors
    "s16_stream_ann_upsert" -> upsertIvfSql,
    // s17 replays the retrain chain in closed form: gen-0 assignment,
    // per-cell dimension-wise means published at CentroidScale decimals
    // (fixed precision keeps the gen-1 codebook bit-identical across
    // engines), gen-1 re-assignment, then s3's probe shape
    "s17_ivf_retrain" -> s17RetrainSql,
    // s25 runs delete + compact over the HIER-ingested store: the
    // oracle is the hier chain over the SURVIVING corpus with the
    // ORIGINAL full-set codebook — s12/s13's survivor move on the
    // two-level quantizer (delete + compact share the one string:
    // compaction must be query-invisible)
    "s25_hier_delete_compact" -> hierSurvivorSql,
    // s26 replays the two-level retrain in closed form: gen-0 hier
    // assignment, per-cell means at CentroidScale decimals, the
    // two-level codebook REBUILT from surviving cells (groups keep
    // ⌊c_id/sub⌋; memberless cells and emptied groups retire), gen-1
    // hier re-assignment, then s3's probe shape
    "s26_hier_retrain" -> s26HierRetrainSql,
    // s27 serves the UPDATED corpus from the hier store (new versions
    // tombstone their prior physical entry by the 3-key address) with
    // the ORIGINAL codebook — the hier chain over upsertIvfSql's
    // corpus-rewrite CTEs
    "s27_hier_upsert" -> hierUpsertSql,
    // s18 is s3's chain with the tenant equality added to the probe
    // join — filtering DURING candidate generation, not after
    "s18_ann_filtered" -> {
      val tm = SimilarityOps.TenantMod
      s"""WITH $embCte,
         |nt AS (SELECT vec_id, v, nrm, label, vec_id % $tm AS tenant FROM n),
         |seeds AS (SELECT vec_id AS c_id, v AS cv, nrm AS cn FROM n WHERE vec_id < ${SimilarityOps.IvfCells}),
         |ac AS (SELECT nt.vec_id, nt.v, nt.nrm, nt.label, nt.tenant, s.c_id, list_inner_product(nt.v, s.cv) / (nt.nrm * s.cn) AS ccos FROM nt CROSS JOIN seeds s),
         |ar AS (SELECT vec_id, v, nrm, label, tenant, c_id AS cell, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, c_id) AS arn FROM ac),
         |asn AS (SELECT vec_id, v, nrm, label, tenant, cell FROM ar WHERE arn = 1),
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, cell, tenant FROM asn WHERE label = 1),
         |p AS (SELECT q.q_id, a.vec_id AS n_id, q.tenant, list_inner_product(q.qv, a.v) / (q.qn * a.nrm) AS c FROM q JOIN asn a ON a.cell = q.cell AND a.tenant = q.tenant WHERE a.vec_id <> q.q_id),
         |r AS (SELECT q_id, n_id, tenant, c, row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rnk FROM p)
         |SELECT q_id, n_id, round(c, 4) AS cos_sim, CAST(rnk AS BIGINT) AS rnk, CAST(tenant AS BIGINT) AS tenant
         |FROM r WHERE rnk <= 3 ORDER BY q_id, rnk""".stripMargin
    },
    "s4_ann_recall" ->
      s"""${annRecallCtes(embCte)}
         |SELECT qs.q_id AS q_id, mth.method AS method, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, round(coalesce(h.hits, 0) / 3.0, 4) AS recall
         |FROM qs CROSS JOIN mth LEFT JOIN h ON h.q_id = qs.q_id AND h.method = mth.method
         |ORDER BY qs.q_id, mth.method""".stripMargin,
    "s7_ann_recall_clustered" ->
      s"""${annRecallCtes(clusteredEmbCte)}
         |SELECT mth.method AS method, CAST(count(*) AS BIGINT) AS n_q, CAST(sum(coalesce(h.hits, 0)) AS BIGINT) AS total_hits,
         |round(CAST(sum(coalesce(h.hits, 0)) AS DOUBLE) / CAST(3 * count(*) AS DOUBLE), 4) AS mean_recall
         |FROM qs CROSS JOIN mth LEFT JOIN h ON h.q_id = qs.q_id AND h.method = mth.method
         |GROUP BY mth.method ORDER BY method""".stripMargin,
    "s10_ann_recall_structured" ->
      s"""${annRecallCtes(structuredEmbCte)}
         |SELECT mth.method AS method, CAST(count(*) AS BIGINT) AS n_q, CAST(sum(coalesce(h.hits, 0)) AS BIGINT) AS total_hits,
         |round(CAST(sum(coalesce(h.hits, 0)) AS DOUBLE) / CAST(3 * count(*) AS DOUBLE), 4) AS mean_recall
         |FROM qs CROSS JOIN mth LEFT JOIN h ON h.q_id = qs.q_id AND h.method = mth.method
         |GROUP BY mth.method ORDER BY method""".stripMargin,
    "t1_lang_id" -> {
      val scores = TextOps.langPatterns.map { case (l, p) =>
        s"len(regexp_extract_all(lower(text), '$p')) AS s_$l"
      }.mkString(", ")
      s"""WITH s AS (SELECT doc_id, $scores FROM documents)
         |SELECT doc_id, CASE
         |WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |WHEN s_es >= s_de AND s_es >= s_fr AND s_es > 0 THEN 'es'
         |WHEN s_de >= s_fr AND s_de > 0 THEN 'de'
         |WHEN s_fr > 0 THEN 'fr'
         |ELSE 'und' END AS pred_lang FROM s ORDER BY doc_id""".stripMargin
    },
    "t2_text_quality" ->
      """WITH b AS (SELECT doc_id, text,
        |list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
        |len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS n_punct,
        |len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|a|is)\b')) AS n_stop FROM documents),
        |m AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
        |CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) AS sum_len,
        |CAST(n_punct AS DOUBLE) AS n_punct, CAST(n_stop AS DOUBLE) AS n_stop,
        |CAST(length(text) AS DOUBLE) AS n_chars FROM b)
        |SELECT doc_id, n_tok, round(sum_len / n_tok, 4) AS avg_tok_len,
        |round(n_punct / n_chars, 4) AS punct_ratio,
        |round(n_stop / n_tok, 4) AS stop_ratio,
        |round(least(CAST(n_tok AS DOUBLE) / 200.0, 1.0) * 0.5 + (n_stop / n_tok) * 0.3 + (1.0 - n_punct / n_chars) * 0.2, 4) AS quality
        |FROM m WHERE n_tok > 0 ORDER BY doc_id""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id,
        |CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents)
        |SELECT doc_id, CASE WHEN len(ts) >= 5
        |THEN list_min(list_transform(range(len(ts) - 4), i -> md5(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5])))
        |ELSE md5(coalesce(list_aggregate(ts, 'string_agg', ' '), '')) END AS fp
        |FROM tok ORDER BY doc_id""".stripMargin,
    "t5_redact" ->
      s"""SELECT doc_id,
         |CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
         |CAST(len(regexp_extract_all(text, '${TextOps.LongNumRe}')) AS BIGINT) AS n_longnums,
         |md5(regexp_replace(regexp_replace(text, '${TextOps.EmailRe}', '<EMAIL>', 'g'), '${TextOps.LongNumRe}', '<NUM>', 'g')) AS redacted_md5
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t6_cms_heavy_hitters" -> {
      val d = TextOps.CmsDepth
      val rs = (0 until d).map(_.toString).mkString(", ")
      s"""WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |h AS (SELECT token, cnt, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM tc CROSS JOIN (SELECT unnest([$rs]) AS r)),
         |counters AS (SELECT r, bucket, sum(cnt) AS c FROM h GROUP BY 1, 2),
         |top AS (SELECT token, cnt FROM tc ORDER BY cnt DESC, token LIMIT 20)
         |SELECT t.token, CAST(t.cnt AS BIGINT) AS cnt, CAST(min(c.c) AS BIGINT) AS cms_est
         |FROM top t JOIN h ON h.token = t.token JOIN counters c ON c.r = h.r AND c.bucket = h.bucket
         |GROUP BY t.token, t.cnt ORDER BY 2 DESC, 1""".stripMargin
    },
    "t7_bigrams" ->
      """WITH tok AS (SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
        |g AS (SELECT unnest(list_transform(range(len(ts) - 1), i -> ts[i+1] || ' ' || ts[i+2])) AS gram FROM tok WHERE len(ts) >= 2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20""".stripMargin,
    "t8_repetition" ->
      """WITH tok AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS ts FROM documents),
        |tri AS (SELECT doc_id, list_transform(range(len(ts) - 2), i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]) AS tg FROM tok WHERE len(ts) >= 3)
        |SELECT doc_id, CAST(len(tg) AS BIGINT) AS n_tri, CAST(len(list_distinct(tg)) AS BIGINT) AS n_uniq_tri,
        |round(1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg), 4) AS dup_ratio
        |FROM tri ORDER BY doc_id""".stripMargin,
    "t9_top_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
        |tc AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfs AS (SELECT token, count(*) AS df FROM tc GROUP BY token),
        |s AS (SELECT tc.doc_id, tc.token, tc.tf, dfs.df, CAST(tc.tf AS DOUBLE) / dfs.df AS score FROM tc JOIN dfs USING (token)),
        |r AS (SELECT doc_id, token, tf, df, score, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk FROM s)
        |SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, round(score, 4) AS score, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "m1_multimodal_meta" ->
      """SELECT doc_id AS media_id, 'text/plain' AS mime, CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
        |lower(substring(hex(encode(text)), 1, 16)) AS head_hex, md5(text) AS content_md5
        |FROM documents ORDER BY media_id""".stripMargin,
    // closed forms of m4's PARSED WAV header fields: the engine builds a
    // spec-conformant RIFF/WAVE container and parses it back; the oracle
    // derives what the parse must find (params are functions of doc_id,
    // data length is the text's byte length, duration is integer-exact)
    "m4_wav_meta" ->
      """SELECT doc_id AS media_id,
        |CAST(1 + doc_id % 2 AS BIGINT) AS n_channels,
        |CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
        |CAST(16 AS BIGINT) AS bit_depth,
        |CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes,
        |CAST((octet_length(encode(text)) * 1000) // (8000 * (1 + doc_id % 3) * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,
    // each sampled row's bytes from closed form: a data slice zero-filled
    // at the tail, digested over its lower-hex rendering (m3's pattern)
    "m6_bmp_row_sample" -> {
      val k = MultimodalOps.RowSampleCount
      val is = (0 until k).map(_.toString).mkString(", ")
      s"""WITH g AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h FROM documents),
         |d AS (SELECT doc_id, w, n, h, greatest((n + w - 1) // w, 1) AS hgt FROM g),
         |f AS (SELECT doc_id, w, n, h, hgt, i, CAST(i * (hgt - 1) // ${k - 1} AS BIGINT) AS ri FROM d CROSS JOIN (SELECT unnest([$is]) AS i)),
         |t AS (SELECT doc_id, i, ri, greatest(least(n - ri * w, w), 0) AS taken, w, h FROM f)
         |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS row_no, ri AS row_idx,
         |md5(substring(h, CAST(2 * ri * w + 1 AS INT), CAST(2 * taken AS INT)) || repeat('00', CAST(w - taken AS INT))) AS row_md5
         |FROM t ORDER BY media_id, row_no""".stripMargin
    },
    // each sampled window's SIGNED int16 samples from closed form:
    // hex-nibble byte recovery, little-endian pairing (lo + 256·hi),
    // two's-complement fold at 32768 — an endianness, sign, block-align,
    // or seek bug in the engine's ranged decode breaks the energy sum
    "m7_wav_window_energy" -> {
      // window constants interpolated from the engine's own values so a
      // future WinCount/WinFrames change cannot desynchronize the oracle
      val wf = MultimodalOps.WinFrames
      val lastWin = MultimodalOps.WinCount - 1
      val wins = (0 until MultimodalOps.WinCount).mkString(", ")
      s"""WITH g AS (SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h, (1 + doc_id % 2) AS ch FROM documents),
        |d AS (SELECT doc_id, n, h, ch, 2 * ch AS ba, n // (2 * ch) AS nf FROM g),
        |w AS (SELECT doc_id, h, ch, ba, nf, i,
        |             CAST(i * greatest(nf - $wf, 0) // $lastWin AS BIGINT) AS start,
        |             least($wf, nf - i * greatest(nf - $wf, 0) // $lastWin) AS take
        |      FROM d CROSS JOIN (SELECT unnest([$wins]) AS i)),
        |s AS (SELECT doc_id, h, i, start, CAST(take * ch AS BIGINT) AS ns, start * ba AS boff FROM w),
        |sj AS (SELECT doc_id, i, boff, h, unnest(range(ns)) AS j FROM s),
        |v AS (SELECT doc_id, i,
        |             (strpos('0123456789ABCDEF', substring(h, CAST(2*(boff + 2*j)+1 AS INT), 1)) - 1) * 16
        |             + strpos('0123456789ABCDEF', substring(h, CAST(2*(boff + 2*j)+2 AS INT), 1)) - 1
        |             + 256 * ((strpos('0123456789ABCDEF', substring(h, CAST(2*(boff + 2*j+1)+1 AS INT), 1)) - 1) * 16
        |                      + strpos('0123456789ABCDEF', substring(h, CAST(2*(boff + 2*j+1)+2 AS INT), 1)) - 1) AS u
        |      FROM sj),
        |e AS (SELECT doc_id, i, sum(CASE WHEN u >= 32768 THEN (u - 65536) * (u - 65536) ELSE u * u END) AS energy
        |      FROM v GROUP BY 1, 2)
        |SELECT s.doc_id AS media_id, CAST(s.i AS BIGINT) AS win_no, s.start AS start_frame,
        |       s.ns AS n_samples, CAST(coalesce(e.energy, 0) AS BIGINT) AS energy
        |FROM s LEFT JOIN e ON e.doc_id = s.doc_id AND e.i = s.i
        |ORDER BY media_id, win_no""".stripMargin
    },
    // every m10 thumbnail slot from closed form: frame fi = k·nf//T maps
    // slot k to data byte offset fi·blockAlign, hex-nibble recovery +
    // LE pairing + two's-complement fold give the signed sample, and the
    // digest replays the engine's lower-hex rendering of the read byte
    // pairs in slot order (constants interpolated from AudioThumb)
    "m10_wav_thumbnail" -> {
      val t = MultimodalOps.AudioThumb
      s"""WITH g AS (SELECT doc_id, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h, (1 + doc_id % 2) AS ch FROM documents),
         |d AS (SELECT doc_id, n, h, ch, 2 * ch AS ba, n // (2 * ch) AS nf FROM g),
         |s AS (SELECT doc_id, h, ba, nf, unnest(range($t)) AS k FROM d WHERE nf >= 1),
         |v AS (SELECT doc_id, nf, k,
         |  (strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba)+1 AS INT), 1)) - 1) * 16
         |  + strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba)+2 AS INT), 1)) - 1 AS lo,
         |  (strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba+1)+1 AS INT), 1)) - 1) * 16
         |  + strpos('0123456789abcdef', substring(h, CAST(2*(k*nf//$t*ba+1)+2 AS INT), 1)) - 1 AS hi,
         |  substring(h, CAST(2*(k*nf//$t*ba)+1 AS INT), 4) AS bh
         |  FROM s),
         |a AS (SELECT doc_id,
         |  sum(CASE WHEN lo + 256*hi >= 32768 THEN lo + 256*hi - 65536 ELSE lo + 256*hi END) AS ssum,
         |  md5(string_agg(bh, '' ORDER BY k)) AS tmd5
         |  FROM v GROUP BY doc_id)
         |SELECT d.doc_id AS media_id, CAST(d.nf AS BIGINT) AS n_frames,
         |CAST(CASE WHEN d.nf >= 1 THEN $t ELSE 0 END AS BIGINT) AS thumb_n,
         |CAST(coalesce(a.ssum, 0) AS BIGINT) AS sample_sum,
         |coalesce(a.tmd5, md5('')) AS thumb_md5
         |FROM d LEFT JOIN a ON a.doc_id = d.doc_id ORDER BY media_id""".stripMargin
    },
    // m11's audit ledger from the corruption rule's closed form — the
    // gate's claim is precisely that the real parser's classification
    // agrees with this prediction on every doc (constants interpolated
    // from the engine's rule)
    "m11_wav_audit" -> {
      val m = MultimodalOps.CorruptMod
      val bm = MultimodalOps.BadMagicResidue
      val ov = MultimodalOps.OverrunResidue
      s"""WITH c AS (SELECT doc_id, octet_length(encode(text)) AS n,
         |  CASE WHEN doc_id % $m = $bm THEN 'bad_magic' WHEN doc_id % $m = $ov THEN 'overrun' ELSE 'ok' END AS outcome FROM documents)
         |SELECT outcome, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(CASE WHEN outcome = 'ok' THEN n ELSE 0 END) AS BIGINT) AS data_bytes
         |FROM c GROUP BY outcome ORDER BY outcome""".stripMargin
    },
    // m12: m11's audit prediction for the BMP family — ok pixel mass is
    // width × height from the build rule's closed form
    "m12_bmp_audit" -> {
      val m = MultimodalOps.BmpCorruptMod
      val bm = MultimodalOps.BmpBadMagicResidue
      val ov = MultimodalOps.BmpOverrunResidue
      s"""WITH c AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n,
         |  CASE WHEN doc_id % $m = $bm THEN 'bad_magic' WHEN doc_id % $m = $ov THEN 'overrun' ELSE 'ok' END AS outcome FROM documents),
         |d AS (SELECT doc_id, outcome, w * greatest((n + w - 1) // w, 1) AS px FROM c)
         |SELECT outcome, CAST(count(*) AS BIGINT) AS n_docs,
         |CAST(sum(CASE WHEN outcome = 'ok' THEN px ELSE 0 END) AS BIGINT) AS px_total
         |FROM d GROUP BY outcome ORDER BY outcome""".stripMargin
    },
    // every parsed BMP field from its closed form; pixel_sum from the raw
    // bytes (hex-nibble recovery — DuckDB substring can't slice BLOBs),
    // pad pixels contribute zero by construction
    "m5_bmp_meta" ->
      """WITH g AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n, hex(encode(text)) AS h FROM documents),
        |d AS (SELECT doc_id, w, n, h, greatest((n + w - 1) // w, 1) AS hgt, ((w + 3) // 4) * 4 AS stride FROM g),
        |s AS (SELECT doc_id, coalesce(sum((strpos('0123456789ABCDEF', substring(h, 2*i+1, 1)) - 1) * 16 + strpos('0123456789ABCDEF', substring(h, 2*i+2, 1)) - 1), 0) AS px
        |  FROM d LEFT JOIN (SELECT doc_id AS di, unnest(range(n)) AS i FROM d) ON di = doc_id GROUP BY doc_id)
        |SELECT d.doc_id AS media_id, CAST(w AS BIGINT) AS width, CAST(hgt AS BIGINT) AS height,
        |CAST(8 AS BIGINT) AS bpp, CAST(stride AS BIGINT) AS stride,
        |CAST(stride * hgt AS BIGINT) AS image_size,
        |CAST(14 + 40 + 1024 + stride * hgt AS BIGINT) AS file_size,
        |CAST(s.px AS BIGINT) AS pixel_sum
        |FROM d JOIN s ON s.doc_id = d.doc_id ORDER BY media_id""".stripMargin,
    // every thumbnail pixel from closed form — source pixel (ri, ci) with
    // ri = y·hgt//TH, ci = x·w//TW is data byte ri·w+ci when inside the
    // payload, else the builder's zero fill; digest over the lower-hex
    // rendering, luminance integer-exact (constants interpolated from
    // the engine's ThumbW/ThumbH so they cannot desynchronize)
    "m8_bmp_thumbnail" -> {
      val tw = MultimodalOps.ThumbW; val th = MultimodalOps.ThumbH
      s"""WITH g AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h FROM documents),
         |d AS (SELECT doc_id, w, n, h, greatest((n + w - 1) // w, 1) AS hgt FROM g),
         |b AS (SELECT doc_id, list_transform(range(0, ${tw * th}),
         |        p -> ((p // $tw) * hgt // $th) * w + ((p % $tw) * w // $tw)) AS idxs, n, h FROM d),
         |t AS (SELECT doc_id, list_transform(idxs,
         |        i -> CASE WHEN i < n THEN substr(h, CAST(2*i+1 AS INT), 2) ELSE '00' END) AS bhs FROM b)
         |SELECT doc_id AS media_id, CAST($tw AS BIGINT) AS thumb_w, CAST($th AS BIGINT) AS thumb_h,
         |CAST(list_sum(list_transform(bhs, bh -> (strpos('0123456789abcdef', substr(bh, 1, 1)) - 1) * 16
         |  + strpos('0123456789abcdef', substr(bh, 2, 1)) - 1)) AS BIGINT) AS lum_sum,
         |md5(array_to_string(bhs, '')) AS thumb_md5
         |FROM t ORDER BY media_id""".stripMargin
    },
    // m13 replays the WHOLE near-dup chain in closed form: m8's
    // thumbnail pixel math (same idxs/zero-fill CTEs), the integer
    // mean, the bit rule, the band packing, the df cap, the banded
    // candidate join, and the Hamming verify — a codec, stride, mean,
    // bit-order, or banding bug lands on different pairs
    "m13_bmp_near_dup" -> m13NearDupSql,
    // m15 = the SAME chain: the stream's final materialized pair set
    // must equal batch m13 exactly (stream ≡ batch, the d20 move on
    // the perceptual-hash family — the shared-string convention)
    "m15_stream_near_dup" -> m13NearDupSql,
    // m16 replays the whole CHANGE FEED closed-form: the m13 chain per
    // wave under the `doc_id mod Replay.Waves ≤ b` membership rule (df
    // caps re-evaluated per arrived corpus — the non-monotone rule), a
    // one-batch-shifted self-join per direction, and the identical
    // two-level digest fold
    "m16_near_dup_delta" -> m16NearDupDeltaSql,
    // m14 replays the audio near-dup chain in closed form: m10's slot
    // seek math at WavHashSamples slots (fi·blockAlign, hex-nibble LE
    // recovery, two's-complement fold), the TRUNCATING integer mean
    // (DuckDB's integer `//` truncates toward zero — measured, matching
    // the JVM's `/`), the bit rule, and m13's banding/df/Hamming tail
    "m14_wav_near_dup" -> m14NearDupSql,
    // m18 = the SAME audio chain: the stream's final materialized set
    // must equal batch m14 exactly (the m15 ≡ m13 shared-string move
    // on the second codec family)
    "m18_stream_wav_near_dup" -> m14NearDupSql,
    // m19 = m15 with the fingerprint store COMPACTED mid-stream (half
    // the arrivals shipped, half to come): the final materialized set
    // must be byte-identical, so the oracle is m13's SQL verbatim —
    // the d19/d21/x20 shared-string convention (compaction must be
    // query-invisible; the swap itself is spec-pinned: partition
    // counts and a cross-phase-pair non-vacuity check)
    "m19_media_compact" -> m13NearDupSql,
    // m17 = pairs flagged by either perceptual channel with provenance:
    // nested-WITH subqueries reuse BOTH chains verbatim, so m17's
    // oracle IS "m13's oracle ⋈full m14's oracle" by construction (the
    // d13 move on the media family)
    "m17_consensus_near_dup" -> m17ConsensusSql,
    // m20 = the SAME consensus, maintained ONLINE: the final full-outer
    // of the two streaming chains' materialized sets must equal batch
    // m17 exactly (each set ≡ its batch twin by m15/m18's induction),
    // so the oracle is m17's SQL verbatim — the shared-string
    // convention on the consensus verb
    "m20_stream_consensus" -> m17ConsensusSql,
    // m21 replays m20's whole per-channel CHANGE FEED closed-form:
    // both codec chains per wave with per-arrived df caps, the channel
    // CASE, and per-(wave, channel) enter/leave from a shifted
    // self-join — m16's move on the consensus axis
    "m21_consensus_delta" -> m21ConsensusDeltaSql,
    // every sampled frame from closed form: frame fi's payload is the
    // byte slice [fi·fp, fi·fp+flen), its BMP pads to w·fh with zero
    // fill — pixel sum over the slice's hex-nibble bytes, digest over
    // slice hex + '00' fill (constants interpolated from the engine)
    "m9_video_frame_sample" -> {
      val fp = MultimodalOps.VideoFramePayload
      val k = MultimodalOps.VideoSampleCount
      val is = (0 until k).map(_.toString).mkString(", ")
      s"""WITH g AS (SELECT doc_id, 16 + doc_id % 17 AS w, octet_length(encode(text)) AS n, lower(hex(encode(text))) AS h FROM documents),
         |d AS (SELECT doc_id, w, n, h, greatest((n + ${fp - 1}) // $fp, 1) AS nf FROM g),
         |f AS (SELECT doc_id, w, n, h, nf, i, CAST(i * (nf - 1) // ${k - 1} AS BIGINT) AS fi FROM d CROSS JOIN (SELECT unnest([$is]) AS i)),
         |s AS (SELECT doc_id, i, fi, nf, w, least(greatest(n - fi * $fp, 0), $fp) AS flen,
         |  substr(h, CAST(2 * fi * $fp + 1 AS INT), CAST(2 * least(greatest(n - fi * $fp, 0), $fp) AS INT)) AS fhx FROM f),
         |t AS (SELECT doc_id, i, fi, nf, w, flen, fhx, greatest((flen + w - 1) // w, 1) AS fh FROM s)
         |SELECT doc_id AS media_id, CAST(i AS BIGINT) AS frame_no, fi AS frame_idx, CAST(nf AS BIGINT) AS n_frames,
         |CAST(coalesce(list_sum(list_transform(range(flen), j -> (strpos('0123456789abcdef', substr(fhx, CAST(2*j+1 AS INT), 1)) - 1) * 16
         |  + strpos('0123456789abcdef', substr(fhx, CAST(2*j+2 AS INT), 1)) - 1)), 0) AS BIGINT) AS px_sum,
         |md5(fhx || repeat('00', CAST(w * fh - flen AS INT))) AS frame_md5
         |FROM t ORDER BY media_id, frame_no""".stripMargin
    },
    "m3_frame_sample" -> {
      val k = MultimodalOps.FrameCount; val fb = MultimodalOps.FrameBytes
      val is = (0 until k).map(_.toString).mkString(", ")
      s"""WITH bt AS (SELECT doc_id, lower(hex(encode(text))) AS h, octet_length(encode(text)) AS n FROM documents),
         |f AS (SELECT doc_id, n, i, CAST(floor(i * greatest(n - $fb, 0) / ${k - 1}.0) AS BIGINT) AS off FROM bt CROSS JOIN (SELECT unnest([$is]) AS i)),
         |d AS (SELECT bt.doc_id, bt.n, f.i, f.off, md5(substring(bt.h, CAST(2 * f.off + 1 AS INT), ${2 * fb})) AS fm FROM f JOIN bt ON bt.doc_id = f.doc_id)
         |SELECT doc_id AS media_id, CAST(n AS BIGINT) AS byte_len, CAST(i AS INT) AS frame_no, off, fm AS frame_md5
         |FROM d ORDER BY media_id, frame_no""".stripMargin
    },
    "m2_decode_histogram" -> {
      // Closed form of m2's decoded-sample histogram: the engine round-
      // trips the text bytes through the WAV codec (build -> chunk-walk
      // decode) and histograms the DECODED samples; the oracle recomputes
      // the 8-bin histogram straight from the UTF-8 bytes the samples
      // must equal — any codec bug breaks the hash. Bytes are recovered
      // from the hex encoding (DuckDB's substring cannot slice BLOBs).
      // left join from bt keeps zero-byte documents (engine emits them
      // with all-zero bins; divisor mirrors byteHistogram's max(len, 1))
      val bins = (0 until 8).map(i =>
        s"round(coalesce(max(CASE WHEN bin = $i THEN cnt END), 0) / CAST(greatest(bt.n, 1) AS DOUBLE), 4) AS b$i"
      ).mkString(", ")
      s"""WITH bt AS (SELECT doc_id, hex(encode(text)) AS h, octet_length(encode(text)) AS n FROM documents),
         |ix AS (SELECT doc_id, n, h, unnest(range(n)) AS i FROM bt),
         |b AS (SELECT doc_id, ((strpos('0123456789ABCDEF', substring(h, 2*i+1, 1)) - 1) * 16 + strpos('0123456789ABCDEF', substring(h, 2*i+2, 1)) - 1) // 32 AS bin FROM ix),
         |c AS (SELECT doc_id, bin, count(*) AS cnt FROM b GROUP BY 1, 2)
         |SELECT bt.doc_id AS media_id, CAST(bt.n AS BIGINT) AS byte_len, $bins
         |FROM bt LEFT JOIN c ON c.doc_id = bt.doc_id GROUP BY bt.doc_id, bt.n ORDER BY media_id""".stripMargin
    },
    // x9's merged per-batch histograms equal the whole-table histogram
    // EXACTLY (counts are additive), so the oracle is the batch SQL:
    // same clamp/floor bucket arithmetic (width 1000/256 = 3.90625 is
    // binary-exact, so boundary doubles floor identically in both
    // engines), integer threshold comparisons for the quantile buckets,
    // midpoints cast to DOUBLE (DuckDB would otherwise promote
    // BIGINT - 0.5 to DECIMAL and break the dtype compare).
    "x9_stream_quantile" ->
      """WITH h AS (
        |  SELECT event_type,
        |         least(greatest(CAST(floor(value * 256.0 / 1000.0) AS BIGINT) + 1, 1), 256) AS b,
        |         count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, b, cnt,
        |         sum(cnt) OVER (PARTITION BY event_type ORDER BY b) AS cum,
        |         sum(cnt) OVER (PARTITION BY event_type) AS total
        |  FROM h)
        |SELECT event_type,
        |       CAST(max(total) AS BIGINT) AS n_events,
        |       round((CAST(min(CASE WHEN cum * 2 >= total THEN b END) AS DOUBLE) - 0.5) * 3.90625, 4) AS p50_est,
        |       round((CAST(min(CASE WHEN cum * 10 >= total * 9 THEN b END) AS DOUBLE) - 0.5) * 3.90625, 4) AS p90_est
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // x11 serves the LAST-2-batches window from x9's partials store;
    // batch membership is a data rule (event_id mod Replay.Waves, waves
    // mtime-ordered), so the window is a plain predicate over events and
    // the oracle is x9's histogram SQL over exactly that slice
    "x11_stream_window_quantile" -> x11WindowQuantileSql,
    // x18 is x11's serve run AFTER vacuuming everything outside the
    // window — retention is correct precisely when the serve can't see
    // it, so the oracle is x11's SQL verbatim (the shrink itself is
    // spec-pinned: StreamEquivSpec asserts partitions were deleted)
    "x18_retention_vacuum" -> x11WindowQuantileSql,
    // x19's lateness ledger from the watermark rule's closed form:
    // batch b's watermark = max event time over earlier waves − delay
    // (Spark's update rule under the mod-m membership rule — batch 0
    // has none), every (late, on-time) verdict replayed per row, the
    // on-time value sum decimal-exact (the q04 addend precedent)
    "x19_late_ledger" -> x19LedgerSql,
    // x20 is x19 with the stats store FOLDED to its running max
    // mid-stream: the ledger must be byte-identical — every phase-B
    // watermark derives from the consolidated row, so a broken fold
    // flips lateness verdicts — making the oracle x19's SQL verbatim
    // (the fold itself is spec-pinned: partition counts and a phase-B
    // n_late > 0 non-vacuity check)
    "x20_stats_compact" -> x19LedgerSql,
    // x21 is the hand-rolled flatMapGroupsWithState sessionizer run
    // through the same watermarked append replay as q09's built-in
    // session_window — two independent session implementations pinned
    // to ONE closed-form SQL (q09's verbatim): a drift in either's
    // merge rule, end arithmetic, or emit-once contract lands on
    // different rows
    "x21_fmgws_sessions" -> q09SessionSql,
    // x22 is the SAME session semantics on Spark 4's transformWithState
    // (StatefulProcessor + typed state + explicit event-time timers) —
    // the THIRD independent implementation pinned to q09's closed form:
    // built-in session_window, legacy flatMapGroupsWithState, modern
    // transformWithState all land on one oracle string
    "x22_tws_sessions" -> q09SessionSql,
    // x15's drift read from the moments store: decimal sums replay
    // exactly (the q04/q12 DECIMAL-addend precedent), batch membership
    // is x11's data rule, and mean/std/z are identical IEEE expressions
    // on both engines (constants interpolated from Replay.Waves/DriftZ)
    "x15_stream_drift" -> {
      val m = graft.streaming.Replay.Waves
      val latest = m - 1
      val dz = graft.streaming.StreamSketch.DriftZ
      s"""WITH b AS (SELECT event_type, event_id % $m AS bid, value FROM events),
         |lt AS (SELECT event_type, count(*) AS n_latest, sum(CAST(value AS DECIMAL(18,4))) AS sl FROM b WHERE bid = $latest GROUP BY 1),
         |pr AS (SELECT event_type, count(*) AS np, sum(CAST(value AS DECIMAL(18,4))) AS sp, sum(CAST(value*value AS DECIMAL(18,4))) AS sp2 FROM b WHERE bid < $latest GROUP BY 1),
         |j AS (SELECT lt.event_type, n_latest, CAST(sl AS DOUBLE)/n_latest AS m_b,
         |  CAST(sp AS DOUBLE)/np AS mu,
         |  sqrt(CAST(sp2 AS DOUBLE)/np - (CAST(sp AS DOUBLE)/np)*(CAST(sp AS DOUBLE)/np)) AS sigma
         |  FROM lt JOIN pr USING (event_type))
         |SELECT event_type, CAST(n_latest AS BIGINT) AS n_latest,
         |round(m_b, 4) AS mean_latest, round(mu, 4) AS mean_prior,
         |round(sigma, 4) AS std_prior, round((m_b - mu)/sigma, 4) AS z,
         |CAST(CASE WHEN abs((m_b - mu)/sigma) > $dz THEN 1 ELSE 0 END AS BIGINT) AS drifted
         |FROM j ORDER BY event_type""".stripMargin
    },
    // x10's merged per-batch CMS counters equal the whole-table sketch
    // EXACTLY (counters are additive), so the oracle is t6's CTE chain
    // with the watchlist (top-WatchK exact rule) read from the merged
    // counters — token-count columns never appear in the output, only
    // the sketch-served estimates
    "x10_stream_cms" -> {
      val d = TextOps.CmsDepth
      val rs = (0 until d).map(_.toString).mkString(", ")
      val k = graft.streaming.StreamSketch.WatchK
      s"""WITH t AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |h AS (SELECT token, cnt, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM tc CROSS JOIN (SELECT unnest([$rs]) AS r)),
         |counters AS (SELECT r, bucket, sum(cnt) AS c FROM h GROUP BY 1, 2),
         |wl AS (SELECT token FROM tc ORDER BY cnt DESC, token LIMIT $k)
         |SELECT w.token, CAST(min(c.c) AS BIGINT) AS cms_est
         |FROM wl w JOIN h ON h.token = w.token JOIN counters c ON c.r = h.r AND c.bucket = h.bucket
         |GROUP BY w.token ORDER BY 2 DESC, 1""".stripMargin
    },
    // x16 discovers its candidates from the stream (per-slice local
    // top-K via the batch-membership rule, unioned distinct) and ranks
    // them by the whole-table CMS — every count, rank, and hash is
    // integer-exact, so the full chain replays in SQL
    "x16_stream_topk" -> {
      val d = TextOps.CmsDepth
      val rs = (0 until d).map(_.toString).mkString(", ")
      val k = graft.streaming.StreamSketch.WatchK
      val sfK = graft.streaming.Replay.Waves
      s"""WITH t AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
         |sc AS (SELECT doc_id % $sfK AS bid, token, count(*) AS cnt FROM t GROUP BY 1, 2),
         |rk AS (SELECT bid, token, row_number() OVER (PARTITION BY bid ORDER BY cnt DESC, token) AS rk FROM sc),
         |cand AS (SELECT DISTINCT token FROM rk WHERE rk <= $k),
         |tc AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |h AS (SELECT token, cnt, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM tc CROSS JOIN (SELECT unnest([$rs]) AS r)),
         |counters AS (SELECT r, bucket, sum(cnt) AS c FROM h GROUP BY 1, 2),
         |ch AS (SELECT token, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM cand CROSS JOIN (SELECT unnest([$rs]) AS r))
         |SELECT ch.token, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_est
         |FROM ch LEFT JOIN counters c ON c.r = ch.r AND c.bucket = ch.bucket
         |GROUP BY ch.token ORDER BY 2 DESC, 1 LIMIT $k""".stripMargin
    },
    // x13 is x10's sketch rebuilt from ONLY the window's docs (the
    // doc_id mod membership rule), read by the whole-corpus watchlist —
    // counters are integer sums, so the windowed serve replays exactly
    "x13_stream_window_cms" -> {
      val d = TextOps.CmsDepth
      val rs = (0 until d).map(_.toString).mkString(", ")
      val k = graft.streaming.StreamSketch.WatchK
      val sfK = graft.streaming.Replay.Waves
      val win = sfK - graft.streaming.StreamSketch.WindowBatches
      s"""WITH t AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token FROM documents),
         |tc AS (SELECT token, count(*) AS cnt FROM t GROUP BY token),
         |wl AS (SELECT token FROM tc ORDER BY cnt DESC, token LIMIT $k),
         |wt AS (SELECT token, count(*) AS cnt FROM t WHERE doc_id % $sfK >= $win GROUP BY token),
         |h AS (SELECT token, cnt, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM wt CROSS JOIN (SELECT unnest([$rs]) AS r)),
         |counters AS (SELECT r, bucket, sum(cnt) AS c FROM h GROUP BY 1, 2),
         |wh AS (SELECT token, r, (strpos('0123456789abcdef', substr(md5(r || '|' || token), 1, 1)) - 1) * 16 + strpos('0123456789abcdef', substr(md5(r || '|' || token), 2, 1)) - 1 AS bucket
         |FROM wl CROSS JOIN (SELECT unnest([$rs]) AS r))
         |SELECT wh.token, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cms_est
         |FROM wh LEFT JOIN counters c ON c.r = wh.r AND c.bucket = wh.bucket
         |GROUP BY wh.token ORDER BY 2 DESC, 1""".stripMargin
    }
  )
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Scale-up stress harness (SURVEY §4.2b): generates a deterministic
  * 10× derivation of the sf0.1 fixture ("sf1": 500 k docs, 200 k
  * vectors, 10 M events), times the most expensive gates on both, and
  * prints per-query base/scaled seconds + ratios as one JSON line.
  *
  * Fixture derivation (pure narrow maps, no RNG):
  *  - documents ×10: replica k ≥ 1 rebuilds the text with every third
  *    token (positions ≡ (k−1) mod 3) reversed then char-rotated by
  *    (k−1)/3 — every 3-token shingle window covers a replaced
  *    position, so replicas are near-dup-DISSIMILAR from the original
  *    and from each other (J ≈ 0 ≪ 0.7), while token count, mean token
  *    length, and (2/3 of) stopwords survive, keeping gopher-quality
  *    rates stable. Dedup/funnel structure therefore scales LINEARLY
  *    (each replica contributes its own near-dup pairs), which is what
  *    a bigger crawl does — unlike naive copying, which would make the
  *    pair set itself quadratic and measure output explosion instead
  *    of scan/shuffle scaling.
  *  - embeddings ×10: replica k cyclically rotates dims by 7k
  *    (norm-preserving, distinct); labels are zeroed on replicas so
  *    the QUERY set stays fixed while the corpus grows — the serve-
  *    scaling question. vec_id offsets are multiples of 16, preserving
  *    cluster/seed arithmetic.
  *  - events ×10: fresh user/event id ranges per replica — per-user
  *    density (what the stream joins key on) is unchanged.
  *
  * Usage: runMain graft.ScaleCheck [baseDir] [scaledDir]
  */
object ScaleCheck {

  val Replicas = 10

  /** Group width for the hierarchical quantizer at a scaled cell count:
    * sub ≈ √k, snapped to the nearest DIVISOR of k so every group is
    * full (ragged last groups would make the measured G + sub work per
    * vector drift from the documented 2√k rule). k=16 → 4 (=√16),
    * k=160 → 10 (divisors of 160 near √160≈12.6 are 10 and 16; 10 keeps
    * G+sub = 16+10 = 26 minimal). Derived, not hardcoded, so a change
    * to [[Replicas]] or IvfCells can't silently diverge from the rule. */
  def hierSubFor(k: Int): Int = {
    val s = math.sqrt(k)
    (1 to k).filter(k % _ == 0)
      .minBy(d => (math.abs(d - s), d + k / d))
  }
  /** The expensive-gate list measured for §4.2b (every gate > ~1.9 s
    * min at sf0.1, plus the new round-7 composites p3/s10, the
    * incremental/trained additions s11/t16, and — since r9 — the index
    * delete/compact lifecycle s12/s13 plus d16/m6, the remaining
    * most-expensive gates). d15 at FIXED cell count is deliberately
    * absent: its within-cell pair work is Σ cell² — quadratic in corpus
    * size by design — so a fixed-k 10× run would measure the documented
    * degenerate configuration, not the operator. Instead [[d15ScaledK]]
    * measures d15 at the SemDeDup DEPLOYMENT rule (k ∝ corpus), the
    * configuration the paper actually ships.
    * d16 IS measured: its contraction runs over d15's fixed-k pair set,
    * so its ratio reads as "component contraction on the (by-design
    * quadratic) pair growth", documented next to the table. */
  val Gates: Seq[String] = Seq(
    "d2_dedup_ngram_jaccard", "d10_dup_clusters", "d11_dedup_impact",
    "d12_stream_minhash", "p1_pipeline", "p2_stream_funnel",
    "p3_full_funnel", "q37_stream_join", "s4_ann_recall",
    "s7_ann_recall_clustered", "s10_ann_recall_structured", "x6_pq_trained",
    "s11_stream_ann_ingest", "t16_char_lm_score",
    "s12_stream_ann_delete", "s13_ann_compact", "d16_sem_clusters",
    "m6_bmp_row_sample",
    // r9 mergeable-sketch + ranged-decode additions: expected flat-to-
    // linear (fixed-width partials / per-object constant byte ranges)
    "x8_stream_sketch", "x9_stream_quantile", "m7_wav_window_energy",
    // r10 additions: the mixed-state serve (partial rewrite + two branch
    // probes), the store-served multi-probe (query-side fan-out only),
    // and the upsert drain (update-sized tombstones, 3-key merge)
    "s14_ann_partial_compact", "s15_stream_ann_multiprobe",
    "s16_stream_ann_upsert", "x10_stream_cms",
    // r10 second wave: the span scrub (digest-bounded equi-joins over a
    // linearly-growing dup set), prototype pruning (join-free, one cell
    // exchange), and the windowed partials serve (fixed-width, pruned)
    "t17_span_scrub", "d17_proto_prune", "x11_stream_window_quantile",
    // r10 third wave: the ranged-read resize (O(thumb) bytes per object,
    // expected linear in object count) and the retrain + re-index sweep
    // (one posexplode M-step shuffle + a narrow re-assignment)
    "m8_bmp_thumbnail", "s17_ivf_retrain", "x12_stream_window_distinct",
    // the export composite: p1's funnel + one bounded shard exchange
    "p4_curate_pack",
    // tenant-filtered probe (one more equi-join key) and the indexed
    // frame-seek container (per-object constant ranged reads)
    "s18_ann_filtered", "m9_video_frame_sample",
    // the windowed CMS serve: fixed-width partials, pruned window
    "x13_stream_window_cms",
    // r10 fourth wave: the radius probe (s3's join minus the rank
    // window — expected to track s3's band), the training-order
    // reshuffle (p4's funnel + one bounded oshard exchange), and the
    // sketch overlap (per-source HLL partials — the exchange is
    // sketch-sized, expected flat-to-linear in the scan)
    "s19_ann_radius", "p5_shuffle_shard", "x14_sketch_overlap",
    // the alert-on-ingest stream (batch-sized assignment + broadcast
    // watchlist probe per batch) and the audio resample (O(thumb)
    // ranged reads per object, m8's expected-linear class)
    "s20_stream_radius_alert", "m10_wav_thumbnail",
    // the drift read: fixed-width moment partials, x9's expected band
    "x15_stream_drift",
    // candidate-union top-k (K-row candidates + fixed-width counters
    // per batch) and the header-probe audit (one ~50-byte ranged probe
    // per object — rejects never fetch the body)
    "x16_stream_topk", "m11_wav_audit",
    // the incremental export: batch-sized flagging + digest-keyed joins
    // vs a key-pruned store + a per-(batch, source) packing exchange
    "p6_incremental_export",
    // the growth read: sketch-store triangle join, corpus-size-free serve
    "x17_stream_growth",
    // the BMP-family audit: header probes only, m11's class
    "m12_bmp_audit",
    // r11 additions: the retention vacuum (x11's serve + one directory
    // sweep) and the lateness ledger (narrow classification + a
    // fixed-width ledger per batch). s21 at FIXED k is d15's degenerate
    // quadratic configuration and is deliberately absent here — it is
    // measured at the k ∝ corpus deployment rule in [[scaledKEntries]]
    // alongside d15.
    "x18_retention_vacuum", "x19_late_ledger",
    // r12 additions: the hier-quantizer ingest (s11's class — per-batch
    // narrow assignment + append; the scaled-k form has its own entry)
    // and the mid-stream band-store compaction (d12's band + one
    // consolidation rewrite — expected d12's band plus the store's own
    // I/O once). s21_bulk_topk at FIXED k is deliberately absent, the
    // same rule that excludes d15 and s21 top-1: fixed 16 cells on 10×
    // data make Σ cell² pair work 100× by design (measured 8.4× in r13
    // before removal — the documented degenerate configuration, not the
    // operator); the honest decade entries are s21_bulk_topk_scaled_k
    // (full gate at k ∝ corpus) and s21_topk_serve_scaled_k (the
    // pre-assigned production serve) in [[scaledKEntries]].
    "s23_stream_hier_ingest", "d19_band_compact",
    // r12 round-2 additions: the stream-store hier multiprobe (s15's
    // class — query-side group fan-out is constant in corpus size),
    // the stats-store running-max fold (x19's class + one
    // batches-row fold), and the digest-store compaction (p6's class
    // + one key-clustered rewrite of 32-byte keys)
    "s24_stream_hier_multiprobe", "x20_stats_compact", "p7_export_compact",
    // r13 additions: the hier-store lifecycle (s12+s13's machinery with
    // the per-batch assignment swapped to the 2√k fold — expected in
    // the s12/s13 band) and the two-level retrain (s17's M-step class:
    // one posexplode shuffle + two narrow assignment sweeps — expected
    // in s17's flat-to-linear band)
    "s25_hier_delete_compact", "s26_hier_retrain",
    // the hier upsert: s16's class (update-sized drain, 3-key merge)
    // at the 2√k per-batch assignment — expected s16's band
    "s27_hier_upsert",
    // the mixture sampler: one narrow tokenize + the two-level prefix
    // sum over a 4-column stats frame — expected linear in the scan
    "p8_mixture_sample",
    // r14: the weighted mixture — p8's machinery plus sources-sized
    // broadcast attaches (weight table + per-source budgets); expected
    // p8's band exactly
    "p9_weighted_mixture",
    // the composed export chain: p4's funnel (its band dominates) + the
    // narrow keep rule + p4's pack over the sampled subset; expected
    // p4's band
    "p10_sampled_export",
    // the streaming blend monitor: per-batch narrow aggregates with
    // sources-sized outputs; expected the stream-replay band — and its
    // mid-stream stats fold, the cheapest compaction verb (sources rows)
    "p11_stream_blend", "p12_blend_compact",
    // r15 additions: the probe-matrix completions (s18/s19's classes
    // at the hier 2√k assignment — the query set is fixed under the
    // scaled fixture's zeroed replica labels, so probe pairs grow with
    // cell membership: linear at fixed k, unlike the all-corpus bulk
    // gates), the image near-dup (m8's ranged decode + a df-capped
    // band equi-join — d2's bounded-bucket class), and the streaming
    // sampler (per-batch re-derivation over the accreting NARROW stats
    // store — the stream-replay band)
    "s28_hier_filtered", "s29_hier_radius", "m13_bmp_near_dup",
    "p13_stream_sample",
    // r15 second wave: the streaming semantic dedup (d12's replay class
    // with the batch × store join on the cell key — the per-batch cost
    // grows with the arrived store at fixture batch sizes, the
    // stream-replay band), the audio near-dup (m13's class: O(64)-byte
    // ranged decode + the df-capped band join), and the delta feed
    // (p13's class, twice per batch — expected ~2× p13's band)
    "d20_stream_semdedup", "m14_wav_near_dup", "p14_sample_delta",
    // the hier alert stream: s20's class (batch-sized assignment +
    // broadcast watchlist probe per batch) at the 2√k fold
    "s30_hier_radius_alert",
    // the semantic-store compaction: d20's replay band + one
    // key-clustered rewrite of the assigned store (d19's I/O class)
    "d21_sem_compact",
    // the streaming perceptual near-dup + its change feed: per-batch
    // INCREMENTAL maintenance (r16) — batch × store candidate join on
    // under-cap-now values + the bounded crossing-retraction path, the
    // d12 class; the fingerprint-store scan is the only corpus-sized
    // term (the codec map runs once per arriving object)
    "m15_stream_near_dup", "m16_near_dup_delta",
    // the blend in training order: p10's funnel+sampler class feeding
    // p5's one-exchange reshuffle — expected in p10's band
    "p15_sampled_shuffle",
    // consensus across both perceptual channels: the two bounded m13/m14
    // chains + one output-sized full-outer pair join — m13/m14's band
    "m17_consensus_near_dup",
    // m15's runner over the audio fingerprint — the same stream-replay
    // band through the shared machinery
    "m18_stream_wav_near_dup",
    // the fingerprint-store compaction: m15's replay band + one
    // key-clustered rewrite of the narrow store (d19/d21's I/O class —
    // the compacted store reads FEWER partitions)
    "m19_media_compact",
    // r17: streaming cross-codec consensus — both per-codec incremental
    // chains per batch (m15's + m18's bands) + an output-sized
    // full-outer of the two committed sets; expected ≈ m15 + m18
    "m20_stream_consensus",
    // r18: the consensus CHANGE feed — the same dual-chain replay with
    // the per-channel ledger read at the end; expected m20's band
    // (the ledger is ≤ 3 fixed-width rows per batch)
    "m21_consensus_delta")

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val scaled = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val spark = Engine.local("graft-scale")
    if (!new java.io.File(s"$scaled/documents.parquet").exists())
      generate(spark, base, scaled)
    // SPARK_GRAFT_SCALE_ONLY=name,... narrows the run (tuning loops);
    // unset = the full decade table
    val only = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val report = Gates.filter(n => only.forall(_.contains(n))).map { name =>
      val b = time(spark, name, base)
      val s = time(spark, name, scaled)
      (name, b, s)
    } ++ scaledKEntries(spark, base, scaled, only) ++
      batchesAxisEntries(spark, base, scaled, only)
    val qs = report.map { case (n, b, s) =>
      f""""$n":{"base":$b%.2f,"scaled":$s%.2f,"ratio":${s / b}%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale10x","replicas":$Replicas,"queries":$qs}""")
    spark.stop()
  }

  /** The within-cell-pair gates (d15 semdedup, s21 bulk probe) measured
    * at the DEPLOYMENT rule (k ∝ corpus): their fixed k=16 is quadratic
    * by design (Σ cell² with 10× cell sizes), so the honest decade
    * measurement scales the cell count with the replicas — 16 cells at
    * base, 160 at 10× — keeping cell SIZE bounded and pair work ∝ n.
    * Both sides are MEDIAN-OF-5 (not min-of-2): these queries run ~2 s
    * per side, where host-contention noise made the r10 committed ratio
    * breathe 1.24–5.1× across runs — the median is the statistic whose
    * repeat spread stays inside the honest band. */
  private def scaledKEntries(spark: SparkSession, base: String, scaled: String,
                             only: Option[Set[String]]): Seq[(String, Double, Double)] = {
    import graft.ops.SimilarityOps
    // s22's sub from [[hierSubFor]] per side: k=16 → 4×4, k=160 → 16×10
    // — the hierarchical assignment pays G + sub dot products per
    // vector (8 at base, 26 at 10×) where the flat argmax pays k
    // (16 / 160): the decade contrast with s21_bulk_probe quantifies
    // the fix
    val entries: Seq[(String, (String, Int) => DataFrame)] = Seq(
      "d15_semdedup_scaled_k" ->
        ((dir, k) => SimilarityOps.d15SemDedupK(spark, dir, k)),
      "s21_bulk_probe_scaled_k" ->
        ((dir, k) => SimilarityOps.s21AnnBulkProbeK(spark, dir, k)),
      // the full top-k gate at the deployment rule — the bounded
      // k-slot fold over the same two-sided join as the top-1 probe
      // (its fixed-k twin is the documented degenerate quadratic and
      // is excluded from [[Gates]])
      "s21_bulk_topk_scaled_k" ->
        ((dir, k) => SimilarityOps.s21TopKAssigned(
          SimilarityOps.flat(k).index(SimilarityOps.normed(spark, dir)))),
      "s22_hier_bulk_scaled_k" ->
        ((dir, k) => SimilarityOps.s21ServeAssigned(
          SimilarityOps.hier(k, hierSubFor(k)).index(SimilarityOps.normed(spark, dir)))),
      "d18_semdedup_hier_scaled_k" ->
        ((dir, k) => SimilarityOps.d18SemDedupHierK(spark, dir, k,
          hierSubFor(k))))
    // the hier INGEST at the deployment rule: per-batch assignment is
    // G + sub ≈ 2√k dots per vector, so the full stream gate (split +
    // codebook + 4-batch replay + store probe) must land linear where
    // s11's flat ingest would inherit the N·k sweep at scaled k. Timed
    // min-of-2 (the Gates statistic): a full stream run is a long
    // timed unit, not a 0.5 s noise-floor query.
    val ingest: Seq[(String, Double, Double)] =
      if (!only.forall(_.contains("s23_hier_ingest_scaled_k"))) Seq.empty
      else Seq(("s23_hier_ingest_scaled_k",
        timeOf(() => graft.streaming.StreamAnnIngest.s23IngestK(
          spark, base, SimilarityOps.IvfCells,
          hierSubFor(SimilarityOps.IvfCells))),
        timeOf(() => graft.streaming.StreamAnnIngest.s23IngestK(
          spark, scaled, SimilarityOps.IvfCells * Replicas,
          hierSubFor(SimilarityOps.IvfCells * Replicas)))))
    val full = entries.filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, mk) =>
        val b = medianOf5(() => mk(base, SimilarityOps.IvfCells))
        val s = medianOf5(() => mk(scaled, SimilarityOps.IvfCells * Replicas))
        (name, b, s)
      }
    full ++ ingest ++ s21ServeScaledK(spark, base, scaled, only)
  }

  /** The BATCHES-AXIS decomposition of the stream-replay band: every
    * `*_batches_axis` entry runs a stream-replay gate over 2× its wave
    * count ([[AxisWaves]]) at FIXED data and reads each micro-batch's
    * body seconds (`addBatch`) from Spark's own progress
    * ([[graft.streaming.Replay.recorded]]); it reports base = the SECOND
    * batch's (batch 0 absorbs JIT/codegen warm-up of the codec and join
    * paths), scaled = the LAST batch's, ratio = last/second — per-batch
    * cost growth against batch INDEX, the term the decade table's
    * fixed-wave replays fold into one number. An incremental operator
    * (m15: batch × store candidate join + crossing-only retractions;
    * d12/d20/p6: batch × key-pruned store) must hold last ≈ first
    * modulo the narrow-store scan; a per-batch re-derivation (r15's
    * m15) reads last ≈ B × first. p13 is the declared contrast: it
    * re-derives the keep rule over the accreting narrow stats store by
    * design, so its growth term is real and priced here. Each batch's
    * figure is the MIN across [[AxisRuns]] full replays (Bench's
    * statistic, applied per batch index); the per-batch body, planning
    * and commit (`walCommit` + `commitOffsets`) vectors go to stderr
    * for the record. */
  private def batchesAxisEntries(spark: SparkSession, base: String, scaled: String,
                                 only: Option[Set[String]]): Seq[(String, Double, Double)] = {
    import graft.streaming._
    val entries: Seq[(String, (SparkSession, String, Int) => DataFrame, String)] = Seq(
      ("m15_batches_axis", StreamMediaDedup.m15StreamNearDup _, base),
      // the claim under judgment at 10× the data, where an index-growing
      // term is 10× more visible than at sf0.1
      ("m15_batches_axis_scaled10x", StreamMediaDedup.m15StreamNearDup _, scaled),
      // the r17 consensus gate: m15's claim twice over + an output-sized
      // full-outer per batch
      ("m20_batches_axis", StreamMediaDedup.m20StreamConsensus _, base),
      // r18 completions of the streaming column: the change-feed
      // variants and the audio chain through the same instrument
      ("m16_batches_axis", StreamMediaDedup.m16NearDupDelta _, base),
      ("m18_batches_axis", StreamMediaDedup.m18StreamWavNearDup _, base),
      ("d12_batches_axis", (s, d, w) => IncrementalDedup.d12StreamMinhash(s, d, waves = w), base),
      ("d20_batches_axis", (s, d, w) => StreamSemDedup.d20StreamSemDedup(s, d, waves = w), base),
      ("p13_batches_axis", StreamSampler.p13StreamSample _, base),
      ("p6_batches_axis", (s, d, w) => IncrementalExport.p6IncrementalExport(s, d, waves = w), base),
      // r18: the store-append/probe family's representative (s11), the
      // mergeable-sketch family's (x8), and the blend monitor (p11)
      ("s11_batches_axis", StreamAnnIngest.s11StreamAnnIngest _, base),
      ("x8_batches_axis", (s, d, w) => StreamSketch.x8StreamSketch(s, d, waves = w), base),
      ("p11_batches_axis", BlendMonitor.p11StreamBlend _, base))
    def ms(p: StreamingQueryProgress, k: String): Double =
      p.durationMs.getOrDefault(k, 0L).doubleValue
    entries.filter { case (name, _, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, run, dir) =>
        val runs = (1 to AxisRuns).map(_ => Replay.recorded(run(spark, dir, AxisWaves))._2)
        // a replay can come back short/ragged (an empty mod class, or
        // repartitionByRange yielding fewer files than waves): skip the
        // entry with a record rather than crash the whole report
        if (runs.map(_.size).distinct.size != 1 || runs.head.size < 2) {
          System.err.println(s"[scale] $name SKIPPED: ragged/short per-batch " +
            s"vectors (sizes ${runs.map(_.size).mkString("/")})")
          None
        } else {
          def perBatchMin(f: StreamingQueryProgress => Double) =
            runs.map(_.map(f)).transpose.map(_.min)
          val per = perBatchMin(ms(_, "addBatch") / 1e3)
          val planning = perBatchMin(ms(_, "queryPlanning"))
          val commit = perBatchMin(p => ms(p, "walCommit") + ms(p, "commitOffsets"))
          System.err.println(
            f"[scale] $name per-batch min sec: ${per.map(v => f"$v%.2f").mkString(", ")}" +
              s"; planning ms: ${planning.map(_.toLong).mkString(", ")}" +
              s"; commit ms: ${commit.map(_.toLong).mkString(", ")}")
          Some((name, per(1), per.last))
        }
      }
  }

  /** 2× the gate fixtures' wave count: doubling the batch count at
    * fixed data is the r15-ordered instrument shape — more batch
    * indices for growth to show, smaller per-batch data so a genuine
    * per-batch-growth term dominates orchestration sooner. */
  val AxisWaves: Int = 2 * graft.streaming.Replay.Waves

  /** Full-replay repetitions per axis entry; per-batch minima are taken
    * across runs (a contention burst poisons one replay's batch, not
    * the same batch index in both). */
  val AxisRuns = 2

  /** The serve-only decomposition of s21's scaled-k decade: the full
    * gate re-runs the flat quantizer assignment on BOTH sides, and that
    * sweep is N·k — quadratic under the k ∝ corpus rule (16 centroids ×
    * 1× vectors at base vs 160 × 10× at scale = 100× dot products), the
    * term a production deployment pays ONCE at ingest (s11's stored
    * assignment) or replaces with a hierarchical coarse quantizer. This
    * entry pre-writes the assigned store untimed — exactly the
    * production state — and times ONLY the two-sided join + struct-max
    * read, the term that is genuinely linear under the deployment rule. */
  private def s21ServeScaledK(spark: SparkSession, base: String, scaled: String,
                              only: Option[Set[String]]): Seq[(String, Double, Double)] = {
    import graft.ops.SimilarityOps
    val serves: Seq[(String, DataFrame => DataFrame)] = Seq(
      "s21_bulk_serve_scaled_k" -> (SimilarityOps.s21ServeAssigned(_)),
      // top-k over the same stored assignment: the bounded k-slot fold
      // must hold the top-1 serve's linear band — its exchange moves k
      // rows per query instead of 1, a constant factor, never a new
      // scale term
      "s21_topk_serve_scaled_k" -> (SimilarityOps.s21TopKAssigned(_)))
      .filter { case (name, _) => only.forall(_.contains(name)) }
    if (serves.isEmpty) return Seq.empty
    val root = graft.streaming.Replay.workspace("graft_s21store_")
    def prep(tag: String, dir: String, k: Int): String = {
      val path = s"$root/$tag"
      SimilarityOps.flat(k).index(SimilarityOps.normed(spark, dir))
        .write.mode("overwrite").parquet(path)
      path
    }
    val bPath = prep("base", base, SimilarityOps.IvfCells)
    val sPath = prep("scaled", scaled, SimilarityOps.IvfCells * Replicas)
    serves.map { case (name, serve) =>
      val b = medianOf5(() => serve(spark.read.parquet(bPath)))
      val s = medianOf5(() => serve(spark.read.parquet(sPath)))
      (name, b, s)
    }
  }

  /** Min-of-2 noop-write wall seconds (Bench's statistic). */
  private def time(spark: SparkSession, name: String, dir: String): Double =
    timeOf(() => SparkEntry.queries(name)(spark, dir))

  private def timeOf(mk: () => DataFrame): Double =
    (1 to 2).map(_ => Scratch.timed(mk())._1).min

  /** Median of 5 samples where each SAMPLE is a 3-execution block (wall
    * / 3): the scaled-k queries run ~0.5–4 s, where single-execution
    * samples breathe 1.2–5× with this host's contention/JIT state (the
    * r10 finding); a ~3× longer timed unit amortizes the noise floor
    * without needing a bigger fixture. */
  private def medianOf5(mk: () => DataFrame): Double =
    (1 to 5).map(_ => (1 to 3).map(_ => Scratch.timed(mk())._1).sum / 3).sorted.apply(2)

  private def generate(spark: SparkSession, base: String, out: String): Unit = {
    new java.io.File(out).mkdirs()
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val reps = (0 until Replicas).map { k =>
      if (k == 0) docs
      else {
        val r = (k - 1) % 3
        val j = (k - 1) / 3
        // reverse + rotate chars of every third token; rebuild the text
        val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= lit(""))
        val perturbed = transform(toks, (t, i) =>
          when(pmod(i, lit(3)) === r,
            concat(substring(reverse(t), j + 1, 1000000), substring(reverse(t), 1, j)))
            .otherwise(t))
        docs.withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          .withColumn("text", concat_ws(" ", perturbed))
      }
    }
    reps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val embReps = (0 until Replicas).map { k =>
      if (k == 0) emb
      else {
        val d = 7 * k % 64
        emb.withColumn("vec_id", col("vec_id") + lit(k * 1600000L))
          .withColumn("embedding", concat(
            slice(col("embedding"), d + 1, 64 - d), slice(col("embedding"), 1, d)))
          .withColumn("label", lit(0))
      }
    }
    embReps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/embeddings.parquet")
    val ev = spark.read.parquet(s"$base/events.parquet")
    val evReps = (0 until Replicas).map { k =>
      if (k == 0) ev
      else ev
        .withColumn("event_id", col("event_id") + lit(k * 100000000L))
        .withColumn("user_id", col("user_id") + lit(k * 10000000L))
    }
    evReps.reduce(_ unionByName _).write.mode("overwrite")
      .parquet(s"$out/events.parquet")
    // remaining tables pass through unchanged (no measured gate reads them
    // at scale, but Sources.table must find them)
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
      .foreach { t =>
        spark.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
  }
}

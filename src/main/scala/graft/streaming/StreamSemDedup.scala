package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Store
import graft.ops.SimilarityOps
import graft.out.Canonical._

/** d20: streaming SEMANTIC dedup — the incremental form of d18's
  * hierarchical SemDeDup, completing the streaming column of the dedup
  * matrix: d12 streams the TEXT near-dup family (MinHash bands), d20
  * streams the EMBEDDING family (two-level quantizer cells). This is
  * the continuously-fed-corpus form of the SemDeDup pipeline: vectors
  * arrive in crawl batches, each batch is assigned against the OFFLINE
  * two-level codebook (s23's quantizer-artifact motion — G + sub ≈ 2√k
  * dots per vector, never the flat N·k sweep), and new duplicate pairs
  * are exactly the within-cell pairs with exact cosine ≥
  * [[SimilarityOps.SemThreshold]] that have at least one side in the
  * batch — so the candidate join is batch × store, never store × store.
  *
  * Each emitted pair carries d15/d18's pairwise VICTIM (the member
  * closer to its centroid — the paper's keep-the-cluster-edge rule).
  * The victim rule reads only the two sides' stored centroid cosines,
  * so it is ARRIVAL-ORDER-FREE: the stream's pair union is exactly the
  * batch gate's pair set, whichever order the corpus arrives in — the
  * correctness claim is stream ≡ batch d18 at pair granularity, checked
  * against the hier chain's closed-form oracle (shared CTE prefix with
  * s22/d18) and re-proven under REVERSED arrival by StreamEquivSpec.
  * A pair is emitted exactly once — in the micro-batch of its LATER
  * arrival (cell assignments are static per vector, so two already-
  * stored vectors can never become a new candidate).
  *
  * Scale design: per-batch cost is batch-size × 2√k assignment dots +
  * one cell equi-join of the batch against the assigned store + exact
  * verification on within-cell candidates only — the paper's Σ cell²
  * bound, paid incrementally. The store is the assigned-vector index a
  * production deployment already keeps (s11/s23's layout: partitioned
  * by arrival batch, cell a stored column), reads are pruned to
  * `batch_id < current` so a retried batch neither re-emits nor meets
  * its own partial write, and the k ∝ corpus deployment rule (measured
  * in ScaleCheck's scaled-k entries for the batch twins) applies
  * unchanged because the quantizer is a pluggable offline artifact. */
object StreamSemDedup {

  /** The arrival order is pluggable (StreamEquivSpec replays REVERSED
    * arrival to the same pair set — the order-free claim, proven not
    * asserted); `waves` is the replay's batch count at fixed data
    * (ScaleCheck's `d20_batches_axis` doubles it). */
  def d20StreamSemDedup(spark: SparkSession, dir: String,
      orderExpr: org.apache.spark.sql.Column = col("vec_id"),
      waves: Int = Replay.Waves): DataFrame = {
    val work = Replay.workspace("graft_semstream_")
    val pairs = Store(spark, s"$work/pairs")
    runStream(spark, dir, work, Store(spark, s"$work/assigned"), pairs, orderExpr, waves)
    readPairs(pairs)
  }

  def d21SemCompact(spark: SparkSession, dir: String): DataFrame =
    d21WithEvidence(spark, dir)._1

  /** d21: d19's mid-stream store compaction proven on the SEMANTIC
    * family's store — d20's assigned-vector store accretes one
    * `batch_id=N` directory per crawl batch forever (first-arrival
    * pair emission reads ALL prior batches, so the x18 window vacuum
    * must never touch it), and the maintenance it needs is d19's move
    * verbatim: rewrite the shipped partitions into ONE consolidated
    * `batch_id=-1` partition repartitioned on the store's join key
    * (cell — the candidate join's scan stays key-clustered) and swap
    * it in via the crash-recoverable retire+promote. -1 sorts below
    * every real batch id, so consolidated rows stay inside every later
    * `batch_id < current` prune and a replayed batch still excludes
    * its own partial write. The gate compacts at the adversarial
    * moment — half the arrivals shipped, half still to come — and the
    * emitted pair union must be byte-identical to batch d18's pair
    * set, so the oracle is d20's SQL VERBATIM (the shared-string
    * convention of d19/p7/x20/p12: compaction must be query-invisible).
    *
    * Scale: the compaction reads each shipped partition once and
    * writes it back key-clustered (s13/d19's I/O class, schedulable
    * per key range); between compactions the store listing is bounded
    * by 1 + batches-since-fold. Cross-phase duplicate pairs — one side
    * shipped before the fold, one after — are exactly the rows that
    * prove the consolidated partition feeds the candidate join
    * unchanged. */
  private[graft] def d21WithEvidence(spark: SparkSession, dir: String)
      : (DataFrame, () => Long) = {
    val half = Replay.Waves / 2
    val work = Replay.workspace("graft_semcompact_")
    val store = Store(spark, s"$work/assigned")
    val pairs = Store(spark, s"$work/pairs")
    // two arrival phases: the stream must CONTINUE over a compacted
    // store, not restart (d19's shape)
    runStream(spark, dir, work, store, pairs, col("vec_id"), splitAt = half,
      midpoint = () => store.compact(_.repartition(col("cell"))))
    // CROSS-PHASE pairs — emitted in a phase-B batch with the earlier
    // side living ONLY in the consolidated `batch_id=-1` partition:
    // the rows that prove the swapped store feeds the candidate join
    // unchanged (phase-A membership is recoverable from the store
    // itself — exactly the consolidated partition's rows; a phase-B
    // pair's LATER side arrived in phase B, so an a_id found there
    // could only have matched through the swap). Two tiny counts over
    // the output-sized pair store + a semi-join against the narrow
    // consolidated ids.
    val phaseA = store.at(-1).select(col("vec_id").as("a_id"))
    // LAZY (guide §1.2, the m19 rule): spec-only cross-phase evidence,
    // out of the timed gate path
    val crossPhase = () => pairs.window(half)
      .join(phaseA, Seq("a_id"), "left_semi").count()
    (readPairs(pairs), crossPhase)
  }

  /** The semantic-dedup replay under `work` — shared by the
    * single-replay gate (d20) and the phased compaction gate (d21):
    * deal the normed corpus into waves while the offline two-level
    * codebook is written (s23's quantizer-file motion,
    * [[SimilarityOps.Hier]]; disjoint paths, source-table reads only,
    * so the two overlap, §2.6), then stream the waves into
    * `work/assigned` and `work/pairs`. */
  private def runStream(spark: SparkSession, dir: String, work: String,
      store: Store, pairs: Store,
      orderExpr: org.apache.spark.sql.Column, waves: Int = Replay.Waves,
      splitAt: Int = Int.MaxValue, midpoint: () => Unit = () => ()): Unit = {
    val all = SimilarityOps.normed(spark, dir)
    val cbPath = s"$work/codebook"
    Replay.replay(spark, StreamAnnIngest.arrivals(all), Replay.ByRange(orderExpr),
      work, waves, splitAt, Some(() => SimilarityOps.Hier.write(all, cbPath)),
      midpoint)((batch, batchId) =>
      processBatch(batch, batchId, cbPath, store, pairs))
  }

  private def readPairs(pairs: Store): DataFrame =
    pairs.all
      .select(col("a_id"), col("b_id"), col("cos_sim"), col("victim"))
      .orderBy("a_id", "b_id")

  private def processBatch(batch: DataFrame, batchId: Long,
                           cbPath: String, store: Store,
                           pairs: Store): Unit = {
    val spark = batch.sparkSession
    // batch-size × 2√k assignment against the static codebook; ccos
    // (the centroid cosine) rides along — it IS the victim signal
    val asn = SimilarityOps.Hier.assign(batch, spark.read.parquet(cbPath))
      .select("vec_id", "v", "nrm", "cell", "ccos")
      .persist()
    try {
      val prior = store.before(batchId, asn.schema)
      val seen = prior.unionByName(asn)
      // new candidates = within-cell id pairs with >= 1 batch-side
      // member; least/greatest normalizes, distinct collapses the
      // both-in-batch double hit
      val cand = asn.as("x").join(seen.as("y"),
          col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
        .select(least(col("x.vec_id"), col("y.vec_id")).as("a_id"),
          greatest(col("x.vec_id"), col("y.vec_id")).as("b_id"))
        .distinct()
      // exact verify + the pairwise victim rule (d15/d18's): vector
      // payloads are fetched by id from the seen set, so the pair rows
      // that shuffle carry ids — never two vectors per candidate twice
      val pairsOut = SimilarityOps.semVictims(cand
          .join(SimilarityOps.semSide(seen, "a"), "a_id")
          .join(SimilarityOps.semSide(seen, "b"), "b_id"))
        .select(col("a_id"), col("b_id"), r4(col("cs")).as("cos_sim"), col("victim"))
      // the two writes are independent (disjoint dirs, both derived
      // from the persisted assignment + committed < batchId state) and
      // run CONCURRENTLY (guide §2.6, the FullFunnel rule). A crash
      // leaving EITHER dir without the other is safe ONLY because
      // foreachBatch re-invokes the batch with the same id and both
      // writes are idempotent batch_id overwrites; any "skip if the
      // pair dir exists" retry shortcut would break that contract (the
      // torn pair set would be trusted)
      // materialize the shared persisted frame BEFORE forking (the
      // d12 rule: racing its first materialization duplicates
      // partition computes under the cache lock)
      asn.count(): Unit
      Replay.fence(
        () => pairs.put(batchId, pairsOut),
        () => store.put(batchId, asn))
    } finally { asn.unpersist(); () }
  }
}

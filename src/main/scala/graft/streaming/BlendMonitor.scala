package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.ops.TextOps

/** p11: the STREAMING member of the mixture family (p8 uniform, p9
  * weighted, p10 composed export — all batch) — the blend MONITOR a
  * continuously-fed corpus runs between crawls: as document batches
  * arrive, per-source token totals accrete in a tiny stats store, and
  * after every batch the gate re-derives the largest-feasible blend
  * (p9's rule: the binding source minimizes tot/w under t14's declared
  * weight table; budget_s = ⌊w_s · tot_m / w_m⌋) and appends one ledger
  * row per arrived source. The ledger answers the question a data-
  * acquisition team actually asks while a crawl is running: "how big a
  * blend can we train TODAY, which source binds it, and what did the
  * last batch buy us?"
  *
  * Semantics are closed-form end to end: batch membership is the wave
  * replay's DATA rule (doc_id mod [[Replay.Waves]]), so the
  * arrived corpus after batch b is exactly {doc_id mod m ≤ b}, and the
  * DuckDB oracle re-derives EVERY (batch, source) ledger row — totals,
  * weights, binding source, integer budgets — in one statement. The
  * final batch's rows equal the batch gate's view of the same corpus
  * (p9's (source, w, n_tok, budget) columns), the composition pin
  * StreamEquivSpec asserts alongside per-source monotone totals.
  *
  * Scale design: per-batch work is ONE narrow batch aggregate with a
  * sources-sized output (the corpus text is scanned once per batch,
  * batch-sized, never rescanned), one read of the sources × batches
  * stats store (tiny rows, pruned to arrived batches), and a
  * sources-sized budget computation — the blend of a 100 TB corpus is
  * re-derived per batch for the cost of a few thousand-row aggregates.
  * Both stores grow by ≤ sources rows per batch; both writes are
  * idempotent per-batch-directory overwrites (a retried batch rewrites
  * the same rows), and the stats read prunes to `batch_id <= current`,
  * so replay converges to the same ledger. On a long-lived deployment
  * the stats listing is bounded by FOLDING shipped partitions into one
  * consolidated row per source — per-source sums are their own
  * sufficient statistic — proven mid-stream as p12
  * ([[p12WithStoreInfo]] / [[compactBlendStats]]).
  */
object BlendMonitor {

  /** `waves` is the replay's batch count at fixed data — ScaleCheck's
    * `p11_batches_axis` doubles it: the blend re-derivation reads only
    * the sources × arrived-batches stats store (tiny rows), so the
    * index-growing term is that narrow listing (p12's compaction bounds
    * it in production) and last ≈ first is the design claim. */
  def p11StreamBlend(spark: SparkSession, dir: String,
                     waves: Int = Replay.Waves): DataFrame = {
    val work = Replay.workspace("graft_blendmon_")
    val stats = s"$work/stats"
    val ledger = s"$work/ledger"
    val docs = Sources.table(spark, dir, "documents")
      .select("doc_id", "source", "text")
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work, waves) {
      (batch, batchId) => blendBatch(batch, batchId, stats, ledger)
    }
    spark.read.parquet(ledger)
      .select(col("batch_id").cast("long").as("batch_id"), col("source"),
        col("w"), col("tot"), col("budget"))
      .orderBy("batch_id", "source")
  }

  def p12BlendCompact(spark: SparkSession, dir: String): DataFrame =
    p12WithStoreInfo(spark, dir)._1

  /** p12: p11 with its stats store compacted MID-STREAM — the lifecycle
    * motion the accreting sources × batches store needs on a long-lived
    * deployment (x20's move on the blend family): per-source token sums
    * are their own sufficient statistic, so shipped `batch_id=N` rows
    * FOLD into one consolidated `batch_id=-1` row per source (where
    * d19/p7 must rewrite rows and x20 folds a max, p12 folds a sum).
    * -1 sorts below every real batch id, so the consolidated rows stay
    * inside every later `batch_id <= current` prune, and the ledger —
    * every (batch, source) blend row, before AND after the fold — must
    * be byte-identical to p11's: the oracle is p11's SQL verbatim,
    * because compaction must be query-invisible. The swap rides
    * [[StreamSketch.swapStore]]'s crash-recoverable retire+promote with
    * the reader-side heal. StreamEquivSpec pins the partition-count
    * bounds (half the replay's dirs collapse to one; the listing stays
    * 1 + batches-since afterwards) and ledger ≡ p11 row-for-row. */
  private[graft] def p12WithStoreInfo(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int) = {
    val work = Replay.workspace("graft_blendmon12_")
    val stats = s"$work/stats"
    val ledger = s"$work/ledger"
    val docs = Sources.table(spark, dir, "documents")
      .select("doc_id", "source", "text")
    var partsBefore = 0
    var partsAfter = 0
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work,
      splitAt = Replay.Waves / 2, midpoint = () => {
        partsBefore = Replay.countBatchDirs(stats)
        compactBlendStats(spark, stats)
        partsAfter = Replay.countBatchDirs(stats)
      }) {
      (batch, batchId) => blendBatch(batch, batchId, stats, ledger)
    }
    val result = spark.read.parquet(ledger)
      .select(col("batch_id").cast("long").as("batch_id"), col("source"),
        col("w"), col("tot"), col("budget"))
      .orderBy("batch_id", "source")
    (result, partsBefore, partsAfter, Replay.countBatchDirs(stats))
  }

  /** Fold the shipped stats partitions into ONE consolidated
    * `batch_id=-1` row per source — x20's compactStats with sum in
    * place of max (both are their own sufficient statistic, so the
    * fold IS the store's content, no row rewrite). Same store-open
    * heal + dead-tmp clear + crash-recoverable swap as every other
    * compaction verb. */
  private[graft] def compactBlendStats(spark: SparkSession, stats: String): Unit = {
    val tmp = stats + "_compacting"
    StreamSketch.healRetiredStore(spark, stats)
    StreamSketch.clearPath(spark, tmp)
    spark.read.parquet(stats).drop("batch_id")
      .groupBy("source").agg(sum("btok").as("btok"))
      .coalesce(1).write.parquet(s"$tmp/batch_id=-1")
    StreamSketch.swapStore(spark, tmp, stats)
  }

  private[graft] def blendBatch(batch: DataFrame, batchId: Long,
                                stats: String, ledger: String): Unit = {
    val session = batch.sparkSession
    // Store-open heal FIRST, before the per-batch write: a crash
    // between swapStore's renames leaves the full history only at
    // `_retired`, and writing `batch_id=N` first would recreate the
    // store as a single-batch partial — turning the heal into a no-op
    // and letting the next compaction's delete destroy the only full
    // copy. Same contract as every other store open (IncrementalDedup/
    // FullFunnel/IncrementalExport/LateLedger readStore).
    StreamSketch.healRetiredStore(session, stats)
    // the batch's per-source token totals — a sources-sized partial,
    // the only thing that ever reads the batch's text
    batch
      .select(col("source"), size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
      .groupBy("source").agg(sum("n_tok").as("btok"))
      .write.mode("overwrite").parquet(s"$stats/batch_id=$batchId")
    // arrived totals THROUGH this batch (<= includes the partial just
    // written — overwrite makes the retry read the same rows), then
    // p9's blend rule over the sources-sized frame
    blendLedgerFrame(
      session.read.parquet(stats)
        .filter(col("batch_id") <= batchId).drop("batch_id"))
      .write.mode("overwrite").parquet(s"$ledger/batch_id=$batchId")
  }

  /** One batch's blend-ledger rows from the arrived stats partials:
    * per-source arrived totals, then p9's blend rule — binding source
    * by (tot/w, source), integer budgets, one ledger row per source.
    * Extracted so the r19 plan dumps exercise exactly the product code.
    *
    * Shape (r19): the binding source is found by ONE windowed min over
    * the sources-sized frame (struct ordering ≡ the
    * orderBy (tot/w asc, source asc) + limit(1) it replaces — source
    * is unique after the groupBy, so the tiebreak never reaches the
    * trailing fields), so the ledger write is a single job — the
    * previous persist + orderBy/limit(1) + broadcast crossJoin shape
    * paid a cache materialization and a separate broadcast-build job
    * per batch for the same sources-sized result (§1.2). The single-
    * partition window is exact-by-construction: the frame is one row
    * per arrived source, never corpus-sized. */
  private[graft] def blendLedgerFrame(arrivedStats: DataFrame): DataFrame = {
    val mm = min(struct(
        (col("tot").cast("double") / col("w")).as("rk"), col("source").as("ms"),
        col("tot").as("tot_m"), col("w").as("w_m")))
      .over(Window.partitionBy())
    arrivedStats
      .groupBy("source").agg(sum("btok").as("tot"))
      .withColumn("w", TextOps.sourceWeight(col("source")))
      .withColumn("m", mm)
      .withColumn("tot_m", col("m").getField("tot_m"))
      .withColumn("w_m", col("m").getField("w_m"))
      .withColumn("budget", expr("(w * tot_m) div w_m"))
      .select("source", "w", "tot", "budget")
  }
}

package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Sources

/** x19: event-time lateness accounting for the wave-replay family.
  *
  * q7–q10/q37 use real Structured Streaming watermarks, where Spark
  * DROPS late rows silently (observable only through streaming-query
  * metrics); the wave-replay gates (x8–x18, p2/p3/p6, d12, s11–s16)
  * sidestep event time entirely via the mod-[[Replay.Waves]]
  * DATA rule. x19 closes the gap between the two: the replay carries an
  * explicit WATERMARK GUARD, and rows it rejects are not dropped — they
  * are COUNTED into a per-(batch, event_type) dropped-late ledger, the
  * auditable artifact a production ingest owes its consumers ("how much
  * arrived too late to aggregate, when, and of what kind").
  *
  * Watermark semantics are Spark's own, made closed-form: the watermark
  * for batch b is the maximum event time observed through the END of
  * batch b−1, minus [[LateDelayMicros]] — the engine reads it from a
  * per-batch stats store (batch_id, max event-time), never from raw
  * history, and batch 0 has no watermark (nothing yet observed, nothing
  * late: the Spark rule). A row is late iff its event time is below the
  * batch's watermark; on-time rows feed the batch's aggregate (here the
  * decimal-exact value sum — proof the guard actually FENCES the
  * aggregation, not just counts), late rows feed only the ledger.
  *
  * Because batch membership is the DATA rule and the stats store makes
  * the watermark a pure function of it, the WHOLE ledger is
  * closed-form: batch b's watermark is max(event ts over event_id mod m
  * < b... i.e. earlier waves) − delay, so the DuckDB oracle re-derives
  * every (late, on-time) verdict and the gate is ORACLE-CHECKED end to
  * end — the lateness accounting q24's malformed-record guard gave the
  * value axis (DecisionTreeTest.scala:48-53's countable-reject
  * philosophy), applied to the time axis.
  *
  * Scale design: per-batch cost is one narrow classification map (the
  * watermark is a scalar read from a batches-sized stats store, never a
  * scan of history) plus the batch's fixed-width ledger aggregate; the
  * stats store grows by ONE tiny row per batch. Neither store is
  * window-vacuumable here — the ledger is the full-history audit
  * artifact itself, and the watermark is a max over ALL prior batches'
  * stats rows — but the max is monotone, so a long-lived deployment
  * bounds the stats listing by COMPACTING shipped rows into one
  * running-max partition — shipped and proven mid-stream as x20's
  * [[compactStats]], which FOLDS the scalars (a running max is its own
  * sufficient statistic) where d19/p7 must rewrite rows — not by
  * deleting them; nothing ever re-reads shipped batches. This
  * is how a 1000-executor ingest accounts for stragglers over 100 TB:
  * the guard is a filter fused into the batch scan, and the ledger is
  * types × batches rows.
  */
object LateLedger {

  /** Allowed lateness: 7 days in event-time microseconds (the fixture
    * spans ~30 days, so each post-first wave genuinely splits into a
    * late majority and an on-time tail — both guard branches fire). */
  val LateDelayMicros: Long = 7L * 24 * 3600 * 1000000L

  /** `crashAt`/`workDir`: the p6 crash seam applied to x19's TWO-store
    * batch — dying between the ledger write and the stats write leaves
    * the batch's ledger row visible but its max-event-time unregistered
    * (a torn watermark source); the resumed run redoes the batch (both
    * writes are idempotent per-batch overwrites, and the watermark read
    * prunes to batch_id < current, so the torn row is invisible to the
    * redo) and must converge to the closed-form answer. */
  def x19LateLedger(spark: SparkSession, dir: String,
      crashAt: Option[Long] = None,
      workDir: Option[String] = None): DataFrame = {
    val work = workDir.getOrElse(Replay.workspace("graft_lateledger_"))
    val ledger = s"$work/ledger"
    val stats = s"$work/stats"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "value", "ts")
    Replay.replay(spark, events, Replay.ByMod("event_id"), work) {
      (batch, batchId) => ledgerBatch(batch, batchId, ledger, stats, crashAt)
    }
    readLedger(spark, ledger)
  }

  /** The per-batch ledger step — shared verbatim by x19's single-phase
    * replay and x20's phased one, so the guard/fence/two-store-write
    * semantics cannot drift between the gates. */
  private def ledgerBatch(batch: DataFrame, batchId: Long,
                          ledger: String, stats: String,
                          crashAt: Option[Long]): Unit = {
    val session = batch.sparkSession
    // the watermark at batch START: max event time of PRIOR batches
    // minus the allowed lateness (Spark's update rule — data seen
    // through batch b-1 gates batch b); batch 0 has none
    // heal a mid-swap crash before the open: a missing stats store
    // would silently read wm = None and classify every late event
    // on-time — the exact failure the swap contract exists to prevent
    StreamSketch.healRetiredStore(session, stats)
    val wm: Option[Long] =
      if (!new java.io.File(stats).exists()) None
      else {
        val prior = session.read.parquet(stats)
          .filter(col("batch_id") < batchId)
          .agg(max("max_tsu")).collect()(0)
        if (prior.isNullAt(0)) None
        else Some(prior.getLong(0) - LateDelayMicros)
      }
    val classified = batch
      .withColumn("tsu", unix_micros(col("ts")))
      .withColumn("late",
        wm.map(w => col("tsu") < lit(w)).getOrElse(lit(false)))
    classified.groupBy("event_type")
      .agg(
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        sum(when(!col("late"), 1L).otherwise(0L)).as("n_ontime"),
        // the guard fences the aggregate: only on-time value enters
        sum(when(!col("late"), col("value").cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("ontime_value_d"))
      .write.mode("overwrite").parquet(s"$ledger/batch_id=$batchId")
    // crash seam: dying HERE leaves the ledger written but the
    // batch's event-time maximum unregistered — the torn two-store
    // state the redo must heal
    crashAt.filter(_ == batchId).foreach(b =>
      sys.error(s"injected crash in batch $b"))
    // register the batch's max event time for the NEXT watermark
    // (idempotent per-batch overwrite — a redone batch rewrites the
    // same scalar)
    classified.agg(max("tsu").as("max_tsu"))
      .write.mode("overwrite").parquet(s"$stats/batch_id=$batchId")
  }

  private def readLedger(spark: SparkSession, ledger: String): DataFrame =
    spark.read.parquet(ledger)
      .select(col("batch_id").cast("long").as("batch_id"), col("event_type"),
        col("n_late"), col("n_ontime"),
        col("ontime_value_d").cast("double").as("ontime_value"))
      .orderBy("batch_id", "event_type")

  def x20StatsCompact(spark: SparkSession, dir: String): DataFrame =
    x20WithStoreInfo(spark, dir)._1

  /** x20: the stats-store lifecycle motion x19's scaladoc names, made
    * real — the watermark source is a running MAX, so unlike d19's
    * digest stores (whose compaction must preserve every row) the
    * shipped `batch_id=N` scalar rows compact by FOLDING: max is the
    * sufficient statistic, and the consolidated `batch_id=-1` partition
    * is ONE row, max over everything shipped. -1 stays inside every
    * later batch's `batch_id < current` prune, and a redone batch still
    * excludes its own torn write (the consolidated row covers only
    * strictly earlier batches — the stream is quiesced at the
    * compaction point). The LEDGER store is never compacted: it is the
    * full-history audit artifact itself, read only at the end.
    *
    * The gate is d19's adversarial shape on the TIME axis: replay the
    * first half of the waves, fold the stats store down to one row,
    * replay the rest against the folded state — every phase-B watermark
    * now derives from the consolidated partition, so a fold that lost
    * (or inflated) the max would flip lateness verdicts and fail the
    * oracle, which is x19's SQL VERBATIM (shared string).
    *
    * Scale: the fold reads batches-many one-row files and writes one;
    * between compactions the stats listing is bounded by 1 + batches
    * since the last fold — the claim x19's scaladoc makes, now a
    * measured gate. */
  private[graft] def x20WithStoreInfo(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int) = {
    val work = Replay.workspace("graft_lateledger20_")
    val ledger = s"$work/ledger"
    val stats = s"$work/stats"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "value", "ts")
    var partsBefore = 0
    var partsAfter = 0
    Replay.replay(spark, events, Replay.ByMod("event_id"), work,
      splitAt = Replay.Waves / 2, midpoint = () => {
        partsBefore = Replay.countBatchDirs(stats)
        compactStats(spark, stats)
        partsAfter = Replay.countBatchDirs(stats)
      }) {
      (batch, batchId) => ledgerBatch(batch, batchId, ledger, stats, None)
    }
    (readLedger(spark, ledger), partsBefore, partsAfter,
      Replay.countBatchDirs(stats))
  }

  /** Fold the shipped stats partitions into one consolidated
    * `batch_id=-1` running-max row, then swap it in (the same
    * crash-recoverable retire+promote move as d19's compactStore —
    * single writer, stream quiesced between triggers). */
  private[graft] def compactStats(spark: SparkSession, stats: String): Unit = {
    val tmp = stats + "_compacting"
    // same store-open heal + dead-tmp clear as d19's compactStore: a
    // retry after a mid-swap crash restores the stats from _retired and
    // rebuilds tmp from the healed store
    StreamSketch.healRetiredStore(spark, stats)
    StreamSketch.clearPath(spark, tmp)
    spark.read.parquet(stats).drop("batch_id")
      .agg(max("max_tsu").as("max_tsu"))
      .coalesce(1).write.parquet(s"$tmp/batch_id=-1")
    StreamSketch.swapStore(spark, tmp, stats)
  }


  /** The closed-form batch twin: watermark_b = max event time over
    * earlier waves − delay, derived entirely from the membership rule —
    * what the DuckDB oracle replays in SQL, in engine form for the
    * spec's equivalence pin. */
  private[graft] def x19Batch(spark: SparkSession, dir: String): DataFrame = {
    val m = Replay.Waves
    val e = Sources.table(spark, dir, "events")
      .select(pmod(col("event_id"), lit(m)).cast("long").as("bid"),
        col("event_type"), col("value"), unix_micros(col("ts")).as("tsu"))
    val bm = e.groupBy("bid").agg(max("tsu").as("mt"))
    val wm = bm.as("b").join(bm.as("p"), col("p.bid") < col("b.bid"))
      .groupBy(col("b.bid").as("bid"))
      .agg((max(col("p.mt")) - LateDelayMicros).as("wmv"))
    e.join(wm, Seq("bid"), "left")
      .withColumn("late", col("wmv").isNotNull && col("tsu") < col("wmv"))
      .groupBy(col("bid").as("batch_id"), col("event_type"))
      .agg(
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        sum(when(!col("late"), 1L).otherwise(0L)).as("n_ontime"),
        sum(when(!col("late"), col("value").cast("decimal(18,4)"))
          .otherwise(lit(0).cast("decimal(18,4)"))).cast("double").as("ontime_value"))
      .orderBy("batch_id", "event_type")
  }
}

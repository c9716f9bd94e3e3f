package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Sources
import graft.ops.DedupOps
import graft.out.Canonical._

/** d12: streaming near-dup dedup — the incremental form of d3's
  * MinHash+LSH, the one batch-only operator family a continuously-fed
  * corpus actually needs online (reference lineage: the consumer's
  * per-batch score-and-index loop, ConsumerESFinal.scala:86-94, with
  * the model swapped for the LSH index).
  *
  * Per micro-batch of new documents:
  *   1. shingle + MinHash-sign the batch (narrow, batch-sized);
  *   2. join the batch's band rows against the persisted band store —
  *      new candidate pairs are exactly those meeting on (band index,
  *      band value) with at least one side in the batch, so the join is
  *      batch-bands × store, never store × store;
  *   3. exact-Jaccard-verify candidates (≥ 0.7) against the persisted
  *      shingle store and emit them;
  *   4. append the batch's band and shingle rows to the stores.
  *
  * Every pair is emitted exactly once — in the micro-batch where its
  * LATER document arrives (band rows are static per doc, so two old
  * docs can never become a new candidate). All three writes are
  * per-batch-directory overwrites (the [[Sinks.partitionedBatchWrite]]
  * idempotency move), and store reads prune to `batch_id < current`,
  * so a replayed batch neither duplicates pairs nor double-counts
  * shingles in the Jaccard verify.
  *
  * Scale design: per-batch cost is batch-size signature computation +
  * one equi-join of batch bands against the store (shuffle keyed on
  * band value) + verification on candidates only — the corpus text is
  * never rescanned. The stores are the signature/band index a
  * production incremental dedup keeps as compacted tables; at 100 TB
  * the band store is partitioned by arrival batch and bucketed by band
  * value, so the candidate join prunes old batches at the scan and
  * co-locates without a store-side shuffle — LayoutSpec proves both on
  * the real written layout (batch-side-only exchange asserted) — and
  * verification would read the shingle store by doc_id; both reads are
  * key-pruned, neither is corpus-sized per batch.
  *
  * The gate checks the replayed stream's union of per-batch emissions
  * against the SAME DuckDB oracle as batch d3 — stream ≡ batch is the
  * correctness claim, not just "rows came out".
  */
object IncrementalDedup {

  /** `orderExpr` controls which rows share a micro-batch: d12 has NO
    * ordering precondition — the candidate join is symmetric
    * (least/greatest normalization) and a pair is emitted exactly once
    * in the batch of its later ARRIVAL, whichever doc that is — and
    * StreamEquivSpec proves it by replaying the REVERSED assignment to
    * the same batch-d3 answer (and reads the batch count from
    * [[Replay.recorded]]: a genuinely incremental run, not a single
    * vacuous batch). `waves` is the replay's batch count at fixed data
    * (ScaleCheck's `d12_batches_axis` doubles it: the candidate join is
    * batch × store, so the only index-growing term is the key-pruned
    * store side). */
  def d12StreamMinhash(spark: SparkSession, dir: String,
      orderExpr: org.apache.spark.sql.Column = col("doc_id"),
      waves: Int = Replay.Waves): DataFrame = {
    val work = Replay.workspace("graft_incdedup_")
    val bandStore = s"$work/bands"
    val shingleStore = s"$work/shingles"
    val pairStore = s"$work/pairs"
    Replay.replay(spark, Sources.table(spark, dir, "documents").select("doc_id", "text"),
      Replay.ByRange(orderExpr), work, waves)((batch, batchId) =>
      processBatch(batch, batchId, bandStore, shingleStore, pairStore))
    spark.read.parquet(pairStore)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
  }

  private def processBatch(batch: DataFrame, batchId: Long,
                           bandStore: String, shingleStore: String,
                           pairStore: String): Unit = {
    val spark = batch.sparkSession
    val sh = DedupOps.shingles(batch).persist()
    try {
      val bands = DedupOps.bandRows(sh)
      val priorBands = readStore(spark, bandStore, batchId, bands.schema)
      val priorSh = readStore(spark, shingleStore, batchId, sh.schema)
      // candidates need >= 1 batch-side doc: batch bands meet the full
      // band set (prior store ∪ batch) on band value; least/greatest
      // normalizes to a_id < b_id and distinct collapses multi-band hits
      val cand = bands.as("x")
        .join(priorBands.unionByName(bands).as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a_id"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b_id"))
        .distinct()
      val verified = DedupOps.jaccard(cand, priorSh.unionByName(sh))
        .filter(col("jac") >= 0.7)
        .select(col("a_id"), col("b_id"), r4(col("jac")).as("jaccard"))
      // three mutually independent writes (disjoint dirs, all reading
      // only the persisted batch frames + committed < batchId store
      // state) overlap per guide §2.6 — the FullFunnel rule; retry
      // safety unchanged (idempotent batch_id=N overwrites, reads prune
      // to < batchId, so any crash-subset is rewritten by the redo)
      // materialize the shared persisted frame BEFORE forking: the
      // three writes all read `sh`, and racing its first
      // materialization duplicates partition computes under the cache
      // lock (r18 measured d12 jobs 95→99 from exactly this)
      sh.count(): Unit
      Replay.fence(
        () => verified.write.mode("overwrite")
          .parquet(s"$pairStore/batch_id=$batchId"),
        () => bands.write.mode("overwrite")
          .parquet(s"$bandStore/batch_id=$batchId"),
        () => sh.write.mode("overwrite")
          .parquet(s"$shingleStore/batch_id=$batchId"))
    } finally { sh.unpersist(); () }
  }

  /** Read a per-batch-partitioned store, pruned to batches BEFORE the
    * current one — a retried batch's own partial write must not feed
    * its re-run (double-counted shingles would corrupt the Jaccard).
    * Empty before the first batch commits. */
  private[streaming] def readStore(spark: SparkSession, path: String, batchId: Long,
                                   schema: StructType): DataFrame = {
    // every per-batch open of a swap-target store heals the mid-swap
    // crash state first: without this, a missing store reads as EMPTY
    // (silently re-admitting every prior duplicate), the batch write
    // recreates the dir, and the next swap's cleanup would destroy the
    // only full-history copy at _retired
    StreamSketch.healRetiredStore(spark, path)
    if (new java.io.File(path).exists())
      spark.read.parquet(path).filter(col("batch_id") < batchId).drop("batch_id")
    else
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
  }

  // ---- d19: compaction for the full-history band/shingle stores ------

  def d19BandCompact(spark: SparkSession, dir: String): DataFrame =
    d19WithStoreInfo(spark, dir)._1

  /** d19: partition COMPACTION for d12's band and shingle stores — the
    * lifecycle motion the FULL-HISTORY stores actually need. x18's
    * window vacuum must never touch these (first-arrival dedup reads
    * ALL prior batches; deleting old partitions would re-admit revived
    * duplicates), but without any maintenance they accumulate one
    * `batch_id=N` directory per micro-batch FOREVER: the key-pruned
    * joins stay small, yet the directory listing — what every batch's
    * store read must enumerate — grows with stream lifetime. s13's
    * consolidation move applies verbatim: rewrite the shipped batch
    * partitions into ONE consolidated partition (`batch_id=-1`,
    * repartitioned on the store's join key so the candidate join's
    * scan stays key-clustered), swap it in, and the per-batch
    * first-arrival reads see the identical row set — `-1 < b` keeps
    * the consolidated rows inside every later batch's
    * `batch_id < current` prune, and a replayed batch still excludes
    * its own partial write.
    *
    * The gate proves compaction mid-stream, the adversarial moment:
    * replay the first half of the arrivals, compact BOTH stores down
    * to one partition each, then replay the second half against the
    * compacted state. The emitted pair union must be byte-identical to
    * batch d3 — so the oracle is d12's SQL VERBATIM (shared string),
    * and StreamEquivSpec additionally pins the store row-set across
    * the swap plus the partition-count bound (2 → 1 → 1 + later
    * batches). The pair store is NOT compacted here: it is the output
    * ledger, never re-read by the join.
    *
    * Scale: compaction reads each shipped partition once and writes it
    * back key-clustered — the same I/O class as s13's cell rewrite,
    * schedulable per key range at 100 TB; between compactions the
    * listing is bounded by (1 + batches since last compaction). */
  private[graft] def d19WithStoreInfo(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int, Long) = {
    val work = Replay.workspace("graft_bandcompact_")
    val bandStore = s"$work/bands"
    val shingleStore = s"$work/shingles"
    val pairStore = s"$work/pairs"
    var partsBefore = 0
    var partsAfter = 0
    // two arrival phases (half each): the stream must CONTINUE over a
    // compacted store, not restart
    Replay.replay(spark, Sources.table(spark, dir, "documents").select("doc_id", "text"),
      Replay.ByRange(col("doc_id")), work, splitAt = Replay.Waves / 2,
      midpoint = () => {
        partsBefore = Replay.countBatchDirs(bandStore)
        compactStore(spark, bandStore, "bv")
        compactStore(spark, shingleStore, "doc_id")
        partsAfter = Replay.countBatchDirs(bandStore)
      })((batch, batchId) =>
      processBatch(batch, batchId, bandStore, shingleStore, pairStore))
    val partsEnd = Replay.countBatchDirs(bandStore)
    val emitted = Replay.countBatchDirs(pairStore).toLong
    val result = spark.read.parquet(pairStore)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")
    (result, partsBefore, partsAfter, partsEnd, emitted)
  }

  /** Rewrite a batch-partitioned store's shipped partitions into ONE
    * consolidated `batch_id=-1` partition, repartitioned on `key` (the
    * store's join key, so the candidate join's scan stays
    * key-clustered), then swap it in atomically-enough for the
    * single-writer stream (the stream is quiesced between triggers —
    * exactly when a production table service would take the store
    * lock). -1 sorts below every real batch id, so the consolidated
    * rows remain inside every later `batch_id < current` prune. */
  private[graft] def compactStore(spark: SparkSession, store: String,
                                  key: String): Unit = {
    val tmp = store + "_compacting"
    // store-open seam of the swap's crash contract: a compaction retried
    // after a crash between swapStore's renames must first restore the
    // store from _retired (or this read throws on a missing path), and
    // must clear the dead tmp from the crashed attempt (mode-default
    // parquet write refuses an existing dir — the retry is idempotent
    // because tmp is rebuilt from the healed store, never trusted)
    StreamSketch.healRetiredStore(spark, store)
    StreamSketch.clearPath(spark, tmp)
    spark.read.parquet(store).drop("batch_id")
      .repartition(col(key))
      .write.parquet(s"$tmp/batch_id=-1")
    StreamSketch.swapStore(spark, tmp, store)
  }
}

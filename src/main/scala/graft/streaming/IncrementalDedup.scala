package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Sources, Store}
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
  * idempotent [[Store.put]]s and store reads prune to `batch_id <
  * current`, so a replayed batch neither duplicates pairs nor
  * double-counts shingles in the Jaccard verify.
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
    val st = Stores(spark, work)
    Replay.replay(spark, Sources.table(spark, dir, "documents").select("doc_id", "text"),
      Replay.ByRange(orderExpr), work, waves)((batch, batchId) =>
      processBatch(batch, batchId, st))
    readPairs(st)
  }

  /** d12's three stores under `work`: the band and shingle indexes the
    * candidate join and the verify read, and the emitted-pair ledger. */
  private final case class Stores(bands: Store, shingles: Store, pairs: Store)
  private object Stores {
    def apply(spark: SparkSession, work: String): Stores = Stores(
      Store(spark, s"$work/bands"), Store(spark, s"$work/shingles"),
      Store(spark, s"$work/pairs"))
  }

  private def readPairs(st: Stores): DataFrame =
    st.pairs.all
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy("a_id", "b_id")

  private def processBatch(batch: DataFrame, batchId: Long, st: Stores): Unit = {
    val sh = DedupOps.shingles(batch).persist()
    try {
      val bands = DedupOps.bandRows(sh)
      // prune to batches BEFORE this one: a retried batch's own partial
      // write must not feed its re-run (double-counted shingles would
      // corrupt the Jaccard)
      val priorBands = st.bands.before(batchId, bands.schema)
      val priorSh = st.shingles.before(batchId, sh.schema)
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
        () => st.pairs.put(batchId, verified),
        () => st.bands.put(batchId, bands),
        () => st.shingles.put(batchId, sh))
    } finally { sh.unpersist(); () }
  }

  // ---- d19: compaction for the full-history band/shingle stores ------

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
  def d19BandCompact(spark: SparkSession, dir: String): DataFrame = {
    val work = Replay.workspace("graft_bandcompact_")
    val st = Stores(spark, work)
    // two arrival phases (half each): the stream must CONTINUE over a
    // compacted store, not restart
    Replay.replay(spark, Sources.table(spark, dir, "documents").select("doc_id", "text"),
      Replay.ByRange(col("doc_id")), work, splitAt = Replay.Waves / 2,
      midpoint = () => {
        st.bands.compact(_.repartition(col("bv")))
        st.shingles.compact(_.repartition(col("doc_id")))
      })((batch, batchId) => processBatch(batch, batchId, st))
    readPairs(st)
  }

  /** Fold `store`'s shipped partitions into ONE `batch_id=-1` partition
    * clustered on `key` (the store's join key, so the candidate join's
    * scan stays key-clustered) — [[Store.compact]]'s rewrite fold. */
  private[graft] def compactStore(spark: SparkSession, store: String,
                                  key: String): Unit =
    Store(spark, store).compact(_.repartition(col(key)))
}

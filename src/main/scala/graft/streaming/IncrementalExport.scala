package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.io.Sources
import graft.ops.{PipelineOps, TextOps}

/** p6: the INCREMENTAL export — the daily-refresh motion p4/p5 stop
  * short of. A batch export (p4) reprocesses the world every run; a
  * production corpus refreshes by APPENDING: new documents arrive, the
  * funnel evaluates them against the persisted state of everything that
  * came before, and the export gains new shards while every
  * already-shipped shard's manifest row stays byte-identical — that
  * append-only property is what lets a trainer resume from a manifest
  * prefix without re-verifying history.
  *
  * Per micro-batch of new documents:
  *   1. flag with [[PipelineOps.headFlags]] (eval holdout, gopher
  *      quality — identical verdicts to batch p1);
  *   2. exact dedup, first-arrival-wins against the persisted digest
  *      SET store plus one batch-local window (p2's proven stage; the
  *      near-dup/contam tail stages compose orthogonally via p3's
  *      proven online machinery and are deliberately out of this
  *      gate's scope — p6 adds the EXPORT mechanics);
  *   3. pack the batch's kept documents into per-(batch, source,
  *      shard) export shards in doc_id order — p4's `shard =
  *      ⌊doc_id / ShardDocs⌋` bound, so no single pack group ever
  *      concatenates more than [[TextOps.ShardDocs]] docs even when a
  *      production batch is one source's whole day — and append ONE
  *      manifest row per shard: (source, shard, doc count, token
  *      count, t13-geometry sequence count, packed-stream digest), the
  *      row a training writer ships;
  *   4. append the batch's new digests (anti-joined — the store stays
  *      a set).
  *
  * Batch membership is the windowed gates' DATA rule (`doc_id mod
  * [[Replay.Waves]]`, waves written mtime-ascending), so
  * first arrival means the lexicographically smallest (batch, doc_id)
  * — closed-form in doc_id — and the whole incremental run has an
  * exact from-scratch replay: the DuckDB oracle re-derives every
  * manifest row from the membership rule, which IS the incremental ≡
  * from-scratch claim, checked row-for-row including digests.
  * StreamEquivSpec additionally pins the engine-side batch twin, that
  * every batch contributed manifest rows, and manifest conservation
  * (manifest totals ≡ the kept set's totals).
  *
  * Scale design: per-batch cost is batch-sized flagging plus one
  * digest-keyed join against the key-pruned store (32-byte keys, never
  * text) and a packing exchange bounded per (batch, source, shard) —
  * the [[packShards]] group carries p4's ShardDocs cap, PlanSpec-locked
  * on the shared pack stage; the manifest grows by shards-per-batch
  * tiny rows. Nothing ever reprocesses shipped batches — the defining
  * property of the motion — and a retried batch overwrites its own
  * directory idempotently (store reads prune to `batch_id < current`).
  */
object IncrementalExport {

  /** `crashAt`/`workDir` are the crash-recovery test seam (SinkSpec's
    * restart shape applied to a TWO-store batch): a crash between the
    * manifest write and the keys write leaves the stores torn relative
    * to each other, and the resumed run over the same workDir must
    * converge to the from-scratch answer. `waves` is the replay's batch
    * count at fixed data — ScaleCheck's `p6_batches_axis` doubles it:
    * p6's per-batch work is batch-sized flagging + digest-keyed joins
    * against a key-pruned store, so last ≈ first is the design claim. */
  def p6IncrementalExport(spark: SparkSession, dir: String,
      crashAt: Option[Long] = None,
      workDir: Option[String] = None,
      waves: Int = Replay.Waves): DataFrame =
    p6OnDocs(spark, exportDocs(spark, dir), crashAt, workDir, waves)

  private def exportDocs(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source")

  /** The export run over an explicit document frame — the seam the
    * specs use to PLANT a cross-phase duplicate (the fixture tables
    * carry no exact duplicates, so without a planted one the digest
    * store never decides a verdict and p7's invariance would be
    * vacuously checkable). */
  private[graft] def p6OnDocs(spark: SparkSession, docs: DataFrame,
      crashAt: Option[Long] = None,
      workDir: Option[String] = None,
      waves: Int = Replay.Waves): DataFrame = {
    val work = workDir.getOrElse(Replay.workspace("graft_increxport_"))
    val manifest = s"$work/manifest"
    val keys = s"$work/keys"
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work, waves) {
      (batch, batchId) => processBatch(batch, batchId, keys, manifest, crashAt)
    }
    readManifest(spark, manifest)
  }

  private def readManifest(spark: SparkSession, manifest: String): DataFrame =
    spark.read.parquet(manifest)
      .select(col("batch_id").cast("long").as("batch_id"), col("source"),
        col("shard"), col("n_docs"), col("n_tok"), col("n_seqs"), col("pack_md5"))
      .orderBy("batch_id", "source", "shard")

  def p7ExportCompact(spark: SparkSession, dir: String): DataFrame =
    p7WithStoreInfo(spark, dir)._1

  /** p7: d19's mid-stream compaction applied to p6's digest SET store —
    * the second full-history store family the r11 verdict named (the
    * band/shingle stores were d19's). The store's semantics demand the
    * REWRITE compaction, not x20's fold: first-arrival dedup needs
    * every digest ever shipped (a dropped key re-admits a revived
    * duplicate; there is no sufficient statistic smaller than the set),
    * so the shipped `batch_id=N` partitions rewrite into ONE
    * `batch_id=-1` partition repartitioned on `norm_key` — the store's
    * join key, keeping the per-batch anti-join's scan key-clustered —
    * via d19's compactStore verbatim (shared code, shared swap moves).
    *
    * Adversarial moment, d19's shape: replay the first half of the
    * document waves, compact the digest store down to one partition,
    * replay the rest against the compacted state. Every phase-B batch's
    * first-arrival verdicts now come from the consolidated partition,
    * so a lost or duplicated digest flips a keep/drop and fails the
    * oracle — which is p6's SQL VERBATIM (shared string): the manifest,
    * including every phase-B pack digest, must be byte-identical to the
    * uncompacted run's. The MANIFEST store is never compacted: it is
    * the shipped export artifact whose append-only property is the
    * gate's whole point.
    *
    * Scale: compaction reads each shipped digest partition once and
    * writes back key-clustered (32-byte keys, never text — the cheapest
    * store in the pipeline to rewrite); between compactions the listing
    * is bounded by 1 + batches since the last one. */
  private[graft] def p7WithStoreInfo(spark: SparkSession, dir: String)
      : (DataFrame, Int, Int, Int) =
    p7OnDocs(spark, exportDocs(spark, dir))

  /** The phased run over an explicit frame — [[p6OnDocs]]'s spec seam,
    * compaction included. */
  private[graft] def p7OnDocs(spark: SparkSession, docs: DataFrame)
      : (DataFrame, Int, Int, Int) = {
    val work = Replay.workspace("graft_increxport7_")
    val manifest = s"$work/manifest"
    val keys = s"$work/keys"
    var partsBefore = 0
    var partsAfter = 0
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work,
      splitAt = Replay.Waves / 2, midpoint = () => {
        partsBefore = Replay.countBatchDirs(keys)
        IncrementalDedup.compactStore(spark, keys, "norm_key")
        partsAfter = Replay.countBatchDirs(keys)
      }) {
      (batch, batchId) => processBatch(batch, batchId, keys, manifest, None)
    }
    (readManifest(spark, manifest), partsBefore, partsAfter,
      Replay.countBatchDirs(keys))
  }

  /** The shared pack stage — p4's curate-then-pack move scoped to a kept
    * set: join the kept (doc_id, source[, batch_id]) rows to their token
    * streams, bound every group with p4's `shard = ⌊doc_id/ShardDocs⌋`
    * key, and emit one manifest row per (keys..., source, shard) with
    * the doc/token/sequence counts and the packed-stream digest. ONE
    * hash exchange on the full group key; per-group concat is ≤
    * [[TextOps.ShardDocs]] docs by construction. Used verbatim by the
    * per-batch pack ([[processBatch]]) and the from-scratch twin
    * ([[p6BatchTwin]]), so PlanSpec's bounded-pack lock on the twin
    * covers the streaming path too. */
  private[graft] def packShards(kept: DataFrame, toks: DataFrame,
                                extraKeys: Seq[String] = Nil): DataFrame = {
    val keys: Seq[Column] = (extraKeys :+ "source" :+ "shard").map(col)
    kept.join(toks, Seq("doc_id"))
      .withColumn("shard", floor(col("doc_id") / lit(TextOps.ShardDocs)).cast("long"))
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tok"),
        array_sort(collect_list(struct(col("doc_id"), col("s")))).as("a"))
      .withColumn("n_seqs",
        floor((col("n_tok") + lit(TextOps.SeqTokens - 1)) / lit(TextOps.SeqTokens)).cast("long"))
      .withColumn("pack_md5",
        md5(concat_ws(" ", transform(col("a"), x => x.getField("s")))))
      .select((extraKeys ++ Seq("source", "shard", "n_docs", "n_tok", "n_seqs", "pack_md5"))
        .map(col): _*)
  }

  private def processBatch(batch: DataFrame, batchId: Long,
                           keys: String, manifest: String,
                           crashAt: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val flagged = PipelineOps.headFlags(batch)
    val elig = flagged.filter(!col("is_eval") && col("q"))
    val keySchema = StructType(elig.select("norm_key").schema.fields)
    // heal a mid-swap crash before the open — a missing digest store
    // must never read as empty (first-arrival would re-admit history)
    StreamSketch.healRetiredStore(spark, keys)
    val priorKeys =
      if (new java.io.File(keys).exists())
        spark.read.parquet(keys).filter(col("batch_id") < batchId).drop("batch_id")
      else
        spark.createDataFrame(new java.util.ArrayList[Row](), keySchema)
    // first-arrival-wins: a digest seen in ANY earlier batch drops the
    // doc; within the batch the smallest doc_id keeps (together: the
    // lexicographically smallest (batch, doc_id) — the closed-form rule
    // the oracle replays)
    val kept = elig
      .withColumn("min_id", min("doc_id").over(Window.partitionBy("norm_key")))
      .join(priorKeys.select(col("norm_key"), lit(true).as("seen")), Seq("norm_key"), "left")
      .filter(!coalesce(col("seen"), lit(false)) && col("doc_id") === col("min_id"))
      .select("doc_id", "source")
    val toks = batch
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), concat_ws(" ", col("ts")).as("s"),
        size(col("ts")).cast("long").as("n_tok"))
    packShards(kept, toks)
      .write.mode("overwrite").parquet(s"$manifest/batch_id=$batchId")
    // crash seam: dying HERE leaves the manifest written but the batch's
    // digests unregistered — the torn two-store state the redo must heal
    crashAt.filter(_ == batchId).foreach(b => sys.error(s"injected crash in batch $b"))
    // digest set append: only digests unseen in earlier batches
    elig.select("norm_key").distinct()
      .join(priorKeys, Seq("norm_key"), "left_anti")
      .write.mode("overwrite").parquet(s"$keys/batch_id=$batchId")
  }

  /** The from-scratch twin over the membership rule: kept = the
    * lexicographically smallest (batch, doc_id) of each digest among
    * eligible docs — compared as a (bid, doc_id) STRUCT, never a packed
    * integer, so no doc_id-width assumption sneaks in — packed per
    * (batch, source, shard) via the shared [[packShards]] stage; equal
    * to the incremental manifest row-for-row (the append-only claim in
    * engine form; the DuckDB oracle re-derives the same thing in SQL). */
  private[graft] def p6BatchTwin(spark: SparkSession, dir: String): DataFrame = {
    val m = Replay.Waves
    val docs = Sources.table(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source")
    val flagged = PipelineOps.headFlags(docs)
      .withColumn("bid", pmod(col("doc_id"), lit(m)).cast("long"))
    val elig = flagged.filter(!col("is_eval") && col("q"))
      .withColumn("akey", struct(col("bid"), col("doc_id")))
      .withColumn("first_key", min("akey").over(Window.partitionBy("norm_key")))
    val kept = elig.filter(col("akey") === col("first_key"))
      .select(col("doc_id"), col("source"), col("bid").as("batch_id"))
    val toks = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), concat_ws(" ", col("ts")).as("s"),
        size(col("ts")).cast("long").as("n_tok"))
    packShards(kept, toks, extraKeys = Seq("batch_id"))
      .orderBy("batch_id", "source", "shard")
  }
}

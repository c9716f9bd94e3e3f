package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Sources
import graft.ops.PipelineOps

/** p2: the corpus-prep funnel head run ONLINE — the streaming form of
  * p1's stateless stages (eval holdout, gopher quality, d1's exact
  * dedup) over a continuously-fed corpus, the way a crawl-ingest
  * pipeline actually applies them: per arriving micro-batch, not as a
  * nightly batch re-run (reference lineage: the consumer's per-batch
  * filter-guard-score loop, ConsumerESFinal.scala:86-94).
  *
  * Per micro-batch of new documents:
  *   1. flag the batch with [[PipelineOps.headFlags]] — the IDENTICAL
  *      per-doc verdicts batch p1 uses (narrow, batch-sized);
  *   2. exact dedup, first-arrival-wins: an eligible doc is a duplicate
  *      if its normalized digest was already registered by a PRIOR
  *      batch (persisted key store) or by a smaller doc_id in its own
  *      batch (one batch-local window over 32-byte keys);
  *   3. append the batch's digests to the key store, and the per-doc
  *      stage labels to the label store.
  *
  * The replay feeds doc_id-range splits in doc_id order (mtimes are set
  * ascending, and the file source orders by mtime), so first-arrival
  * IS min-doc_id and the stream's ledger must equal the batch
  * derivation — the gate checks it against the same funnel-head SQL
  * p1's oracle uses, and StreamEquivSpec additionally ties the
  * n_exact_dup column to batch p1's, row for row.
  *
  * Scale design: per-batch cost is one narrow flag pass + one equi-join
  * of batch keys against the key store (shuffle keyed on 32-byte
  * digests, batch-side only — the store side is read key-pruned at 100
  * TB where it is a bucketed table) + two batch-sized appends. Corpus
  * text is never rescanned; no state lives on the driver. Writes are
  * per-batch-directory overwrites (idempotent under replay), and store
  * reads prune to `batch_id < current`, so a retried batch cannot see
  * its own partial output.
  */
object StreamFunnel {

  def p2StreamFunnel(spark: SparkSession, dir: String): DataFrame =
    p2From(Sources.table(spark, dir, "documents"))

  /** Frame-level seam: StreamEquivSpec replays a fixture with PLANTED
    * cross-batch duplicates through it (the natural fixtures contain no
    * exact text dups, which would leave the key store untested).
    * `orderExpr` controls arrival order: first-arrival-wins makes the
    * doc_id-ordered replay a PRECONDITION of the p2 ≡ p1 parity —
    * StreamEquivSpec asserts the reversed replay genuinely breaks it
    * (the precondition is load-bearing, not prose). */
  private[graft] def p2From(docs: DataFrame,
      orderExpr: org.apache.spark.sql.Column = col("doc_id")): DataFrame = {
    val spark = docs.sparkSession
    val work = Replay.workspace("graft_funnel_")
    val keyStore = s"$work/keys"
    val labelStore = s"$work/labels"
    // first-arrival must mean min-doc_id: the range waves replay in
    // stamped range order
    Replay.replay(spark, docs.select("doc_id", "text", "lang", "source"),
      Replay.ByRange(orderExpr), work)((batch, batchId) =>
      processBatch(batch, batchId, keyStore, labelStore))
    spark.read.parquet(labelStore)
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("stage") === "eval", 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("stage") === "quality", 1L).otherwise(0L)).as("n_fail_quality"),
        sum(when(col("stage") === "exact", 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("stage") === "kept", col("wc")).otherwise(0L)).as("tok_kept"))
      .orderBy("lang", "source")
  }

  private def processBatch(batch: DataFrame, batchId: Long,
                           keyStore: String, labelStore: String): Unit = {
    val spark = batch.sparkSession
    val flagged = PipelineOps.headFlags(batch).persist()
    try {
      val elig = flagged.filter(!col("is_eval") && col("q"))
      val keySchema = StructType(elig.select("norm_key").schema.fields)
      val prior = readStore(spark, keyStore, batchId, keySchema)
      val staged = elig
        .withColumn("min_id", min("doc_id").over(Window.partitionBy("norm_key")))
        .join(prior.select(col("norm_key"), lit(true).as("seen")), Seq("norm_key"), "left")
        .withColumn("st",
          when(coalesce(col("seen"), lit(false)) || col("doc_id") =!= col("min_id"), "exact")
            .otherwise("kept"))
        .select("doc_id", "st")
      val labeled = flagged.join(staged, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("is_eval"), "eval")
            .when(!col("q"), "quality")
            .otherwise(col("st")))
        .select("doc_id", "lang", "source", "stage", "wc")
      // the store must stay a SET: append only keys not already registered
      // by a prior batch, else a digest seen in >=2 prior batches would
      // fan out the left join above on its third arrival (duplicating
      // that doc's label rows and inflating n_docs / n_exact_dup).
      // The two writes are independent (disjoint dirs, both reading the
      // shared persisted frame + committed < batchId state) and overlap
      // per guide §2.6 (the FullFunnel rule); retry safety unchanged —
      // idempotent batch_id=N overwrites, reads prune to < batchId.
      // no eager primer (the d12 rule doesn't bite here — A/B'd in
      // r19: jobs and wall both unchanged with one; the keys write
      // materializes `flagged` before the labels write needs it)
      Replay.fence(
        () => labeled.write.mode("overwrite")
          .parquet(s"$labelStore/batch_id=$batchId"),
        () => elig.select("norm_key").distinct()
          .join(prior, Seq("norm_key"), "left_anti")
          .write.mode("overwrite").parquet(s"$keyStore/batch_id=$batchId"))
    } finally { flagged.unpersist(); () }
  }

  /** Store read pruned to batches BEFORE the current one (retry safety —
    * a re-run batch must not see its own partial write). */
  private def readStore(spark: SparkSession, path: String, batchId: Long,
                        schema: StructType): DataFrame =
    if (new java.io.File(path).exists())
      spark.read.parquet(path).filter(col("batch_id") < batchId).drop("batch_id")
    else
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
}

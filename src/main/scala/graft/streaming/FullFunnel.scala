package graft.streaming

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}

import graft.io.Sources
import graft.ops.{DedupOps, PipelineOps, TextOps}

/** p3: the WHOLE corpus-prep funnel run ONLINE — p2's head stages plus
  * the tail (near-dup dedup and benchmark decontamination) applied per
  * arriving micro-batch, the way a crawl-ingest pipeline actually ships
  * it (reference lineage: the consumer's per-batch filter-guard-score
  * loop, ConsumerESFinal.scala:86-94). Completes what p2 left batch-only:
  * both tail stages reuse the incremental machinery their standalone
  * gates prove — d12's persisted band/shingle stores for near-dup
  * candidates, d14's bloom-prefiltered gram probe for decontamination.
  *
  * Per micro-batch of new documents:
  *   1. flag with [[PipelineOps.headFlags]] (eval holdout, gopher
  *      quality, normalized digest — identical verdicts to batch p1);
  *   2. exact dedup, first-arrival-wins: prior-batch digest store +
  *      one batch-local window (p2's stage, set-store append);
  *   3. near-dup, first-arrival-wins: the batch's MinHash band rows meet
  *      the persisted band store ∪ the batch's own earlier rows on
  *      (band index, band value) — candidates where the batch doc is the
  *      LATER side — then exact-Jaccard verify (≥ 0.7) against the
  *      persisted shingle store (d12's candidate/verify plan, re-aimed
  *      at labeling the batch doc instead of emitting the pair);
  *   4. decontamination against the STATIC benchmark side: eval docs
  *      exist before the crawl, so their distinct 5-gram table and its
  *      fixed-fpp Bloom filter are materialized ONCE before the stream
  *      starts (an offline artifact shipped to the stream — d14's
  *      layout); per batch, survivor grams pass the codegen
  *      `might_contain` prefilter and only survivors pay the exact
  *      gram equi-join that drops false positives;
  *   5. append the batch's digests (anti-joined — the store stays a
  *      set), band rows, and shingle rows; write per-doc stage labels.
  *
  * First-arrival semantics: the replay arrives in doc_id order, so
  * "arrived earlier" ≡ "smaller doc_id" and the stream's verdicts have
  * an exact batch replay (the oracle): a doc is an exact dup iff it is
  * not its digest's min; a NEAR dup iff some verified pair (a, b) has
  * b = doc (a smaller partner exists); contaminated iff it shares a
  * 5-gram with the benchmark. This is the streaming-native form of
  * p1's cluster rule — identical whenever every non-representative
  * cluster member directly collides with a smaller doc (true of the
  * fixtures, asserted in StreamEquivSpec; a chain-shaped cluster whose
  * middle member pairs only upward would keep one more doc than d10's
  * global keep-one, the inherent price of online dedup).
  *
  * Scale design: per-batch cost is batch-sized flagging/signing + three
  * equi-joins keyed on fixed-width digests (norm_key, band value, gram
  * md5) — batch side vs key-pruned stores, never store × store, corpus
  * text never rescanned. The candidate verify touches the shingle store
  * only through candidate doc_ids; at 100 TB both stores are bucketed
  * by their join key so the per-batch join co-locates without a
  * store-side exchange (LayoutSpec proves the plan on the real store
  * layout). The decontamination side ships as a bloom whose bits scale
  * with fpp, not benchmark cardinality. Writes are per-batch-directory
  * overwrites (idempotent under replay); store reads prune to
  * `batch_id < current`, so a retried batch cannot see its own partial
  * output. No state ever lives on the driver.
  */
object FullFunnel {

  def p3StreamFunnel(spark: SparkSession, dir: String): DataFrame =
    p3From(Sources.table(spark, dir, "documents"))

  /** Frame-level seam: StreamEquivSpec replays fixtures with PLANTED
    * cross-batch near-duplicates through it. `orderExpr` controls
    * arrival order: the doc_id-ordered replay is a PRECONDITION of the
    * p3 ≡ p1 parity — the near stage labels the batch doc only when it
    * is the LARGER side of a candidate pair, so a reversed replay
    * misses every cross-batch near-dup (StreamEquivSpec asserts exactly
    * that divergence: the precondition is load-bearing, not prose). */
  private[graft] def p3From(docs: DataFrame,
      orderExpr: org.apache.spark.sql.Column = col("doc_id")): DataFrame = {
    val spark = docs.sparkSession
    val work = Replay.workspace("graft_fullfunnel_")
    val stores = prepArtifacts(docs, work)
    // first-arrival must mean min-doc_id: the range waves replay in
    // stamped range order
    Replay.replay(spark, docs.select("doc_id", "text", "lang", "source"),
      Replay.ByRange(orderExpr), work)((batch, batchId) =>
      processBatch(batch, batchId, stores))
    ledger(spark.read.parquet(stores.labels))
  }

  /** Materialize the static benchmark-side artifacts the stream consumes
    * (distinct eval 5-grams + their bloom filter, written once before
    * the stream starts) and name the store paths. */
  private def prepArtifacts(docs: DataFrame, work: String): Stores = {
    val spark = docs.sparkSession
    val evalgPath = s"$work/evalg"
    val bloomPath = s"$work/bloom"
    TextOps.gram5(docs.filter(col("doc_id") % DedupOps.EvalMod === 0), col("doc_id"))
      .select("g").distinct()
      .write.parquet(evalgPath)
    spark.read.parquet(evalgPath)
      .agg(expr(
        s"bloom_filter_agg(xxhash64(g), ${DedupOps.BloomCapacity}L, ${DedupOps.BloomNumBits}L)"
      ).as("bf"))
      .write.parquet(bloomPath)
    Stores(s"$work/keys", s"$work/bands", s"$work/shingles",
      s"$work/labels", evalgPath, bloomPath)
  }

  private[graft] def p3CompactInfo(spark: SparkSession, dir: String)
      : (DataFrame, Seq[Int], Seq[Int], Seq[Int]) =
    p3CompactOnDocs(spark, Sources.table(spark, dir, "documents")
      .select("doc_id", "text", "lang", "source"))

  /** d19's mid-stream compaction proven on p3's funnel — the most
    * store-heavy stream in the repo holds THREE growing full-history
    * stores (digest set, band rows, shingle rows), and each gets d19's
    * adversarial phased shape at once: replay the first half of the
    * doc_id-ordered arrivals, rewrite ALL THREE stores' shipped
    * partitions into one consolidated `batch_id=-1` partition each
    * (keyed on that store's join key — norm_key / bv / doc_id — via
    * [[IncrementalDedup.compactStore]] verbatim), then replay the
    * second half against the compacted state. Every phase-B verdict —
    * exact dup, near-dup candidate, Jaccard verify — now reads the
    * consolidated partitions, so a lost digest/band/shingle flips a
    * stage label and diverges the ledger; StreamEquivSpec asserts the
    * ledger is byte-identical to the unphased run's (and, on a planted
    * frame, that cross-phase exact AND near duplicates still drop
    * through the compacted stores). The LABELS store is never
    * compacted: it is the output ledger, never re-read by a batch.
    * Returns (ledger, per-store partition counts before / after /
    * at stream end), count order (keys, bands, shingles). */
  private[graft] def p3CompactOnDocs(spark: SparkSession, docs: DataFrame)
      : (DataFrame, Seq[Int], Seq[Int], Seq[Int]) = {
    val work = Replay.workspace("graft_fullfunnel_c_")
    val stores = prepArtifacts(docs, work)
    val tracked = Seq(stores.keys, stores.bands, stores.shingles)
    def counts(): Seq[Int] = tracked.map(Replay.countBatchDirs)
    var before = Seq.empty[Int]
    var after = Seq.empty[Int]
    // two arrival phases (half each): the stream must CONTINUE over the
    // compacted stores, not restart
    Replay.replay(spark, docs.select("doc_id", "text", "lang", "source"),
      Replay.ByRange(col("doc_id")), work, splitAt = Replay.Waves / 2,
      midpoint = () => {
        before = counts()
        IncrementalDedup.compactStore(spark, stores.keys, "norm_key")
        IncrementalDedup.compactStore(spark, stores.bands, "bv")
        IncrementalDedup.compactStore(spark, stores.shingles, "doc_id")
        after = counts()
      })((batch, batchId) => processBatch(batch, batchId, stores))
    (ledger(spark.read.parquet(stores.labels)), before, after, counts())
  }

  private case class Stores(keys: String, bands: String, shingles: String,
                            labels: String, evalg: String, bloom: String)

  /** The per-(lang, source) funnel ledger over per-doc stage labels —
    * p1's exact column set, so the two gates are comparable row-for-row. */
  private def ledger(labels: DataFrame): DataFrame = {
    def n(stage: String, as: String): Column =
      sum(when(col("stage") === stage, 1L).otherwise(0L)).as(as)
    labels.groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"), n("eval", "n_eval"),
        n("quality", "n_fail_quality"), n("exact", "n_exact_dup"),
        n("near", "n_near_dup"), n("contam", "n_contam"), n("kept", "n_kept"),
        sum(when(col("stage") === "kept", col("wc")).otherwise(0L)).as("tok_kept"))
      .orderBy("lang", "source")
  }

  private def processBatch(batch: DataFrame, batchId: Long, st: Stores): Unit = {
    val spark = batch.sparkSession
    val flagged = PipelineOps.headFlags(batch).persist()
    val sh = DedupOps.shingles(batch).persist()
    try {
      val elig = flagged.filter(!col("is_eval") && col("q"))
      // exact: first-arrival via the digest set store + batch-local window
      val keySchema = StructType(elig.select("norm_key").schema.fields)
      val priorKeys = readStore(spark, st.keys, batchId, keySchema)
      val exactIds = elig
        .withColumn("min_id", min("doc_id").over(Window.partitionBy("norm_key")))
        .join(priorKeys.select(col("norm_key"), lit(true).as("seen")), Seq("norm_key"), "left")
        .filter(coalesce(col("seen"), lit(false)) || col("doc_id") =!= col("min_id"))
        .select("doc_id").withColumn("is_exact", lit(true))
      // near: batch bands (later side) × store ∪ own batch, Jaccard-verified
      // against the shingle store — d12's plan, labeling the later doc
      val bands = DedupOps.bandRows(sh)
      val priorBands = readStore(spark, st.bands, batchId, bands.schema)
      val priorSh = readStore(spark, st.shingles, batchId, sh.schema)
      val cand = bands.as("x")
        .join(priorBands.unionByName(bands).as("y"),
          col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
            col("x.doc_id") > col("y.doc_id"))
        .select(col("y.doc_id").as("a_id"), col("x.doc_id").as("b_id"))
        .distinct()
      val nearIds = DedupOps.jaccard(cand, priorSh.unionByName(sh))
        .filter(col("jac") >= 0.7)
        .select(col("b_id").as("doc_id")).distinct()
        .withColumn("is_near", lit(true))
      // contam: codegen bloom prefilter (static artifact) + exact verify
      // semi-join against the static eval gram table; the subquery view
      // is per-invocation unique and dropped once analysis binds it
      // (concurrent/interleaved runs on one session can't cross-wire)
      val bloomView = DedupOps.uniqueViewName(s"graft_p3_bloom_b$batchId")
      spark.read.parquet(st.bloom).createOrReplaceTempView(bloomView)
      val contamIds = try {
        TextOps.gram5(
            batch.filter(col("doc_id") % DedupOps.EvalMod =!= 0), col("doc_id"))
          .filter(expr(s"might_contain((select bf from $bloomView), xxhash64(g))"))
          .join(spark.read.parquet(st.evalg), Seq("g"), "left_semi")
          .select("doc_id").distinct().withColumn("is_ct", lit(true))
      } finally { spark.catalog.dropTempView(bloomView); () }
      val labeled = flagged
        .join(exactIds, Seq("doc_id"), "left")
        .join(nearIds, Seq("doc_id"), "left")
        .join(contamIds, Seq("doc_id"), "left")
        .withColumn("stage",
          when(col("is_eval"), "eval")
            .when(!col("q"), "quality")
            .when(coalesce(col("is_exact"), lit(false)), "exact")
            .when(coalesce(col("is_near"), lit(false)), "near")
            .when(coalesce(col("is_ct"), lit(false)), "contam")
            .otherwise("kept"))
        .select("doc_id", "lang", "source", "stage", "wc")
      // the four per-batch writes are mutually independent (disjoint
      // target dirs; all four read only the shared persisted frames and
      // committed < batchId store state), so they run CONCURRENTLY
      // (guide §2.6: overlap independent jobs — each write is a short
      // stage wave that leaves most executors idle at its tail; on a
      // cluster the four job DAGs interleave the same way). Retry
      // safety is unchanged: every write is an idempotent batch_id=N
      // overwrite and reads prune to `< batchId`, so ANY crash-subset
      // of completed writes is overwritten by the redone batch — the
      // sequential order never carried semantics. Ready-all before
      // result-all ([[Replay.fence]]): a failed write must not leave a
      // sibling job running into the batch retry (the m20 fence rule).
      // NO eager primer here (unlike d12/d20): A/B'd in r19 — priming
      // flagged+sh cost +7 jobs, priming sh alone +1 job and +9 % wall
      // (min-of-3, same host). p3's four writes stagger naturally: the
      // keys write materializes `flagged` and the bands write `sh`
      // while the labels write is still deep in its candidate subplans,
      // so the cache race d12 measured never bites here.
      Replay.fence(
        () => labeled.write.mode("overwrite")
          .parquet(s"${st.labels}/batch_id=$batchId"),
        () => elig.select("norm_key").distinct()
          .join(priorKeys, Seq("norm_key"), "left_anti")
          .write.mode("overwrite").parquet(s"${st.keys}/batch_id=$batchId"),
        () => bands.write.mode("overwrite")
          .parquet(s"${st.bands}/batch_id=$batchId"),
        () => sh.write.mode("overwrite")
          .parquet(s"${st.shingles}/batch_id=$batchId"))
    } finally { flagged.unpersist(); sh.unpersist(); () }
  }

  /** Store read pruned to batches BEFORE the current one (retry safety).
    * Heals the mid-swap crash state first — a missing swap-target store
    * must never read as empty (see IncrementalDedup.readStore). */
  private def readStore(spark: SparkSession, path: String, batchId: Long,
                        schema: StructType): DataFrame = {
    graft.streaming.StreamSketch.healRetiredStore(spark, path)
    if (new java.io.File(path).exists())
      spark.read.parquet(path).filter(col("batch_id") < batchId).drop("batch_id")
    else
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
  }

  /** The batch replay of p3's first-arrival semantics — the definition
    * the stream must reproduce (StreamEquivSpec runs both over planted
    * fixtures; the DuckDB oracle mirrors this derivation in SQL). */
  private[graft] def batchTwin(docs: DataFrame): DataFrame = {
    val flagged = PipelineOps.headFlags(docs)
    val sh = DedupOps.shingles(docs)
    val bands = DedupOps.bandRows(sh)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    val nearIds = DedupOps.jaccard(cand, sh)
      .filter(col("jac") >= 0.7)
      .select(col("b_id").as("doc_id")).distinct()
      .withColumn("is_near", lit(true))
    val evalG = TextOps.gram5(docs.filter(col("doc_id") % DedupOps.EvalMod === 0),
      col("doc_id")).select("g").distinct()
    val contamIds = TextOps.gram5(
        docs.filter(col("doc_id") % DedupOps.EvalMod =!= 0), col("doc_id"))
      .join(evalG, Seq("g"), "left_semi")
      .select("doc_id").distinct().withColumn("is_ct", lit(true))
    val labeled = flagged
      .withColumn("min_id",
        when(!col("is_eval") && col("q"),
          min(when(!col("is_eval") && col("q"), col("doc_id")))
            .over(Window.partitionBy("norm_key"))))
      .join(nearIds, Seq("doc_id"), "left")
      .join(contamIds, Seq("doc_id"), "left")
      .withColumn("stage",
        when(col("is_eval"), "eval")
          .when(!col("q"), "quality")
          .when(col("doc_id") =!= col("min_id"), "exact")
          .when(coalesce(col("is_near"), lit(false)), "near")
          .when(coalesce(col("is_ct"), lit(false)), "contam")
          .otherwise("kept"))
      .select("doc_id", "lang", "source", "stage", "wc")
    ledger(labeled)
  }
}

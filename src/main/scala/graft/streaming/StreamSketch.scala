package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources

/** x8: mergeable sketches across micro-batches — the streaming form of
  * x5's approximate aggregates, and the production motion behind
  * q17/q32's documented 100 TB swap-ins (reference lineage: the
  * consumer's per-batch aggregate-and-store loop,
  * ConsumerESFinal.scala:86-94, with the running count swapped for a
  * mergeable sketch).
  *
  * x5 proves the sketches' error at rest; x8 proves the property that
  * makes them the 100 TB answer: they MERGE. Per micro-batch of events:
  *
  *   1. build a per-event_type HLL sketch of the batch's user_ids
  *      (DataSketches `hll_sketch_agg`, lgK = [[LgK]]) plus the exact
  *      additive count — a map-side-combinable aggregation whose
  *      output is types × ≤1.5 KB, regardless of batch size;
  *   2. append the sketch rows to a batch-partitioned sketch store
  *      (idempotent per-batch-directory overwrite, the d12 move).
  *
  * The final answer never re-reads events: it merges the stored
  * partials register-wise (`hll_union_agg`) and estimates. HLL
  * register maxima are order- and partition-independent, so the merged
  * estimate is IDENTICAL to a single batch-built sketch over the whole
  * table — asserted bit-for-bit in StreamEquivSpec, alongside the
  * ≤5% error pin vs exact `count(DISTINCT user_id)` (lgK=12 → rsd
  * ≈1.6%, 3σ <5%).
  *
  * Scale design: this is how a 1000-executor cluster serves "distinct
  * users, updated each batch" over 100 TB — per-batch work is one
  * partial aggregate of the batch (no state store, no raw-event
  * retention), the sketch store grows by types × batches KILOBYTE
  * rows, and any window of batches can be merged after the fact at
  * interactive cost. The exact twin would re-shuffle every user_id
  * ever seen, per batch.
  *
  * Gate output: (event_type, approx_users, n_events) — rows-only by
  * declared design (DataSketches HLL internals are engine-specific, so
  * DuckDB cannot replay the estimate); the merge-exactness and error
  * pins live in StreamEquivSpec.
  */
object StreamSketch {

  /** DataSketches HLL lgConfigK: 2^12 registers → rsd ≈ 1.04/√4096 ≈
    * 1.6%; the StreamEquivSpec pin allows 5% (≈3σ). */
  val LgK = 12

  /** `orderExpr` controls which rows share a micro-batch
    * (StreamEquivSpec replays with the REVERSED assignment to prove the
    * merge is arrival-order-independent — register maxima and count
    * addition don't care which batch a row landed in). `waves` is the
    * replay's batch count at fixed data — ScaleCheck's
    * `x8_batches_axis` doubles it: per-batch work is one
    * map-side-combinable aggregation with a types × ≤1.5 KB output plus
    * one append, independent of every prior batch, so last ≈ first is
    * the claim as a number. */
  def x8StreamSketch(spark: SparkSession, dir: String,
      orderExpr: org.apache.spark.sql.Column = col("event_id"),
      waves: Int = Replay.Waves): DataFrame = {
    val work = Replay.workspace("graft_sketchstream_")
    val store = s"$work/sketches"
    Replay.replay(spark,
      Sources.table(spark, dir, "events").select("event_id", "event_type", "user_id"),
      Replay.ByRange(orderExpr), work, waves)((batch, batchId) =>
      processBatch(batch, batchId, store))
    spark.read.parquet(store).drop("batch_id")
      .groupBy("event_type")
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
        sum("n_events").as("n_events"))
      .orderBy("event_type")
  }

  /** The batch twin: one sketch built over the whole table in a single
    * aggregation — StreamEquivSpec asserts the merged stream estimate
    * equals this exactly (register maxima are merge-invariant). */
  private[graft] def x8Batch(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, $LgK))")
          .as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  private def processBatch(batch: DataFrame, batchId: Long,
                           store: String): Unit =
    batch.groupBy("event_type")
      .agg(
        expr(s"hll_sketch_agg(user_id, $LgK)").as("sk"),
        count(lit(1)).as("n_events"))
      .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")

  // ---- x9: mergeable quantile histograms across micro-batches ----

  /** Histogram bucket count over the declared value domain
    * [[Lo]]..[[Hi]]: width = 1000/256 = 125/32 = 3.90625, BINARY-EXACT
    * (256 divides 1000·2⁵), so Spark and DuckDB floor identical doubles
    * at bucket boundaries and the whole gate is deterministic. */
  val Buckets = 256
  val Lo = 0.0
  val Hi = 1000.0
  /** Bucket width — also the declared worst-case quantile-estimate
    * error (an estimate is its bucket's midpoint, the true value lies
    * in the bucket). */
  val BucketWidth: Double = (Hi - Lo) / Buckets

  /** x9: x8's quantile counterpart — per-type p50/p90 estimates whose
    * per-batch summaries MERGE, and which — unlike x5's
    * `percentile_approx`/x8's HLL (engine-specific internals, rows-only)
    * — are fully deterministic integer/decimal arithmetic, so this gate
    * is ORACLE-CHECKED end to end.
    *
    * Per micro-batch: count events into a fixed 256-bucket equi-width
    * histogram over the declared domain [0, 1000) per event_type (one
    * map-side-combinable aggregation; out-of-domain values clamp to the
    * edge buckets) and append the (event_type, bucket, count) rows to a
    * batch-partitioned store. The final answer merges by ADDITION —
    * histogram counts are the simplest mergeable quantile summary — and
    * reads each quantile as the midpoint of the first bucket where the
    * cumulative count crosses q·total (integer comparisons: cum·2 ≥
    * total, cum·10 ≥ 9·total — no float thresholds). Declared error:
    * the true quantile lies in the chosen bucket, so |est − exact| ≤
    * [[BucketWidth]] (pinned in StreamEquivSpec, alongside stream ≡
    * whole-table-histogram equality, which is EXACT since counts are
    * additive — the oracle is the whole-table SQL).
    *
    * Scale design: per-batch work is one partial aggregate with a
    * FIXED-WIDTH output (types × 256 rows) regardless of batch size —
    * no state store, no raw retention, no sort; the store grows by
    * types × 256 × batches tiny rows; any batch window merges by
    * summing counts. This is the production shape for "p50/p90 latency
    * per key, updated per batch over 100 TB" — the exact twin would
    * re-sort every value ever seen, per batch. */
  def x9StreamQuantile(spark: SparkSession, dir: String,
      orderExpr: org.apache.spark.sql.Column = col("event_id")): DataFrame = {
    val work = Replay.workspace("graft_quantstream_")
    val store = s"$work/hist"
    Replay.replay(spark,
      Sources.table(spark, dir, "events").select("event_id", "event_type", "value"),
      Replay.ByRange(orderExpr), work)((batch, batchId) =>
      batch.groupBy(col("event_type"), bucket(col("value")).as("b"))
        .agg(count(lit(1)).as("cnt"))
        .write.mode("overwrite").parquet(s"$store/batch_id=$batchId"))
    quantilesFromHistogram(spark.read.parquet(store).drop("batch_id"))
  }

  /** The batch twin: the whole table pushed through one histogram —
    * equal to the merged stream result EXACTLY (counts are additive). */
  private[graft] def x9Batch(spark: SparkSession, dir: String): DataFrame =
    quantilesFromHistogram(
      Sources.table(spark, dir, "events")
        .groupBy(col("event_type"), bucket(col("value")).as("b"))
        .agg(count(lit(1)).as("cnt")))

  // ---- x10: mergeable count-min counters across micro-batches ----

  /** Watchlist size: the terms whose counts the merged sketch serves —
    * t6's top-20 rule, materialized as an offline artifact. */
  val WatchK = 20

  /** x10: t6's count-min sketch MERGED across micro-batches — the third
    * member of the mergeable-summary family (x8 HLL registers merge by
    * max, x9 histogram counts by addition, x10 CMS counters by
    * addition) and, like x9, fully deterministic (md5-byte hashing, the
    * oracle rebuilds the identical sketch), so it is ORACLE-CHECKED end
    * to end — the production form of t6's documented 100 TB swap-in.
    *
    * The WATCHLIST is an offline artifact written once before the
    * stream starts (here t6's exact top-[[WatchK]] rule — "yesterday's
    * heavy hitters"; in production a configured term list), exactly how
    * s11 ships its quantizer. Per micro-batch of documents: count the
    * batch's tokens, hash each distinct token into [[graft.ops.TextOps.CmsDepth]]
    * × 256 counter cells, and append the batch's PARTIAL counters — at
    * most d·256 rows regardless of batch size — to a batch-partitioned
    * store. The final answer never re-reads documents: counters merge
    * by ADDITION (batch token counts partition the corpus counts, so
    * merged ≡ whole-table sketch EXACTLY), and each watchlist term
    * reads its estimate as the min over its d cells.
    *
    * Scale design: per-batch work is one narrow tokenize + a
    * fixed-width partial aggregate; the store grows by ≤ d·256 ×
    * batches tiny rows; any batch window merges by summing counters —
    * "counts for tracked terms, updated per batch over 100 TB" without
    * retaining a token table. StreamEquivSpec pins merge-exactness
    * (bit-for-bit vs the whole-table twin), the CMS overcount property
    * (est ≥ exact count per watched term), and arrival-order
    * independence (reversed replay merges identically). */
  def x10StreamCms(spark: SparkSession, dir: String,
      orderExpr: org.apache.spark.sql.Column = col("doc_id")): DataFrame = {
    import graft.ops.TextOps
    val work = Replay.workspace("graft_cmsstream_")
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    // the offline watchlist artifact: written once, read at serve time
    val watchPath = s"$work/watchlist"
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(WatchK)
      .select("token").coalesce(1).write.parquet(watchPath)
    val store = s"$work/counters"
    Replay.replay(spark, docs, Replay.ByRange(orderExpr), work)((batch, batchId) =>
      cmsPartial(batch)
        .write.mode("overwrite").parquet(s"$store/batch_id=$batchId"))
    val merged = spark.read.parquet(store).drop("batch_id")
      .groupBy("r", "bucket").agg(sum("c").as("c"))
    watchEstimates(spark.read.parquet(watchPath), merged)
  }

  /** The batch twin: the whole table pushed through one sketch — equal
    * to the merged stream result EXACTLY (counters are additive). */
  private[graft] def x10Batch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    val tokCounts = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val watch = tokCounts.orderBy(col("cnt").desc, col("token"))
      .limit(WatchK).select("token")
    watchEstimates(watch, cmsPartial(docs))
  }

  /** One batch's CMS counter partial: distinct-token counts hashed into
    * the d×256 grid — at most d·256 output rows regardless of input. */
  private def cmsPartial(docs: DataFrame): DataFrame = {
    import graft.ops.TextOps
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"), explode(array((0 until TextOps.CmsDepth).map(r =>
        struct(lit(r).as("r"), TextOps.cmsBucket(r, col("token")).as("bucket"))): _*)).as("h"))
      .groupBy(col("h.r").as("r"), col("h.bucket").as("bucket"))
      .agg(sum("cnt").as("c"))
  }

  /** Each watched term's estimate from the merged counters: min over
    * its d cells (the CMS read rule; the watchlist side is tiny and
    * broadcasts into the ≤ d·256-row counter table). The join is LEFT
    * with missing cells read as 0 — in sparse counter storage an absent
    * (r, bucket) row IS a zero counter, and a windowed serve (x13) can
    * genuinely hit one when a watched term has no occurrence in the
    * window: the true CMS read is then 0 (or the colliding mass), never
    * a dropped row or a min over only the nonzero cells. */
  private def watchEstimates(watch: DataFrame, counters: DataFrame): DataFrame = {
    import graft.ops.TextOps
    watch.select(col("token"), explode(array((0 until TextOps.CmsDepth).map(r =>
        struct(lit(r).as("r"), TextOps.cmsBucket(r, col("token")).as("bucket"))): _*)).as("h"))
      .select(col("token"), col("h.r").as("r"), col("h.bucket").as("bucket"))
      .join(counters, Seq("r", "bucket"), "left")
      .groupBy("token").agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
      .orderBy(col("cms_est").desc, col("token"))
  }

  // ---- x11: serving an arbitrary batch WINDOW from the partials store ----

  /** x11's serve window: the LAST [[WindowBatches]] micro-batches. */
  val WindowBatches = 2

  /** Crash-recoverable store swap shared by the compaction verbs
    * (d19/p7's [[IncrementalDedup.compactStore]], x20's
    * [[LateLedger.compactStats]]): retire the live store aside, promote
    * the consolidated tmp dir, then drop the retired copy. Both renames
    * are require-checked, and a crash between them leaves the data
    * recoverable at `_retired` — unlike the delete-then-rename shape,
    * where a failed promote silently loses the store (a missing stats
    * store would read every later watermark as None and collapse n_late
    * to 0 until the oracle caught it). The window is SELF-HEALING:
    * [[healRetiredStore]] runs first, both here (a retried swap after
    * the crash) and at the compaction verbs' store-open seams, so the
    * crash state never needs a manual promotion — and `_retired` debris
    * from a COMPLETED prior swap is only dropped after confirming the
    * live store exists, so a heal-worthy copy can never be deleted. */
  private[graft] def swapStore(spark: SparkSession, tmp: String,
                                   store: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = p(store + "_retired")
    healRetiredStore(spark, store)
    require(fs.exists(p(store)),
      s"compact: $store missing and no _retired copy to recover — " +
        "store was never written or was lost outside the swap protocol")
    fs.delete(retired, true)
    require(fs.rename(p(store), retired), s"compact: cannot retire $store")
    require(fs.rename(p(tmp), p(store)), s"compact: cannot promote $tmp")
    fs.delete(retired, true): Unit
  }

  /** Reader-side half of [[swapStore]]'s crash contract: a crash
    * between the two renames leaves the live store ABSENT with the only
    * copy at `_retired`, so any store open must first check for that
    * state and heal it (one rename back — the promotion the crashed
    * swap never reached is simply retried by the next compaction).
    * A no-op in every other state: store present (normal, or a crash
    * AFTER promote left stale `_retired` debris that the next swap
    * clears) or neither path present (store never written). */
  private[graft] def healRetiredStore(spark: SparkSession, store: String): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(store).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = p(store + "_retired")
    if (!fs.exists(p(store)) && fs.exists(retired))
      require(fs.rename(retired, p(store)),
        s"recover: cannot restore $store from $retired")
  }

  /** Drop a path if present (recursive) — the compaction verbs clear a
    * crashed attempt's dead `_compacting` tmp with this before
    * rebuilding it from the healed store. */
  private[streaming] def clearPath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true): Unit
  }

  /** x11: the claim x8/x9/x10 all make in prose — "any window of batches
    * merges after the fact at interactive cost" — converted into an
    * oracle-checked gate: per-type p50/p90 over ONLY the last
    * [[WindowBatches]] micro-batches, answered entirely from x9's
    * batch-partitioned histogram store (partition-prune the store to the
    * window's `batch_id`s, sum counts, read quantiles) — the raw events
    * are never re-read, and nothing outside the window is even scanned.
    *
    * For the window to name an oracle-expressible row set, batch
    * membership must be a DATA rule, not an arrival accident: waves are
    * dealt by `event_id mod [[Replay.Waves]]` ([[Replay.ByMod]]) with
    * ascending mtimes (the engine's stated file-replay order contract),
    * so micro-batch b ≡ `event_id % Replay.Waves = b` and the serve window
    * is exactly `event_id % Replay.Waves >= Replay.Waves - WindowBatches` —
    * the oracle runs x9's deterministic histogram SQL over that
    * predicate. In production the same role is played by the event-time
    * partition an ingest job assigns (batch ≈ hour/day); the window
    * serve is this gate's plan verbatim.
    *
    * Scale design: this is the "p50 latency per key over the last N
    * batches, on demand" production question. The serve reads
    * types × 256 × [[WindowBatches]] tiny rows — independent of corpus
    * size AND of total stream length (older partials are partition-pruned
    * by `batch_id`, never deserialized) — where the exact twin re-sorts
    * the window's raw values per question asked. */
  def x11StreamWindowQuantile(spark: SparkSession, dir: String,
      workDir: Option[String] = None): DataFrame = {
    val work = workDir.getOrElse(Replay.workspace("graft_winquant_"))
    val store = s"$work/hist"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "value")
    Replay.replay(spark, events, Replay.ByMod("event_id"), work) {
      (batch, batchId) =>
        batch.groupBy(col("event_type"), bucket(col("value")).as("b"))
          .agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
    }
    val nBatches = Replay.countBatchDirs(store)
    x11Serve(spark, store, nBatches)
  }

  /** The windowed quantile serve as a standalone read over the histogram
    * store — partition-prune to the window's batch_ids, merge, read
    * quantiles. Extracted so the retention gate (x18) can prove the
    * serve is unchanged by vacuuming everything OUTSIDE the window. */
  private[graft] def x11Serve(spark: SparkSession, store: String, nBatches: Int): DataFrame =
    quantilesFromHistogram(
      spark.read.parquet(store)
        .filter(col("batch_id") >= nBatches - WindowBatches)
        .drop("batch_id"))

  /** The batch twin: the window's rows (named by the membership rule)
    * pushed through one histogram — equal to the pruned-store serve
    * EXACTLY (counts are additive). */
  private[graft] def x11Batch(spark: SparkSession, dir: String): DataFrame =
    quantilesFromHistogram(
      Sources.table(spark, dir, "events")
        .filter(pmod(col("event_id"), lit(Replay.Waves)) >= Replay.Waves - WindowBatches)
        .groupBy(col("event_type"), bucket(col("value")).as("b"))
        .agg(count(lit(1)).as("cnt")))

  /** Equi-width bucket id in 1..[[Buckets]]; the floor argument's width
    * is binary-exact so boundary values bucket identically in DuckDB. */
  private def bucket(value: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    least(greatest(floor(value * lit(Buckets) / lit(Hi - Lo)) + lit(1L), lit(1L)),
      lit(Buckets.toLong))

  // ---- x12: the windowed serve for the HLL store --------------------

  /** x12: x11's windowed serve applied to x8's HLL sketch store — the
    * distinct-count twin, completing the mergeable family's symmetry
    * (histograms AND register sketches both answer "last N batches"
    * from pruned partials). Per-type approximate distinct users plus
    * the exact additive event count over ONLY the last
    * [[WindowBatches]] micro-batches, answered entirely from the
    * batch-partitioned sketch store: partition-prune to the window's
    * `batch_id`s, `hll_union_agg` the surviving partials register-wise,
    * estimate. Raw events are never re-read; partials outside the
    * window are never deserialized.
    *
    * Batch membership is x11's DATA rule (`event_id mod [[Replay.Waves]]`,
    * waves written mtime-ascending per the engine's file-replay order
    * contract), so the window names an exact row set and the batch twin
    * — one sketch built directly over those rows — must agree
    * BIT-FOR-BIT (register maxima are merge-invariant; StreamEquivSpec
    * asserts it, plus the additive count and window ⊂ corpus). Output
    * is rows-only by x8's declared design: DataSketches HLL internals
    * are engine-specific, so DuckDB cannot replay the estimate — the
    * exact `n_events` column IS the oracle-expressible slice, and the
    * merge/error pins live in the spec. Estimator caveat (inherited
    * from x8, stated rather than hidden): the union-equals-direct
    * bit-equality is pinned at the tested scales; DataSketches'
    * estimator can differ between a unioned and a directly-built
    * sketch across some high-cardinality mode transitions, which is
    * why the declared ≤5% error bound vs exact — not the bit-equality
    * — is the contract a deployment should rely on.
    *
    * Scale design: "distinct users per key over the last N batches, on
    * demand" reads types × [[WindowBatches]] kilobyte rows no matter
    * how long the stream has run or how big the corpus is; the exact
    * twin re-shuffles every user_id in the window per question. */
  def x12StreamWindowDistinct(spark: SparkSession, dir: String,
      workDir: Option[String] = None): DataFrame = {
    val work = workDir.getOrElse(Replay.workspace("graft_windist_"))
    val store = s"$work/sketches"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "user_id")
    Replay.replay(spark, events, Replay.ByMod("event_id"), work) {
      (batch, batchId) => processBatch(batch, batchId, store)
    }
    val nBatches = Replay.countBatchDirs(store)
    x12Serve(spark, store, nBatches)
  }

  /** The windowed distinct serve as a standalone read over the HLL
    * sketch store (x18's vacuum-invariance seam, like [[x11Serve]]). */
  private[graft] def x12Serve(spark: SparkSession, store: String, nBatches: Int): DataFrame =
    spark.read.parquet(store)
      .filter(col("batch_id") >= nBatches - WindowBatches)
      .drop("batch_id")
      .groupBy("event_type")
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx_users"),
        sum("n_events").as("n_events"))
      .orderBy("event_type")

  /** The batch twin: one sketch built directly over the window's rows
    * (named by the membership rule) — equal to the pruned-store merge
    * BIT-FOR-BIT (register maxima are merge-invariant). */
  private[graft] def x12Batch(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "events")
      .filter(pmod(col("event_id"), lit(Replay.Waves)) >= Replay.Waves - WindowBatches)
      .groupBy("event_type")
      .agg(
        expr(s"hll_sketch_estimate(hll_sketch_agg(user_id, $LgK))")
          .as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  // ---- x13: the windowed serve for the CMS store ---------------------

  /** x13: the windowed serve applied to x10's CMS counter store — the
    * third member of the windowed-serve family (x11 histograms, x12 HLL
    * registers, x13 CMS counters), and like x11 it is ORACLE-CHECKED:
    * counters are deterministic integer sums, so the pruned-window
    * merge replays exactly in SQL. Watched-term count estimates over
    * ONLY the last [[WindowBatches]] micro-batches: partition-prune the
    * counter store, sum the surviving ≤ d·256-row partials, read each
    * watchlist term as the min over its d cells. The watchlist stays
    * the OFFLINE whole-corpus artifact (yesterday's heavy hitters) —
    * the question is "how often did the tracked terms appear in the
    * last N batches", the trend-detection read a monitoring pipeline
    * issues. Batch membership is x11's DATA rule (`doc_id mod
    * [[Replay.Waves]]`, mtime-ascending waves), so the window names an
    * exact row set and the oracle rebuilds the identical windowed
    * sketch. StreamEquivSpec pins serve ≡ window batch twin bit-for-bit
    * and the per-term overcount property vs exact window counts. */
  def x13StreamWindowCms(spark: SparkSession, dir: String,
      workDir: Option[String] = None): DataFrame = {
    import graft.ops.TextOps
    val work = workDir.getOrElse(Replay.workspace("graft_wincms_"))
    val store = s"$work/counters"
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    // the offline watchlist artifact: whole-corpus heavy hitters
    val watchPath = s"$work/watchlist"
    docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(WatchK)
      .select("token").coalesce(1).write.parquet(watchPath)
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work) {
      (batch, batchId) =>
        cmsPartial(batch)
          .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
    }
    val nBatches = Replay.countBatchDirs(store)
    x13Serve(spark, store, watchPath, nBatches)
  }

  /** The windowed CMS serve as a standalone read (x18's vacuum seam).
    * Takes the two store paths EXPLICITLY — the same seam signature as
    * [[x11Serve]]/[[x12Serve]] (store path in, serve out), so a
    * vacuum-invariance caller can never silently re-derive a path the
    * vacuum didn't touch. */
  private[graft] def x13Serve(spark: SparkSession, countersStore: String,
                              watchStore: String, nBatches: Int): DataFrame = {
    val merged = spark.read.parquet(countersStore)
      .filter(col("batch_id") >= nBatches - WindowBatches)
      .drop("batch_id")
      .groupBy("r", "bucket").agg(sum("c").as("c"))
    watchEstimates(spark.read.parquet(watchStore), merged)
  }

  /** The batch twin: the window's rows (named by the membership rule)
    * pushed through one sketch, read by the SAME whole-corpus
    * watchlist — equal to the pruned-store merge EXACTLY. */
  private[graft] def x13Batch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    val watch = docs.select(explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(WatchK).select("token")
    val win = docs.filter(
      pmod(col("doc_id"), lit(Replay.Waves)) >= Replay.Waves - WindowBatches)
    watchEstimates(watch, cmsPartial(win))
  }

  // ---- x18: windowed retention for the batch-partitioned stores ------

  /** Retire every `batch_id=N` partition below `keepFrom` from a
    * batch-partitioned partials store. The s17-vacuum rule applied to
    * the WINDOWED-SERVE stream stores (x8–x17's sketch partials):
    * without retention, every per-batch append grows the store for the
    * stream's whole lifetime, even though a windowed serve
    * (x11/x12/x13) only ever prunes to the last [[WindowBatches]]
    * partitions — at 100 TB the store becomes an unbounded directory
    * listing the serve pays for and never reads. Deletion is per whole
    * partition directory (the unit the serve prunes by), so a vacuum
    * can never split a batch: a serve sees each batch's partial either
    * complete or not at all, and anything ≥ `keepFrom` is untouched —
    * which is exactly why the windowed serve is byte-identical before
    * and after (StreamEquivSpec proves it on all three store kinds).
    * NOT applicable to the full-history digest/band stores (p2/p3/p6's
    * digests, d12's bands): first-arrival dedup reads ALL prior
    * batches, so window-vacuuming them would re-admit revived
    * duplicates — their lifecycle motion is partition COMPACTION
    * (many `batch_id=N` dirs rewritten into one consolidated
    * partition, s13's move; d19 implements and proves it).
    * Returns the retired batch ids. */
  private[graft] def vacuumBatches(spark: SparkSession, store: String,
                                   keepFrom: Long): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = "batch_id=(\\d+)".r
    val old = fs.listStatus(p).map(_.getPath.getName)
      .collect { case re(b) if b.toLong < keepFrom => b.toLong }.sorted.toSeq
    old.foreach(b =>
      fs.delete(new org.apache.hadoop.fs.Path(store, s"batch_id=$b"), true))
    old
  }

  def x18RetentionVacuum(spark: SparkSession, dir: String): DataFrame =
    x18Detail(spark, dir)._1

  /** x18: the retention motion as a gate — build x11's histogram store
    * through the wave replay, VACUUM every partial older than the serve
    * window, and answer the windowed quantile question from what
    * remains. The result must equal x11's (the vacuum only removed
    * partitions the serve already pruned), so the gate shares x11's
    * oracle SQL verbatim — retention is correct precisely when it is
    * invisible to the serve. The seam returns both serves plus the
    * store's partition counts so the spec can assert the store
    * genuinely shrank (a no-op "vacuum" would pass the equality alone).
    *
    * Scale design: this completes the store lifecycle the way s13/s17
    * did for the ANN index — ingest (per-batch append) → windowed serve
    * (partition-pruned read) → RETENTION (drop what the window can
    * never read). Vacuum cost is a directory listing plus one delete
    * per retired batch — no data is read or rewritten — and storage is
    * thereby bounded at [[WindowBatches]] partials plus the batch in
    * flight, instead of growing with stream lifetime. */
  private[graft] def x18Detail(spark: SparkSession, dir: String)
      : (DataFrame, Array[org.apache.spark.sql.Row], Seq[Long], Int, Int) = {
    val work = Replay.workspace("graft_retention_")
    val store = s"$work/hist"
    // materialize the pre-vacuum serve NOW — a lazy frame would re-read
    // the store after the vacuum and make the invariance check vacuous
    val beforeRows = x11StreamWindowQuantile(spark, dir, Some(work)).collect()
    val partsBefore = Replay.countBatchDirs(store)
    val retired = vacuumBatches(spark, store, partsBefore - WindowBatches)
    val after = x11Serve(spark, store, partsBefore)
    (after, beforeRows, retired, partsBefore, Replay.countBatchDirs(store))
  }


  // ---- x17: the growth curve from cumulative sketch unions -----------

  /** x17: "how many users are NEW each batch" — the growth-metric read
    * (DAU/WAU-style accretion) answered WITHOUT a user table: per
    * batch, x8's HLL partial is appended as usual; the serve computes,
    * per (batch, event_type), the cumulative-union estimate over all
    * partials up to that batch and reads the batch's new-user count as
    * the DIFFERENCE of consecutive cumulative estimates — inclusion–
    * exclusion on the stream axis, x14's move applied over time. The
    * differences telescope, so Σ approx_new per type equals the final
    * cumulative estimate EXACTLY (spec-pinned), cumulative estimates
    * are monotone, and each batch's estimate sits within the declared
    * error of the exact first-appearance count (computable in closed
    * form because batch membership is the mod-[[Replay.Waves]] DATA
    * rule: a user's first batch is min(event_id mod m) over their
    * events). Rows-only by x8's declared precedent (HLL internals are
    * engine-specific); all pins live in StreamEquivSpec.
    *
    * Scale design: the serve is a triangle join of the SKETCH STORE
    * against its own batch-id list — (types × batches) × batches
    * kilobyte rows, independent of corpus size — then one register-wise
    * union per (batch, type). The exact twin re-shuffles every user_id
    * ever seen and windows over their first appearance, per question;
    * the sketch answer is free once the per-batch partials the store
    * already pays for exist. */
  def x17StreamGrowth(spark: SparkSession, dir: String,
      workDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val work = workDir.getOrElse(Replay.workspace("graft_growthstream_"))
    val store = s"$work/sketches"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "user_id")
    Replay.replay(spark, events, Replay.ByMod("event_id"), work) {
      (batch, batchId) => processBatch(batch, batchId, store)
    }
    val partials = spark.read.parquet(store)
    // triangle join: every batch b meets all partials with batch_id ≤ b
    // — store-sized × batch-count rows, kilobytes total
    val ids = partials.select(col("batch_id").as("b")).distinct()
    val cum = partials.join(ids, col("batch_id") <= col("b"))
      .groupBy(col("b").as("batch_id"), col("event_type"))
      .agg(
        expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("cum_users"),
        sum(when(col("batch_id") === col("b"), col("n_events"))
          .otherwise(0L)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("batch_id")
    cum
      .withColumn("approx_new",
        col("cum_users") - coalesce(lag("cum_users", 1).over(w), lit(0L)))
      .select(col("batch_id").cast("long").as("batch_id"), col("event_type"),
        col("approx_new"), col("cum_users"), col("n_events"))
      .orderBy("batch_id", "event_type")
  }

  /** The exact twin of the growth curve under the membership rule: a
    * user's first batch is min(event_id mod [[Replay.Waves]]) over their
    * events — the ground truth the sketch differences are pinned
    * against. */
  private[graft] def x17Exact(spark: SparkSession, dir: String): DataFrame =
    Sources.table(spark, dir, "events")
      .select(col("event_type"), col("user_id"),
        pmod(col("event_id"), lit(Replay.Waves)).cast("long").as("bid"))
      .groupBy("event_type", "user_id").agg(min("bid").as("first_bid"))
      .groupBy("event_type", "first_bid")
      .agg(count(lit(1)).as("exact_new"))
      .orderBy("first_bid", "event_type")

  // ---- x16: streaming top-k (candidate union + CMS estimates) --------

  /** x16: the DISCOVERY twin of x10 — x10 tracks a KNOWN offline
    * watchlist; x16 answers "what ARE the heavy hitters?" from the
    * stream itself, the SpaceSaving-shaped question a CMS alone cannot
    * answer (counters don't enumerate). Per micro-batch: the batch's
    * CMS counter partial (x10's fixed-width append) PLUS the batch's
    * LOCAL exact top-[[WatchK]] tokens appended to a candidates store
    * (K tiny rows per batch). The serve unions the per-batch candidates
    * (distinct) and ranks them by their merged-CMS estimates — raw
    * tokens are never re-counted at serve time.
    *
    * The stated approximation (the honest caveat of candidate-union
    * top-k): a token can only surface if it entered SOME batch's local
    * top-K, so mass spread so uniformly it never ranks locally is
    * invisible — the standard failure mode of every candidate-based
    * streaming top-k, bounded in practice by Zipfian skew (on the
    * fixture the candidate union recovers the exact top-K verbatim —
    * spec-pinned, alongside the CMS overcount law). Batch membership is
    * x11's DATA rule, every count and hash is integer-exact, so the
    * whole chain — slices, local ranks, union, grid, min-read —
    * replays in SQL: ORACLE-CHECKED end to end.
    *
    * Scale design: per-batch work is x10's fixed-width partial plus one
    * K-row local top-k (a TakeOrdered over the batch's count table);
    * the candidate store grows by K × batches tiny rows; the serve
    * touches candidates × d grid rows. "Who is trending over 100 TB of
    * stream" costs kilobytes per batch — the exact twin re-shuffles
    * every token ever seen, per question. */
  def x16StreamTopk(spark: SparkSession, dir: String): DataFrame = {
    val work = Replay.workspace("graft_topkstream_")
    val store = s"$work/counters"
    val cands = s"$work/candidates"
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    Replay.replay(spark, docs, Replay.ByMod("doc_id"), work) {
      (batch, batchId) =>
        import graft.ops.TextOps
        cmsPartial(batch)
          .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
        batch.select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token")).limit(WatchK)
          .select("token")
          .write.mode("overwrite").parquet(s"$cands/batch_id=$batchId")
    }
    val merged = spark.read.parquet(store).drop("batch_id")
      .groupBy("r", "bucket").agg(sum("c").as("c"))
    val candidates = spark.read.parquet(cands).select("token").distinct()
    watchEstimates(candidates, merged)
      .orderBy(col("cms_est").desc, col("token")).limit(WatchK)
  }

  /** The batch twin: per-slice local top-K unioned, ranked by the
    * whole-table sketch — equal to the store-served read EXACTLY
    * (counters additive, candidate sets identical by the membership
    * rule). */
  private[graft] def x16Batch(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    import org.apache.spark.sql.expressions.Window
    val docs = Sources.table(spark, dir, "documents").select("doc_id", "text")
    val sliceCounts = docs
      .withColumn("bid", pmod(col("doc_id"), lit(Replay.Waves)))
      .select(col("bid"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("bid", "token").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("bid").orderBy(col("cnt").desc, col("token"))
    val candidates = sliceCounts
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= WatchK)
      .select("token").distinct()
    watchEstimates(candidates, cmsPartial(docs))
      .orderBy(col("cms_est").desc, col("token")).limit(WatchK)
  }

  // ---- x15: mergeable moments + the drift read -----------------------

  /** Drift alarm threshold: the latest batch flags when its mean sits
    * more than [[DriftZ]] pooled-prior standard deviations from the
    * pooled-prior mean. */
  val DriftZ = 2.0

  /** x15: the MONITORING member of the mergeable family — per-batch
    * MOMENT partials (count, Σvalue, Σvalue² as DECIMAL(18,4) addends,
    * so the sums are order-independent and merge by exact addition) and
    * the read every production pipeline actually wires to a pager:
    * "does the latest batch's mean drift from everything before it?"
    * Per event_type, the latest batch's mean is z-scored against the
    * pooled prior batches' mean and population std, all computed FROM
    * THE PARTIALS STORE — raw events are never re-read, and the serve
    * cost is types × batches tiny rows regardless of corpus size.
    *
    * Fully deterministic, so — like x9/x11/x13 and unlike the HLL pair
    * — ORACLE-CHECKED end to end: batch membership is x11's DATA rule
    * (`event_id mod [[Replay.Waves]]`, mtime-ascending waves), the
    * decimal sums replay exactly in SQL (the q04/q12 DECIMAL-addend
    * precedent), and mean/std/z are the same IEEE expressions on both
    * engines. The fixture's pseudo-random split carries a law worth
    * pinning in itself: an IID batch rule must NOT drift (all |z| <
    * [[DriftZ]] — the no-false-alarm property), while StreamEquivSpec's
    * injected-drift case (latest batch's values scaled) must flag every
    * type — the alarm fires exactly when it should.
    *
    * Scale design: per-batch work is one fixed-width partial aggregate
    * (types × 3 numbers); the store grows by types × batches rows; any
    * batch-over-baseline comparison merges after the fact by decimal
    * addition. The exact twin re-aggregates the full history per
    * question asked. */
  def x15StreamDrift(spark: SparkSession, dir: String): DataFrame = {
    val work = Replay.workspace("graft_driftstream_")
    val store = s"$work/moments"
    val events = Sources.table(spark, dir, "events")
      .select("event_id", "event_type", "value")
    Replay.replay(spark, events, Replay.ByMod("event_id"), work) {
      (batch, batchId) =>
        momentPartial(batch)
          .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
    }
    val nBatches = Replay.countBatchDirs(store)
    driftFromMoments(spark.read.parquet(store), nBatches - 1)
  }

  /** The batch twin: the latest/prior slices named by the membership
    * rule, aggregated directly — equal to the store-served read
    * EXACTLY (decimal sums are additive). `scaleLatest` is the
    * injected-drift seam: the spec scales the latest slice's values to
    * prove the alarm fires. */
  private[graft] def x15Batch(spark: SparkSession, dir: String,
      scaleLatest: Double = 1.0): DataFrame = {
    val events = Sources.table(spark, dir, "events")
      .select(col("event_id"), col("event_type"),
        when(pmod(col("event_id"), lit(Replay.Waves)) === Replay.Waves - 1,
          col("value") * scaleLatest).otherwise(col("value")).as("value"))
      .withColumn("batch_id", pmod(col("event_id"), lit(Replay.Waves)).cast("long"))
    val partials = momentPartial(events.groupBy(col("batch_id"),
      col("event_type")))
    driftFromMoments(partials, Replay.Waves - 1)
  }

  /** One slice's moment partial: count + decimal-exact Σv and Σv² per
    * event_type (fixed-width output regardless of input size). The
    * overload keyed by (batch_id, event_type) serves the batch twin. */
  private def momentPartial(batch: DataFrame): DataFrame =
    batch.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,4)")).as("s"),
      sum((col("value") * col("value")).cast("decimal(18,4)")).as("s2"))

  private def momentPartial(
      grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(
      count(lit(1)).as("n"),
      sum(col("value").cast("decimal(18,4)")).as("s"),
      sum((col("value") * col("value")).cast("decimal(18,4)")).as("s2"))

  /** The drift read over a (batch_id-carrying) moments store: latest
    * batch's mean z-scored against the pooled priors. Decimal merge
    * first (exact), doubles only in the final mean/std/z expressions —
    * identical IEEE ops on both engines. */
  private def driftFromMoments(store: DataFrame, latestId: Long): DataFrame = {
    import graft.out.Canonical.r4
    val latest = store.filter(col("batch_id") === latestId)
      .groupBy("event_type").agg(
        sum("n").as("n_latest"), sum("s").as("sl"))
    val prior = store.filter(col("batch_id") < latestId)
      .groupBy("event_type").agg(
        sum("n").as("np"), sum("s").as("sp"), sum("s2").as("sp2"))
    latest.join(prior, Seq("event_type"))
      .withColumn("m_b", col("sl").cast("double") / col("n_latest"))
      .withColumn("mu", col("sp").cast("double") / col("np"))
      .withColumn("sigma", sqrt(
        col("sp2").cast("double") / col("np") - col("mu") * col("mu")))
      .withColumn("z", (col("m_b") - col("mu")) / col("sigma"))
      .select(col("event_type"), col("n_latest"),
        r4(col("m_b")).as("mean_latest"), r4(col("mu")).as("mean_prior"),
        r4(col("sigma")).as("std_prior"), r4(col("z")).as("z"),
        when(abs(col("z")) > DriftZ, 1L).otherwise(0L).as("drifted"))
      .orderBy("event_type")
  }

  /** Merge (sum) histogram rows, then read p50/p90 as first-crossing
    * bucket midpoints — integer threshold comparisons only. */
  private def quantilesFromHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.out.Canonical.r4
    val merged = hist.groupBy("event_type", "b").agg(sum("cnt").as("cnt"))
    val c = merged
      .withColumn("cum",
        sum("cnt").over(Window.partitionBy("event_type").orderBy("b")))
      .withColumn("total", sum("cnt").over(Window.partitionBy("event_type")))
    c.groupBy("event_type")
      .agg(
        max("total").cast("long").as("n_events"),
        r4((min(when(col("cum") * 2 >= col("total"), col("b"))).cast("double")
          - lit(0.5)) * lit(BucketWidth)).as("p50_est"),
        r4((min(when(col("cum") * 10 >= col("total") * 9, col("b"))).cast("double")
          - lit(0.5)) * lit(BucketWidth)).as("p90_est"))
      .orderBy("event_type")
  }
}

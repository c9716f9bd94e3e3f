package graft.streaming

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.io.{Sources, Store}

/** Deterministic streaming replay harness: run any batch-compatible
  * `DataFrame => DataFrame` transform as a Structured Streaming query over
  * a fixture table, drain it with AvailableNow, and hand back the result
  * as a batch DataFrame.
  *
  * This is the engine's batch≡stream equivalence tool (SURVEY.md §5.2#3):
  * the same transform object runs in both modes, so streaming semantics
  * are tested, not trusted. Replaces the reference's DStream wiring
  * (ConsumerESFinal.scala:36-47) with Structured Streaming + checkpoint.
  *
  * Every replay runs in its own child session (`spark.newSession()`:
  * shared SparkContext + cache, isolated SQL conf), so a per-query
  * state-partition override never touches the caller's conf and replays
  * can run concurrently — no global lock.
  *
  * Sink shapes: [[append]] and [[update]] collect into a memory table
  * (small finite results); [[appendFlushed]] is the production shape for
  * windowed aggregations — watermarked append into a parquet sink, state
  * evicted as the watermark passes; [[updateMaterialized]] is the
  * production shape for non-windowed aggregations — per-batch upserts
  * materialized to a keyed store (the ES-index pattern), last write per
  * key wins.
  *
  * The foreachBatch store gates (d12, s11–s30, p2/p3, x8–x20, …) share
  * one file-replay runner, [[replay]]: [[deal]] writes a fixture as
  * [[Waves]] files — by a range of an order column or by a key mod
  * `waves` — each stamped with its wave's arrival time, split into one
  * or two phases and sealed by a `_dealt` marker that a resumed run
  * trusts; [[drain]] then runs each phase one file per micro-batch.
  *
  * Every query, sink replay or [[drain]], is started, awaited and
  * recorded by one AvailableNow runner ([[run]]), and every scratch
  * directory — a gate's workspace, a sink replay's `out`/`ckpt`/`flush`,
  * a tool's scratch — is a [[workspace]] under one per-JVM root that a
  * shutdown hook deletes. A one-shot replay's checkpoint and flush
  * sentinel go as soon as its query ends; a gate's lazy result frame
  * reads its workspace until the JVM exits, or, when the gate was
  * called inside [[scoped]], until that call returns.
  *
  * Companions: [[recorded]] (the micro-batches a call ran, from Spark's
  * own per-batch progress, and the [[graft.io.Store]]s it made — the
  * bodies' state, whose layout and crash contract live there) and
  * [[fence]] (overlapped independent writes).
  */
object Replay {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `transform` over a streaming read of `table`, append-mode
    * (requires a watermark upstream for stateful ops). `statePartitions`
    * caps the stateful shuffle width for the query: a streaming
    * aggregation's state-store count is fixed at the first checkpoint,
    * and a handful of result groups doesn't need (or want) one state
    * store per core — each partition pays file-backed state I/O per
    * micro-batch. Size it to key cardinality, not core count. */
  def append(spark: SparkSession, dir: String, table: String,
             statePartitions: Option[Int] = None)
            (transform: DataFrame => DataFrame): DataFrame =
    memory(spark, dir, table, "append", statePartitions)(transform)

  /** Update-mode replay (mapGroupsWithState and friends). */
  def update(spark: SparkSession, dir: String, table: String,
             statePartitions: Option[Int] = None)
            (transform: DataFrame => DataFrame): DataFrame =
    memory(spark, dir, table, "update", statePartitions)(transform)

  /** Event time of the flush sentinel (see [[appendFlushed]]): far past
    * any fixture timestamp, deliberately off any window-size boundary so
    * the sentinel's own windows always end after the final watermark and
    * are withheld from the output. */
  val FlushInstant: java.time.Instant = java.time.Instant.parse("2100-01-01T00:00:07Z")

  /** Watermarked append-mode replay of a *windowed* aggregation into a
    * parquet sink — the shape that survives an unbounded stream: state is
    * evicted as the watermark passes, each window is emitted exactly once
    * when finalized, and the sink is distributed (no driver-side memory
    * table).
    *
    * A finite replay needs one extra move: append mode only emits windows
    * the watermark has passed, so the trailing windows of a drained
    * fixture would be withheld forever. The harness unions a single
    * *flush sentinel* row (event time [[FlushInstant]], written at replay
    * time so the file source orders it after the fixture files) that
    * drives the final watermark past every real window; the sentinel's
    * own window ends after the watermark and is never emitted, so the
    * output equals the batch result with no filtering.
    *
    * `transform` must install the watermark itself (it owns the event-
    * time column), e.g. `df => agg(df.withWatermark("ts", "10 minutes"))`.
    */
  def appendFlushed(spark: SparkSession, dir: String, table: String,
                    statePartitions: Option[Int] = None,
                    tsCol: String = "ts")
                   (transform: DataFrame => DataFrame): DataFrame = {
    val session = isolated(spark, statePartitions)
    val src = Sources.stream(session, dir, table)
    val work = workspace("graft_append_")
    writeSentinel(session, src.schema, tsCol, s"$work/flush")
    val sentinel = session.readStream.schema(src.schema).parquet(s"$work/flush")
    appendParquet(spark, work, transform(src.unionByName(sentinel)))
  }

  /** Append-mode replay of the streaming frame `query` into a parquet
    * sink at `work/out`, read back as a batch frame. */
  private[streaming] def appendParquet(spark: SparkSession, work: String,
                                       query: DataFrame): DataFrame = {
    drainOnce(work, query.writeStream.format("parquet")
      .option("path", s"$work/out").outputMode("append"))
    spark.read.parquet(s"$work/out")
  }

  /** Update-mode replay of a *non-windowed* aggregation materialized
    * through an idempotent per-batch [[graft.io.Store]]: each
    * micro-batch's updated rows are one batch of the store, and the
    * read-back keeps the latest write per key — the upsert-into-an-index
    * pattern (reference ConsumerESFinal.scala:93) without a driver-side
    * memory table or complete-mode re-emission. The result is the final
    * value per key regardless of how the replay was sliced into batches. */
  def updateMaterialized(spark: SparkSession, dir: String, table: String,
                         keyCols: Seq[String],
                         statePartitions: Option[Int] = None)
                        (transform: DataFrame => DataFrame): DataFrame = {
    val session = isolated(spark, statePartitions)
    val work = workspace("graft_upsert_")
    val out = Store(spark, s"$work/out")
    drainOnce(work, transform(Sources.stream(session, dir, table)).writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => out.put(batchId, batch))
      .outputMode("update"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("batch_id").desc)
    out.all
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "batch_id")
  }

  /** Child session with an isolated SQL conf: state-partition overrides
    * are per-replay, never global, so replays run concurrently. The child
    * inherits the builder-time options (extensions, state store provider,
    * timezone) and shares the SparkContext. */
  private[streaming] def isolated(spark: SparkSession,
                                  statePartitions: Option[Int]): SparkSession = {
    val session = spark.newSession()
    statePartitions.foreach(n =>
      session.conf.set("spark.sql.shuffle.partitions", n.toString))
    session
  }

  /** One row at [[FlushInstant]] with type-default values elsewhere,
    * written as parquet *after* the fixture files exist so the file
    * source (oldest-modification-first) never processes it before them —
    * a sentinel in an earlier batch would make all real data late. */
  private def writeSentinel(session: SparkSession, schema: StructType,
                            tsCol: String, dirPath: String): Unit = {
    val row = Row.fromSeq(schema.fields.map { f =>
      if (f.name == tsCol) java.sql.Timestamp.from(FlushInstant)
      else defaultFor(f.dataType)
    }.toSeq)
    session.createDataFrame(java.util.Arrays.asList(row), schema)
      .coalesce(1).write.parquet(dirPath)
  }

  private def defaultFor(dt: DataType): Any = dt match {
    case LongType => 0L
    case IntegerType => 0
    case DoubleType => 0.0
    case FloatType => 0.0f
    case StringType => ""
    case BooleanType => false
    case BinaryType => Array.emptyByteArray
    case TimestampType => java.sql.Timestamp.from(java.time.Instant.EPOCH)
    case _: DecimalType => java.math.BigDecimal.ZERO
    case ArrayType(_, _) => Seq.empty
    case _ => null
  }

  /** Memory-sink replay: the result is the session's in-memory table. */
  private def memory(spark: SparkSession, dir: String, table: String, mode: String,
                     statePartitions: Option[Int])
                    (transform: DataFrame => DataFrame): DataFrame = {
    val session = isolated(spark, statePartitions)
    val name = s"graft_replay_${counter.incrementAndGet()}"
    drainOnce(workspace("graft_replay_"), transform(Sources.stream(session, dir, table))
      .writeStream.format("memory").queryName(name).outputMode(mode))
    session.table(name)
  }

  /** Recursive delete; an absent path is fine. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** The per-JVM scratch root, `graft_run_*` under `java.io.tmpdir`:
    * created on first use, and deleted with everything under it by one
    * shutdown hook — gates return lazy frames over their workspaces, so
    * only a [[scoped]] caller, which materializes them, deletes one
    * earlier. */
  private lazy val root: java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_run_")
    sys.addShutdownHook(deleteRecursively(dir.toFile))
    dir
  }

  /** A fresh, empty directory named `prefix*` under the run's scratch
    * root: every gate workspace, replay sink and tool scratch dir. It
    * belongs to this thread's open [[scoped]] call, if any. */
  private[graft] def workspace(prefix: String): String = {
    val dir = Files.createTempDirectory(root, prefix).toString
    Option(scope.get).foreach(_ += dir)
    dir
  }

  /** The workspaces made by this thread's open [[scoped]] call. */
  private val scope = new ThreadLocal[ArrayBuffer[String]]

  /** Run `f`, then delete every [[workspace]] made on this thread while
    * it ran, failed or not. `f` must materialize whatever it needs of a
    * gate's frame: the frame reads the deleted workspaces afterwards.
    * Workspaces made outside any scope, or on another thread, stay
    * until the JVM exits. A nested scope deletes its own. */
  private[graft] def scoped[T](f: => T): T = {
    val outer = scope.get
    val made = ArrayBuffer.empty[String]
    scope.set(made)
    try f
    finally {
      scope.set(outer)
      made.foreach(d => deleteRecursively(new java.io.File(d)))
    }
  }

  /** The AvailableNow runner behind every replay: start `writer`
    * checkpointed at `ckpt`, wait until the query has drained and
    * rethrow its failure, then append the batches it ran to the open
    * [[recorded]] scope. */
  private def run(writer: DataStreamWriter[Row], ckpt: String): Unit = {
    val q = writer.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Option(record.get).foreach(_.batches ++= q.recentProgress)
  }

  /** [[run]] a one-shot replay in workspace `work`, checkpointed at
    * `work/ckpt`: the checkpoint and the flush sentinel (`work/flush`)
    * are deleted as soon as the query ends, failed or not — only the
    * sink's output outlives it. */
  private def drainOnce(work: String, writer: DataStreamWriter[Row]): Unit =
    try run(writer, s"$work/ckpt")
    finally Seq("ckpt", "flush").foreach(d => deleteRecursively(new java.io.File(work, d)))

  /** The AvailableNow file replay behind every foreachBatch store gate
    * (the reference consumer's per-batch score-and-index loop,
    * ConsumerESFinal.scala:86-94). In a child session, the parquet
    * files under `inDir` replay ONE FILE PER MICRO-BATCH in
    * modification-time order (the order [[deal]] stamps), checkpointed
    * at `ckpt`; `body` receives each batch with its id shifted by
    * `offset`, so a phased run's later phase continues the
    * stream-lifetime numbering its stores prune by. Returns once the
    * query has drained; a `body` failure fails the query and is
    * rethrown here, and a re-run over the same checkpoint redoes only
    * the uncommitted batches, whose [[graft.io.Store.put]]s replace
    * their torn writes. */
  private[graft] def drain(spark: SparkSession, inDir: String, ckpt: String,
                           offset: Long)(body: (DataFrame, Long) => Unit): Unit = {
    val session = spark.newSession()
    run(session.readStream
      .schema(session.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
      .writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) => body(batch, offset + batchId)), ckpt)
  }

  /** What one [[recorded]] scope has seen so far. */
  private final class Record {
    val batches = ArrayBuffer.empty[StreamingQueryProgress]
    val stores = ArrayBuffer.empty[Store]
  }

  /** The open [[recorded]] scope of each thread. A plain ThreadLocal,
    * not the inheritable one `scala.util.DynamicVariable` holds: a
    * thread started inside the scope must not record into it. */
  private val record = new ThreadLocal[Record]

  /** Add `store` to this thread's open [[recorded]] scope, if any
    * ([[graft.io.Store.apply]] calls it). */
  private[graft] def enlist(store: Store): Unit =
    Option(record.get).foreach(_.stores += store)

  /** Run `f` and return, with its result, Spark's progress entry for
    * every micro-batch the replays on this thread ran — [[drain]] and
    * the sink replays alike — in run order: `batchId` (the query's own,
    * before a [[drain]] caller's offset),
    * `numInputRows`, and `durationMs` with `addBatch` (the body),
    * `queryPlanning`, `walCommit` and `commitOffsets` — and every
    * [[graft.io.Store]] made on this thread, in creation order. The
    * batches are how many the call ran, not how many a store holds
    * (its `facts`): a resumed run redoes only the torn batches. A nested
    * scope records for itself alone. Each query keeps its last
    * `spark.sql.streaming.numRecentProgressUpdates` (100) entries. */
  private[graft] def recorded[T](f: => T)
      : (T, Seq[StreamingQueryProgress], Seq[Store]) = {
    val outer = record.get
    val rec = new Record
    record.set(rec)
    try { val r = f; (r, rec.batches.toSeq, rec.stores.toSeq) }
    finally record.set(outer)
  }

  /** Micro-batches per replay fixture: one batch would vacuously reduce
    * every stream gate to its batch twin. */
  val Waves = 4

  /** Which rows of a replay fixture share a wave (one file, one
    * micro-batch). */
  private[graft] sealed trait Deal

  /** Wave b is the b-th range of `order` (`repartitionByRange`): arrival
    * order follows the column — the first-arrival precondition of
    * p2/p3, and the order d12-class gates reverse to show they do not
    * need one. */
  private[graft] final case class ByRange(order: Column) extends Deal

  /** Wave b holds the rows with `key mod waves = b`: a DATA membership
    * rule, so an oracle can name any window of batches exactly
    * (x11–x20, m15–m21, p6/p7, p11–p13). */
  private[graft] final case class ByMod(key: String) extends Deal

  /** Phase suffixes of a deal: `in`/`ckpt` alone, or `inA`/`inB` with
    * `ckptA`/`ckptB` when `splitAt` cuts the waves in two. */
  private def phases(waves: Int, splitAt: Int): Seq[String] =
    if (splitAt < waves) Seq("A", "B") else Seq("")

  /** Write `src` under `work` as `waves` replay files, one per wave in
    * ONE job (each wave's rows land in exactly one write task), each
    * stamped as arrival `b` ([[stampArrival]]); waves `< splitAt` go to
    * `work/inA`, the rest to `work/inB` (all to `work/in` when `splitAt
    * >= waves`). The `_dealt` marker is created last, so its presence
    * means the whole wave set is on disk: a dealt `work` is left as it
    * is (the resume path), and a torn deal is cleared and dealt again
    * (no stream has run — the marker precedes the first checkpoint). An
    * empty wave gets a schema-only file, so wave b stays batch b. */
  private[graft] def deal(src: DataFrame, rule: Deal, work: String,
      waves: Int = Waves, splitAt: Int = Int.MaxValue): Unit = {
    val marker = new java.io.File(work, "_dealt")
    if (!marker.exists()) {
      val dirs = phases(waves, splitAt).map(p => new java.io.File(s"$work/in$p"))
      val staged = new java.io.File(work, "in_staged")
      (staged +: dirs).foreach(deleteRecursively)
      def parts(dir: java.io.File, prefix: String): Array[java.io.File] =
        Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
          .filter(_.getName.startsWith(prefix))
      val partsOf: Int => Array[java.io.File] = rule match {
        case ByRange(order) =>
          src.repartitionByRange(waves, order).write.parquet(staged.getPath)
          b => parts(staged, f"part-$b%05d-")
        case ByMod(key) =>
          src.withColumn("__wave", pmod(col(key), lit(waves)))
            .repartition(waves, col("__wave"))
            .write.partitionBy("__wave").parquet(staged.getPath)
          b => parts(new java.io.File(staged, s"__wave=$b"), "part-")
      }
      (0 until waves).foreach { b =>
        val dest = dirs(if (b < splitAt) 0 else 1)
        dest.mkdirs()
        val moved = partsOf(b).map { f =>
          val tgt = new java.io.File(dest, f"part-w$b%04d-" + f.getName.stripPrefix("part-"))
          Files.move(f.toPath, tgt.toPath)
          tgt
        }
        val files =
          if (moved.nonEmpty) moved
          else {
            val prior = dest.list().toSet
            src.limit(0).coalesce(1).write.mode("append").parquet(dest.getPath)
            parts(dest, "part-").filterNot(f => prior(f.getName))
          }
        files.foreach(stampArrival(_, b))
      }
      deleteRecursively(staged)
      require(marker.createNewFile(), s"cannot create deal marker $marker")
    }
  }

  /** The replay of every foreachBatch store gate: [[deal]] `src` under
    * `work` unless it is dealt already — concurrently with `alongside`,
    * a setup write on disjoint paths, when one is given — then [[drain]]
    * each phase, phase B's batch ids offset by phase A's wave count so
    * the wave → batch-id mapping (and every store prune by batch id)
    * is the single-phase run's. `midpoint` runs between the phases,
    * while the stream is quiesced — when a production table service
    * takes the store lock (the compaction gates call
    * [[graft.io.Store.compact]] there). */
  private[graft] def replay(spark: SparkSession, src: DataFrame, rule: Deal,
      work: String, waves: Int = Waves, splitAt: Int = Int.MaxValue,
      alongside: Option[() => Unit] = None, midpoint: () => Unit = () => ())
      (body: (DataFrame, Long) => Unit): Unit = {
    alongside match {
      case Some(setup) => fence(() => deal(src, rule, work, waves, splitAt), setup)
      case None => deal(src, rule, work, waves, splitAt)
    }
    phases(waves, splitAt).zipWithIndex.foreach { case (p, i) =>
      if (i > 0) midpoint()
      drain(spark, s"$work/in$p", s"$work/ckpt$p", if (i == 0) 0L else splitAt.toLong)(body)
    }
  }

  /** Stamp replay file `f` as the `i`-th arrival: the file source orders
    * by modification time, so ascending stamps fix the replay order.
    * Fails loudly on a filesystem that cannot stamp mtimes, rather than
    * as a puzzling oracle mismatch downstream. */
  private[graft] def stampArrival(f: java.io.File, i: Int): Unit =
    require(f.setLastModified(1000000000000L + i * 60000L),
      s"cannot set mtime on $f; file-replay order would be undefined")

  /** Run mutually independent writes (disjoint target paths) concurrently
    * — each is a short stage wave that leaves executors idle at its
    * tail, so overlapping them costs about the slowest one. Waits for
    * ALL writes before surfacing any failure (ready-all, then
    * result-all, first failure in argument order wins): a failed write
    * must never leave a sibling job running into the batch's retry. */
  private[graft] def fence(writes: (() => Unit)*): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    val running = writes.map(w => Future(w()))
    running.foreach(Await.ready(_, Duration.Inf))
    running.foreach(Await.result(_, Duration.Inf))
  }
}

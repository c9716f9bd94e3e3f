package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.io.Sinks
import graft.streaming.StreamPipeline

/** The open-loop flagship workload: a generator drops files of CSV wire
  * lines into a watched directory on a fixed schedule; Spark's text file
  * source reads them, `StreamPipeline.scoreTransform` parses, guards and
  * labels them, q24's `(label, event_type)` count runs in update mode over
  * 8 state partitions, and every micro-batch is upserted through
  * `Sinks.partitionedBatchWrite` with a `ProcessingTime(0)` trigger. */
object StreamScore {
  /** One file per tick: few enough files per batch that the source's
    * per-file tasks stay a small share of a batch. */
  val TickMs = 200
  /** Offered rate of the latency phase, in the flat overhead-bound regime. */
  val LowEps = 10000
  /** Events in one burst dropped at once (the fixed input of a pass). */
  val BurstEvents = 300000
  val BurstFiles = 8
  /** Bursts in a run of `seconds`, after its low-rate phase. */
  def burstCount(seconds: Double): Int = math.max(3, math.round(seconds / 2).toInt)
  /** Offered rate of the traced high-rate phase, about half the knee. */
  val HighEps = 150000
  val HighSeconds = 3.0
  val MalformedShare = 0.01
  val EventTypes = Array("click", "error", "purchase", "signup", "view")

  /** One file handed to the source: when it was due, when it was
    * published, how many lines. */
  final case class Drop(name: String, dueMs: Double, publishedMs: Double, lines: Int,
                        phase: String)

  /** Writes files under a temporary name and renames them into the watched
    * directory on schedule. Keeps its own tally of valid events per
    * `(label, event_type)`; malformed lines are planted on purpose. */
  final class Feeder(stage: Path, watch: Path, seed: Long) {
    private val rng = new scala.util.Random(seed)
    private var nextId = 0L
    private var fileNo = 0
    val drops = ArrayBuffer.empty[Drop]
    val tally = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    var offered = 0L

    private def line(sb: java.lang.StringBuilder): Unit = {
      val id = nextId; nextId += 1
      val user = rng.nextInt(1500)
      val et = EventTypes(rng.nextInt(EventTypes.length))
      val value = math.round(-math.log(1.0 - rng.nextDouble()) * 5000.0) / 100.0
      if (rng.nextDouble() < MalformedShare) {
        rng.nextInt(3) match {
          case 0 => sb.append("ev").append(id).append(',').append(user).append(',').append(et).append(',').append(value)
          case 1 => sb.append(id).append(',').append(user).append(',').append(et).append(",n/a")
          case _ => sb.append(id).append(',').append(user)
        }
      } else {
        sb.append(id).append(',').append(user).append(',').append(et).append(',').append(value)
        val k = (if (value > 100) "flagged" else "normal", et)
        tally(k) = tally(k) + 1
      }
      sb.append('\n')
    }

    /** Writes a file of `n` lines to the staging directory. */
    private def stageFile(n: Int): String = {
      val name = f"f-$fileNo%06d.csv"
      fileNo += 1
      val sb = new java.lang.StringBuilder(n * 32)
      (0 until n).foreach(_ => line(sb))
      Files.write(stage.resolve(name), sb.toString.getBytes(StandardCharsets.UTF_8))
      name
    }

    private def publish(name: String): Unit =
      Files.move(stage.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)

    private def sleepUntil(ms: Double): Unit = {
      var left = ms - Clock.nowMs
      while (left > 0) {
        LockSupport.parkNanos((left * 1e6).toLong)
        left = ms - Clock.nowMs
      }
    }

    /** Offers `eps` events/s for `seconds`, one file per tick; returns how
      * late the generator ran at worst, in ms. */
    def steady(phase: String, eps: Int, seconds: Double): Double = {
      val ticks = math.round(seconds * 1000 / TickMs).toInt
      val t0 = Clock.nowMs + TickMs
      var late = 0.0
      var carried = 0.0
      (0 until ticks).foreach { k =>
        val due = t0 + k * TickMs
        carried += eps * TickMs / 1000.0
        val n = carried.toInt
        carried -= n
        val name = stageFile(n)
        sleepUntil(due)
        publish(name)
        val published = Clock.nowMs
        late = math.max(late, published - due)
        drops += Drop(name, due, published, n, phase)
        offered += n
      }
      late
    }

    /** Stages `events` lines in `files` files, then drops them all at once;
      * returns how late the drop ran, in ms. */
    def burst(phase: String, events: Int, files: Int): Double = {
      val names = (0 until files).map(i => (stageFile(events / files), events / files))
      val due = Clock.nowMs + TickMs
      sleepUntil(due)
      names.foreach { case (n, _) => publish(n) }
      val published = Clock.nowMs
      names.foreach { case (n, c) => drops += Drop(n, due, published, c, phase); offered += c }
      published - due
    }
  }

  /** A live scoring query over one watched directory. */
  final class Pipeline(spark: SparkSession, root: Path, seed: Long) {
    Seq("stage", "watch").foreach(d => Files.createDirectories(root.resolve(d)))
    val out: String = root.resolve("out").toString
    val ckpt: Path = root.resolve("ckpt")
    val feeder = new Feeder(root.resolve("stage"), root.resolve("watch"), seed)
    /** (batchId, start, end) of every timed sink call. */
    val sinkCalls = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

    private def sink(batch: DataFrame, batchId: Long): Unit = {
      val t0 = Clock.nowMs
      Sinks.partitionedBatchWrite(out, Seq.empty)(batch, batchId)
      sinkCalls.add(Span("sink", "Sinks.partitionedBatchWrite", t0, Clock.nowMs, key = batchId))
    }

    private val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val query: StreamingQuery = StreamPipeline.scoreTransform(
      session.readStream.format("text").load(root.resolve("watch").toString).toDF("line"))
      .groupBy("label", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .writeStream
      .outputMode("update")
      .foreachBatch(sink _)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.ProcessingTime(0))
      .start()

    /** Blocks until every offered line has been through a batch. */
    def drain(timeoutS: Double): Boolean = {
      val id = query.id.toString
      val deadline = Clock.nowMs + timeoutS * 1000
      while (BatchLog.rowsFor(id) < feeder.offered && Clock.nowMs < deadline &&
        query.exception.isEmpty) Thread.sleep(5)
      BatchLog.rowsFor(id) >= feeder.offered
    }

    private val commitMs = mutable.Map.empty[Long, Double]

    /** Records the commit time of every batch committed so far, from the
      * modification time of its entry in the checkpoint's commit log. */
    def snapshotCommits(): Unit =
      Option(ckpt.resolve("commits").toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.forall(_.isDigit))
        .foreach(f => commitMs.getOrElseUpdate(f.getName.toLong,
          Files.getLastModifiedTime(f.toPath).to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0))

    /** File name -> batch id, from the file source's metadata log. */
    def batchOfFile(): Map[String, Long] = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      Option(ckpt.resolve("sources/0").toFile.listFiles()).getOrElse(Array.empty).toSeq
        .filterNot(_.getName.startsWith("."))
        .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1).filter(_.startsWith("{")))
        .map { l =>
          val n = mapper.readTree(l)
          val p = n.get("path").asText()
          p.substring(p.lastIndexOf('/') + 1) -> n.get("batchId").asLong()
        }.toMap
    }

    /** Latency of each drop: its batch's commit time minus its due time.
      * Drops with no committed batch are missing from the result. */
    def latencies(): Map[Drop, Double] = {
      snapshotCommits()
      val batchOf = batchOfFile()
      feeder.drops.flatMap(d => batchOf.get(d.name).flatMap(commitMs.get).map(c => d -> (c - d.dueMs))).toMap
    }

    /** Sink contents, latest write per key, as `(label, event_type) -> cnt`. */
    def sinkCounts(): Map[(String, String), Long] =
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out)
        .groupBy("label", "event_type")
        .agg(max_by(col("cnt"), col("batch_id")).as("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    def stop(): Unit = query.stop()
  }

  /** Weighted percentile over (value, weight) pairs. */
  def percentile(xs: Seq[(Double, Int)], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val sorted = xs.sortBy(_._1)
      val total = sorted.map(_._2.toLong).sum
      val target = q * total
      var acc = 0L
      sorted.find { case (_, w) => acc += w; acc >= target }.map(_._1).getOrElse(sorted.last._1)
    }

  /** Untimed warm-up: a short steady phase and a small burst through a
    * query of its own. */
  def warmUp(spark: SparkSession, root: Path, seed: Long): Unit = {
    val p = new Pipeline(spark, root, seed)
    try {
      p.feeder.steady("warmup", LowEps, 1.5)
      p.feeder.burst("warmup", BurstEvents / 4, BurstFiles)
      p.drain(60)
    } finally p.stop()
  }
}

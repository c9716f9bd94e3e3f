package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Engine

/** Benchmark entry point. One invocation runs one workload on `local[4]`:
  *
  *  - `stream_score`: open loop, the flagship live scoring path;
  *  - `batch_corpus`: closed loop, one client, batch gates.
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1` it
  * runs the same timed phase untraced and then traced, writes the span
  * file and prints the per-layer metrics. The last stdout line is the
  * result JSON.
  */
object Main {
  val Cores = 4
  val SessionStarts = 3

  /** Traced runs switch the listeners on only for their traced segment. */
  @volatile var tracing = false

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        fixtures: String, workspace: Path, digests: Path,
                        traceOut: Option[Path])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.get("trace").contains("1"),
      m("fixtures"), Paths.get(m("workspace")), Paths.get(m("digests")),
      m.get("trace-out").map(Paths.get(_)))
  }

  /** name -> (value, unit) */
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final case class Outcome(attempted: Long, failed: Long, correct: Boolean, metrics: Metrics)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  val schedLog = new SchedLog

  def startSession(cores: Int, o: Opts): SparkSession = {
    val b = Engine.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores)
      .config("spark.local.dir", o.workspace.resolve("local").toString)
      .config("spark.sql.warehouse.dir", o.workspace.resolve("warehouse").toString)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[BatchLog].getName)
    if (o.trace) b.config("spark.sql.queryExecutionListeners", classOf[PlanLog].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (o.trace) s.sparkContext.addSparkListener(schedLog)
    s.range(1).count()
    s
  }

  /** Session start times, in s: the first (cold) start and the median of
    * all `SessionStarts`. */
  final case class Starts(coldS: Double, medianS: Double)

  /** Starts the session `SessionStarts` times (stopping all but the last)
    * and returns the live session with its start times. */
  def setUp(cores: Int, o: Opts): (SparkSession, Starts) = {
    var spark: SparkSession = null
    val times = (1 to SessionStarts).map { i =>
      if (spark != null) spark.stop()
      val t0 = Clock.nowMs
      spark = startSession(cores, o)
      (Clock.nowMs - t0) / 1000
    }
    (spark, Starts(times.head, median(times)))
  }

  /** Entries (directories and files) directly under the JVM's temp dir, and
    * bytes below it. Gates create their scratch there. */
  def tmpUsage(): (Int, Long) = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    val top = Option(root.toFile.listFiles()).map(_.length).getOrElse(0)
    val bytes = if (!Files.exists(root)) 0L else {
      val w = Files.walk(root)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
    (top, bytes)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val gc = new GcWatch
    val outcome = o.workload match {
      case "batch_corpus" => Closed.run(o, Gates.Corpus, gc)
      case "stream_score" => Open.run(o, gc)
      case other => sys.error(s"unknown workload $other")
    }
    val ms = outcome.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${outcome.correct}, "attempted": ${outcome.attempted}, """ +
      s""""failed": ${outcome.failed}, "metrics": $ms}""")
    System.out.flush()
    // A JVM with Spark threads still winding down would delay exit.
    Runtime.getRuntime.halt(0)
  }

  /** Writes spans as JSON lines: kind, name, start/end (epoch ms), attrs. */
  def writeSpans(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
      s"""{"kind": "${s.kind}", "name": "${s.name}", "start": ${s.startMs}, "end": ${s.endMs}, """ +
        s""""key": ${s.key}, "attrs": $attrs}"""
    }
    Files.write(path, lines.asJava)
  }
}

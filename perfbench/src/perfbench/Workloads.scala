package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Main._

/** `batch_corpus`. */
object Closed {

  /** Reference digests in the output format of the engine's `Scratch hash`:
    * one `<gate> <md5> rows=<n>` line per gate. */
  private def readDigests(p: Path): Map[String, (String, Long)] =
    Files.readAllLines(p).asScala.map(_.split(' ')).collect {
      case Array(g, h, n) if n.startsWith("rows=") => g -> (h, n.stripPrefix("rows=").toLong)
    }.toMap

  final case class Segment(t0: Double, t1: Double, calls: Seq[Gates.Call], passes: Seq[Span],
                           liveMb: Seq[Double], heapMb: Double, gcS: Double, leakDirs: Int,
                           leakBytes: Long) {
    def passS: Double = median(passes.map(p => (p.endMs - p.startMs) / 1000))
  }

  private def segment(spark: SparkSession, o: Opts, set: Gates.GateSet, gc: GcWatch): Segment = {
    gc.reset()
    val (d0, b0) = tmpUsage()
    val t0 = Clock.nowMs
    val (calls, passes, live) = Gates.passes(spark, o.fixtures, set.names, o.seed, set.passCount(o.seconds))
    val t1 = Clock.nowMs
    val (d1, b1) = tmpUsage()
    Thread.sleep(500) // progress events reach the listeners asynchronously
    Segment(t0, t1, calls, passes, live, gc.peakMb, gc.gcSeconds, d1 - d0, b1 - b0)
  }

  def run(o: Opts, set: Gates.GateSet, gc: GcWatch): Outcome = {
    val gates = set.names
    val (spark, starts) = setUp(Cores, o)
    // Warm-up: one untimed pass that also checks every result digest.
    val expected = readDigests(o.digests)
    val w0 = Clock.nowMs
    val got = gates.flatMap { g =>
      val s = Clock.nowMs
      try Some(g -> Gates.digest(spark, o.fixtures, g))
      catch { case e: Exception =>
        System.err.println(s"[perfbench] $g failed in warm-up: ${e.getMessage}")
        None
      } finally System.err.println(f"[perfbench] warm-up $g ${Clock.nowMs - s}%.0f ms")
    }.toMap
    val warmS = (Clock.nowMs - w0) / 1000
    val wrong = gates.filterNot(g => got.get(g).exists(d => expected.get(g).contains(d)))
    wrong.foreach(g => System.err.println(
      s"[perfbench] $g result ${got.get(g)} differs from the recorded ${expected.get(g)}"))

    val u = segment(spark, o, set, gc)
    // Geometric mean over gates of each gate's median call: a pooled median
    // of a few gates of different cost would jump from one gate to another
    // between runs.
    def latMs(s: Segment): Double = {
      val perGate = s.calls.groupBy(_.gate).values.map(cs => median(cs.map(_.ms))).toSeq
      math.exp(perGate.map(math.log).sum / perGate.size)
    }
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (starts.medianS + warmS, "s"),
      "lat_ms" -> (latMs(u), "ms"),
      "pass_s" -> (u.passS, "s"),
      "heap_live_mb" -> (median(u.liveMb), "MB"))
    var calls = u.calls
    val out =
      if (!o.trace) m
      else {
        tracing = true
        val t = segment(spark, o, set, gc)
        tracing = false
        calls ++= t.calls
        val units = t.passes.size.toDouble
        val lm: Metrics = mutable.LinkedHashMap(
          "Engine.session_s" -> (starts.medianS, "s"),
          "Engine.session_cold_s" -> (starts.coldS, "s"),
          "Engine.warmup_s" -> (warmS, "s"))
        Layers.compute(lm, t.t0, t.t1, units, t.calls, Seq.empty)
        lm("jvm.gc_s") = (t.gcS / units, "s")
        lm("jvm.heap_peak_mb") = (t.heapMb, "MB")
        lm("tmp.leak_dirs") = (t.leakDirs / units, "count")
        lm("tmp.leak_bytes") = (t.leakBytes / units, "bytes")
        lm("trace.overhead_pass_frac") = (t.passS / u.passS - 1, "frac")
        lm("trace.overhead_lat_frac") = (latMs(t) / latMs(u) - 1, "frac")
        o.traceOut.foreach(p => writeSpans(p,
          Layers.spans(t.t0, t.t1, o.workload, units, t.passes, t.calls, Seq.empty)))
        lm
      }
    val failed = calls.count(c => !c.ok || wrong.contains(c.gate)).toLong
    if (o.trace) out("fail_frac") = (failed.toDouble / calls.size, "frac")
    Outcome(calls.size.toLong, failed, failed == 0, out)
  }
}

/** `stream_score`. */
object Open {
  import StreamScore._

  final case class Segment(t0: Double, t1: Double, lowLat: Seq[(Double, Int)],
                           highLat: Seq[(Double, Int)], burstS: Seq[Double], offered: Long,
                           failed: Long, lateMs: Double, heapMb: Double, gcS: Double,
                           sinkCalls: Seq[Span], phases: Seq[Span], leakDirs: Int, leakBytes: Long,
                           liveMb: Seq[Double], lowEps: Double) {
    def p(q: Double): Double = percentile(lowLat, q)
  }

  /** Rate the generator achieved in a steady phase: the events of every
    * drop after the first, over the time from the first drop's due time to
    * the last drop's publication. */
  private def achievedEps(drops: Seq[Drop]): Double =
    if (drops.size < 2) Double.NaN
    else drops.tail.map(_.lines).sum / ((drops.last.publishedMs - drops.head.dueMs) / 1000)

  /** Low-rate phase for the run's length, then a fixed number of bursts;
    * optionally a high-rate phase. */
  private def segment(spark: SparkSession, o: Opts, tag: String, gc: GcWatch,
                      low: Boolean, bursts: Boolean, high: Boolean): Segment = {
    gc.reset()
    val (d0, b0) = tmpUsage()
    val p = new Pipeline(spark, o.workspace.resolve(s"stream-$tag"), o.seed)
    val phases = mutable.ArrayBuffer.empty[Span]
    val late = mutable.Map.empty[String, Double]
    var ok = true
    val live = mutable.ArrayBuffer.empty[Double]
    def phase(name: String)(f: => Double): Unit = {
      live += Gates.liveHeapMb()
      val s = Clock.nowMs
      late(name) = f
      ok &= p.drain(120)
      p.snapshotCommits()
      phases += Span("phase", name, s, Clock.nowMs)
    }
    val t0 = Clock.nowMs
    if (low) phase("low")(p.feeder.steady("low", LowEps, o.seconds))
    if (bursts) {
      (0 until burstCount(o.seconds)).foreach(i =>
        phase(s"burst$i")(p.feeder.burst(s"burst$i", BurstEvents, BurstFiles)))
    }
    if (high) phase("high")(p.feeder.steady("high", HighEps, HighSeconds))
    val t1 = Clock.nowMs
    val (d1, b1) = tmpUsage()
    Thread.sleep(300)
    val lat = p.latencies()
    p.stop()
    val byPhase = lat.toSeq.groupBy(_._1.phase)
    def weighted(ph: String) = byPhase.getOrElse(ph, Seq.empty).map { case (d, l) => (l, d.lines) }
    // events whose drop never reached a committed batch, or whose phase ran late
    val missing = p.feeder.drops.filterNot(lat.contains).map(_.lines.toLong).sum
    val lateEvents = p.feeder.drops.filter(d => late.getOrElse(d.phase, 0.0) > TickMs)
      .map(_.lines.toLong).sum
    val sink = p.sinkCounts()
    val keys = sink.keySet ++ p.feeder.tally.keySet
    val wrong = keys.toSeq.map(k => math.abs(sink.getOrElse(k, 0L) - p.feeder.tally(k))).sum
    if (wrong > 0) System.err.println(s"[perfbench] sink $sink differs from tally ${p.feeder.tally}")
    val burstS = byPhase.toSeq.filter(_._1.startsWith("burst"))
      .map { case (_, ds) => ds.map(_._2).max / 1000 }
    Segment(t0, t1, weighted("low"), weighted("high"), burstS, p.feeder.offered,
      missing + lateEvents + wrong + (if (ok) 0 else 1), if (late.isEmpty) 0.0 else late.values.max,
      gc.peakMb, gc.gcSeconds, p.sinkCalls.asScala.toSeq, phases.toSeq, d1 - d0, b1 - b0,
      live.toSeq :+ Gates.liveHeapMb(), achievedEps(p.feeder.drops.filter(_.phase == "low").toSeq))
  }

  def run(o: Opts, gc: GcWatch): Outcome = {
    val (spark0, starts) = setUp(Cores, o)
    var spark = spark0
    val w0 = Clock.nowMs
    warmUp(spark, o.workspace.resolve("stream-warmup"), o.seed + 1)
    val warmS = (Clock.nowMs - w0) / 1000
    val u = segment(spark, o, "timed", gc, low = true, bursts = true, high = false)
    val m: Metrics = mutable.LinkedHashMap(
      "setup_s" -> (starts.medianS + warmS, "s"),
      "lat_ms" -> (u.p(0.5), "ms"),
      "pass_s" -> (median(u.burstS), "s"),
      "heap_live_mb" -> (median(u.liveMb), "MB"))
    if (!o.trace) return Outcome(u.offered, u.failed, u.failed == 0, m)

    tracing = true
    val t = segment(spark, o, "traced", gc, low = true, bursts = true, high = true)
    tracing = false
    // Single-thread baseline: the high-rate phase again on local[1].
    spark.stop()
    spark = startSession(1, o)
    warmUp(spark, o.workspace.resolve("stream-warmup1"), o.seed + 2)
    val one = segment(spark, o, "local1", gc, low = false, bursts = false, high = true)
    spark.stop()

    val units = t.offered / 1e5
    val lm: Metrics = mutable.LinkedHashMap(
      "Engine.session_s" -> (starts.medianS, "s"),
      "Engine.session_cold_s" -> (starts.coldS, "s"),
      "Engine.warmup_s" -> (warmS, "s"))
    Layers.compute(lm, t.t0, t.t1, units, Seq.empty, t.sinkCalls)
    lm("jvm.gc_s") = (t.gcS / units, "s")
    lm("jvm.heap_peak_mb") = (t.heapMb, "MB")
    lm("tmp.leak_dirs") = (t.leakDirs / units, "count")
    lm("tmp.leak_bytes") = (t.leakBytes / units, "bytes")
    lm("load.late_ms") = (Seq(u.lateMs, t.lateMs, one.lateMs).max, "ms")
    lm("load.offered_eps") = (math.min(u.lowEps, t.lowEps), "1/s")
    lm("load.low_p99_ms") = (t.p(0.99), "ms")
    lm("load.high_p50_ms") = (percentile(t.highLat, 0.5), "ms")
    lm("load.high_p99_ms") = (percentile(t.highLat, 0.99), "ms")
    lm("load.local1_high_p50_ms") = (percentile(one.highLat, 0.5), "ms")
    lm("load.local1_high_p99_ms") = (percentile(one.highLat, 0.99), "ms")
    lm("load.burst_eps") = (BurstEvents / median(t.burstS), "1/s")
    lm("trace.overhead_pass_frac") = (median(t.burstS) / median(u.burstS) - 1, "frac")
    lm("trace.overhead_lat_frac") = (t.p(0.5) / u.p(0.5) - 1, "frac")
    val failed = u.failed + t.failed + one.failed
    val attempted = u.offered + t.offered + one.offered
    lm("fail_frac") = (failed.toDouble / attempted, "frac")
    o.traceOut.foreach(p => writeSpans(p,
      Layers.spans(t.t0, t.t1, o.workload, units, t.phases, Seq.empty, t.sinkCalls)))
    Outcome(attempted, failed, failed == 0, lm)
  }
}

package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The closed-loop workload: one client calls fixture gates through
  * `SparkEntry.queries`, one at a time, pass after pass. */
object Gates {

  /** A closed-loop gate set: each gate with the engine module that
    * implements it, and the nominal length of one pass on a 4-core host.
    * A run's pass count is fixed from the nominal length, so every run of
    * a given length does the same work however fast the program is. */
  final case class GateSet(gates: Seq[(String, String)], nominalPassS: Double) {
    def names: Seq[String] = gates.map(_._1)
    def passCount(seconds: Double): Int = math.max(2, math.round(seconds / nominalPassS).toInt)
  }

  /** Batch gates: scans, shuffles, a three-way join, all four native
    * kernels (graft_dot, graft_pq_encode and graft_adc in s9, graft_topk
    * in s21), the interpreted folds of t16 and s9, and the decision-tree
    * scoring of x2. No streaming machinery. */
  val Corpus = GateSet(Seq(
    "t16_char_lm_score" -> "ops.TextOps",
    "s9_ann_rerank" -> "ops.SimilarityOps",
    "s21_bulk_topk" -> "ops.SimilarityOps",
    "q11_join_3way" -> "ops.Relational",
    "x2_ml_score" -> "ml.ScoringPipeline"), nominalPassS = 3.5)

  /** md5 over the sorted string form of every result row. */
  def digest(spark: SparkSession, fixtures: String, gate: String): (String, Long) = {
    val rows = SparkEntry.queries(gate)(spark, fixtures).collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (md.digest().map("%02x".format(_)).mkString, rows.length.toLong)
  }

  /** Forces full execution of a gate's result through the noop sink. */
  def execute(spark: SparkSession, fixtures: String, gate: String): Unit =
    SparkEntry.queries(gate)(spark, fixtures).write.format("noop").mode("overwrite").save()

  final case class Call(gate: String, pass: Int, startMs: Double, endMs: Double, ok: Boolean) {
    def ms: Double = endMs - startMs
  }

  /** `n` timed passes, each in a seed-fixed gate order. Before each pass,
    * outside its timing, a full collection runs and the heap it leaves live
    * is recorded. */
  def passes(spark: SparkSession, fixtures: String, gates: Seq[String], seed: Long,
             n: Int): (Seq[Call], Seq[Span], Seq[Double]) = {
    val rng = new scala.util.Random(seed)
    val calls = ArrayBuffer.empty[Call]
    val passSpans = ArrayBuffer.empty[Span]
    val live = ArrayBuffer.empty[Double]
    (0 until n).foreach { pass =>
      live += liveHeapMb()
      val p0 = Clock.nowMs
      rng.shuffle(gates).foreach { g =>
        val s = Clock.nowMs
        val ok = try { execute(spark, fixtures, g); true }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] $g failed: ${e.getMessage}")
          false
        }
        calls += Call(g, pass, s, Clock.nowMs, ok)
      }
      passSpans += Span("phase", s"pass $pass", p0, Clock.nowMs)
      System.err.println(f"[perfbench] pass $pass ${(Clock.nowMs - p0) / 1000}%.3f s: " +
        calls.filter(_.pass == pass).map(c => f"${c.gate}=${c.ms}%.0f").mkString(" "))
    }
    live += liveHeapMb()
    (calls.toSeq, passSpans.toSeq, live.toSeq)
  }

  /** Heap in use right after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }
}

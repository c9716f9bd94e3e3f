package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Plan-evidence dump: `runMain graft.Plans <sfDir> <outDir>` writes the
  * formatted physical plan of every batch gate query to
  * `<outDir>/<name>.txt` — the reviewable artifact behind the plan audit
  * (SURVEY.md §4.3) and a round-over-round plan-diff baseline: a rotted
  * scan, lost pushdown, or degraded join shows up as a file diff, not an
  * anecdote. These are pre-execution (static) plans; the PlanSpec suite
  * additionally asserts the post-AQE properties that matter at 100 TB.
  *
  * Streaming gates are skipped: their gate functions execute a full
  * replay to produce a result DataFrame (the returned frame's plan is
  * the sink read-back, not the streaming query), and their shapes are
  * locked by StreamEquivSpec/StateStoreSpec instead. A gate is a
  * streaming gate when running it inside `Replay.recorded` records
  * micro-batches. */
object Plans {

  /** The gates PlanSpec's static CollectLimit sweep skips so as not to
    * re-run their replays. [[main]] does not read it: it asks the
    * record, which also catches the stream gates this list misses. */
  val StreamingGates: Set[String] = Set(
    "q07_tumbling_window", "q08_sliding_window", "q09_session_window",
    "q24_stream_score", "q37_stream_join", "q38_static_enrich",
    "d12_stream_minhash", "s11_stream_ann_ingest",
    "s12_stream_ann_delete", "s13_ann_compact", "s14_ann_partial_compact",
    "s15_stream_ann_multiprobe", "s16_stream_ann_upsert",
    "s20_stream_radius_alert",
    "p2_stream_funnel", "p3_full_funnel", "p6_incremental_export",
    "x8_stream_sketch", "x9_stream_quantile", "x10_stream_cms",
    "x11_stream_window_quantile", "x12_stream_window_distinct",
    "x13_stream_window_cms", "x15_stream_drift", "x16_stream_topk",
    "x17_stream_growth", "x18_retention_vacuum", "x19_late_ledger")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val (df, batches, _) = graft.streaming.Replay.recorded(fn(spark, sfDir))
      if (batches.isEmpty) {
        val plan = df.queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan): Unit
      }
    }
    spark.stop()
  }
}

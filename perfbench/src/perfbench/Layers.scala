package perfbench

import scala.jdk.CollectionConverters._

import perfbench.Main.Metrics

/** Per-layer metrics over one traced segment `[t0, t1]`. Counts are
  * divided by `units` (passes for batch_corpus, 100k offered events for
  * stream_score); `*_ms` of micro-batches are means per batch. */
object Layers {

  def inWindow(s: Span, t0: Double, t1: Double): Boolean = s.startMs >= t0 && s.startMs <= t1

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def compute(m: Metrics, t0: Double, t1: Double, units: Double, calls: Seq[Gates.Call],
              sinkCalls: Seq[Span]): Unit = {
    val jobs = Main.schedLog.jobs.asScala.toSeq.filter(inWindow(_, t0, t1))
    val stages = Main.schedLog.stages.asScala.toSeq.filter(inWindow(_, t0, t1))
    val tasks = Main.schedLog.tasks.asScala.toSeq.filter(inWindow(_, t0, t1))
    val queries = PlanLog.queries.asScala.toSeq.filter(inWindow(_, t0, t1))
    val batches = BatchLog.all.filter(b => b.startMs >= t0 && b.startMs <= t1)
    def per(v: Double) = v / units
    def taskSum(k: String) = tasks.map(_.attrs.getOrElse(k, 0.0)).sum
    def querySum(k: String) = queries.map(_.attrs.getOrElse(k, 0.0)).sum
    def dur(k: String) = mean(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val stateful = batches.filter(b => b.stateRows > 0 || b.stateCommitMs > 0)

    // the generator's figures; stream_score overwrites them
    Seq("load.late_ms", "load.offered_eps", "load.low_p99_ms", "load.high_p50_ms",
      "load.high_p99_ms", "load.local1_high_p50_ms", "load.local1_high_p99_ms", "load.burst_eps")
      .foreach(k => m(k) = (0.0, if (k.endsWith("eps")) "1/s" else "ms"))

    m("io.Sources.latestOffset_ms") = (dur("latestOffset"), "ms")
    m("io.Sources.getBatch_ms") = (dur("getBatch"), "ms")
    m("io.Sources.input_bytes") = (per(taskSum("input_bytes")), "bytes")
    m("io.Sinks.write_ms") = (mean(sinkCalls.map(s => s.endMs - s.startMs)), "ms")
    m("io.Sinks.output_bytes") = (per(taskSum("output_bytes")), "bytes")
    m("io.Sinks.output_files") = (per(querySum("files_written")), "count")

    m("streaming.batches") = (per(batches.size.toDouble), "count")
    m("streaming.trigger_ms") = (dur("triggerExecution"), "ms")
    m("streaming.addBatch_ms") = (dur("addBatch"), "ms")
    m("streaming.queryPlanning_ms") = (dur("queryPlanning"), "ms")
    m("streaming.walCommit_ms") = (dur("walCommit"), "ms")
    m("streaming.commitOffsets_ms") = (dur("commitOffsets"), "ms")
    val batchJobs = batches.map(b => jobs.count(j => j.startMs >= b.startMs && j.startMs <= b.endMs))
    m("streaming.jobs_per_batch") = (mean(batchJobs.map(_.toDouble)), "count")
    m("streaming.empty_batch_frac") =
      (if (batches.isEmpty) 0.0 else batches.count(_.inputRows == 0).toDouble / batches.size, "frac")

    // one wall/jobs pair per engine module the gates call into
    val modules = Gates.Corpus.gates.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    modules.keys.toSeq.sorted.foreach { mod =>
      val cs = calls.filter(c => modules(mod).contains(c.gate))
      m(s"$mod.wall_s") = (per(cs.map(_.ms).sum / 1000), "s")
      m(s"$mod.jobs") = (per(cs.map(c => jobs.count(j => j.startMs >= c.startMs && j.startMs <= c.endMs))
        .sum.toDouble), "count")
    }

    m("spark.state.commit_ms") = (mean(stateful.map(_.stateCommitMs.toDouble)), "ms")
    m("spark.state.rows_total") = (mean(stateful.map(_.stateRows.toDouble)), "count")
    m("spark.state.mem_bytes") = (mean(stateful.map(_.stateMemBytes.toDouble)), "bytes")

    PlanLog.Kernels.foreach(k => m(s"functions.$k.rows") = (per(querySum(s"$k.rows")), "count"))

    m("spark.catalyst.analysis_ms") = (per(querySum("analysis_ms")), "ms")
    m("spark.catalyst.optimization_ms") = (per(querySum("optimization_ms")), "ms")
    m("spark.catalyst.planning_ms") = (per(querySum("planning_ms")), "ms")
    m("spark.catalyst.exchanges") = (per(querySum("exchanges")), "count")
    m("spark.catalyst.sorts") = (per(querySum("sorts")), "count")
    m("spark.catalyst.bnlj") = (per(querySum("bnlj")), "count")
    m("spark.catalyst.codegen_fallback") = (per(querySum("codegen_fallback")), "count")

    m("spark.sched.jobs") = (per(jobs.size.toDouble), "count")
    m("spark.sched.stages") = (per(stages.size.toDouble), "count")
    m("spark.sched.tasks") = (per(tasks.size.toDouble), "count")
    m("spark.sched.task_run_s") = (per(taskSum("run_ms") / 1000), "s")
    m("spark.sched.task_cpu_s") = (per(taskSum("cpu_ns") / 1e9), "s")
    m("spark.sched.busy_frac") = (taskSum("run_ms") / (Main.Cores * (t1 - t0)), "frac")
    m("spark.sched.failed_tasks") = (taskSum("failed"), "count")

    m("spark.shuffle.write_bytes") = (per(taskSum("shuffle_write")), "bytes")
    m("spark.shuffle.read_bytes") = (per(taskSum("shuffle_read")), "bytes")
    m("spark.shuffle.fetch_wait_ms") = (per(taskSum("fetch_wait_ms")), "ms")
    m("spark.shuffle.spill_bytes") = (per(taskSum("spill")), "bytes")
    m("spark.shuffle.peak_exec_mem_bytes") =
      (if (tasks.isEmpty) 0.0 else tasks.map(_.attrs.getOrElse("peak_mem", 0.0)).max, "bytes")
  }

  /** Every span of the traced segment, for the span file. */
  def spans(t0: Double, t1: Double, workload: String, units: Double, phases: Seq[Span],
            calls: Seq[Gates.Call], sinkCalls: Seq[Span]): Seq[Span] = {
    val batches = BatchLog.all.filter(b => b.startMs >= t0 && b.startMs <= t1).map(b =>
      Span("batch", s"batch ${b.batchId}", b.startMs, b.endMs,
        b.durations.map { case (k, v) => k -> v.toDouble } + ("rows" -> b.inputRows.toDouble),
        key = b.batchId))
    val stages = Main.schedLog.stages.asScala.toSeq.filter(inWindow(_, t0, t1)).map(s =>
      s.copy(attrs = s.attrs + ("job" -> Option(SchedLog.stageToJob.get(s.key.toInt))
        .map(_.toDouble).getOrElse(-1.0))))
    Seq(Span("workload", workload, t0, t1, Map("units" -> units))) ++ phases ++
      calls.map(c => Span("gate", c.gate, c.startMs, c.endMs)) ++ batches ++ sinkCalls ++
      Main.schedLog.jobs.asScala.toSeq.filter(inWindow(_, t0, t1)) ++ stages
  }
}

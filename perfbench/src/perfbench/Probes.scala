package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for every span: epoch milliseconds with sub-ms precision,
  * derived from `nanoTime` so intervals are monotonic. */
object Clock {
  private val baseEpochMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseEpochMs + (System.nanoTime() - baseNs) / 1e6
}

/** Heap occupancy after each collection and time spent collecting, from
  * the JVM's GC notifications. Only heap pools count toward occupancy. */
final class GcWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peakBytes = 0L
  private var gcMs = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        GcWatch.this.synchronized {
          peakBytes = math.max(peakBytes, after)
          gcMs += info.getGcInfo.getDuration
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = synchronized { peakBytes = 0L; gcMs = 0L }
  def peakMb: Double = synchronized(peakBytes / 1048576.0)
  def gcSeconds: Double = synchronized(gcMs / 1000.0)
}

/** One finished micro-batch, as its progress report describes it. */
final case class BatchRecord(queryId: String, batchId: Long, startMs: Double,
                             durations: Map[String, Long], inputRows: Long,
                             stateCommitMs: Long, stateRows: Long, stateMemBytes: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
  def endMs: Double = startMs + triggerMs
}

/** Collects every micro-batch's progress report. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, so each child session a
  * gate creates with `newSession()` gets an instance too; all instances
  * append to the one shared log. */
class BatchLog extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    BatchLog.records.add(BatchRecord(
      p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
  }
}

object BatchLog {
  val records = new ConcurrentLinkedQueue[BatchRecord]()
  def all: Seq[BatchRecord] = records.asScala.toSeq
  def rowsFor(queryId: String): Long =
    records.asScala.iterator.filter(_.queryId == queryId).map(_.inputRows).sum
}

/** A timed interval in the trace: workload, phase, gate call, micro-batch,
  * sink call, job or stage. */
final case class Span(kind: String, name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty, key: Long = -1L)

/** Scheduler-side counters and job/stage spans, recorded while
  * `Main.tracing` is on. */
class SchedLog extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Span]()
  val stages = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Main.tracing) jobStart.put(e.jobId, (e.time.toDouble, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, stageIds) =>
      jobs.add(Span("job", s"job ${e.jobId}", t0, e.time.toDouble,
        Map("stages" -> stageIds.size.toDouble), key = e.jobId))
      stageIds.foreach(s => SchedLog.stageToJob.put(s, e.jobId))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (Main.tracing) {
    val i = e.stageInfo
    for (t0 <- i.submissionTime; t1 <- i.completionTime)
      stages.add(Span("stage", s"stage ${i.stageId}", t0.toDouble, t1.toDouble,
        Map("tasks" -> i.numTasks.toDouble,
          "failed" -> (if (i.failureReason.isDefined) 1.0 else 0.0)), key = i.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Main.tracing) {
    val m = e.taskMetrics
    val info = e.taskInfo
    val attrs: Map[String, Double] =
      if (m == null) Map("failed" -> 1.0)
      else Map(
        "failed" -> (if (info.successful) 0.0 else 1.0),
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ns" -> m.executorCpuTime.toDouble,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "peak_mem" -> m.peakExecutionMemory.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "output_bytes" -> m.outputMetrics.bytesWritten.toDouble)
    tasks.add(Span("task", s"stage ${e.stageId}", info.launchTime.toDouble,
      info.finishTime.toDouble, attrs, key = e.stageId))
  }
}

object SchedLog {
  val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
}

/** Planner-side counters per executed batch query, recorded while
  * `Main.tracing` is on: Catalyst phase times, physical operator counts,
  * rows out of operators that evaluate a `graft_*` kernel, and files
  * written. Registered through `spark.sql.queryExecutionListeners` so
  * child sessions report too. */
class PlanLog extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Main.tracing) PlanLog.queries.add(PlanLog.summarize(this, qe, Clock.nowMs))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (Main.tracing) PlanLog.queries.add(PlanLog.summarize(this, qe, Clock.nowMs))
}

object PlanLog {
  val Kernels = Seq("graft_dot", "graft_topk", "graft_pq_encode", "graft_adc")
  val queries = new ConcurrentLinkedQueue[Span]()

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Rows a node emits: its own `numOutputRows`, else the nearest
    * single-child descendant's (a projection passes its child's rows). */
  private def rowsOut(p: SparkPlan): Long =
    if (p.metrics.contains("numOutputRows")) metric(p, "numOutputRows")
    else p.children match {
      case Seq(c) => rowsOut(c)
      case _ => 0L
    }

  def summarize(h: AdaptiveSparkPlanHelper, qe: QueryExecution, at: Double): Span = {
    val plan = qe.executedPlan
    val nodes = h.collectWithSubqueries(plan) { case p => p }
    val phases = qe.tracker.phases
    def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val kernelRows = Kernels.map { k =>
      k -> nodes.filter(_.expressions.exists(_.exists(_.prettyName == k))).map(rowsOut).sum.toDouble
    }
    val fallback = nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum
    Span("query", "query", at, at, Map(
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
      "sorts" -> nodes.count(_.isInstanceOf[SortExec]).toDouble,
      "bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]).toDouble,
      "codegen_fallback" -> fallback.toDouble,
      "files_written" -> nodes.collect { case w: DataWritingCommandExec => metric(w, "numFiles") }
        .sum.toDouble) ++ kernelRows.map { case (k, v) => s"$k.rows" -> v })
  }
}

package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.Replay

/** The gate runner of every measurement main — [[warm]], [[timed]],
  * [[digest]], [[explain]] and [[each]]; `Bench`, `Verify` and
  * `ScaleCheck` run their gates through it — and the measurement harness
  * of the optimization rounds (not part of the declared query surface),
  * one mode per first argument:
  *  - `<gate>[,<gate>…]` (default `m15_stream_near_dup`): each gate
  *    twice through the noop sink, printing wall seconds, the Spark jobs
  *    and tasks it launched (noise-immune evidence that an optimization
  *    removed work) and the per-batch body (`addBatch`) seconds of every
  *    replay it ran;
  *  - `hash <outPath> [names]`: one [[digest]] line per gate, for
  *    result-identity proofs;
  *  - `explain <outDir> [names]`: formatted physical plans, one file per
  *    gate; with no names, every gate that runs no micro-batches (a
  *    stream gate returns a frame over its sink, whose plan is only the
  *    read-back — StreamEquivSpec/StateStoreSpec lock those shapes);
  *  - `dups <outPath>`: a duplicate-evaluation audit.
  *
  * Gates run against `SPARK_GRAFT_SF_DIR` (default sf0.1) after [[warm]]. */
object Scratch {

  /** Untimed warm-up (BASELINE.md methodology: warm session): first
    * executions pay codegen/JIT and datasource init, which otherwise land
    * on whatever gate runs first. One cheap gate per table family warms
    * each scan and expression path over `sfDir`. */
  def warm(spark: SparkSession, sfDir: String): Unit =
    each(Seq("q12_pricing_summary", "q03_class_share", "t3_token_count", "s2_ann_bucket"),
      q => s"[bench] warmup $q failed")(q => timed(SparkEntry.queries(q)(spark, sfDir)): Unit): Unit

  /** Call `gate` and run it to completion through the noop sink (a
    * count() would let Catalyst prune sorts and projections), inside
    * [[Replay.recorded]]: the wall seconds of the call and the write, and
    * the micro-batches its replays ran. The gate's workspaces are deleted
    * after the clock stops ([[Replay.scoped]]). */
  def timed(gate: => DataFrame): (Double, Seq[StreamingQueryProgress]) =
    Replay.scoped {
      val t0 = System.nanoTime()
      val (_, batches, _) = Replay.recorded(gate.write.format("noop").mode("overwrite").save())
      ((System.nanoTime() - t0) / 1e9, batches)
    }

  /** md5 over gate `name`'s rows, sorted, and their count, as
    * `<md5> rows=<n>`: diff two runs to prove an optimization changed
    * nothing the gate computes. */
  def digest(spark: SparkSession, sfDir: String, name: String): String = {
    val rows = Replay.scoped(SparkEntry.queries(name)(spark, sfDir).collect())
      .map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s" rows=${rows.length}"
  }

  /** Call gate `name` and write its formatted physical plan to
    * `<dir>/<name>.txt`, unless `batchOnly` and the call ran
    * micro-batches. */
  def explain(spark: SparkSession, sfDir: String, dir: String, name: String,
              batchOnly: Boolean): Unit = Replay.scoped {
    val (df, batches, _) = Replay.recorded(SparkEntry.queries(name)(spark, sfDir))
    if (!batchOnly || batches.isEmpty) {
      Files.writeString(Paths.get(s"$dir/$name.txt"),
        df.queryExecution.explainString(FormattedMode))
      System.err.println(s"[scratch] wrote $dir/$name.txt")
    }
  }

  /** Run `body` on each of `names`, sorted. A failure is logged to
    * stderr as `<failed(name)>: <message>`, and the failed names are
    * returned with their errors. */
  def each(names: Iterable[String], failed: String => String)
          (body: String => Unit): Seq[(String, Throwable)] =
    names.toSeq.sorted.flatMap { n =>
      try { body(n); None }
      catch { case e: Throwable =>
        System.err.println(s"${failed(n)}: ${e.getMessage}")
        Some(n -> e)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.local()
    warm(spark, sfDir)
    val named = args.lift(2).map(_.split(",").toSeq)
    val all = SparkEntry.queries.keys
    args.headOption.getOrElse("m15_stream_near_dup") match {
      case "hash" =>
        val lines = scala.collection.mutable.SortedMap.empty[String, String]
        each(named.getOrElse(all), n => s"[scratch] $n FAILED") { n =>
          lines(n) = s"$n ${digest(spark, sfDir, n)}"
          System.err.println(s"[scratch] ${lines(n)}")
        }.foreach { case (n, e) => lines(n) = s"$n FAILED ${e.getMessage}" }
        Files.writeString(Paths.get(args(1)), lines.values.map(_ + "\n").mkString): Unit
      case "explain" =>
        new java.io.File(args(1)).mkdirs()
        each(named.getOrElse(all), n => s"[scratch] $n failed")(
          explain(spark, sfDir, args(1), _, batchOnly = named.isEmpty)): Unit
      case "dups" =>
        // per gate, each expensive expression whose canonical form appears
        // in more than one operator of the optimized plan (what predicate
        // pushdown's alias substitution produces). Stream gates are
        // audited only through the frame they return, not their bodies.
        import org.apache.spark.sql.catalyst.expressions._
        def expensive(e: Expression): Boolean = e match {
          case _: CsvToStructs | _: JsonToStructs | _: ScalaUDF | _: HigherOrderFunction |
               _: RegExpReplace | _: RegExpExtract | _: RegExpExtractAll |
               _: StringSplit | _: RLike => true
          case _ => e.getClass.getName.startsWith("graft.functions.")
        }
        def outermost(e: Expression): Seq[Expression] =
          if (expensive(e)) Seq(e) else e.children.flatMap(outermost)
        val sb = new StringBuilder
        var flagged = 0
        each(all, n => s"[scratch] $n failed") { name =>
          val plan = Replay.scoped(SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan)
          // (canonical form, expression, operator) once per operator
          val sites = plan.collectWithSubqueries { case op =>
            op.expressions.flatMap(outermost).distinctBy(_.canonicalized)
              .map(e => (e.canonicalized, e, op.nodeName))
          }.flatten
          val dups = sites.groupBy(_._1).values.filter(_.size > 1).toSeq
          if (dups.nonEmpty) flagged += 1
          dups.foreach { ops =>
            val e = ops.head._2
            val line = s"$name ${e.nodeName} x${ops.size} in ${ops.map(_._3).mkString("+")}: " +
              e.sql.take(160)
            sb.append(line + "\n")
            System.err.println(s"[scratch] $line")
          }
        }
        sb.append(s"flagged $flagged of ${all.size} gates\n")
        System.err.println(s"[scratch] flagged $flagged of ${all.size} gates")
        Files.writeString(Paths.get(args(1)), sb.toString): Unit
      case gates =>
        val (jobs, tasks) = (new AtomicInteger, new AtomicInteger)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
          override def onTaskStart(t: SparkListenerTaskStart): Unit = tasks.incrementAndGet(): Unit
        })
        for (q <- gates.split(",").toSeq; i <- 1 to 2) {
          jobs.set(0); tasks.set(0)
          val (sec, batches) = timed(SparkEntry.queries(q)(spark, sfDir))
          Thread.sleep(300) // let listener events drain
          val body = batches.map(_.durationMs.getOrDefault("addBatch", 0L) / 1e3)
          System.err.println(f"[scratch] $q #$i: $sec%.3f s, jobs=${jobs.get} tasks=${tasks.get}" +
            (if (body.isEmpty) ""
             else body.map(v => f"$v%.3f").mkString("; batch times: ", ", ", f" sum=${body.sum}%.3f")))
        }
    }
    spark.stop()
  }
}

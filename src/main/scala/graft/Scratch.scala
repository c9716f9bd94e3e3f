package graft

import org.apache.spark.sql.functions._

/** Measurement harness for the optimization rounds (not part of the
  * declared query surface), one mode per first argument: a gate timer
  * (any gate name, default `m15_stream_near_dup`: two noop-sink runs,
  * each with the per-batch body seconds of every replay it ran),
  * 3-pass noop-sink A/B timing (`benchonly`), full-result md5 identity
  * proofs (`hash`), plan dumps (`explain`, `ledgerplan`, `blendplan`),
  * a duplicate-evaluation audit (`dups`), and a noise-immune Spark
  * job/task counter (`jobs`). Kept committed so the second optimization
  * round A/Bs against the same instruments. */
object Scratch {
  def t[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    System.err.println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.local()
    // warmup (same as Bench)
    Seq("q12_pricing_summary", "q03_class_share", "t3_token_count", "s2_ann_bucket")
      .foreach { q =>
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
    val what = args.headOption.getOrElse("m15_stream_near_dup")

    what match {
      case "hash" =>
        // result-identity proof harness: md5 over sorted collected rows
        // per gate, written to the path in arg(1); diff two runs to
        // prove an optimization changed nothing the gate computes.
        val outPath = args(1)
        val only = args.drop(2).headOption.map(_.split(",").toSet)
        val sb = new StringBuilder
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          if (only.forall(_.contains(name))) {
            try {
              val rows = fn(spark, sfDir).collect().map(_.toString).sorted
              val md = java.security.MessageDigest.getInstance("MD5")
              rows.foreach(r => md.update(r.getBytes("UTF-8")))
              val h = md.digest().map("%02x".format(_)).mkString
              sb.append(s"$name $h rows=${rows.length}\n")
              System.err.println(s"[scratch] $name $h rows=${rows.length}")
            } catch { case e: Throwable =>
              sb.append(s"$name FAILED ${e.getMessage}\n")
              System.err.println(s"[scratch] $name FAILED ${e.getMessage}")
            }
          }
        }
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), sb.toString)
        ()
      case "explain" =>
        // dump .explain("formatted") for the named queries to dir arg(1)
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        args(2).split(",").foreach { name =>
          val df = SparkEntry.queries(name)(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
          System.err.println(s"[scratch] wrote $outDir/$name.txt")
        }
      case "dups" =>
        // duplicate-evaluation audit, written to the path in arg(1): per
        // gate, each expensive expression whose canonical form appears in
        // more than one operator of the optimized plan (what predicate
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
        val outPath = args(1)
        val sb = new StringBuilder
        var flagged = 0
        val gates = SparkEntry.queries.toSeq.sortBy(_._1)
        gates.foreach { case (name, fn) =>
          val plan = fn(spark, sfDir).queryExecution.optimizedPlan
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
        sb.append(s"flagged $flagged of ${gates.size} gates\n")
        System.err.println(s"[scratch] flagged $flagged of ${gates.size} gates")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), sb.toString)
        ()
      case "ledgerplan" =>
        // before/after physical plans of the m16/m21 per-batch ledger
        // folds over parquet-backed pair-set fixtures (the frames the
        // product code builds inside foreachBatch — not dumpable from
        // the gate-level explain). "after" explains the PRODUCT
        // functions; "before" reconstructs the pre-r19 full-outer
        // formulation verbatim (same expressions the old inline code
        // held — see LedgerFoldSpec, which pins value-equivalence).
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        val work = graft.streaming.Replay.workspace("graft_ledgerplan_")
        val docs = graft.io.Sources.table(spark, sfDir, "documents").select("doc_id")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"),
            lit(3L).as("hamming"))
          .write.parquet(s"$work/cur")
        docs.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"),
            lit(3L).as("hamming"))
          .write.parquet(s"$work/prev")
        val cur = spark.read.parquet(s"$work/cur")
        val prev = spark.read.parquet(s"$work/prev")
        def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          System.err.println(s"[scratch] wrote $outDir/$name.txt")
        }
        dump("m16_ledger_after", graft.streaming.StreamMediaDedup.ledgerFrame(cur, prev))
        locally { // pre-r19 m16 shape: full-outer + the same digest fold
          val fo = cur.select(col("a_id"), col("b_id"), lit(true).as("now_in"))
            .join(prev.select(col("a_id"), col("b_id"), lit(true).as("was_in")),
              Seq("a_id", "b_id"), "full_outer")
            .select(col("a_id"), col("b_id"),
              coalesce(col("now_in"), lit(false)).as("now_in"),
              coalesce(col("was_in"), lit(false)).as("was_in"))
          val addedF = col("now_in") && !col("was_in")
          val retractedF = !col("now_in") && col("was_in")
          dump("m16_ledger_before", fo
            .withColumn("sb", pmod(col("a_id"),
              lit(graft.streaming.StreamMediaDedup.DigestBuckets)))
            .groupBy("sb").agg(
              sum(when(col("now_in"), 1L).otherwise(0L)).as("b_pairs"),
              sum(when(addedF, 1L).otherwise(0L)).as("b_added"),
              sum(when(retractedF, 1L).otherwise(0L)).as("b_retracted"))
            .agg(coalesce(sum("b_pairs"), lit(0L)).as("n_pairs"),
              coalesce(sum("b_added"), lit(0L)).as("n_added"),
              coalesce(sum("b_retracted"), lit(0L)).as("n_retracted")))
        }
        val curC = cur.select(col("a_id"), col("b_id"), lit("both").as("now_ch"))
        val prevC = prev.select(col("a_id"), col("b_id"), lit("image").as("was_ch"))
        dump("m21_consensus_ledger_after",
          graft.streaming.StreamMediaDedup.consensusLedgerFrame(curC, prevC))
        locally { // pre-r19 m21 shape: full-outer + entering/leaving union
          val fo = curC.join(prevC, Seq("a_id", "b_id"), "full_outer")
          val entering = fo.filter(col("now_ch").isNotNull)
            .select(col("now_ch").as("channel"), lit(1L).as("p"),
              when(col("was_ch").isNull || col("was_ch") =!= col("now_ch"), 1L)
                .otherwise(0L).as("a"), lit(0L).as("r"))
          val leaving = fo.filter(col("was_ch").isNotNull &&
              (col("now_ch").isNull || col("now_ch") =!= col("was_ch")))
            .select(col("was_ch").as("channel"), lit(0L).as("p"),
              lit(0L).as("a"), lit(1L).as("r"))
          dump("m21_consensus_ledger_before", entering.unionByName(leaving)
            .groupBy("channel")
            .agg(sum("p").as("n_pairs"), sum("a").as("n_added"),
              sum("r").as("n_retracted")))
        }
      case "blendplan" =>
        // before/after physical plans of the p11/p12 per-batch blend
        // ledger over a parquet-backed stats fixture (built inside
        // foreachBatch — not dumpable from the gate-level explain).
        // "after" explains the PRODUCT function; "before" reconstructs
        // the pre-r19 persist + orderBy/limit(1) + broadcast crossJoin
        // verbatim.
        val outDir = args(1)
        new java.io.File(outDir).mkdirs()
        val work = graft.streaming.Replay.workspace("graft_blendplan_")
        graft.io.Sources.table(spark, sfDir, "documents")
          .select(col("source"), (length(col("text")) / 4).cast("long").as("btok"))
          .write.parquet(s"$work/stats")
        val arrived = spark.read.parquet(s"$work/stats")
        def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/$name.txt"),
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          System.err.println(s"[scratch] wrote $outDir/$name.txt")
        }
        dump("p11_blend_ledger_after",
          graft.streaming.BlendMonitor.blendLedgerFrame(arrived))
        locally { // pre-r19 shape (persist dropped from the dump only —
          // it marks the plan InMemoryRelation; the job split it caused
          // is the jobs-counter evidence)
          val tot = arrived
            .groupBy("source").agg(sum("btok").as("tot"))
            .withColumn("w", graft.ops.TextOps.sourceWeight(col("source")))
          val m = tot
            .orderBy((col("tot").cast("double") / col("w")).asc, col("source").asc)
            .limit(1).select(col("tot").as("tot_m"), col("w").as("w_m"))
          dump("p11_blend_ledger_before", tot.crossJoin(broadcast(m))
            .withColumn("budget", expr("(w * tot_m) div w_m"))
            .select("source", "w", "tot", "budget"))
        }
      case "jobs" =>
        // noise-immune measurement: Spark jobs + tasks launched per gate
        // (one run each) — structural evidence that an optimization
        // removed work, independent of host contention
        val counter = new org.apache.spark.scheduler.SparkListener {
          val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
          val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet(); ()
          }
          override def onTaskStart(t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit = {
            tasks.incrementAndGet(); ()
          }
        }
        spark.sparkContext.addSparkListener(counter)
        args(1).split(",").foreach { n =>
          counter.jobs.set(0); counter.tasks.set(0)
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          Thread.sleep(300) // let listener events drain
          System.err.println(f"[scratch] $n jobs=${counter.jobs.get} tasks=${counter.tasks.get} " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%.3f")
        }
      case "benchonly" =>
        // 3-pass noop-sink timing for the named queries (arg 1)
        val names = args(1).split(",").toSeq
        val res = scala.collection.mutable.Map.empty[String, List[Double]]
        for (p <- 1 to 3; n <- names) {
          val t0 = System.nanoTime()
          SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
          res(n) = ((System.nanoTime() - t0) / 1e9) :: res.getOrElse(n, Nil)
        }
        names.foreach { n =>
          val xs = res(n)
          System.err.println(f"[scratch] $n min=${xs.min}%.3f med=${xs.sorted.apply(xs.size / 2)}%.3f raw=" +
            xs.reverse.map(v => f"$v%.3f").mkString(","))
        }
      case q =>
        for (i <- 1 to 2) {
          val (_, batches) = t(s"$q #$i") {
            graft.streaming.Replay.recorded(SparkEntry.queries(q)(spark, sfDir)
              .write.format("noop").mode("overwrite").save())
          }
          if (batches.nonEmpty) {
            val times = batches.map(_.durationMs.getOrDefault("addBatch", 0L) / 1e3)
            System.err.println(s"[scratch] $q #$i batch times: " +
              times.map(v => f"$v%.3f").mkString(", ") + f" sum=${times.sum}%.3f")
          }
        }
    }
    spark.stop()
  }
}

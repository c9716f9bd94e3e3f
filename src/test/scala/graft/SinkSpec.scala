package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Sinks, Sources}
import graft.streaming.{Replay, StreamPipeline}

/** Sinks + Kafka wiring (O5/O6/O7/O19/O21 analogs). The Kafka connector
  * jar is absent in this zero-egress image, so Kafka coverage is the
  * config contract + wire-format round-trip; file sinks run for real. */
class SinkSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(prefix: String): String =
    Replay.workspace(prefix)

  test("parquetAppend is exactly-once across replays with the same checkpoint") {
    val out = tmp("graft_sink_out_"); val ckpt = tmp("graft_sink_ckpt_")
    val expected = Sources.table(spark, sf, "events").count()
    def runOnce(): Unit = {
      val q = Sinks.parquetAppend(
        Sources.stream(spark, sf, "events").select("event_id", "user_id", "event_type"),
        out, ckpt)
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == expected)
    runOnce() // same checkpoint: nothing new to commit
    assert(spark.read.parquet(out).count() == expected, "replay duplicated rows")
  }

  test("a partials pipeline killed mid-batch resumes from its checkpoint exactly-once") {
    // The crash shape every foreachBatch store pipeline (d12, s11–s16,
    // s20, p2/p3/p6, x8–x17) must survive: the job dies DURING a batch — possibly
    // after a torn partial write — and the restarted job must (a) not
    // reprocess committed batches, (b) redo the failed batch from the
    // checkpoint, overwriting any torn output, and (c) end with the
    // store bit-identical to an uninterrupted run.
    import org.apache.spark.sql.streaming.Trigger
    val work = tmp("graft_crash_")
    val splitDir = s"$work/in"; val store = s"$work/st"; val ckpt = s"$work/ckpt"
    val events = Sources.table(spark, sf, "events").select("event_id", "event_type")
    var seen = Set.empty[String]
    (0 until 4).foreach { b =>
      events.filter(pmod(col("event_id"), lit(4)) === b)
        .coalesce(1).write.mode("append").parquet(splitDir)
      val wave = new java.io.File(splitDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !seen(f.getName))
      wave.foreach(f => assert(f.setLastModified(1000000000000L + b * 60000L)))
      seen ++= wave.map(_.getName)
    }
    def run(crashAt: Option[Long]): Unit = {
      val session = spark.newSession()
      val q = session.readStream
        .schema(session.read.parquet(splitDir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(splitDir)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          if (crashAt.contains(batchId)) sys.error(s"injected crash in batch $batchId")
          batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").parquet(s"$store/batch_id=$batchId")
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(crashAt = Some(2L))
    }
    val committed = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(committed == Set("batch_id=0", "batch_id=1"),
      s"crash at batch 2 should leave exactly batches 0-1 committed, got $committed")
    // tag the committed dirs: a resume that reprocesses them would
    // overwrite the dir and lose the sentinel
    committed.foreach { d =>
      new java.io.File(s"$store/$d/_SENTINEL").createNewFile(): Unit
    }
    // torn write: the dying batch got PART of its output down before the
    // crash — poison rows the redo must overwrite, not merge with
    spark.range(1).select(lit("poison").as("event_type"), lit(999999L).as("cnt"))
      .write.mode("overwrite").parquet(s"$store/batch_id=2")
    run(crashAt = None)
    val dirs = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    assert(dirs == (0 to 3).map(b => s"batch_id=$b").toSet,
      s"resume did not complete the remaining batches: $dirs")
    assert(new java.io.File(s"$store/batch_id=0/_SENTINEL").exists() &&
      new java.io.File(s"$store/batch_id=1/_SENTINEL").exists(),
      "resume reprocessed an already-committed batch")
    val merged = spark.read.parquet(s"$store/batch_id=*")
      .groupBy("event_type").agg(sum("cnt").as("cnt"))
    assert(merged.filter(col("event_type") === "poison").count() == 0,
      "torn partial output survived the redo — overwrite is not redo-safe")
    val expected = events.groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = merged.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"resumed store diverged from the uninterrupted aggregate: $got vs $expected")
  }

  test("Replay.drain: a body failure fails the runner; the re-run ends with the clean run's store") {
    // the shared runner behind every foreachBatch store gate, on its own:
    // a body that throws at batch k must surface as an exception — never
    // as a silently short store a caller would count — and a re-run over
    // the same work dir + checkpoint must redo from k, ending exactly as
    // an uninterrupted run does
    import graft.streaming.Replay
    val n = Replay.Waves
    val events = Sources.table(spark, sf, "events").select("event_id", "event_type")
    def replay(work: String, crashAt: Option[Long]): Unit =
      Replay.drain(spark, s"$work/in", s"$work/ckpt", 0L) { (batch, batchId) =>
        batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$work/st/batch_id=$batchId")
        if (crashAt.contains(batchId)) sys.error(s"injected failure in batch $batchId")
      }
    def prepared(): String = {
      val work = tmp("graft_drain_")
      events.repartitionByRange(n, col("event_id")).write.parquet(s"$work/in")
      new java.io.File(s"$work/in").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) => Replay.stampArrival(f, i) }
      work
    }
    val clean = prepared()
    replay(clean, None)
    val crashed = prepared()
    val k = 2L
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      replay(crashed, Some(k))
    }
    // the failed batch's write landed before the throw: a torn batch_id=k
    assert(graft.io.Store(spark, s"$crashed/st").batches.size == k + 1)
    replay(crashed, None)
    assert(graft.io.Store(spark, s"$crashed/st").batches.size == n)
    def store(work: String) = rows(spark.read.parquet(s"$work/st")
      .select("batch_id", "event_type", "cnt").orderBy("batch_id", "event_type"))
    assert(store(crashed) == store(clean),
      "the re-run's store diverged from an uninterrupted run")
  }

  test("Replay.recorded: Spark's progress entry per batch a drain ran on this thread, nothing else") {
    // the record is the query's own per-batch progress: as many entries
    // as batches the call ran (a fresh store shows the same number of
    // partitions), in batch order, each with its addBatch time; a
    // drain on another thread or outside any scope is not recorded,
    // and a failed drain still fails the caller
    import graft.streaming.Replay
    val events = Sources.table(spark, sf, "events").select("event_id", "event_type")
    def prepared(work: String, in: String, rows: DataFrame, files: Int): Unit = {
      rows.repartitionByRange(files, col("event_id")).write.parquet(s"$work/$in")
      new java.io.File(s"$work/$in").listFiles()
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) => Replay.stampArrival(f, i) }
    }
    def drain(work: String, in: String, offset: Long, crashAt: Option[Long] = None): Unit =
      Replay.drain(spark, s"$work/$in", s"$work/ckpt_$in", offset) { (batch, batchId) =>
        batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").parquet(s"$work/st/batch_id=$batchId")
        if (crashAt.contains(batchId)) sys.error(s"injected failure in batch $batchId")
      }
    val whole = tmp("graft_rec_")
    prepared(whole, "in", events, 4)
    val ((), ran, _) = Replay.recorded(drain(whole, "in", 0L))
    assert(ran.map(_.batchId) == (0L until 4L))
    assert(ran.forall(_.durationMs.containsKey("addBatch")))
    assert(ran.map(_.numInputRows).sum == events.count())
    assert(ran.size == graft.io.Store(spark, s"$whole/st").batches.size)
    // a phased run (two queries, the second's bodies offset by 2): the
    // record appends both, the second phase under its own query's ids
    val phased = tmp("graft_rec_")
    prepared(phased, "inA", events.filter(col("event_id") % 2 === 0), 2)
    prepared(phased, "inB", events.filter(col("event_id") % 2 =!= 0), 2)
    val ((), phases, _) = Replay.recorded {
      drain(phased, "inA", 0L)
      drain(phased, "inB", 2L)
    }
    assert(phases.map(_.batchId) == Seq(0L, 1L, 0L, 1L))
    assert(phases.map(_.id).distinct.size == 2 && phases(1).id != phases(2).id)
    assert(phases.size == graft.io.Store(spark, s"$phased/st").batches.size)
    // a drain another thread runs while the scope is open is its own
    val other = tmp("graft_rec_")
    prepared(other, "in", events, 4)
    val ((), seen, _) = Replay.recorded {
      val t = new Thread(() => drain(other, "in", 0L))
      t.start(); t.join()
    }
    assert(seen.isEmpty, s"another thread's drain leaked ${seen.size} entries into the scope")
    assert(graft.io.Store(spark, s"$other/st").batches.size == 4, "the other thread's drain did not run")
    // outside any scope a drain runs and records nothing
    val bare = tmp("graft_rec_")
    prepared(bare, "in", events, 4)
    drain(bare, "in", 0L)
    assert(graft.io.Store(spark, s"$bare/st").batches.size == 4)
    assert(Replay.recorded(())._2.isEmpty)
    // a failed drain rethrows through the scope
    val failed = tmp("graft_rec_")
    prepared(failed, "in", events, 4)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Replay.recorded(drain(failed, "in", 0L, crashAt = Some(1L)))
    }
  }

  test("Replay.recorded: the stores a call made, with facts that match the disk; put is one job") {
    // a gate makes its Store on the caller's thread and only its
    // foreachBatch body (the stream thread) writes it: the store is in
    // the caller's scope, its facts read what is on disk, a compaction
    // records its partition counts, a store made on another thread or
    // outside any scope records nothing, and a put runs exactly one
    // Spark job
    import graft.io.Store
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (_, ran, stores) =
      Replay.recorded(graft.streaming.StreamSketch.x9StreamQuantile(spark, sf))
    assert(stores.map(_.name) == Seq("hist"), s"recorded stores: ${stores.map(_.path)}")
    val st = stores.head
    def onDisk(): Seq[String] = new java.io.File(st.path).list().toSeq
      .filter(_.startsWith("batch_id=")).sorted
    val facts = st.facts
    assert(ran.size == Replay.Waves)
    assert(facts.batches == (0L until ran.size))
    assert(onDisk() == facts.batches.map(b => s"batch_id=$b"))
    assert(facts.rows.keys.toSeq == facts.batches)
    facts.rows.foreach { case (b, n) =>
      assert(spark.read.parquet(s"${st.path}/batch_id=$b").count() == n, s"batch $b")
    }
    assert(facts.compactions.isEmpty)
    def total() = st.all.agg(sum("cnt")).collect()(0).getLong(0)
    val before = total()
    st.compact(_.groupBy("event_type", "b").agg(sum("cnt").as("cnt")))
    assert(st.facts.compactions == Seq((ran.size, 1)))
    assert(st.facts.batches == Seq(-1L) && onDisk() == Seq("batch_id=-1"))
    assert(total() == before, "the sum fold changed the histogram's total")
    // a gate that serves its own store records it once
    val (_, _, x18) =
      Replay.recorded(graft.streaming.StreamSketch.x18RetentionVacuum(spark, sf))
    assert(x18.nonEmpty && x18.map(_.path).distinct == x18.map(_.path),
      s"x18 recorded a store twice: ${x18.map(_.path)}")
    // outside the scope's thread: nothing recorded
    val ((), _, none) = Replay.recorded {
      val t = new Thread(() => { Store(spark, s"${tmp("graft_store_")}/t"); () })
      t.start(); t.join()
    }
    assert(none.isEmpty, s"another thread's store leaked into the scope: ${none.map(_.path)}")
    // put is one write job: no listing, count or facts per batch
    val outside = Store(spark, s"${tmp("graft_store_")}/s")
    val putJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some("graft_store_put") => putJobs.incrementAndGet(): Unit
          case Some("graft_store_marker") => marker.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup("graft_store_put", "Store.put")
      // made outside any scope: a put inside one does not record it
      val ((), _, later) = Replay.recorded(outside.put(7L, spark.range(10).toDF("x")))
      assert(later.isEmpty, s"a put recorded its store: ${later.map(_.path)}")
      // listener events arrive in order: once the marker job is seen,
      // every job the put started has been counted
      spark.sparkContext.setJobGroup("graft_store_marker", "marker")
      spark.range(1).count(): Unit
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(putJobs.get == 1, s"Store.put ran ${putJobs.get} Spark jobs")
    assert(outside.facts.batches == Seq(7L))
  }

  test("Replay.deal: one stamped file per wave, phases split at splitAt, _dealt last and trusted") {
    // the deal behind every store gate's replay, under both membership
    // rules: wave b is one file stamped as arrival b, waves < splitAt
    // are phase A, the `_dealt` marker seals the set — a torn deal is
    // cleared and dealt again, a dealt work dir is left as it is
    import graft.streaming.Replay
    val events = Sources.table(spark, sf, "events").select("event_id", "event_type")
    val waves = Replay.Waves
    def parts(dir: String): Seq[java.io.File] =
      Option(new java.io.File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
    def ids(f: java.io.File): Seq[Long] =
      spark.read.parquet(f.getPath).select("event_id").collect().map(_.getLong(0)).toSeq
    val allIds = events.select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    def stamped(work: String): Seq[(String, Long)] =
      Seq("in", "inA", "inB").flatMap(d => parts(s"$work/$d"))
        .map(f => (f.getPath, f.lastModified)).sortBy(_._2)
    for {
      rule <- Seq(Replay.ByRange(col("event_id")), Replay.ByMod("event_id"))
      splitAt <- Seq(Int.MaxValue, 2)
    } {
      val work = tmp("graft_deal_")
      Replay.deal(events, rule, work, waves, splitAt)
      val dealt = stamped(work)
      val files = dealt.map(p => new java.io.File(p._1))
      assert(files.size == waves, s"$rule split $splitAt: ${files.size} files for $waves waves")
      val mtimes = dealt.map(_._2)
      assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b },
        s"$rule: mtimes not strictly ascending: $mtimes")
      val waveIds = files.map(ids)
      assert(waveIds.flatten.sorted == allIds,
        s"$rule: the waves do not partition the table")
      rule match {
        case Replay.ByMod(_) =>
          waveIds.zipWithIndex.foreach { case (xs, b) =>
            assert(xs.forall(x => Math.floorMod(x, waves.toLong) == b), s"wave $b holds ${xs.take(5)}")
          }
        case _ =>
          waveIds.sliding(2).foreach { case Seq(a, b) =>
            assert(a.max < b.min, s"range waves overlap: ${a.max} >= ${b.min}")
          }
      }
      if (splitAt < waves) {
        assert(parts(s"$work/inA").map(_.getPath).toSet == files.take(splitAt).map(_.getPath).toSet,
          "phase A does not hold exactly the waves before splitAt")
        assert(parts(s"$work/inB").size == waves - splitAt)
      }
      assert(new java.io.File(work, "_dealt").exists())
      // dealt: a second call (even over another frame) leaves every
      // file, name and stamp as the first call wrote it
      Replay.deal(events.limit(0), rule, work, waves, splitAt)
      assert(stamped(work) == dealt, s"$rule: a dealt work dir was dealt again")
      // torn: part files but no marker — cleared and dealt again
      new java.io.File(work, "_dealt").delete()
      val stray = new java.io.File(files.head.getParentFile, "part-stray.parquet")
      java.nio.file.Files.copy(files.last.toPath, stray.toPath)
      Replay.deal(events, rule, work, waves, splitAt)
      val redealt = stamped(work)
      assert(redealt.size == waves && redealt.map(_._2) == mtimes && !stray.exists(),
        s"$rule: a torn deal was not cleared: $redealt")
      assert(redealt.map(_._1).toSet.intersect(dealt.map(_._1).toSet).isEmpty)
      assert(new java.io.File(work, "_dealt").exists())
    }
    // an empty wave still gets its file, so wave b stays batch b
    val holey = tmp("graft_deal_")
    Replay.deal(events.filter(pmod(col("event_id"), lit(waves)) =!= 2), Replay.ByMod("event_id"), holey)
    val holeyFiles = stamped(holey).map(p => new java.io.File(p._1))
    assert(holeyFiles.map(ids(_).isEmpty) == Seq(false, false, true, false))
    // the runner: phase B's ids continue phase A's, the midpoint runs
    // between them, and a dealt work dir only drains
    val run = tmp("graft_deal_")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Replay.replay(spark, events, Replay.ByMod("event_id"), run, splitAt = 2,
      midpoint = () => seen.add("mid"): Unit) { (batch, batchId) =>
      seen.add(s"$batchId:${batch.count()}"): Unit
    }
    import scala.jdk.CollectionConverters._
    val perWave = (0 until waves).map(b => events.filter(pmod(col("event_id"), lit(waves)) === b).count())
    assert(seen.asScala.toSeq == Seq(s"0:${perWave(0)}", s"1:${perWave(1)}", "mid",
      s"2:${perWave(2)}", s"3:${perWave(3)}"))
  }

  /** Every workspace of the run so far, read off their shared root. */
  private def workspaces(): Set[java.io.File] =
    new java.io.File(Replay.workspace("graft_probe_")).getParentFile.listFiles().toSet
      .filterNot(_.getName.startsWith("graft_probe_"))

  /** The workspaces `f` created. */
  private def newWorkspaces(f: => Unit): Seq[java.io.File] = {
    val before = workspaces()
    f
    (workspaces() -- before).toSeq
  }

  test("Replay.appendFlushed leaves no flush-sentinel directory behind") {
    // counted across every workspace of the run: q07's own workspace
    // must exist and hold its sink output, so a count that never sees
    // q07's sentinel dir cannot pass vacuously
    def flushDirs(): Int = workspaces().count(w => new java.io.File(w, "flush").exists())
    val before = flushDirs()
    val made = newWorkspaces(SparkEntry.queries("q07_tumbling_window")(spark, sf).collect(): Unit)
    assert(made.size == 1 && new java.io.File(made.head, "out").isDirectory,
      s"q07 should replay in one workspace holding its sink output: $made")
    assert(flushDirs() == before, "q07's replay left its flush sentinel dir in its workspace")
  }

  test("every sink replay is recorded; a failing transform rethrows and leaves no checkpoint") {
    // q07 (appendFlushed: events + the flush sentinel), q24
    // (updateMaterialized: events) and q37 (two reads of events) run
    // through the same runner as the store gates, so a recorded scope
    // sees their batches and every input row they read
    val events = Sources.table(spark, sf, "events").count()
    for ((gate, rows) <- Seq("q07_tumbling_window" -> (events + 1),
                             "q24_stream_score" -> events,
                             "q37_stream_join" -> 2 * events)) {
      val (_, batches, _) = Replay.recorded(SparkEntry.queries(gate)(spark, sf))
      assert(batches.nonEmpty, s"$gate recorded no batch")
      assert(batches.map(_.numInputRows).sum == rows,
        s"$gate read ${batches.map(_.numInputRows).sum} rows, want $rows")
    }
    val boom = udf((id: Long) => { if (id >= 0L) sys.error(s"injected failure at $id"); id })
    val failing: DataFrame => DataFrame = _.withColumn("boom", boom(col("event_id")))
    val runners: Seq[(String, () => DataFrame)] = Seq(
      "appendFlushed" -> (() => Replay.appendFlushed(spark, sf, "events")(failing)),
      "updateMaterialized" -> (() => Replay.updateMaterialized(spark, sf, "events", Seq("event_id"))(failing)),
      "append" -> (() => Replay.append(spark, sf, "events")(failing)))
    for ((name, runner) <- runners) {
      val made = newWorkspaces(intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        runner()
      }: Unit)
      assert(made.size == 1, s"$name: ${made.size} workspaces")
      val left = made.flatMap(w => Seq("ckpt", "flush").map(new java.io.File(w, _))).filter(_.exists)
      assert(left.isEmpty, s"$name left $left behind")
    }
  }

  test("a workspace and its per-JVM root are deleted when the JVM exits") {
    val javaBin = ProcessHandle.current().info().command().get()
    val child = new ProcessBuilder(javaBin, "-Xmx64m",
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"), "graft.WorkspaceChild")
      .redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor() == 0, out)
    val ws = new java.io.File(out.linesIterator.toSeq.last.trim)
    assert(ws.getParentFile.getName.startsWith("graft_run_"), out)
    assert(!ws.exists(), s"$ws outlived its JVM")
    assert(!ws.getParentFile.exists(), s"${ws.getParentFile} outlived its JVM")
  }

  test("partitionedAppend writes the ES-analog partitioned layout, replay-safe") {
    val out = tmp("graft_part_out_"); val ckpt = tmp("graft_part_ckpt_")
    val expected = Sources.table(spark, sf, "events").count()
    def runOnce(): Unit = {
      val q = Sinks.partitionedAppend(
        Sources.stream(spark, sf, "events").select("event_id", "user_id", "event_type"),
        out, ckpt, Seq("event_type"))
      q.awaitTermination()
    }
    runOnce()
    val batchDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("batch_id="))
    assert(batchDirs.nonEmpty, "no batch directories written")
    val dirs = batchDirs.head.listFiles().map(_.getName).filter(_.startsWith("event_type="))
    assert(dirs.nonEmpty, "no partition directories written")
    assert(spark.read.parquet(out).count() == expected)
    runOnce()
    assert(spark.read.parquet(out).count() == expected, "replay duplicated rows")
  }

  test("partitionedBatchWrite re-run with the same batchId is idempotent (failure replay)") {
    val out = tmp("graft_part_idem_")
    val batch = Sources.table(spark, sf, "events")
      .select("event_id", "user_id", "event_type").limit(100)
    val write = Sinks.partitionedBatchWrite(out, Seq("event_type")) _
    write(batch, 7L)
    val once = spark.read.parquet(out).count()
    // a foreachBatch retry after partial failure re-runs the SAME batchId:
    // the overwrite must replace, not double, the batch's rows
    write(batch, 7L)
    assert(spark.read.parquet(out).count() == once, "same-batch replay duplicated rows")
    // a different batchId is a different batch and must append
    write(batch, 8L)
    assert(spark.read.parquet(out).count() == 2 * once)
  }

  test("indexSink seam drives two different store impls through one pipeline") {
    val src = Sources.stream(spark, sf, "events")
      .select("event_id", "user_id", "event_type")
    val expected = Sources.table(spark, sf, "events").count()

    // impl 1: the built-in parquet index, resolved config-style
    val out = tmp("graft_idx_parquet_")
    Sinks.indexSink(src,
      format = "parquet-index",
      options = Map("path" -> out, "partitionCols" -> "event_type"),
      checkpoint = tmp("graft_idx_ck1_")).awaitTermination()
    assert(spark.read.parquet(out).count() == expected)

    // impl 2: a custom store behind the same seam — what an ES/JDBC
    // writer would be; counts rows per batch into a shared sink
    Sinks.indexSink(src, SinkSpec.recordingWriter, tmp("graft_idx_ck2_"))
      .awaitTermination()
    assert(SinkSpec.recorded.values.sum == expected,
      s"custom writer saw ${SinkSpec.recorded} (want total $expected)")
    assert(SinkSpec.recorded.keySet.forall(_ >= 0L), "batch ids not delivered")
  }

  test("unknown index format fails loudly at the seam, not mid-stream") {
    val e = intercept[IllegalArgumentException] {
      Sinks.indexWriterFor("elasticsearch", Map.empty)
    }
    assert(e.getMessage.contains("unknown index format"))
  }

  test("media table matches the declared multimodal schema") {
    import graft.ops.MultimodalOps
    val media = MultimodalOps.asMedia(Sources.table(spark, sf, "documents"))
    // literal-derived columns are non-nullable; compare structure, not nullability
    assert(media.schema.catalogString == MultimodalOps.mediaSchema.catalogString)
  }

  test("console and kafka writers configure without starting") {
    val wire = StreamPipeline.toWire(Sources.stream(spark, sf, "events"))
      .withColumnRenamed("line", "value")
    Sinks.console(wire) // configuration only; no broker/terminal needed
    Sinks.kafka(wire, "broker:9092", "t", "/tmp/ck")
    succeed
  }

  test("kafka source wiring reaches provider lookup (jar absent in this image)") {
    val e = intercept[Exception] {
      Sources.kafkaStream(spark, "broker:9092", "events_in")
    }
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected missing-provider error naming kafka, got: ${e.getMessage.take(120)}")
  }

  test("kafka sink/source option contracts carry the reference's semantics") {
    val sink = Sinks.kafkaSinkOptions("broker:9092", "events_out")
    assert(sink("kafka.bootstrap.servers") == "broker:9092")
    assert(sink("topic") == "events_out")
    assert(sink("kafka.acks") == "all") // reference ProducerFinal.scala:55
    val src = Sources.kafkaSourceOptions("broker:9092", "events_in")
    assert(src("subscribe") == "events_in")
    assert(src("startingOffsets") == "earliest")
  }

  test("CSV wire format round-trips through parse (no malformed drops on clean data)") {
    val events = Sources.table(spark, sf, "events")
    val parsed = StreamPipeline.scoreTransform(StreamPipeline.toWire(events))
    assert(parsed.count() == events.count())
    val back = parsed.select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
    val orig = events.select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
    assert(rows(back) == rows(orig))
  }

  test("malformed wire records are guarded out, not corrupted (unlike the reference)") {
    import spark.implicits._
    val wire = Seq("1,7,click,12.5", "garbage-line", "2,9,view,NaNope").toDF("line")
    val parsed = StreamPipeline.scoreTransform(wire)
    assert(parsed.count() == 1)
    assert(rows(parsed.select("event_id")).head.head == 1L)

    // the single-parse transform against the three-parse formulation it
    // replaced (parsed struct aliased, then guarded and labelled), over
    // quoting, whitespace, empty, special-double and arity edge cases
    def reference(w: DataFrame): DataFrame =
      w.select(from_csv(col("line"), StreamPipeline.wireSchema,
          Map("mode" -> "PERMISSIVE")).as("r"))
        .select("r.*")
        .filter(col("event_id").isNotNull && col("value").isNotNull)
        .withColumn("label", when(col("value") > 100, "flagged").otherwise("normal"))
    val edges = Seq(
      "3,4,\"a,b\",150", "4,5,\"say \"\"hi\"\"\",7.5",
      " 5,6,view,9.0", "6,6,view,9.0 ", " 7 , 6 , view , 9.0 ", "", ",,,",
      "8,1,view,NaN", "9,1,view,Inf", "10,1,view,-Inf", "11,1,view,3e2",
      "12,1,view,5.0,extra", "13,1,view")
    val lines = Seq("1,7,click,12.5", "garbage-line", "2,9,view,NaNope") ++ edges
    def sameRows(a: DataFrame, b: DataFrame): Unit = {
      // Row strings, sorted: a multiset compare that also equates NaN with NaN
      def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(sorted(a) == sorted(b))
    }
    val batchWire = (lines.map(Option(_)) :+ None).toDF("line")
    val got = StreamPipeline.scoreTransform(batchWire)
    val want = reference(batchWire)
    assert(got.schema == want.schema, s"${got.schema.treeString} vs ${want.schema.treeString}")
    sameRows(got, want)
    assert(got.count() > 3, "the edge cases should keep some well-formed rows")

    // the same lines through an AvailableNow file stream (a text file
    // holds no null line)
    val work = tmp("graft_wire_edges_")
    lines.toDF("line").coalesce(1).write.text(s"$work/in")
    val streamed = StreamPipeline.scoreTransform(
      spark.readStream.text(s"$work/in").toDF("line"))
    assert(streamed.schema == want.schema)
    streamed.writeStream.format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(s"$work/out").awaitTermination()
    sameRows(spark.read.parquet(s"$work/out"), reference(spark.read.text(s"$work/in").toDF("line")))
  }

  test("scoreTransform parses each wire line once: one CsvToStructs in the optimized plan") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.CsvToStructs
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val dir = tmp("graft_wire_plan_") + "/in"
    Seq("1,7,click,12.5").toDF("line").write.text(dir)
    def parses(plan: LogicalPlan): Int =
      plan.flatMap(_.expressions.flatMap(_.collect { case p: CsvToStructs => p })).size
    val batch = StreamPipeline.scoreTransform(spark.read.text(dir).toDF("line"))
    assert(parses(batch.queryExecution.optimizedPlan) == 1, "batch input")
    // a streaming frame is optimized only once a micro-batch runs: read
    // the plan of the batch that processed the file
    val q = StreamPipeline.scoreTransform(spark.readStream.text(dir).toDF("line"))
      .writeStream.format("noop")
      .option("checkpointLocation", tmp("graft_wire_plan_ckpt_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val micro = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(parses(micro.optimizedPlan) == 1, "streaming input")
  }
}

/** Companion state for the custom-writer seam test: foreachBatch closures
  * serialize, so the recording sink lives in a static (per-JVM) field the
  * local-mode executors and the assertion both see. */
object SinkSpec {
  import java.util.concurrent.ConcurrentHashMap
  import scala.jdk.CollectionConverters._

  private val batchRows = new ConcurrentHashMap[Long, Long]()

  def recorded: Map[Long, Long] = batchRows.asScala.toMap

  val recordingWriter: Sinks.IndexBatchWriter = new Sinks.IndexBatchWriter {
    def write(batch: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      // idempotent on batchId by construction: a retry overwrites its slot
      batchRows.put(batchId, batch.count()): Unit
  }
}

/** Makes a workspace with a file in it, prints its path and exits: the
  * child JVM of SinkSpec's workspace-cleanup case. */
object WorkspaceChild {
  def main(args: Array[String]): Unit = {
    val ws = Replay.workspace("graft_child_")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(ws, "f"), "x")
    println(ws)
  }
}

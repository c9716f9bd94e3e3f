package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.annotation.nowarn
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{NioLocalFileSystem, NioLocalFs, Sinks, Sources}
import graft.streaming.{Replay, StreamPipeline}

/** The fork-free `file:` file system (Engine.tuned): it is what graft
  * sessions actually resolve, and a checkpointed stateful stream — the
  * flagship q24 shape — runs without starting a single process. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  test("file: resolves to the fork-free classes in parent and child sessions, both APIs") {
    val dir = new Path(new java.io.File(Replay.workspace("graft_localfs_")).toURI)
    for (s <- Seq(spark, spark.newSession())) {
      val conf = s.sessionState.newHadoopConf()
      // through Hadoop's FileSystem cache: an earlier stock `file:`
      // instance would be handed back here regardless of conf
      assert(dir.getFileSystem(conf).getClass == classOf[NioLocalFileSystem])
      assert(FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem.getClass
        == classOf[NioLocalFs])
    }
  }

  test("a checkpointed stateful foreachBatch stream starts no chmod/readlink/ls/stat process") {
    val work = Replay.workspace("graft_localfs_")
    val (in, store, ckpt) = (s"$work/in", s"$work/store", s"$work/ckpt")
    StreamPipeline.toWire(Sources.table(spark, sf, "events")).repartition(3).write.text(in)
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "8")
    val execs = LocalFsSpec.countingExecs {
      StreamPipeline.scoreTransform(
        session.readStream.option("maxFilesPerTrigger", 1).text(in).withColumnRenamed("value", "line"))
        .groupBy("label", "event_type").agg(count(lit(1)).as("cnt"))
        .writeStream
        .foreachBatch(Sinks.partitionedBatchWrite(store, Seq.empty) _)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination()
    }
    val forked = execs.map(c => new java.io.File(c).getName)
      .filter(Set("chmod", "readlink", "ls", "stat"))
    assert(forked.size == 0,
      s"${forked.size} file-system processes: ${forked.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(Replay.countBatchDirs(store) == 3)
    // update mode re-emits a key's running count, so its max is the total
    val latest = spark.read.parquet(store).groupBy("label", "event_type")
      .agg(max("cnt").as("cnt")).orderBy("label", "event_type")
    assert(rows(latest) == rows(StreamPipeline.q24Batch(spark, sf)))
  }
}

object LocalFsSpec {
  /** A security manager that allows everything and records each command
    * the JVM is asked to exec. */
  @nowarn("cat=deprecation")
  private final class ExecCounter extends SecurityManager {
    val commands = new ConcurrentLinkedQueue[String]
    override def checkExec(cmd: String): Unit = commands.add(cmd): Unit
    override def checkPermission(perm: java.security.Permission): Unit = ()
    override def checkPermission(perm: java.security.Permission, context: AnyRef): Unit = ()
  }

  /** Runs `body` with an [[ExecCounter]] installed (JDK 17 still allows
    * installing one at run time) and returns the commands it saw; the
    * previous manager is restored afterwards. */
  @nowarn("cat=deprecation")
  def countingExecs(body: => Unit): Seq[String] = {
    val previous = System.getSecurityManager
    val counter = new ExecCounter
    System.setSecurityManager(counter)
    try body finally System.setSecurityManager(previous)
    counter.commands.asScala.toSeq
  }
}

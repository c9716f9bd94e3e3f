package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Continuous, Replay, StatefulOps}

/** The long-running shapes: a continuously-triggered pipeline (the
  * reference's 5-second-interval receiver loop, O1/O23) and TTL-evicted
  * keyed state — the two behaviors a finite AvailableNow replay cannot
  * exercise. */
class ContinuousSpec extends AnyFunSuite {
  import TestSpark._

  test("score pipeline runs continuously: multiple ProcessingTime micro-batches commit") {
    val q = Continuous.scorePipeline(spark, "rate_demo",
      rowsPerSecond = 200, interval = "1 second")
    try {
      val deadline = System.currentTimeMillis + 90000
      def committed = q.recentProgress.count(_.numInputRows > 0)
      while (committed < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(250)
      assert(committed >= 2,
        s"expected >=2 non-empty micro-batches, got $committed " +
          s"(batches seen: ${q.recentProgress.length})")
    } finally q.stop()
    assert(spark.table("rate_demo").count() > 0, "no rows flowed to the sink")
    // the production transform ran, not a toy: scored labels are present
    val labels = spark.table("rate_demo").select("label").distinct()
      .collect().map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("flagged", "normal")) && labels.nonEmpty)
  }

  test("TTL state: an idle key is evicted and re-counts from zero on return") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Long]
    val events = input.toDF.withColumnRenamed("value", "user_id")
    // NOTE: no processAllAvailable() anywhere in this test — with
    // ProcessingTimeTimeout the engine must keep scheduling batches to
    // fire timers even with no new data, so the query NEVER reports
    // "caught up" and processAllAvailable blocks forever. Pace batches
    // with a short ProcessingTime trigger and poll the sink instead.
    val q = StatefulOps.userCountsTtl(events, ttlMs = 1000L)
      .toDF()
      .writeStream.format("memory").queryName("ttl_counts").outputMode("update")
      .option("checkpointLocation",
        Replay.workspace("graft_ttl_ckpt_"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
      .start()
    def sevens: Seq[Long] = spark.table("ttl_counts").filter("user_id = 7")
      .collect().map(_.getLong(1)).toSeq
    def awaitRow(cnt: Long, what: String): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!sevens.contains(cnt) && System.currentTimeMillis < deadline)
        Thread.sleep(200)
      assert(sevens.contains(cnt), s"$what: never saw cnt=$cnt for key 7 (got $sevens)")
    }
    try {
      input.addData(7L, 7L)
      awaitRow(2L, "initial count")   // key 7 counted to 2, 1s TTL armed
      // idle past the TTL: the timer fires on a subsequent (empty) batch,
      // the key is evicted and its zero tombstone emitted
      awaitRow(0L, "eviction tombstone")
      input.addData(7L)
      awaitRow(1L, "re-count from zero") // fresh state: 1, not 3
    } finally q.stop()
    val seen = sevens.toSet
    assert(seen == Set(2L, 0L, 1L),
      s"expected eviction + recount {2,0,1}, got $seen")
  }

  test("transformWithState TTL: eviction is SILENT — an idle key re-counts from one, no tombstone") {
    // the documented behavioral delta of the TTLConfig port vs the
    // legacy timeout counter above: past the TTL the value simply reads
    // as absent (the store evicts, no callback), so the key's next
    // arrival counts 1 — and a 0-count tombstone must NEVER appear.
    // The two halves run on SEPARATE queries with TTLs matched to what
    // each asserts (the r17 ADVICE de-flake): the carry half under a
    // 60 s TTL, so a loaded host pausing between micro-batches cannot
    // silently evict the carry key and fail an assertion unrelated to
    // the behavior under test; the eviction half under a 10 s TTL with
    // an explicit 12 s idle — stalling LONGER only makes eviction more
    // certain, so neither half races wall-clock pacing.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def runQuery(name: String, ttlMs: Long)(drive: (MemoryStream[Long],
        (Long, Long, String) => Unit) => Unit): Unit = {
      val input = MemoryStream[Long]
      val events = input.toDF.withColumnRenamed("value", "user_id")
      val q = StatefulOps.twsUserCountsTtl(events, ttlMs = ttlMs)
        .toDF()
        .writeStream.format("memory").queryName(name).outputMode("update")
        .option("checkpointLocation",
          Replay.workspace(s"graft_${name}_ckpt_"))
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("500 milliseconds"))
        .start()
      def countsOf(key: Long): Seq[Long] =
        spark.table(name).filter(s"user_id = $key")
          .collect().map(_.getLong(1)).toSeq
      def awaitRow(key: Long, cnt: Long, what: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!countsOf(key).contains(cnt) && System.currentTimeMillis < deadline)
          Thread.sleep(200)
        assert(countsOf(key).contains(cnt),
          s"$what: never saw cnt=$cnt for key $key (got ${countsOf(key)})")
      }
      try drive(input, awaitRow) finally q.stop()
    }
    // carry half: state COUNTS ACROSS micro-batches (the port doesn't
    // restart per batch) — TTL far above any plausible batch gap
    runQuery("tws_ttl_carry", ttlMs = 60000L) { (input, awaitRow) =>
      input.addData(8L)
      awaitRow(8L, 1L, "initial count")
      input.addData(8L)
      awaitRow(8L, 2L, "cross-batch carry")
    }
    assert(spark.table("tws_ttl_carry").filter("user_id = 8")
      .collect().map(_.getLong(1)).toSet == Set(1L, 2L),
      "expected cross-batch carry {1,2} for key 8")
    // eviction half: both arrivals of the initial count share ONE
    // micro-batch (a single addData call), so the only cross-batch gap
    // is the deliberate idle past the TTL
    runQuery("tws_ttl_evict", ttlMs = 10000L) { (input, awaitRow) =>
      input.addData(7L, 7L)
      awaitRow(7L, 2L, "initial count") // 10s TTL armed
      Thread.sleep(12000) // idle past the TTL: the value expires IN PLACE
      input.addData(7L)
      awaitRow(7L, 1L, "re-count from one") // fresh state: 1, not 3
    }
    assert(spark.table("tws_ttl_evict").filter("user_id = 7")
      .collect().map(_.getLong(1)).toSet == Set(2L, 1L),
      "expected silent eviction {2,1} for key 7 — no 0 tombstone")
  }

  test("TTL variant still matches groupBy counts in batch mode (timeouts never fire)") {
    import org.apache.spark.sql.functions._
    val events = graft.io.Sources.table(spark, sf, "events")
    val batch = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaState = StatefulOps.userCountsTtl(events, ttlMs = 60000L)
      .collect().map(a => a.user_id -> a.cnt).toMap
    assert(viaState == batch)
  }
}

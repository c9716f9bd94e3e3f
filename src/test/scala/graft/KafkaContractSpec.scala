package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Replay, StreamPipeline}

/** Kafka-seam contract test (O5/O7 parity): the spark-sql-kafka connector
  * jar cannot run in this zero-egress image, so the seam is pinned from
  * both sides instead of left untested — [[graft.io.Sources.kafkaStream]]
  * documents its output contract as `(key STRING, value STRING)`, and here
  * a MemoryStream shaped exactly like that contract drives the full score
  * pipeline (parse → malformed guard → score → aggregate) end to end
  * through Structured Streaming. Whatever bytes a real broker hands the
  * connector, the downstream transform is proven against the shape it
  * will receive; swapping `MemoryStream` for `Sources.kafkaStream` is a
  * one-line change with no schema drift possible.
  */
class KafkaContractSpec extends AnyFunSuite {
  import TestSpark._

  /** The wire contract Sources.kafkaStream promises downstream. */
  private val kafkaShape: StructType = new StructType()
    .add("key", StringType).add("value", StringType)

  test("score pipeline over a Kafka-shaped stream: parse, guard, score, aggregate") {
    import spark.implicits._
    val mem = MemoryStream[(String, String)](spark)
    val wire = mem.toDF().toDF("key", "value")
    assert(wire.schema == kafkaShape,
      "MemoryStream fixture no longer matches the kafkaStream output contract")

    // CSV wire records keyed by event id (reference ProducerFinal.scala:79
    // publishes the CSV line as the message value): two clean rows, one
    // with an unparseable value, one wholly corrupt line — the guard must
    // drop exactly the last two.
    mem.addData(
      ("1", "1,10,click,50.0"),
      ("2", "2,11,purchase,150.0"),
      ("3", "3,12,click,not_a_number"),
      ("4", "garbage"))

    val counts = StreamPipeline.scoreTransform(wire.select(col("value").as("line")))
      .groupBy("label", "event_type")
      .agg(count(lit(1)).as("cnt"))

    val ckpt = Replay.workspace("graft_kafka_ckpt_")
    val q = counts.writeStream
      .format("memory").queryName("kafka_contract")
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.table("kafka_contract").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("normal", "click") -> 1L,
      ("flagged", "purchase") -> 1L),
      s"unexpected counts: $out")
  }

  test("producer wire format round-trips through the consumer transform") {
    // O5's serialization (toWire) feeds O7's parse: every event survives
    // the CSV hop byte-exactly, including embedded-comma-free fields.
    val events = graft.io.Sources.table(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    val roundTrip = StreamPipeline.scoreTransform(StreamPipeline.toWire(events))
      .select("event_id", "user_id", "event_type", "value")
    val dropped = events.count() - roundTrip.count()
    assert(dropped == events.filter(col("event_id").isNull || col("value").isNull).count())
    assert(rows(roundTrip.orderBy("event_id")) ==
      rows(events.filter(col("event_id").isNotNull && col("value").isNotNull)
        .orderBy("event_id")))
  }
}

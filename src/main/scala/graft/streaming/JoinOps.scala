package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources

/** Stream-stream joins (SURVEY.md §2.2 joins: "stream-stream with
  * watermarks"; gate entry q37).
  *
  * The reference never joins streams (its consumer is a single scored
  * stream, ConsumerESFinal.scala:36-97); this is the engine-native
  * capability that replaces bolting a second pipeline onto an external
  * store: correlate two live streams inside the engine, with state
  * bounded by watermark + time-range condition.
  */
object JoinOps {

  private def clicks(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))

  private def purchases(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))

  /** Attribution join: each purchase matched to the same user's clicks in
    * the preceding 10 minutes. The time-range condition is what bounds
    * state at scale: with both sides watermarked, rows older than
    * (watermark − range) are evicted, so state holds ~10 minutes of each
    * stream regardless of total volume — an unbounded-state stream join
    * is the one you cannot run at 100 TB/day. */
  def attribution(c: DataFrame, p: DataFrame): DataFrame =
    c.join(p,
        c("c_user") === p("p_user") &&
          c("click_ts") >= p("purchase_ts") - expr("INTERVAL 10 MINUTES") &&
          c("click_ts") <= p("purchase_ts"))
      .select(col("purchase_id"), col("click_id"),
        col("p_user").as("user_id"))

  /** Batch twin over one table read — feeds the oracle and the
    * batch≡stream equivalence test. */
  def q37Batch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Sources.table(spark, dir, "events")
    attribution(clicks(ev), purchases(ev))
      .orderBy("purchase_id", "click_id")
  }

  /** Gate entry: the join executed as a genuine two-stream Structured
    * Streaming query (two file sources, watermarks on both sides,
    * append mode) into a distributed parquet sink. Inner-join matches
    * emit in the micro-batch where both sides are present — no flush
    * sentinel needed (unlike windowed aggregation, append-mode inner
    * joins don't withhold output behind the watermark; the watermark's
    * job here is state eviction). State partitions sized to key
    * cardinality, not core count, as in the windowed gates. */
  def q37StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val session = Replay.isolated(spark, Some(8))
    val c = clicks(Sources.stream(session, dir, "events"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases(Sources.stream(session, dir, "events"))
      .withWatermark("purchase_ts", "10 minutes")
    Replay.appendParquet(spark, Replay.workspace("graft_ssj_"), attribution(c, p))
      .orderBy("purchase_id", "click_id")
  }

  /** Q38 stream-static enrichment (the reference's core consumer shape,
    * ConsumerESFinal.scala:36-97, minus the external store): a live event
    * stream joined to a static dimension, aggregated, and upserted per
    * micro-batch through the idempotent materialized sink — last write
    * per key wins, so the read-back equals the batch aggregate however
    * the stream was sliced into batches. The static side is broadcast:
    * on a cluster the dimension rides to every executor once per batch
    * and the stream side never shuffles for the join. */
  def q38StaticEnrich(spark: SparkSession, dir: String): DataFrame = {
    val customer = Sources.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    Replay.updateMaterialized(spark, dir, "events",
        keyCols = Seq("c_mktsegment", "event_type"), statePartitions = Some(8)) { ev =>
        ev.join(broadcast(customer), ev("user_id") === customer("c_custkey"))
          .groupBy("c_mktsegment", "event_type")
          .agg(count(lit(1)).as("cnt"))
      }
      .orderBy("c_mktsegment", "event_type")
  }

  /** Batch twin of q38 for the equivalence test. */
  def q38Batch(spark: SparkSession, dir: String): DataFrame = {
    val customer = Sources.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val ev = Sources.table(spark, dir, "events")
    ev.join(broadcast(customer), ev("user_id") === customer("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("c_mktsegment", "event_type")
  }
}

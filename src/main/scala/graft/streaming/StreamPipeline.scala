package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.io.Sources

/** The reference's flagship pipeline (ConsumerESFinal.scala:36-97)
  * re-expressed Spark-first: wire-format parse → malformed guard →
  * score → label decode → aggregate. Q24 in SURVEY.md §2.4.
  *
  * Differences from the reference, by design (SURVEY.md §7.4):
  *  - schema'd `from_csv` with PERMISSIVE corrupt-record handling instead
  *    of naive `split(",")` (reference corrupts on embedded commas);
  *  - dropped records are explicit and countable, not `Unit`-typed holes
  *    (reference DecisionTreeTest.scala:48-53);
  *  - the same transform runs batch or streaming (replayed with
  *    Trigger.AvailableNow via Replay) — results are a pure function of
  *    input files.
  */
object StreamPipeline {

  val wireSchema: StructType =
    StructType.fromDDL("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")

  /** Encode rows to the CSV wire format (reference ProducerFinal.scala:79). */
  def toWire(events: DataFrame): DataFrame =
    events.select(to_csv(struct(
      col("event_id"), col("user_id"), col("event_type"), col("value"))).as("line"))

  /** Parse + guard + score + decode. Pure transform: batch and streaming.
    * Each wire line is parsed exactly once. */
  def scoreTransform(wire: DataFrame): DataFrame =
    wire
      // `inline(array(..))` puts the parse behind a Generate: predicate
      // pushdown would otherwise substitute the parsed struct into the
      // guard and run from_csv three times per line (twice in the Filter,
      // once in the Project); Catalyst does not inline through a Generate.
      .select(inline(array(from_csv(col("line"), wireSchema, Map("mode" -> "PERMISSIVE")))))
      .filter(col("event_id").isNotNull && col("value").isNotNull) // malformed guard
      .withColumn("label", when(col("value") > 100, "flagged").otherwise("normal"))

  /** Count per (label, event_type) — streamable aggregate. */
  def scoreCounts(events: DataFrame): DataFrame =
    scoreTransform(toWire(events))
      .groupBy("label", "event_type")
      .agg(count(lit(1)).as("cnt"))

  /** Q24 gate entry — runs through Structured Streaming for real: the
    * events fixture is replayed as a file stream, the score transform and
    * aggregation execute incrementally in update mode, and each batch's
    * changed counts are upserted into a partitioned parquet store
    * (latest write per key wins on read-back) — the index-upsert shape
    * of the reference's ES sink, with no driver-side memory table and no
    * complete-mode re-emission. Batch≡stream equality is separately
    * asserted in StreamEquivSpec. */
  def q24StreamScore(spark: SparkSession, dir: String): DataFrame =
    Replay.updateMaterialized(spark, dir, "events",
      keyCols = Seq("label", "event_type"), statePartitions = Some(8))(scoreCounts)
      .orderBy("label", "event_type")

  /** Batch-mode twin of the gate entry (used by the equivalence test). */
  def q24Batch(spark: SparkSession, dir: String): DataFrame =
    scoreCounts(Sources.table(spark, dir, "events"))
      .orderBy("label", "event_type")
}

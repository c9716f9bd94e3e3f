package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Streaming sinks — the engine-side analogs of the reference's three
  * output paths (console print, text-file dump, Elasticsearch index;
  * ConsumerESFinal.scala:84-93), rebuilt append-correct:
  *
  *  - `console` — debug sink (reference's DStream.print()).
  *  - `kafka` — producer parity (reference ProducerFinal.scala:50-83).
  *    Connection pooling / batching / per-partition producers are built
  *    into Spark's Kafka sink; we only carry the reference's producer
  *    semantics (acks=all) in the option map. Requires the
  *    spark-sql-kafka connector jar at runtime (absent in this
  *    zero-egress image — the wiring is config + wire-format code,
  *    unit-tested without a broker).
  *  - `parquetAppend` — the file sink (O19) done right: checkpointed
  *    streaming append. The reference overwrote one fixed path per
  *    micro-batch, keeping only the last batch (ConsumerESFinal.scala:87).
  *  - `partitionedAppend` — the index-sink analog (O21): per-micro-batch
  *    append into a partitioned parquet layout via foreachBatch, the
  *    shape the Q3–Q6 "dashboard" aggregation views query over.
  */
object Sinks {

  /** Kafka producer options (reference ProducerFinal.scala:54-58: acks=all;
    * batching/buffering are handled by the connector's producer pool). */
  def kafkaSinkOptions(bootstrapServers: String, topic: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic,
      "kafka.acks" -> "all")

  /** Configure a Kafka writer for a wire-format frame (a `value` string
    * column, optionally `key`). Caller picks trigger and starts. */
  def kafka(wire: DataFrame, bootstrapServers: String, topic: String,
            checkpoint: String): DataStreamWriter[Row] =
    wire.writeStream
      .format("kafka")
      .options(kafkaSinkOptions(bootstrapServers, topic))
      .option("checkpointLocation", checkpoint)

  /** Console debug sink. */
  def console(df: DataFrame): DataStreamWriter[Row] =
    df.writeStream.format("console").option("truncate", "false")

  /** Checkpointed streaming parquet append; AvailableNow drains whatever
    * is currently in the source and terminates. Re-running with the same
    * checkpoint is exactly-once: already-committed files are not
    * re-appended. */
  def parquetAppend(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Idempotent per-batch writer backing [[partitionedAppend]]: each
    * micro-batch is one batch of the [[Store]] at `path`
    * ([[Store.put]]), so a batch re-run after a partial write replaces
    * it — effectively-once end to end with the checkpoint. Readers still
    * prune on the user partition columns one level down. */
  def partitionedBatchWrite(path: String, partitionCols: Seq[String])
                           (batch: DataFrame, batchId: Long): Unit =
    new Store(batch.sparkSession, path).put(batchId, batch, partitionCols)

  /** Partitioned per-micro-batch materialization (foreachBatch), the
    * ES-index analog: downstream "dashboard" queries prune on the
    * partition columns. Replay-safe: see [[partitionedBatchWrite]]. */
  def partitionedAppend(df: DataFrame, path: String, checkpoint: String,
                        partitionCols: Seq[String]): StreamingQuery =
    df.writeStream
      .foreachBatch(partitionedBatchWrite(path, partitionCols) _)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  // ---- pluggable external-index seam --------------------------------

  /** The seam an external store (Elasticsearch, JDBC, a key-value index)
    * plugs into: one callback per micro-batch, handed the batch frame and
    * its replay-stable `batchId`. Implementations MUST be idempotent on
    * batchId — foreachBatch is at-least-once, and a batch that fails
    * mid-write is re-run on recovery with the same id (the `_version`
    * upsert / overwrite-own-directory move). The reference hardwired ES
    * (ConsumerESFinal.scala:93); here the store is a constructor choice. */
  trait IndexBatchWriter extends Serializable {
    def write(batch: DataFrame, batchId: Long): Unit
  }

  /** Default index impl: a [[Store]], idempotent per batch (the
    * zero-egress stand-in for a real index; same layout as
    * [[partitionedAppend]]). */
  final class ParquetIndexWriter(path: String, partitionCols: Seq[String])
      extends IndexBatchWriter {
    def write(batch: DataFrame, batchId: Long): Unit =
      partitionedBatchWrite(path, partitionCols)(batch, batchId)
  }

  /** Resolve a writer from (format, options) — the shape a config-driven
    * deployment uses. `parquet-index` is the built-in; an ES/JDBC jar on
    * the classpath would register here without touching pipeline code. */
  def indexWriterFor(format: String, options: Map[String, String]): IndexBatchWriter =
    format match {
      case "parquet-index" =>
        new ParquetIndexWriter(
          options("path"),
          options.get("partitionCols").map(_.split(",").toSeq.filter(_.nonEmpty))
            .getOrElse(Seq.empty))
      case other =>
        throw new IllegalArgumentException(
          s"unknown index format '$other' (built-in: parquet-index; " +
            "external stores plug in via Sinks.indexSink(df, writer, checkpoint))")
    }

  /** Start a streaming upsert into an external index through the seam.
    * Everything upstream (trigger, watermark, aggregation mode) is
    * pipeline code; everything downstream of the seam is store code. */
  def indexSink(df: DataFrame, writer: IndexBatchWriter,
                checkpoint: String): StreamingQuery =
    df.writeStream
      .foreachBatch((b: DataFrame, id: Long) => writer.write(b, id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Config-driven overload: resolve the writer from (format, options). */
  def indexSink(df: DataFrame, format: String, options: Map[String, String],
                checkpoint: String): StreamingQuery =
    indexSink(df, indexWriterFor(format, options), checkpoint)
}

package graft.io

import scala.collection.immutable.SortedMap
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A stream gate's batch-partitioned state: the one module that knows the
  * `batch_id=N` layout and its crash contract (reference lineage: the
  * consumer's per-batch upsert into an index, ConsumerESFinal.scala:86-94).
  *
  * Layout. Each micro-batch's rows live in their own `path/batch_id=N`
  * directory; a compaction folds every shipped partition into one
  * `batch_id=-1` directory. Readers discover `batch_id` as a partition
  * column (the LAST column of the schema).
  *
  * Exactly-once. foreachBatch is at-least-once: a batch that fails after
  * a partial write is re-run with the same id. [[put]] overwrites the
  * batch's own directory, so the re-run replaces a torn write instead of
  * merging with it — the idempotent sink keyed by batch id that
  * *Structured Streaming* §6 requires. Per-batch reads prune to
  * `batch_id < b` ([[before]]) or `<= b` ([[upTo]]), so a re-run never
  * sees its own partial write, and -1 sorts below every real batch id, so
  * consolidated rows stay inside every later prune.
  *
  * Compaction runs only while the stream is quiesced (between a phased
  * replay's drains, when a production table service would take the store
  * lock): the fold is written to `path_compacting`, the live store is
  * retired to `path_retired`, the fold is promoted, and the retired copy
  * is dropped. A crash between the two renames leaves the only copy at
  * `_retired`; every open of the store — each read, [[put]] and
  * [[compact]] — first renames it back ([[heal]]), so a crash state never
  * reads as an empty store and a fresh partial never masks it.
  *
  * A gate makes each Store once, on the caller's thread ([[Store.apply]]),
  * which registers it in the caller's open `Replay.recorded` scope; the
  * foreachBatch bodies, which run on the stream thread, only use that
  * instance. [[facts]] is what a test reads back from the scope.
  *
  * Not covered: s17/s26's index generations (`gen=N` directories,
  * immutable once written and committed by a marker file) follow a
  * different rule — a generation is never overwritten or folded — and
  * keep their own commit in `SimilarityOps`. */
final class Store private[io] (spark: SparkSession, val path: String) {

  private val compactions = ArrayBuffer.empty[(Int, Int)]

  private def fs: FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dir(b: Long): String = s"$path/batch_id=$b"

  /** The store's directory name, how a test finds it in the record. */
  def name: String = new Path(path).getName

  /** Write `df` as batch `batchId`, replacing whatever a failed earlier
    * attempt left there. One write job: no listing or count. */
  def put(batchId: Long, df: DataFrame, partitionCols: Seq[String] = Nil): Unit = {
    heal(): Unit
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(dir(batchId))
  }

  /** Rows of the batches before `b`, without `batch_id`; an empty frame
    * of `schema` while the store does not exist. */
  def before(b: Long, schema: StructType): DataFrame = prior(col("batch_id") < b, schema)

  /** Rows of the batches up to and including `b` (see [[before]]). */
  def upTo(b: Long, schema: StructType): DataFrame = prior(col("batch_id") <= b, schema)

  private def prior(keep: Column, schema: StructType): DataFrame =
    if (heal()) spark.read.parquet(path).filter(keep).drop("batch_id")
    else spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Batch `b`'s rows alone (no `batch_id` column). */
  def at(b: Long): DataFrame = { heal(): Unit; spark.read.parquet(dir(b)) }

  /** Rows of the batches from `from` on, without `batch_id`: a
    * partition-pruned window serve. */
  def window(from: Long): DataFrame =
    all.filter(col("batch_id") >= from).drop("batch_id")

  /** Every row, with its `batch_id`. */
  def all: DataFrame = { heal(): Unit; spark.read.parquet(path) }

  /** The batch ids held, ascending (-1 after a compaction). */
  def batches: Seq[Long] = {
    val p = new Path(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .collect { case Store.BatchDir(b) => b.toLong }.sorted
  }

  /** Replace every shipped partition with `fold` of their rows, written
    * as `batch_id=-1`, through the retire-and-promote swap. Records the
    * partition count before and after in [[facts]]. */
  def compact(fold: DataFrame => DataFrame): Unit = {
    require(heal(),
      s"compact: $path missing and no _retired copy to recover — " +
        "store was never written or was lost outside the swap protocol")
    val before = batches.size
    val (live, tmp, retired) =
      (new Path(path), new Path(path + "_compacting"), new Path(path + "_retired"))
    // a crashed attempt's tmp is dead: rebuild it from the healed store
    fs.delete(tmp, true)
    fold(spark.read.parquet(path).drop("batch_id")).write.parquet(s"$tmp/batch_id=-1")
    fs.delete(retired, true)
    require(fs.rename(live, retired), s"compact: cannot retire $path")
    require(fs.rename(tmp, live), s"compact: cannot promote $tmp")
    fs.delete(retired, true)
    compactions += ((before, batches.size))
  }

  /** Delete every batch below `k` (never the compacted -1), whole
    * directories only, so a window serve sees a batch complete or not at
    * all. Returns the retired ids. */
  def retireBelow(k: Long): Seq[Long] = {
    val old = batches.filter(b => b >= 0 && b < k)
    old.foreach(b => fs.delete(new Path(dir(b)), true))
    old
  }

  /** Restore the live store from `_retired` when a swap died between its
    * renames; true when the store exists afterwards. */
  private[graft] def heal(): Boolean = {
    val (live, retired) = (new Path(path), new Path(path + "_retired"))
    if (fs.exists(live)) true
    else if (fs.exists(retired)) {
      require(fs.rename(retired, live), s"recover: cannot restore $path from $retired")
      true
    } else false
  }

  /** What the store holds now (see [[Store.Facts]]). */
  def facts: Store.Facts = {
    val held = batches
    val rows =
      if (held.isEmpty) SortedMap.empty[Long, Long]
      else SortedMap(all.groupBy("batch_id").count().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toIndexedSeq: _*)
    Store.Facts(held, rows, compactions.toList)
  }
}

object Store {

  private val BatchDir = "batch_id=(-?\\d+)".r

  /** The store at `path`, registered in the caller's open
    * `Replay.recorded` scope. Call it on the caller's thread, once per
    * store: a store made inside a foreachBatch body is not recorded. */
  def apply(spark: SparkSession, path: String): Store = {
    val s = new Store(spark, path)
    graft.streaming.Replay.enlist(s)
    s
  }

  /** A store's contents: the batch ids held (ascending, -1 after a
    * compaction), the row count of each batch that holds rows, and each
    * compaction's partition count (before, after), in order. */
  final case class Facts(batches: Seq[Long], rows: SortedMap[Long, Long],
                         compactions: Seq[(Int, Int)])
}

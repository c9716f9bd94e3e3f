package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with graft's standard tuning.
  *
  * Design target is a multi-executor cluster at ~100 TB; local[N] is only
  * the test harness. All knobs below are cluster-safe: AQE re-plans
  * shuffles at runtime (partition coalescing + skew-join splitting),
  * broadcast threshold covers the dimension tables (`nation`, `region`,
  * `supplier`, `part` — all tiny relative to the fact tables at any SF).
  */
object Engine {

  /** Common tuning applied to every session graft creates.
    *
    * The `file:` scheme resolves to [[graft.io.NioLocalFileSystem]] and
    * [[graft.io.NioLocalFs]], which set permissions and read link status
    * through java.nio instead of forking `chmod`/`readlink`: every
    * checkpoint file (offsets, commits, source log, state changelogs)
    * goes through both. Other schemes keep Spark's defaults. Hadoop
    * caches `FileSystem` instances per scheme regardless of conf, so
    * nothing may call `FileSystem.get` on `file:` before this builds
    * the JVM's first session. */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", classOf[graft.io.NioLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.io.NioLocalFs].getName)
    .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // Dim tables are KBs..MBs even at sf100; let Catalyst broadcast them.
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // Accept co-partitioning on a SUBSET of join keys (e.g. a store
    // bucketed on `cell` feeding a join keyed on (cell, vec_id)):
    // HashPartitioning(cell) already places every (cell, vec_id) group
    // in one partition, so the default all-keys rule would re-shuffle
    // the corpus-sized side for nothing — at 100 TB this is the
    // difference between s12's delete-aware probe reading co-located
    // buckets and re-shuffling the whole index per query (LayoutSpec
    // proves the zero-exchange plan under this setting). Correctness-
    // neutral: the flag only widens what counts as co-partitioned.
    .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    // Streaming state lives in RocksDB, not on-heap HDFSBackedStateStore:
    // keyed state at 100 TB (windows, dedup, joins) exceeds executor heaps
    // long before it exceeds local disk, and RocksDB adds changelog-style
    // incremental snapshots instead of full-map uploads per batch.
    .config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Upload per-batch changelogs instead of full RocksDB snapshots:
    // commit cost scales with the batch's state delta, not total state
    // size — the difference between O(updates) and O(everything) per
    // trigger once keyed state reaches cluster scale.
    .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    // events.parquet stores ts as INT64 TIMESTAMP(NANOS) which Spark has no
    // native type for; read as LongType nanos, converted in Sources.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")

  /** Register every fixture table under its canonical name as a
    * (session-scoped) temp view, making the full surface reachable through
    * `spark.sql(...)` — the catalog face of the library: ad-hoc SQL,
    * JDBC/Thrift frontends, and notebook users all hit the same scans,
    * pushdowns, and normalizations the DataFrame entries use, because the
    * views wrap [[graft.io.Sources.table]] (ts normalization included). */
  def registerViews(spark: SparkSession, dir: String): Unit =
    graft.io.Sources.tableNames.foreach { n =>
      graft.io.Sources.table(spark, dir, n).createOrReplaceTempView(n)
    }

  /** Local session for the mains (Bench, Verify, Scratch,
    * ScaleCheck). One JVM with `SPARK_GRAFT_CPUS` executor threads —
    * the host's cores, capped at 32, when unset. */
  def local(appName: String = "graft"): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(Runtime.getRuntime.availableProcessors, 32))
    val s = tuned(
      SparkSession.builder().master(s"local[$cores]").appName(appName),
      shufflePartitions = math.max(cores, 4)
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

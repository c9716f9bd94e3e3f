package graft


/** Focused single-query dump: `runMain graft.RunOne <name> <sfDir> <outDir>`
  * writes one SparkEntry query's result to `outDir/<name>` parquet — the
  * fast inner loop for validating a new entry against the DuckDB oracle
  * without paying a full Verify pass. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val Array(name, sfDir, outDir) = args
    val spark = Engine.local()
    SparkEntry.queries(name)(spark, sfDir)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    // a one-entry oracle_sql.json makes check_oracle.py check just this
    // query against the same outDir; a rows-only entry has no SQL, and
    // silence there would read as "verified" — say so out loud
    val sql = SparkEntry.oracleSql.view.filterKeys(_ == name).toMap
    if (sql.isEmpty)
      System.err.println(s"[runone] $name has NO oracle SQL (rows-only entry): " +
        "check_oracle.py will verify nothing; its correctness gate is its golden spec")
    Verify.writeOracleJson(outDir, sql)
    spark.stop()
  }
}

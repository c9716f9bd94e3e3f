package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.streaming.Replay

/** Correctness dump: `runMain graft.Verify <sfDir> <outDir> [name,…]`
  * writes each SparkEntry.queries result (only the named ones, when
  * names are given) to `<outDir>/<name>` parquet, plus one
  * `oracle_sql.json` with their oracle SQL, for the DuckDB oracle
  * compare (`tools/check_oracle.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val spark = Engine.local()
    write(spark, sfDir, outDir,
      args.lift(2).map(_.split(",").toSeq).getOrElse(SparkEntry.queries.keys.toSeq))
    spark.stop()
  }

  /** Write each of `names`' results to `<outDir>/<name>` and their oracle
    * SQL to `<outDir>/oracle_sql.json`. A rows-only gate has no SQL, and
    * check_oracle.py's silence there would read as "verified": say so. */
  private[graft] def write(spark: SparkSession, sfDir: String, outDir: String,
                           names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    Scratch.each(names, n => s"[verify] $n failed") { n =>
      Replay.scoped(SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$n"))
    }: Unit
    names.filterNot(SparkEntry.oracleSql.contains).sorted.foreach(n =>
      System.err.println(s"[verify] $n has NO oracle SQL (rows-only entry): " +
        "check_oracle.py will verify nothing; its correctness gate is its golden spec"))
    writeOracleJson(outDir, SparkEntry.oracleSql.view.filterKeys(names.toSet).toMap)
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def writeOracleJson(outDir: String, entries: Map[String, String]): Unit = {
    val json = entries.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json): Unit
  }
}

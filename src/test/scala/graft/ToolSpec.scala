package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Replay

/** The gate runner the measurement mains share (Scratch, Bench, Verify,
  * ScaleCheck), checked through its functions: every main stops its
  * session. */
class ToolSpec extends AnyFunSuite {
  import TestSpark._

  test("the runner deletes a gate's workspaces once it has materialized the gate") {
    val x9 = "x9_stream_quantile"
    val (digest, _, stores) = Replay.recorded(Scratch.digest(spark, sf, x9))
    val works = stores.map(s => new java.io.File(s.path).getParentFile)
    assert(works.nonEmpty && works.forall(!_.exists),
      s"workspaces left on disk: ${works.filter(_.exists)}")
    // the digest of the same gate, run outside the runner
    val rows = SparkEntry.queries(x9)(spark, sf).collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    assert(digest == md.digest().map("%02x".format(_)).mkString + s" rows=${rows.length}")
    assert(rows.nonEmpty)
    // the timed run records the replay's micro-batches
    assert(Scratch.timed(SparkEntry.queries(x9)(spark, sf))._2.size == Replay.Waves)
  }

  test("Verify over named gates writes each and one oracle_sql.json of the oracle-backed ones") {
    val (withSql, rowsOnly) = ("q01_scan_filter", "x2_ml_score")
    assert(SparkEntry.oracleSql.contains(withSql) && !SparkEntry.oracleSql.contains(rowsOnly))
    val out = Replay.workspace("graft_verify_")
    Verify.write(spark, sf, out, Seq(withSql, rowsOnly))
    Seq(withSql, rowsOnly).foreach { n =>
      assert(new java.io.File(s"$out/$n/_SUCCESS").exists, s"$n was not written")
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$out/oracle_sql.json"))
    assert(json.fieldNames().asScala.toSeq == Seq(withSql))
    assert(json.get(withSql).asText == SparkEntry.oracleSql(withSql))
  }
}
